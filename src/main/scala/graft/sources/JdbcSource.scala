package graft.sources

import java.util.Properties

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.jdbc.{JDBCOptions, JdbcUtils}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.jdbc.JdbcDialects
import org.apache.spark.sql.types._

import graft.plans.PartitionPlan

/** JDBC source — the Spark-native counterpart of the reference's Postgres
  * source (conecta-core/src/source/postgres.rs).
  *
  * The reference's architecture (pool → N rayon workers → one bounded query
  * each → cursor stream → columnar transpose, postgres.rs:340-485) IS
  * Spark's partitioned JDBC read: `spark.read.jdbc(url, table, predicates,
  * props)` runs one executor task per predicate, each over its own
  * connection. When such a read leaves through [[ArrowSink]], its tasks
  * write each `ResultSet` straight into Arrow vectors
  * ([[JdbcArrowReader]]), as the reference's transpose does; read as a
  * DataFrame, it goes through Spark's rows. The connection-pool sizing rule
  * (max_pool_size defaults to partition count, conecta-core/src/lib.rs:131-139)
  * maps to `numPartitions`.
  *
  * Type conventions ([[TypeMapping]]) execute on two layers:
  *   - [[GraftPgDialect]] (registered once, below) overrides the Catalyst
  *     type where the JDBC getter allows it (uuid/json → string,
  *     PostGIS geometry → EWKB bytes);
  *   - `applyTypeConventions` projects the rest after the load, driven by
  *     the database type name Spark's schema resolution already recorded
  *     in each field's `jdbcClientType` metadata: TIME → LongType µs since
  *     midnight, native geometric text forms → the documented
  *     ArrayType(Double) encodings via [[Geo.parseGeoText]].
  *
  * Spark resolves a read's schema with one zero-row `WHERE 1=0` query,
  * which also serves as [[Source.schemaOf]] — Derby rejects the
  * reference's `LIMIT 0` probe (postgres.rs:528-530).
  *
  * Plan metadata (MIN/MAX, COUNTs) runs like the reference's
  * (postgres.rs:556-563): plain statements on one driver-side connection
  * per call, opened the way Spark's own read opens one, with no Spark job.
  *
  * The SQL sent follows the query's [[QueryShape]]:
  *   - MIN/MAX: a `Bare` query sends `select (select cast(min(c) as bigint)
  *     from T) as min_v, (select cast(max(c) …) from T) as max_v`, one
  *     scalar subquery per aggregate, which Derby answers with index
  *     probes; a `Filtered` one sends `select cast(min(c) …), cast(max(c)
  *     …) from T where <cond>`;
  *   - reads: each partition task sends `SELECT cols FROM T WHERE
  *     [(<cond>) AND] <range>`;
  *   - preallocation COUNTs: `select count(*) as cnt from T where
  *     [(<cond>) and] <range>`;
  *   - an `Opaque` query keeps the derived table `(<query>) as
  *     query_inner` on all three paths.
  * MIN and MAX of a filtered query stay in one statement: on Derby 10.16 a
  * lone MAX of an indexed column over a windowed derived table returns the
  * whole table's MAX.
  *
  * Verified end-to-end against embedded Derby (JdbcSpec): partitioned
  * reads with one executor-side connection per predicate, min/max plan
  * metadata with no Spark job, multi-query union, and the TIME µs
  * convention — the Source trait is the test seam, exactly as in the
  * reference (conecta-core/src/metadata.rs:103-261).
  */
final class JdbcSource(val spark: SparkSession, url: String) extends Source {

  JdbcSource.ensureDialect()

  /** PG reads resolve plain TIMESTAMP as TimestampNTZType — the
    * reference's Timestamp(µs, no tz) convention (schema.rs:100) —
    * while TIMESTAMPTZ stays TimestampType (the dialect pins it).
    * Scoped to postgresql so the Derby/test paths keep Spark defaults.
    * Asserted per type-zoo column in DialectConformanceSpec. */
  private val preferNtz = url.startsWith("jdbc:postgresql")

  /** Each query's shape, classified once per source: a partitioned read
    * asks for it in its MIN/MAX, in its read and in each partition's COUNT.
    * Per instance, so it lives as long as one `readSql` call. */
  private val shapes = TrieMap.empty[String, QueryShape]

  override protected def shape(query: String): QueryShape =
    shapes.getOrElseUpdate(query, QueryShape(query))

  /** Derby (the live test dialect) rejects FROM-less scalar SELECTs;
    * PG keeps the reference's exact merged-COUNT template. */
  override protected def dualFrom: String =
    if (url.startsWith("jdbc:derby")) " from SYSIBM.SYSDUMMY1" else ""

  /** One connection from the URL's dialect and connection provider, with
    * Spark's query timeout, for all the queries of one metadata fetch. */
  override protected def firstRows(queries: Seq[String]): Seq[Seq[Any]] =
    if (queries.isEmpty) Nil
    else {
      val opts = new JDBCOptions(Map("url" -> url, "query" -> queries.head))
      JdbcUtils.withConnection(opts) { conn =>
        queries.map { q =>
          var row: Seq[Any] = null
          JdbcUtils.executeQuery(conn, opts, q) { rs =>
            require(rs.next(), s"no row returned by: $q")
            row = (1 to rs.getMetaData.getColumnCount).map(rs.getObject)
          }
          row
        }
      }
    }

  /** The MIN/MAX statement for the query's shape (class doc). */
  override def minMaxQuery(query: String, col: String): String = {
    def agg(f: String) = s"cast($f($col) as bigint)"
    shape(query) match {
      case QueryShape.Bare(t) => s"select (select ${agg("min")} from $t) " +
        s"as min_v, (select ${agg("max")} from $t) as max_v$dualFrom"
      case QueryShape.Filtered(t, cond) => s"select ${agg("min")} as min_v, " +
        s"${agg("max")} as max_v from $t where $cond"
      case QueryShape.Opaque => super.minMaxQuery(query, col)
    }
  }

  override protected def countQuery(query: String,
      range: Option[String]): String =
    onTable(query, range.toSeq).fold(super.countQuery(query, range)) {
      case (t, conds) =>
        s"select count(*) as cnt from $t" + conds.map(" where " + _).mkString
    }

  override def execute(query: String): DataFrame = read(query, Nil)

  /** A single partitioned query becomes the `predicates` array of one
    * partitioned JDBC read, one task per range; anything else takes the
    * trait's union of single-partition reads. */
  override def readPlan(plan: PartitionPlan): DataFrame =
    if (plan.predicates.isEmpty) super.readPlan(plan)
    else read(plan.config.queries.head, plan.predicates)

  /** `query`'s rows, one partition per range predicate (one partition for
    * none). */
  private def read(query: String, ranges: Seq[String]): DataFrame = {
    val (table, preds) =
      onTable(query, ranges).getOrElse((relation(query), ranges))
    val p = new Properties()
    p.setProperty("preferTimestampNTZ", String.valueOf(preferNtz))
    JdbcSource.applyTypeConventions(
      if (preds.isEmpty) spark.read.jdbc(url, table, p)
      else spark.read.jdbc(url, table, preds.toArray, p))
  }

  /** For a `Bare` or `Filtered` query, its table and the WHERE conditions
    * that select its rows within each range (all its rows for no range). */
  private def onTable(query: String,
      ranges: Seq[String]): Option[(String, Seq[String])] =
    shape(query) match {
      case QueryShape.Bare(t) => Some((t, ranges))
      case QueryShape.Filtered(t, cond) => Some((t,
        if (ranges.isEmpty) Seq(cond) else ranges.map(r => s"($cond) and $r")))
      case QueryShape.Opaque => None
    }
}

object JdbcSource {
  private val dialectRegistered = new java.util.concurrent.atomic.AtomicBoolean

  /** Register [[GraftPgDialect]] exactly once per JVM (registration
    * prepends — repeated calls would shadow with duplicates). */
  def ensureDialect(): Unit =
    if (dialectRegistered.compareAndSet(false, true))
      JdbcDialects.registerDialect(GraftPgDialect)

  private val geoTextTypes =
    Set("point", "line", "circle", "box", "lseg", "path", "polygon")

  /** Spark's JDBC schema resolution (`JdbcUtils.getSchema`) records each
    * column's `ResultSetMetaData.getColumnTypeName` under this metadata key. */
  private val clientTypeKey = "jdbcClientType"

  /** The post-read type-conventions projection: TIME → LongType µs since
    * midnight, native geometric text forms → the documented
    * ArrayType(Double) encodings via [[Geo.parseGeoText]]. Each field's
    * database type name comes from its own `jdbcClientType` metadata, so
    * the conventions always agree with the schema they rewrite; fields
    * without it pass through. The static PG replay (PgRowConformanceSpec)
    * drives this same projection over replayed rows. */
  private[graft] def applyTypeConventions(df: DataFrame): DataFrame = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      Option.when(f.metadata.contains(clientTypeKey))(
          f.metadata.getString(clientTypeKey).toLowerCase) match {
        case Some("time") => timeToMicros(f).as(f.name)
        case Some(t) if geoTextTypes(t) && f.dataType == StringType =>
          geoParse(t)(col(f.name)).as(f.name)
        case _ => col(f.name)
      }
    }
    if (cols.zip(df.schema.fieldNames).forall {
      case (c, n) => c == col(n) }) df
    else df.select(cols: _*)
  }

  /** TIME → µs since midnight (TypeMapping's documented convention;
    * reference: Time64(µs), postgres.rs:607). JDBC getters surface TIME as
    * a timestamp on 1970-01-01 (per the JDBC spec), so µs-since-epoch IS
    * µs-since-midnight; the extract fallback covers drivers/dialects that
    * surface a native time type instead. */
  private def timeToMicros(f: StructField): Column = f.dataType match {
    case TimestampType => unix_micros(col(f.name))
    case LongType | IntegerType => col(f.name).cast(LongType)
    // TimestampNTZType deliberately takes the extract path below: casting
    // NTZ→Timestamp reinterprets the 1970-01-01 wall clock in the session
    // timezone, which offsets the µs-since-midnight convention under any
    // non-UTC spark.sql.session.timeZone. The wall-clock fields are
    // timezone-independent.
    case _ =>
      ((hour(col(f.name)).cast(LongType) * 3600L +
        minute(col(f.name)).cast(LongType) * 60L) * 1000000L +
        (expr(s"extract(SECOND FROM ${f.name})") * 1000000L).cast(LongType))
  }

  /** Null-safe UDF wrapper for the geometric text decoder. UDF is fine
    * here: geo columns are metadata-scale, never the 100 TB hot path. */
  private def geoParse(pgType: String) =
    udf((s: String) => Option(s).map(Geo.parseGeoText(pgType, _)))
}
