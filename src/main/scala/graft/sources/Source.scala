package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.plans.{PartitionPlan, Planner}

/** Source abstraction — the Scala counterpart of the reference's `Source`
  * trait (conecta-core/src/source/source.rs:6-51), which is also its test
  * seam (mocked as DummySource in conecta-core/src/metadata.rs:103-261).
  *
  * A Source knows how to: probe a schema without reading data, fetch
  * MIN/MAX of a partition column (pushed down), sum COUNT(*) over a set of
  * queries in one statement, and execute one SQL query into a DataFrame.
  * Partition planning itself is source-agnostic (graft.plans.Planner).
  *
  * The SQL sent for a query follows its [[QueryShape]]. A `Bare` query goes
  * as its table `T`; on JDBC a `Filtered` one goes as `T` with its condition
  * in the WHERE clause; an `Opaque` one goes as the derived table
  * `(<query>) as query_inner`. The gain is measured on Derby 10.16 only,
  * which does not flatten the derived table and plans MIN/MAX over a table
  * as index probes only in the per-aggregate form. PostgreSQL already does
  * both, so the shapes are expected to be neutral there; that is
  * unmeasured.
  */
trait Source {

  def spark: SparkSession

  /** The query's schema, read without fetching rows — the reference's
    * LIMIT-0 probe (conecta-core/src/source/postgres.rs:528-530). `execute`
    * only resolves the schema: Spark's JDBC relation sends one zero-row
    * `WHERE 1=0` query, and the Parquet path only analyses the query. All
    * fields are reported nullable, matching the reference's forced
    * nullability (conecta-core/src/schema.rs:154). */
  def schemaOf(query: String): StructType =
    StructType(execute(query).schema.fields.map(_.copy(nullable = true)))

  /** The reference's probe SQL itself (postgres.rs:528-530), kept for q07's
    * reference-shape check. Not every dialect accepts it: Derby has no
    * `LIMIT`. */
  def schemaQuery(query: String): String =
    s"select * from ($query) as query_inner limit 0"

  /** The [[QueryShape]] of `query`. */
  protected def shape(query: String): QueryShape = QueryShape(query)

  /** `query` as a FROM item: the table of a `Bare` query ([[QueryShape]]),
    * the derived table `(<query>) as query_inner` otherwise. */
  def relation(query: String): String = shape(query) match {
    case QueryShape.Bare(table) => table
    case _ => s"($query) as query_inner"
  }

  /** The first row of each query, in order, one value per column (`null`
    * for SQL NULL). The metadata fetches below all go through here. The
    * default runs each query as a Spark action; [[JdbcSource]] runs them
    * all as plain statements on one driver-side connection, with no Spark
    * job — the reference's one round-trip on a pooled connection. */
  protected def firstRows(queries: Seq[String]): Seq[Seq[Any]] =
    queries.map(q => execute(q).collect().head.toSeq)

  /** MIN/MAX of the partition column, pushed down as one statement —
    * conecta-core/src/source/postgres.rs:556-563,585-592. On JDBC it runs
    * on one driver-side connection, with no Spark job. */
  def fetchMinMax(query: String, col: String): (Long, Long) = {
    val row = firstRows(Seq(minMaxQuery(query, col))).head
    require(row(0) != null && row(1) != null,
      s"MIN/MAX of $col returned NULL — empty input or all-null column")
    (toLong(row(0)), toLong(row(1)))
  }

  /** Aliases matter where the query runs through `execute` (the parquet
    * path, and q05's reference-shape check): some dialects (Derby)
    * auto-name unaliased expression columns "1","2", which Spark's
    * generated outer SELECT then cannot reference. MIN and MAX stay in one
    * SELECT over the derived table: on Derby 10.16 a lone MAX of an indexed
    * column over a windowed derived table returns the whole table's MAX.
    * [[JdbcSource]] sends a shape-specific form instead. */
  def minMaxQuery(query: String, col: String): String =
    s"select cast(min($col) as bigint) as min_v, " +
      s"cast(max($col) as bigint) as max_v from ${relation(query)}"

  /** FROM-less scalar SELECTs (the reference's merged-COUNT shape) are
    * PostgreSQL-legal but some dialects (Derby) demand a FROM clause;
    * a source may supply its 1-row dual table here. Empty for PG and
    * parquet — the reference template is unchanged there. */
  protected def dualFrom: String = ""

  /** Sum of COUNT(*) over n queries in a single statement —
    * conecta-core/src/source/postgres.rs:512-526. */
  def mergedCountQuery(queries: Seq[String]): String =
    queries.zipWithIndex
      .map { case (q, i) => s"(select count(*) from ($q) as t$i)" }
      .mkString("select ", " + ", s" as total_count$dualFrom")

  /** Runs [[mergedCountQuery]]; on JDBC on one driver-side connection, with
    * no Spark job. */
  def fetchMergedCount(queries: Seq[String]): Long =
    toLong(firstRows(Seq(mergedCountQuery(queries))).head.head)

  /** Per-query COUNT(*) — the preallocation probe of postgres.rs:353-366,
    * kept as an optional stats feature. On JDBC all the COUNTs run on one
    * driver-side connection, with no Spark job. */
  def fetchCounts(queries: Seq[String]): Seq[Long] =
    counts(queries.map((_, None)))

  /** A plan's preallocation COUNTs, one per partition, built from its
    * (query, range predicate) pairs. */
  def fetchCounts(plan: PartitionPlan): Seq[Long] =
    if (plan.predicates.isEmpty) fetchCounts(plan.dataQueries)
    else counts(plan.predicates.map(r => (plan.config.queries.head, Some(r))))

  private def counts(ranged: Seq[(String, Option[String])]): Seq[Long] =
    firstRows(ranged.map { case (q, r) => countQuery(q, r) })
      .map(row => toLong(row.head))

  /** COUNT(*) of `query`'s rows within `range` (all of them for None). The
    * default counts the data query the plan runs for that range:
    * `select count(*) as cnt from (<data query>) as q_count`. */
  protected def countQuery(query: String, range: Option[String]): String =
    s"select count(*) as cnt from " +
      s"(${range.fold(query)(Planner.wrapWithPredicate(query, _))}) as q_count"

  /** First table referenced in the query's FROM clause — the reference's
    * `get_table_name` (conecta-core/src/source/postgres.rs:532-554, which
    * walks a sqlparser AST the same way). Spark-native: Catalyst's SQL
    * parser produces the logical plan, and the first UnresolvedRelation in
    * top-down/left-to-right order IS the first FROM-clause table — no
    * hand-rolled SQL string parsing, full dialect coverage (CTEs,
    * subqueries, joins) for free. */
  def tableName(query: String): String = {
    val plan = spark.sessionState.sqlParser.parsePlan(query)
    plan.collectFirst {
      case r: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
        r.multipartIdentifier.mkString(".")
    }.getOrElse(throw new IllegalArgumentException(
      s"could not extract a table name from: $query"))
  }

  /** Execute one SQL query against this source, returning a DataFrame. */
  def execute(query: String): DataFrame

  /** Execute a partition plan, one Spark partition per data query. Multiple
    * data queries concatenate as an implicit UNION ALL, the multi-query
    * property asserted by the reference
    * (conecta-python/conecta/tests/test_read_sql.py:69-84). */
  def readPlan(plan: PartitionPlan): DataFrame =
    plan.dataQueries.map(execute).reduce(_ unionAll _)

  private def toLong(v: Any): Long = v match {
    case l: java.lang.Long => l
    case i: java.lang.Integer => i.toLong
    case s: java.lang.Short => s.toLong
    case d: java.math.BigDecimal => d.longValueExact()
    case o => o.toString.toLong
  }
}

object Source {

  /** Scheme → source dispatch, mirroring parse_uri/get_source
    * (conecta-core/src/source/mod.rs:33-82). Recognized:
    *   - `postgres://`, `postgresql://`, `jdbc:...` → JDBC source
    *   - `parquet://<dir>` or a bare directory path → Parquet source over the
    *     driver-style table directory (one `<table>.parquet` per table).
    */
  def forConnection(spark: SparkSession, conn: String): Source = {
    val scheme = conn.takeWhile(_ != ':')
    scheme match {
      case "postgres" | "postgresql" =>
        new JdbcSource(spark, "jdbc:postgresql" + conn.dropWhile(_ != ':'))
      case "jdbc" => new JdbcSource(spark, conn)
      case "parquet" =>
        new ParquetSource(spark, conn.stripPrefix("parquet://"))
      case _ if conn.startsWith("/") || conn.startsWith("file:") =>
        new ParquetSource(spark, conn)
      case other =>
        throw new IllegalArgumentException(s"unsupported source scheme: $other")
    }
  }

  /** Credential-sanitizing error rewrite, kept from the reference's Polars
    * integration (conecta-python/conecta/ext/__init__.py:49-52): the
    * `user:pass@` section of a connection URI is masked with asterisks. */
  def sanitizeCredentials(s: String): String =
    s.replaceAll("://[^/@\\s:]+:[^/@\\s]+@", "://***:***@")
}
