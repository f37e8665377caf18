package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.plans.PartitionPlan

/** Source abstraction — the Scala counterpart of the reference's `Source`
  * trait (conecta-core/src/source/source.rs:6-51), which is also its test
  * seam (mocked as DummySource in conecta-core/src/metadata.rs:103-261).
  *
  * A Source knows how to: probe a schema without reading data, fetch
  * MIN/MAX of a partition column (pushed down), sum COUNT(*) over a set of
  * queries in one statement, and execute one SQL query into a DataFrame.
  * Partition planning itself is source-agnostic (graft.plans.Planner).
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

  /** The FROM item that stands for `query` in SQL sent to the database.
    * A query that is exactly `select * from <table>` — `<table>` one or
    * more dot-separated unquoted identifiers, keywords in any case, free
    * whitespace between tokens — becomes `<table>` itself; anything more
    * (quoted names, an alias, a clause, a comment, a trailing `;`) becomes
    * the derived table `(<query>) as query_inner`. Both give the same rows
    * under the table's own column names. Quoted names stay wrapped because
    * rendering them again could change how the database folds their case.
    * The gain was measured on Derby 10.16 only, whose scans through the
    * derived table ran 2 to 2.5 times slower on a 600k-row table; it is
    * unverified on other engines. */
  def relation(query: String): String = query match {
    case Source.BareTable(table) => table
    case _ => s"($query) as query_inner"
  }

  /** The first row of each query, in order, one value per column (`null`
    * for SQL NULL). The metadata fetches below all go through here. The
    * default runs each query as a Spark action; [[JdbcSource]] runs them
    * all as plain statements on one driver-side connection, with no Spark
    * job — the reference's one round-trip on a pooled connection. */
  protected def firstRows(queries: Seq[String]): Seq[Seq[Any]] =
    queries.map(q => execute(q).collect().head.toSeq)

  /** MIN/MAX of the partition column, pushed down as one aggregate query —
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
    * statement: on Derby 10.16 a lone MAX of an indexed column over a
    * windowed derived table returns the whole table's MAX. */
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
    firstRows(queries.map(q =>
      s"select count(*) as cnt from ($q) as q_count")).map(r => toLong(r.head))

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

  private val BareTable =
    """(?i)\s*select\s*\*\s*from\s+([a-z_][a-z0-9_]*(?:\.[a-z_][a-z0-9_]*)*)\s*""".r

  /** Credential-sanitizing error rewrite, kept from the reference's Polars
    * integration (conecta-python/conecta/ext/__init__.py:49-52): the
    * `user:pass@` section of a connection URI is masked with asterisks. */
  def sanitizeCredentials(s: String): String =
    s.replaceAll("://[^/@\\s:]+:[^/@\\s]+@", "://***:***@")
}
