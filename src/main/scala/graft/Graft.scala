package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.SqlBind
import graft.plans.{PartitionConfig, PartitionPlan, Planner}
import graft.sources.{ParquetSource, Source}

/** Public facade — the Spark-native counterpart of the reference's three
  * entry points (conecta-python/conecta/__init__.py: read_sql,
  * create_partition_plan, sql_bind; SURVEY.md §7.1).
  *
  * A conecta result (Arrow table, one RecordBatch per partition —
  * conecta-core/src/lib.rs:30-52) maps to a Spark DataFrame whose partitions
  * are the plan's partitions. The "backend" concept (pyarrow/arro3/nanoarrow)
  * collapses into the DataFrame itself: `.toArrow`, `.write.parquet`,
  * `.collect` are the output adapters.
  */
object Graft {

  /** Load the result of `queries` from `conn` as a DataFrame.
    *
    * Mirrors read_sql (conecta-core/src/lib.rs:107-166): validate partition
    * options → plan (min/max fetch if needed) → one Spark partition per
    * bounded query. On JDBC sources the bounded queries become the
    * `predicates` array of a partitioned JDBC read (executor-side parallel
    * connections — the rayon pool of postgres.rs:346-349). On Parquet
    * sources the range predicates are Catalyst filters pushed to Parquet
    * row-group stats, and the N scans read disjoint ranges.
    *
    * `preallocation` defaults to false here AND in [[createPartitionPlan]].
    * The reference disagrees with itself: its `read_sql` defaults False but
    * its `create_partition_plan` defaults True
    * (conecta-python/conecta/__init__.py:188-190 vs 209-211). We pick the
    * read_sql default for both — per-partition COUNT preallocation buys
    * Spark nothing by default (executors size their own batches), so the
    * conservative default is uniform rather than path-dependent.
    */
  def readSql(spark: SparkSession, conn: String, queries: Seq[String],
      partitionOn: Option[String] = None,
      partitionNum: Option[Int] = None,
      partitionRange: Option[(Long, Long)] = None,
      preallocation: Boolean = false): DataFrame = {
    val source = Source.forConnection(spark, conn)
    val plan = planWith(source, PartitionConfig(
      queries, partitionOn, partitionNum, partitionRange, preallocation))
    executePlan(source, plan)
  }

  def readSql(spark: SparkSession, conn: String, query: String): DataFrame =
    readSql(spark, conn, Seq(query))

  /** Plan-only introspection (conecta-python/src/lib.rs:11-40): runs the
    * min/max metadata query if required but fetches no data. */
  def createPartitionPlan(spark: SparkSession, conn: String,
      queries: Seq[String],
      partitionOn: Option[String] = None,
      partitionNum: Option[Int] = None,
      partitionRange: Option[(Long, Long)] = None,
      preallocation: Boolean = false): PartitionPlan = {
    val source = Source.forConnection(spark, conn)
    planWith(source, PartitionConfig(
      queries, partitionOn, partitionNum, partitionRange, preallocation))
  }

  /** See [[graft.functions.SqlBind]]. */
  def sqlBind(sql: String, parameters: Map[String, Any],
      charDelimiter: String = ":", quoteIdentWith: String = "\""): String =
    SqlBind.sqlBind(sql, parameters, charDelimiter, quoteIdentWith)

  /** Debug-log mode helper — the counterpart of set_debug_log
    * (conecta-python/conecta/__init__.py:12-43), which maps
    * perf/lib/all → RUST_LOG scopes; here → Spark log levels. */
  def setDebugLog(spark: SparkSession, mode: String): Unit = mode match {
    case "perf" | "lib" => spark.sparkContext.setLogLevel("INFO")
    case "all" => spark.sparkContext.setLogLevel("DEBUG")
    case "off" => spark.sparkContext.setLogLevel("WARN")
    case other =>
      throw new IllegalArgumentException(
        s"unknown debug mode '$other' (expected perf|lib|all|off)")
  }

  private def planWith(source: Source, config: PartitionConfig): PartitionPlan =
    Planner.createPartitionPlan(
      config,
      fetchMinMax = q => source.fetchMinMax(q, config.partitionOn.get),
      fetchCounts = plan => source.fetchCounts(plan))

  /** Execute a plan against its source — see [[Source.readPlan]]. */
  def executePlan(source: Source, plan: PartitionPlan): DataFrame =
    source.readPlan(plan)

  /** Convenience: the Parquet source over a driver-testdata directory with
    * all tables registered as temp views. */
  def parquetSource(spark: SparkSession, dir: String): ParquetSource = {
    val s = ParquetSource(spark, dir)
    s.ensureRegistered()
    s
  }
}
