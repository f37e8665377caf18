package graft.sources

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet-backed source over a table directory (one `<name>.parquet` per
  * table, as in the driver testdata — see TESTDATA.md).
  *
  * Everything the reference pushes to Postgres (conecta executes NO SQL of
  * its own — SURVEY.md §0), this source executes with Spark: queries run
  * through Catalyst over temp views registered per table, so predicate
  * pushdown / column pruning reach the Parquet scan natively.
  *
  * Scale note: `registerAll` only registers views (no data read besides the
  * footer); partition-range filters applied on top of these views prune
  * Parquet row groups via min/max statistics — the moral equivalent of the
  * reference injecting range predicates into source SQL
  * (conecta-core/src/source/postgres.rs:488-510).
  */
final class ParquetSource(val spark: SparkSession, dir: String) extends Source {

  /** Table name → parquet path for every `*.parquet` in the directory. */
  lazy val tables: Map[String, String] = {
    val d = new File(dir)
    require(d.isDirectory, s"not a directory: $dir")
    d.listFiles((_, n) => n.endsWith(".parquet"))
      .map(f => f.getName.stripSuffix(".parquet") -> f.getAbsolutePath)
      .toMap
  }

  /** Register each table as a temp view. View names are the bare file
    * names, matching the driver's DuckDB oracle table names. Always
    * replaces, so switching scale-factor directories in one session works.
    *
    * TIMESTAMP(NANOS) parquet columns (the pre-round-9 testdata
    * `events.ts`) are not representable in Spark's TimestampType (µs);
    * `nanosAsLong` reads them as LongType nanoseconds-since-epoch. The
    * conf is a no-op on µs-typed files (the current testdata), and query
    * code adapts to whichever type the footer declares
    * (EventStreams.eventTime). */
  def registerAll(): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    tables.foreach { case (name, path) =>
      try spark.read.parquet(path).createOrReplaceTempView(name)
      catch {
        case e: Exception =>
          System.err.println(s"[graft] skipping unreadable table $name: " +
            Source.sanitizeCredentials(String.valueOf(e.getMessage)))
      }
    }
  }

  /** Register views once per (session, dir) and data fingerprint —
    * re-running registerAll on every query re-reads each table's parquet
    * footer, pure overhead in a hot loop; a rewritten file under `dir`
    * changes the fingerprint and re-registers, so views never read a
    * stale file listing. */
  def ensureRegistered(): Unit =
    ParquetSource.views(spark, Some(dir))(registerAll())

  def table(name: String): DataFrame = {
    require(tables.contains(name), s"unknown table $name in $dir " +
      s"(have: ${tables.keys.toSeq.sorted.mkString(", ")})")
    ensureRegistered() // sets nanosAsLong before the footer is interpreted
    ParquetSource.frames(spark, Some(tables(name)))(
      spark.read.parquet(tables(name)))
  }

  override def execute(query: String): DataFrame = {
    ensureRegistered()
    spark.sql(query)
  }
}

object ParquetSource {
  /** (session, dir) whose views are registered against the dir's
    * current files. */
  private val views = Memo[Unit]("views")

  /** (session, path) → DataFrame — parquet footer/schema reads happen
    * once per table per session and file version, not once per query.
    * DataFrames are immutable plan descriptions, so sharing one across
    * queries is safe. */
  private val frames = Memo[DataFrame]("frames")

  def apply(spark: SparkSession, dir: String): ParquetSource =
    new ParquetSource(spark, dir)
}
