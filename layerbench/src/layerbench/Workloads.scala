package layerbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Graft
import graft.plans.{PartitionConfig, Planner}
import graft.sources.{ArrowSink, Source}

/** What one op produced: Arrow rows delivered, the output check's
  * verdict, and the IPC bytes, batch count and partition count the
  * per-layer metrics read. */
final case class OpOutput(rows: Long, error: Option[String],
    ipcBytes: Long = 0L, batches: Int = 0, partitions: Int = 0)

/** A workload: `load` makes the seeded inputs and loads them where the
  * program reads them (once per run), `attach` points the workload at a
  * new SparkSession (once per set-up round), `op` runs one op, timed by
  * the caller, and returns a thunk that checks its output outside the
  * timed window. A traced op wraps each public call in a span; `probe`
  * then forces the same result again in the ways the per-layer split
  * needs. */
trait Workload {
  protected var spark: SparkSession = _
  def warmups: Int
  def load(s: SparkSession): Unit
  def attach(s: SparkSession): Unit = spark = s
  def op(i: Int, tr: Tracer): () => OpOutput
  def probe(i: Int, tr: Tracer): Unit = ()
}

/** `Graft.readSql` over JDBC into Arrow IPC batches, against a seeded
  * `lineitem` in in-memory Derby. `window` = None reads the whole table;
  * Some(w) reads a seeded window of w order keys per op. */
final class JdbcWorkload(seed: Long, partitions: Int, window: Option[Long],
    val warmups: Int) extends Workload {
  val Rows = 600000
  private val db = "memory:lineitem"
  private var table: Lineitem = _
  private var last: Option[(Source, Long, Long, PartitionConfig, DataFrame)] = None

  def load(s: SparkSession): Unit = {
    table = new Lineitem(Rows, seed)
    table.load(CountingDriver.url(db + ";create=true"))
  }

  /** Op i reads window i mod `Windows` of a seeded pool, so a run
    * revisits each window and the database can reuse its compiled
    * statements, as a server reuses plans for repeated queries. */
  private def bounds(i: Int): Option[(Long, Long)] = window.map { w =>
    val lo = 1 + new SplittableRandom(seed * 1000003L + i % JdbcWorkload.Windows)
      .nextLong(table.maxKey - w)
    (lo, lo + w)
  }

  private def query(i: Int): String = bounds(i) match {
    case None => "select * from lineitem"
    case Some((lo, hi)) =>
      s"select * from lineitem where l_orderkey >= $lo and l_orderkey < $hi"
  }

  private def config(q: String, n: Int) =
    PartitionConfig(Seq(q), Some("l_orderkey"), Some(n))

  def op(i: Int, tr: Tracer): () => OpOutput = {
    val q = query(i)
    val url = CountingDriver.url(db)
    val (df, batches, nParts) =
      if (!tr.enabled) {
        val df = Graft.readSql(spark, url, Seq(q), partitionOn = Some("l_orderkey"),
          partitionNum = Some(partitions))
        (df, ArrowSink.collectIpcBatches(df), partitions)
      } else tr.span("op", i) {
        // the calls readSql makes, one span each
        val source = tr.span("source", i)(Source.forConnection(spark, url))
        val mm = tr.span("meta", i)(source.fetchMinMax(q, "l_orderkey"))
        val plan = tr.span("plan", i)(Planner.createPartitionPlan(
          config(q, partitions), _ => mm, qs => source.fetchCounts(qs)))
        val df = tr.span("build", i)(Graft.executePlan(source, plan))
        last = Some((source, mm._1, mm._2, config(q, 1), df))
        (df, tr.span("collect", i)(ArrowSink.collectIpcBatches(df)),
          plan.numPartitions)
      }
    () => {
      val expected = bounds(i).fold(table.expectedAll) { case (lo, hi) =>
        table.expected(lo, hi) }
      val got = Lineitem.digestIpc(
        org.apache.spark.sql.LayerbenchBridge.arrowSchema(spark, df.schema),
        batches.toSeq)
      OpOutput(got.rows,
        if (got == expected) None
        else Some(s"op $i digest $got, expected $expected"),
        batches.map(_.length.toLong).sum, batches.length, nParts)
    }
  }

  /** Force the op's DataFrame again: through the noop sink (fetch), through
    * Arrow encoding without collect, and through the noop sink from a
    * one-partition plan (the partition sweep). */
  override def probe(i: Int, tr: Tracer): Unit = last.foreach {
    case (source, lo, hi, config1, df) =>
      tr.span("probe.fetch", i)(df.write.format("noop").mode("overwrite").save())
      tr.span("probe.encode", i)(ArrowSink.arrowBatchRdd(df).count())
      val df1 = tr.span("probe.build1", i)(Graft.executePlan(source,
        Planner.createPartitionPlan(config1, _ => (lo, hi))))
      tr.span("probe.fetch1", i)(df1.write.format("noop").mode("overwrite").save())
      last = None
  }
}

object JdbcWorkload {
  val Windows = 16
}
