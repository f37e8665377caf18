package layerbench

import scala.jdk.CollectionConverters._

/** End-to-end metrics (untraced runs) and per-layer metrics (traced runs)
  * as (name, value, unit). */
object Metrics {
  private val MB = 1024.0 * 1024.0

  /** Median, or 0 when the layer left no samples. */
  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  def endToEnd(setupS: Seq[Double], timed: Seq[OpRecord]): Seq[(String, Double, String)] = {
    require(timed.nonEmpty, "no successful timed op")
    val walls = timed.map(_.wallS)
    Seq(
      ("setup_s", Stats.median(setupS), "s"),
      ("op_p50_s", Stats.median(walls), "s"),
      ("rows_per_s", timed.map(_.out.rows).sum / walls.sum, "1/s"),
      ("cpu_s_per_op", timed.map(_.cpuS).sum / timed.length, "s"))
  }

  /** The heap an op itself holds at its peak: the highest heap occupancy
    * right after a GC that ended inside the op, or after the forced GC at
    * its end while its output is still held, minus the heap after the
    * forced GC before it. The JVM's own live set (Spark, the database,
    * the generator's inputs) is in both terms and cancels. 0 when no GC
    * was seen. */
  def opPeakHeapBytes(o: OpRecord, gcs: Seq[(Long, Long)]): Double = {
    val seen = gcs.collect { case (t, used) if o.startMs <= t && t <= o.endMs => used } ++
      o.heapAfter
    if (seen.isEmpty) 0.0 else (seen.max - o.heapBefore).toDouble
  }

  def perLayer(ops: Seq[OpRecord], spans: Seq[Span],
      c: SparkCounters): Seq[(String, Double, String)] = {
    val byId = spans.map(s => s.id -> s).toMap
    def root(s: Span): Span = if (s.parent < 0) s else root(byId(s.parent))
    val inOp: Set[Int] = spans.filter(s => root(s).name == "op").map(_.id).toSet

    // jobs and their stages, attributed to spans
    val jobs = c.jobs.asScala.toSeq.sortBy(_._1)
      .map { case (id, g, t, stages) => (id, Tracer.resolve(spans, g, t), stages) }
    val stageSpan = scala.collection.mutable.LinkedHashMap.empty[Int, Int]
    for ((_, sp, stages) <- jobs; s <- sp; st <- stages if !stageSpan.contains(st))
      stageSpan(st) = s
    val run = c.stagesRun.asScala.toSet
    def jobsOf(ids: Set[Int]) = jobs.count(_._2.exists(ids))
    def stagesOf(ids: Set[Int]) =
      stageSpan.collect { case (st, s) if ids(s) && run(st) => st }.toSeq
    def totals(ids: Set[Int]) = stagesOf(ids).flatMap(c.stage)
    def db(m: Map[String, Long], ids: Set[Int]): Double = m.collect {
      case (g, n) if Tracer.resolve(spans, g, Long.MinValue).exists(ids) => n
    }.sum.toDouble
    val conns = CountingDriver.snapshot(CountingDriver.connections)
    val stmts = CountingDriver.snapshot(CountingDriver.statements)

    val traced = ops.filter(o => o.traced && o.out.error.isEmpty)
    val untraced = ops.filter(o => !o.traced && !o.warmup && o.out.error.isEmpty)
    def span(o: OpRecord, name: String): Option[Span] =
      spans.find(s => s.op == o.i && s.name == name)
    def secs(name: String): Seq[Double] = traced.flatMap(span(_, name)).map(_.seconds)
    def perOp(f: OpRecord => Option[Double]): Double = med(traced.flatMap(f(_)))
    def ids(o: OpRecord, name: String): Set[Int] = span(o, name).map(_.id).toSet
    def tree(o: OpRecord): Set[Int] =
      spans.filter(s => s.op == o.i && inOp(s.id)).map(_.id).toSet
    def ratio(a: Option[Double], b: Option[Double]) =
      for (x <- a; y <- b if y > 0) yield x / y
    def sec(o: OpRecord, name: String) = span(o, name).map(_.seconds)

    val fetchTasks = (o: OpRecord) => totals(ids(o, "probe.fetch"))
    val taskMs = (o: OpRecord) => fetchTasks(o).flatMap(_.taskMs).map(_.toDouble)

    Seq(
      ("source.s", med(secs("source")), "s"),
      ("meta.s", med(secs("meta")), "s"),
      ("meta.share", perOp(o => ratio(sec(o, "meta"), sec(o, "op"))), "1"),
      ("meta.spark_jobs", perOp(o => span(o, "meta").map(_ => jobsOf(ids(o, "meta")).toDouble)), "count"),
      ("meta.db_connections", perOp(o => span(o, "meta").map(_ => db(conns, ids(o, "meta")))), "count"),
      ("meta.db_statements", perOp(o => span(o, "meta").map(_ => db(stmts, ids(o, "meta")))), "count"),
      ("plan.s", med(secs("plan")), "s"),
      ("plan.partitions", perOp(o => span(o, "plan").map(_ => o.out.partitions.toDouble)), "count"),
      ("build.s", med(secs("build")), "s"),
      ("build.db_connections", perOp(o => span(o, "build").map(_ => db(conns, ids(o, "build")))), "count"),
      ("collect.s", med(secs("collect")), "s"),
      ("fetch.s", med(secs("probe.fetch")), "s"),
      ("fetch.task_cpu_s", perOp(o => span(o, "probe.fetch").map(_ =>
        fetchTasks(o).map(_.cpuNs).sum / 1e9)), "s"),
      ("fetch.task_skew", perOp(o => {
        val ms = taskMs(o)
        if (ms.isEmpty || Stats.median(ms) <= 0) None else Some(ms.max / Stats.median(ms))
      }), "1"),
      ("fetch.speedup_1_to_n", perOp(o => ratio(sec(o, "probe.fetch1"), sec(o, "probe.fetch"))), "1"),
      ("arrow.encode_s", perOp(o => for (e <- sec(o, "probe.encode");
        f <- sec(o, "probe.fetch")) yield e - f), "s"),
      ("arrow.collect_s", perOp(o => for (c <- sec(o, "collect");
        e <- sec(o, "probe.encode")) yield c - e), "s"),
      ("arrow.bytes_per_row", perOp(o => if (o.out.batches == 0 || o.out.rows == 0) None
        else Some(o.out.ipcBytes.toDouble / o.out.rows)), "B"),
      ("arrow.batches_per_op", perOp(o => if (o.out.batches == 0) None
        else Some(o.out.batches.toDouble)), "count"),
      ("spark.jobs_per_op", perOp(o => Some(jobsOf(tree(o)).toDouble)), "count"),
      ("spark.stages_per_op", perOp(o => Some(stagesOf(tree(o)).length.toDouble)), "count"),
      ("spark.tasks_per_op", perOp(o => Some(totals(tree(o)).map(_.tasks).sum.toDouble)), "count"),
      ("spark.failed_tasks_per_op", perOp(o => Some(totals(tree(o)).map(_.failedTasks).sum.toDouble)), "count"),
      ("spark.scheduler_delay_s", perOp(o => Some(totals(tree(o)).map(_.schedulerDelayMs).sum / 1e3)), "s"),
      ("spark.gc_s_per_op", perOp(o => Some(o.gcS)), "s"),
      ("heap.op_peak_mb", med(untraced.map(opPeakHeapBytes(_, HeapWatch.samples) / MB)), "MB"),
      ("heap.held_mb", med(untraced.flatMap(o => o.heapAfter.map(h => (h - o.heapBefore) / MB))), "MB"),
      ("trace.overhead_frac",
        if (traced.isEmpty || untraced.isEmpty) 0.0
        else Stats.median(traced.map(_.wallS)) / Stats.median(untraced.map(_.wallS)) - 1, "1"),
      ("trace.unattributed_frac", perOp(o => span(o, "op").map(s =>
        Span.selfSeconds(s, spans) / s.seconds)), "1"))
  }
}
