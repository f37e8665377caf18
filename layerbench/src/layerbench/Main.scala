package layerbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One op as the loop saw it. `heapBefore` is the heap used after the
  * forced GC before the op. In a traced run, `heapAfter` is the heap used
  * after a forced GC at the op's end, while its output is still held. */
final case class OpRecord(i: Int, traced: Boolean, warmup: Boolean,
    wallS: Double, cpuS: Double, processCpuS: Double, gcS: Double,
    startMs: Long, endMs: Long, heapBefore: Long, heapAfter: Option[Long], out: OpOutput)

/** The benchmark's JVM side. Makes and loads the seeded inputs, sets up
  * `SetupRounds` times (each round: a new SparkSession and its first
  * op), runs the remaining warm-up ops, then runs ops in a closed loop, one
  * at a time, for `--seconds`. With `--trace 1` each loop turn runs an untraced op, then
  * a traced op and its probes, and the per-layer metrics come from the
  * traced ops. Writes the result object and a run artifact as JSON. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, partitions: Int, workdir: String, out: String,
      artifact: String)

  /** Set-up rounds per run; setup_s is their median. */
  val SetupRounds = 5

  def parse(a: Seq[String]): Args = {
    val m = a.grouped(2).collect { case Seq(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def get(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", get("partitions").toInt, get("workdir"), get("out"),
      get("artifact"))
  }

  def workload(a: Args): Workload = a.workload match {
    case "jdbc_bulk" => new JdbcWorkload(a.seed, a.partitions, None, warmups = 3)
    case "jdbc_small" =>
      new JdbcWorkload(a.seed, a.partitions, Some(2000L), warmups = 40)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.partitions}]")
      .appName("layerbench")
      .config("spark.sql.shuffle.partitions", a.partitions.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${a.workdir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.workdir}/warehouse")
      .config("graft.artifacts.dir", s"${a.workdir}/artifacts")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private val rt = ManagementFactory.getRuntimeMXBean
  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(g => math.max(0L, g.getCollectionTime)).sum

  def main(argv: Array[String]): Unit = {
    java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("UTC"))
    val a = parse(argv.toSeq)
    HeapWatch.install()
    CountingDriver.register()
    val hostStart = Host.sample()
    val jvmStartS = rt.getUptime / 1e3
    val w = workload(a)
    val ops = mutable.ArrayBuffer.empty[OpRecord]
    val errors = mutable.ArrayBuffer.empty[String]

    def runOp(spark: SparkSession, tr: Tracer, i: Int, warmup: Boolean): Unit = {
      // cleanup of the previous op's state stays outside the timed window,
      // as in graft.Bench
      spark.catalog.clearCache()
      System.gc()
      val heap0 = Host.heapUsed()
      val gc0 = gcMs(); val pcpu0 = Host.processCpuNs()
      val cpu0 = Host.threadCpuNs(); val gcCpu0 = Host.gcThreadCpuNs()
      val ms0 = rt.getUptime; val ns0 = System.nanoTime()
      val result =
        try Right(w.op(i, tr))
        catch { case e: Throwable => Left(e) }
      val ns1 = System.nanoTime(); val ms1 = rt.getUptime
      val gcCpu1 = Host.gcThreadCpuNs(); val cpu1 = Host.threadCpuNs()
      val pcpu1 = Host.processCpuNs(); val gc1 = gcMs()
      // `result` holds the op's output until its check below
      val heap1 = if (!a.trace) None else { System.gc(); Some(Host.heapUsed()) }
      val out = result match {
        case Right(check) =>
          try check() catch { case e: Throwable =>
            OpOutput(0L, Some(s"op $i check threw $e")) }
        case Left(e) => OpOutput(0L, Some(s"op $i threw $e"))
      }
      out.error.foreach { e => errors += e; System.err.println(s"[layerbench] FAIL $e") }
      ops += OpRecord(i, tr.enabled, warmup, (ns1 - ns0) / 1e9,
        (Host.threadCpuDelta(cpu0, cpu1) + gcCpu1 - gcCpu0) / 1e9,
        (pcpu1 - pcpu0) / 1e9, (gc1 - gc0) / 1e3, ms0, ms1, heap0, heap1, out)
    }

    // The seeded inputs are made and loaded once. Each set-up round then
    // starts a new SparkSession and runs the first op on it; setup_s is
    // the median round. The remaining warm-up ops follow the last round.
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var nextOp = 0
    var loadS = 0.0
    def warmup(): Unit = {
      runOp(spark, new Tracer(spark.sparkContext, enabled = false), nextOp, warmup = true)
      nextOp += 1
    }
    for (round <- 0 until SetupRounds) {
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(a)
      CountingDriver.sc = spark.sparkContext
      w.attach(spark)
      val t1 = System.nanoTime()
      if (round == 0) {
        w.load(spark)
        loadS = (System.nanoTime() - t1) / 1e9
      }
      val t2 = System.nanoTime()
      warmup()
      setupS += (t1 - t0 + System.nanoTime() - t2) / 1e9
    }
    for (_ <- 1 until w.warmups) warmup()
    val sc = spark.sparkContext
    val hostSetup = Host.sample()

    val counters = new SparkCounters
    val perf = if (a.trace) {
      sc.addSparkListener(counters)
      Some(graft.tools.PerfLogger.install(spark))
    } else None
    val tracer = new Tracer(sc, enabled = a.trace)
    val untraced = new Tracer(sc, enabled = false)
    val loopStart = System.nanoTime()
    val minTurns = if (a.trace) 3 else 1
    var turns = 0
    while (turns < minTurns || (System.nanoTime() - loopStart) / 1e9 < a.seconds) {
      runOp(spark, untraced, nextOp, warmup = false); nextOp += 1
      if (a.trace) {
        runOp(spark, tracer, nextOp, warmup = false)
        spark.catalog.clearCache()
        w.probe(nextOp, tracer)
        perf.foreach(_.checkpoint(s"op $nextOp"))
        nextOp += 1
      }
      turns += 1
    }
    val loopS = (System.nanoTime() - loopStart) / 1e9
    perf.foreach(_.finish())
    Thread.sleep(200) // let the last GC notifications arrive
    org.apache.spark.sql.LayerbenchBridge.drainListeners(sc)
    val hostEnd = Host.sample()

    val timed = ops.filter(o => !o.warmup && !o.traced && o.out.error.isEmpty)
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Metrics.endToEnd(setupS.toSeq, timed.toSeq)
      else Metrics.perLayer(ops.toSeq, tracer.all, counters)
    val attempted = ops.length
    val failed = ops.count(_.out.error.nonEmpty)
    val correct = failed == 0 && timed.nonEmpty

    val result = Map(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, v, u) =>
        k -> Map("value" -> v, "unit" -> u) }.to(mutable.LinkedHashMap))
    val host = Map("setup" -> Host.window(hostStart, hostSetup),
      "timed" -> Host.window(hostSetup, hostEnd))
    val gcs = HeapWatch.samples
    val artifact = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "partitions" -> a.partitions,
      "jvm_start_s" -> jvmStartS, "load_s" -> loadS,
      "setup_rounds_s" -> setupS.toSeq, "loop_s" -> loopS, "host" -> host,
      "errors" -> errors.take(20).toSeq,
      "ops" -> ops.map(o => Map("i" -> o.i, "traced" -> o.traced,
        "warmup" -> o.warmup, "wall_s" -> o.wallS, "cpu_s" -> o.cpuS,
        "process_cpu_s" -> o.processCpuS, "gc_s" -> o.gcS,
        "heap_before_mb" -> o.heapBefore / 1048576.0,
        "heap_after_mb" -> o.heapAfter.map(_ / 1048576.0),
        "peak_heap_mb" -> Metrics.opPeakHeapBytes(o, gcs) / 1048576.0,
        "gcs" -> gcs.count { case (t, _) => o.startMs <= t && t <= o.endMs },
        "rows" -> o.out.rows, "ok" -> o.out.error.isEmpty)),
      "result" -> result)
    if (a.trace) {
      artifact("spans") = tracer.all.map(s => Map("id" -> s.id, "name" -> s.name,
        "op" -> s.op, "parent" -> s.parent, "start_s" -> s.startNs / 1e9,
        "end_s" -> s.endNs / 1e9, "self_s" -> Span.selfSeconds(s, tracer.all)))
      artifact("perf_logger") = perf.map(_.lines).getOrElse(Nil)
    }
    write(a.artifact, Json(artifact))
    spark.stop()
    write(a.out, Json(result) + "\n" + Json(Map("host" -> host)))
  }

  private def write(path: String, s: String): Unit = {
    val f = new File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    val w = new PrintWriter(f, "UTF-8")
    try w.println(s) finally w.close()
  }
}
