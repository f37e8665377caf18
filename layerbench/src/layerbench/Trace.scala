package layerbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call. `parent` is -1 for a root span; spans of one op share
  * `op`. Times are JVM uptime in ns (`System.nanoTime` offset) and ms. */
final case class Span(id: Int, name: String, op: Int, parent: Int,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

object Span {
  /** A span's duration minus the part of its interval that its direct
    * children cover (overlapping children are merged first). */
  def selfSeconds(span: Span, all: Seq[Span]): Double = {
    val kids = all.filter(_.parent == span.id)
      .map(k => (math.max(k.startNs, span.startNs), math.min(k.endNs, span.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue; var curB = Long.MinValue
    for ((a, b) <- kids) {
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    (span.endNs - span.startNs - covered) / 1e9
  }
}

/** Records spans around the benchmark's calls into the program. Each span
  * runs under its own Spark job group (`lb-<id>-<name>`), so jobs, tasks
  * and database statements it launches can be attributed to it. Spans are
  * kept in memory and written out when the run ends. When disabled,
  * `span` only runs its body. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private val t0Ns = System.nanoTime()
  private val rt = ManagementFactory.getRuntimeMXBean

  def span[T](name: String, op: Int)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val prevGroup = sc.getLocalProperty(CountingDriver.JobGroup)
      val prevDesc = sc.getLocalProperty("spark.job.description")
      val prevInterrupt = sc.getLocalProperty("spark.job.interruptOnCancel")
      sc.setJobGroup(Tracer.group(id, name), name, interruptOnCancel = false)
      stack = id :: stack
      val ms0 = rt.getUptime
      val ns0 = System.nanoTime()
      try body
      finally {
        val ns1 = System.nanoTime()
        val ms1 = rt.getUptime
        stack = stack.tail
        sc.setLocalProperty(CountingDriver.JobGroup, prevGroup)
        sc.setLocalProperty("spark.job.description", prevDesc)
        sc.setLocalProperty("spark.job.interruptOnCancel", prevInterrupt)
        spans += Span(id, name, op, parent, ns0 - t0Ns, ns1 - t0Ns, ms0, ms1)
      }
    }

  def all: Seq[Span] = spans.toSeq
}

object Tracer {
  def group(id: Int, name: String): String = s"lb-$id-$name"

  private val GroupRe = "lb-(\\d+)-.*".r

  /** The span a job group or event belongs to: the span whose group it
    * is, else the innermost span open at `atMs` (jobs that pooled
    * threads launch carry other groups). */
  def resolve(spans: Seq[Span], group: String, atMs: Long): Option[Int] =
    group match {
      case GroupRe(id) if spans.exists(_.id == id.toInt) => Some(id.toInt)
      case _ =>
        val open = spans.filter(s => s.startMs <= atMs && atMs <= s.endMs)
        if (open.isEmpty) None else Some(open.maxBy(_.startNs).id)
    }
}

/** Task-level totals of one stage. */
final class StageTotals {
  var tasks = 0L; var failedTasks = 0L
  var cpuNs = 0L; var schedulerDelayMs = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
}

/** Spark counters for the traced run: jobs (with group and submission
  * time), stages and task metrics. Read only after draining the listener
  * bus. */
final class SparkCounters extends SparkListener {
  /** (jobId, group, submit time as JVM uptime ms, stage ids). */
  val jobs = new ConcurrentLinkedQueue[(Int, String, Long, Seq[Int])]()
  val stagesRun = new ConcurrentLinkedQueue[Int]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageTotals]()

  private val startWallMs =
    ManagementFactory.getRuntimeMXBean.getStartTime
  private def uptime(wallMs: Long): Long = wallMs - startWallMs

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).map(_.getProperty(CountingDriver.JobGroup))
      .orNull
    jobs.add((e.jobId, if (g == null) "" else g, uptime(e.time), e.stageIds))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stagesRun.add(e.stageInfo.stageId)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val t = stages.computeIfAbsent(e.stageId, _ => new StageTotals)
    t.synchronized {
      t.tasks += 1
      if (!e.taskInfo.successful) t.failedTasks += 1
      val m = e.taskMetrics
      val dur = e.taskInfo.duration
      t.taskMs += dur
      if (m != null) {
        t.cpuNs += m.executorCpuTime
        t.schedulerDelayMs += math.max(0L, dur - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (e.taskInfo.gettingResult) e.taskInfo.finishTime -
            e.taskInfo.gettingResultTime else 0L))
      }
    }
  }

  def stage(id: Int): Option[StageTotals] = Option(stages.get(id))
}
