package layerbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

/** Order statistics over samples. `percentile` interpolates linearly
  * between closest ranks (the default of numpy and of R type 7), so
  * `percentile(xs, 0.5)` is the median. */
object Stats {
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p >= 0 && p <= 1, s"percentile rank $p outside [0, 1]")
    val s = xs.sorted
    val pos = p * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)
}

/** Order-insensitive table digest: row count plus the wrapping sum of
  * per-row hashes. A row hash folds its column values in column order,
  * so the digest changes when any value moves between rows or columns
  * but not when rows are reordered or split across batches. */
final case class Digest(rows: Long, sum: Long) {
  def +(rowHash: Long): Digest = Digest(rows + 1, sum + rowHash)
  def ++(o: Digest): Digest = Digest(rows + o.rows, sum + o.sum)
}

object Digest {
  val empty: Digest = Digest(0L, 0L)
}

object RowHash {
  /** splitmix64 finalizer. */
  def mix(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  val seed: Long = 0x2545f4914f6cdd1dL

  def add(h: Long, v: Long): Long = mix(h ^ (mix(v) + 0x9e3779b97f4a7c15L))
  def addDouble(h: Long, v: Double): Long =
    add(h, java.lang.Double.doubleToLongBits(v))
  def addBytes(h: Long, b: Array[Byte], off: Int, len: Int): Long = {
    var f = 0xcbf29ce484222325L // FNV-1a 64
    var i = off
    while (i < off + len) { f = (f ^ (b(i) & 0xff)) * 0x100000001b3L; i += 1 }
    add(h, f)
  }
  def addString(h: Long, s: String): Long = {
    val b = s.getBytes(StandardCharsets.UTF_8)
    addBytes(h, b, 0, b.length)
  }
  /** Marks SQL NULL distinctly from every value. */
  def addNull(h: Long): Long = add(h, 0x6a09e667f3bcc909L)
}

/** Minimal JSON writer for the result line and the run artifact. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case o => quote(o.toString)
  }

  def quote(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}

/** Host-contention record: what else was using the machine while a run
  * measured. Kept beside the metrics and never gated, so a run slowed by
  * the host can be told apart from a run slowed by a change. */
object Host {
  private def read(path: String): Option[String] =
    try Some(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), StandardCharsets.UTF_8))
    catch { case _: Exception => None }

  final case class Sample(uptimeMs: Long, load: Seq[Double],
      cpuJiffies: Seq[Long], pressureSomeUs: Long, pressureAvg10: Double,
      jitMs: Long, gcMs: Long, gcCount: Long)

  def sample(): Sample = {
    val load = read("/proc/loadavg").map(_.trim.split("\\s+").take(3)
      .map(_.toDouble).toSeq).getOrElse(Nil)
    // user nice system idle iowait irq softirq steal
    val cpu = read("/proc/stat").flatMap(_.linesIterator
      .find(_.startsWith("cpu ")))
      .map(_.trim.split("\\s+").drop(1).take(8).map(_.toLong).toSeq)
      .getOrElse(Nil)
    val some = read("/proc/pressure/cpu").flatMap(_.linesIterator
      .find(_.startsWith("some")))
    def field(k: String): Option[String] = some.flatMap(_.split("\\s+")
      .find(_.startsWith(k + "=")).map(_.drop(k.length + 1)))
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    Sample(ManagementFactory.getRuntimeMXBean.getUptime, load, cpu,
      field("total").map(_.toLong).getOrElse(-1L),
      field("avg10").map(_.toDouble).getOrElse(-1.0),
      Option(ManagementFactory.getCompilationMXBean)
        .filter(_.isCompilationTimeMonitoringSupported)
        .map(_.getTotalCompilationTime).getOrElse(-1L),
      gcs.map(g => math.max(0L, g.getCollectionTime)).sum,
      gcs.map(g => math.max(0L, g.getCollectionCount)).sum)
  }

  /** What happened on the host between two samples. */
  def window(a: Sample, b: Sample): Map[String, Any] = {
    val cpu = if (a.cpuJiffies.length == 8 && b.cpuJiffies.length == 8)
      a.cpuJiffies.zip(b.cpuJiffies).map { case (x, y) => y - x } else Nil
    val total = cpu.sum.toDouble
    Map(
      "seconds" -> (b.uptimeMs - a.uptimeMs) / 1000.0,
      "loadavg_start" -> a.load, "loadavg_end" -> b.load,
      "cpu_busy_frac" -> (if (total > 0) 1.0 - (cpu(3) + cpu(4)) / total
        else -1.0),
      "cpu_steal_frac" -> (if (total > 0) cpu(7) / total else -1.0),
      "cpu_pressure_some_s" -> (if (a.pressureSomeUs >= 0)
        (b.pressureSomeUs - a.pressureSomeUs) / 1e6 else -1.0),
      "cpu_pressure_avg10_end" -> b.pressureAvg10,
      "jit_compile_s" -> (b.jitMs - a.jitMs) / 1000.0,
      "gc_s" -> (b.gcMs - a.gcMs) / 1000.0,
      "gc_count" -> (b.gcCount - a.gcCount))
  }

  /** CPU time of every live Java thread, by thread id. JIT compiler and GC
    * threads are not Java threads, so they are not included; see
    * `gcThreadCpuNs`. */
  def threadCpuNs(): Map[Long, Long] = {
    val tmx = ManagementFactory.getThreadMXBean
    tmx.getAllThreadIds.iterator.map(id => id -> tmx.getThreadCpuTime(id))
      .filter(_._2 >= 0).toMap
  }

  /** CPU the Java threads used between two snapshots; a thread born in
    * between counts from zero. */
  def threadCpuDelta(a: Map[Long, Long], b: Map[Long, Long]): Long =
    b.iterator.map { case (id, t) => t - a.getOrElse(id, 0L) }.sum

  private val GcThread = "GC Thread#\\d+|G1 .*".r

  /** CPU time of the garbage collector's threads (G1's parallel workers,
    * concurrent markers, refinement and service threads), which are not
    * Java threads, from /proc/self/task in clock ticks of 10 ms. */
  def gcThreadCpuNs(): Long = {
    val tasks = Option(new java.io.File("/proc/self/task").listFiles())
      .getOrElse(Array.empty[java.io.File])
    tasks.iterator.map { t =>
      val comm = read(s"$t/comm").map(_.trim).getOrElse("")
      if (!GcThread.matches(comm)) 0L
      else read(s"$t/stat").map { st =>
        // the fields after "(comm) " start at field 3; utime and stime are
        // fields 14 and 15
        val f = st.substring(st.lastIndexOf(')') + 2).split(" ")
        (f(11).toLong + f(12).toLong) * 10000000L
      }.getOrElse(0L)
    }.sum
  }

  def heapUsed(): Long =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed

  def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => -1L
  }
}

/** Heap occupancy right after each garbage collection, read from the
  * JVM's GC notifications: (GC end, JVM uptime ms; heap bytes after). */
object HeapWatch {
  private val afterGc = new ConcurrentLinkedQueue[(Long, Long)]()
  @volatile private var installed = false

  private val heapPools: Set[String] =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getName).toSet

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
          .GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        afterGc.add((info.getGcInfo.getEndTime, used))
      }
  }

  def install(): Unit = synchronized {
    if (!installed) {
      ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
        case _ =>
      }
      installed = true
    }
  }

  def samples: Seq[(Long, Long)] = afterGc.asScala.toSeq
}
