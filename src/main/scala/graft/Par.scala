package graft

import java.util.concurrent._
import java.util.concurrent.atomic.AtomicReference

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The one seam for overlapping independent Spark actions from the
  * driver: structured concurrency over one shared daemon pool.
  *
  * {{{
  * Par.scope(spark, "q109") { p =>
  *   val meta = p.async("meta") { metaFrame(batch).localCheckpoint() }
  *   val grams = …                      // overlaps the meta job
  *   record(meta.get, grams)
  * }
  * }}}
  *
  *   - Each task runs under its own Spark job group, `<label>/<name>`,
  *     set on the pool thread for the task's duration and restored
  *     after. Pool threads inherit no thread-local state from the
  *     thread that created them, so a task never runs under a job group
  *     it picked up from elsewhere — a streaming query's `stop()` cancels
  *     its own group, never a task started from its `foreachBatch`.
  *   - The first task failure, an exception from the scope body, or an
  *     interrupt of the scope's wait fails the scope: it cancels the job
  *     groups of the unfinished tasks; tasks not yet started never run.
  *     The scope then waits for every task to end and rethrows that
  *     first exception itself, unwrapped. A scope never returns while one
  *     of its Spark jobs still runs.
  *   - Work that runs no Spark job, which no job-group cancel reaches,
  *     polls [[Scope.check]] to stop once the scope has failed.
  *   - `get` waits at most 2 h, so a hung job fails loudly.
  *   - Tasks may be started from any thread, including other tasks;
  *     the pool is unbounded, so tasks that wait on each other cannot
  *     deadlock.
  *
  * Labels name the work, not the scope instance: two scopes that share
  * a label and run at the same time share their tasks' group names. */
object Par {

  /** The one wait ceiling for a task result. */
  private val Ceiling: Long = TimeUnit.HOURS.toMillis(2)

  private lazy val pool: ExecutorService =
    Executors.newCachedThreadPool { r =>
      // inheritThreadLocals = false: Spark's local properties (job
      // group, SQL execution id, job tags) and the active session stay
      // with the thread that happened to spawn this one
      val t = new Thread(null, r, "graft-par", 0L, false)
      t.setDaemon(true)
      t
    }

  private val GroupProps = Seq("spark.jobGroup.id",
    "spark.job.description", "spark.job.interruptOnCancel")

  /** A started task; `get` blocks for its value and rethrows its own
    * exception. */
  final class Task[T] private[Par] (private[Par] val group: String) {
    private[Par] val result = new CompletableFuture[T]()

    def get: T =
      try result.get(Ceiling, TimeUnit.MILLISECONDS)
      catch { case e: ExecutionException => throw e.getCause }

    /** Whether the task ended within `ms` milliseconds, either way. */
    private[Par] def ended(ms: Long): Boolean =
      try { result.get(ms, TimeUnit.MILLISECONDS); true }
      catch {
        case _: TimeoutException => false
        // a task that never started holds a CancellationException,
        // which get throws unwrapped
        case _: ExecutionException | _: CancellationException => true
      }
  }

  /** The tasks of one [[scope]] call. */
  final class Scope private[Par] (spark: SparkSession, label: String) {
    private val sc = spark.sparkContext
    private val tasks = ArrayBuffer.empty[Task[_]] // guarded by itself
    private[Par] val failure = new AtomicReference[Throwable]()

    /** Starts `body` on the pool under job group `<label>/<name>`. */
    def async[T](name: String)(body: => T): Task[T] = {
      val t = new Task[T](s"$label/$name")
      tasks.synchronized { tasks += t }
      pool.execute(() => run(t, body))
      t
    }

    private def run[T](t: Task[T], body: => T): Unit =
      if (failure.get != null)
        t.result.completeExceptionally(new CancellationException(
          s"${t.group}: not started, the scope already failed"))
      else {
        val prevProps = GroupProps.map(sc.getLocalProperty)
        val prevSession = SparkSession.getActiveSession
        SparkSession.setActiveSession(spark)
        sc.setJobGroup(t.group, t.group, interruptOnCancel = false)
        try t.result.complete(body)
        catch {
          case e: Throwable =>
            fail(e) // before completing: a waiter sees the first failure
            t.result.completeExceptionally(e)
        } finally {
          GroupProps.zip(prevProps).foreach { case (k, v) =>
            sc.setLocalProperty(k, v) }
          prevSession.fold(SparkSession.clearActiveSession())(
            SparkSession.setActiveSession)
        }
      }

    /** Throws a `CancellationException` once the scope has failed. A
      * task that runs no Spark job calls it between units of its work. */
    def check(): Unit =
      if (failure.get != null)
        throw new CancellationException(s"$label failed")

    private[Par] def fail(e: Throwable): Unit =
      if (failure.compareAndSet(null, e))
        tasks.synchronized(tasks.toList).filterNot(_.result.isDone)
          .foreach(t => sc.cancelJobGroup(t.group, s"$label failed"))

    /** Waits for every task, including ones started while waiting. After
      * a failure the wait re-cancels the task's group every 100 ms: a
      * task between two actions when the cancel landed starts its next
      * job after it. */
    private[Par] def awaitAll(): Unit = {
      var i = 0
      while (i < tasks.synchronized(tasks.size)) {
        val t = tasks.synchronized(tasks(i))
        while (!t.ended(100))
          if (failure.get != null) sc.cancelJobGroup(t.group)
        i += 1
      }
    }
  }

  /** Runs `body` with a fresh [[Scope]] and returns its value once every
    * task started in the scope has ended. On a failure it rethrows the
    * first exception: from a task, from `body`, or the
    * `InterruptedException` of an interrupted wait. */
  def scope[T](spark: SparkSession, label: String)(body: Scope => T): T = {
    val p = new Scope(spark, label)
    val out =
      try { val v = body(p); p.awaitAll(); v }
      catch {
        case e: Throwable =>
          p.fail(e)
          p.awaitAll()
          throw p.failure.get
      }
    Option(p.failure.get).foreach(throw _)
    out
  }
}
