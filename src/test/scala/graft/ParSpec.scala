package graft

import java.util.concurrent.{CancellationException, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{JobFailed, JobResult, SparkListener,
  SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Latches a held Spark job's task reads; a top-level object, so task
  * closures reach it statically in local mode. */
object ParSpecGates {
  @volatile var running = new CountDownLatch(1)
  @volatile var release = new CountDownLatch(1)
  @volatile var seenGroup: String = null

  def reset(jobs: Int): Unit = {
    running = new CountDownLatch(jobs)
    release = new CountDownLatch(1)
    seenGroup = null
  }
}

/** Contract of [[Par]]: tasks run under their own job groups, and a
  * failure — of a task or of the scope body — cancels the running jobs
  * of the other tasks before the scope rethrows it; a task that runs no
  * Spark job stops at its next `check` after a failure or an interrupted
  * scope wait. */
class ParSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-par")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val Wait = 10L // seconds; every held job ends well before

  /** One single-task job that holds until released or killed. */
  private def heldJob(): Long =
    spark.sparkContext.parallelize(Seq(1), 1).map { x =>
      val tc = TaskContext.get()
      ParSpecGates.seenGroup = tc.getLocalProperty("spark.jobGroup.id")
      ParSpecGates.running.countDown()
      while (!ParSpecGates.release.await(20, TimeUnit.MILLISECONDS))
        if (tc.isInterrupted())
          throw new org.apache.spark.TaskKilledException("cancelled")
      x.toLong
    }.count()

  /** Records how the jobs of one job group end. */
  private final class JobEnds(group: String) extends SparkListener {
    private val groups = new java.util.HashMap[Int, String]
    val result = new AtomicReference[JobResult]()
    val ended = new CountDownLatch(1)
    override def onJobStart(e: SparkListenerJobStart): Unit =
      groups.synchronized {
        groups.put(e.jobId,
          Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
            .orNull)
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (groups.synchronized(groups.get(e.jobId)) == group) {
        result.set(e.jobResult)
        ended.countDown()
      }
  }

  /** Runs `body` with a listener on `group`; releases held jobs after. */
  private def watching[A](group: String, jobs: Int = 1)
      (body: JobEnds => A): A = {
    ParSpecGates.reset(jobs)
    val l = new JobEnds(group)
    spark.sparkContext.addSparkListener(l)
    try body(l)
    finally {
      ParSpecGates.release.countDown()
      spark.sparkContext.removeSparkListener(l)
    }
  }

  private def assertCancelled(l: JobEnds): Unit = {
    assert(l.ended.await(Wait, TimeUnit.SECONDS), "the held job never ended")
    l.result.get match {
      case JobFailed(e) => assert(e.getMessage.contains("cancel"), e)
      case r => fail(s"held job ended $r, not cancelled")
    }
  }

  test("values flow through get; a task may start and await tasks") {
    val out = Par.scope(spark, "par-values") { p =>
      val a = p.async("a")(spark.range(10).count())
      val b = p.async("b") {
        val c = p.async("c")(spark.range(5).count())
        a.get + c.get
      }
      b.get
    }
    assert(out === 15L)
  }

  test("(a) a failed task cancels its sibling's running job; the scope " +
      "rethrows the failure itself") {
    watching("par-a/b") { l =>
      val boom = new IllegalStateException("task a failed")
      val bEnded = new AtomicReference[Throwable]()
      val thrown = intercept[IllegalStateException] {
        Par.scope(spark, "par-a") { p =>
          val b = p.async("b") {
            try heldJob()
            catch { case e: Throwable => bEnded.set(e); throw e }
          }
          val a = p.async("a") {
            assert(ParSpecGates.running.await(Wait, TimeUnit.SECONDS))
            throw boom
          }
          a.get
          b.get
        }
      }
      assert(thrown eq boom)
      // b's action returned — its job ended — before the scope did
      assert(bEnded.get != null, "the scope returned while b still ran")
      assert(bEnded.get.getMessage.contains("cancel"), bEnded.get)
      assertCancelled(l)
    }
  }

  test("(b) a task runs under its own group: cancelling its starter's " +
      "group does not fail it") {
    val sc = spark.sparkContext
    watching("par-b/held", jobs = 2) { _ =>
      // the control job: held under the starter's group G on another
      // thread; its cancellation shows the cancel of G was processed
      val controlEnded = new AtomicReference[Throwable]()
      val control = new Thread(() => {
        sc.setJobGroup("par-b-G", "G", interruptOnCancel = false)
        try heldJob()
        catch { case e: Throwable => controlEnded.set(e) }
      })
      sc.setJobGroup("par-b-G", "G", interruptOnCancel = false)
      try {
        val out = Par.scope(spark, "par-b") { p =>
          control.start()
          val t = p.async("held")(heldJob())
          assert(ParSpecGates.running.await(Wait, TimeUnit.SECONDS))
          sc.cancelJobGroup("par-b-G")
          control.join(TimeUnit.SECONDS.toMillis(Wait))
          assert(controlEnded.get != null &&
            controlEnded.get.getMessage.contains("cancel"),
            s"the control job was not cancelled: ${controlEnded.get}")
          ParSpecGates.release.countDown()
          t.get
        }
        assert(out === 1L)
        assert(sc.getLocalProperty("spark.jobGroup.id") === "par-b-G")
      } finally sc.clearJobGroup()
    }
    // the last held job to start recorded its group; run one alone
    watching("par-b/alone") { _ =>
      ParSpecGates.release.countDown()
      sc.setJobGroup("par-b-G", "G", interruptOnCancel = false)
      try Par.scope(spark, "par-b")(_.async("alone")(heldJob()).get)
      finally sc.clearJobGroup()
      assert(ParSpecGates.seenGroup === "par-b/alone")
    }
  }

  test("(c) a scope body that throws leaves no job of its tasks running") {
    watching("par-c/held") { l =>
      val boom = new RuntimeException("scope body failed")
      val ended = new AtomicReference[Throwable]()
      val thrown = intercept[RuntimeException] {
        Par.scope(spark, "par-c") { p =>
          p.async("held") {
            try heldJob()
            catch { case e: Throwable => ended.set(e); throw e }
          }
          assert(ParSpecGates.running.await(Wait, TimeUnit.SECONDS))
          throw boom
        }
      }
      assert(thrown eq boom)
      assert(ended.get != null, "the task's job outlived the scope")
      assertCancelled(l)
    }
  }

  test("a task started after a failure never runs") {
    val ran = new AtomicReference[String]()
    val boom = new RuntimeException("first")
    val thrown = intercept[RuntimeException] {
      Par.scope(spark, "par-late") { p =>
        val a = p.async("a")(throw boom)
        intercept[RuntimeException](a.get)
        p.async("late")(ran.set("late"))
      }
    }
    assert(thrown eq boom)
    assert(ran.get == null)
  }

  test("a task that runs no Spark job stops at its first check after a " +
      "sibling throws") {
    val polls = new AtomicInteger
    val checked = new CountDownLatch(1)
    val failed = new CountDownLatch(1)
    val bEnded = new AtomicReference[Throwable]()
    val boom = new IllegalStateException("task a failed")
    val thrown = intercept[IllegalStateException] {
      Par.scope(spark, "par-poll") { p =>
        p.async("b") {
          // one unit of work between checks, as a reader's 1,024 rows
          try while (polls.get < 100) {
            p.check()
            polls.incrementAndGet()
            checked.countDown()
            failed.await(Wait, TimeUnit.SECONDS)
          } catch { case e: Throwable => bEnded.set(e); throw e }
        }
        assert(checked.await(Wait, TimeUnit.SECONDS))
        val a = p.async("a")(throw boom)
        intercept[IllegalStateException](a.get)
        failed.countDown()
      }
    }
    assert(thrown eq boom)
    assert(bEnded.get.isInstanceOf[CancellationException], bEnded.get)
    assert(polls.get == 1)
  }

  test("an interrupted scope wait stops a polling task before the scope " +
      "rethrows the interrupt") {
    val checked = new CountDownLatch(1)
    val bEnded = new AtomicReference[Throwable]()
    val thrown = new AtomicReference[Throwable]()
    val waiter = new Thread(() =>
      try Par.scope(spark, "par-interrupt") { p =>
        p.async("b") {
          val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(Wait)
          try while (System.nanoTime() < deadline) {
            p.check()
            checked.countDown()
            Thread.sleep(5)
          } catch { case e: Throwable => bEnded.set(e); throw e }
        }
      } catch { case e: Throwable => thrown.set(e) })
    waiter.start()
    assert(checked.await(Wait, TimeUnit.SECONDS))
    waiter.interrupt()
    waiter.join(TimeUnit.SECONDS.toMillis(Wait))
    assert(!waiter.isAlive)
    assert(thrown.get.isInstanceOf[InterruptedException], thrown.get)
    assert(bEnded.get.isInstanceOf[CancellationException],
      s"the scope returned while b still ran: ${bEnded.get}")
  }
}
