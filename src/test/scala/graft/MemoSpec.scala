package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Memo

object MemoSpec {
  // registered once per JVM: memo names are unique
  val outer: Memo[Int] = Memo[Int]("spec_outer")
  val inner: Memo[Int] = Memo[Int]("spec_inner")
}

/** The session memo registry: read-through and refresh semantics, one
  * run per key with lookups nesting freely, eviction of failed runs,
  * and — end to end — that a rewritten input under the same dir is
  * never served a result computed from the old file. */
class MemoSpec extends AnyFunSuite {
  import MemoSpec.{inner, outer}

  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-memo")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def withTempDir[A](body: File => A): A = {
    val d = Files.createTempDirectory("graft-memo-spec").toFile
    try body(d) finally deleteTree(d)
  }

  /** A writable copy of the read-only testdata dir. */
  private def copyOfTestdata(into: File): String = {
    val sf = new File(into, "sf")
    sf.mkdir()
    new File(dir).listFiles().foreach(f =>
      Files.copy(f.toPath, new File(sf, f.getName).toPath))
    sf.getAbsolutePath
  }

  /** Rewrites `<sf>/<table>.parquet` in place with the rows `keep`
    * selects, as one parquet file (the testdata layout). */
  private def rewrite(sf: String, table: String,
      keep: DataFrame => DataFrame): Unit = {
    val target = new File(sf, s"$table.parquet")
    val staged = new File(new File(sf).getParentFile, s"staged_$table")
    keep(spark.read.parquet(target.getAbsolutePath)).coalesce(1)
      .write.parquet(staged.getAbsolutePath)
    val part = staged.listFiles().find(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    val before = target.length
    Files.move(part.toPath, target.toPath,
      StandardCopyOption.REPLACE_EXISTING)
    deleteTree(staged)
    assert(target.length != before, s"rewrite kept $table's size")
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("read-through computes once per key; put always recomputes") {
    Memo.clearAll()
    val runs = new AtomicInteger
    def compute = runs.incrementAndGet()
    assert(outer(spark, None, "k")(compute) === 1)
    assert(outer(spark, None, "k")(compute) === 1)
    assert(outer(spark, None, "other")(compute) === 2)
    assert(outer.put(spark, None, "k")(compute) === 3)
    assert(outer(spark, None, "k")(compute) === 3)
    assert(runs.get === 3)
    assert(outer.size === 2)
    Memo.clearAll()
    assert(outer.size === 0)
  }

  test("lookups nest: a computation may read other entries") {
    Memo.clearAll()
    // one shared map: a nested lookup inside a map-locked computation
    // would throw IllegalStateException: Recursive update
    val got = outer(spark, None, "nest") {
      inner(spark, None, "a")(20) + inner(spark, None, "b")(22)
    }
    assert(got === 42)
    assert(inner.size === 2)
    Memo.clearAll()
  }

  test("concurrent lookups of one key run the computation once") {
    Memo.clearAll()
    val runs = new AtomicInteger
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(4)
    try {
      val fs = (1 to 4).map(_ => pool.submit(() => {
        start.await()
        outer(spark, None, "race") {
          Thread.sleep(200)
          runs.incrementAndGet()
        }
      }))
      start.countDown()
      assert(fs.map(_.get(30, TimeUnit.SECONDS)).toSet === Set(1))
      assert(runs.get === 1)
    } finally {
      pool.shutdownNow()
      Memo.clearAll()
    }
  }

  test("a failed computation is evicted, so the next lookup retries") {
    Memo.clearAll()
    intercept[IllegalStateException] {
      outer(spark, None, "flaky")(throw new IllegalStateException("boom"))
    }
    assert(outer.size === 0)
    assert(outer(spark, None, "flaky")(7) === 7)
    Memo.clearAll()
  }

  test("an entry is recomputed when its input file is rewritten") {
    withTempDir { d =>
      val f = new File(d, "input.txt")
      Files.write(f.toPath, "one".getBytes("UTF-8"))
      val runs = new AtomicInteger
      def compute = runs.incrementAndGet()
      val in = Some(f.getAbsolutePath)
      assert(outer(spark, in)(compute) === 1)
      assert(outer(spark, in)(compute) === 1)
      assert(outer.get(spark, in) === Some(1))
      Files.write(f.toPath, "two, longer".getBytes("UTF-8"))
      assert(outer.get(spark, in) === None)
      assert(outer(spark, in)(compute) === 2)
      assert(outer.size === 1) // the stale entry is replaced, not kept
      Memo.clearAll()
    }
  }

  test("q53 after q27 and a rewrite of documents matches a fresh session") {
    withTempDir { d =>
      val sf = copyOfTestdata(d)
      val q = SparkEntry.queries
      val before = rows(q("q53_dedup_clusters")(spark.newSession(), sf))
      q("q27_minhash_lsh")(spark, sf).count() // fills the pair memo
      rewrite(sf, "documents", _.where(col("doc_id") % 3 =!= 0))
      val got = rows(q("q53_dedup_clusters")(spark, sf))
      val fresh = rows(q("q53_dedup_clusters")(spark.newSession(), sf))
      assert(fresh !== before, "the rewrite did not change q53")
      assert(got === fresh)
      Memo.clearAll()
    }
  }

  test("q60 after q31 and a rewrite of embeddings matches a fresh session") {
    withTempDir { d =>
      val sf = copyOfTestdata(d)
      val q = SparkEntry.queries
      val before = rows(q("q60_embedding_dedup")(spark.newSession(), sf))
      q("q31_ann_lsh")(spark, sf).count() // fills the ann memo
      rewrite(sf, "embeddings", _.where(col("vec_id") % 3 =!= 0))
      val got = rows(q("q60_embedding_dedup")(spark, sf))
      val fresh = rows(q("q60_embedding_dedup")(spark.newSession(), sf))
      assert(fresh !== before, "the rewrite did not change q60")
      assert(got === fresh)
      Memo.clearAll()
    }
  }

  test("clearAll leaves every memo empty") {
    val q = SparkEntry.queries
    for (name <- Seq("q192_wordpiece_vocab", "q182_lsa_vectors",
        "q27_minhash_lsh", "q80_kmeans"))
      q(name)(spark, dir).count()
    for (name <- Seq("wp", "lsa", "pair", "km", "frames", "views"))
      assert(Memo.named(name).size > 0, s"memo $name is empty")
    Memo.clearAll()
    Memo.registered.foreach(m =>
      assert(m.size === 0, s"memo ${m.name} survived clearAll"))
  }
}
