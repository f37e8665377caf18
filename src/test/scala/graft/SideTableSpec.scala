package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Memo, SideTable}

/** Contract of the persisted-artifact registry behind q67/q69/q72: an
  * artifact is built exactly once per (session, name, key, data
  * fingerprint), its path is content-determined, a manifest records its
  * identity and row count (enabling cross-JVM reuse), `graft.artifacts
  * .refresh` forces a rebuild, and `append` evolves a built artifact —
  * the crawl loop. */
class SideTableSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-sidetable")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Runs `body` with artifacts rooted in a fresh temp dir — stale
    * artifacts from earlier JVMs must not satisfy this JVM's builds. */
  private def freshRoot[A](body: => A): A = {
    val root = java.nio.file.Files
      .createTempDirectory("graft-artifacts").toFile.getAbsolutePath
    spark.conf.set("graft.artifacts.dir", root)
    try body finally spark.conf.unset("graft.artifacts.dir")
  }

  test("ensure() builds once per key, reuses within the session") {
    import spark.implicits._
    freshRoot {
      val builds = new AtomicInteger(0)
      def build = {
        builds.incrementAndGet()
        Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      }
      val p1 = SideTable.ensure(spark, "spec_probe", "k1")(build)
      val p2 = SideTable.ensure(spark, "spec_probe", "k1")(build)
      assert(p1 === p2)
      assert(builds.get() === 1, "second ensure() re-built the artifact")
      assert(spark.read.parquet(p1).count() === 2)
      // a different key is a different artifact, built separately
      val p3 = SideTable.ensure(spark, "spec_probe", "k2")(build)
      assert(p3 !== p1)
      assert(builds.get() === 2)
    }
  }

  test("paths are content-determined and respect graft.artifacts.dir") {
    import spark.implicits._
    freshRoot {
      val root = spark.conf.get("graft.artifacts.dir")
      val p = SideTable.ensure(spark, "spec_rooted", "k1") {
        Seq((1L, "a")).toDF("id", "v")
      }
      assert(p.startsWith(root), s"artifact $p not under $root")
      assert(new java.io.File(p).exists())
    }
  }

  test("manifest records identity + row count; a fresh session reuses the files") {
    import spark.implicits._
    freshRoot {
      val builds = new AtomicInteger(0)
      def build = {
        builds.incrementAndGet()
        Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      }
      val p = SideTable.ensure(spark, "spec_manifest", "k1")(build)
      val m = SideTable.manifest(p)
      assert(m.isDefined, "no manifest written")
      assert(m.get._2 === 3L, "manifest row count wrong")
      assert(m.get._3 > 0L)
      // simulate a fresh JVM: the in-memory memo is gone but the files
      // and manifest survive — ensure() must reuse, not rebuild
      Memo.clearAll()
      val p2 = SideTable.ensure(spark, "spec_manifest", "k1")(build)
      assert(p2 === p)
      assert(builds.get() === 1, "fresh session re-built a valid artifact")
    }
  }

  test("data fingerprint: rewriting the source table changes the identity") {
    import spark.implicits._
    freshRoot {
      val data = java.nio.file.Files
        .createTempDirectory("graft-src").toFile.getAbsolutePath
      Seq((1L, "x")).toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$data/documents.parquet")
      val builds = new AtomicInteger(0)
      def build = {
        builds.incrementAndGet()
        spark.read.parquet(s"$data/documents.parquet")
      }
      val src = Some(s"$data/documents.parquet")
      val p1 = SideTable.ensure(spark, "spec_fp", "k", src)(build)
      assert(builds.get() === 1)
      // in-place rewrite that keeps the logical key identical: without
      // the fingerprint this silently served the stale artifact
      Thread.sleep(1100) // parquet mtime granularity can be 1 s
      Seq((1L, "x"), (2L, "y")).toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$data/documents.parquet")
      val p2 = SideTable.ensure(spark, "spec_fp", "k", src)(build)
      assert(p2 !== p1, "stale artifact served after source rewrite")
      assert(builds.get() === 2)
      assert(spark.read.parquet(p2).count() === 2)
    }
  }

  test("graft.artifacts.refresh forces a rebuild in place") {
    import spark.implicits._
    freshRoot {
      val builds = new AtomicInteger(0)
      var rows = Seq((1L, "a"))
      def build = {
        builds.incrementAndGet()
        rows.toDF("id", "v")
      }
      val p1 = SideTable.ensure(spark, "spec_refresh", "k")(build)
      assert(spark.read.parquet(p1).count() === 1)
      rows = Seq((1L, "a"), (2L, "b"))
      spark.conf.set("graft.artifacts.refresh", "true")
      try {
        val p2 = SideTable.ensure(spark, "spec_refresh", "k")(build)
        assert(p2 === p1, "refresh must rebuild IN PLACE")
        assert(builds.get() === 2)
        assert(spark.read.parquet(p2).count() === 2)
        assert(SideTable.manifest(p2).get._2 === 2L)
      } finally spark.conf.unset("graft.artifacts.refresh")
    }
  }

  test("append evolves a built artifact and updates its manifest") {
    import spark.implicits._
    freshRoot {
      val p = SideTable.ensure(spark, "spec_append", "k") {
        Seq((1L, "a")).toDF("id", "v")
      }
      assert(SideTable.manifest(p).get._2 === 1L)
      val p2 = SideTable.append(spark, "spec_append", "k") {
        Seq((2L, "b"), (3L, "c")).toDF("id", "v")
      }
      assert(p2 === p)
      assert(spark.read.parquet(p).count() === 3)
      assert(SideTable.manifest(p).get._2 === 3L)
      // the crawl-loop read-back: the next batch sees appended rows
      assert(spark.read.parquet(p).select("id").collect()
        .map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L))
    }
  }

  test("append invalidates the bloom companion — no stale false negatives") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    freshRoot {
      val p = SideTable.ensure(spark, "spec_bloomsync", "k") {
        Seq(1L, 2L).toDF("id")
      }
      def contains(bf: Array[Byte], v: Long): Boolean =
        Seq(v).toDF("id")
          .select(graft.functions.Bloom.mightContain(bf, col("id")))
          .head().getBoolean(0)
      val sizingConf = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
      val before = spark.conf.getOption(sizingConf)
      val bf1 = SideTable.ensureBloomOf(spark, "spec_bloomsync", "k",
        None, p, "id")
      assert(contains(bf1, 1L) && contains(bf1, 2L))
      // the sizing-conf raise around the build must not leak into the
      // session
      assert(spark.conf.getOption(sizingConf) === before)
      SideTable.append(spark, "spec_bloomsync", "k") { Seq(99L).toDF("id") }
      // a stale companion would probe 99 negative and its caller would
      // skip the exact join — the no-false-negative contract violated;
      // append must have dropped it so this recompiles
      val bf2 = SideTable.ensureBloomOf(spark, "spec_bloomsync", "k",
        None, p, "id")
      assert(contains(bf2, 99L),
        "appended key probes negative: bloom companion is stale")
    }
  }

  test("bloom builds never touch the parent session's sizing confs — " +
      "even concurrent ones (cloned-session scoping)") {
    import spark.implicits._
    freshRoot {
      val bitsConf = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
      val itemsConf = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
      // sentinels: any write by a build (old design: raise → restore,
      // racy across concurrent builds) would be visible as a non-
      // sentinel value either mid-run or after
      spark.conf.set(bitsConf, "12345678")
      spark.conf.set(itemsConf, "1234567")
      try {
        val pA = SideTable.ensure(spark, "spec_bloomiso_a", "k") {
          Seq(1L, 2L, 3L).toDF("id") }
        val pB = SideTable.ensure(spark, "spec_bloomiso_b", "k") {
          Seq(7L, 8L).toDF("id") }
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration._
        import scala.concurrent.ExecutionContext.Implicits.global
        val builds = Seq(
          Future(SideTable.ensureBloomOf(spark, "spec_bloomiso_a", "k",
            None, pA, "id")),
          Future(SideTable.ensureBloomOf(spark, "spec_bloomiso_b", "k",
            None, pB, "id")))
        val Seq(bfA, bfB) = builds.map(Await.result(_, 120.seconds))
        // mid-build and after: the parent's confs are exactly the
        // sentinels (the clone owns the raised values)
        assert(spark.conf.get(bitsConf) === "12345678")
        assert(spark.conf.get(itemsConf) === "1234567")
        def contains(bf: Array[Byte], v: Long): Boolean =
          Seq(v).toDF("id")
            .select(graft.functions.Bloom.mightContain(bf,
              org.apache.spark.sql.functions.col("id")))
            .head().getBoolean(0)
        assert(contains(bfA, 1L) && contains(bfA, 2L) && contains(bfA, 3L))
        assert(contains(bfB, 7L) && contains(bfB, 8L))
      } finally {
        spark.conf.unset(bitsConf)
        spark.conf.unset(itemsConf)
      }
    }
  }

  test("drop deletes the artifact on disk and from the session memo") {
    import spark.implicits._
    freshRoot {
      val builds = new AtomicInteger
      def build() = SideTable.ensure(spark, "spec_drop", "k") {
        builds.incrementAndGet()
        Seq(1L).toDF("id")
      }
      val p = build()
      assert(new java.io.File(p).isDirectory)
      SideTable.drop(spark, "spec_drop", "k")
      assert(!new java.io.File(p).exists())
      assert(build() === p && builds.get() === 2,
        "post-drop ensure must rebuild, not serve the stale memo")
    }
  }

  /** Parquet data files under an artifact dir (recursive, metadata
    * excluded) — what a reader actually opens. */
  private def dataFileCount(path: String): Int = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isFile)
        if (f.getName.startsWith("_") || f.getName.startsWith(".")) Nil
        else Seq(f)
      else Option(f.listFiles()).map(_.toSeq).getOrElse(Nil).flatMap(walk)
    walk(new java.io.File(path)).size
  }

  test("append compaction bounds the artifact's file count") {
    import spark.implicits._
    freshRoot {
      spark.conf.set("graft.artifacts.maxFiles", "6")
      spark.conf.set("graft.artifacts.compactTargetFiles", "2")
      try {
        val p = SideTable.ensure(spark, "spec_compact", "k") {
          Seq((1L, "a")).toDF("id", "v").coalesce(1)
        }
        // a long-running crawl loop: many appends under one identity
        (2L to 25L).foreach { i =>
          SideTable.append(spark, "spec_compact", "k") {
            Seq((i, s"v$i")).toDF("id", "v").coalesce(1)
          }
        }
        assert(dataFileCount(p) <= 6,
          s"file count ${dataFileCount(p)} unbounded after 24 appends")
        // compaction must preserve every row and the manifest sum
        assert(spark.read.parquet(p).count() === 25)
        assert(SideTable.manifest(p).get._2 === 25L)
        assert(spark.read.parquet(p).select("id").collect()
          .map(_.getLong(0)).sorted.toSeq === (1L to 25L))
      } finally {
        spark.conf.unset("graft.artifacts.maxFiles")
        spark.conf.unset("graft.artifacts.compactTargetFiles")
      }
    }
  }

  test("compaction preserves a partitioned artifact's layout") {
    import spark.implicits._
    freshRoot {
      spark.conf.set("graft.artifacts.maxFiles", "4")
      try {
        val p = SideTable.ensure(spark, "spec_compact_part", "k",
            partitionBy = Seq("bucket")) {
          Seq((1L, 0), (2L, 1)).toDF("id", "bucket").coalesce(1)
        }
        (3L to 20L).foreach { i =>
          SideTable.append(spark, "spec_compact_part", "k") {
            Seq((i, (i % 2).toInt)).toDF("id", "bucket").coalesce(1)
          }
        }
        // partition dirs survive the rewrite — pruning still works
        val dirs = new java.io.File(p).listFiles().filter(_.isDirectory)
          .map(_.getName).sorted.toSeq
        assert(dirs === Seq("bucket=0", "bucket=1"),
          s"partition layout lost after compaction: $dirs")
        assert(spark.read.parquet(p).count() === 20)
        assert(SideTable.manifest(p).get._2 === 20L)
        // one file per partition dir after repartition-by-partition-cols
        assert(dataFileCount(p) <= 4)
      } finally spark.conf.unset("graft.artifacts.maxFiles")
    }
  }

  test("consistentRows detects a torn append and recounts") {
    import spark.implicits._
    freshRoot {
      val p = SideTable.ensure(spark, "spec_torn", "k") {
        Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1)
      }
      assert(SideTable.consistentRows(spark, p) === 2L)
      // simulate the crash window: delta part-files land, the JVM dies
      // before the manifest update — the manifest row count is stale
      Seq((3L, "c")).toDF("id", "v").coalesce(1)
        .write.mode("append").parquet(p)
      assert(SideTable.manifest(p).get._2 === 2L, "precondition: stale")
      assert(SideTable.consistentRows(spark, p) === 3L,
        "torn append served the stale manifest count")
      // and a subsequent append heals the running sum from the recount
      SideTable.append(spark, "spec_torn", "k") {
        Seq((4L, "d")).toDF("id", "v").coalesce(1)
      }
      assert(SideTable.manifest(p).get._2 === 4L)
      assert(spark.read.parquet(p).count() === 4)
    }
  }

  test("append before ensure fails loudly") {
    import spark.implicits._
    freshRoot {
      val e = intercept[IllegalArgumentException] {
        SideTable.append(spark, "spec_orphan", "k") {
          Seq((1L, "a")).toDF("id", "v")
        }
      }
      assert(e.getMessage.contains("before ensure"))
    }
  }

  test("concurrent ensure calls for the same key build once") {
    import spark.implicits._
    freshRoot {
      val builds = new AtomicInteger(0)
      def build = {
        builds.incrementAndGet()
        Thread.sleep(300) // widen the race window
        Seq((1L, "a")).toDF("id", "v")
      }
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      try {
        import scala.jdk.CollectionConverters._
        val tasks = (0 until 4).map(_ =>
          new java.util.concurrent.Callable[String] {
            def call(): String =
              SideTable.ensure(spark, "spec_conc", "k")(build)
          }).asJava
        val paths = pool.invokeAll(tasks).asScala.map(_.get()).toSet
        assert(paths.size === 1)
        assert(builds.get() === 1, "racing ensure() calls built twice")
      } finally pool.shutdown()
    }
  }
}
