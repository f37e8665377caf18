package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q214 (the streaming media crawl-ingest loop) pinned BY COMPOSITION
  * against its two-phase family members on the same snapshot/cut: the
  * per-epoch verdicts must union to exactly what the from-scratch
  * incremental forms report, because arrival-time semantics are
  * epoch-invariant under id-ordered feed (the cut-split argument in
  * the MediaIngest scaladoc). Artifacts are identity-shared, so the
  * three runs also exercise the decode-once claim across queries. */
class MediaIngestSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-media-ingest-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val rec =
    SparkEntry.queries("q214_stream_media_ingest")(spark, dir)
      .cache()

  test("video verdict columns equal q209's whole-corpus incremental view") {
    val q209 = SparkEntry.queries("q209_incremental_video_dedup")(
      spark, dir)
    val got = rec.where(col("v_fp") =!= -1L)
      .select(col("media_id"), col("v_fp").as("fp"),
        col("v_nf").as("n_frames"), col("v_dup_of").as("dup_of"),
        col("v_is_dup").as("is_dup"))
      .orderBy("media_id").collect().toSeq
    val want = q209.select(col("media_id"), col("fp"), col("n_frames"),
        col("dup_of"), col("is_dup"))
      .orderBy("media_id").collect().toSeq
    assert(got == want)
  }

  test("audio verdict columns equal q210's (dup_of/is_dup projection)") {
    val q210 = SparkEntry.queries("q210_incremental_audio_dedup")(
      spark, dir)
    val got = rec.where(col("a_dup_of") =!= -1L)
      .select(col("media_id"), col("a_dup_of").as("dup_of"),
        col("a_is_dup").as("is_dup"))
      .orderBy("media_id").collect().toSeq
    val want = q210.select(col("media_id"), col("dup_of"),
        col("is_dup"))
      .orderBy("media_id").collect().toSeq
    assert(got == want)
  }

  test("clip_pairs is q213's gated pair set grouped per larger side") {
    val q213 = SparkEntry.queries("q213_incremental_clip_detect")(
      spark, dir)
    val want = q213.groupBy(col("m2").as("media_id"))
      .agg(count(lit(1)).cast("long").as("cp"))
      .orderBy("media_id").collect().toSeq
    val got = rec.where(col("clip_pairs") > 0L)
      .select(col("media_id"), col("clip_pairs").as("cp"))
      .orderBy("media_id").collect().toSeq
    assert(got == want)
    // and the record covers every stream doc, clip-active or not
    val cut = graft.queries.BatchCut.cut(spark,
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id")
    val nStream = spark.read.parquet(s"$dir/documents.parquet")
      .where(col("doc_id") >= cut).count()
    assert(rec.count() == nStream)
  }

  test("a run leaves none of its per-run state artifacts behind") {
    val artifacts = Files.createTempDirectory("media-ingest-spec").toFile
    val prev = spark.conf.getOption("graft.artifacts.dir")
    spark.conf.set("graft.artifacts.dir", artifacts.getAbsolutePath)
    try {
      val out = SparkEntry.queries("q214_stream_media_ingest")(spark, dir)
      assert(out.count() > 0)
      val left = artifacts.list().toSeq
      assert(!left.exists(_.startsWith("graft_media_seen_")), left)
    } finally prev.fold(spark.conf.unset("graft.artifacts.dir"))(
      spark.conf.set("graft.artifacts.dir", _))
  }
}
