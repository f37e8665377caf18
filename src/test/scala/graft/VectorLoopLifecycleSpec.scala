package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Embed
import graft.sources.{Memo, SideTable}

/** Lifecycle test of the public VECTOR ingest loop — the IVFPQ analogue
  * of [[CrawlLoopLifecycleSpec]]: a user runs multiple embedding-batch
  * epochs purely through `graft.ops.Embed` + [[SideTable]] on a
  * non-testdata schema (nid/vec), with the router and codebooks FROZEN
  * at the snapshot and the cell-partitioned code table + exact payload
  * APPENDED per epoch.
  *
  * The append contract: pqEncode / assignCells / normalize are all
  * per-row deterministic GIVEN frozen codebooks/router, so an appended
  * artifact is bit-equal to re-encoding the corpus-so-far under the
  * same frozen parameters — asserted per epoch by running the identical
  * probe-restricted search against both. (A from-scratch rebuild that
  * RETRAINS router/codebooks is deliberately NOT equal — that is the
  * re-snapshot event, exercised separately below.)
  *
  * The re-snapshot policy (SCALE.md "Similarity search"): each epoch
  * audits q124-style recall of the artifact-backed search against the
  * exact cosine top-k over the corpus-so-far; when mean recall dips
  * below the gate (distribution drift — here an engineered cluster the
  * snapshot router never saw), the loop rebuilds router + codebooks +
  * codes + payload from the corpus-so-far under a VERSIONED key, and
  * the rebuilt artifacts are bit-equal to a from-scratch build (the
  * fixed-point k-means bit-stability).
  */
class VectorLoopLifecycleSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-vector-lifecycle")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private val M = 2
  // ksub=8 (not 4): the hash-sampled k-means init can land 3 of 4 seeds
  // in one cluster, merging the other two into ONE code — ADC then
  // cannot rank inside the merged set and the post-re-snapshot recall
  // collapses for a reason that is quantizer capacity, not the policy
  // under test. 8 centroids over 3 clusters quantize all of them.
  private val Ksub = 8
  private val Iters = 3
  private val RouterK = 2
  private val Nprobe = 1
  private val K = 5
  private val C = 8
  // sits between the two observed regimes: in-distribution epochs score
  // 1.0 (the query's whole top-K lives in its own probed cell); the
  // engineered straddling cluster scores 23/30 ≈ 0.77 (its exact
  // neighbors split across cells nprobe=1 cannot both read)
  private val RecallGate = 0.9d

  private def vA(i: Int) = Seq(10f + i * 0.1f, 1f + (i % 3) * 0.1f,
    0.2f * (i % 2), 0.1f)
  private def vB(i: Int) = Seq(0.1f, 0.2f * (i % 2), 10f + i * 0.1f,
    1f + (i % 3) * 0.1f)
  private def vC(i: Int) = Seq(5f + 0.1f * i, 5f, 5f - 0.1f * i, 5f)

  private def frame(rows: Seq[(Long, Seq[Float])]): DataFrame =
    rows.toDF("nid", "vec")

  private val old = frame(
    (1 to 6).map(i => (i.toLong, vA(i))) ++
      (7 to 12).map(i => (i.toLong, vB(i))))

  private val batches = Seq(
    frame(Seq((101L, vA(7)), (102L, vA(8)), (103L, vB(7)),
      (104L, vB(8)))),
    frame(Seq((201L, vA(9)), (202L, vB(9)), (203L, vA(10)),
      (204L, vB(10)))),
    // epoch 3: a cluster the snapshot router never saw — equidistant
    // from both cells, so its exact neighbors straddle cells the
    // nprobe=1 search cannot both read → the recall gate trips.
    // Ids 601–606, not 301–306: the retrain's hash-sampled k-means
    // init ranks ids by (md5-hash60, id), and 601/604 rank inside the
    // snap1 corpus's top-Ksub — so the re-trained codebooks are
    // GUARANTEED seeds in this cluster. (With unseeded drift ids the
    // new cluster merges into an old code: Lloyd cannot split a merged
    // centroid, ADC then cannot rank inside the merged set, and the
    // post-re-snapshot recall measures quantizer capacity instead of
    // the policy under test.)
    frame((0 to 5).map(i => (601L + i, vC(i)))))

  private def codesOf(corpus: DataFrame, cb: DataFrame,
      router: DataFrame): DataFrame =
    Embed.pqEncode(corpus, cb, M, idCol = "nid", vecCol = "vec")
      .join(Embed.assignCells(corpus, router, idCol = "nid",
        vecCol = "vec"), Seq("vec_id"))

  private def searchRows(codes: DataFrame, cb: DataFrame,
      exact: DataFrame, queries: DataFrame,
      probes: DataFrame): Seq[org.apache.spark.sql.Row] =
    Embed.pqSearch(codes, cb, exact, queries, k = K, c = C, m = M,
        queryIdCol = "nid", queryVecCol = "vec", probes = Some(probes))
      .orderBy("q_id", "rank").collect().toSeq

  /** Mean fraction of the exact cosine top-K the artifact search
    * surfaced (the q124 audit, helper-sized). */
  private def recallOf(got: Seq[org.apache.spark.sql.Row],
      corpus: DataFrame, queries: DataFrame): Double = {
    val exact = Embed.cosineTopK(corpus, queries, k = K, idCol = "nid",
        vecCol = "vec", queryIdCol = "nid", queryVecCol = "vec")
      .select("q_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = got.map(r => (r.getLong(0), r.getLong(1))).toSet
    val qs = exact.map(_._1)
    qs.toSeq.map(q => exact.count(e => e._1 == q &&
      approx.contains(e)).toDouble /
      exact.count(_._1 == q)).sum / qs.size
  }

  test("epochs of append → probe through frozen router/codebooks match " +
      "frozen-param re-encoding, and the recall gate triggers a " +
      "bit-stable re-snapshot") {
    val s = spark
    val dir = Files.createTempDirectory("graft_veclifecycle_").toFile
    val prev = s.conf.getOption("graft.artifacts.dir")
    s.conf.set("graft.artifacts.dir", dir.getAbsolutePath)
    try {
      // snapshot 0: train + persist the four artifacts from the old corpus
      val routerP = SideTable.ensure(s, "vl_router", "snap0") {
        Embed.kmeansCentroids(old, RouterK, Iters, idCol = "nid",
          vecCol = "vec")
      }
      val cbP = SideTable.ensure(s, "vl_cb", "snap0") {
        Embed.pqCodebooks(old, M, Ksub, Iters, idCol = "nid",
          vecCol = "vec")
      }
      SideTable.ensure(s, "vl_cc", "snap0", partitionBy = Seq("cell")) {
        codesOf(old, s.read.parquet(cbP), s.read.parquet(routerP))
      }
      SideTable.ensure(s, "vl_ex", "snap0") {
        Embed.normalize(old, idCol = "nid", vecCol = "vec")
      }
      val ccP = SideTable.ensure(s, "vl_cc", "snap0")(fail("rebuilt"))
      val exP = SideTable.ensure(s, "vl_ex", "snap0")(fail("rebuilt"))

      var corpus = old
      val recalls = scala.collection.mutable.ArrayBuffer.empty[Double]
      for ((batch, k0) <- batches.zipWithIndex) {
        val router = s.read.parquet(routerP)
        val cb = s.read.parquet(cbP)
        val probes = Embed.cellProbes(batch, router, nprobe = Nprobe,
          queryIdCol = "nid", queryVecCol = "vec").localCheckpoint()
        // artifact-backed search vs the SAME search over a frozen-param
        // re-encode of the corpus-so-far: the append contract
        val got = searchRows(s.read.parquet(ccP), cb,
          s.read.parquet(exP), batch, probes)
        val want = searchRows(codesOf(corpus, cb, router), cb,
          Embed.normalize(corpus, idCol = "nid", vecCol = "vec"),
          batch, probes)
        assert(got === want,
          s"epoch ${k0 + 1}: appended artifacts diverged from " +
            "frozen-param re-encoding")
        recalls += recallOf(got, corpus, batch)
        // append: the batch joins the compressed index and the payload
        SideTable.append(s, "vl_cc", "snap0")(codesOf(batch, cb, router))
        SideTable.append(s, "vl_ex", "snap0")(
          Embed.normalize(batch, idCol = "nid", vecCol = "vec"))
        corpus = corpus.unionByName(batch)
      }
      // in-distribution epochs pass the gate; the drifted epoch trips it
      assert(recalls(0) >= RecallGate, s"epoch 1 recall ${recalls(0)}")
      assert(recalls(1) >= RecallGate, s"epoch 2 recall ${recalls(1)}")
      assert(recalls(2) < RecallGate,
        s"engineered drift epoch did not trip the gate: ${recalls(2)}")

      // re-snapshot under a VERSIONED key: retrain router + codebooks on
      // the corpus-so-far, re-encode, new payload
      val routerP1 = SideTable.ensure(s, "vl_router", "snap1") {
        Embed.kmeansCentroids(corpus, RouterK, Iters, idCol = "nid",
          vecCol = "vec")
      }
      val cbP1 = SideTable.ensure(s, "vl_cb", "snap1") {
        Embed.pqCodebooks(corpus, M, Ksub, Iters, idCol = "nid",
          vecCol = "vec")
      }
      val ccP1 = SideTable.ensure(s, "vl_cc", "snap1",
          partitionBy = Seq("cell")) {
        codesOf(corpus, s.read.parquet(cbP1), s.read.parquet(routerP1))
      }
      val exP1 = SideTable.ensure(s, "vl_ex", "snap1") {
        Embed.normalize(corpus, idCol = "nid", vecCol = "vec")
      }
      // bit-stability: the persisted retrained artifacts equal a fresh
      // in-memory from-scratch build (fixed-point k-means determinism
      // through the parquet round-trip)
      val routerBack = s.read.parquet(routerP1)
        .orderBy("cid").collect().toSeq
      val routerFresh = Embed.kmeansCentroids(corpus, RouterK, Iters,
        idCol = "nid", vecCol = "vec").orderBy("cid").collect().toSeq
      assert(routerBack === routerFresh, "re-snapshot router diverged")
      val codesBack = s.read.parquet(ccP1)
        .select("vec_id", "c0", "c1", "cell")
        .orderBy("vec_id").collect().toSeq
      val codesFresh = codesOf(corpus, s.read.parquet(cbP1),
          s.read.parquet(routerP1))
        .select("vec_id", "c0", "c1", "cell")
        .orderBy("vec_id").collect().toSeq
      assert(codesBack === codesFresh, "re-snapshot codes diverged")

      // the drifted queries recover under the new snapshot (their
      // cluster is now routable; self-consistent on both sides)
      val drift = batches(2)
      val probes1 = Embed.cellProbes(drift, s.read.parquet(routerP1),
        nprobe = Nprobe, queryIdCol = "nid", queryVecCol = "vec")
      val got1 = searchRows(s.read.parquet(ccP1), s.read.parquet(cbP1),
        s.read.parquet(exP1), drift, probes1)
      val recallPost = recallOf(got1, corpus, drift)
      assert(recallPost > recalls(2),
        s"re-snapshot did not improve drift recall: " +
          s"${recalls(2)} -> $recallPost")
      assert(recallPost >= RecallGate,
        s"post-re-snapshot recall still below gate: $recallPost")
    } finally {
      prev.fold(s.conf.unset("graft.artifacts.dir"))(
        s.conf.set("graft.artifacts.dir", _))
      Memo.clearAll()
    }
  }
}
