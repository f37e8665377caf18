package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Memo

/** Third-formulation equivalence for the clustering family: a
  * single-threaded Scala reimplementation of deterministic Lloyd's (the
  * same init, score formula, fixed-point centroid arithmetic, and IEEE
  * left-fold op order) must agree BIT-FOR-BIT with the distributed q80
  * plan — independent of both the Spark plan and the DuckDB oracle.
  * q81's greedy keep-first rule is re-derived the same way. The
  * bit-equality assertion is the point: it proves the fixed-point
  * accumulation really does make the distributed centroid means exact,
  * not approximately reproducible. */
class KMeansSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"
  private val K = 8
  private val Iters = 3
  private val S = 1048576.0d
  private val Tau = 0.45d

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-kmeans")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** First 15 hex chars of md5 as a long — the hash60 primitive. */
  private def h60(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    java.lang.Long.parseLong(
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
        .substring(0, 15), 16)
  }

  /** Strict left-fold dot — the op order of DotProductExpr. */
  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0d; var i = 0
    while (i < a.length) { acc = acc + a(i) * b(i); i += 1 }
    acc
  }

  private def load(): Array[(Long, Array[Double])] =
    spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").orderBy("vec_id").collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray))

  private def assignTo(vs: Array[(Long, Array[Double])],
      cents: Seq[(Long, Array[Double], Double)]) =
    vs.map { case (id, v) =>
      val (cid, sc) = cents
        .map { case (c, cv, cn) => (c, dot(v, cv) - (0.5d * (cn * cn))) }
        .maxBy { case (c, s) => (s, -c) }
      (id, cid, sc, v)
    }

  /** Final centroids after `iters` fixed-point Lloyd rounds over `vs`. */
  private def bruteCentroids(vs: Array[(Long, Array[Double])],
      k: Int = K, iters: Int = Iters)
      : Seq[(Long, Array[Double], Double)] = {
    val dim = vs.head._2.length
    // hash-sampled init: k smallest (h60(id) mod 2^31−1, id) ranks
    var cents: Seq[(Long, Array[Double], Double)] =
      vs.sortBy(t => (h60(t._1.toString) % 2147483647L, t._1)).take(k)
        .map { case (id, v) => (id, v, math.sqrt(dot(v, v))) }.toSeq
    for (_ <- 1 to iters) {
      cents = assignTo(vs, cents).groupBy(_._2).toSeq
        .map { case (cid, rows) =>
          val n = rows.length
          val cv = Array.tabulate(dim) { i =>
            val s = rows.map(r => math.floor(r._4(i) * S).toLong).sum
            (s.toDouble / n.toDouble) / S
          }
          (cid, cv, math.sqrt(dot(cv, cv)))
        }
    }
    cents
  }

  /** (vec_id, cluster, score) after `iters` fixed-point Lloyd rounds,
    * plus the vector and its norm for the semdedup re-derivation. */
  private def bruteKmeans(vs: Array[(Long, Array[Double])],
      k: Int = K, iters: Int = Iters)
      : Array[(Long, Long, Double, Array[Double], Double)] =
    assignTo(vs, bruteCentroids(vs, k, iters)).map { case (id, cid, sc, v) =>
      (id, cid, sc, v, math.sqrt(dot(v, v)))
    }

  /** q81's greedy keep-first rule over a brute clustering at `tau`. */
  private def bruteSemdedup(km: Array[(Long, Long, Double, Array[Double],
      Double)], tau: Double): Array[(Long, Long, Boolean, Option[Long])] = {
    val byCluster = km.groupBy(_._2)
    km.map { case (id, cid, _, v, nrm) =>
      val dom = byCluster(cid)
        .filter { case (bid, _, _, bv, bn) =>
          bid < id && dot(v, bv) / (nrm * bn) >= tau
        }
      val droppedBy =
        if (dom.isEmpty) None else Some(dom.map(_._1).min)
      (id, cid, droppedBy.isEmpty, droppedBy)
    }.sortBy(_._1)
  }

  test("q80 assignments and scores match brute-force Lloyd's bit-for-bit") {
    val brute = bruteKmeans(load())
      .map { case (id, cid, sc, _, _) => (id, cid, sc) }.sortBy(_._1)
    val got = SparkEntry.queries("q80_kmeans")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length === brute.length)
    got.zip(brute).foreach { case (g, b) =>
      assert(g === b, s"assignment diverged at vec_id ${b._1}")
    }
  }

  test("q81 keep decisions match the brute-force greedy keep-first rule") {
    val brute = bruteSemdedup(bruteKmeans(load()), Tau)
    val got = SparkEntry.queries("q81_semdedup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    assert(got.length === brute.length)
    got.zip(brute).foreach { case (g, b) =>
      assert(g === b, s"keep decision diverged at vec_id ${b._1}")
    }
  }

  test("q80/q81 honor graft.kmeans.* and graft.semdedup.tau confs") {
    // The deployment knobs (k ∝ N is the SemDeDup scale rule) must
    // change the computed answer, reproduce the brute-force
    // reimplementation at the SAME parameters, and never serve a memo
    // entry computed under different ones.
    Memo.clearAll()
    spark.conf.set("graft.kmeans.k", "4")
    spark.conf.set("graft.kmeans.iters", "2")
    spark.conf.set("graft.semdedup.tau", "0.6")
    try {
      val km = bruteKmeans(load(), k = 4, iters = 2)
      val brute = km.map { case (id, cid, sc, _, _) => (id, cid, sc) }
        .sortBy(_._1)
      val got = SparkEntry.queries("q80_kmeans")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(got.toSeq === brute.toSeq)
      assert(got.map(_._2).distinct.length <= 4) // really k=4 clusters
      val bruteKeep = bruteSemdedup(km, 0.6d)
      val gotKeep = SparkEntry.queries("q81_semdedup")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3))))
      assert(gotKeep.toSeq === bruteKeep.toSeq)
    } finally {
      spark.conf.unset("graft.kmeans.k")
      spark.conf.unset("graft.kmeans.iters")
      spark.conf.unset("graft.semdedup.tau")
      Memo.clearAll()
    }
  }

  test("q82 recall is well-formed and quantization error is small") {
    val rows = SparkEntry.queries("q82_quantized_ann")(spark, dir)
      .collect()
    assert(rows.length === 5) // one audit row per query vector
    rows.foreach { r =>
      val nHit = r.getLong(1); val recall = r.getDouble(2)
      assert(nHit >= 0 && nHit <= 5)
      assert(recall === nHit.toDouble / 5.0d)
      // int8 keeps ~7 significant bits: cosine error stays ~1e-3
      assert(r.getDouble(3) >= 0.0d && r.getDouble(3) < 0.05d,
        s"quantization error implausibly large: ${r.getDouble(3)}")
    }
  }

  test("q90 re-rank matches the brute two-stage retrieval") {
    // Stage 1: top-20 candidates by quantized cosine (q82's grid);
    // stage 2: exact-cosine re-rank of the candidate set to top-5.
    // Ties break to the lower vec_id on both stages, mirroring the
    // TopK aggregate's (score DESC, id ASC) order.
    val vs = load()
    val exact = vs.toMap
    val qz = vs.flatMap { case (id, v) =>
      val mx = v.map(math.abs).max
      if (mx <= 0) None
      else {
        val qv = v.map(x => math.floor((x * (127.0d / mx)) + 0.5d))
        Some((id, qv, math.sqrt(dot(qv, qv))))
      }
    }
    val expect = qz.filter(_._1 < 5).sortBy(_._1)
      .flatMap { case (qid, qqv, qqn) =>
        val cand = qz.filter(_._1 != qid)
          .map { case (id, qv, qn) => (id, dot(qqv, qv) / (qqn * qn)) }
          .sortBy { case (id, cos) => (-cos, id) }.take(20).map(_._1)
        val ev = exact(qid); val en = math.sqrt(dot(ev, ev))
        cand.map { id =>
          val v = exact(id)
          (id, dot(ev, v) / (en * math.sqrt(dot(v, v))))
        }.sortBy { case (id, cos) => (-cos, id) }.take(5).zipWithIndex
          .map { case ((id, cos), i) => (qid, id, cos, i + 1) }
      }
    val got = SparkEntry.queries("q90_rerank_ann")(spark, dir)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(got.toSeq === expect.toSeq)
  }

  test("q91 OOD audit matches the brute-force max-cosine fit") {
    val vs = load()
    val cut = vs.map(_._1).max * 4 / 5
    val cents = bruteCentroids(vs.filter(_._1 < cut))
    val fits = vs.filter(_._1 >= cut).map { case (id, v) =>
      val nrm = math.sqrt(dot(v, v))
      cents.map { case (c, cv, cn) => (c, dot(v, cv) / (nrm * cn)) }
        .maxBy { case (c, s) => (s, -c) }
    }
    val expect = fits.groupBy(_._1).toSeq.map { case (cid, xs) =>
      val nOod = xs.count(_._2 < 0.12d).toLong
      (cid, xs.length.toLong, nOod,
        nOod.toDouble / xs.length.toDouble, xs.map(_._2).min)
    }.sortBy(_._1)
    val got = SparkEntry.queries("q91_batch_ood")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(got.toSeq === expect)
  }

  test("q85 sample matches the brute-force per-cluster hash ranking") {
    val brute = bruteKmeans(load())
      .groupBy(_._2).toSeq.flatMap { case (cid, rows) =>
        rows.map(_._1)
          .sortBy(id => (h60(id.toString) % 2147483647L, id))
          .take(10).zipWithIndex
          .map { case (id, i) => (cid, id, i + 1) }
      }.sortBy(t => (t._1, t._3))
    val got = SparkEntry.queries("q85_cluster_sample")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.toSeq === brute)
  }

  test("q88 incremental semdedup matches the brute-force drop rule") {
    // Old corpus clustered alone (the artifact state); batch assigned to
    // those centroids; a batch vector drops if ANY same-cluster
    // earlier-id vector (old member or earlier batch mate) has cosine
    // ≥ τ — q81's matrix-pass rule extended incrementally.
    val vs = load()
    val cut = vs.map(_._1).max * 4 / 5
    val cents = bruteCentroids(vs.filter(_._1 < cut))
    val oldAsg = assignTo(vs.filter(_._1 < cut), cents)
    val batchAsg = assignTo(vs.filter(_._1 >= cut), cents)
    val all = (oldAsg ++ batchAsg).map { case (id, cid, _, v) =>
      (id, cid, v, math.sqrt(dot(v, v)))
    }
    val byCluster = all.groupBy(_._2)
    val expect = batchAsg.map { case (id, cid, _, v) =>
      val nrm = math.sqrt(dot(v, v))
      val dom = byCluster(cid).filter { case (aid, _, av, an) =>
        aid < id && dot(v, av) / (nrm * an) >= Tau
      }
      val droppedBy = if (dom.isEmpty) None else Some(dom.map(_._1).min)
      (id, cid, droppedBy.isEmpty, droppedBy)
    }.sortBy(_._1)
    val got = SparkEntry.queries("q88_incremental_semdedup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    assert(got.toSeq === expect.toSeq)
  }

  test("q86 batch assignment matches brute-force old-corpus Lloyd's") {
    val vs = load()
    val cut = vs.map(_._1).max * 4 / 5
    val cents = bruteCentroids(vs.filter(_._1 < cut))
    val expect = assignTo(vs.filter(_._1 >= cut), cents)
      .map { case (id, cid, sc, _) => (id, cid, sc) }.sortBy(_._1)
    val got = SparkEntry.queries("q86_incremental_assign")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq === expect.toSeq)
  }

  test("q96 negatives are in-cluster, different-label, null only when impossible") {
    // Internal consistency of the hard-negative output, independent of
    // the oracle: a non-null negative must live in the anchor's cluster
    // with a different label; a NULL is legitimate ONLY when the
    // anchor's whole cluster shares its label.
    val out = SparkEntry.queries("q96_hard_negatives")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    val cluster = out.map(r => r._1 -> r._2).toMap
    val label = out.map(r => r._1 -> r._3).toMap
    val byCluster = out.groupBy(_._2)
    for ((vid, cid, lab, neg) <- out) neg match {
      case Some(nid) =>
        assert(cluster(nid) === cid, s"negative of $vid is out of cluster")
        assert(label(nid) !== lab, s"negative of $vid shares label $lab")
      case None =>
        assert(byCluster(cid).forall(_._3 == lab),
          s"anchor $vid has an eligible negative but mined NULL")
    }
  }

  test("q99 triplets are in-cluster, label-consistent, and agree with q96") {
    // The triplet table's negative side must be EXACTLY q96's mining
    // (same rule, same tie-break), and the positive side must be an
    // in-cluster same-label mate — with NULL only when the cluster
    // truly lacks one.
    val t = SparkEntry.queries("q99_triplet_mining")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        if (r.isNullAt(3)) None else Some((r.getLong(3), r.getDouble(4))),
        if (r.isNullAt(5)) None else Some((r.getLong(5), r.getDouble(6)))))
    val q96 = SparkEntry.queries("q96_hard_negatives")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some((r.getLong(3), r.getDouble(4)))))
      .toMap
    val cluster = t.map(r => r._1 -> r._2).toMap
    val label = t.map(r => r._1 -> r._3).toMap
    val byCluster = t.groupBy(_._2)
    for ((vid, cid, lab, pos, neg) <- t) {
      assert(neg === q96(vid), s"q99 negative for $vid diverges from q96")
      pos match {
        case Some((pid, _)) =>
          assert(cluster(pid) === cid, s"positive of $vid out of cluster")
          assert(label(pid) === lab, s"positive of $vid wrong label")
        case None =>
          assert(byCluster(cid).count(_._3 == lab) == 1,
            s"anchor $vid has an eligible positive but mined NULL")
      }
    }
  }

  test("q81 reuses the session's q80 clustering (memo populated)") {
    Memo.clearAll()
    assert(Memo.named("km").size === 0)
    SparkEntry.queries("q80_kmeans")(spark, dir).count()
    assert(Memo.named("km").size === 1)
    SparkEntry.queries("q81_semdedup")(spark, dir).count()
    assert(Memo.named("km").size === 1)
    Memo.clearAll()
  }
}
