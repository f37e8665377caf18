package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Conf, Graft, Par}

/** q214 — the MEDIA crawl-ingest loop as a Structured Streaming
  * deployment: the q111 discipline applied to the media content-dedup
  * family (video fingerprints q202/q209, clip containment q205/q213,
  * audio fingerprints q206/q210). Media batches ARRIVE as a stream;
  * each micro-batch decodes ONLY ITSELF — one video-frame decode pass
  * and one PCM decode pass per epoch, shared by every member (the
  * one-generator-pass discipline of q109) — probes the accumulated
  * fingerprint state, reports arrival-time verdicts for the batch, and
  * appends its own fingerprints for later epochs via
  * [[graft.sources.SideTable.append]].
  *
  * Accumulated state (seeded from the SAME persisted snapshot
  * artifacts q209/q210/q213 build — shared identity, so a pipeline
  * running both never decodes the old corpus twice):
  *   - `media_seen_fp_v2`  per-video content fingerprints (q202 sig),
  *   - `media_seen_fh_v2`  per-video DISTINCT frame-hash sets (q205),
  *   - `media_seen_au_v2`  per-recording PCM stat tuples (q206).
  * The `_v2` suffix marks the r17 semantics change from
  * snapshot-copy+deltas to DELTA-ONLY artifacts (probes read
  * snapshot ∪ delta): a same-application resume that kept a v1
  * (snapshot-copied) artifact under the old name would double-count
  * snapshot rows through the union — the rename makes old-format
  * artifacts unreachable instead of silently incompatible.
  *
  * Semantics are ARRIVAL-TIME and epoch-invariant by the cut-split
  * argument: feed order is id order, so every group member smaller
  * than a batch video has already arrived when it does — its
  * `dup_of` (group minimum ≤ it), `n_prior` (members strictly
  * smaller) and `is_dup` equal the from-scratch whole-corpus window
  * values exactly, and the oracle replays them with one
  * `row_number()/min() OVER (PARTITION BY fingerprint ORDER BY
  * media_id)` pass. Clip pairs land in the LARGER side's epoch (both
  * sides have arrived then), so the union of per-epoch pair counts is
  * q213's output grouped per batch video.
  *
  * Scale shape: per-epoch decode is batch-proportional; the
  * accumulated artifacts are SCANNED (filterable parquet reads, the
  * q111 seen-index discipline) but only collision-RELEVANT rows
  * shuffle — each member semi-joins the accumulated side on the
  * batch's own fingerprint keys (broadcast, batch-bounded) before any
  * window/join, and clip denominators are fetched for candidate
  * videos only. The capBuckets guard on the shared-frame surface is
  * ARRIVAL-TIME (a deployment caps what it has seen); the oracle
  * mirrors the cap against the full corpus, so the verify gate is
  * valid while no bucket crosses the cap mid-run (loud drop
  * accounting fires if one ever does — the q205 documented bound).
  *
  * Truncated media (undecodable video %11==5 / audio %11==3) emit no
  * fingerprints; their record columns carry the −1 sentinel on BOTH
  * engines (never NULL: nullable int64 output would downgrade to
  * float64 in the driver's pandas compare).
  */
object MediaIngest {

  /** Per-frame content hash WITH the frame index (q202 grain). */
  private def hIdx = graft.functions.TextFunctions.hash60(concat_ws(":",
    col("frame_idx"), col("width"), col("height"),
    col("p_sum"), col("p_min"), col("p_max")))

  /** Per-frame content hash WITHOUT the index (q205 grain). */
  private def hNoIdx = graft.functions.TextFunctions.hash60(concat_ws(":",
    col("width"), col("height"),
    col("p_sum"), col("p_min"), col("p_max")))

  private[graft] def runStream(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.{Dataset, Row}
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import graft.sources.SideTable

    // Phase timing — the q111 decomposition discipline: fixed overhead
    // (snapshot ensure, state seed) vs per-epoch member work must be
    // separable before optimizing (see PhaseTimer).
    val timed = new PhaseTimer("q214-timing")

    val d = Graft.parquetSource(s, dir).table("documents")
    val cut = BatchCut.cut(s, d)
    val fpr = Some(s"$dir/documents.parquet")

    // frozen snapshot artifacts — identity-SHARED with q209/q210/q213
    val snapFp = timed("ensure-video_fp")(SideTable.ensure(s, "video_fp", s"$dir#$cut", fpr) {
      Media.videoSig(Media.syntheticMjpegVideos(
        d.where(col("doc_id") < cut)))
    })
    val snapFh = timed("ensure-video_fh")(SideTable.ensure(s, "video_fh", s"$dir#$cut", fpr) {
      Media.videoFrameHashes(Media.syntheticMjpegVideos(
        d.where(col("doc_id") < cut)))
    })
    val snapAu = timed("ensure-audio_fp")(SideTable.ensure(s, "audio_fp", s"$dir#$cut", fpr) {
      Media.audioStats(Media.syntheticPcmAudio(
        d.where(col("doc_id") < cut)))
    })

    // per-run accumulated state (the q76/q111 discipline): DELTA-ONLY
    // artifacts seeded EMPTY (schema from the snapshots) under a
    // transient refresh so reruns are idempotent; every probe reads
    // snapshot ∪ delta — the same rows the old copied-snapshot seed
    // held, without re-writing the whole snapshot per run (guide §2.3:
    // don't move bytes a scan-side union can reference in place).
    // Application id in the identity so concurrent JVMs never share
    // in-flight state. The run drops them when it ends, as q111 drops
    // `ingest_*`; a deployment that RESUMES ingestion would keep the
    // artifacts and skip the refresh.
    val runKey = s"$dir#$cut#mediaingest#${s.sparkContext.applicationId}"
    val Seq(seenFp, seenFh, seenAu) = timed("seed-state") {
      SideTable.refreshing(s)(Par.scope(s, "q214-seed") { p =>
        // three independent tiny ensure-writes — concurrent tasks
        Seq("media_seen_fp_v2" -> snapFp, "media_seen_fh_v2" -> snapFh,
          "media_seen_au_v2" -> snapAu).map { case (n, snap) =>
          p.async(n)(SideTable.ensure(s, n, runKey, fpr) {
            s.read.parquet(snap).limit(0) })
        }.map(_.get)
      })
    }
    // the accumulated view each member probes: frozen snapshot ∪ the
    // arrived deltas (identical rows to the old seeded copy)
    def seenView(snap: String, delta: String): DataFrame =
      s.read.parquet(snap).unionByName(s.read.parquet(delta))

    // driver-side id collect = the MemoryStream harness seam (bounded
    // by |stream|; a deployment's source is Kafka/files)
    val ids = d.where(col("doc_id") >= cut).select(col("doc_id"))
      .orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    val nEpochs = Conf.StreamEpochs(s)
    val chunks =
      if (ids.isEmpty) Seq.empty
      else ids.grouped(
        math.max(1, (ids.length + nEpochs - 1) / nEpochs)).toSeq
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Long]
    Par.scope(s, "q214") { p =>
      val recs = scala.collection.mutable.ArrayBuffer
        .empty[Par.Task[DataFrame]]

      val query = ms.toDF().toDF("doc_id").writeStream
        .outputMode("append")
        .foreachBatch { (epochIds: Dataset[Row], epochNo: Long) =>
          val bodyT0 = System.nanoTime()
          def mark(l: String): Unit =
            timed.since(bodyT0, f"  epoch-$epochNo +$l%-10s")
          val batchDocs =
            d.join(broadcast(epochIds), Seq("doc_id"), "left_semi")
          val bids = epochIds.select(col("doc_id").as("media_id"))
            .localCheckpoint() // tiny (one row per media id), but MUST be
            // pinned before the record task launches: the task runs
            // after the micro-batch may have committed, and a frame
            // derived from the foreachBatch argument is only re-executable
            // then because Spark's ForeachBatchSink happens to wrap the
            // batch in a LogicalRDD over the materialized RDD — the
            // checkpoint makes the record assembly genuinely
            // sink-independent instead of relying on that wrapping

          // ONE decode pass per modality per epoch, shared by all members.
          // The PCM decode runs on a task FIRST so it overlaps the video
          // decode (guide §2.6 — independent jobs back-fill each other);
          // the two batch fingerprint projections then materialize on
          // tasks too, so neither serializes the other on the driver.
          val fAudioStats = p.async(s"e$epochNo/audio-stats") {
            Media.audioStats(Media.syntheticPcmAudio(batchDocs))
              .localCheckpoint() // verdict member AND the state append
          }
          val frames = graft.functions.Multimodal.decodeVideoFrames(
              Media.syntheticMjpegVideos(batchDocs))
            .localCheckpoint() // sig AND frame-hash projections
          mark("frames")
          val fSig = p.async(s"e$epochNo/sig") {
            frames.select(col("media_id"), hIdx.as("h"))
              .groupBy(col("media_id"))
              .agg(sum(col("h")).as("fp"),
                count(lit(1)).cast("long").as("n_frames"))
              .localCheckpoint() // verdict member AND the state append
          }
          val fFh = p.async(s"e$epochNo/fh") {
            frames.select(col("media_id"), hNoIdx.as("h"))
              .distinct()
              .localCheckpoint() // clip member AND the state append
          }

          // video content-dedup member: arrival-time window verdicts over
          // the collision-RELEVANT slice of accumulated ∪ batch
          val fVideo = p.async(s"e$epochNo/video") {
            val batchSig = fSig.get
            val bFps = batchSig.select(col("fp")).distinct()
            val rel = seenView(snapFp, seenFp).unionByName(batchSig)
              .join(broadcast(bFps), Seq("fp"), "left_semi")
            val w = Window.partitionBy(col("fp")).orderBy(col("media_id"))
            rel.select(col("media_id"), col("fp"),
                col("n_frames").as("v_nf"),
                min(col("media_id")).over(w).as("v_dup_of"),
                (row_number().over(w) - 1).cast("long").as("v_n_prior"))
              .join(broadcast(bids), Seq("media_id"), "left_semi")
              .localCheckpoint()
          }

          // audio content-dedup member: same shape on the stat tuple
          val fAudio = p.async(s"e$epochNo/audio") {
            val batchAu = fAudioStats.get
            val keys = Media.AudioKeys
            val bKeys = batchAu.select(keys.map(col): _*).distinct()
            val rel = seenView(snapAu, seenAu).unionByName(batchAu)
              .join(broadcast(bKeys), keys, "left_semi")
            val w = Window.partitionBy(keys.map(col): _*)
              .orderBy(col("media_id"))
            (batchAu,
              rel.select(col("media_id"),
                min(col("media_id")).over(w).as("a_dup_of"),
                (row_number().over(w) - 1).cast("long").as("a_n_prior"))
              .join(broadcast(bids), Seq("media_id"), "left_semi")
              .localCheckpoint())
          }

          // clip member: q213's probe per epoch — relevant rows only,
          // denominators fetched for candidate videos alone
          val fClip = p.async(s"e$epochNo/clip") {
            val batchFh = fFh.get
            val bHs = batchFh.select(col("h")).distinct()
            val all = seenView(snapFh, seenFh).unionByName(batchFh)
            // whole buckets survive the semi-join (membership is by h),
            // so relevant-slice bucket counts equal full-corpus counts.
            // Checkpointed: three consumers (the cap's stats job, both
            // shared-join sides) — measured 0.3 s/epoch FASTER than
            // re-running the semi-join per consumer (guide §1.1: tried
            // lazy, reverted on measurement). r18: window-count cap
            // fusion also tried, also reverted on measurement
            // (OPTIMIZATION_r18.md)
            val rel = all.join(broadcast(bHs), Seq("h"), "left_semi")
              .localCheckpoint()
            val capped = graft.ops.Dedup.capBuckets(rel, Seq("h"), s,
              "q214 frame-hash buckets", Conf.DedupMaxBucket(s))
            val shared = capped.select(col("media_id").as("m1"), col("h"))
              .join(capped.join(broadcast(bids), Seq("media_id"),
                  "left_semi")
                .select(col("media_id").as("m2"), col("h")), Seq("h"))
              .where(col("m1") < col("m2"))
              .groupBy(col("m1"), col("m2"))
              .agg(count(lit(1)).cast("long").as("n_shared"))
              .localCheckpoint()
            val candMedia = shared.select(col("m1").as("media_id"))
              .unionByName(shared.select(col("m2").as("media_id")))
              .distinct()
            val nf = all.join(broadcast(candMedia), Seq("media_id"),
                "left_semi")
              .groupBy(col("media_id"))
              .agg(count(lit(1)).cast("long").as("n"))
            shared
              .join(broadcast(nf.select(col("media_id").as("m1"),
                col("n").as("n1"))), Seq("m1"))
              .join(broadcast(nf.select(col("media_id").as("m2"),
                col("n").as("n2"))), Seq("m2"))
              .where(expr("(n_shared * 1000000L) div least(n1, n2)")
                >= 500000L)
              .groupBy(col("m2").as("media_id"))
              .agg(count(lit(1)).cast("long").as("cp"))
              .localCheckpoint()
          }

          val vver = fVideo.get
          mark("video")
          val (batchAu, aver) = fAudio.get
          mark("audio")
          val clip = fClip.get
          mark("clip")
          val batchSig = fSig.get
          val batchFh = fFh.get

          // state transitions AFTER scoring — three independent
          // artifacts, visible to every later epoch's probes; they stay
          // inside the epoch barrier (later epochs read them), while the
          // record assembly below overlaps them AND the next epoch
          val fAppends = Seq("media_seen_fp_v2" -> batchSig,
              "media_seen_fh_v2" -> batchFh, "media_seen_au_v2" -> batchAu)
            .map { case (n, rows) => p.async(s"e$epochNo/append-$n")(
              SideTable.append(s, n, runKey, fpr)(rows)) }

          // the batch record: −1 sentinels for undecodable modalities
          // (is_dup computed BEFORE its n_prior is sentinel-folded).
          // PURE COMPOSITION over already-checkpointed frames (bids
          // included — see its checkpoint note above), so
          // it materializes on a background task that overlaps the next
          // epoch (the q111 assembly discipline; only the final epoch's
          // assembly is paid as a tail)
          recs += p.async(s"e$epochNo/record") { bids
            .join(vver, Seq("media_id"), "left")
            .join(aver, Seq("media_id"), "left")
            .join(clip, Seq("media_id"), "left")
            .select(col("media_id"),
              coalesce(col("fp"), lit(-1L)).as("v_fp"),
              coalesce(col("v_nf"), lit(-1L)).as("v_nf"),
              coalesce(col("v_dup_of"), lit(-1L)).as("v_dup_of"),
              coalesce(col("v_n_prior"), lit(-1L)).as("v_n_prior"),
              coalesce((col("v_n_prior") > 0).cast("int"), lit(-1))
                .as("v_is_dup"),
              coalesce(col("a_dup_of"), lit(-1L)).as("a_dup_of"),
              coalesce(col("a_n_prior"), lit(-1L)).as("a_n_prior"),
              coalesce((col("a_n_prior") > 0).cast("int"), lit(-1))
                .as("a_is_dup"),
              coalesce(col("cp"), lit(0L)).as("clip_pairs"))
            .localCheckpoint()
          }
          mark("record")
          fAppends.foreach(_.get)
          mark("appends")
          ()
        }
        .start()
      try {
        chunks.foreach { c => ms.addData(c); query.processAllAvailable() }
        // the final epoch's assembly: its rows are the result
        timed("assembly-tail")(recs.foreach(_.get))
      } finally timed("stop-drop") {
        query.stop()
        // the records are eager local checkpoints: the result reads none
        // of the per-run state
        Seq("media_seen_fp_v2", "media_seen_fh_v2", "media_seen_au_v2")
          .foreach(SideTable.drop(s, _, runKey, fpr))
      }

      recs.map(_.get).reduceOption(_ unionByName _)
        .getOrElse(s.createDataFrame(s.sparkContext.emptyRDD[Row],
          org.apache.spark.sql.types.StructType.fromDDL("media_id BIGINT, " +
            "v_fp BIGINT, v_nf BIGINT, v_dup_of BIGINT, v_n_prior BIGINT, " +
            "v_is_dup INT, a_dup_of BIGINT, a_n_prior BIGINT, " +
            "a_is_dup INT, clip_pairs BIGINT")))
        .orderBy("media_id")
    }
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q214_stream_media_ingest" -> ((s, dir) => runStream(s, dir)))

  // whole-corpus window replay: arrival-time verdicts are epoch-
  // invariant (see the runStream scaladoc), so one PARTITION BY
  // fingerprint ORDER BY media_id pass reproduces every epoch's view;
  // clip counts are q213's gated pairs grouped per larger side
  val oracles: Map[String, String] = Map(
    "q214_stream_media_ingest" ->
      (Media.videoSrcCtes + ", " +
        Media.audioSrcCtes.stripPrefix("WITH ") + s""", vfh AS (
        |  SELECT media_id,
        |    ('0x' || substr(md5(
        |      frame_idx::VARCHAR || ':' || w::VARCHAR || ':' ||
        |      h::VARCHAR || ':' ||
        |      (64 * list_sum(bv))::BIGINT::VARCHAR || ':' ||
        |      list_min(bv)::BIGINT::VARCHAR || ':' ||
        |      list_max(bv)::BIGINT::VARCHAR), 1, 15))::BIGINT AS hh
        |  FROM vs
        |), sig AS (
        |  SELECT media_id, sum(hh)::BIGINT AS fp,
        |    count(*)::BIGINT AS nf
        |  FROM vfh GROUP BY media_id
        |), vver AS (
        |  SELECT media_id, fp, nf,
        |    min(media_id) OVER w AS v_dup_of,
        |    (row_number() OVER w - 1)::BIGINT AS v_n_prior
        |  FROM sig WINDOW w AS (PARTITION BY fp ORDER BY media_id)
        |), fh2 AS (
        |  SELECT DISTINCT media_id,
        |    ('0x' || substr(md5(
        |      w::VARCHAR || ':' || h::VARCHAR || ':' ||
        |      (64 * list_sum(bv))::BIGINT::VARCHAR || ':' ||
        |      list_min(bv)::BIGINT::VARCHAR || ':' ||
        |      list_max(bv)::BIGINT::VARCHAR), 1, 15))::BIGINT AS hh
        |  FROM vs
        |), nf2 AS (
        |  SELECT media_id, count(*)::BIGINT AS n FROM fh2 GROUP BY 1
        |), hb AS (
        |  SELECT hh FROM fh2 GROUP BY hh HAVING count(*) <= ${Conf.DedupMaxBucket.default}
        |), pr AS (
        |  SELECT a.media_id AS m1, b.media_id AS m2,
        |    count(*)::BIGINT AS n_shared
        |  FROM fh2 a JOIN fh2 b ON a.hh = b.hh AND a.media_id < b.media_id
        |  JOIN hb ON hb.hh = a.hh
        |  GROUP BY 1, 2
        |), cl AS (
        |  SELECT m2 AS media_id, count(*)::BIGINT AS cp
        |  FROM pr JOIN nf2 na ON na.media_id = m1
        |  JOIN nf2 nb ON nb.media_id = m2
        |  WHERE (n_shared * 1000000) // least(na.n, nb.n) >= 500000
        |  GROUP BY 1
        |), st AS (
        |  SELECT media_id,
        |    ch AS channels, bits AS bit_depth, nf AS n_frames,
        |    list_sum(c0)::BIGINT AS c0_sum,
        |    list_min(c0)::INT AS c0_min,
        |    list_max(c0)::INT AS c0_max,
        |    coalesce(list_sum(c1)::BIGINT, -999999999999) AS k1,
        |    coalesce(list_min(c1)::BIGINT, -999999999999) AS k2,
        |    coalesce(list_max(c1)::BIGINT, -999999999999) AS k3
        |  FROM as_ WHERE NOT trunc
        |), aver AS (
        |  SELECT media_id,
        |    min(media_id) OVER w AS a_dup_of,
        |    (row_number() OVER w - 1)::BIGINT AS a_n_prior
        |  FROM st WINDOW w AS (PARTITION BY channels, bit_depth,
        |    n_frames, c0_sum, c0_min, c0_max, k1, k2, k3
        |    ORDER BY media_id)
        |)
        |SELECT dd.media_id,
        |  coalesce(v.fp, -1) AS v_fp,
        |  coalesce(v.nf, -1) AS v_nf,
        |  coalesce(v.v_dup_of, -1) AS v_dup_of,
        |  coalesce(v.v_n_prior, -1) AS v_n_prior,
        |  coalesce((v.v_n_prior > 0)::INT, -1) AS v_is_dup,
        |  coalesce(a.a_dup_of, -1) AS a_dup_of,
        |  coalesce(a.a_n_prior, -1) AS a_n_prior,
        |  coalesce((a.a_n_prior > 0)::INT, -1) AS a_is_dup,
        |  coalesce(c.cp, 0) AS clip_pairs
        |FROM (SELECT doc_id AS media_id FROM documents
        |      WHERE doc_id >= (SELECT (max(doc_id) * 4) // 5
        |                       FROM documents)) dd
        |LEFT JOIN vver v USING (media_id)
        |LEFT JOIN aver a USING (media_id)
        |LEFT JOIN cl c USING (media_id)
        |ORDER BY dd.media_id""".stripMargin))
}
