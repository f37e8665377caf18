package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main — runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line for the driver.
  * The noop sink materializes every output row/column (count() would let
  * Catalyst prune the plan down to nothing for scan-shaped queries).
  */
object Bench {
  /** Whole-device cumulative (sectorsRead, sectorsWritten) from
    * /proc/diskstats — partitions are excluded so sectors aren't double
    * counted. (0,0) when unreadable (non-Linux): deltas then read 0 and
    * the diagnosis fields are inert, never wrong. */
  private def diskSectors(): (Long, Long) =
    try {
      val dev = "^(sd[a-z]+|nvme\\d+n\\d+|vd[a-z]+|xvd[a-z]+|mmcblk\\d+)$".r
      val sums = scala.io.Source.fromFile("/proc/diskstats").getLines()
        .map(_.trim.split("\\s+"))
        .filter(f => f.length >= 10 && dev.pattern.matcher(f(2)).matches())
        .map(f => (f(5).toLong, f(9).toLong)).toSeq
      (sums.map(_._1).sum, sums.map(_._2).sum)
    } catch { case _: Exception => (0L, 0L) }

  /** 1-minute loadavg; -1 when unreadable. */
  private def loadAvg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString
      .split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** MemAvailable in MB; -1 when unreadable. */
  private def memAvailMb(): Long =
    try scala.io.Source.fromFile("/proc/meminfo").getLines()
      .find(_.startsWith("MemAvailable:"))
      .map(_.split("\\s+")(1).toLong / 1024).getOrElse(-1L)
    catch { case _: Exception => -1L }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The run's effective graft.* conf (file artifact only): per table
    // key, the value a read gets (null: unset, no default) and whether
    // the session set it. Read before any query runs; a malformed value
    // fails here, naming its key.
    val confJson = Conf.entries.map { e =>
      val v = e.effective(spark).fold("null")(x =>
        "\"" + x.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
      val set = spark.conf.getOption(e.key).isDefined
      s""""${e.key}":{"value":$v,"set":$set}"""
    }.mkString("{", ",", "}")
    // Optional perf protocol (reference metric names) — SPARK_GRAFT_PERF=1
    val perf = if (sys.env.get("SPARK_GRAFT_PERF").contains("1"))
      Some(graft.tools.PerfLogger.install(spark)) else None
    // Warm the session (parquet footers, codegen, JIT) outside the timings
    // so per-query numbers measure the query, not first-touch overhead.
    SparkEntry.queries.get("q01_full_scan")
      .foreach(fn => fn(spark, sfDir).write.format("noop")
        .mode("overwrite").save())
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => args.isEmpty || args.contains(n) }
    // A single timed pass per query is hostage to whatever the host does
    // during that one window — a shared sandbox hit a contended interval
    // and recorded 56 s for a query that runs in 2.2 s on a quiet host.
    // Defense: time N passes per query and report the MEDIAN as the
    // headline (robust to a contended window without biasing low the way
    // a minimum would vs a single-pass reference protocol — the reference
    // harness times each case once per process run), keeping the sum of
    // per-query minima alongside as the quiet-host bound.
    val reps = sys.env.get("SPARK_GRAFT_REPS").map(_.toInt).getOrElse(3).max(1)
    val cold = sys.env.get("SPARK_GRAFT_COLD").contains("1")
    val effReps = if (cold) 1 else reps
    // Self-diagnosis (file artifact only — the stdout protocol is
    // unchanged): raw per-rep times in execution order plus per-rep
    // whole-device disk-sector deltas and a loadavg/mem snapshot per
    // query. Two recorded rounds running, the driver-captured totals sat
    // ~20% above every same-protocol reproduction, concentrated in the
    // artifact-write family — with these counters the artifact itself
    // adjudicates "capture-window I/O contention" (high rep variance +
    // disk counters spiking) vs "code got slower" (tight reps, uniformly
    // up) without needing a second run to compare against.
    val sysStart = (diskSectors(), loadAvg(), memAvailMb())
    val diag = scala.collection.mutable.LinkedHashMap
      .empty[String, String]
    def f(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val results = selected.map { case (name, fn) =>
      // One untimed warm pass, then the timed passes: measures steady-state
      // throughput. A fresh JVM pays ~1-2 s of Janino+JIT compilation per
      // generated stage on a query's FIRST execution (a multi-stage query
      // measured 25-33 s cold vs 2-3 s warm at sf0.1) — cost that is a
      // constant independent of data volume, i.e. zero at the 100 TB
      // design point. The reference is an AOT-compiled native engine
      // whose first run IS its steady state, so warm-run timing is the
      // apples-to-apples comparison; set SPARK_GRAFT_COLD=1 to time
      // first executions instead.
      try {
        if (!cold) {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          spark.catalog.clearCache()
        }
      } catch { case _: Throwable => () }
      // A rep that THROWS contributes no timing: a broken query must show
      // up as "err" in the JSON, not as a near-zero elapsed time silently
      // deflating the median and totals.
      val qLoad = loadAvg()
      val qMem = memAvailMb()
      val reps0 = (1 to effReps).map { _ =>
        val d0 = diskSectors()
        val t0 = System.nanoTime()
        val ok =
          try {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            true
          } catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            false
          }
        val elapsed = (System.nanoTime() - t0) / 1e9
        val d1 = diskSectors()
        // queries cache intermediates for their own self-joins; drop them
        // so caches don't accumulate memory pressure across the suite
        spark.catalog.clearCache()
        // ContextCleaner frees shuffle/broadcast state only when the driver
        // GCs the referencing objects; across 100+ executions the pending
        // backlog grows per-action overhead severalfold (a 6-action query
        // measured 9 s solo vs 49-65 s at suite end). An explicit GC per
        // query keeps cleanup current — outside the timed window.
        System.gc()
        (elapsed, d1._1 - d0._1, d1._2 - d0._2, ok)
      }
      // diag row: raw times in EXECUTION order (the sorted view hides
      // which rep was the outlier), per-rep disk-sector deltas (whole
      // suite shares the device, so a spike here is contention evidence),
      // loadavg + MemAvailable sampled at query start
      diag(name) = "{\"t\":[" +
        reps0.map(r => if (r._4) f(r._1) else "-1").mkString(",") +
        "],\"rd\":[" + reps0.map(_._2).mkString(",") +
        "],\"wr\":[" + reps0.map(_._3).mkString(",") +
        s"""],"load":${f(qLoad)},"mem_mb":$qMem}"""
      val times = reps0.filter(_._4).map(_._1).sorted
      perf.foreach(_.checkpoint(name))
      // Suite-aging diagnostics (SPARK_GRAFT_STORAGE=1): snapshot what
      // survives clearCache+GC after each query — persisted-RDD block
      // count and bytes (localCheckpoint blocks live here until their
      // frames are unreachable AND the ContextCleaner drains), each
      // memo's size/hits/misses, and JIT code-cache occupancy.
      // Stderr-only; the stdout protocol is unchanged.
      if (sys.env.get("SPARK_GRAFT_STORAGE").contains("1")) {
        val infos = spark.sparkContext.getRDDStorageInfo
        val mem = infos.map(_.memSize).sum / (1 << 20)
        val dsk = infos.map(_.diskSize).sum / (1 << 20)
        val cc = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
          .stream.filter(p => p.getName.contains("CodeHeap") ||
            p.getName.contains("Code Cache"))
          .mapToLong(_.getUsage.getUsed).sum / (1 << 20)
        System.err.println(s"[storage] $name rdds=${infos.length} " +
          s"mem=${mem}MB disk=${dsk}MB codeCache=${cc}MB " +
          s"memos=${graft.sources.Memo.summary}")
      }
      // Bisect lever (SPARK_GRAFT_RESET=1): drop every session memo
      // between queries, so a suite run measures each query without
      // memo-held checkpoint blocks from earlier queries. NOT the
      // default protocol — memo reuse is intended behavior (q53/q27).
      if (sys.env.get("SPARK_GRAFT_RESET").contains("1")) {
        graft.sources.Memo.clearAll()
        System.gc()
      }
      (name, times)
    }
    perf.foreach(_.finish())
    // One compact JSON line for the driver. The driver keeps only a
    // 2000-char tail of the run's output, so the line must stay well
    // under that: values rounded to 3 decimals, ONE per-query map
    // (medians — the headline protocol), minima summarized as a scalar.
    // True median: average the two middle elements for even rep counts.
    def median(ts: Seq[Double]): Double =
      if (ts.length % 2 == 1) ts(ts.length / 2)
      else (ts(ts.length / 2 - 1) + ts(ts.length / 2)) / 2
    // Stable-median sidecar, TWO triggers (the r15 lesson — a host
    // contended for the whole capture window produces reps that are
    // tight but uniformly ~2x elevated, which the within-run spread
    // trigger cannot see):
    //   (a) spread: a query's rep spread exceeds 2x (a single
    //       contended rep shifted a 3-rep median — q28, r12:
    //       [15.7, 6.5, 3.2] recorded 6.5 s vs ~2 s isolated);
    //   (b) prev: the median exceeds 1.5x the PREVIOUS round's
    //       artifact value for that query (stable value when one was
    //       recorded, headline median otherwise; sub-0.2 s medians
    //       are overhead-grain and exempt).
    // Triggered queries re-run 3 fresh reps at suite end (any
    // contended window has long passed) and the re-run median lands
    // in the file artifact as "stable" (+ "stable_why" naming the
    // trigger) — the numbers cross-round comparisons should read.
    // stdout protocol unchanged.
    val prevRef: Map[String, Double] =
      try {
        val cwd = new java.io.File(".").getCanonicalFile
        val cur = sys.env.get("SPARK_GRAFT_ROUND").map(_.toInt)
          .map(r => f"BENCH_r$r%02d_full.json")
        val prev = sys.env.get("SPARK_GRAFT_PREV")
          .map(new java.io.File(_)).filter(_.isFile)
          .orElse(Option(cwd.listFiles()).getOrElse(Array.empty)
            .filter(f => f.getName.matches("BENCH_r\\d+_full\\.json") &&
              !cur.contains(f.getName))
            .sortBy(_.getName).lastOption)
        prev match {
          case Some(pf) =>
            import scala.jdk.CollectionConverters._
            val om = new com.fasterxml.jackson.databind.ObjectMapper()
            val root = om.readTree(
              java.nio.file.Files.readString(pf.toPath))
            def numMap(field: String): Map[String, Double] =
              Option(root.get(field)).map(_.fields().asScala
                .filter(_.getValue.isNumber)
                .map(e => e.getKey -> e.getValue.asDouble)
                .toMap).getOrElse(Map.empty)
            System.err.println(s"[bench] prev-round reference: $pf")
            numMap("queries") ++ numMap("stable").filter(_._2 > 0)
          case None => Map.empty
        }
      } catch { case e: Exception =>
        System.err.println(s"[bench] WARN: prev-round reference " +
          s"unreadable: $e")
        Map.empty
      }
    val stableWhy: Seq[(String, String)] =
      if (cold) Seq.empty
      else results.flatMap { case (name, ts) =>
        if (ts.isEmpty) None
        else {
          val spread =
            ts.length >= 2 && ts.last > 2.0 * math.max(ts.head, 1e-9)
          val med = median(ts)
          val prevHit =
            prevRef.get(name).exists(p => p >= 0.2 && med > 1.5 * p)
          if (spread && prevHit) Some(name -> "spread+prev")
          else if (spread) Some(name -> "spread")
          else if (prevHit) Some(name -> "prev")
          else None
        }
      }
    val stable: Seq[(String, Double)] =
      stableWhy.map { case (name, _) =>
        val fn = SparkEntry.queries(name)
        // the main rep loop's rule applies here too: a rep that
        // threw must not enter the median (its truncated elapsed
        // would deflate exactly the number this sidecar exists to
        // stabilize)
        val ts2 = (1 to 3).flatMap { _ =>
          val t0 = System.nanoTime()
          val ok =
            try {
              fn(spark, sfDir).write.format("noop")
                .mode("overwrite").save(); true
            } catch { case _: Throwable => false }
          val el = (System.nanoTime() - t0) / 1e9
          spark.catalog.clearCache(); System.gc()
          if (ok) Some(el) else None
        }.sorted
        name -> (if (ts2.isEmpty) -1.0 else median(ts2))
      }
    val qs = results.map { case (k, ts) =>
      "\"" + k + "\":" + (if (ts.isEmpty) "\"err\"" else f(median(ts)))
    }.mkString("{", ",", "}")
    val done = results.filter(_._2.nonEmpty)
    val total = done.map(r => median(r._2)).sum
    val totalMin = done.map(_._2.head).sum
    val nErr = results.length - done.length
    val json = s"""{"metric":"total","value":${f(total)},"unit":"sec","queries":$qs,"total_min":${f(totalMin)},"reps":$effReps,"errs":$nErr,"sf":"$sfDir"}"""
    // Testdata digest — per-round testdata regeneration has been shown to
    // move df-distribution-sensitive query costs, so cross-round per-query
    // deltas need the data identity recorded WITH the numbers: row count,
    // an order-independent first-column checksum (bit_xor of xxhash64 —
    // no overflow, partitioning-invariant), and the file mtime per table.
    // Computed after the timed loop so the scans can't perturb timings.
    val digestJson = try {
      val tables = Option(new java.io.File(sfDir).listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      tables.map { tf =>
        val tname = tf.getName.stripSuffix(".parquet")
        val df = spark.read.parquet(tf.getAbsolutePath)
        val c0 = df.schema.fields.head.name
        val r = df.selectExpr("count(1) as n",
          s"bit_xor(xxhash64(`$c0`)) as x").head()
        val x = if (r.isNullAt(1)) 0L else r.getLong(1)
        s""""$tname":{"rows":${r.getLong(0)},"xor":$x,"col":"$c0"""" +
          s""","mtime":${tf.lastModified() / 1000}}"""
      }.mkString("{", ",", "}")
    } catch { case e: Exception =>
      System.err.println(s"[bench] WARN: data digest failed: $e")
      "{}"
    }
    val sysEnd = (diskSectors(), loadAvg(), memAvailMb())
    def sysJson(s: ((Long, Long), Double, Long)) =
      s"""{"rd":${s._1._1},"wr":${s._1._2},"load":${f(s._2)},"mem_mb":${s._3}}"""
    val diagJson = diag.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // File artifact = the stdout JSON plus the self-diagnosis sections
    // (per-rep raw times/disk deltas, start/end system snapshots, data
    // digest). Stdout keeps the compact driver protocol unchanged.
    val stableJson = stable.map { case (k, v) => "\"" + k + "\":" + f(v) }
      .mkString("{", ",", "}")
    val whyJson = stableWhy
      .map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val fileJson = json.dropRight(1) +
      s""","sys_start":${sysJson(sysStart)},"sys_end":${sysJson(sysEnd)}""" +
      s""","reps_detail":$diagJson,"stable":$stableJson""" +
      s""","stable_why":$whyJson""" +
      s""","data_digest":$digestJson,"conf":$confJson}"""
    // The driver keeps only a bounded tail of the combined output, so a
    // long per-query map can lose its HEAD in the captured artifact
    // (BENCH_r10 lost q01–q26 that way). Defense: also write the full
    // JSON to a file, keyed by the sf dir (override: SPARK_GRAFT_OUT).
    val outFile = sys.env.getOrElse("SPARK_GRAFT_OUT",
      "/tmp/graft_bench_" +
        sfDir.replaceAll("[^A-Za-z0-9._-]", "_") + ".json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (fileJson + "\n").getBytes("UTF-8"))
    catch { case e: Exception =>
      System.err.println(s"[bench] WARN: could not write $outFile: $e") }
    // ALSO write the full artifact into the repo working tree so the
    // per-round commit carries it (BENCH_rNN.json, the driver's stdout
    // capture, is a 2000-char tail that loses most of the per-query map
    // — r10 and r12 both needed the /tmp file to adjudicate).
    // Round-slot hygiene (the r14 lesson — a max+1 inference let
    // 3-query sweep re-runs manufacture BENCH_r15/r16_full.json and
    // occupy FUTURE rounds' slots):
    //   * a SUBSET run (explicit query-filter args) NEVER writes a
    //     round slot — it writes BENCH_scratch_<queries>.json;
    //   * a FULL run writes BENCH_rNN_full.json ONLY when
    //     SPARK_GRAFT_ROUND is set; otherwise it warns and leaves the
    //     round ledger alone (the /tmp artifact still has the run).
    try {
      val cwd = new java.io.File(".").getCanonicalFile
      val repoName =
        if (args.nonEmpty) {
          val tag = args.sorted.mkString("_")
            .replaceAll("[^A-Za-z0-9._-]", "_").take(80)
          Some(s"BENCH_scratch_$tag.json")
        } else sys.env.get("SPARK_GRAFT_ROUND").map(_.toInt)
          .map(r => f"BENCH_r$r%02d_full.json")
      repoName match {
        case Some(name) =>
          val full = new java.io.File(cwd, name)
          java.nio.file.Files.write(full.toPath,
            (fileJson + "\n").getBytes("UTF-8"))
        case None =>
          System.err.println("[bench] WARN: SPARK_GRAFT_ROUND unset — " +
            "round-slot artifact not written " +
            s"(CWD: $cwd; the /tmp artifact above still has the full run)")
      }
    } catch { case e: Exception =>
      System.err.println(s"[bench] WARN: could not write repo artifact: $e") }
    // The driver parses the LAST line of the output tail, so the bare JSON
    // must be the final thing on stdout: log level down to ERROR first
    // (shutdown WARNs would interleave), stop Spark, THEN print. sbt-side,
    // run/outputStrategy = StdoutOutput and showSuccess := false (build.sbt)
    // keep the line unprefixed and unfollowed.
    spark.sparkContext.setLogLevel("ERROR")
    spark.stop()
    println(json)
  }
}
