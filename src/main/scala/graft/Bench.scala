package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.format._

/** Headline benchmarks (BASELINE.md engine benchmark plan): write throughput,
  * full scan vs the built-in parquet reader, pruned scan (pushdown win),
  * stats-answerable aggregates, encoded size ratio, per-codec grid on the
  * reference's benchmark patterns (reference:
  * dwio/nimble/encodings/benchmarks/README.md).
  *
  * Prints ONE JSON line {"metric":"total","value":N,"unit":"sec",
  * "queries":{...},"sf":...}. Seconds for timings; *_ratio and *_nspe entries
  * are dimensionless/ns-per-element metrics riding in the same map.
  */
object Bench {
  private def time[A](body: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** Warm once (codegen + JIT + footer caches), then report the median AND
    * min of five timed runs — steady-state cost with outlier (GC/compile/
    * co-tenant load) rejection, so round-over-round deltas are attributable
    * to code changes, not noise. Five because single-query 2-20x spikes from
    * other processes on the box routinely survive a median of three; the min
    * rides along because a SUSTAINED co-tenant spike covering all five
    * repeats survives any median (it happened in round 7) — min vs median
    * divergence is the detectable signature. */
  private[graft] def timeWarmStats[A](body: => A): (Double, Double, A) = {
    body
    val ts = new Array[Double](5)
    var r: A = null.asInstanceOf[A]
    var i = 0
    while (i < ts.length) {
      val (t, x) = time(body)
      ts(i) = t; r = x; i += 1
    }
    java.util.Arrays.sort(ts)
    (ts(2), ts(0), r)
  }

  /** A metric is suspect when even its best repeat sits far from the median:
    * >2x ratio plus an absolute gap floor (so micro-timings' scheduler
    * jitter doesn't trip it — 10 ms for seconds metrics, 0.5 ns/el for the
    * codec grid). On a healthy box min and median of five warmed runs track
    * within tens of percent; a sustained external load inflates both but
    * never equally. */
  private[graft] def isLoadSuspect(min: Double, median: Double, floor: Double = 0.010): Boolean =
    median > 2.0 * min && median - min > floor

  /** The long codec grid's shapes, in `codec_<name>_*` metric order. Draws
    * from the caller's `rnd`: Bench's doubles grid continues on the same
    * generator, so its values (and the committed `codec_*_ratio` figures)
    * depend on this draw order. CodecsSpec's drift and digest arms encode
    * the same shapes. */
  private[graft] def codecGridPatterns(n: Int, rnd: scala.util.Random): Seq[(String, Array[Long])] = Seq(
    "random" -> Array.fill(n)(rnd.nextLong()),
    "narrow8" -> Array.fill(n)(rnd.nextInt(256).toLong),
    "constant" -> Array.fill(n)(42L),
    "mainly_const" -> Array.tabulate(n)(i => if (rnd.nextInt(100) < 95) 7L else rnd.nextLong()),
    "runlength" -> {
      val a = new Array[Long](n); var i = 0
      while (i < n) { val v = rnd.nextInt(50).toLong; val run = math.min(10 + rnd.nextInt(50), n - i)
        java.util.Arrays.fill(a, i, i + run, v); i += run }
      a
    },
    "increasing" -> { var v = 0L; Array.tabulate(n) { _ => v += rnd.nextInt(8); v } },
    "lowcard64" -> { val alpha = Array.fill(64)(rnd.nextLong()); Array.fill(n)(alpha(rnd.nextInt(64))) })

  // ---- load-contamination calibration (r13 verdict: the fork alone cannot
  // flag a busy box — single-shot scale metrics ran 2-8x over idle truth
  // with load_suspect seeing only 2 of 7). A fixed-cost single-thread
  // xxhash64 loop runs before/after every scale metric; any metric whose
  // surrounding calibration sits >1.3x above the block's best sample was
  // timed under external load and is flagged in suspect_metrics. ----
  @volatile private var calibSink = 0L // defeats dead-code elimination
  /** Untimed probes, once per JVM, until one lands within 10% of the one
    * before (at least 3, at most 10): the first calls run before the JIT
    * has compiled the loop and read up to ~1.5x the warm cost, over
    * CalibDriftMax, so an unwarmed first sample flagged the first bracketed
    * metric as load-suspect. */
  private lazy val calibWarm: Unit = {
    var prev = probePasses()
    var cur = probePasses()
    var calls = 2
    while (calls < 10 && (calls < 3 || math.abs(cur - prev) > 0.1 * prev)) {
      prev = cur
      cur = probePasses()
      calls += 1
    }
  }
  /** ns per hash op, min of 3 passes (a single pass can eat a GC pause). */
  private[graft] def calibProbe(): Double = { calibWarm; probePasses() }
  private def probePasses(): Double = {
    val ops = 2000000
    var best = Double.MaxValue
    var pass = 0
    while (pass < 3) {
      val t0 = System.nanoTime()
      var h = 0x9e3779b97f4a7c15L
      var i = 0
      while (i < ops) { h = graft.format.Tablet.hashLongValue(h + i); i += 1 }
      calibSink += h
      best = math.min(best, (System.nanoTime() - t0).toDouble / ops)
      pass += 1
    }
    best
  }
  /** First field of /proc/loadavg (-1 where unreadable). */
  private def loadAvg1m(): Double =
    try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg")), "UTF-8").split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }
  /** Calibration drift threshold: a metric whose surrounding probe ran this
    * much above the block's best sample was measured under load. */
  private[graft] final val CalibDriftMax = 1.3
  /** Flagged metrics with their drift magnitude (worst bracketing probe over
    * the block's best sample) — the ranking key for the capped summary list. */
  private[graft] def calibSuspectDrifts(calibs: Seq[(String, Double)], base: Double): Seq[(String, Double)] =
    calibs.collect { case (name, worst) if base > 0 && worst > CalibDriftMax * base =>
      (name, worst / base) }
  private[graft] def calibSuspects(calibs: Seq[(String, Double)], base: Double): Seq[String] =
    calibSuspectDrifts(calibs, base).map(_._1)

  /** Merge flagged metrics from both detectors, worst drift first (r15
    * VERDICT: the summary's 6-capped flag list was insertion-ordered and hid
    * scale_cc_sec at 7x idle truth behind milder flags). A metric flagged by
    * both detectors ranks by its larger drift. */
  private[graft] def rankSuspects(drifts: Seq[(String, Double)]): Seq[String] =
    drifts.groupBy(_._1).view.mapValues(_.map(_._2).max).toSeq
      .sortBy { case (k, d) => (-d, k) }.map(_._1)

  private def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isFile) f.length()
    else if (f.isDirectory) f.listFiles().map(dirBytes_).sum
    else 0L
  }
  private def dirBytes_(f: java.io.File): Long =
    if (f.isFile) f.length() else if (f.isDirectory) f.listFiles().map(dirBytes_).sum else 0L

  /** Data files under a table path (committer markers and checksums
    * excluded). Layout self-description for size metrics: the r15 committed
    * dump silently ran at 16 output files and its encoded_size_ratio read as
    * a fake 4.3% codec win — every dump now records the file count so
    * cross-run ratios are only compared layout-matched. */
  private def dataFileCount(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isFile) { if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L else 1L }
      else if (f.isDirectory) f.listFiles().map(walk).sum
      else 0L
    walk(new java.io.File(path))
  }

  /** The scale_cc block's input, shared with `graft.tools.Probe cc` so the
    * shape exists once: a 1,000-hop duplicate chain plus ~1M two-node
    * clusters (x `factor`) that converge in one round, so the chain alone
    * drives the round count while the data volume stays bench-shaped (at
    * factor 10, the ~10M-pair sub-linear wall evidence the 100 TB
    * extrapolation rests on). Runs a 1/100-scale dedupClusters JIT warm-up
    * first: the timed runs are few-shot, and a cold pass measured ~1.7x its
    * warm wall (PROBES.md r18 CcProbe row: iter0 22.6 s vs 13.5 s).
    * Returns (docs, pairs). */
  def ccShape(spark: SparkSession, factor: Long = 1L): (DataFrame, DataFrame) = {
    graft.ops.Dedup.dedupClusters(
      spark.range(20000L).toDF("doc_id"),
      "doc_id",
      spark.range(100).selectExpr("id AS a", "id + 1 AS b").union(
        spark.range(9900L).selectExpr("200 + id * 2 AS a", "201 + id * 2 AS b")))
      .unpersist()
    val restN = 999000L * factor
    val chain = spark.range(1000).selectExpr("id AS a", "id + 1 AS b")
    val rest = spark.range(restN).selectExpr(
      "2000 + id * 2 AS a", "2001 + id * 2 AS b")
    (spark.range(2000L + 2L * restN).toDF("doc_id"), chain.union(rest))
  }

  /** The 8M-row scale blocks (probe/compact/zorder/delete/cc/spj).
    * Runs in a freshly forked JVM in the default bench flow — see main. */
  private def runScaleBlocks(spark: SparkSession,
      results: scala.collection.mutable.LinkedHashMap[String, Double],
      mins: scala.collection.mutable.LinkedHashMap[String, Double],
      calibs: scala.collection.mutable.LinkedHashMap[String, Double]): Unit = {
    results("scale_loadavg_begin") = loadAvg1m()
    // calibration probes bracket every scale metric; a metric's record is
    // the WORST surrounding sample (load during the metric shows in at
    // least one side), judged against the block's best sample
    val calSamples = scala.collection.mutable.ArrayBuffer[Double]()
    var lastCal = calibProbe()
    calSamples += lastCal
    def cal[A](name: String)(body: => A): A = {
      val before = lastCal
      val r = body
      lastCal = calibProbe()
      calSamples += lastCal
      calibs(name) = math.max(before, lastCal)
      r
    }
    def timed[A](name: String)(body: => A): A = cal(name) {
      val (med, mn, r) = timeWarmStats(body)
      results(name) = med
      mins(name) = mn
      r
    }
    // r18 verdict #3: twice running, the committed driver dump was the
    // round's most load-poisoned sample even though the calibration
    // machinery FLAGGED it (suspect_n 26, scale_sql_update 12.1 s vs a
    // 1.5-2.1 s band). Act on the flag in-process: when a scale metric's
    // record (after its min-of-N) still has its calibration bracket hot
    // against the block's best probe so far, spend ONE bounded retry and
    // keep the min — co-tenant load can slow a sample but cannot fake a
    // fast one. The dump records `<name>_retried = 1` so the artifact
    // self-adjudicates; the metric's calibration record drops to the min of
    // all its runs' brackets (same "flag only when EVERY run drifted"
    // semantics the min-of-2 metrics already use).
    def retryIfLoaded(name: String)(once: => Double): Unit = {
      val base = calSamples.min
      if (base > 0 && calibs.getOrElse(name, 0.0) > CalibDriftMax * base) {
        val s2 = cal(s"${name}_retry")(once)
        if (s2 < results.getOrElse(name, Double.MaxValue)) results(name) = s2
        calibs(name) = math.min(calibs(name), calibs(s"${name}_retry"))
        calibs.remove(s"${name}_retry")
        results(s"${name}_retried") = 1.0
      }
    }
    // ---- scale block: the sf0.1 point probe above is fixed-overhead
    // dominated (~60 ms job setup vs ~3 ms of key decode), so its index win
    // shows only in the chunk-skip counter. This block rebuilds the probe at
    // cluster-shaped per-task work: 8M rows of scrambled 32-byte string keys
    // read with the cluster-default 128 MB split target, so each task
    // decodes millions of keys — the per-split shape each of 1000 executors
    // sees at 100 TB — and the wall clock isolates what bloom + hash index
    // save per split. ----
    // r20 (r19 verdict #1): GRAFT_SCALE_FACTOR multiplies the scale-table and
    // CC-block row counts — the 10x "sf1-equivalent" extrapolation run uses
    // factor 10 (80M-row scale table, ~10M CC pairs) in a fresh JVM; the
    // default driver flow is untouched at factor 1. The factor rides the
    // dump (scale_factor) so artifacts at different shapes never compare
    // silently.
    val scaleFactor = math.max(1L, sys.env.getOrElse("GRAFT_SCALE_FACTOR", "1").toLong)
    val scaleRows = 8000000L * scaleFactor
    results("scale_factor") = scaleFactor.toDouble
    val scaleDf = spark.range(scaleRows).toDF("id")
      .withColumn("skey", md5(concat(lit("k"), col("id").cast("string"))))
      .withColumn("v", (col("id") * 2654435761L % 1000003).cast("double"))
      .repartition(4).cache()
    scaleDf.count()
    val scaleIdxDir = s"${System.getProperty("java.io.tmpdir")}/graft-bench/scale-idx"
    val scaleNoDir = s"${System.getProperty("java.io.tmpdir")}/graft-bench/scale-noidx"
    // single-shot write timing (the write stack is JIT-warm from the
    // lineitem runs; 5 repeats of a multi-second write would dominate bench
    // wall time for little extra signal)
    // r16 verdict #7: encode-time budget — JVM process-CPU around the write,
    // normalized per MB of encoded output. Selection-policy changes (margins,
    // exact-pair bypass) trade encode CPU against size; this line puts both
    // axes of that frontier in the artifact instead of size alone.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val writeCpu0 = osBean.getProcessCpuTime
    val (scaleWSec, _) = cal("scale_write")(time {
      scaleDf.write.format("nimble").option("indexColumns", "skey")
        .option("bloomFilterColumns", "skey").option("rowsPerChunk", "16384")
        .mode("overwrite").save(scaleIdxDir)
    })
    val writeCpuSec = (osBean.getProcessCpuTime - writeCpu0) / 1e9
    results("scale_rows") = scaleRows.toDouble
    results("scale_write") = scaleWSec
    locally {
      val mb = dirBytes(scaleIdxDir).toDouble / (1 << 20)
      if (mb > 0 && writeCpuSec > 0) {
        results("scale_write_cpu_sec") = writeCpuSec
        results("scale_write_cpu_ms_per_mb") = writeCpuSec * 1000.0 / mb
      }
    }
    retryIfLoaded("scale_write") {
      val (s, _) = time {
        scaleDf.write.format("nimble").option("indexColumns", "skey")
          .option("bloomFilterColumns", "skey").option("rowsPerChunk", "16384")
          .mode("overwrite").save(scaleIdxDir)
      }
      s
    }
    scaleDf.write.format("nimble").option("rowsPerChunk", "16384")
      .mode("overwrite").save(scaleNoDir)
    scaleDf.unpersist()
    // layout self-description (chunk counters halve when file count halves —
    // the r15 16-vs-32-file ambiguity must be decidable from the dump alone)
    results("scale_idx_files") = dataFileCount(scaleIdxDir).toDouble
    results("scale_noidx_files") = dataFileCount(scaleNoDir).toDouble
    // deterministic probe key: md5("k12345") exactly as the generator wrote it
    val probeSkey = java.security.MessageDigest.getInstance("MD5")
      .digest("k12345".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val prevMinPart = spark.conf.getOption("spark.graft.scan.minPartitionBytes")
    spark.conf.set("spark.graft.scan.minPartitionBytes", (128L << 20).toString)
    try {
      val scaleSkipped0 = graft.spark.NimbleSource.chunksSkipped.get()
      assert(spark.read.format("nimble").load(scaleIdxDir)
        .filter(col("skey") === probeSkey).count() == 1L)
      results("scale_probe_chunks_skipped") =
        (graft.spark.NimbleSource.chunksSkipped.get() - scaleSkipped0).toDouble
      timed("scale_probe_indexed") {
        spark.read.format("nimble").load(scaleIdxDir)
          .filter(col("skey") === probeSkey).count()
      }
      // r15: the sparse-fetch IO story in the artifact — candidate chunks'
      // byte ranges only, vs the whole-stream fetch an unprunable filter
      // pays on the same table (equality can't stats/index-prune for !=)
      locally {
        def fetchDelta(body: => Unit): Double = {
          val f0 = graft.spark.NimbleSource.streamBytesFetched.get()
          body
          (graft.spark.NimbleSource.streamBytesFetched.get() - f0).toDouble
        }
        // settle: run both queries once untimed so a one-ahead prefetch
        // tail from a PRIOR query cannot land inside a measured window
        spark.read.format("nimble").load(scaleIdxDir)
          .filter(col("skey") === probeSkey).count()
        spark.read.format("nimble").load(scaleIdxDir)
          .filter(col("skey") =!= probeSkey).count()
        // drop the block cache between settle and measurement: the metric is
        // the COLD byte footprint of a point probe vs a scan — at factor-10
        // heaps the settle pass otherwise leaves the probe's candidate
        // ranges resident and the fraction reads a meaningless 0.0
        graft.spark.BlockCache.clear()
        val probeBytes = fetchDelta {
          spark.read.format("nimble").load(scaleIdxDir)
            .filter(col("skey") === probeSkey).count()
        }
        graft.spark.BlockCache.clear()
        val scanBytes = fetchDelta {
          spark.read.format("nimble").load(scaleIdxDir)
            .filter(col("skey") =!= probeSkey).count()
        }
        results("scale_probe_fetch_frac") = probeBytes / math.max(1.0, scanBytes)
      }
      timed("scale_probe_scan") {
        spark.read.format("nimble").load(scaleNoDir)
          .filter(col("skey") === probeSkey).count()
      }
      // cascading 2-selective-column probe (r12 verdict #1 done-criterion):
      // the selectivity-ordered decode evaluates the skey equality first, so
      // chunks it kills never decode v at all — the per-column fraction
      // below is v's decoded volume under the cascade vs alone (the
      // "second column" decode drop; ~0 is ideal, 1.0 = no cascade).
      // collect(), not count(): a count routes through the mid-scan
      // aggregate fold, which bypasses the batch-reader cascade under test.
      def cascadeProbe(): Int =
        spark.read.format("nimble").load(scaleNoDir)
          .filter(col("skey") === probeSkey && col("v") < 0.5).select("id").collect().length
      timed("scale_probe_cascade")(cascadeProbe())
      locally {
        def delta(body: => Unit): Double = {
          val d0 = graft.format.Codecs.decodedValues.get()
          body
          (graft.format.Codecs.decodedValues.get() - d0).toDouble
        }
        val dBoth = delta(cascadeProbe())
        val dKey = delta {
          spark.read.format("nimble").load(scaleNoDir)
            .filter(col("skey") === probeSkey).select("id").collect()
        }
        val dV = delta {
          spark.read.format("nimble").load(scaleNoDir)
            .filter(col("v") < 0.5).select(lit(1)).collect()
        }
        results("scale_cascade_col2_frac") = math.max(0.0, dBoth - dKey) / math.max(1.0, dV)
      }
      timed("scale_scan_full") {
        // + 0 blocks sum pushdown: this measures the vectorized scan (the
        // pushed fold is covered by agg_sum_fold at lineitem scale)
        spark.read.format("nimble").load(scaleNoDir)
          .agg(count(lit(1)), sum(col("v") + 0)).collect()
      }
    } finally {
      prevMinPart match {
        case Some(v) => spark.conf.set("spark.graft.scan.minPartitionBytes", v)
        case None => spark.conf.unset("spark.graft.scan.minPartitionBytes")
      }
    }

    // ---- scale block: OPTIMIZE — compact the 8M-row indexed table (its
    // write produced one file per input partition) through the
    // footer-recovered layout; proves the recover+rewrite path, index
    // rebuild included, at bench scale ----
    {
      val cDir = s"${System.getProperty("java.io.tmpdir")}/graft-bench/scale-compacted"
      // small-scale warmup: drive the whole recover+rewrite path once so the
      // timed runs measure steady state, not JIT compilation of the writer
      // (the r15 fix zorder/cc got; compact was still first-touch here)
      locally {
        val wSrc = s"${System.getProperty("java.io.tmpdir")}/graft-bench/compact-warm"
        spark.range(40000).select(col("id"),
            md5(concat(lit("k"), col("id").cast("string"))).as("skey"),
            (col("id") * 2654435761L % 1000003).cast("double").as("v"))
          .repartition(8).write.format("nimble").mode("overwrite")
          .option("indexColumns", "skey").save(wSrc)
        graft.ops.Compaction.compact(spark, wSrc, s"$wSrc-out", targetFileBytes = 1L << 31)
      }
      // min-of-2 (r16 verdict #2: last single-shot metric — four same-code
      // runs spread 14.9–21.5 s): a co-tenant burst cannot fake a FAST
      // sample, so the min of two runs is robust where one is a coin flip
      val (cSec, rep) = cal("scale_compact_sec")(time {
        graft.ops.Compaction.compact(spark, scaleIdxDir, cDir, targetFileBytes = 1L << 31)
      })
      assert(rep.rows == scaleRows, s"compaction changed row count: $rep")
      val (cSec2, rep2) = cal("scale_compact_sec_r2")(time {
        graft.ops.Compaction.compact(spark, scaleIdxDir, s"$cDir-r2", targetFileBytes = 1L << 31)
      })
      assert(rep2.rows == scaleRows, s"compaction r2 changed row count: $rep2")
      results("scale_compact_sec") = math.min(cSec, cSec2)
      // flag only when BOTH runs' brackets drifted (zorder/cc rule)
      calibs("scale_compact_sec") =
        math.min(calibs("scale_compact_sec"), calibs("scale_compact_sec_r2"))
      calibs.remove("scale_compact_sec_r2")
      retryIfLoaded("scale_compact_sec") {
        val (s, r3) = time {
          graft.ops.Compaction.compact(spark, scaleIdxDir, s"$cDir-r3", targetFileBytes = 1L << 31)
        }
        assert(r3.rows == scaleRows, s"compaction r3 changed row count: $r3")
        s
      }

      // incremental OPTIMIZE on the same table: a 40-file streaming-style
      // tail appends, then compactSmall merges ONLY the tail — the contrast
      // with scale_compact_sec is the 100 TB point (tail IO, not table IO)
      val tail = spark.range(40000).select(
        (col("id") + scaleRows).as("id"),
        md5(concat(lit("k"), (col("id") + scaleRows).cast("string"))).as("skey"),
        ((col("id") + scaleRows) * 2654435761L % 1000003).cast("double").as("v"))
      tail.repartition(40).write.format("nimble").mode("append")
        .option("indexColumns", "skey").option("bloomFilterColumns", "skey")
        .save(cDir)
      val (csSec, csRep) = cal("scale_compact_small_sec")(time {
        graft.ops.Compaction.compactSmall(spark, cDir,
          minFileBytes = 16L << 20, targetFileBytes = 1L << 31)
      })
      assert(csRep.rows == scaleRows + 40000, s"compactSmall changed rows: $csRep")
      results("scale_compact_small_sec") = csSec
    }

    // ---- scale block: OPTIMIZE ZORDER — 8M rows on a 512x512 grid of two
    // independent dimensions, single-column-sorted vs Morton-curve
    // clustered. The secondary-dimension probe is the 100 TB story: on the
    // sorted table it scans everything; on the z-ordered table stripe stats
    // prune most of the curve. Wall-clock pair + the pruned fraction. ----
    {
      // 32M rows: at local[32] an 8M-row scan is task-overhead-dominated and
      // the pruning win vanishes into noise; 32M x 16B makes decode volume
      // the cost again, which is what stripe pruning actually saves at scale
      val zr = 32000000L
      // b non-linear in id (any id*c%m correlates perfectly with a)
      val zdf = spark.range(zr).select(
        (col("id") % 512).cast("int").as("a"),
        pmod(hash(col("id")), lit(512)).as("b"),
        (col("id") % 1000003).cast("double").as("v"))
      val linDir = s"${System.getProperty("java.io.tmpdir")}/graft-bench/scale-zlin"
      val zDir = s"${System.getProperty("java.io.tmpdir")}/graft-bench/scale-zord"
      zdf.repartitionByRange(4, col("a")).sortWithinPartitions("a")
        .write.format("nimble").mode("overwrite")
        .option("sortColumns", "a").option("stripeBytes", (2L << 20).toString)
        .save(linDir)
      // JIT warmup on a 1/64-size table: the timed run is single-shot, and a
      // cold first pass through the quantile/Morton/write path measured 2.5x
      // its steady state (ZOrderProbe, retired in commit c8f0349's
      // tools/: 39 s cold vs 16 s warm on an idle box) — the trend the
      // rounds compare should be the steady state
      val zWarmSrc = s"${System.getProperty("java.io.tmpdir")}/graft-bench/scale-zwarm"
      zdf.limit(500000).repartitionByRange(4, col("a")).sortWithinPartitions("a")
        .write.format("nimble").mode("overwrite")
        .option("sortColumns", "a").option("stripeBytes", (2L << 20).toString)
        .save(zWarmSrc)
      graft.ops.ZOrder.zorder(spark, zWarmSrc, s"$zWarmSrc-out", Seq("a", "b"),
        targetFileBytes = 64L << 20,
        extraOptions = Map("stripeBytes" -> (2L << 20).toString))
      // min-of-2: this box's co-tenant bursts land BETWEEN the calibration
      // brackets of a single-shot metric and poison it unflagged (r15: 37 s
      // and 90 s samples against a 16 s fresh-JVM warm truth) — a burst
      // cannot fake a FAST sample, so the min of two runs is robust where
      // one run is a coin flip
      val (zSec, _) = cal("scale_zorder_sec")(time {
        graft.ops.ZOrder.zorder(spark, linDir, zDir, Seq("a", "b"),
          targetFileBytes = 64L << 20,
          extraOptions = Map("stripeBytes" -> (2L << 20).toString))
      })
      val (zSec2, _) = cal("scale_zorder_sec_r2")(time {
        graft.ops.ZOrder.zorder(spark, linDir, s"$zDir-r2", Seq("a", "b"),
          targetFileBytes = 64L << 20,
          extraOptions = Map("stripeBytes" -> (2L << 20).toString))
      })
      results("scale_zorder_sec") = math.min(zSec, zSec2)
      // flag only when BOTH runs' brackets drifted: a clean run's min is
      // trustworthy even if the other run was poisoned
      calibs("scale_zorder_sec") =
        math.min(calibs("scale_zorder_sec"), calibs("scale_zorder_sec_r2"))
      calibs.remove("scale_zorder_sec_r2")
      retryIfLoaded("scale_zorder_sec") {
        val (s, _) = time {
          graft.ops.ZOrder.zorder(spark, linDir, s"$zDir-r3", Seq("a", "b"),
            targetFileBytes = 64L << 20,
            extraOptions = Map("stripeBytes" -> (2L << 20).toString))
        }
        s
      }
      timed("scale_zorder_probe_b") {
        spark.read.format("nimble").load(zDir)
          .filter(col("b") === 77).agg(sum("v")).collect()
      }
      timed("scale_linear_probe_b") {
        spark.read.format("nimble").load(linDir)
          .filter(col("b") === 77).agg(sum("v")).collect()
      }
      val probe = spark.read.format("nimble").load(zDir).filter(col("b") === 77)
      probe.select("v").rdd.getNumPartitions // plan: records stripe pruning
      val st = graft.spark.NimbleSource.lastPlanStats(zDir).get
      results("scale_zorder_prune_frac") =
        st.stripesPruned.toDouble / (st.stripesPruned + st.stripesPlanned)
    }

    // ---- scale block: row-level DELETE — a retention delete (id >= 6M) on
    // an id-sorted 8M-row table. Stats classify whole files: the tail files
    // unlink without reading a byte, at most the one boundary file
    // rewrites; scale_delete_rewritten pins that contract (a regression to
    // rewrite-everything would show here as files AND seconds) ----
    {
      val wh = s"${System.getProperty("java.io.tmpdir")}/graft-bench/rlwh"
      spark.conf.set("spark.sql.catalog.gbenchrl", "graft.spark.NimbleCatalog")
      spark.conf.set("spark.sql.catalog.gbenchrl.warehouse", wh)
      spark.sql("DROP TABLE IF EXISTS gbenchrl.default.scale_del")
      spark.read.format("nimble").load(scaleNoDir)
        .repartitionByRange(8, col("id")).sortWithinPartitions("id")
        .writeTo("gbenchrl.default.scale_del")
        .tableProperty("sortColumns", "id").create()
      val dDir = s"$wh/default/scale_del"
      // retention boundaries scale with the table (quarters of scaleRows),
      // so each delete removes one quarter at any GRAFT_SCALE_FACTOR
      val q = scaleRows / 4
      // min-of-2 without a second table (r17: same-code runs spread
      // 0.27-3.7 s across rounds and a 7x sample slipped BETWEEN the
      // calibration brackets unflagged — the zorder/cc/compact hole): two
      // disjoint 2M-row retention deletes over the range-partitioned table
      // are the same work shape — 2 tail-file unlinks + <=1 boundary
      // rewrite each — so the min is a real sample of identical work
      val (dSec, rep) = cal("scale_delete")(time {
        graft.ops.Delete.delete(spark, dDir, col("id") >= 3 * q)
      })
      assert(rep.rowsDeleted == q, s"delete removed wrong count: $rep")
      assert(rep.filesRewritten <= 1, s"retention delete must be ~metadata-only: $rep")
      // per-phase walls of BOTH samples into the dump (r17 verdict #5): a
      // slow sample adjudicates stall-vs-load from the artifact alone — the
      // r17 bimodal mystery needed a probe re-run to see WHERE the 2 s went.
      // (scale_sql_update has no equivalent: its rewrite is Spark's own
      // group-based row-level plan, not Delete.run.)
      graft.ops.Delete.lastPhaseSec.foreach { case (ph, sec) =>
        results(s"scale_delete_r1_$ph") = sec }
      val (dSec2, rep2) = cal("scale_delete_r2")(time {
        graft.ops.Delete.delete(spark, dDir, col("id") >= 2 * q)
      })
      graft.ops.Delete.lastPhaseSec.foreach { case (ph, sec) =>
        results(s"scale_delete_r2_$ph") = sec }
      assert(rep2.rowsDeleted == q, s"delete r2 removed wrong count: $rep2")
      assert(rep2.filesRewritten <= 1, s"delete r2 must be ~metadata-only: $rep2")
      results("scale_delete") = math.min(dSec, dSec2)
      calibs("scale_delete") = math.min(calibs("scale_delete"), calibs("scale_delete_r2"))
      calibs.remove("scale_delete_r2")
      results("scale_delete_rewritten") = math.max(rep.filesRewritten, rep2.filesRewritten).toDouble
      retryIfLoaded("scale_delete") {
        // third disjoint quarter-table retention delete: identical work shape
        val (s, r3) = time {
          graft.ops.Delete.delete(spark, dDir, col("id") >= q)
        }
        assert(r3.rowsDeleted == q, s"delete r3 removed wrong count: $r3")
        assert(r3.filesRewritten <= 1, s"delete r3 must be ~metadata-only: $r3")
        s
      }

      // r19: the same retention delete on an INDEX+BLOOM-bearing sorted
      // table — the canonical production shape. Through r18 this regressed
      // to the O(file) rewrite (surgery refused aux streams); the chunk
      // surgery now adopts the blooms and remaps the index entries, so the
      // wall should track scale_delete, not the rewrite. filesRewritten and
      // the index's survival are asserted, the seconds go in the dump.
      spark.sql("DROP TABLE IF EXISTS gbenchrl.default.scale_del_idx")
      spark.read.format("nimble").load(scaleIdxDir)
        .repartitionByRange(8, col("id")).sortWithinPartitions("id")
        .writeTo("gbenchrl.default.scale_del_idx")
        .tableProperty("sortColumns", "id")
        .tableProperty("indexColumns", "skey")
        .tableProperty("bloomFilterColumns", "skey").create()
      val diDir = s"$wh/default/scale_del_idx"
      val (diSec, diRep) = cal("scale_delete_indexed")(time {
        graft.ops.Delete.delete(spark, diDir, col("id") >= 3 * q)
      })
      assert(diRep.rowsDeleted == q, s"indexed delete drifted: $diRep")
      assert(diRep.filesRewritten <= 1, s"indexed retention delete must be ~metadata-only: $diRep")
      // r22 measurement fix: this metric was the block's only min-of-1 —
      // scale_delete above is min over two disjoint identical-work deletes,
      // but the indexed twin timed ONE sample and ran its second delete only
      // under retryIfLoaded. A load/GC burst inside that single sample with
      // quiet CPU-calibration brackets (r21: 1.44 s / 2.48 s in both driver
      // runs, calib ~17-18 ns, idle truth 0.12-0.27 s) is unfalsifiable from
      // the artifact. Align with scale_delete: always time the second
      // disjoint quarter-table delete and record the min; the raw first
      // sample stays in the dump as scale_delete_indexed_r1.
      val (diSec2, diRep2) = cal("scale_delete_indexed_r2")(time {
        graft.ops.Delete.delete(spark, diDir, col("id") >= 2 * q)
      })
      assert(diRep2.rowsDeleted == q, s"indexed delete r2 drifted: $diRep2")
      assert(diRep2.filesRewritten <= 1, s"indexed retention delete r2 must be ~metadata-only: $diRep2")
      results("scale_delete_indexed_r1") = diSec
      results("scale_delete_indexed") = math.min(diSec, diSec2)
      calibs("scale_delete_indexed") =
        math.min(calibs("scale_delete_indexed"), calibs("scale_delete_indexed_r2"))
      calibs.remove("scale_delete_indexed_r2")
      retryIfLoaded("scale_delete_indexed") {
        val (s3, r3i) = time {
          graft.ops.Delete.delete(spark, diDir, col("id") >= q)
        }
        assert(r3i.rowsDeleted == q, s"indexed delete r3 drifted: $r3i")
        assert(r3i.filesRewritten <= 1, s"indexed retention delete r3 must be ~metadata-only: $r3i")
        s3
      }
      // the surviving files still carry their index streams (remapped, not
      // dropped) — a regression to drop-on-surgery would show here
      locally {
        val f = graft.spark.NimbleSource.listFiles(diDir).head
        val r = new graft.format.Tablet.Reader(f)
        try assert(r.footer.streamKeys.exists(_.startsWith("#idx:")),
          "index streams must survive the surgered retention delete")
        finally r.close()
      }

      // SQL UPDATE at scale: the runtime group filter must restrict the
      // copy-on-write to the file(s) holding the 100K-row keyhole — wall
      // clock is one file's rewrite, not six million rows'. min-of-2: the
      // second run rewrites the same keyhole file(s) again (identical work)
      val filesBefore = graft.spark.NimbleSource.listFiles(dDir).toSet
      val (uSec, _) = cal("scale_sql_update")(time {
        spark.sql("UPDATE gbenchrl.default.scale_del SET v = 0.0 " +
          "WHERE id >= 1000000 AND id < 1100000")
      })
      val filesAfter = graft.spark.NimbleSource.listFiles(dDir).toSet
      val replaced = (filesBefore -- filesAfter).size
      assert(replaced <= 2, s"group filter should bound the rewrite: $replaced files replaced")
      val (uSec2, _) = cal("scale_sql_update_r2")(time {
        spark.sql("UPDATE gbenchrl.default.scale_del SET v = 0.0 " +
          "WHERE id >= 1000000 AND id < 1100000")
      })
      assert(spark.table("gbenchrl.default.scale_del")
        .filter(col("id") >= 1000000L && col("id") < 1100000L)
        .agg(sum(org.apache.spark.sql.functions.abs(col("v")))).head().getDouble(0) == 0.0)
      results("scale_sql_update") = math.min(uSec, uSec2)
      calibs("scale_sql_update") =
        math.min(calibs("scale_sql_update"), calibs("scale_sql_update_r2"))
      calibs.remove("scale_sql_update_r2")
      results("scale_sql_update_files") = replaced.toDouble
      retryIfLoaded("scale_sql_update") {
        val (s, _) = time {
          spark.sql("UPDATE gbenchrl.default.scale_del SET v = 0.0 " +
            "WHERE id >= 1000000 AND id < 1100000")
        }
        s
      }
    }

    // ---- scale block: connected-components dedup clustering over ~1M pairs
    // containing one 1,000-hop duplicate chain — pointer jumping must
    // converge in ~log2(1000) ≈ 10 rounds (+1 detection round; r15 delta
    // iteration reports 12) with O(1) plan size per round (the r9 lineage
    // blowup OOM'd exactly this shape); wall clock proves the per-round
    // persist/cut discipline holds at bench scale ----
    {
      val (ccDocs, ccPairs) = ccShape(spark, scaleFactor)
      // min-of-2 (same rationale as the zorder block: bursty co-tenant load
      // between the calibration brackets cannot fake a fast sample)
      val (ccSec, _) = cal("scale_cc_sec")(time {
        val out = graft.ops.Dedup.dedupClusters(ccDocs, "doc_id", ccPairs)
        out.unpersist() // dedupClusters already materialized it
      })
      val (ccSec2, _) = cal("scale_cc_sec_r2")(time {
        val out = graft.ops.Dedup.dedupClusters(ccDocs, "doc_id", ccPairs)
        out.unpersist()
      })
      results("scale_cc_sec") = math.min(ccSec, ccSec2)
      calibs("scale_cc_sec") = math.min(calibs("scale_cc_sec"), calibs("scale_cc_sec_r2"))
      calibs.remove("scale_cc_sec_r2")
      retryIfLoaded("scale_cc_sec") {
        val (s, _) = time {
          graft.ops.Dedup.dedupClusters(ccDocs, "doc_id", ccPairs).unpersist()
        }
        s
      }
      results("scale_cc_rounds") = graft.ops.Dedup.lastClusterRounds.get().toDouble
    }

    // ---- scale block: storage-partitioned join — two co-bucketed tables
    // (4M-row fact, 1M-row dim, bucket 32 on the join key) joined with
    // broadcast off. scale_spj_join reads buckets in place (zero
    // exchanges); scale_shuffle_join runs the identical query with the v2
    // bucketing flag off, paying the full both-sides shuffle. The delta is
    // what co-bucketing deletes from every big join at 100 TB. ----
    {
      val whDir = s"${System.getProperty("java.io.tmpdir")}/graft-bench/spj-wh"
      graft.format.GraftIO.delete(whDir, recursive = true)
      graft.format.GraftIO.mkdirs(whDir)
      spark.conf.set("spark.sql.catalog.gbench", "graft.spark.NimbleCatalog")
      spark.conf.set("spark.sql.catalog.gbench.warehouse", whDir)
      val prevBkt = spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
      val prevBcast = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        spark.range(4000000L)
          .selectExpr("id % 500000 AS k", "(id * 2654435761) % 1000003 AS v")
          .writeTo("gbench.fact")
          .partitionedBy(org.apache.spark.sql.functions.bucket(32, col("k"))).create()
        spark.range(1000000L).selectExpr("id AS k", "id * 3 AS w")
          .writeTo("gbench.dim")
          .partitionedBy(org.apache.spark.sql.functions.bucket(32, col("k"))).create()
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        def joinOnce(): Unit = {
          spark.table("gbench.fact").join(spark.table("gbench.dim"), "k")
            .agg(count(lit(1)), sum(col("v") + col("w"))).collect()
          ()
        }
        timed("scale_spj_join") {
          spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true"); joinOnce()
        }
        timed("scale_shuffle_join") {
          spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false"); joinOnce()
        }
      } finally {
        prevBkt match {
          case Some(v) => spark.conf.set("spark.sql.sources.v2.bucketing.enabled", v)
          case None => spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
        }
        prevBcast match {
          case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
          case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        }
      }
    }

    // ---- scale block: wide flatmap — the reference's headline shape
    // ("thousands of streams", velox/FieldWriter.cpp:1415). 2M rows, each
    // carrying 8 of 400 feature keys, so the table holds ~400 per-key
    // streams; a single-feature selective probe must fetch ~1 stream and
    // prune nearly every chunk through the fm directory stats (the r17
    // FlatMapPrune path), and a 3-feature projection must fetch 3 of 400.
    // Regressions in either now surface as dump metrics, not just specs. ----
    {
      val fmDir = s"${System.getProperty("java.io.tmpdir")}/graft-bench/scale-fm"
      val fmRows = 2000000L
      // per-row distinct keys: (base + i*50) mod 400 over i=0..7 never
      // collides; values ride id so chunk stats are range-disjoint and a
      // high-constant probe is provably prunable everywhere but the tail
      // cache + materialize BEFORE timing: transform()/map_from_arrays are
      // interpreted higher-order functions — without this the metric times
      // the generator, not the 400-stream flatmap writer it exists to watch
      val fmSrc = spark.range(fmRows)
        .selectExpr("id",
          "map_from_arrays(" +
            "transform(sequence(0, 7), i -> concat('f', pmod(id * 7 + i * 50, 400))), " +
            "transform(sequence(0, 7), i -> CAST(id + i AS DOUBLE))) AS m")
        .repartitionByRange(4, col("id")).sortWithinPartitions("id")
        .cache()
      fmSrc.count()
      // single-shot write timing (same rationale as scale_write: the write
      // stack is JIT-warm by this point in the block)
      // r18 verdict stretch #8: process-CPU around the fm write (like
      // scale_write's) so the encode-selection work on this shape
      // adjudicates from committed artifacts alone
      val fmCpu0 = osBean.getProcessCpuTime
      val (fmwSec, _) = cal("scale_fm_write")(time {
        fmSrc.write.format("nimble").option("flatMapColumns", "m")
          .option("rowsPerChunk", "16384").option("sortColumns", "id")
          .mode("overwrite").save(fmDir)
      })
      results("scale_fm_write_cpu_sec") = (osBean.getProcessCpuTime - fmCpu0) / 1e9
      results("scale_fm_write") = fmwSec
      retryIfLoaded("scale_fm_write") {
        val (s, _) = time {
          fmSrc.write.format("nimble").option("flatMapColumns", "m")
            .option("rowsPerChunk", "16384").option("sortColumns", "id")
            .mode("overwrite").save(fmDir)
        }
        s
      }
      // feature projection read: the flatmap surfaces as a struct of named
      // keys, so `m.f37` is a dotted-path push the fm stats prune on
      // (FlatMapPruneSpec's shape — plain map getItem reconstructs the map)
      val fmTable = spark.read.format("nimble")
        .option("flatMapStruct.m", "f11,f37,f123,f301").load(fmDir)
      // selective probe: one feature, tail constant — warm once (plan +
      // footer caches), then min-of-2 with the chunk-skip delta recorded
      def fmProbe(): Long = fmTable
        .filter(col("m.f37") > (fmRows - 1000).toDouble)
        .agg(count(lit(1))).collect()(0).getLong(0)
      fmProbe()
      val skip0 = graft.spark.NimbleSource.chunksSkipped.get()
      val (p1, _) = cal("scale_fm_probe")(time(fmProbe()))
      results("scale_fm_chunks_skipped") =
        (graft.spark.NimbleSource.chunksSkipped.get() - skip0).toDouble
      val (p2, _) = cal("scale_fm_probe_r2")(time(fmProbe()))
      results("scale_fm_probe") = math.min(p1, p2)
      calibs("scale_fm_probe") =
        math.min(calibs("scale_fm_probe"), calibs("scale_fm_probe_r2"))
      calibs.remove("scale_fm_probe_r2")
      // 3-of-400 feature projection (the training-pipeline read shape)
      def fmProj(): Unit = {
        fmTable.select(
          col("m.f11").as("a"), col("m.f123").as("b"), col("m.f301").as("c"))
          .agg(sum("a"), sum("b"), sum("c")).collect()
        ()
      }
      fmProj()
      val (j1, _) = cal("scale_fm_proj")(time(fmProj()))
      val (j2, _) = cal("scale_fm_proj_r2")(time(fmProj()))
      results("scale_fm_proj") = math.min(j1, j2)
      calibs("scale_fm_proj") =
        math.min(calibs("scale_fm_proj"), calibs("scale_fm_proj_r2"))
      calibs.remove("scale_fm_proj_r2")
      // parquet twin: the same cached rows as a plain MAP column — parquet
      // has no per-key shredding, so the selective probe and the 3-key
      // projection must reconstruct every map; the deltas are the flatmap
      // feature's value at bench scale, same-run same-box
      val fmPqDir = s"${System.getProperty("java.io.tmpdir")}/graft-bench/scale-fm-pq"
      val (fmwPq, _) = cal("scale_fm_write_parquet")(time {
        fmSrc.write.mode("overwrite").parquet(fmPqDir)
      })
      results("scale_fm_write_parquet") = fmwPq
      val fmPq = spark.read.parquet(fmPqDir)
      def pqProbe(): Long = fmPq
        .filter(col("m")(lit("f37")) > (fmRows - 1000).toDouble)
        .agg(count(lit(1))).collect()(0).getLong(0)
      def pqProj(): Unit = {
        fmPq.select(col("m")(lit("f11")).as("a"), col("m")(lit("f123")).as("b"),
          col("m")(lit("f301")).as("c"))
          .agg(sum("a"), sum("b"), sum("c")).collect()
        ()
      }
      pqProbe()
      val (pp1, _) = cal("scale_fm_probe_parquet")(time(pqProbe()))
      val (pp2, _) = cal("scale_fm_probe_parquet_r2")(time(pqProbe()))
      results("scale_fm_probe_parquet") = math.min(pp1, pp2)
      calibs("scale_fm_probe_parquet") = math.min(
        calibs("scale_fm_probe_parquet"), calibs("scale_fm_probe_parquet_r2"))
      calibs.remove("scale_fm_probe_parquet_r2")
      pqProj()
      val (pj1, _) = cal("scale_fm_proj_parquet")(time(pqProj()))
      val (pj2, _) = cal("scale_fm_proj_parquet_r2")(time(pqProj()))
      results("scale_fm_proj_parquet") = math.min(pj1, pj2)
      calibs("scale_fm_proj_parquet") = math.min(
        calibs("scale_fm_proj_parquet"), calibs("scale_fm_proj_parquet_r2"))
      calibs.remove("scale_fm_proj_parquet_r2")
      fmSrc.unpersist()
    }

    results("scale_calib_base_ns") = calSamples.min
    results("scale_loadavg_end") = loadAvg1m()
  }

  /** Fork `graft.Bench scale-only` in a fresh JVM (same flags + classpath),
    * parse its SCALE_RES/SCALE_MIN/SCALE_CAL stdout lines. None on failure. */
  private def forkedScaleMetrics(sfDir: String, cpus: String)
      : Option[(Seq[(String, Double)], Seq[(String, Double)], Seq[(String, Double)])] = {
    import scala.jdk.CollectionConverters._
    try {
      val javaBin = new java.io.File(
        new java.io.File(System.getProperty("java.home"), "bin"), "java").getAbsolutePath
      val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.toSeq
        .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-javaagent"))
      val cmd = Seq(javaBin) ++ jvmArgs ++
        Seq("-cp", System.getProperty("java.class.path"), "graft.Bench", "scale-only")
      val pb = new ProcessBuilder(cmd.asJava)
      pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
      pb.environment().put("SPARK_GRAFT_CPUS", cpus)
      pb.redirectError(ProcessBuilder.Redirect.INHERIT) // child spark logs -> our stderr
      val proc = pb.start()
      // read stdout to EOF BEFORE waitFor: a full pipe would deadlock the child
      val out = scala.io.Source.fromInputStream(proc.getInputStream, "UTF-8").getLines().toVector
      val rc = proc.waitFor()
      if (rc != 0) { System.err.println(s"bench: scale fork exited $rc; running inline"); return None }
      def parse(tag: String): Seq[(String, Double)] = out.collect {
        case l if l.startsWith(tag + " ") =>
          val ps = l.split(" "); ps(1) -> ps(2).toDouble
      }
      val r = parse("SCALE_RES")
      if (r.isEmpty) None else Some((r, parse("SCALE_MIN"), parse("SCALE_CAL")))
    } catch {
      case e: Exception =>
        System.err.println(s"bench: scale fork failed ($e); running inline")
        None
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // run identity: the r15 summary (driver run) and the tracked full dump
    // (builder's earlier run) silently described DIFFERENT runs. Every run
    // now mints an id that appears in the summary line, inside the dump, and
    // in the dump's filename — two artifacts match iff their ids match.
    val runId = f"${Tablet.hashLongValue(System.nanoTime() ^
      (ProcessHandle.current().pid() << 24) ^ System.currentTimeMillis()) & 0xffffffffL}%08x"
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    val mins = scala.collection.mutable.LinkedHashMap[String, Double]()
    // calibration brackets around EVERY main-block timed metric (r14 hole:
    // q16_window's five repeats were ALL slow — 6x over idle truth — and the
    // min-vs-median detector is structurally blind to uniform contamination;
    // the fixed-cost probe the scale block already uses is not)
    val mainCalibs = scala.collection.mutable.LinkedHashMap[String, Double]()
    val mainCalSamples = scala.collection.mutable.ArrayBuffer[Double]()
    var lastCal = 0.0 // first probe runs lazily after Spark init warms the JVM
    // record a timed metric: median under the plain name, min alongside,
    // bracketing calibration probes on both sides
    def timed[A](name: String)(body: => A): A = {
      if (mainCalSamples.isEmpty) { lastCal = calibProbe(); mainCalSamples += lastCal }
      val before = lastCal
      val (med, mn, r) = timeWarmStats(body)
      results(name) = med
      mins(name) = mn
      lastCal = calibProbe()
      mainCalSamples += lastCal
      mainCalibs(name) = math.max(before, lastCal)
      r
    }

    if (args.contains("scale-only")) {
      // child mode of the scale-block fork: a brief untimed warmup stands in
      // for the JIT warmth the parent's lineitem passes provide (the write
      // and selective-scan stacks are deep Scala that runs 2-3x slow in
      // tier-1 code), then the blocks run in an otherwise pristine heap
      val warm = spark.range(400000L).toDF("id")
        .withColumn("skey", md5(concat(lit("k"), col("id").cast("string"))))
        .withColumn("v", (col("id") * 2654435761L % 1000003).cast("double"))
        .repartition(4)
      val warmDir = s"${System.getProperty("java.io.tmpdir")}/graft-bench/scale-warm"
      for (_ <- 0 until 3)
        warm.write.format("nimble").option("indexColumns", "skey")
          .option("bloomFilterColumns", "skey").mode("overwrite").save(warmDir)
      for (_ <- 0 until 3)
        spark.read.format("nimble").load(warmDir)
          .filter(col("skey") === "nosuchkey").count()
      val calibs = scala.collection.mutable.LinkedHashMap[String, Double]()
      runScaleBlocks(spark, results, mins, calibs)
      for ((k, v) <- results) println(s"SCALE_RES $k $v")
      for ((k, v) <- mins) println(s"SCALE_MIN $k $v")
      for ((k, v) <- calibs) println(s"SCALE_CAL $k $v")
      spark.stop()
      return
    }

    // ---- write throughput: parquet -> nimble conversion of lineitem ----
    // Timed region = the write alone: the source is cached and pre-shuffled
    // into the cluster write shape (one file per task), and both writers get
    // a small untimed JIT warmup — steady-state throughput, mirroring
    // timeWarm on the scans.
    val li0 = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val li = li0.repartition(cpus.toInt).cache()
    val liRows = li.count()
    val nimbleLi = s"${System.getProperty("java.io.tmpdir")}/graft-bench/lineitem"
    // The write stack (codec candidate search + selection) is deep Scala that
    // takes several invocations to reach C2-compiled steady state; a single
    // untimed warmup still measures tier-1 code (observed: iterations 2-4 run
    // 0.15-0.38s, steady state 0.09-0.11s). Both writers get the same extra
    // warm passes — the metric is steady-state throughput, which is what a
    // long-running ingest job sees.
    for (_ <- 0 until 3) li.write.format("nimble").mode("overwrite").save(nimbleLi)
    timed("write_lineitem") {
      li.write.format("nimble").mode("overwrite").save(nimbleLi)
    }
    val wSec = results("write_lineitem")
    results("write_rows_per_sec") = liRows / wSec
    val pqDir = s"${System.getProperty("java.io.tmpdir")}/graft-bench/lineitem-parquet"
    for (_ <- 0 until 3) li.write.mode("overwrite").parquet(pqDir)
    timed("write_parquet_sec") {
      li.write.mode("overwrite").parquet(pqDir)
    }
    results("write_vs_parquet_ratio") = wSec / results("write_parquet_sec")

    // pre-convert the rest (not timed per-table)
    for (t <- Seq("orders", "customer", "documents", "embeddings", "events"))
      Tables.nimbleDir(spark, sfDir, t)

    val nb = spark.read.format("nimble").load(nimbleLi)
    // layout-matched parquet control: the same 32-file write as the nimble
    // table, so scan ratios compare format decode cost, not task-count
    // overhead of 32 small files vs the driver's single original file (that
    // single-file number is still reported as *_parquet_1file)
    val pq = spark.read.parquet(s"${System.getProperty("java.io.tmpdir")}/graft-bench/lineitem-parquet")

    // ---- scans ----
    // `+ 0` blocks SUM pushdown (the aggregate child is no longer a bare
    // column): this metric measures the VECTORIZED SCAN + Spark aggregation,
    // apples-to-apples with the parquet control — without it the r10 sum
    // pushdown would silently turn it into the mid-scan fold
    def fullScan(df: DataFrame): Long =
      df.agg(sum(col("l_extendedprice") + 0), sum(col("l_quantity") + 0), count(lit(1)))
        .collect()(0).getLong(2)
    timed("scan_full_nimble")(fullScan(nb))
    timed("scan_full_parquet")(fullScan(pq))
    timed("scan_full_parquet_1file")(fullScan(li))
    results("scan_full_vs_parquet_ratio") = results("scan_full_nimble") / results("scan_full_parquet")
    // the same sums WITH pushdown: the mid-scan decode fold (no output
    // vectors, one partial row per task) vs the full scan above
    timed("agg_sum_fold") {
      nb.agg(sum("l_extendedprice"), sum("l_quantity"), count(lit(1))).collect()
    }
    // grouped fold: GROUP BY dict strings keys accumulators by dictionary
    // id — one partial row per (task, group), no row batches at all
    timed("agg_group_fold") {
      nb.groupBy("l_returnflag", "l_linestatus")
        .agg(sum("l_extendedprice"), sum("l_quantity"), count(lit(1))).collect()
    }

    def prunedScan(df: DataFrame): Long =
      df.filter(col("l_quantity") > 45).select("l_orderkey", "l_quantity")
        .agg(count(lit(1))).collect()(0).getLong(0)
    timed("scan_pruned_nimble")(prunedScan(nb))
    timed("scan_pruned_parquet")(prunedScan(pq))
    timed("scan_pruned_parquet_1file")(prunedScan(li))

    // ---- stats-answerable aggregate ----
    timed("agg_from_stats") {
      nb.agg(count(lit(1)), min("l_orderkey"), max("l_orderkey"),
        min("l_quantity"), max("l_quantity")).collect()
    }

    // ---- index-assisted point probe (SelectiveNimbleIndexReader in the
    // DSv2 path): same data + layout, with and without a hash index; keys
    // hash-scrambled so stats/bloom-era chunk skipping is blind and the
    // delta isolates index-driven chunk selection ----
    val ordScrambled = spark.read.parquet(s"$sfDir/orders.parquet")
      .withColumn("okey", expr("xxhash64(o_orderkey)"))
    val ordIdxDir = s"${System.getProperty("java.io.tmpdir")}/graft-bench/orders-idx"
    val ordNoIdxDir = s"${System.getProperty("java.io.tmpdir")}/graft-bench/orders-noidx"
    ordScrambled.coalesce(4).write.format("nimble")
      .option("indexColumns", "okey").option("rowsPerChunk", "4096")
      .mode("overwrite").save(ordIdxDir)
    ordScrambled.coalesce(4).write.format("nimble")
      .option("rowsPerChunk", "4096").mode("overwrite").save(ordNoIdxDir)
    val probeKey = ordScrambled.select("okey").limit(1).collect()(0).getLong(0)
    // wall time at this scale is dominated by fixed Spark job overhead; the
    // chunk-skip counter delta is the noise-free signal that the index
    // restricted decode (skips per single probe run, not per timed repeat)
    val skipped0 = graft.spark.NimbleSource.chunksSkipped.get()
    spark.read.format("nimble").load(ordIdxDir).filter(col("okey") === probeKey).count()
    results("point_probe_chunks_skipped") =
      (graft.spark.NimbleSource.chunksSkipped.get() - skipped0).toDouble
    timed("point_probe_indexed") {
      spark.read.format("nimble").load(ordIdxDir).filter(col("okey") === probeKey).count()
    }
    timed("point_probe_scan") {
      spark.read.format("nimble").load(ordNoIdxDir).filter(col("okey") === probeKey).count()
    }

    // ---- scale blocks: run in a FRESH forked JVM by default. The r12
    // verdict measured this block's single-shot metrics 2-3x above idle
    // truth (scale_compact 45.9s artifact vs 15.0s fresh-JVM judge probe):
    // they run once, late in a long-lived bench JVM, under accumulated
    // GC/heap pressure the load_suspect repeats cannot see. Forking
    // reproduces the judge's fresh-JVM probe discipline by construction;
    // a "scale-inline" arg or any fork failure falls back to inline. ----
    val scaleCalibs = scala.collection.mutable.LinkedHashMap[String, Double]()
    val forkedScale =
      if (args.contains("scale-inline")) None else forkedScaleMetrics(sfDir, cpus)
    forkedScale match {
      case Some((r, m, c)) => results ++= r; mins ++= m; scaleCalibs ++= c
      case None => runScaleBlocks(spark, results, mins, scaleCalibs)
    }

    // ---- encoded size ----
    results("bench_cpus") = cpus.toDouble
    val nimbleFiles = dataFileCount(nimbleLi)
    results("size_nimble_files") = nimbleFiles.toDouble
    results("size_parquet_files") = dataFileCount(s"$sfDir/lineitem.parquet").toDouble
    results("size_nimble_bytes") = dirBytes(nimbleLi).toDouble
    results("size_parquet_bytes") = dirBytes(s"$sfDir/lineitem.parquet").toDouble
    // metadata/data A/B (r15 Next #4): per-file footer+directory bytes vs
    // stripe payload bytes, from the written files' own footers — the split
    // that decides whether a ratio delta is codec work or file-count tax
    locally {
      var dataB = 0L
      var totB = 0L
      // recursive + null-guarded (r16 ADVICE: a flat listFiles() NPEs on a
      // non-local fs and misses nested part files)
      def walk(f: java.io.File): Unit =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(walk)
        else if (f.getName.endsWith(".gft")) {
          val r = new graft.format.Tablet.Reader(f.getPath)
          try { dataB += r.footer.stripes.map(_.length).sum; totB += f.length() }
          finally r.close()
        }
      walk(new java.io.File(nimbleLi))
      results("size_nimble_data_bytes") = dataB.toDouble
      results("size_nimble_meta_bytes") = (totB - dataB).toDouble
    }
    val sizeRatio = results("size_nimble_bytes") / results("size_parquet_bytes")
    // layout-pinned ratio: per-file metadata (footer + NDV blocks + v14 chunk
    // directory) is a whole-percent fraction at sf0.1, so the ratio is only
    // comparable between runs with the same output file count. The plain
    // metric name is reserved for the driver contract's 32-file layout
    // (repartition(cpus) at 32 cpus); any other layout emits under an
    // explicitly off-layout name so it can never masquerade as the headline.
    if (nimbleFiles == 32) results("encoded_size_ratio") = sizeRatio
    else results("encoded_size_ratio_offlayout") = sizeRatio

    // ---- headline queries over the connector ----
    val headline = Seq("q13_tpch_q1", "q14_tpch_q6", "q15_join_agg", "q16_window",
      "x01_dedup_fingerprint", "x02_neardup_jaccard", "x05_embed_topk", "x07_text_quality")
    for (name <- headline) {
      val fn = SparkEntry.queries(name)
      // warm plan + conversion outside the timed region
      fn(spark, sfDir).limit(1).collect()
      timed(name)(fn(spark, sfDir).write.format("noop").mode("overwrite").save())
    }

    // ---- codec grid (ns/element, encode+decode on 100K values) ----
    val n = 100000
    val rnd = new scala.util.Random(42)
    // median+min of 5 passes (2+ warmup) — GC pauses and JIT recompiles land
    // in single-shot numbers and made this metric bounce across rounds.
    // Pass length CALIBRATES to >= 10 ms: the fastest decodes (constant:
    // ~1 ns/el, a 2 ms pass at the old fixed 20 reps) were perturbed by
    // MULTIPLES by a single GC pause and tripped load_suspect in r12's
    // idle run; at 10+ ms a pause moves a pass by percent.
    def statsPass(body: => Unit): (Double, Double, Int) = {
      def pass(reps: Int): Double = time { var k = 0; while (k < reps) { body; k += 1 } }._1
      var reps = 20
      pass(reps) // warm
      var t = pass(reps)
      while (t < 0.010 && reps < 20480) { reps *= 4; t = pass(reps) }
      val ts = Array.fill(5)(pass(reps))
      java.util.Arrays.sort(ts)
      (ts(2), ts(0), reps)
    }
    def gridMetrics(pname: String, encode: () => Unit, decode: () => Unit,
        encodedBytes: Int): Unit = {
      val (encSec, encMin, encReps) = statsPass(encode())
      val (decSec, decMin, decReps) = statsPass(decode())
      results(s"codec_${pname}_enc_nspe") = encSec * 1e9 / (n.toLong * encReps)
      mins(s"codec_${pname}_enc_nspe") = encMin * 1e9 / (n.toLong * encReps)
      results(s"codec_${pname}_dec_nspe") = decSec * 1e9 / (n.toLong * decReps)
      mins(s"codec_${pname}_dec_nspe") = decMin * 1e9 / (n.toLong * decReps)
      results(s"codec_${pname}_ratio") = encodedBytes.toDouble / (n * 8.0)
    }
    for ((pname, data) <- codecGridPatterns(n, rnd)) {
      val col = LongsCol(data, PhysType.I64)
      val sink0 = new ByteSink(); Codecs.encodeColumn(col, sink0)
      val bytes = sink0.toArray
      gridMetrics(pname,
        () => { val s = new ByteSink(); Codecs.encodeColumn(col, s) },
        () => Codecs.decodeColumn(new ByteCursor(bytes)),
        bytes.length)
    }

    // ---- doubles codec grid: the ALP arm (r12) — cents, cents with
    // exception stragglers, and honest-decline random reals ----
    val dpatterns: Seq[(String, Array[Double])] = Seq(
      "dcents" -> Array.fill(n)(rnd.nextInt(1000000) / 100.0),
      "dcentsexc" -> Array.tabulate(n)(i =>
        if (i % 20 == 7) rnd.nextDouble() * 1e3
        else if (i == 31) Double.NaN
        else rnd.nextInt(1000000) / 100.0),
      "drand" -> Array.fill(n)(rnd.nextDouble() * 1e6))
    for ((pname, data) <- dpatterns) {
      val col = DoublesCol(data, isFloat = false)
      val sink0 = new ByteSink(); Codecs.encodeColumn(col, sink0)
      val bytes = sink0.toArray
      gridMetrics(pname,
        () => { val s = new ByteSink(); Codecs.encodeColumn(col, s) },
        () => Codecs.decodeColumn(new ByteCursor(bytes)),
        bytes.length)
    }

    val total = results.filter(_._1.matches("write_lineitem|scan_.*|agg_from_stats|q.*|x.*")).values.sum
    // contamination audit, two detectors: (1) min-vs-median divergence over
    // five repeats; (2) calibration drift — single-shot scale metrics whose
    // surrounding fixed-cost probe ran >1.3x above the scale block's best
    // sample (the r13 hole: the repeat detector cannot see one-shot metrics)
    val minMedianDrifts = mins.collect {
      case (k, mn) if isLoadSuspect(mn, results(k),
        if (k.endsWith("_nspe")) 0.5 else 0.010) => (k, results(k) / math.max(mn, 1e-12))
    }.toSeq
    // the drift base is the best probe sample seen by EITHER block (the
    // scale fork's fresh JVM included): a box loaded end-to-end inflates
    // every sample, so the wider the base pool the harder it is to fool
    val mainCalBase = if (mainCalSamples.isEmpty) 0.0 else mainCalSamples.min
    results("calib_base_ns") = mainCalBase
    val scaleCalBase = results.getOrElse("scale_calib_base_ns", 0.0)
    val calBase =
      if (scaleCalBase > 0 && mainCalBase > 0) math.min(scaleCalBase, mainCalBase)
      else math.max(scaleCalBase, mainCalBase)
    val suspects = rankSuspects(minMedianDrifts
      ++ calibSuspectDrifts(scaleCalibs.toSeq, calBase)
      ++ calibSuspectDrifts(mainCalibs.toSeq, calBase))
    // codec compression ratios are deterministic (same seed, same selection):
    // any drift vs the previous round's artifact is a code change, and ratio
    // drift WITHOUT a deliberate codec change alongside timing swings means
    // the timings moved for non-code reasons. Compare at the emitted (6
    // significant digit) resolution so re-rounding old full-precision
    // artifacts never reads as drift.
    val (ratioBaseline, prevRatios) = previousBenchRatiosWithSource()
    val ratioDrift = results.collect {
      case (k, v) if k.endsWith("_ratio") && k.startsWith("codec_") &&
        prevRatios.get(k).exists(p => fmt6(v) != fmt6(p)) => k
    }.toSeq
    // full-fidelity dump (every metric + every min, full precision) for humans
    // and post-hoc analysis; the stdout line is the driver contract and is
    // budgeted below
    writeFullDump(
      results.toMap ++ scaleCalibs.map { case (k, v) => (k + "_calib_ns", v) }
        ++ mainCalibs.map { case (k, v) => (k + "_calib_ns", v) },
      mins.toMap, suspects, ratioDrift, sfDir, runId, ratioBaseline)
    println(renderLine(total, results.toSeq, mins.toSeq, suspects, ratioDrift, sfDir,
      fullName = roundFullDumpName(runId = runId), runId = runId))
    spark.stop()
  }

  /** The tracked per-round full-dump name
    * (bench_full_r{N}_{runId}.json, N = the round being built = newest
    * committed BENCH_r artifact + 1): the r14 gitignored bench_full.json was
    * overwritten by a later idle run, and the r15 per-round name was still
    * overwritten by the driver's post-commit run — the run id in the NAME
    * means no later run of the same round can clobber this one, and the
    * summary's "full"/"run" fields point at exactly this file. */
  private[graft] def roundFullDumpName(dir: String = ".", runId: String = ""): String = {
    val prev = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .flatMap(f => "^BENCH_r(\\d+)\\.json$".r.findFirstMatchIn(f.getName))
      .map(_.group(1).toInt)
    val suffix = if (runId.isEmpty) "" else s"_$runId"
    s"bench_full_r${if (prev.isEmpty) 1 else prev.max + 1}$suffix.json"
  }

  /** 6-significant-digit compact JSON number: the driver's artifact capture
    * keeps only the tail of stdout, so every emitted char counts; sub-ppm
    * resolution is far below this box's run-to-run noise anyway. */
  private[graft] def fmt6(v: Double): String = {
    if (v.isNaN || v.isInfinite) return "-1.0"
    var s = "%.6g".formatLocal(java.util.Locale.ROOT, v)
    if (s.contains('e') || s.contains('E')) {
      val Array(m, e) = s.split("[eE]")
      val m2 = if (m.contains('.')) m.reverse.dropWhile(_ == '0').reverse.stripSuffix(".") else m
      s = m2 + "e" + e.toInt // normalizes e-06 -> e-6, e+06 -> e6
    } else if (s.contains('.')) {
      s = s.reverse.dropWhile(_ == '0').reverse
      if (s.endsWith(".")) s += "0"
    }
    s
  }

  /** Metrics whose best-of-five min rides along on the stdout line. Everything
    * else gets a median only there (mins still land in the full dump): the
    * codec grid's min adds nothing the median + load_suspect flag doesn't,
    * and parquet-control mins matter only for post-hoc noise forensics. */
  private def headlineMin(k: String): Boolean =
    k.matches("write_lineitem|scan_full_nimble|scan_pruned_nimble|" +
      "point_probe_indexed|point_probe_scan|scale_probe_indexed|scale_probe_scan|" +
      "scale_spj_join|scale_shuffle_join|scale_zorder_probe_b|scale_linear_probe_b") ||
      k.matches("q\\d\\d_.*|x\\d\\d_.*") // EVERY headline query min rides along:
      // a contaminated median with no min twin is unfalsifiable from the
      // artifact alone (r9's x07 took a judge re-run to clear)

  /** Render the single stdout JSON line under a hard budget: the driver
    * captures only the last 2000 chars of output, so a line that grows past
    * that records as parsed:null (it happened in round 8). Entries are
    * priority-tiered; lower tiers are dropped whole when the budget would
    * overflow, so the headline contract can never be truncated mid-grid. */
  private[graft] def renderLine(total: Double, results: Seq[(String, Double)],
      mins: Seq[(String, Double)], suspects: Seq[String], ratioDrift: Seq[String],
      sfDir: String, budget: Int = 1880,
      fullName: String = "bench_full.json", runId: String = "local"): String = {
    val rm = results.toMap
    // tier 1: headline medians/counters (no codec grid);
    // tier 2a: best-of-five mins for the QUERY timings — these outrank the
    //   whole codec grid: a contaminated median with no min twin is
    //   unfalsifiable from the artifact alone (r9's x07);
    // tier 3: codec compression ratios (the round-over-round drift check
    //   parses them from committed artifacts — they outrank the operator
    //   probe mins, which are re-derivable from bench_full.json);
    // tier 2b: probe mins; tier 4: codec decode grid; tier 5: encode grid;
    // tier 6: derived/control extras (*_vs_parquet ratios are derivable
    //   from the two medians)
    // any EMITTED flagged metric (suspect_metrics caps at 6, drift-ranked
    // worst-first by the caller) forces its median into tier 1 (r14 ADVICE:
    // the artifact flagged scale_probe_cascade while the summary filter
    // dropped its value — an auditor could not see the flagged number);
    // suspect_n carries the TRUE flag count so a capped list is detectable
    // from the summary alone (r15: the cap hid 13 of 19 flags)
    val emittedSuspects = suspects.take(6).toSet
    // r22: tier1 had grown past the whole budget (r18-r21 lines were 2.0-2.2K
    // chars; the driver's 2000-char tail capture truncated them mid-key and
    // r18/r19/r20 recorded parsed:null). Counters, retry flags and per-phase
    // diagnostic walls — never timings — demote to tier1b, which rides only
    // when the budget allows; every demoted value stays at full precision in
    // the committed bench_full dump.
    val tier1bPat = "scale_delete_r\\d_.*|.*_retried|scale_factor|" +
      ".*_chunks_skipped|scale_probe_fetch_frac|scale_cascade_col2_frac|" +
      "scale_zorder_prune_frac|scale_write_cpu_ms_per_mb|scale_cc_rounds|" +
      "scale_delete_indexed_r1"
    val tier1 = (results.filterNot { case (k, _) =>
      k.matches("codec_.*|scan_.*_parquet_1file|size_.*_bytes|size_.*_files|" +
        "scale_rows|scale_idx_files|scale_noidx_files|bench_cpus|" +
        "write_rows_per_sec|write_vs_parquet_ratio|scan_full_vs_parquet_ratio|" +
        "scale_delete_rewritten|scale_sql_update_files|scale_probe_cascade|" +
        "calib_base_ns|scale_calib_base_ns|scale_loadavg_.*") || k.matches(tier1bPat)
    } ++ results.filter { case (k, _) => emittedSuspects.contains(k) })
      .foldLeft(Vector.empty[(String, Double)]) { (acc, kv) =>
        if (acc.exists(_._1 == kv._1)) acc else acc :+ kv
      }
    val tier1b = results.filter { case (k, _) =>
      k.matches(tier1bPat) && !emittedSuspects.contains(k) }
    // query mins outrank operator-probe mins: the judge's falsifiability
    // contract is "every q*/x* timing has a _min twin"; when the budget
    // pinches, the probe mins drop first (split so one overflowing entry
    // can never take the whole mins tier off the r11 cliff)
    val tier2a = mins.collect { case (k, v) if k.matches("q\\d\\d_.*|x\\d\\d_.*") => (k + "_min", v) }
    val tier2b = mins.collect { case (k, v) if headlineMin(k) && !k.matches("q\\d\\d_.*|x\\d\\d_.*") => (k + "_min", v) }
    val tier3 = results.filter(_._1.matches("codec_.*_ratio"))
    val tier4 = results.filter(_._1.matches("codec_.*_dec_nspe"))
    val tier5 = results.filter(_._1.matches("codec_.*_enc_nspe"))
    val tier6 = results.filter { case (k, _) =>
      k.matches("scan_.*_parquet_1file|size_.*_bytes|size_.*_files|scale_rows|" +
        "scale_idx_files|scale_noidx_files|bench_cpus|write_rows_per_sec|" +
        "write_vs_parquet_ratio|scan_full_vs_parquet_ratio|scale_delete_rewritten|" +
        "scale_sql_update_files|scale_probe_cascade|calib_base_ns|" +
        "scale_calib_base_ns|scale_loadavg_.*")
    }
    def obj(entries: Seq[(String, Double)]): String =
      entries.map { case (k, v) => "\"" + k + "\":" + fmt6(v) }.mkString("{", ",", "}")
    val suspectJson = suspects.take(6).map("\"" + _ + "\"").mkString("[", ",", "]")
    val driftJson = ratioDrift.take(6).map("\"" + _ + "\"").mkString("[", ",", "]")
    def line(entries: Seq[(String, Double)]): String =
      s"""{"metric":"total","value":${fmt6(total)},"unit":"sec","queries":${obj(entries)},""" +
        s""""load_suspect":${suspects.nonEmpty},"suspect_n":${suspects.length},""" +
        s""""suspect_metrics":$suspectJson,""" +
        s""""codec_ratio_drift":$driftJson,"run":"$runId","full":"$fullName","sf":"$sfDir"}"""
    val tiers = Seq(tier1, tier2a, tier1b, tier3, tier2b, tier4, tier5, tier6)
      .scanLeft(Seq.empty[(String, Double)])(_ ++ _).drop(1)
    tiers.reverse.find(t => line(t).length <= budget).map(line)
      .getOrElse(line(tier1)) // tier 1 alone is sized well under budget
  }

  private def writeFullDump(results: Map[String, Double], mins: Map[String, Double],
      suspects: Seq[String], ratioDrift: Seq[String], sfDir: String,
      runId: String, ratioBaseline: String = "none"): Unit = {
    try {
      val all = results.toSeq.sortBy(_._1) ++
        mins.toSeq.sortBy(_._1).map { case (k, v) => (k + "_min", v) }
      val qs = all.map { case (k, v) =>
        "\"" + k + "\":" + (if (v.isNaN || v.isInfinite) -1.0 else v) }
        .mkString("{", ",", "}")
      val txt = s"""{"run_id":"$runId","queries":$qs,""" +
        s""""load_suspect":${suspects.nonEmpty},"suspect_n":${suspects.length},""" +
        s""""suspect_metrics":${suspects.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
        s""""codec_ratio_drift":${ratioDrift.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
        s""""ratio_baseline":"$ratioBaseline","sf":"$sfDir"}"""
      java.nio.file.Files.write(java.nio.file.Paths.get("bench_full.json"),
        txt.getBytes("UTF-8"))
      // tracked per-round archive, run-id-named: no later run — not even the
      // driver's post-commit one — can overwrite this run's dump (r15 ADVICE:
      // summary and tracked dump must describe the same run)
      java.nio.file.Files.write(java.nio.file.Paths.get(roundFullDumpName(runId = runId)),
        txt.getBytes("UTF-8"))
    } catch { case _: Exception => () } // best-effort side artifact
  }

  /** Codec ratios from the newest *parseable* committed BENCH_r*.json, for
    * the drift-vs-previous-round assertion; empty when none is readable.
    * An artifact the driver could not machine-read (its tail capture
    * truncated the bench line, recorded as "parsed": null — round 8) is
    * skipped in favor of the next older one: a driver-side truncation must
    * never fail the spec that guards against it. */
  private[graft] def previousBenchRatios(dir: String = "."): Map[String, Double] =
    previousBenchRatiosWithSource(dir)._2

  /** Same, plus the NAME of the artifact that supplied the baseline: the
    * reference can be several rounds old (a loaded round's summary drops
    * tier 3 under budget and carries no ratio values — r14 and r15 both
    * did), so a drift flag is only auditable when the dump says what it was
    * compared against (r16: BENCH_r16 re-flagged the two known r15
    * seekability-tail deltas because its baseline had fallen back to
    * BENCH_r13). The tracked run-named FULL dumps
    * (bench_full_r{N}_{id}.json) always carry every ratio at full
    * precision, so within a round they fill the gap a budget-pinched
    * summary leaves: candidates are ordered newest round first, driver
    * summary before that round's full dumps. */
  private[graft] def previousBenchRatiosWithSource(dir: String = "."): (String, Map[String, Double]) = {
    try {
      val all = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      def roundOf(n: String): Int = "_r(\\d+)".r.findFirstMatchIn(n).map(_.group(1).toInt).getOrElse(-1)
      val files = (all.filter(_.getName.matches("BENCH_r\\d+\\.json")) ++
        all.filter(_.getName.matches("bench_full_r\\d+_[0-9a-f]+\\.json")))
        .sortBy(f => (-roundOf(f.getName), if (f.getName.startsWith("BENCH_")) 0 else 1, f.getName))
      for (f <- files) {
        val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        val truncated = text.contains("\"parsed\": null") || text.contains("\"parsed\":null")
        // the driver wraps the bench line in its own JSON (quotes escaped, or
        // re-emitted with spaces) — accept both shapes
        val ratios = "\"(codec_\\w+_ratio)\\\\?\":\\s*([-0-9.eE+]+)".r.findAllMatchIn(text)
          .flatMap(m => scala.util.Try(m.group(2).toDouble).toOption.map(m.group(1) -> _))
          .toMap
        if (!truncated && ratios.nonEmpty) return (f.getName, ratios)
      }
      ("none", Map.empty)
    } catch { case _: Exception => ("none", Map.empty) }
  }
}
