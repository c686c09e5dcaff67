package graft

/** Bench-harness contamination defenses (round-7 lesson: a sustained
  * co-tenant spike covered all five repeats and the driver artifact recorded
  * a 10-25x phantom regression that only a judge re-run caught). The harness
  * must flag itself. */
class BenchSpec extends SparkTestBase {

  test("load-suspect flag trips on a sustained spike, stays quiet when steady") {
    // healthy: min/median of five warmed runs track within tens of percent
    assert(!Bench.isLoadSuspect(0.100, 0.130))
    // sustained spike: even the best-of-five sits >2x under the median
    assert(Bench.isLoadSuspect(0.100, 0.350))
    // micro-timing jitter below the 10 ms absolute floor never flags
    assert(!Bench.isLoadSuspect(0.001, 0.004))
    // codec-grid units (ns/el): the actual round-7 contaminated value flags
    assert(Bench.isLoadSuspect(1.75, 47.4, floor = 0.5))
    // sub-floor ns/el jitter does not
    assert(!Bench.isLoadSuspect(0.10, 0.30, floor = 0.5))
  }

  test("timeWarmStats surfaces min vs median divergence under synthetic load") {
    // deterministic synthetic load: warmup + first two timed repeats spin
    // 2 ms, the last three spin 40 ms — a sustained mid-run spike. Median
    // lands on the slow side, min keeps the fast truth, and the flag trips.
    var calls = 0
    val (med, mn, _) = Bench.timeWarmStats {
      calls += 1
      val spinMs = if (calls <= 3) 2L else 40L
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < spinMs * 1000000L) {}
    }
    assert(calls == 6) // 1 warmup + 5 timed
    assert(mn < med, s"min $mn median $med")
    assert(Bench.isLoadSuspect(mn, med), s"synthetic spike not flagged: min $mn median $med")
  }

  test("calibration probe is stable idle and the drift rule flags loaded metrics") {
    // the probe itself: two consecutive samples on the same thread should
    // agree well within the 1.3x drift threshold (min-of-3 absorbs GC)
    val a = Bench.calibProbe()
    val b = Bench.calibProbe()
    assert(a > 0 && b > 0)
    assert(math.max(a, b) / math.min(a, b) < Bench.CalibDriftMax,
      s"idle calibration unstable: $a vs $b ns/op")
    // the rule: a metric whose surrounding probe ran >1.3x over the block's
    // best sample flags; everything at or under the threshold stays quiet
    val sus = Bench.calibSuspects(
      Seq("scale_write" -> 10.0, "scale_delete" -> 13.1, "scale_cc_sec" -> 12.9),
      base = 10.0)
    assert(sus == Seq("scale_delete"), s"got $sus")
    // degenerate base (no samples) never flags
    assert(Bench.calibSuspects(Seq("x" -> 99.0), base = 0.0).isEmpty)
  }

  test("previous-round codec ratios parse from the committed BENCH artifact") {
    val ratios = Bench.previousBenchRatios(".")
    assert(ratios.contains("codec_random_ratio"), s"parsed keys: ${ratios.keys}")
    assert(ratios("codec_constant_ratio") > 0 && ratios("codec_constant_ratio") < 0.1)
    // unreadable dir -> empty, never throws
    assert(Bench.previousBenchRatios("/nonexistent").isEmpty)
  }

  test("previousBenchRatios skips a truncated artifact and falls back to the next parseable one") {
    val dir = java.nio.file.Files.createTempDirectory("benchspec").toFile
    def write(name: String, body: String): Unit =
      java.nio.file.Files.write(new java.io.File(dir, name).toPath, body.getBytes("UTF-8"))
    // older round: complete, machine-readable
    write("BENCH_r1.json",
      """{"n":1,"tail":"...\"codec_random_ratio\":1.00001,\"codec_constant_ratio\":7.5e-6,\"sf\":0.1...","parsed":{"ok":true}}""")
    // newest round: driver tail capture cut the line -> parsed: null (r8 shape);
    // its surviving fragment even contains one ratio, which must NOT win
    write("BENCH_r2.json",
      """{"n":2,"tail":"\"codec_constant_ratio\":9.9,...cut...","parsed": null}""")
    val ratios = Bench.previousBenchRatios(dir.getAbsolutePath)
    assert(ratios("codec_random_ratio") == 1.00001)
    assert(ratios("codec_constant_ratio") == 7.5e-6, "fell back past the truncated artifact")
  }

  test("drift baseline prefers the newest round, summary before full dump, and fills summary gaps") {
    val dir = java.nio.file.Files.createTempDirectory("benchbase").toFile
    def write(name: String, body: String): Unit =
      java.nio.file.Files.write(new java.io.File(dir, name).toPath, body.getBytes("UTF-8"))
    // r5: summary with values AND a full dump — the summary (driver
    // contract) wins within the round
    write("BENCH_r5.json", """{"tail":"\"codec_random_ratio\":0.5","parsed":{}}""")
    write("bench_full_r5_aaaa1111.json", """{"queries":{"codec_random_ratio":0.4}}""")
    val (src5, r5) = Bench.previousBenchRatiosWithSource(dir.getAbsolutePath)
    assert(src5 == "BENCH_r5.json" && r5("codec_random_ratio") == 0.5, s"$src5 $r5")
    // r6: budget-pinched summary with NO ratio values (the r14/r15 shape) —
    // its own round's committed full dump now fills the gap instead of
    // falling back rounds and re-flagging known old deltas
    write("BENCH_r6.json", """{"tail":"\"suspect_metrics\":[\"codec_increasing_ratio\"]","parsed":{}}""")
    write("bench_full_r6_beef2222.json", """{"queries":{"codec_random_ratio":0.7}}""")
    val (src6, r6) = Bench.previousBenchRatiosWithSource(dir.getAbsolutePath)
    assert(src6 == "bench_full_r6_beef2222.json" && r6("codec_random_ratio") == 0.7, s"$src6 $r6")
  }

  test("fmt6 renders compact valid-JSON numbers at 6 significant digits") {
    assert(Bench.fmt6(0.10567234567) == "0.105672")
    assert(Bench.fmt6(1.9889730000000003) == "1.98897")
    assert(Bench.fmt6(42.0) == "42.0")
    assert(Bench.fmt6(7.5e-6) == "7.5e-6")
    assert(Bench.fmt6(4198312.7) == "4.19831e6")
    assert(Bench.fmt6(Double.NaN) == "-1.0")
    // every shape must round-trip through a strict JSON parser
    for (s <- Seq("0.105672", "1.98897", "42.0000", "7.5e-6", "4.19831e6"))
      assert(java.lang.Double.parseDouble(s) > 0)
  }

  test("rendered bench line stays under the driver's 2000-char tail capture") {
    // realistic full metric set: every key Bench.main records at sf0.1
    val patterns = Seq("random", "narrow8", "constant", "mainly_const",
      "runlength", "increasing", "lowcard64")
    val heads = Seq("write_lineitem", "write_rows_per_sec", "write_parquet_sec",
      "write_vs_parquet_ratio", "scan_full_nimble", "scan_full_parquet",
      "scan_full_parquet_1file", "scan_full_vs_parquet_ratio", "scan_pruned_nimble",
      "scan_pruned_parquet", "scan_pruned_parquet_1file", "agg_from_stats",
      "point_probe_chunks_skipped", "point_probe_indexed", "point_probe_scan",
      "size_nimble_bytes", "size_parquet_bytes", "encoded_size_ratio",
      "q13_tpch_q1", "q14_tpch_q6", "q15_join_agg", "q16_window",
      "x01_dedup_fingerprint", "x02_neardup_jaccard", "x05_embed_topk",
      "x07_text_quality",
      "scale_rows", "scale_write", "scale_scan_full", "scale_probe_chunks_skipped",
      "scale_probe_indexed", "scale_probe_scan", "scale_cc_sec", "scale_cc_rounds")
    val results = heads.map(k => k -> 0.12345678912) ++
      patterns.flatMap(p => Seq(s"codec_${p}_enc_nspe" -> 18.546478,
        s"codec_${p}_dec_nspe" -> 1.9889730000000003, s"codec_${p}_ratio" -> 0.06555))
    val mins = results.map { case (k, _) => k -> 0.1111111 }
    val line = Bench.renderLine(3.14159, results, mins, Nil, Nil, "/root/testdata/sf0.1")
    assert(line.length <= 1880, s"line ${line.length} chars:\n$line")
    // the headline contract always survives budgeting
    for (k <- Seq("write_lineitem", "scan_full_nimble", "codec_random_ratio",
      "codec_mainly_const_dec_nspe", "scale_probe_indexed", "x02_neardup_jaccard",
      "scan_full_nimble_min", "scale_cc_sec", "scale_cc_rounds",
      // r9 lesson: a contaminated median with no min twin is unfalsifiable
      // from the artifact alone — every headline query carries its min
      "x01_dedup_fingerprint_min", "x05_embed_topk_min", "x07_text_quality_min",
      "q13_tpch_q1_min", "q16_window_min"))
      assert(line.contains("\"" + k + "\""), s"missing $k in:\n$line")
    // worst case — every metric suspect, every ratio drifted — still fits
    val worst = Bench.renderLine(3.14159, results, mins,
      results.map(_._1), patterns.map(p => s"codec_${p}_ratio"), "/root/testdata/sf0.1")
    assert(worst.length <= 1880, s"worst-case line ${worst.length} chars")
  }

  test("r22: the FULL driver-scale metric set renders under budget with every timing kept") {
    // the exact key set the r21 driver run emitted (BENCH_r21.json parsed
    // 63 keys, 2203 chars — past the 2000-char tail window; r18-r20 recorded
    // parsed:null the same way) plus this round's additions. Timings and the
    // ratio pin must survive; counters/flags/phase walls may demote to the
    // full dump.
    val r21Keys = Seq("write_lineitem", "write_parquet_sec", "scan_full_nimble",
      "scan_full_parquet", "agg_sum_fold", "agg_group_fold", "scan_pruned_nimble",
      "scan_pruned_parquet", "agg_from_stats", "point_probe_chunks_skipped",
      "point_probe_indexed", "point_probe_scan", "scale_factor", "scale_write",
      "scale_write_cpu_sec", "scale_write_cpu_ms_per_mb", "scale_probe_chunks_skipped",
      "scale_probe_indexed", "scale_probe_fetch_frac", "scale_probe_scan",
      "scale_cascade_col2_frac", "scale_scan_full", "scale_compact_sec",
      "scale_compact_small_sec", "scale_zorder_sec", "scale_zorder_sec_retried",
      "scale_zorder_probe_b", "scale_linear_probe_b", "scale_zorder_prune_frac",
      "scale_delete_r1_classify", "scale_delete_r1_recoverLayout",
      "scale_delete_r1_surgery", "scale_delete_r1_unlink", "scale_delete_r2_classify",
      "scale_delete_r2_recoverLayout", "scale_delete_r2_surgery",
      "scale_delete_r2_unlink", "scale_delete", "scale_delete_indexed",
      "scale_delete_indexed_r1", "scale_sql_update", "scale_cc_sec",
      "scale_cc_sec_retried", "scale_cc_rounds", "scale_spj_join",
      "scale_shuffle_join", "scale_fm_write_cpu_sec", "scale_fm_write",
      "scale_fm_write_retried", "scale_fm_chunks_skipped", "scale_fm_probe",
      "scale_fm_proj", "scale_fm_write_parquet", "scale_fm_probe_parquet",
      "scale_fm_proj_parquet", "encoded_size_ratio", "q13_tpch_q1", "q14_tpch_q6",
      "q15_join_agg", "q16_window", "x01_dedup_fingerprint", "x02_neardup_jaccard",
      "x05_embed_topk", "x07_text_quality")
    val results = r21Keys.map(k => k -> 0.123456789)
    val qx = r21Keys.filter(_.matches("q\\d\\d_.*|x\\d\\d_.*"))
    val mins = r21Keys.filter(k => k.matches("q\\d\\d_.*|x\\d\\d_.*") ||
      k.matches("write_lineitem|scan_full_nimble|scan_pruned_nimble|" +
        "point_probe_indexed|point_probe_scan|scale_probe_indexed|scale_probe_scan|" +
        "scale_spj_join|scale_shuffle_join|scale_zorder_probe_b|scale_linear_probe_b"))
      .map(k => k -> 0.111111111)
    // worst realistic case: 6 suspects emitted, long sf path, full dump name
    val line = Bench.renderLine(5.89731, results, mins,
      Seq("scale_compact_small_sec", "scale_zorder_sec", "scale_probe_scan",
        "x05_embed_topk", "x07_text_quality", "x02_neardup_jaccard"), Nil,
      "/root/testdata/sf0.1", fullName = "bench_full_r22_db1ab488.json",
      runId = "db1ab488")
    assert(line.length <= 1880, s"line ${line.length} chars:\n$line")
    // every genuinely TIMED metric and the byte-ratio pin stay on the line
    val timed = r21Keys.filterNot(_.matches(
      "scale_delete_r\\d_.*|.*_retried|scale_factor|.*_chunks_skipped|" +
        "scale_probe_fetch_frac|scale_cascade_col2_frac|scale_zorder_prune_frac|" +
        "scale_write_cpu_ms_per_mb|scale_cc_rounds|scale_delete_indexed_r1"))
    for (k <- timed) assert(line.contains("\"" + k + "\":"), s"missing timing $k in:\n$line")
    // the falsifiability contract: every q/x query min rides along
    for (k <- qx) assert(line.contains("\"" + k + "_min\":"), s"missing min twin $k in:\n$line")
  }

  test("suspects rank worst-drift-first and the summary carries the true count") {
    // r15 hole: the 6-capped flag list was insertion-ordered — scale_cc_sec
    // at 7x idle truth hid behind six milder flags and the summary gave no
    // hint that 13 more flags existed in the full dump.
    val ranked = Bench.rankSuspects(Seq(
      "q16_window" -> 1.4, "scale_cc_sec" -> 7.0, "x02_neardup_jaccard" -> 1.6,
      // flagged by BOTH detectors: the larger drift wins the rank
      "q16_window" -> 2.2, "scale_compact_sec" -> 1.9))
    assert(ranked == Seq("scale_cc_sec", "q16_window", "scale_compact_sec",
      "x02_neardup_jaccard"), s"got $ranked")

    // a synthetic loaded run with 19 flags: the emitted list is the 6 worst,
    // in drift order, and suspect_n records all 19
    val names = (1 to 19).map(i => f"metric_$i%02d")
    val drifts = names.zipWithIndex.map { case (n, i) => n -> (1.4 + i * 0.3) }
    val suspects = Bench.rankSuspects(drifts)
    val results = names.map(_ -> 0.5)
    val line = Bench.renderLine(1.0, results, Nil, suspects, Nil, "/sf")
    assert(line.contains("\"suspect_n\":19"), line)
    val listed = "\"suspect_metrics\":\\[([^\\]]*)\\]".r
      .findFirstMatchIn(line).get.group(1).split(",").map(_.replace("\"", "")).toSeq
    assert(listed == names.reverse.take(6), s"got $listed")
    // every emitted flagged metric still forces its median into the line
    for (k <- listed) assert(line.contains("\"" + k + "\":"), s"flagged $k has no value in:\n$line")
  }

  test("run id threads through the summary line and the dump name") {
    val line = Bench.renderLine(1.0, Seq("a" -> 1.0), Nil, Nil, Nil, "/sf",
      fullName = "bench_full_r9_cafe1234.json", runId = "cafe1234")
    assert(line.contains("\"run\":\"cafe1234\""), line)
    assert(line.contains("\"full\":\"bench_full_r9_cafe1234.json\""), line)
    val dir = java.nio.file.Files.createTempDirectory("benchrun").toFile
    java.nio.file.Files.write(new java.io.File(dir, "BENCH_r7.json").toPath, "{}".getBytes)
    assert(Bench.roundFullDumpName(dir.getAbsolutePath, "cafe1234") == "bench_full_r8_cafe1234.json")
    // two runs of the same round can never clobber each other's dump
    assert(Bench.roundFullDumpName(dir.getAbsolutePath, "beef5678") !=
      Bench.roundFullDumpName(dir.getAbsolutePath, "cafe1234"))
  }

  test("Probe's query path runs a warm-min over a SparkEntry query") {
    // the one probe in graft.tools stays runnable: nothing else executes it
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(graft.tools.Probe.run(spark, "q03_filter_num", 2, sf()))
    val lines = out.toString("UTF-8").linesIterator.toSeq
    assert(lines.count(_.startsWith("probe query=q03_filter_num iter=")) == 2, lines)
    assert(lines.exists(_.matches("probe query=q03_filter_num warm_min=\\d+\\.\\d{3} sf=.*")), lines)
    intercept[IllegalArgumentException](graft.tools.Probe.run(spark, "no_such_query", 1, sf()))
  }
}
