package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --out <dir>`.
  *
  * Sets the workload up in `rounds` timed rounds, runs `warmupOps` untimed
  * ops, then runs ops closed-loop from one client thread for `--seconds`.
  * With `--trace 0` it prints the end-to-end metrics; with `--trace 1` it
  * alternates untraced and traced rounds of ops, prints the per-layer
  * metrics of the traced ones and writes their spans under `--out`. The
  * last stdout line is the result object; a wrong answer exits 1.
  * `--workload train` instead runs one op of every workload and exits. */
object Main {
  val Workloads = Seq("scan", "lookup", "ingest", "pipeline")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val wname = opt.getOrElse("workload", "")
    require(Workloads.contains(wname) || wname == "train",
      s"--workload must be one of ${Workloads.mkString(", ")}")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt.getOrElse("trace", "0") == "1"
    val work = new java.io.File(opt("work"))
    val out = new java.io.File(opt("out"))
    // two Spark cores leave the rest of a 4-core box to the driver, the JIT
    // and the GC, so those do not stall tasks mid-op
    val cores = math.min(2, Runtime.getRuntime.availableProcessors())
    val loadBefore = Jvm.loadAvg

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new java.io.File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getPath)
      .config("spark.graft.scan.blockCacheBytes",
        if (wname == "scan") (4L << 20).toString else (256L << 20).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val meter = new SparkMeter
    spark.sparkContext.addSparkListener(meter)

    val c = new Ctx(spark, seed, work, cores)
    def make(name: String): Workload = name match {
      case "scan" => new ScanWorkload(c)
      case "lookup" => new LookupWorkload(c)
      case "ingest" => new IngestWorkload(c)
      case _ => new PipelineWorkload(c)
    }
    if (wname == "train") {
      // one short pass through every workload, so the JVM can archive the
      // classes they load (run.py); one set-up round holds only part of the
      // rows, so answers go unchecked, and it prints no result
      c.quiet = true
      Workloads.map(make).foreach { w => w.setupRound(0); w.prepare(); w.op(w.warmupOps) }
      Runtime.getRuntime.halt(0)
    }
    val w = make(wname)
    c.tracer.enabled = trace
    def sinceStart = (System.currentTimeMillis() - Jvm.startMs) / 1000.0
    val sparkReadyS = sinceStart
    val setupS = (0 until w.rounds).map { r =>
      val t0 = System.nanoTime()
      w.setupRound(r)
      (System.nanoTime() - t0) / 1e9
    }
    w.prepare()
    c.tracer.enabled = false
    val firstOpS = sinceStart

    val outcomes = mutable.ArrayBuffer[Outcome]()
    val traced = mutable.ArrayBuffer[Outcome]()
    var attempted = 0
    var failed = 0
    def run(i: Int): Outcome = {
      val o = w.op(i)
      attempted += 1
      if (!o.ok) failed += 1
      o
    }
    failed += w.warmup(run)
    val warmupDoneS = sinceStart

    // per-layer snapshots, summed over traced ops only
    var counters = Counters.zero
    var gcMs = 0L
    val cpu0 = Jvm.hostCpu
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = w.warmupOps
    // whole rounds only, so every run sees the same mix of ops
    while (System.nanoTime() < deadline || i - w.warmupOps < w.minMeasuredOps ||
        (i - w.warmupOps) % w.roundLen != 0) {
      val tracedOp = trace && ((i - w.warmupOps) / w.roundLen) % 2 == 1
      c.tracer.enabled = tracedOp
      val c0 = Counters.now()
      val g0 = Jvm.gcMs
      val o = run(i)
      if (tracedOp) {
        counters = counters.plus(Counters.now().minus(c0))
        gcMs += Jvm.gcMs - g0
        traced += o
      } else outcomes += o
      i += 1
    }
    c.tracer.enabled = false
    val measuredDoneS = sinceStart
    val cpu1 = Jvm.hostCpu
    def cpuShare(i: Int) = (cpu1(i) - cpu0(i)).toDouble / math.max(1L, cpu1.sum - cpu0.sum)
    val heapMb = Jvm.retainedHeapMb()
    failed += (try w.verify()
      catch { case e: Exception => c.fail(s"verify threw ${e.getClass.getSimpleName}: ${e.getMessage}"); 1 })
    val checksDoneS = sinceStart

    val layout = Workload.layout(w.table)
    val metrics: Seq[(String, (Double, String))] =
      if (!trace) endToEnd(w, outcomes.toSeq, setupS, heapMb)
      else {
        c.tracer.enabled = true
        val probes = Layers.probe(c, w)
        c.tracer.enabled = false
        Thread.sleep(300) // let the listener bus deliver the last task ends
        Trace.write(c.tracer.spans, new java.io.File(out, s"spans-$wname-$seed.jsonl"))
        Layers.metrics(c, outcomes.toSeq, traced.toSeq, counters, gcMs, meter, probes, layout)
      }

    val tail = if (outcomes.nonEmpty) Stats.tail(outcomes.map(_.ns / 1e6).toSeq) else Stats.Tail(0, 0, 0)
    val describe = Seq(
      "workload" -> wname, "seed" -> seed, "trace" -> trace, "seconds" -> seconds,
      "nproc" -> Runtime.getRuntime.availableProcessors(), "spark_cores" -> cores,
      "spark_ready_s" -> sparkReadyS,
      "setup_rounds_s" -> setupS, "process_to_first_op_s" -> firstOpS, "warmup_done_s" -> warmupDoneS,
      "measured_done_s" -> measuredDoneS, "checks_done_s" -> checksDoneS,
      "warmup_ops" -> w.warmupOps, "measured_ops" -> outcomes.length, "traced_ops" -> traced.length,
      "op_tail_percentile" -> tail.percentile, "op_tail_samples" -> tail.samples,
      "loadavg_before" -> loadBefore, "loadavg_after" -> Jvm.loadAvg,
      "host_idle_frac" -> cpuShare(3), "host_steal_frac" -> cpuShare(7)) ++
      Seq("table_files" -> layout._1, "table_stripes" -> layout._2, "table_chunks" -> layout._3) ++
      w.describe ++ Seq("traced_scan_kinds" -> c.scanKinds.toSeq, "errors" -> c.errors.toSeq,
        "op_ms" -> outcomes.map(o => math.round(o.ns / 1e5) / 10.0).toSeq)
    println(Json.obj("describe" -> describe))

    val correct = failed == 0
    println(Json.obj("correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Seq("value" -> v, "unit" -> u) }))
    System.out.flush()
    // local mode runs no other process; the work directory is the caller's
    // to delete, so skip Spark's orderly shutdown
    Runtime.getRuntime.halt(if (correct) 0 else 1)
  }

  def endToEnd(w: Workload, os: Seq[Outcome], setupS: Seq[Double], heapMb: Double)
      : Seq[(String, (Double, String))] = {
    require(os.nonEmpty, "no op finished inside the measured phase")
    val ms = os.map(_.ns / 1e6)
    val sec = os.map(_.ns).sum / 1e9
    Seq(
      "setup_s" -> (Stats.median(setupS), "s"),
      "ops_per_s" -> (os.length / sec, "1/s"),
      "op_p50_ms" -> (Stats.median(ms), "ms"),
      "op_tail_ms" -> (Stats.tail(ms).value, "ms"),
      "cpu_ms_per_op" -> (os.map(_.cpuNs).sum / 1e6 / os.length, "ms"),
      "logical_mb_per_s" -> (os.map(_.logicalBytes).sum / 1048576.0 / sec, "MB/s"),
      "vs_parquet_ratio" -> (w.parquetRatio(os), "ratio"),
      "encoded_size_ratio" -> (w.encodedSizeRatio, "ratio"),
      "write_amp" -> (w.writeAmp, "ratio"),
      "retained_heap_mb" -> (heapMb, "MB"))
  }
}
