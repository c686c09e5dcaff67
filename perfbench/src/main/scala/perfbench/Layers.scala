package perfbench

import graft.format.{ByteCursor, ByteSink, Codecs, Tablet}

/** Per-layer metrics of a traced run: probes that call single layers
  * directly, and the reduction of spans, counters and listener events to
  * the per-layer figures. */
object Layers {

  final case class Probes(codecValues: Long, lookupKeys: Int, lookupHits: Long,
      lookupRowsDecoded: Long, lookupStripes: Long)

  /** Timed calls into the format layer on the workload's own table and
    * generated columns, each as a span. */
  def probe(c: Ctx, w: Workload): Probes = {
    val t = c.tracer
    graft.format.GraftIO.listGft(w.table).foreach { f =>
      for (_ <- 0 until 3) {
        // the reader parses the footer when it is constructed
        t.span("tablet.footer")(new Tablet.Reader(f.path)).close()
      }
    }
    var values = 0L
    for (_ <- 0 until 3; (_, col) <- w.codecSample) {
      val sink = new ByteSink()
      t.span("codecs.encode")(Codecs.encodeColumn(col, sink))
      val bytes = sink.toArray
      t.span("codecs.decode")(Codecs.decodeColumn(new ByteCursor(bytes)))
      values += col.len
    }
    val (column, keys) = w.lookupProbe
    var (hits, decoded, stripes) = (0L, 0L, 0L)
    keys.foreach { k =>
      val (rows, m) = t.span("lookup.call")(
        graft.format.Lookup.batchPointLookupMetered(w.table, column, Seq(k)))
      hits += rows.map(_.length).sum
      decoded += m.rowsDecoded
      stripes += m.stripesProbed
    }
    Probes(values, keys.length, hits, decoded, stripes)
  }

  def metrics(c: Ctx, untraced: Seq[Outcome], traced: Seq[Outcome], k: Counters, gcMs: Long,
      meter: SparkMeter, p: Probes, layout: (Int, Int, Long)): Seq[(String, (Double, String))] = {
    val spans = Trace.byName(c.tracer.spans)
    def ms(n: String): Double = spans.get(n).map(_.selfMsPerCall).getOrElse(0.0)
    def selfNs(n: String): Double = spans.get(n).map(_.selfNs.toDouble).getOrElse(0.0)
    def per(a: Double, b: Double): Double = if (b <= 0) 0.0 else a / b
    val a = c.acc
    val ops = traced.length.toDouble
    val (files, stripes, chunks) = layout
    val queries = a("q.queries")
    val rowsOut = a("q.rows_out")
    val (jobs, tasks, taskCpuNs, taskRunMs, shuffle) = meter.within(c.tracedIntervals.toSeq)
    val tracedMs = traced.map(_.ns).sum / 1e6
    def opsPerS(os: Seq[Outcome]) = per(os.length, os.map(_.ns).sum / 1e9)
    Seq(
      "source.plan_ms" -> (ms("source.plan"), "ms"),
      "source.exec_ms" -> (ms("source.exec"), "ms"),
      "source.stripes_read" -> (per(a("q.stripes_read"), queries), "count"),
      "source.chunks_skipped" -> (per(a("q.chunks_skipped"), queries), "count"),
      "source.stream_mb_read" -> (per(a("q.stream_bytes"), queries) / 1048576.0, "MB"),
      "source.skip_frac" -> (math.min(1.0, per(a("q.chunks_skipped"),
        a("q.stripes_read") * per(chunks, stripes))), "frac"),
      "source.bytes_per_row_out" -> (per(a("q.stream_bytes"), rowsOut), "B"),
      "cache.hits" -> (per(k.cacheHits, ops), "count"),
      "cache.misses" -> (per(k.cacheMisses, ops), "count"),
      "cache.hit_frac" -> (per(k.cacheHits, k.cacheHits + k.cacheMisses), "frac"),
      "cache.resident_mb" -> (graft.spark.BlockCache.residentBytes / 1048576.0, "MB"),
      "tablet.footer_ms" -> (ms("tablet.footer"), "ms"),
      "tablet.files" -> (files.toDouble, "count"),
      "tablet.stripes" -> (stripes.toDouble, "count"),
      "tablet.chunks" -> (chunks.toDouble, "count"),
      "codecs.decode_ns_per_value" -> (per(selfNs("codecs.decode"), p.codecValues), "ns"),
      "codecs.encode_ns_per_value" -> (per(selfNs("codecs.encode"), p.codecValues), "ns"),
      "codecs.selections_run" -> (per(k.selections, ops), "count"),
      "codecs.replay_hit_frac" -> (per(k.replays, k.replays + k.selections), "frac"),
      "fsst.strings_decoded_per_row_out" -> (per(k.fsstStrings, rowsOut), "count"),
      "lookup.call_ms" -> (ms("lookup.call"), "ms"),
      "lookup.rows_decoded_per_hit" -> (per(p.lookupRowsDecoded, p.lookupHits), "count"),
      "lookup.stripes_probed_per_key" -> (per(p.lookupStripes, p.lookupKeys), "count"),
      "aggscan.stats_answered_frac" -> (per(a("q.stats_answered"), queries), "frac"),
      "write.ms" -> (ms("write"), "ms"),
      "write.cpu_ms" -> (per(a("write.cpu_ns") / 1e6, a("write.calls")), "ms"),
      "write.files" -> (per(a("write.files"), a("write.calls")), "count"),
      "dml.delete_ms" -> (ms("dml.delete"), "ms"),
      "dml.files_rewritten" -> (per(a("dml.files_rewritten"), a("dml.calls")), "count"),
      "dml.mb_rewritten" -> (per(a("dml.bytes_rewritten"), a("dml.calls")) / 1048576.0, "MB"),
      "compact.ms" -> (ms("compact"), "ms"),
      "compact.mb_rewritten" -> (per(a("compact.bytes"), a("compact.calls")) / 1048576.0, "MB"),
      "spark.jobs_per_op" -> (per(jobs, ops), "count"),
      "spark.tasks_per_op" -> (per(tasks, ops), "count"),
      "spark.task_cpu_ms_per_op" -> (per(taskCpuNs / 1e6, ops), "ms"),
      "spark.shuffle_mb_per_op" -> (per(shuffle / 1048576.0, ops), "MB"),
      "spark.slot_busy_frac" -> (per(taskRunMs, tracedMs * c.cores), "frac"),
      "dedup.fingerprint_ms" -> (ms("dedup.fingerprint"), "ms"),
      "dedup.minhash_ms" -> (ms("dedup.minhash"), "ms"),
      "dedup.cc_ms" -> (ms("dedup.cc"), "ms"),
      "dedup.cc_rounds" -> (per(a("dedup.cc_rounds"), a("dedup.cc_calls")), "count"),
      "dedup.pairs" -> (per(a("dedup.pairs"), a("dedup.minhash_calls")), "count"),
      "text.quality_ms" -> (ms("text.quality"), "ms"),
      "similarity.topk_ms" -> (ms("similarity.topk"), "ms"),
      "jvm.gc_ms_per_op" -> (per(gcMs, ops), "ms"),
      "trace.untraced_ops_per_s" -> (opsPerS(untraced), "1/s"),
      "trace.traced_ops_per_s" -> (opsPerS(traced), "1/s"),
      "trace.overhead_frac" -> (per(opsPerS(untraced), opsPerS(traced)) - 1.0, "frac"))
  }
}
