package perfbench

import scala.collection.mutable
import scala.util.chaining._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.ops.{Compaction, Dedup, Delete, Similarity, TextAnalysis}

/** One workload: its inputs, its op and its checks. An op returns
  * (logical bytes, Nimble ns, twin ns, ok) from inside [[Ctx.op]]. */
abstract class Workload(val c: Ctx) {
  /** Set-up rounds; each writes a 1/rounds share of the inputs. The first
    * round also warms the JIT, so the median round is a warm one. */
  val rounds = 3
  def setupRound(r: Int): Unit
  /** Untimed work between set-up and the first op. */
  def prepare(): Unit = ()
  val warmupOps: Int
  /** Run the untimed warm-up ops 0 until `warmupOps` through `run`;
    * returns the wrong answers found outside `run`. */
  def warmup(run: Int => Outcome): Int = { (0 until warmupOps).foreach(run); 0 }
  /** Ops per tracing round: traced runs alternate untraced and traced
    * rounds, so both see the same mix. */
  val roundLen: Int
  /** Fewest measured ops: enough for a real tail percentile where ops are
    * cheap, so the tail never switches to its fallback between runs. */
  val minMeasuredOps: Int = 0
  def op(i: Int): Outcome
  /** Checks after the measured phase; returns the ops found wrong. */
  def verify(): Int = 0
  /** Nimble over Parquet-twin wall time for the same work. */
  def parquetRatio(os: Seq[Outcome]): Double = {
    val sampled = os.filter(_.twinNs > 0)
    sampled.map(_.nimbleNs).sum.toDouble / sampled.map(_.twinNs).sum
  }
  def encodedSizeRatio: Double
  def writeAmp: Double
  /** The Nimble table the layer probes read. */
  def table: String
  /** Column and values for the `Lookup` probe. */
  def lookupProbe: (String, Seq[Any])
  /** Sample columns for the codec probe, by name. */
  def codecSample: Seq[(String, graft.format.Column)]
  def describe: Seq[(String, Any)]

  protected def spark = c.spark
  protected def seed = c.seed

  protected def accs(n: Int): Array[org.apache.spark.util.LongAccumulator] =
    Array.fill(n)(spark.sparkContext.longAccumulator)

  /** `task(j)` for j in 0 until n from `threads` threads, results in j
    * order. Untimed warm-up only: the tracer and [[Ctx.op]] are for the one
    * client thread. */
  protected def concurrently[T](n: Int, threads: Int)(task: Int => T): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try (0 until n).map(j => pool.submit(() => task(j))).map(_.get())
    finally pool.shutdown()
  }

  /** How many of `oks` are false, each reported. */
  protected def wrong(oks: Seq[Boolean])(what: Int => String): Int =
    oks.zipWithIndex.count { case (ok, i) => if (!ok) c.fail(what(i)); !ok }
}

object Workload {
  val IndexOpts = Seq("indexColumns" -> "skey", "bloomFilterColumns" -> "skey")

  def strings(xs: Seq[String]): graft.format.BytesCol = {
    val bs = xs.map(_.getBytes("UTF-8"))
    val off = bs.scanLeft(0)(_ + _.length).toArray
    val out = new Array[Byte](off.last)
    bs.zipWithIndex.foreach { case (b, i) => System.arraycopy(b, 0, out, off(i), b.length) }
    graft.format.BytesCol(off, out)
  }

  def tableSample(seed: Long): Seq[(String, graft.format.Column)] = {
    val rows = (0L until 16384L).map(Gen.row(seed, _, feats = false))
    import graft.format.{DoublesCol, LongsCol, PhysType}
    Seq(
      "id" -> LongsCol(rows.map(_.getLong(0)).toArray, PhysType.I64),
      "skey" -> strings(rows.map(_.getString(1))),
      "price" -> DoublesCol(rows.map(_.getDouble(2)).toArray, isFloat = false),
      "qty" -> LongsCol(rows.map(_.getInt(4).toLong).toArray, PhysType.I32),
      "cat" -> strings(rows.map(_.getString(5))),
      "txt" -> strings(rows.map(_.getString(6))))
  }

  /** Table files, stripes and data chunks (of the `id` stream). */
  def layout(path: String): (Int, Int, Long) = {
    val files = graft.format.GraftIO.listGft(path)
    var stripes = 0
    var chunks = 0L
    files.foreach { f =>
      val r = new graft.format.Tablet.Reader(f.path)
      try {
        val id = r.keyId("id")
        r.footer.stripes.indices.foreach { s =>
          stripes += 1
          val dir = if (id >= 0) r.chunkDirOf(s, id) else null
          chunks += (if (dir == null) 1 else dir.count(_.isData))
        }
      } finally r.close()
    }
    (files.length, stripes, chunks)
  }
}

// ------------------------------------------------------------------ scan

/** Round-robin analytic queries, each followed by the same query on the
  * Parquet twin. The block cache is set far below the bytes the mix
  * touches, so fetch and decode do the work. */
final class ScanWorkload(c: Ctx) extends Workload(c) {
  val rows = 150000L
  val path = c.dir("scan.nimble")
  val twin = c.dir("scan.parquet")
  val colBytes = accs(8)
  val fmKeys = Seq("f000", "f003", "f011")
  val warmupOps = 28
  val roundLen = 7
  override val minMeasuredOps = 28
  private var nb: DataFrame = _
  private var nbFm: DataFrame = _
  private var pq: DataFrame = _
  private var nimbleWritten = 0L
  private var fetched0 = 0L
  private var fetchedPerRound = 0.0
  private var ops = 0

  def setupRound(r: Int): Unit = {
    val (lo, hi) = (r * rows / rounds, (r + 1) * rows / rounds)
    nimbleWritten += c.writeNimble(Gen.table(spark, seed, lo, hi, c.cores, feats = true, colBytes), path,
      Workload.IndexOpts :+ ("flatMapColumns" -> "feats"): _*)
    c.writeParquet(Gen.table(spark, seed, lo, hi, c.cores, feats = true), twin)
    c.nimble(path).schema
  }

  override def prepare(): Unit = {
    nb = c.nimble(path)
    nbFm = c.nimble(path, "flatMapStruct.feats" -> fmKeys.mkString(","))
    pq = c.parquet(twin)
    fetched0 = graft.spark.NimbleSource.streamBytesFetched.get()
  }

  override def verify(): Int = {
    fetchedPerRound =
      (graft.spark.NimbleSource.streamBytesFetched.get() - fetched0) * roundLen.toDouble / math.max(1, ops)
    0
  }

  private def bytesOf(cols: String*): Long =
    cols.map(n => colBytes(Gen.TableSchema.fieldNames.indexOf(n)).value.toLong).sum

  /** The i-th query of the mix: (name, nimble, twin, logical bytes read);
    * logical bytes of -1 mean "count from the FlatMap result". */
  def query(i: Int): (String, DataFrame, DataFrame, Long) = {
    val rnd = new scala.util.Random(Gen.h(seed, i, 21))
    def both(f: DataFrame => DataFrame) = (f(nb), f(pq))
    val (qn, (n, p), b) = i % 7 match {
      case 0 => ("full_agg", both(_.agg(count(lit(1)), sum("price"), sum("qty"), avg("score"))),
        bytesOf("price", "qty", "score"))
      case 1 => ("project2", both(_.select("cat", "score")
        .agg(count(lit(1)), expr("bit_xor(xxhash64(cat, score))"))), bytesOf("cat", "score"))
      case 2 =>
        val lo = rnd.nextInt(98000).toDouble
        ("range", both(_.filter(col("price").between(lo, lo + 1500.0))
          .agg(count(lit(1)), sum("qty"))), bytesOf("price", "qty"))
      case 3 =>
        val v = Gen.Cats(rnd.nextInt(Gen.Cats.length))
        ("string_eq", both(_.filter(col("cat") === v).agg(count(lit(1)), sum("score"))),
          bytesOf("cat", "score"))
      case 4 => ("count_min_max", both(_.agg(count(lit(1)), min("qty"), max("id"))),
        bytesOf("qty", "id"))
      case 5 =>
        def aggs(cs: Seq[Column]) = cs.flatMap(x => Seq(count(x), sum(x)))
        ("flatmap3", (nbFm.select(aggs(fmKeys.map(k => col(s"feats.$k"))): _*),
          pq.select(aggs(fmKeys.map(k => col("feats")(k))): _*)), -1L)
      case _ =>
        val w = Gen.Vocab(rnd.nextInt(300))
        ("text_contains", both(_.filter(col("txt").contains(w)).agg(count(lit(1)), sum("qty"))),
          bytesOf("txt", "qty"))
    }
    (qn, n, p, b)
  }

  /** Four rounds of the mix from three threads, each query checked against
    * the twin: the reader and planner code warms sooner than from one client. */
  override def warmup(run: Int => Outcome): Int =
    concurrently(warmupOps, 3) { i =>
      val (_, n, p, _) = query(i)
      c.canon(n.collect()) == c.canon(p.collect())
    }.pipe(wrong(_)(i => s"scan warm-up op $i: nimble differs from parquet"))

  def op(i: Int): Outcome = c.op(i) {
    ops += 1
    val (qn, n, p, b) = query(i)
    val t0 = System.nanoTime()
    val rn = c.timed(c.query(n))
    val t1 = System.nanoTime()
    val rp = p.collect()
    val t2 = System.nanoTime()
    val ok = c.canon(rn) == c.canon(rp) ||
      c.fail(s"scan $qn op $i: nimble ${rn.mkString} vs parquet ${rp.mkString}")
    val bytes = if (b >= 0) b else (0 until fmKeys.length).map(k => rn.head.getLong(2 * k)).sum * 12L
    (bytes, t1 - t0, t2 - t1, ok)
  }

  def encodedSizeRatio: Double = c.bytes(path).toDouble / c.bytes(twin)
  def writeAmp: Double = nimbleWritten.toDouble / colBytes.map(_.value.toLong).sum
  def table: String = path
  def lookupProbe: (String, Seq[Any]) =
    ("skey", (0 until 40).map(j => Gen.skey(seed, Gen.below(Gen.h(seed, j, 31), rows.toInt).toLong)))
  def codecSample: Seq[(String, graft.format.Column)] = Workload.tableSample(seed)
  def describe: Seq[(String, Any)] = Seq(
    "rows" -> rows,
    "logical_mb" -> colBytes.map(_.value.toLong).sum / 1048576.0,
    "nimble_mb" -> c.bytes(path) / 1048576.0,
    "parquet_mb" -> c.bytes(twin) / 1048576.0,
    "block_cache_mb" -> c.spark.conf.get("spark.graft.scan.blockCacheBytes").toLong / 1048576.0,
    "mix_round_fetched_mb" -> fetchedPerRound / 1048576.0,
    "flatmap_keys" -> Gen.FeatureKeys.length)
}

// ---------------------------------------------------------------- lookup

/** Single-key `WHERE skey = ?` queries through DSv2; keys follow a Zipf
  * law and about 5% are absent. An op is two probes in turn, so one probe
  * stalled by the host weighs half; every 8th probe also runs on the twin,
  * outside the op's timing. */
final class LookupWorkload(c: Ctx) extends Workload(c) {
  val rows = 200000
  val zipfS = 1.1
  val absentFrac = 0.05
  val path = c.dir("lookup.nimble")
  val twin = c.dir("lookup.parquet")
  val colBytes = accs(8)
  val probesPerOp = 2
  val warmupOps = 96
  val roundLen = 8
  override val minMeasuredOps = 48
  private lazy val zipf = new Gen.Zipf(rows, zipfS, seed)
  private var nb: DataFrame = _
  private var pq: DataFrame = _
  private var nimbleWritten = 0L
  private val probed = mutable.HashSet[Long]()
  private var hotSetMb = 0.0

  def setupRound(r: Int): Unit = {
    val (lo, hi) = (r.toLong * rows / rounds, (r + 1L) * rows / rounds)
    nimbleWritten += c.writeNimble(Gen.table(spark, seed, lo, hi, c.cores, feats = false, colBytes), path,
      Workload.IndexOpts: _*)
    c.writeParquet(Gen.table(spark, seed, lo, hi, c.cores, feats = false), twin)
    c.nimble(path).schema
  }

  override def prepare(): Unit = {
    nb = c.nimble(path)
    pq = c.parquet(twin)
    zipf
  }

  /** Probe i: its key and the planted id, -1 when absent. */
  def key(i: Int): (String, Long) = {
    val x = Gen.h(seed, i, 41)
    if (Gen.unit(x) < absentFrac) (Gen.absentKey(seed, i), -1L)
    else {
      val id = zipf.id(zipf.rank(Gen.unit(Gen.mix(x))))
      (Gen.skey(seed, id), id)
    }
  }

  private def check(rs: Array[Row], id: Long): Boolean =
    if (id < 0) rs.isEmpty
    else rs.length == 1 && rs.head.toSeq == Gen.row(seed, id, feats = false).toSeq

  /** The warm-up probes from three threads, twin probes included: the
    * planner's and the readers' code gets compiled sooner than from one
    * client, which a single-client warm-up of this length leaves still
    * speeding up. */
  override def warmup(run: Int => Outcome): Int =
    concurrently(warmupOps * probesPerOp, 3) { j =>
      val (k, id) = key(j)
      if (id >= 0) probed.synchronized(probed += id)
      check(nb.filter(col("skey") === k).collect(), id) &&
        (j % 8 != 0 || check(pq.filter(col("skey") === k).collect(), id))
    }.pipe(wrong(_)(j => s"lookup warm-up probe $j key ${key(j)._1}"))

  def op(i: Int): Outcome = c.op(i) {
    var (ok, bytes, firstNs) = (true, 0L, 0L)
    for (j <- i * probesPerOp until (i + 1) * probesPerOp) {
      val (k, id) = key(j)
      if (id >= 0) probed += id
      val t0 = System.nanoTime()
      val rn = c.timed(c.query(nb.filter(col("skey") === k)))
      if (j % 8 == 0) firstNs = System.nanoTime() - t0
      ok &= check(rn, id) || c.fail(s"lookup probe $j key $k (id $id): got ${rn.mkString(",")}")
      bytes += rn.map(r => Gen.logicalBytes(r).sum).sum
    }
    var twinNs = 0L
    val j = i * probesPerOp
    if (j % 8 == 0) {
      val (k, id) = key(j)
      val t1 = System.nanoTime()
      val rp = pq.filter(col("skey") === k).collect()
      twinNs = System.nanoTime() - t1
      ok &= check(rp, id) || c.fail(s"lookup twin probe $j key $k: got ${rp.mkString(",")}")
    }
    (bytes, if (twinNs > 0) firstNs else 0L, twinNs, ok)
  }

  override def verify(): Int = {
    hotSetMb = graft.spark.BlockCache.residentBytes / 1048576.0
    0
  }

  def encodedSizeRatio: Double = c.bytes(path).toDouble / c.bytes(twin)
  def writeAmp: Double = nimbleWritten.toDouble / colBytes.map(_.value.toLong).sum
  def table: String = path
  def lookupProbe: (String, Seq[Any]) = ("skey", (0 until 40).map(key(_)._1))
  def codecSample: Seq[(String, graft.format.Column)] = Workload.tableSample(seed)
  def describe: Seq[(String, Any)] = Seq(
    "rows" -> rows,
    "logical_mb" -> colBytes.map(_.value.toLong).sum / 1048576.0,
    "nimble_mb" -> c.bytes(path) / 1048576.0,
    "parquet_mb" -> c.bytes(twin) / 1048576.0,
    "zipf_s" -> zipfS,
    "probes_per_op" -> probesPerOp,
    "absent_frac" -> absentFrac,
    "distinct_keys_probed" -> probed.size,
    "block_cache_mb" -> 256.0,
    "hot_set_mb" -> hotSetMb)
}

// ---------------------------------------------------------------- ingest

/** Each op appends a batch, deletes a 1% key set from the batch before it
  * and, every `compactEvery` ops, compacts the small files. Every batch is
  * also written as Parquet (zstd), for its size only. */
final class IngestWorkload(c: Ctx, val batchRows: Long = 15000L) extends Workload(c) {
  val compactEvery = 4
  val path = c.dir("ingest.nimble")
  val twin = c.dir("ingest.parquet")
  val warmupOps = compactEvery
  val roundLen = compactEvery
  private var batches = 0L
  private var modelRows = 0L
  private var minFileBytes = 0L
  private var setupNimble = 0L
  private var setupParquet = 0L
  private var setupLogical = 0L
  /** Per op: (nimble appended, parquet appended, bytes written, logical). */
  private[perfbench] val perOp = mutable.ArrayBuffer[(Long, Long, Long, Long)]()

  /** Generate batch b, cached so generation stays outside the timing. */
  private def batch(b: Long): (DataFrame, Long) = {
    val a = accs(8)
    val df = Gen.table(spark, seed, b * batchRows, (b + 1) * batchRows, c.cores, feats = false, a).cache()
    df.count()
    (df, a.map(_.value.toLong).sum)
  }

  def setupRound(r: Int): Unit = {
    val (df, logical) = batch(batches)
    val nb = c.writeNimble(df, path, Workload.IndexOpts: _*)
    setupParquet += c.writeParquet(df, twin)
    df.unpersist()
    batches += 1
    modelRows += batchRows
    setupNimble += nb
    setupLogical += logical
    if (minFileBytes == 0) minFileBytes = nb
    c.nimble(path).schema
  }

  /** Ids of batch b that the 1% delete removes. */
  def deleted(b: Long): Seq[Long] =
    (b * batchRows until (b + 1) * batchRows).filter(id => Gen.below(Gen.h(seed, id, 77), 100) == 0)

  def op(i: Int): Outcome = c.op(i) {
    val b = batches
    val (df, logical) = batch(b)
    val before = c.files(path).keySet
    val t0 = System.nanoTime()
    val nb = c.timed(c.writeNimble(df, path, Workload.IndexOpts: _*))
    val t1 = System.nanoTime()
    val fresh = c.files(path).keySet -- before
    val pb = c.writeParquet(df, twin)
    val t2 = System.nanoTime()
    df.unpersist()
    batches += 1
    modelRows += batchRows
    val gone = deleted(b - 1)
    val cond = col("id") >= (b - 1) * batchRows && col("id") < b * batchRows &&
      col("skey").isin(gone.map(Gen.skey(seed, _)): _*)
    val (rep, nd, db) = c.timed(c.written(path)(c.tracer.span("dml.delete")(
      Delete.delete(spark, path, cond))))
    c.add("dml.calls", 1)
    c.add("dml.files_rewritten", rep.filesRewritten)
    c.add("dml.bytes_rewritten", db.toDouble)
    modelRows -= gone.length
    var cb = 0L
    if ((i + 1) % compactEvery == 0) {
      // the batch just appended stays out, so the next op's delete always
      // rewrites batch-sized files and every cycle costs the same
      cb = c.timed(c.written(path)(c.tracer.span("compact")(
        Compaction.compactSmall(spark, path, minFileBytes = 2 * minFileBytes,
          victimFilter = f => !fresh(new java.io.File(f).getName)))))._3
      c.add("compact.calls", 1)
      c.add("compact.bytes", cb.toDouble)
    }
    perOp += ((nb, pb, nb + db + cb, logical))
    val got = c.nimble(path).agg(count(lit(1)), count(when(cond, 1))).collect().head
    val (n, left) = (got.getLong(0), got.getLong(1))
    val ok = (rep.rowsDeleted == gone.length && n == modelRows && left == 0) ||
      c.fail(s"ingest op $i: deleted ${rep.rowsDeleted}/${gone.length}, rows $n vs model $modelRows, $left deleted keys left")
    (logical, t1 - t0, t2 - t1, ok)
  }

  /** The first two measured compaction cycles (fewer if the run had no
    * time for them), so the figures do not depend on how many ops ran. */
  private def cycles = {
    val measured = perOp.drop(warmupOps)
    measured.take(math.min(2, measured.length / compactEvery) * compactEvery)
  }
  def encodedSizeRatio: Double =
    (setupNimble + cycles.map(_._1).sum).toDouble / (setupParquet + cycles.map(_._2).sum)
  def writeAmp: Double =
    (setupNimble + cycles.map(_._3).sum).toDouble / (setupLogical + cycles.map(_._4).sum)
  def table: String = path
  def lookupProbe: (String, Seq[Any]) =
    ("skey", (0 until 40).map(j => Gen.skey(seed, Gen.below(Gen.h(seed, j, 31), (batches * batchRows).toInt).toLong)))
  def codecSample: Seq[(String, graft.format.Column)] = Workload.tableSample(seed)
  def describe: Seq[(String, Any)] = Seq(
    "batch_rows" -> batchRows,
    "batches" -> batches,
    "rows" -> modelRows,
    "compact_every" -> compactEvery,
    "compact_min_file_mb" -> 2 * minFileBytes / 1048576.0,
    "nimble_mb" -> c.bytes(path) / 1048576.0,
    "parquet_mb" -> c.bytes(twin) / 1048576.0,
    "ops_in_whole_cycles" -> cycles.length)
}

// -------------------------------------------------------------- pipeline

/** Passes of the LLM-data operators over a corpus stored as Nimble with
  * planted exact and near-duplicate clusters. An op is one pass; each
  * operator in it is followed by the same operator on the Parquet twin,
  * whose result it must match. */
final class PipelineWorkload(c: Ctx) extends Workload(c) {
  val docs = 1200L
  val path = c.dir("corpus.nimble")
  val twin = c.dir("corpus.parquet")
  val logical = spark.sparkContext.longAccumulator
  val warmupOps = 1
  val roundLen = 1
  // two passes, so every run's median is taken over the same sample
  override val minMeasuredOps = 2
  private var nb: DataFrame = _
  private var pq: DataFrame = _
  private var pairs: DataFrame = _
  private var nimbleWritten = 0L
  val Ops = Seq("fingerprint", "minhash", "clusters", "quality", "topk")

  def setupRound(r: Int): Unit = {
    val (lo, hi) = (r * docs / rounds, (r + 1) * docs / rounds)
    nimbleWritten += c.writeNimble(Gen.corpus(spark, seed, lo, hi, 1, logical), path)
    c.writeParquet(Gen.corpus(spark, seed, lo, hi, 1), twin)
    c.nimble(path).schema
  }

  override def prepare(): Unit = {
    nb = c.nimble(path)
    pq = c.parquet(twin)
    // the clusters operator's input: the planted duplicate pairs
    pairs = spark.createDataFrame(Gen.plantedPairs(docs)).toDF("a", "b").coalesce(1)
  }

  /** One untimed pass over Nimble and the twin with its operators side by
    * side: a cold pass is bound by code generation and the JIT, which then
    * use several cores. Each result must match its twin's. */
  override def warmup(run: Int => Outcome): Int = {
    val got = concurrently(2 * Ops.length, Ops.length)(j => this.run(j % Ops.length, if (j < Ops.length) nb else pq))
    Ops.indices.map(k => got(k) == got(Ops.length + k))
      .pipe(wrong(_)(k => s"pipeline warm-up ${Ops(k)}: nimble ${got(k)} vs parquet ${got(Ops.length + k)}"))
  }

  /** Row count and an order-free hash of `df`. */
  private def summary(df: DataFrame): Row =
    df.agg(count(lit(1)), expr(s"bit_xor(xxhash64(${df.columns.map(n => s"`$n`").mkString(", ")}))"))
      .collect().head

  /** Run operator k over `docs`; the span names the layer. */
  private def run(k: Int, docs: DataFrame): Seq[String] = k match {
    case 0 => c.canon(Array(c.tracer.span("dedup.fingerprint")(
      summary(Dedup.fingerprintGroups(docs, "id", "text")))))
    case 1 =>
      val r = c.tracer.span("dedup.minhash")(summary(Dedup.minhashPairs(docs, "id", "text")))
      c.add("dedup.pairs", r.getLong(0).toDouble)
      c.add("dedup.minhash_calls", 1)
      c.canon(Array(r))
    case 2 =>
      val r = c.tracer.span("dedup.cc")(summary(Dedup.dedupClusters(docs, "id", pairs)))
      c.add("dedup.cc_rounds", Dedup.lastClusterRounds.get().toDouble)
      c.add("dedup.cc_calls", 1)
      c.canon(Array(r))
    case 3 => c.canon(c.tracer.span("text.quality")(Array(
      summary(TextAnalysis.quality(docs, "id", "text")),
      summary(docs.select(col("id"), TextAnalysis.langId(col("text")).as("lang"))))))
    case _ => c.canon(Array(c.tracer.span("similarity.topk")(summary(
      Similarity.cosineTopK(docs.filter(col("id") % 50 === 0), docs, "id", "emb", 5)))))
  }

  /** Each operator on Nimble, timed, then on the twin, untimed and
    * untraced; the two results must match. Every operator reads the
    * corpus once. */
  def op(i: Int): Outcome = c.op(i) {
    var (nimbleNs, twinNs, ok) = (0L, 0L, true)
    Ops.indices.foreach { k =>
      val t0 = System.nanoTime()
      val got = c.timed(run(k, nb))
      val t1 = System.nanoTime()
      val want = c.untraced(run(k, pq))
      nimbleNs += t1 - t0
      twinNs += System.nanoTime() - t1
      ok &= got == want || c.fail(s"pipeline ${Ops(k)} op $i: nimble $got vs parquet $want")
    }
    (Ops.length * logical.value.toLong, nimbleNs, twinNs, ok)
  }

  /** The planted exact duplicates must be found. */
  override def verify(): Int = {
    val groups = Dedup.fingerprintGroups(pq, "id", "text").filter(col("cnt") > 1).collect()
    val planted = Gen.plantedExactGroups(docs)
    if (groups.length == planted && groups.forall(_.getLong(1) == 3L)) 0
    else { c.fail(s"pipeline: ${groups.length} exact-duplicate groups, planted $planted"); 1 }
  }

  def encodedSizeRatio: Double = c.bytes(path).toDouble / c.bytes(twin)
  def writeAmp: Double = nimbleWritten.toDouble / logical.value
  def table: String = path
  def lookupProbe: (String, Seq[Any]) = ("id", (0 until 40).map(j => Gen.below(Gen.h(seed, j, 31), docs.toInt).toLong))
  def codecSample: Seq[(String, graft.format.Column)] = {
    import graft.format.{LongsCol, PhysType}
    Seq("id" -> LongsCol((0L until docs).toArray, PhysType.I64),
      "text" -> Workload.strings((0L until docs).map(Gen.docText(seed, _))))
  }
  def describe: Seq[(String, Any)] = Seq(
    "docs" -> docs,
    "planted_exact_groups" -> Gen.plantedExactGroups(docs),
    "logical_mb" -> logical.value / 1048576.0,
    "nimble_mb" -> c.bytes(path) / 1048576.0,
    "parquet_mb" -> c.bytes(twin) / 1048576.0)
}
