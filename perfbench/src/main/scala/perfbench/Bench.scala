package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** Timing of one op: the wall and process-CPU time of its measured
  * segments, the logical bytes it read or ingested, and (when it ran a
  * Parquet twin) the Nimble and twin walls of the compared work. */
final case class Outcome(ns: Long, cpuNs: Long, logicalBytes: Long,
    nimbleNs: Long = 0L, twinNs: Long = 0L, ok: Boolean = true)

/** Shared state of one benchmark run: the session, the tracer, the work
  * directory and the per-layer accumulators of the traced rounds. */
final class Ctx(val spark: SparkSession, val seed: Long, val work: java.io.File, val cores: Int)
    extends AdaptiveSparkPlanHelper {
  val tracer = new Tracer
  def tracing: Boolean = tracer.enabled
  /** Per-layer sums, fed only while tracing. */
  val acc = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  def add(k: String, v: Double): Unit = if (tracing) acc(k) += v
  /** Mismatch descriptions, at most a few kept. */
  val errors = mutable.ArrayBuffer[String]()
  /** Set when answers are not meant to be right (the training pass). */
  var quiet = false
  def fail(msg: String): Boolean = {
    if (errors.length < 5) errors += msg
    if (!quiet) System.err.println(s"perfbench: WRONG: $msg")
    false
  }

  def dir(name: String): String = new java.io.File(work, name).getPath

  // ---- timed segments of an op

  private var segNs = 0L
  private var segCpu = 0L
  /** Wall-clock (ms) intervals of the timed segments of traced ops: Spark
    * listener events inside them belong to the measured work. */
  val tracedIntervals = mutable.ArrayBuffer[(Long, Long)]()
  /** Time `body` as part of the current op. */
  def timed[T](body: => T): T = {
    val c0 = Jvm.cpuNs
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      segNs += System.nanoTime() - t0
      segCpu += Jvm.cpuNs - c0
      if (tracing) tracedIntervals += ((w0, System.currentTimeMillis()))
    }
  }
  /** Run `body` with the tracer off, so neither spans nor layer sums see it. */
  def untraced[T](body: => T): T = {
    val was = tracer.enabled
    tracer.enabled = false
    try body finally tracer.enabled = was
  }

  /** Run one op's body and return its segments' totals. */
  def op(id: Int)(body: => (Long, Long, Long, Boolean)): Outcome = {
    segNs = 0L; segCpu = 0L
    tracer.op = id
    val (bytes, nim, twin, ok) =
      try tracer.span("op")(body)
      catch { case e: Exception =>
        fail(s"op $id threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        (0L, 0L, 0L, false)
      }
    tracer.op = -1
    Outcome(segNs, segCpu, bytes, nim, twin, ok)
  }

  // ---- DSv2 queries, measured from outside

  /** Collect `df` with planning (`executedPlan`) and execution in separate
    * spans; while tracing, harvest the scan's DSv2 metrics. */
  def query(df: DataFrame): Array[Row] = {
    val plan = tracer.span("source.plan")(df.queryExecution.executedPlan)
    val rows = tracer.span("source.exec")(df.collect())
    if (tracing) harvest(plan)
    rows
  }

  /** Scan implementations the traced queries planned. */
  val scanKinds = mutable.SortedSet[String]()

  private def harvest(plan: SparkPlan): Unit = {
    val scans = collect(plan) { case b: BatchScanExec => b }
    add("q.queries", 1)
    scanKinds ++= scans.map(_.scan.getClass.getSimpleName)
    // an aggregate answered from footer stats plans as a local scan
    if (scans.isEmpty && collect(plan) { case l: LocalTableScanExec => l }.nonEmpty) {
      scanKinds += "stats"
      add("q.stats_answered", 1)
    }
    scans.foreach { b =>
      def m(n: String): Double = b.metrics.get(n).map(_.value.toDouble).getOrElse(0.0)
      add("q.stripes_read", m("stripesRead"))
      add("q.chunks_skipped", m("chunksSkipped"))
      add("q.stream_bytes", m("streamBytesRead"))
      add("q.rows_out", m("numOutputRows"))
    }
  }

  // ---- storage helpers

  def nimble(path: String, opts: (String, String)*): DataFrame =
    spark.read.format("nimble").options(opts.toMap).load(path)
  def parquet(path: String): DataFrame = spark.read.parquet(path)

  /** Data files under `path`: name -> (file key, bytes). A file replaced
    * under the same name gets a new key. */
  def files(path: String): Map[String, (AnyRef, Long)] = {
    val d = new java.io.File(path)
    Option(d.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .map { f =>
        val a = java.nio.file.Files.readAttributes(f.toPath,
          classOf[java.nio.file.attribute.BasicFileAttributes])
        f.getName -> ((a.fileKey, a.size))
      }.toMap
  }
  def bytes(path: String): Long = files(path).values.map(_._2).sum

  /** Run a write-like step; returns the files it wrote under `path` and
    * their bytes. */
  def written[T](path: String)(body: => T): (T, Int, Long) = {
    val before = files(path)
    val r = body
    val added = files(path).filter { case (n, v) => !before.get(n).contains(v) }
    (r, added.size, added.values.map(_._2).sum)
  }

  /** Append `df` to the Nimble table at `path` as one traced writer call. */
  def writeNimble(df: DataFrame, path: String, opts: (String, String)*): Long = {
    val c0 = Jvm.cpuNs
    val (_, n, b) = written(path)(tracer.span("write") {
      df.write.format("nimble").options(opts.toMap).mode("append").save(path)
    })
    add("write.cpu_ns", (Jvm.cpuNs - c0).toDouble)
    add("write.files", n)
    add("write.calls", 1)
    b
  }
  def writeParquet(df: DataFrame, path: String): Long =
    written(path)(df.write.option("compression", "zstd").mode("append").parquet(path))._3

  // ---- result comparison

  /** Rows as sorted strings; doubles to 10 significant digits, since a
    * floating sum depends on its order. */
  def canon(rows: Array[Row]): Seq[String] =
    rows.map(r => r.toSeq.map {
      case d: Double => if (d.isNaN || d.isInfinite) d.toString else f"$d%.9e"
      case x => String.valueOf(x)
    }.mkString("|")).toSeq.sorted
}
