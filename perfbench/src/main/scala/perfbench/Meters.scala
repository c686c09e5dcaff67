package perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.scheduler._

/** Process-level meters read from outside the program: JVM CPU and GC time,
  * heap after a forced GC, and Spark job/task totals from a listener. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs: Long = os.getProcessCpuTime
  def gcMs: Long = {
    var t = 0L
    ManagementFactory.getGarbageCollectorMXBeans.forEach(b => t += math.max(0L, b.getCollectionTime))
    t
  }
  /** Used heap (MB) after forced collections, repeated until it stops
    * falling: Spark's context cleaner drops the blocks of unreferenced
    * broadcasts and persisted frames only after a collection, so the next
    * one frees them. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    var used = Long.MaxValue
    var last = Long.MaxValue
    var rounds = 0
    while (rounds < 3 || (rounds < 12 && used < last - (1L << 20))) {
      last = used
      System.gc()
      Thread.sleep(200)
      used = math.min(used, mem.getHeapMemoryUsage.getUsed)
      rounds += 1
    }
    used / 1048576.0
  }
  /** The host's aggregate CPU tick counters (user, nice, system, idle,
    * iowait, irq, softirq, steal), zeros where unreadable. */
  def hostCpu: Array[Long] =
    try {
      val f = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("/proc/stat")))
      f.linesIterator.next().split("\\s+").drop(1).take(8).map(_.toLong).padTo(8, 0L)
    } catch { case _: Exception => Array.fill(8)(0L) }
  def startMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
  def loadAvg: String =
    try new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("/proc/loadavg"))).trim
    catch { case _: Exception => "" }
}

/** Spark jobs and tasks above the scan, kept as timestamped events so the
  * ones inside the measured segments of traced ops can be picked out. */
final class SparkMeter extends SparkListener {
  /** (time ms, kind, cpu ns, run ms, shuffle bytes); kind 0 = job, 1 = task. */
  val events = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int, Long, Long, Long)]()
  override def onJobStart(e: SparkListenerJobStart): Unit = events.add((e.time, 0, 0L, 0L, 0L))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) events.add((e.taskInfo.finishTime, 1, m.executorCpuTime, m.executorRunTime,
      m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead))
  }

  /** (jobs, tasks, task cpu ns, task run ms, shuffle bytes) inside `spans`. */
  def within(spans: Seq[(Long, Long)]): (Long, Long, Long, Long, Long) = {
    val sorted = spans.sortBy(_._1).toArray
    val starts = sorted.map(_._1)
    def inside(t: Long): Boolean = {
      val i = java.util.Arrays.binarySearch(starts, t)
      val j = if (i >= 0) i else -i - 2
      j >= 0 && t <= sorted(j)._2
    }
    var (jobs, tasks, cpu, run, shuf) = (0L, 0L, 0L, 0L, 0L)
    events.forEach { case (t, kind, c, r, s) =>
      if (inside(t)) {
        if (kind == 0) jobs += 1
        else { tasks += 1; cpu += c; run += r; shuf += s }
      }
    }
    (jobs, tasks, cpu, run, shuf)
  }
}

/** Snapshot of the program's public process-wide counters; `minus` gives
  * the work done between two snapshots. */
final case class Counters(cacheHits: Long, cacheMisses: Long, selections: Long, replays: Long,
    fsstStrings: Long) {
  def minus(o: Counters): Counters = Counters(cacheHits - o.cacheHits, cacheMisses - o.cacheMisses,
    selections - o.selections, replays - o.replays, fsstStrings - o.fsstStrings)
  def plus(o: Counters): Counters = Counters(cacheHits + o.cacheHits, cacheMisses + o.cacheMisses,
    selections + o.selections, replays + o.replays, fsstStrings + o.fsstStrings)
}

object Counters {
  val zero: Counters = Counters(0, 0, 0, 0, 0)
  def now(): Counters = Counters(
    graft.spark.BlockCache.hits.get(), graft.spark.BlockCache.misses.get(),
    graft.format.Codecs.selectionsRun.sum(), graft.format.Codecs.replayHits.sum(),
    graft.format.Fsst.decodedStrings.sum())
}
