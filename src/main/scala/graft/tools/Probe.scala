package graft.tools

import org.apache.spark.sql.SparkSession

/** The one fresh-JVM probe: `Probe <query-name|cc> [reps]`.
  *
  *  - `<query-name>`: any [[graft.SparkEntry]] query against
  *    SPARK_GRAFT_SF_DIR, written to the noop sink (graft.Bench's metric
  *    body). Prints each iteration's seconds and the warm min.
  *  - `cc`: `Dedup.dedupClusters` on graft.Bench's scale_cc shape
  *    ([[graft.Bench.ccShape]], warm-up included). Prints each pass's wall,
  *    rounds, overlay rounds and overlay bails.
  *
  * Every other scale metric is measured with `graft.Bench scale-only`
  * (calibrated, min-of-N, retried); per-layer splits come from
  * `perfbench/run.py --trace 1`. The one-off probes this object replaced
  * are in commit c8f0349 (`git show c8f0349:src/main/scala/graft/tools/<Name>.scala`);
  * PROBES.md rows before it name them. */
object Probe {
  /** SPARK_GRAFT_CPUS, defaulting to 4 like graft.Bench.main (with a warning:
    * an unset-env run is not comparable to a bench run at another width). */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", {
    System.err.println("[probe] SPARK_GRAFT_CPUS unset; defaulting to 4 (same as Bench.main)")
    "4"
  })

  /** A local session configured like graft.Bench.main's. */
  def localSpark(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def run(spark: SparkSession, target: String, reps: Int, sfDir: String): Unit =
    if (target == "cc") runCc(spark, reps) else runQuery(spark, target, reps, sfDir)

  private def runQuery(spark: SparkSession, name: String, reps: Int, sfDir: String): Unit = {
    val fn = graft.SparkEntry.queries.getOrElse(name, throw new IllegalArgumentException(
      s"unknown query $name; known: " + graft.SparkEntry.queries.keys.toSeq.sorted.mkString(", ")))
    fn(spark, sfDir).limit(1).collect() // plan + nimble conversion warm-up
    var best = Double.MaxValue
    for (i <- 0 until reps) {
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      best = math.min(best, sec)
      println(f"probe query=$name iter=$i sec=$sec%.3f")
    }
    println(f"probe query=$name warm_min=$best%.3f sf=$sfDir")
  }

  private def runCc(spark: SparkSession, reps: Int): Unit = {
    import graft.ops.Dedup
    val (docs, pairs) = graft.Bench.ccShape(spark)
    for (i <- 0 until reps) {
      val t0 = System.nanoTime()
      val out = Dedup.dedupClusters(docs, "doc_id", pairs)
      val sec = (System.nanoTime() - t0) / 1e9
      out.unpersist() // dedupClusters already materialized it
      println(f"probe cc pass=$i wall=$sec%.3f s rounds=${Dedup.lastClusterRounds.get()} " +
        s"overlay=${Dedup.lastOverlayRounds.get()} bails=${Dedup.lastOverlayBails.get()}")
    }
  }

  def main(args: Array[String]): Unit = {
    val target = args.headOption.getOrElse {
      System.err.println("usage: Probe <query-name|cc> [reps]")
      sys.exit(2)
    }
    val reps = args.lift(1).map(_.toInt).getOrElse(if (target == "cc") 3 else 6)
    val sfDir = if (target == "cc") "" else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", {
      System.err.println("[probe] a query target needs SPARK_GRAFT_SF_DIR (a scale-factor testdata dir)")
      sys.exit(2)
    })
    val c = cpus
    val spark = localSpark(c)
    println(s"probe target=$target reps=$reps cpus=$c")
    try run(spark, target, reps, sfDir) finally spark.stop()
  }
}
