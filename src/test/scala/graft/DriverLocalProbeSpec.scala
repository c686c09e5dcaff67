package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.CommandResult
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2ScanRelation}
import org.apache.spark.sql.functions._

import graft.spark.{NimbleProbeScan, NimbleSource}

/** Point probes on an indexed column whose scan plans one input partition
  * run on the driver: the scan becomes a LocalScan (LocalTableScanExec) and
  * the query starts no Spark job. Every other scan shape keeps the
  * distributed BatchScanExec, and both paths return the Parquet twin's rows. */
class DriverLocalProbeSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  /** 30K rows in 3 id-range files of several stripes each. `k` is unique
    * (`k<id>`) except 10 `multi` rows spread over every file and 4998 `dup`
    * rows, more than the driver-local row bound. */
  private lazy val dirs: (String, String) = {
    val src = spark.range(0, 30000).selectExpr(
      "id",
      "CASE WHEN id % 3000 = 7 THEN 'multi' WHEN id >= 24000 AND id < 29000 THEN 'dup' " +
        "ELSE concat('k', id) END AS k",
      "named_struct('a', id * 2, 'b', concat('s', id)) AS st",
      "array(id, id + 1) AS arr",
      "map(concat('m', id % 5), id) AS mp",
      "CAST((id * 37) % 256 - 128 AS TINYINT) AS u8",
      "concat('x', id) AS plain")
    val dir = tmpDir("probe-nimble")
    src.repartitionByRange(3, col("id")).sortWithinPartitions("id")
      .write.format("nimble").mode("overwrite")
      .option("indexColumns", "k").option("bloomFilterColumns", "k")
      .option("sortColumns", "id")
      .option("stripeBytes", "65536").option("rowsPerChunk", "1024").save(dir)
    // the twin holds the widened values the unsignedColumns read surfaces
    val pq = tmpDir("probe-parquet")
    src.withColumn("u8", (col("u8").cast("int") bitwiseAND 255).cast("short"))
      .write.mode("overwrite").parquet(pq)
    (dir, pq)
  }

  private def nb: DataFrame =
    spark.read.format("nimble").option("unsignedColumns", "u8").load(dirs._1)
  private def pq: DataFrame = spark.read.parquet(dirs._2)

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def plan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan
  private def isLocal(p: SparkPlan): Boolean =
    collect(p) { case l: LocalTableScanExec => l }.nonEmpty &&
      collect(p) { case b: BatchScanExec => b }.isEmpty
  private def isBatch(p: SparkPlan): Boolean =
    collect(p) { case b: BatchScanExec => b }.nonEmpty &&
      collect(p) { case l: LocalTableScanExec => l }.isEmpty

  private def probeScan(df: DataFrame): NimbleProbeScan =
    df.queryExecution.optimizedPlan.collectFirst {
      case r: DataSourceV2ScanRelation if r.scan.isInstanceOf[NimbleProbeScan] =>
        r.scan.asInstanceOf[NimbleProbeScan]
    }.get

  private val Marker = "driver-local-probe-spec-marker"

  /** `body`'s result and the Spark jobs started while it ran. Marker jobs
    * bracket it: listener events arrive in order, so every job started
    * before the closing marker is seen before it. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    def marker(): Unit = {
      sc.setJobDescription(Marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    def untilMarker(): Int = {
      var n = 0
      var d = seen.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      while (d != Marker) {
        assert(d != null, "marker job never reached the listener")
        n += 1
        d = seen.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      }
      n
    }
    sc.addSparkListener(listener)
    try {
      marker()
      untilMarker()
      val out = body
      marker()
      (out, untilMarker())
    } finally sc.removeSparkListener(listener)
  }

  test("filter(k === v) on an indexed column plans a LocalTableScan and starts no job") {
    val q = nb.filter(col("k") === "k12345")
    val (got, jobs) = jobsDuring(q.collect())
    assert(jobs == 0, s"driver-local probe started $jobs jobs")
    assert(isLocal(plan(q)), plan(q).toString)
    assert(got.length == 1 && got.head.getLong(0) == 12345L)
    assert(rows(q) == rows(pq.filter(col("k") === "k12345")))
    // the description reports what the reader did; planning stats stay fed
    val desc = probeScan(q).description()
    for (s <- Seq("key=k", "stripesRead=1", "chunksSkipped=", "streamBytesRead=", "rowsOut=1"))
      assert(desc.contains(s), desc)
    assert(!desc.contains("streamBytesRead=0,"), desc)
    val ps = NimbleSource.lastPlanStats(dirs._1).get
    assert(ps.stripesPlanned == 1 && ps.stripesPruned > 0, ps)
    // exact statistics keep the probe broadcastable in a join (an unsized
    // LocalScan counts as spark.sql.defaultSizeInBytes)
    val st = q.queryExecution.optimizedPlan.stats
    assert(st.rowCount.contains(BigInt(1)) && st.sizeInBytes < 1024, st)
  }

  test("driver-local rows equal the Parquet twin: nested, complex and unsigned-widened columns") {
    for (keys <- Seq(Seq("k7"), Seq("k0", "k15000", "k29999"), Seq("multi"))) {
      val q = nb.filter(col("k").isin(keys: _*))
      assert(isLocal(plan(q)), s"$keys:\n${plan(q)}")
      assert(rows(q) == rows(pq.filter(col("k").isin(keys: _*))), keys)
    }
    // a nested-field projection prunes the struct read and stays driver-local
    val proj = nb.filter(col("k") === "multi").select(col("st.b"), col("mp"), col("u8"))
    assert(isLocal(plan(proj)), plan(proj).toString)
    assert(rows(proj) ==
      rows(pq.filter(col("k") === "multi").select(col("st.b"), col("mp"), col("u8"))))
    assert(nb.schema("u8").dataType == org.apache.spark.sql.types.ShortType)
    // id 3 stores (3 * 37) % 256 - 128 = -17, widened to 239
    assert(nb.filter(col("k") === "k3").select("u8").head().getShort(0) == 239)
  }

  test("an absent key returns no rows and starts no job") {
    val q = nb.filter(col("k") === "no-such-key")
    val (got, jobs) = jobsDuring(q.collect())
    assert(got.isEmpty)
    assert(jobs == 0, s"absent probe started $jobs jobs")
    assert(isLocal(plan(q)), plan(q).toString)
  }

  test("a key past the row bound falls back to the batch scan and returns every row") {
    val q = nb.filter(col("k") === "dup")
    assert(isBatch(plan(q)), plan(q).toString)
    assert(q.collect().length == 4998)
    assert(rows(q) == rows(pq.filter(col("k") === "dup")))
  }

  test("non-indexed, multi-partition, TopN and capped reads keep the batch scan") {
    val plainQ = nb.filter(col("plain") === "x12345")
    assert(isBatch(plan(plainQ)), plan(plainQ).toString)
    assert(rows(plainQ) == rows(pq.filter(col("plain") === "x12345")))

    // tiny split target: the 10 surviving `multi` stripes plan several tasks
    spark.conf.set("spark.graft.scan.minPartitionBytes", "1")
    try {
      val multiQ = nb.filter(col("k") === "multi")
      val scan = collect(plan(multiQ)) { case b: BatchScanExec => b }
      assert(scan.length == 1 && scan.head.inputPartitions.length > 1, plan(multiQ).toString)
      assert(rows(multiQ) == rows(pq.filter(col("k") === "multi")))
    } finally spark.conf.unset("spark.graft.scan.minPartitionBytes")

    val topQ = nb.orderBy("id").limit(5)
    assert(isBatch(plan(topQ)) && plan(topQ).toString.contains("topN="), plan(topQ).toString)
    assert(topQ.collect().map(_.getLong(0)).toSeq == (0L until 5L))

    val capped = spark.read.format("nimble").option("unsignedColumns", "u8")
      .option("maxFilesPerTrigger", "1").load(dirs._1).filter(col("k") === "k12345")
    assert(isBatch(plan(capped)), plan(capped).toString)
    assert(rows(capped) == rows(pq.filter(col("k") === "k12345")))
  }

  test("a streaming read of an indexed point probe still streams every matching row") {
    val q = spark.readStream.format("nimble").option("maxFilesPerTrigger", "1").load(dirs._1)
      .filter(col("k") === "multi").select("id")
      .writeStream.format("memory").queryName("driver_probe_stream")
      .option("checkpointLocation", tmpDir("probe-stream-ckpt"))
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("driver_probe_stream").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (0 until 10).map(i => i * 3000L + 7))
  }

  test("row-level DELETE and UPDATE on an indexed key keep the batch scan") {
    val wh = tmpDir("probe-warehouse")
    spark.conf.set("spark.sql.catalog.gprobe", "graft.spark.NimbleCatalog")
    spark.conf.set("spark.sql.catalog.gprobe.warehouse", wh)
    val t = "gprobe.default.probe_dml"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val src = spark.range(0, 6000).selectExpr("id", "concat('k', id) AS k", "'v' AS v")
    src.repartition(2).writeTo(t)
      .tableProperty("indexColumns", "k").tableProperty("bloomFilterColumns", "k").create()
    // DML executes eagerly; its physical plan rides the CommandResult
    def commandPlan(df: DataFrame): SparkPlan =
      df.queryExecution.commandExecuted.collectFirst { case c: CommandResult => c.commandPhysicalPlan }.get

    val upd = spark.sql(s"UPDATE $t SET v = 'X' WHERE k = 'k42'")
    assert(isBatch(commandPlan(upd)), commandPlan(upd).toString)
    val del = spark.sql(s"DELETE FROM $t WHERE k = 'k43'")
    assert(isBatch(commandPlan(del)), commandPlan(del).toString)

    val expect = src.filter(col("k") =!= "k43")
      .withColumn("v", when(col("k") === "k42", lit("X")).otherwise(col("v")))
    assert(rows(spark.table(t)) == rows(expect))
    // a probe on the rewritten table is driver-local again
    val after = spark.table(t).filter(col("k") === "k42")
    assert(isLocal(plan(after)), plan(after).toString)
    assert(after.collect().map(r => (r.getLong(0), r.getString(2))).toSeq == Seq((42L, "X")))
  }
}
