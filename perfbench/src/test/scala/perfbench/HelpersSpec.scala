package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class HelpersSpec extends AnyFunSuite {

  test("tail is the highest percentile with at least 10 samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    val t = Stats.tail(scala.util.Random.shuffle(xs))
    assert(t.value == 90.0) // 91..100 lie beyond it
    assert(t.percentile == 90.0)
    assert(t.samples == 100)
    assert(xs.count(_ > t.value) == 10)
    // 25 samples: index 14, the 60th percentile, still above the median
    val u = Stats.tail((1 to 25).map(_.toDouble))
    assert(u.value == 15.0 && u.percentile == 60.0)
  }

  test("tail falls back to the median when no upper percentile has 10 beyond") {
    val xs = Seq(5.0, 1.0, 3.0, 2.0, 4.0)
    assert(Stats.tail(xs) == Stats.Tail(3.0, 50.0, 5))
    assert(Stats.tail((1 to 20).map(_.toDouble)).value == 10.5)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("self time subtracts the union of child intervals") {
    val spans = Seq(
      Span(0, "op", 0, 100, -1, 7),
      Span(1, "source.plan", 10, 30, 0, 7),
      Span(2, "source.exec", 25, 60, 0, 7), // overlaps plan by 5
      Span(3, "inner", 40, 50, 2, 7),
      Span(4, "late", 90, 120, 0, 7)) // clipped to the parent's end
    val self = Trace.selfNs(spans)
    assert(self(0) == 100 - (60 - 10) - (100 - 90))
    assert(self(1) == 20)
    assert(self(2) == 35 - 10)
    assert(self(3) == 10)
    val byName = Trace.byName(spans)
    assert(byName("op") == Trace.Layer(1, 100, 40))
  }

  test("logical bytes count every column and every map entry") {
    val r = Gen.row(3L, 42L)
    val b = Gen.logicalBytes(r)
    assert(b(1) == 32 && b(6) == r.getString(6).length)
    assert(b(7) == r.getMap[String, Double](7).size * 12L && b(7) > 12L)
    assert(Gen.logicalBytes(Gen.row(3L, 42L, feats = false))(7) == 0L)
  }

  test("the tracer records nested spans with parents and op ids only while enabled") {
    val t = new Tracer
    t.span("off")(())
    t.enabled = true
    t.op = 3
    t.span("outer")(t.span("inner")(()))
    val ss = t.spans
    assert(ss.map(_.name) == Seq("inner", "outer"))
    assert(ss.head.parent == ss(1).id && ss(1).parent == -1 && ss.forall(_.op == 3))
  }

  test("the same seed gives identical ingest size and write-amplification figures") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2").config("spark.ui.enabled", "false")
      .getOrCreate()
    val base = java.nio.file.Files.createTempDirectory("perfbench-spec").toFile
    def figures(seed: Long, run: String): (Double, Double, Seq[(Long, Long, Long)]) = {
      val c = new Ctx(spark, seed, new java.io.File(base, run), 2)
      val w = new IngestWorkload(c, batchRows = 2000L)
      (0 until 2).foreach(w.setupRound)
      (0 until w.warmupOps + w.compactEvery * 2).foreach(i => assert(w.op(i).ok))
      assert(c.errors.isEmpty, c.errors.mkString("; "))
      (w.encodedSizeRatio, w.writeAmp, w.perOp.map(o => (o._1, o._2, o._4)).toSeq)
    }
    try {
      val (size, amp, appends) = figures(7L, "a")
      val (size2, amp2, appends2) = figures(7L, "b")
      assert(size == size2 && appends == appends2)
      // compaction concatenates its input files in name order, and the
      // writer names files with random UUIDs: the rewritten bytes may differ
      // by a byte or two between runs
      assert(math.abs(amp - amp2) <= 1e-5 * amp)
      assert(size > 0 && amp > 0)
    } finally spark.stop()
  }
}
