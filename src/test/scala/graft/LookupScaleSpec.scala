package graft

import org.apache.spark.sql.functions._
import graft.format.Lookup

/** Batch-lookup scale contracts (r16 verdict #6). q43/q44 prove the lookup
  * surface at oracle scale; this spec pins the properties that make a
  * 10K-100K key batch an INDEX workload, not a scan workload:
  *   - one batch call returns exactly what N per-probe calls return, in
  *     request order;
  *   - rowsDecoded stays ~hit-count (the r15 positional-hit contract)
  *     regardless of batch size — decode cost is bounded by hits, not by
  *     (probes x stripe rows);
  *   - misses cost index probes, not row decodes;
  *   - the TVF routes all-scalar single-key batches through the batch path
  *     (request-order output with one footer/index load per stripe).
  * The wall-clock story at sf0.1 with 1K-100K keys is the PROBES.md r17/r18
  * LookupProbe rows (the probe itself is in commit c8f0349's tools/). */
class LookupScaleSpec extends SparkTestBase {

  private def writeIndexed(): (String, Int) = {
    val dir = tmpDir("lookupscale")
    val n = 60000
    spark.range(n).select(
        col("id"),
        md5(concat(lit("k"), col("id").cast("string"))).as("skey"),
        (col("id") * 7 % 1001).cast("double").as("v"))
      .coalesce(1)
      .write.format("nimble").mode("overwrite")
      .option("indexColumns", "skey").option("bloomFilterColumns", "skey")
      .option("rowsPerChunk", "4096").option("stripeBytes", (1L << 20).toString)
      .save(dir)
    (dir, n)
  }

  private def mkKey(i: Long): String = java.security.MessageDigest.getInstance("MD5")
    .digest(s"k$i".getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("batch point lookup == per-probe lookups, request order, rowsDecoded ~ hits") {
    val (dir, n) = writeIndexed()
    // 500 hits spread over the id space + 100 misses interleaved
    val probes: Seq[Any] = (0 until 600).map { i =>
      if (i % 6 == 5) s"miss-$i" else mkKey((i.toLong * 97) % n)
    }
    val (perProbe, m) = Lookup.batchPointLookupMetered(dir, "skey", probes)
    assert(perProbe.length == probes.length)
    val hits = perProbe.map(_.size).sum
    assert(hits == 500, s"expected 500 hits, got $hits")
    probes.zipWithIndex.foreach { case (p, i) =>
      val single = Lookup.pointLookup(dir, "skey", p)
      assert(perProbe(i) == single, s"probe $i ($p): batch ${perProbe(i)} vs single $single")
    }
    // positional-hit contract: each hit costs ~1 verify row + 1 row per
    // sibling column (id, v), plus hash-collision candidates — nowhere near
    // stripe rows. 8x hits is generous headroom; the table holds 60K rows.
    assert(m.rowsDecoded <= 8L * hits,
      s"rowsDecoded ${m.rowsDecoded} for $hits hits — batch decodes more than the hits")
    assert(m.indexProbes > 0, "batch must go through the hash index")
    // misses must not decode rows: an all-miss batch is bloom + index only
    val (missRes, mm) = Lookup.batchPointLookupMetered(dir, "skey",
      (0 until 200).map(i => s"nothere-$i"))
    assert(missRes.forall(_.isEmpty))
    assert(mm.rowsDecoded == 0,
      s"all-miss batch decoded ${mm.rowsDecoded} rows — bloom/index not consulted?")
  }

  test("batch composite lookup == per-probe composite, ranges included") {
    val dir = tmpDir("lookupcomp")
    // composite index on (g, id): g has 50 groups, id unique within table
    spark.range(20000).select(
        (col("id") % 50).cast("long").as("g"),
        col("id"),
        (col("id") * 3 % 997).cast("double").as("v"))
      .coalesce(1)
      .write.format("nimble").mode("overwrite")
      .option("indexColumns", "g+id")
      .option("rowsPerChunk", "2048").option("stripeBytes", (256L << 10).toString)
      .save(dir)
    val probes: Seq[(Seq[Any], Option[(Any, Any)])] = Seq(
      (Seq(7L, 1057L), None),                       // exact composite hit
      (Seq(3L), Some((100L, 300L))),                // eq prefix + range
      (Seq(49L), None),                             // whole-group equality (400 rows)
      (Seq(7L, 999999L), None),                     // miss
      (Seq(7L, 1057L), None))                       // duplicate probe
    val (batch, m) = Lookup.batchCompositeLookupMetered(dir, Seq("g", "id"), probes)
    assert(batch.length == probes.length)
    probes.zipWithIndex.foreach { case ((eq, range), i) =>
      val single = Lookup.compositeLookup(dir, Seq("g", "id"), eq, range)
      assert(batch(i) == single, s"probe $i: batch ${batch(i).size} rows vs single ${single.size}")
    }
    assert(batch(0).size == 1 && batch(3).isEmpty && batch(4) == batch(0))
    assert(m.indexProbes > 0, "batch composite must use the #cidx index")
  }

  test("nimble_lookup TVF batches scalar probes and keeps request order") {
    val (dir, n) = writeIndexed()
    graft.spark.NimbleLookupTvf.install(spark)
    val keys = (0 until 50).map(i => mkKey((i.toLong * 131) % n))
    val probeSql = keys.map(k => s"'$k'").mkString(", ")
    val got = spark.sql(s"SELECT * FROM nimble_lookup('$dir', 'skey', $probeSql)")
      .collect()
    assert(got.length == 50)
    // request order: lookup_seq is non-decreasing and complete
    assert(got.map(_.getInt(0)).toSeq == (0 until 50),
      "lookup_seq must enumerate probes in request order")
    got.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[String]("skey") == keys(i), s"row $i key mismatch")
      val id = r.getAs[Long]("id")
      assert(mkKey(id) == keys(i), s"row $i: id $id does not hash to its key")
    }
  }
}
