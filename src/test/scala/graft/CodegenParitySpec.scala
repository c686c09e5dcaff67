package graft

import org.apache.spark.sql.functions._

/** Codegen-vs-interpreted parity for every graft custom expression (r16:
  * they all gained real doGenCode): the same query under
  * spark.sql.codegen.factoryMode = NO_CODEGEN and CODEGEN_ONLY must produce
  * EXACTLY equal rows — the generated code shares (or mirrors statement-for-
  * statement) the interpreted kernels, so any divergence is a codegen bug.
  * Inputs deliberately hit the edges: empty/whitespace/unicode text, null
  * elements, length mismatches, zero vectors. */
class CodegenParitySpec extends SparkTestBase {

  private def underMode[A](mode: String)(body: => A): A = {
    val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.factoryMode", mode)
    try body
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
      case None => spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  private def parity(df: org.apache.spark.sql.DataFrame): Unit = {
    val interp = underMode("NO_CODEGEN")(df.collect()).map(_.toString).sorted
    val gen = underMode("CODEGEN_ONLY")(df.collect()).map(_.toString).sorted
    assert(interp.sameElements(gen),
      s"codegen diverged from interpreted:\n interp=${interp.take(5).mkString("; ")}\n gen=${gen.take(5).mkString("; ")}")
    assert(interp.nonEmpty)
  }

  test("vector expressions: cosine / lsh_bucket / lsh_probes") {
    graft.functions.VectorOps.register(spark)
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (0 until 400).map { i =>
      val n = if (i % 13 == 0) 0 else if (i % 7 == 0) 63 else 64 // length mismatch arm
      val a = Array.fill(n)(rnd.nextFloat() * 2 - 1)
      val b = Array.fill(64)(if (i % 11 == 0) 0.0f else rnd.nextFloat() * 2 - 1) // zero vectors
      (i, a, b)
    }
    val df = rows.toDF("id", "a", "b").selectExpr(
      "id",
      "graft_cosine(a, b) AS cos",
      "graft_lsh_bucket(b, 64, 16) AS bucket",
      "graft_lsh_probes(b, 64, 16, 4) AS probes")
    parity(df)

    // non-nullable inputs of mismatched length: still null under both modes
    // (the result is nullable whatever its inputs are), and CODEGEN_ONLY
    // compiles
    val nn = spark.range(6).select(col("id"),
      when(col("id") % 2 === 0, array(lit(1f), lit(2f))).otherwise(array(lit(1f))).as("a"),
      array(lit(1f), lit(2f)).as("b"))
    assert(!nn.schema("a").nullable && !nn.schema("b").nullable)
    val cos = nn.selectExpr("id", "graft_cosine(a, b) AS cos")
    parity(cos)
    for (mode <- Seq("NO_CODEGEN", "CODEGEN_ONLY"); r <- underMode(mode)(cos.collect())) {
      if (r.getLong(0) % 2 == 0) assert(math.abs(r.getDouble(1) - 1.0) < 1e-12, s"$mode $r")
      else assert(r.isNullAt(1), s"$mode: length mismatch must be null, got $r")
    }
  }

  test("text expressions: shingle_hashes / simhash32 / normalize") {
    graft.functions.ShingleHashes.register(spark)
    graft.functions.SimHash32.register(spark)
    graft.functions.NormalizeText.register(spark)
    import spark.implicits._
    val texts = Seq(
      "", " ", "one", "two  words", "tab\tand\nnewline mix",
      "Mixed CASE Text With MANY tokens repeated repeated repeated",
      "café résumé naïve", // precomposed accents
      "café résumé", // combining accents (NFC differs from input)
      "テスト 文書 テスト", // CJK
      ("lorem ipsum dolor sit amet " * 40).trim)
    val df = texts.zipWithIndex.map(_.swap).toDF("id", "t").selectExpr(
      "id",
      "graft_shingle_hashes(t, 3) AS sh",
      "graft_simhash32(t) AS sim",
      "graft_normalize(t, true, true) AS norm")
    parity(df)
  }

  test("zorder expressions: zbucket / zinterleave") {
    graft.functions.ZOrderKey.register(spark)
    import spark.implicits._
    val rnd = new scala.util.Random(21)
    val df = (0 until 500).map(i => (i, rnd.nextLong() % 1000, rnd.nextDouble() * 100))
      .toDF("id", "v", "d")
      .selectExpr(
        "id",
        "graft_zbucket(v, array(-500L, -100L, 0L, 100L, 500L)) AS bv",
        "graft_zbucket(d, array(10.0D, 25.0D, 50.0D, 75.0D)) AS bd")
      .selectExpr("id", "bv", "bd", "graft_zinterleave(bv, bd) AS z")
    parity(df)
  }
}
