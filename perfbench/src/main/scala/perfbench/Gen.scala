package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every value is a pure function of (seed, row
  * id), so a checker can recompute what the generator planted without
  * reading it back. */
object Gen {

  /** SplitMix64 finalizer: a well-mixed 64-bit hash of `x`. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def h(seed: Long, id: Long, salt: Int): Long = mix(mix(seed * 31 + salt) ^ id)
  /** Uniform in [0, n). */
  def below(x: Long, n: Int): Int = java.lang.Long.remainderUnsigned(x, n.toLong).toInt
  def unit(x: Long): Double = (x >>> 11) * (1.0 / (1L << 53))

  private val md5 = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))
  private val Hex = "0123456789abcdef".toCharArray

  def md5Hex(s: String): String = {
    val d = md5.get().digest(s.getBytes("UTF-8"))
    val out = new Array[Char](2 * d.length)
    var i = 0
    while (i < d.length) {
      out(2 * i) = Hex((d(i) >> 4) & 0xf)
      out(2 * i + 1) = Hex(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  // ---------------------------------------------------------------- table

  /** Distinct words; Zipf-ish use makes the text compressible like prose. */
  val Vocab: Array[String] = Array.tabulate(4000) { i =>
    val syll = Array("ka", "lo", "mi", "ne", "ru", "ta", "shi", "po", "ve", "da", "the", "of", "and")
    val x = mix(i + 7L)
    (0 to below(x, 3)).map(j => syll(below(mix(x + j), syll.length))).mkString + (i % 97)
  }
  val FeatureKeys: Array[String] = Array.tabulate(200)(i => f"f$i%03d")
  val Cats: Array[String] = Array.tabulate(24)(i => f"cat$i%02d")

  val TableSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("skey", StringType, nullable = false),
    StructField("price", DoubleType, nullable = false),
    StructField("score", DoubleType, nullable = false),
    StructField("qty", IntegerType, nullable = false),
    StructField("cat", StringType, nullable = false),
    StructField("txt", StringType, nullable = false),
    StructField("feats", MapType(StringType, DoubleType, valueContainsNull = false), nullable = false)))

  def skey(seed: Long, id: Long): String = md5Hex(s"$seed:$id")
  /** A key the table never holds (a bloom-filter negative). */
  def absentKey(seed: Long, j: Long): String = md5Hex(s"$seed:absent:$j")

  /** The table without its FlatMap column (lookup and ingest tables). */
  val NarrowSchema: StructType = StructType(TableSchema.fields.dropRight(1))

  def row(seed: Long, id: Long, feats: Boolean = true): Row = {
    val a = h(seed, id, 1)
    val b = h(seed, id, 2)
    val c = h(seed, id, 3)
    val words = 6 + below(c, 14)
    val txt = new StringBuilder
    var w = 0
    while (w < words) {
      val u = unit(mix(c + w))
      if (w > 0) txt += ' '
      txt ++= Vocab((u * u * u * Vocab.length).toInt)
      w += 1
    }
    val u = unit(b)
    val base = Seq(id, skey(seed, id), below(a, 10000000) / 100.0, unit(a >>> 3),
      below(a >>> 29, 100000), Cats((u * u * Cats.length).toInt), txt.toString)
    if (!feats) Row.fromSeq(base)
    else {
      val nFeats = 4 + below(b >>> 8, 20)
      Row.fromSeq(base :+ scala.collection.immutable.TreeMap((0 until nFeats).map { k =>
        val x = mix(b + k * 0x51L)
        val v = unit(x)
        FeatureKeys((v * v * FeatureKeys.length).toInt) -> (below(x >>> 20, 10000) / 100.0)
      }: _*))
    }
  }

  /** Uncompressed user bytes of one table row, by column: fixed-width
    * columns at their width, strings at their UTF-8 length, map entries at
    * key length + 8. */
  def logicalBytes(r: Row): Array[Long] = Array(
    8L, r.getString(1).length.toLong, 8L, 8L, 4L, r.getString(5).length.toLong,
    r.getString(6).getBytes("UTF-8").length.toLong,
    if (r.length > 7) r.getMap[String, Double](7).keysIterator.map(_.length + 8L).sum else 0L)

  /** Rows lo until hi in `parts` id-contiguous partitions; `acc`, when
    * given, sums each column's logical bytes. */
  def table(spark: SparkSession, seed: Long, lo: Long, hi: Long, parts: Int, feats: Boolean,
      acc: Array[org.apache.spark.util.LongAccumulator] = null): DataFrame = {
    val rdd = spark.sparkContext.range(lo, hi, 1, parts).map { id =>
      val r = row(seed, id, feats)
      if (acc != null) logicalBytes(r).zip(acc).foreach { case (n, a) => a.add(n) }
      r
    }
    spark.createDataFrame(rdd, if (feats) TableSchema else NarrowSchema)
  }

  /** The same zipf(s) rank distribution over n ids, sampled by inverting
    * its CDF; rank r maps to id (r * stride) mod n, a seeded permutation. */
  final class Zipf(n: Int, s: Double, seed: Long) {
    private val cdf = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1, s))
      var acc = 0.0
      val c = new Array[Double](n)
      var i = 0
      while (i < n) { acc += w(i); c(i) = acc; i += 1 }
      c.map(_ / acc)
    }
    private val stride: Long = {
      var st = (mix(seed) & 0x3fffffffL) | 1L
      while (BigInt(st).gcd(BigInt(n)) != 1) st += 2
      st
    }
    def rank(u: Double): Int = {
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
    def id(rank: Int): Long = (rank.toLong * stride) % n
  }

  // --------------------------------------------------------------- corpus

  val CorpusSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("emb", ArrayType(FloatType, containsNull = false), nullable = false)))

  val EmbDims = 16

  /** Text of doc `id` in a corpus with planted duplicate clusters. Docs
    * come in blocks of 10; in block b the docs at positions 1 and 2 are
    * exact copies of the block's head when b % 4 == 0 and near copies (one
    * word in 40 replaced) when b % 4 == 1. Every other doc is unique. */
  def docText(seed: Long, id: Long): String = {
    val block = id / 10
    val pos = id % 10
    val head = block * 10
    if (pos > 0 && pos <= 2 && block % 4 == 0) baseText(seed, head)
    else if (pos > 0 && pos <= 2 && block % 4 == 1) {
      val words = baseText(seed, head).split(' ')
      var i = below(h(seed, id, 9), 40)
      while (i < words.length) { words(i) = "edit" + (id % 1000); i += 40 }
      words.mkString(" ")
    } else baseText(seed, id)
  }

  private def baseText(seed: Long, id: Long): String = {
    val x = h(seed, id, 5)
    val n = 80 + below(x, 120)
    val b = new StringBuilder
    var w = 0
    while (w < n) {
      val u = unit(mix(x + w))
      if (w > 0) b += ' '
      b ++= Vocab((u * u * Vocab.length).toInt)
      w += 1
    }
    b.toString
  }

  /** Pairs (a < b) of planted exact and near duplicates among docs 0 until n. */
  def plantedPairs(n: Long): Seq[(Long, Long)] =
    (0L until (n + 9) / 10).filter(b => b % 4 <= 1 && b * 10 + 2 < n).flatMap { b =>
      val h = b * 10
      Seq((h, h + 1), (h, h + 2), (h + 1, h + 2))
    }

  /** Planted exact-duplicate groups (size 3) among docs 0 until n. */
  def plantedExactGroups(n: Long): Long = (0L until (n + 9) / 10).count(b => b % 4 == 0 && b * 10 + 2 < n).toLong

  def doc(seed: Long, id: Long): Row = {
    val t = docText(seed, id)
    val e = new Array[Float](EmbDims)
    t.split(' ').foreach { w => val x = mix(w.hashCode.toLong); e(below(x, EmbDims)) += 1f }
    Row(id, t, e.toSeq)
  }

  def corpus(spark: SparkSession, seed: Long, lo: Long, hi: Long, parts: Int,
      acc: org.apache.spark.util.LongAccumulator = null): DataFrame = {
    val rdd = spark.sparkContext.range(lo, hi, 1, parts).map { id =>
      val r = doc(seed, id)
      if (acc != null) acc.add(8L + r.getString(1).getBytes("UTF-8").length + 4L * EmbDims)
      r
    }
    spark.createDataFrame(rdd, CorpusSchema)
  }
}
