package graft

import graft.format._

/** The codec-selection training corpora: long and bytes chunk shapes across
  * the engine's benchmark pattern families, their adversarial variants, and
  * the bench codec grid ([[Bench.codecGridPatterns]]). The trained selection
  * thresholds in [[Codecs]] were derived on these shapes; CodecsSpec's drift
  * arms and digest pin encode them. */
object CodecCorpus {

  /** Long pattern corpus across families x sizes x seeds (the shapes the
    * estimation filter and the bytes gates were trained on). */
  def rawPatterns(): Seq[(String, Array[Long], Byte)] =
    rawPatternsSeeded(Seq(1, 7, 42), Seq(1024, 4096, 16384))

  /** The same family generators at fresh seeds and sizes: the extension
    * the per-pair ranking margins were trained on as well. */
  def rankingPatterns(): Seq[(String, Array[Long], Byte)] =
    rawPatternsSeeded(Seq(99, 123, 2026, 777, 5150, 31337), Seq(2048, 8192))

  /** Bench's long codec grid at its own n and seed. */
  def benchGridPatterns(): Seq[(String, Array[Long], Byte)] =
    Bench.codecGridPatterns(100000, new scala.util.Random(42)).map {
      case (name, values) => (s"bench/$name", values, PhysType.I64)
    }

  private def rawPatternsSeeded(seeds: Seq[Int], sizes: Seq[Int]): Seq[(String, Array[Long], Byte)] = {
    val out = scala.collection.mutable.ArrayBuffer[(String, Array[Long], Byte)]()
    for (seed <- seeds; n <- sizes) {
      val rnd = new scala.util.Random(seed)
      def add(name: String, values: Array[Long], phys: Byte = PhysType.I64): Unit =
        out += ((s"$name/n=$n/s=$seed", values, phys))
      add("random64", Array.fill(n)(rnd.nextLong()))
      add("random63", Array.fill(n)(rnd.nextLong() >>> 1))
      for (w <- Seq(8, 16, 24, 32, 40, 48, 56))
        add(s"randomW$w", Array.fill(n)(rnd.nextLong() >>> (64 - w)))
      add("randomNeg", Array.fill(n)(rnd.nextLong() | Long.MinValue))
      add("hash64", Array.tabulate(n)(i => java.lang.Long.rotateLeft(i.toLong * 0x9E3779B97F4A7C15L, 17)))
      add("narrow8", Array.fill(n)(rnd.nextInt(256).toLong))
      add("lowcard64", { val a = Array.fill(64)(rnd.nextLong()); Array.fill(n)(a(rnd.nextInt(64))) })
      add("lowcard4k", { val a = Array.fill(4096)(rnd.nextLong()); Array.fill(n)(a(rnd.nextInt(4096))) })
      add("zipf64", { val a = Array.fill(64)(rnd.nextLong())
        Array.fill(n) { val r = rnd.nextDouble()
          a(if (r < 0.5) 0 else if (r < 0.75) 1 else if (r < 0.875) 2 else rnd.nextInt(64)) } })
      add("mainlyConst", Array.tabulate(n)(i => if (rnd.nextInt(100) < 95) 7L else rnd.nextLong()))
      add("runlength", { val a = new Array[Long](n); var i = 0
        while (i < n) { val v = rnd.nextInt(50).toLong
          val run = math.min(10 + rnd.nextInt(50), n - i)
          java.util.Arrays.fill(a, i, i + run, v); i += run }; a })
      add("increasing", { var v = 0L; Array.fill(n) { v += rnd.nextInt(8); v } })
      add("sortedWide", { var v = 0L; Array.fill(n) { v += rnd.nextLong() >>> 20; v } })
      add("timestampsUs", { var v = 1700000000000000L
        Array.fill(n) { v += 500000L + rnd.nextInt(1000000); v } })
      add("sortedRandom", { val a = Array.fill(n)(rnd.nextLong()); java.util.Arrays.sort(a); a })
      add("outliers", Array.tabulate(n)(i =>
        if (rnd.nextInt(50) == 0) rnd.nextLong() else rnd.nextInt(1024).toLong))
      add("clusteredIds", Array.tabulate(n)(i => (i / 100).toLong * 1000000L + rnd.nextInt(1000)))
      add("random32asI32", Array.fill(n)(rnd.nextInt().toLong), PhysType.I32)
      add("narrowInI32", Array.fill(n)(rnd.nextInt(4096).toLong), PhysType.I32)
      // adversarial families for the estimation filter: shapes where PFOR /
      // BlockBitPacking GENUINELY reach the top-2, so the trained skip
      // thresholds are pinned by real positives, not an absent class
      add("outliersWide40", Array.tabulate(n)(i =>
        if (rnd.nextInt(50) == 0) rnd.nextLong() >>> 1 else rnd.nextLong() >>> 24))
      add("outliersWide52", Array.tabulate(n)(i =>
        if (rnd.nextInt(100) == 0) rnd.nextLong() >>> 1 else rnd.nextLong() >>> 12))
      add("zipfNarrowPatch", Array.fill(n)(
        if (rnd.nextInt(100) < 96) rnd.nextInt(4).toLong else rnd.nextInt(256).toLong))
      add("blockShift28", { val base = rnd.nextLong() >>> 2
        Array.tabulate(n)(i => base * ((i / 1024) + 1) + rnd.nextInt(1 << 28)) })
      add("blockShift40", { val base = rnd.nextLong() >>> 2
        Array.tabulate(n)(i => base * ((i / 1024) + 1) + (rnd.nextLong() >>> 24)) })
      add("blockShift52", { val base = rnd.nextLong() >>> 2
        Array.tabulate(n)(i => base * ((i / 1024) + 1) + (rnd.nextLong() >>> 12)) })
    }
    out.toSeq
  }

  /** Bytes-chunk corpus: families spanning every bytes-codec winner —
    * front-codable sorted keys, low-cardinality enums, FSST-territory
    * text/URLs/repetitive blobs, and the incompressible shapes (random
    * binary, UUIDs, random base64) whose candidate passes the gates skip. */
  def rawBytesPatterns(): Seq[(String, Array[String])] = {
    val out = scala.collection.mutable.ArrayBuffer[(String, Array[String])]()
    for (seed <- Seq(1, 7, 42); n <- Seq(512, 2048, 8192)) {
      val rnd = new scala.util.Random(seed)
      def add(name: String, values: Array[String]): Unit =
        out += ((s"$name/n=$n/s=$seed", values))
      def randChars(len: Int, alpha: String): String = {
        val sb = new java.lang.StringBuilder(len)
        var i = 0
        while (i < len) { sb.append(alpha.charAt(rnd.nextInt(alpha.length))); i += 1 }
        sb.toString
      }
      val alnum = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
      val b64 = alnum + "+/"
      add("randomBinary", Array.fill(n)(new String(
        Array.fill[Byte](16 + rnd.nextInt(32))(rnd.nextInt(256).toByte),
        java.nio.charset.StandardCharsets.ISO_8859_1)))
      add("uuids", Array.fill(n)(new java.util.UUID(rnd.nextLong(), rnd.nextLong()).toString))
      add("randomAlnum", Array.fill(n)(randChars(8 + rnd.nextInt(24), alnum)))
      add("randomB64", Array.fill(n)(randChars(24 + rnd.nextInt(24), b64)))
      add("hexes", Array.fill(n)(java.lang.Long.toHexString(rnd.nextLong()) +
        java.lang.Long.toHexString(rnd.nextLong())))
      add("sortedKeys", Array.tabulate(n)(i => f"tenant/shard-007/object-$i%09d"))
      add("sortedPaths", Array.tabulate(n)(i =>
        f"/data/warehouse/2026/08/part-${i / 100}%05d/file-$i%07d.nim"))
      add("enum16", { val a = Array.tabulate(16)(i => s"STATE_${i}_${randChars(6, alnum)}")
        Array.fill(n)(a(rnd.nextInt(16))) })
      add("enum1k", { val a = Array.tabulate(1024)(i => s"city-$i-${randChars(8, alnum)}")
        Array.fill(n)(a(rnd.nextInt(1024))) })
      add("zipfWords", { val a = Array.tabulate(256)(i => s"w${i}${randChars(4, alnum)}")
        Array.fill(n) { val r = rnd.nextDouble()
          a(if (r < 0.5) 0 else if (r < 0.75) 1 else if (r < 0.875) 2 else rnd.nextInt(256)) } })
      val words = Array("data", "pipeline", "shard", "tenant", "object", "stripe",
        "column", "stream", "chunk", "filter", "index", "lookup")
      add("urls", Array.tabulate(n)(i =>
        s"https://svc.example.com/${words(rnd.nextInt(12))}/${words(rnd.nextInt(12))}?id=$i&r=${rnd.nextInt(1000)}"))
      add("jsonish", Array.tabulate(n)(i =>
        s"""{"id":$i,"kind":"${words(rnd.nextInt(12))}","score":${rnd.nextInt(1000)},"ok":${rnd.nextBoolean()}}"""))
      add("sentences", Array.fill(n)(
        (0 until 4 + rnd.nextInt(8)).map(_ => words(rnd.nextInt(12))).mkString(" ")))
      add("numbersAsStrings", Array.tabulate(n)(i => (i.toLong * 977 % 1000000).toString))
      add("shortMixed", Array.fill(n)(randChars(rnd.nextInt(4), alnum)))
      // repetitive base64: a base64-ish body with heavy substring repeats —
      // unigram entropy looks random but FSST pays (the feature that kills
      // a naive entropy gate)
      add("repetitiveB64", { val blocks = Array.fill(8)(randChars(16, b64))
        Array.fill(n)((0 until 3).map(_ => blocks(rnd.nextInt(8))).mkString) })
    }
    out.toSeq
  }

  /** Latin-1 bytes of each string as one chunk. */
  def bytesCol(vs: Array[String]): BytesCol = {
    val sink = new ByteSink()
    val offs = new Array[Int](vs.length + 1)
    var i = 0
    while (i < vs.length) {
      sink.writeBytes(vs(i).getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
      offs(i + 1) = sink.size
      i += 1
    }
    BytesCol(offs, sink.toArray)
  }
}
