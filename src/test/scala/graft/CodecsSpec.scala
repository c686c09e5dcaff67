package graft

import graft.format._
import org.scalatest.funsuite.AnyFunSuite

/** Per-codec round-trips over the reference's benchmark data patterns
  * (reference: dwio/nimble/encodings/benchmarks/README.md:57-67 — Random,
  * Narrow8bit, Constant, MainlyConstant, RunLength, Increasing,
  * LowCardinality; FIXTURES.md F1). */
class CodecsSpec extends AnyFunSuite {
  private val rnd = new scala.util.Random(42)
  private val N = 10000

  private def roundTripLongs(values: Array[Long], phys: Byte = PhysType.I64,
      nulls: Array[Boolean] = null): Byte = {
    val sink = new ByteSink()
    Codecs.encodeColumn(LongsCol(values, phys, nulls), sink)
    val bytes = sink.toArray
    val out = Codecs.decodeColumn(new ByteCursor(bytes)).asInstanceOf[LongsCol]
    assert(out.len == values.length)
    var i = 0
    while (i < values.length) {
      if (nulls == null || !nulls(i)) assert(out.values(i) == values(i), s"row $i")
      if (nulls != null) assert(out.nulls != null && out.nulls(i) == nulls(i), s"null flag $i")
      i += 1
    }
    bytes(0) // chosen codec id
  }

  test("random longs -> trivial-ish") {
    roundTripLongs(Array.fill(N)(rnd.nextLong()))
  }
  test("narrow8bit -> bit-packed beats trivial") {
    val sink = new ByteSink()
    val values = Array.fill(N)((rnd.nextInt(256)).toLong)
    Codecs.encodeColumn(LongsCol(values, PhysType.I64), sink)
    assert(sink.size < N * 2, s"size ${sink.size}") // ~1B/row + overhead
    roundTripLongs(values)
  }
  test("constant") {
    val id = roundTripLongs(Array.fill(N)(7777L))
    assert(id == Codecs.CONST)
  }
  test("mainly constant") {
    val values = Array.tabulate(N)(i => if (rnd.nextInt(100) < 95) 42L else rnd.nextLong())
    roundTripLongs(values)
  }
  test("run length") {
    val values = new Array[Long](N)
    var i = 0; var v = 0L
    while (i < N) {
      v = rnd.nextInt(100).toLong
      val run = math.min(10 + rnd.nextInt(50), N - i)
      java.util.Arrays.fill(values, i, i + run, v)
      i += run
    }
    val sink = new ByteSink()
    Codecs.encodeColumn(LongsCol(values, PhysType.I64), sink)
    assert(sink.size < N / 2, s"RLE should compress runs, got ${sink.size}")
    roundTripLongs(values)
  }
  test("increasing -> delta/FOR") {
    var v = 1000000L
    val values = Array.tabulate(N) { _ => v += rnd.nextInt(10); v }
    val sink = new ByteSink()
    Codecs.encodeColumn(LongsCol(values, PhysType.I64), sink)
    assert(sink.size < N * 2, s"monotonic should pack small, got ${sink.size}")
    roundTripLongs(values)
  }
  test("low cardinality -> dictionary") {
    val alphabet = Array.fill(64)(rnd.nextLong())
    roundTripLongs(Array.fill(N)(alphabet(rnd.nextInt(64))))
  }
  test("extremes") {
    roundTripLongs(Array(Long.MinValue, Long.MaxValue, 0L, -1L, 1L))
    roundTripLongs(Array.empty[Long])
    roundTripLongs(Array(5L))
  }
  test("nullable mix at 80/50/10% non-null") {
    for (pct <- Seq(80, 50, 10)) {
      val nulls = Array.fill(N)(rnd.nextInt(100) >= pct)
      val values = Array.tabulate(N)(i => if (nulls(i)) 0L else rnd.nextInt(1000).toLong)
      roundTripLongs(values, PhysType.I64, nulls)
    }
  }
  test("all nulls") {
    roundTripLongs(new Array[Long](N), PhysType.I64, Array.fill(N)(true))
  }
  test("narrow widths i8/i16/i32") {
    roundTripLongs(Array.fill(N)(rnd.nextInt(128).toLong - 64), PhysType.I8)
    roundTripLongs(Array.fill(N)(rnd.nextInt(65536).toLong - 32768), PhysType.I16)
    roundTripLongs(Array.fill(N)(rnd.nextInt().toLong), PhysType.I32)
  }

  private def roundTripDoubles(values: Array[Double], isFloat: Boolean = false): Unit = {
    val sink = new ByteSink()
    Codecs.encodeColumn(DoublesCol(values, isFloat), sink)
    val out = Codecs.decodeColumn(new ByteCursor(sink.toArray)).asInstanceOf[DoublesCol]
    assert(out.len == values.length)
    var i = 0
    while (i < values.length) {
      assert(java.lang.Double.doubleToLongBits(out.values(i)) == java.lang.Double.doubleToLongBits(values(i)), s"row $i")
      i += 1
    }
  }

  test("random doubles") { roundTripDoubles(Array.fill(N)(rnd.nextDouble() * 1e6)) }
  test("decimal-ish doubles -> ALP") {
    val values = Array.fill(N)((rnd.nextInt(1000000) / 100.0))
    val sink = new ByteSink()
    Codecs.encodeColumn(DoublesCol(values, isFloat = false), sink)
    assert(sink.size < N * 4, s"ALP should beat raw 8B/value, got ${sink.size}")
    roundTripDoubles(values)
  }
  test("ALP patches exceptions: mostly-decimal doubles with random-real stragglers") {
    // the pre-r12 ALP-lite refused any chunk with a single non-decimal value;
    // true ALP must keep the decimal bulk narrow and patch the rest
    val values = Array.tabulate(N) { i =>
      if (i % 20 == 7) rnd.nextDouble() * 1e3 // ~5% arbitrary reals
      else rnd.nextInt(1000000) / 100.0
    }
    values(3) = Double.NaN; values(11) = -0.0; values(17) = Double.PositiveInfinity
    val sink = new ByteSink()
    Codecs.encodeColumn(DoublesCol(values, isFloat = false), sink)
    assert(sink.size < N * 5, s"ALP-with-exceptions should beat raw 8B/value, got ${sink.size}")
    roundTripDoubles(values)
    // raw-bit fidelity for the specials (doubleToLongBits canonicalizes NaN,
    // so check the exception stream preserved the exact patterns)
    val out = Codecs.decodeColumn(new ByteCursor(sink.toArray)).asInstanceOf[DoublesCol]
    assert(java.lang.Double.doubleToRawLongBits(out.values(11)) ==
      java.lang.Double.doubleToRawLongBits(-0.0))
    assert(out.values(17).isPosInfinity)
  }
  test("ALP factor shrinks trailing-zero magnitudes") {
    // multiples of 1000: factor=3 stores i instead of i*1000 — 10 bits vs 20
    val values = Array.tabulate(N)(i => (i % 1000) * 1000.0)
    val sink = new ByteSink()
    Codecs.encodeColumn(DoublesCol(values, isFloat = false), sink)
    assert(sink.size < N * 2, s"factored ALP should pack tightly, got ${sink.size}")
    roundTripDoubles(values)
  }
  test("ALP on decimal floats") {
    val values = Array.fill(N)((rnd.nextInt(100000) / 100.0f).toDouble)
    val sink = new ByteSink()
    Codecs.encodeColumn(DoublesCol(values, isFloat = true), sink)
    assert(sink.size < N * 3, s"float ALP should beat raw 4B/value, got ${sink.size}")
    roundTripDoubles(values, isFloat = true)
  }
  test("float round-trip") { roundTripDoubles(Array.fill(N)(rnd.nextFloat().toDouble), isFloat = true) }
  test("special doubles") {
    roundTripDoubles(Array(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, -0.0, 0.0, Double.MinValue, Double.MaxValue))
  }
  test("constant doubles") { roundTripDoubles(Array.fill(N)(3.14)) }

  private def roundTripBools(values: Array[Boolean]): Unit = {
    val sink = new ByteSink()
    Codecs.encodeColumn(BoolsCol(values), sink)
    val out = Codecs.decodeColumn(new ByteCursor(sink.toArray)).asInstanceOf[BoolsCol]
    assert(out.values.toSeq == values.toSeq)
  }
  test("bools: balanced / sparse 5% / all-false") {
    roundTripBools(Array.fill(N)(rnd.nextBoolean()))
    roundTripBools(Array.fill(N)(rnd.nextInt(100) < 5))
    roundTripBools(Array.fill(N)(false))
  }

  private def roundTripStrings(values: Array[String]): Unit = {
    val bb = new ByteSink()
    val offs = new Array[Int](values.length + 1)
    var i = 0
    while (i < values.length) {
      bb.writeBytes(values(i).getBytes("UTF-8")); offs(i + 1) = bb.size; i += 1
    }
    val col = BytesCol(offs, bb.toArray)
    val sink = new ByteSink()
    Codecs.encodeColumn(col, sink)
    val out = Codecs.decodeColumn(new ByteCursor(sink.toArray)).asInstanceOf[BytesCol]
    assert(out.len == values.length)
    i = 0
    while (i < values.length) {
      assert(new String(out(i), "UTF-8") == values(i), s"row $i")
      i += 1
    }
  }
  test("strings: random / low-card / constant / empty+unicode") {
    roundTripStrings(Array.fill(1000)(rnd.nextString(rnd.nextInt(30))))
    roundTripStrings(Array.fill(N)(s"MODE_${rnd.nextInt(7)}"))
    roundTripStrings(Array.fill(N)("SAME"))
    roundTripStrings(Array("", "a", "日本語テキスト", "", " weird"))
  }

  test("prefix front-coding wins on sorted shared-prefix strings") {
    val values = Array.tabulate(N)(i => f"user_prefix_common_$i%08d")
    java.util.Arrays.sort(values.asInstanceOf[Array[Object]])
    val bb = new ByteSink()
    val offs = new Array[Int](values.length + 1)
    var i = 0
    while (i < values.length) { bb.writeBytes(values(i).getBytes("UTF-8")); offs(i + 1) = bb.size; i += 1 }
    val sink = new ByteSink()
    Codecs.encodeColumn(BytesCol(offs, bb.toArray), sink)
    assert(sink.toArray(0) == Codecs.PREFIXR, s"chose codec ${sink.toArray(0)}")
    assert(sink.size < bb.size / 2, s"front coding should halve size, got ${sink.size} vs ${bb.size}")
    val out = Codecs.decodeColumn(new ByteCursor(sink.toArray)).asInstanceOf[BytesCol]
    i = 0
    while (i < values.length) { assert(new String(out(i), "UTF-8") == values(i), s"row $i"); i += 1 }
  }

  test("sentinel in-band nulls beat the nullable wrapper on narrow ints") {
    val nulls = Array.tabulate(N)(i => i % 2 == 0) // dense alternating nulls
    val values = Array.tabulate(N)(i => if (nulls(i)) 0L else (i % 100).toLong)
    val sink = new ByteSink()
    Codecs.encodeColumn(LongsCol(values, PhysType.I64, nulls), sink)
    val out = Codecs.decodeColumn(new ByteCursor(sink.toArray)).asInstanceOf[LongsCol]
    var i = 0
    while (i < N) {
      assert(out.nulls(i) == nulls(i), s"null flag $i")
      if (!nulls(i)) assert(out.values(i) == values(i), s"row $i")
      i += 1
    }
  }

  test("PFOR: narrow values with outlier patches") {
    // 99% of values fit 8 bits; 1% are huge — plain FOR needs 60+ bits/value,
    // PFOR packs 8 and patches the outliers
    val values = Array.tabulate(N)(i =>
      if (i % 100 == 13) (1L << 50) + rnd.nextInt(1000) else rnd.nextInt(256).toLong)
    val sink = new ByteSink()
    Codecs.encodeColumn(LongsCol(values, PhysType.I64), sink)
    assert(sink.size < N * 3, s"PFOR should pack narrow + patch outliers, got ${sink.size}")
    val id = roundTripLongs(values)
    assert(id == Codecs.PFOR, s"expected PFOR, selected codec $id")
  }

  test("BlockBitPacking: locally narrow, globally wide blocks") {
    // alternating regions near 0 and near 2^40 — a single FOR width is 40+
    // bits, per-block packing averages ~half that; non-monotonic so Delta
    // family stays out
    val values = Array.tabulate(N) { i =>
      val base = if ((i / 1024) % 2 == 0) 0L else 1L << 40
      base + rnd.nextInt(1 << 16).toLong
    }
    val id = roundTripLongs(values)
    assert(id == Codecs.BLOCKBP, s"expected BLOCKBP, selected codec $id")
  }

  test("DeltaBlock: sorted ints with per-block delta widths") {
    // sorted, small deltas with occasional big jumps between regions: global
    // delta width is large, per-block widths stay small
    var v = 0L
    val values = Array.tabulate(N) { i =>
      v += (if (i % 512 == 511) (1L << 30) else rnd.nextInt(8).toLong)
      v
    }
    val id = roundTripLongs(values)
    assert(id == Codecs.DELTABLOCK, s"expected DELTABLOCK, selected codec $id")
  }

  test("Huffman: skewed small alphabet beats fixed-width dictionary indices") {
    // Zipf-ish skew over 64 values: entropy ~2-3 bits vs DICT's 6-bit indices
    val values = Array.fill(N) {
      val r = rnd.nextDouble()
      val v = if (r < 0.5) 0 else if (r < 0.75) 1 else if (r < 0.875) 2 else rnd.nextInt(64)
      v.toLong * 1000
    }
    val id = roundTripLongs(values)
    assert(id == Codecs.HUFFMAN, s"expected HUFFMAN, selected codec $id")
  }

  test("FSST: repeated-substring strings select the symbol table and round-trip") {
    // URL-ish strings: heavy shared substrings, high cardinality (so DICT
    // can't win), unsorted (so PREFIX can't win)
    val domains = Array("example.com", "data-site.org", "ml-corpus.net")
    val strs = Array.tabulate(4000)(i =>
      s"https://www.${domains(rnd.nextInt(3))}/path/segment/${rnd.nextInt(1000000)}?session=${rnd.nextLong()}")
    val offs = new Array[Int](strs.length + 1)
    var total = 0
    for (i <- strs.indices) { total += strs(i).getBytes("UTF-8").length; offs(i + 1) = total }
    val bytes = new Array[Byte](total)
    for (i <- strs.indices)
      System.arraycopy(strs(i).getBytes("UTF-8"), 0, bytes, offs(i), offs(i + 1) - offs(i))
    val col = BytesCol(offs, bytes)
    val sink = new ByteSink()
    Codecs.encodeColumn(col, sink)
    val encoded = sink.toArray
    assert(encoded(0) == Codecs.FSST, s"expected FSST, got codec ${encoded(0)}")
    assert(sink.size < total * 3 / 4, s"FSST should compress: ${sink.size} vs $total")
    val out = Codecs.decodeColumn(new ByteCursor(encoded)).asInstanceOf[BytesCol]
    assert(out.len == strs.length)
    for (i <- strs.indices) {
      val got = new String(out.bytes, out.offsets(i), out.offsets(i + 1) - out.offsets(i), "UTF-8")
      assert(got == strs(i), s"row $i")
    }
  }

  test("FSST paper-invariant vectors: escape bytes, max-len symbols, binary alphabets, random access") {
    // The published cwida/fsst corpus is unreachable offline, so the paper's
    // INVARIANTS are pinned on adversarial in-repo vectors instead (the
    // divergence from the reference wire format is documented in COVERAGE):
    //  1. exact round-trip on any byte content — including 0xFF (the escape
    //     code itself), full 0..255 alphabets, and 8-byte repeated runs;
    //  2. random access: every string decodes independently, in any order,
    //     from its own encoded slice alone;
    //  3. codes stay in 0..253 — 254 never appears, 255 only as an escape.
    val r = new scala.util.Random(42)
    def mk(n: Int)(gen: Int => Array[Byte]): Array[Array[Byte]] = Array.tabulate(n)(gen)
    val families: Seq[(String, Array[Array[Byte]])] = Seq(
      "escape-heavy" -> mk(500)(i => Array.tabulate(8 + r.nextInt(24))(j =>
        if ((i + j) % 3 == 0) 0xff.toByte else ('a' + (j % 7)).toByte)),
      "full-alphabet" -> mk(256)(i => Array.tabulate(16)(j => ((i * 31 + j * 7) % 256).toByte)),
      "long-runs" -> mk(400)(i => Array.fill(5 + r.nextInt(40))(('x' + i % 3).toByte)),
      "url-ish" -> mk(600)(i =>
        s"https://host${i % 5}.example.com/p/${r.nextInt(1000)}".getBytes("UTF-8")),
      "empty-mixed" -> mk(300)(i => if (i % 4 == 0) Array.emptyByteArray
        else s"key_${i % 13}_${r.nextInt(50)}".getBytes("ISO-8859-1")))
    for ((name, strs) <- families) {
      val offs = new Array[Int](strs.length + 1)
      for (i <- strs.indices) offs(i + 1) = offs(i) + strs(i).length
      val bytes = new Array[Byte](offs.last)
      for (i <- strs.indices) System.arraycopy(strs(i), 0, bytes, offs(i), strs(i).length)
      val table = Fsst.train(bytes, 0, bytes.length)
      assert(table != null, s"$name: training found no symbols")
      // per-string encode (the column layout's unit of random access)
      val enc = new ByteSink()
      val encOffs = new Array[Int](strs.length + 1)
      for (i <- strs.indices) {
        Fsst.encode(table, bytes, offs(i), offs(i + 1), enc)
        encOffs(i + 1) = enc.size
      }
      val encArr = enc.toArray
      // invariant 3: emitted codes are 0..253 symbols or 255-escapes
      var p = 0
      while (p < encArr.length) {
        val b = encArr(p) & 0xff
        assert(b != 254, s"$name: reserved code 254 emitted at $p")
        if (b == Fsst.Escape) p += 2
        else { assert(b < table.symbols.length, s"$name: code $b out of table"); p += 1 }
      }
      // invariants 1+2: decode every slice independently, in shuffled order
      for (i <- r.shuffle(strs.indices.toList)) {
        val out = new ByteSink()
        val nBytes = Fsst.decode(table.symbols, encArr, encOffs(i), encOffs(i + 1), out)
        assert(nBytes == strs(i).length &&
          java.util.Arrays.equals(out.toArray, strs(i)),
          s"$name: row $i failed random-access round-trip")
      }
      // and the whole column survives the full codec stack regardless of
      // which encoding selection ends up picking
      val col = BytesCol(offs, bytes)
      val sink = new ByteSink()
      Codecs.encodeColumn(col, sink)
      val back = Codecs.decodeColumn(new ByteCursor(sink.toArray)).asInstanceOf[BytesCol]
      assert(back.len == strs.length)
      for (i <- strs.indices)
        assert(java.util.Arrays.equals(
          java.util.Arrays.copyOfRange(back.bytes, back.offsets(i), back.offsets(i + 1)),
          strs(i)), s"$name: column round-trip row $i")
    }
  }

  test("zstd chunk compression accept-ratio") {
    val raw = Array.fill[Byte](10000)(7)
    val (kind, data) = Tablet.compressChunk(raw)
    assert(kind == Tablet.CompZstd && data.length < raw.length / 10)
    val back = Tablet.decompressChunk(kind, data, raw.length)
    assert(back.toSeq == raw.toSeq)
    val tiny = Array.fill[Byte](10)(3)
    assert(Tablet.compressChunk(tiny)._1 == Tablet.CompNone)
  }

  test("lz4 chunk compression (min 12B) and none") {
    val raw = Array.fill[Byte](10000)(7)
    val (kind, data) = Tablet.compressChunk(raw, "lz4")
    assert(kind == Tablet.CompLz4 && data.length < raw.length / 10)
    assert(Tablet.decompressChunk(kind, data, raw.length).toSeq == raw.toSeq)
    assert(Tablet.compressChunk(Array.fill[Byte](11)(3), "lz4")._1 == Tablet.CompNone)
    assert(Tablet.compressChunk(raw, "none")._1 == Tablet.CompNone)
    // incompressible bytes get rejected by the accept ratio
    val rnd = new scala.util.Random(7)
    val noise = Array.fill[Byte](10000)(rnd.nextInt().toByte)
    assert(Tablet.compressChunk(noise, "lz4")._1 == Tablet.CompNone)
  }
  test("mainly constant with high-cardinality outliers still selects MainlyConstant") {
    // 5% unique random longs trip the distinct-map cap (4096); the
    // Boyer-Moore mode pass must keep MainlyConstant eligible anyway
    // (round-4 regression: this shape fell back to an RLE tree that was
    // both ~1.6x bigger and slower to decode).
    val r = new scala.util.Random(1234)
    val big = Array.tabulate(100000)(_ => if (r.nextInt(100) < 95) 7L else r.nextLong())
    val id = roundTripLongs(big)
    assert(id == Codecs.MAINLYCONST, s"expected MainlyConstant, got codec id $id")
  }

  test("Huffman table decode handles codes longer than the peek width") {
    // exponentially skewed frequencies force a deep canonical tree whose
    // rare symbols exceed the 11-bit fast-path table
    val nSym = 24
    val freqs = Array.tabulate(nSym)(i => math.max(1L, 1L << math.min(i, 40)))
    val lens = Huffman.codeLengths(freqs)
    assert(lens != null && lens.max > 11, s"maxLen ${lens.max}")
    val alphabet = Array.tabulate(nSym)(i => i * 1000L)
    val r = new scala.util.Random(99)
    // draw proportional to freq so rare (long-code) symbols appear too
    val values = Array.tabulate(5000) { i =>
      if (i % 100 == 0) alphabet(r.nextInt(4)) // guarantee some rarest symbols
      else alphabet(nSym - 1 - r.nextInt(4))
    }
    val sink = new ByteSink()
    Huffman.encode(values, alphabet, lens, sink)
    val got = Huffman.decode(alphabet, lens, new ByteCursor(sink.toArray), values.length)
    assert(got.toSeq == values.toSeq)
  }

  test("dictionary-preserving decode: DICT string chunks stay alphabet+indices") {
    def bytesCol(vals: Seq[String], nulls: Array[Boolean] = null): BytesCol = {
      val offs = new Array[Int](vals.length + 1)
      val bb = new java.io.ByteArrayOutputStream()
      for (i <- vals.indices) {
        val b = vals(i).getBytes("UTF-8")
        bb.write(b); offs(i + 1) = offs(i) + b.length
      }
      BytesCol(offs, bb.toByteArray, nulls)
    }
    // low-cardinality strings -> DICT wins; decodeColumnDict must preserve it
    val vals = Array.tabulate(5000)(i => Seq("AIR", "RAIL", "SHIP", "TRUCK")(i % 4))
    val sink = new ByteSink()
    Codecs.encodeColumn(bytesCol(vals.toSeq), sink)
    val dc = Codecs.decodeColumnDict(new ByteCursor(sink.toArray))
    assert(dc.isInstanceOf[DictBytesCol], s"expected DictBytesCol, got ${dc.getClass}")
    val d = dc.asInstanceOf[DictBytesCol]
    assert(d.alphabet.len == 4, s"alphabet size ${d.alphabet.len}")
    val exp = d.expand
    for (i <- vals.indices) assert(new String(exp(i), "UTF-8") == vals(i), s"row $i")
    // nullable wrapper: indices scatter around nulls
    val nulls = Array.tabulate(5000)(_ % 7 == 0)
    val sink2 = new ByteSink()
    Codecs.encodeColumn(bytesCol(vals.toSeq, nulls), sink2)
    val dc2 = Codecs.decodeColumnDict(new ByteCursor(sink2.toArray))
    assert(dc2.isInstanceOf[DictBytesCol], s"expected DictBytesCol, got ${dc2.getClass}")
    val d2 = dc2.asInstanceOf[DictBytesCol]
    for (i <- vals.indices if !nulls(i))
      assert(new String(d2.expand(i), "UTF-8") == vals(i), s"row $i")
    assert(d2.nulls.toSeq == nulls.toSeq)
    // high-cardinality strings -> not DICT; falls back to a flat decode
    val hi = Array.tabulate(5000)(i => s"unique-value-$i")
    val sink3 = new ByteSink()
    Codecs.encodeColumn(bytesCol(hi.toSeq), sink3)
    val flat = Codecs.decodeColumnDict(new ByteCursor(sink3.toArray))
    assert(flat.isInstanceOf[BytesCol], s"expected flat fallback, got ${flat.getClass}")
  }

  test("SubIntSplit: noisy-low-bit ids select codec 16 and round-trip") {
    // 100 random 40-bit bases, each repeated for a 100-row run, OR'd with 24
    // random low bits: the hi sub-stream is RLE-able (100 runs), the lo
    // sub-stream is 24-bit noise. No cheap codec gets below ~8 B/el (full
    // 64-bit range, distinct cap tripped), SubIntSplit lands ~3 B/el.
    // Reference: dwio/nimble/encodings/SubIntSplitEncoding.h:71.
    val r = new scala.util.Random(7)
    val bases = Array.fill(100)(r.nextLong() >>> 24) // 40-bit bases
    val values = Array.tabulate(N)(i => (bases(i / 100) << 24) | r.nextInt(1 << 24).toLong)
    val sink = new ByteSink()
    Codecs.encodeColumn(LongsCol(values, PhysType.I64), sink)
    assert(sink.toArray(0) == Codecs.SUBINT, s"expected SUBINT, chose codec ${sink.toArray(0)}")
    assert(sink.size < N * 4, s"SubIntSplit should land ~3 B/el, got ${sink.size}")
    val id = roundTripLongs(values)
    assert(id == Codecs.SUBINT)
  }

  test("SubIntSplit: negative values (hi via cascade, not FOR) round-trip") {
    // sign bit set -> the FOR estimate for the hi stream is ineligible; the
    // RLE path must still pick the split and reconstruct (hi << k) | lo
    // exactly for negative longs
    val r = new scala.util.Random(8)
    val bases = Array.fill(100)((r.nextLong() >>> 24) | (1L << 39)) // bit 39 set -> negative after <<24
    val values = Array.tabulate(N)(i => (bases(i / 100) << 24) | r.nextInt(1 << 24).toLong)
    roundTripLongs(values)
  }

  test("SubIntSplit: nullable wrapper round-trips the split inner chunk") {
    val r = new scala.util.Random(9)
    val bases = Array.fill(100)(r.nextLong() >>> 24)
    val nulls = Array.fill(N)(r.nextInt(20) == 0)
    val values = Array.tabulate(N)(i =>
      if (nulls(i)) 0L else (bases(i / 100) << 24) | r.nextInt(1 << 24).toLong)
    roundTripLongs(values, PhysType.I64, nulls)
  }

  test("FrequencyPartition: skewed head over high-card tail selects codec 17") {
    // 16 head values carry 97% of rows; a 3000-value tail blows past
    // Huffman's 256-symbol cap and poisons the DICT alphabet (3016 entries x
    // 8 B vs 31 head entries + a narrow code stream + a small exception
    // stream). Reference: dwio/nimble/encodings/FrequencyPartitionEncoding.h:96.
    val r = new scala.util.Random(17)
    val heads = Array.fill(16)(r.nextLong())
    val tail = Array.fill(3000)(r.nextLong())
    val values = Array.fill(N)(
      if (r.nextInt(100) < 97) heads(r.nextInt(16)) else tail(r.nextInt(3000)))
    val sink = new ByteSink()
    Codecs.encodeColumn(LongsCol(values, PhysType.I64), sink)
    assert(sink.toArray(0) == Codecs.FREQPART, s"expected FREQPART, chose codec ${sink.toArray(0)}")
    assert(sink.size < N * 2, s"FreqPartition should land ~1 B/el, got ${sink.size}")
    val id = roundTripLongs(values)
    assert(id == Codecs.FREQPART)
  }

  test("FrequencyPartition: exception ordering preserved with nulls present") {
    // exceptions are consumed in row order at decode; interleaved nulls must
    // not shift the exception cursor
    val r = new scala.util.Random(18)
    val heads = Array.fill(16)(r.nextLong())
    val tail = Array.fill(3000)(r.nextLong())
    val nulls = Array.fill(N)(r.nextInt(10) == 0)
    val values = Array.tabulate(N)(i =>
      if (nulls(i)) 0L
      else if (r.nextInt(100) < 97) heads(r.nextInt(16))
      else tail(r.nextInt(3000)))
    roundTripLongs(values, PhysType.I64, nulls)
  }

  test("encoding view records the exact nested tree the decoder walks") {
    // reference: dwio/nimble/encodings/views/EncodingView.h
    val r = new scala.util.Random(7)
    // nullable low-card strings: Nullable wrapping a (shared) dict-able value
    val strs = Array.tabulate(2000)(i => s"tag_${i % 5}")
    val nulls = Array.fill(2000)(r.nextInt(10) == 0)
    val offs = new Array[Int](2001)
    val bsink = new ByteSink()
    for (i <- 0 until 2000) {
      if (!nulls(i)) bsink.writeBytes(strs(i).getBytes("UTF-8"))
      offs(i + 1) = bsink.size
    }
    val sink = new ByteSink()
    Codecs.encodeColumn(BytesCol(offs, bsink.toArray, nulls), sink)
    val bytes = sink.toArray
    val (col, tree) = Codecs.withView { Codecs.decodeColumn(new ByteCursor(bytes)) }
    assert(col.len == 2000)
    assert(tree.length == 1)
    val root = tree.head
    assert(root.id == bytes(0), "root of the view is the chunk's top codec")
    assert(root.rows == 2000)
    assert(root.id == Codecs.NULLABLE && root.children.length == 2,
      s"nullable wrapper shows its null-bitmap and value children (got ${root.children.length})")
    // the values child of a 5-entry alphabet is a dictionary with 2 children
    val values = root.children(1)
    assert(values.id == Codecs.DICT && values.children.length == 2,
      s"expected DICT(alphabet, indices), got codec ${values.id}")
    // view off: decoding records nothing
    val (col2, tree2) = (Codecs.decodeColumn(new ByteCursor(bytes)), Seq.empty)
    assert(col2.len == 2000 && tree2.isEmpty)
  }

  // ---- intra-chunk point reads (Encoding::skip analog — reference:
  // encodings/common/Encoding.h:218, DeltaBlockEncoding.h:53): sparse
  // survivor sets materialize selected positions without a bulk decode ----

  /** Encode, optionally pin the selected codec id, then check decodeValuesAt
    * parity against the bulk decode on several position shapes. `expectSeek`
    * asserts the fast path actually fired (no bulk fallback). */
  private def pointReadParity(values: Array[Long], expectId: Byte = -1,
      nulls: Array[Boolean] = null, expectSeek: Boolean = true): Unit = {
    val sink = new ByteSink()
    Codecs.encodeColumn(LongsCol(values, PhysType.I64, nulls), sink)
    val bytes = sink.toArray
    if (expectId >= 0 && nulls == null)
      assert(bytes(0) == expectId, s"selector drift: got ${bytes(0)}, want $expectId")
    val n = values.length
    val posSets: Seq[Array[Int]] = Seq(
      Array(0), Array(n - 1), Array(0, n - 1),
      Array(1, n / 3, n / 2, n - 2).distinct.sorted,
      Array.tabulate(40)(i => (i * (n - 1)) / 40).distinct.sorted,
      Array.range(math.max(0, n / 2 - 8), math.min(n, n / 2 + 9)))
    for (ps <- posSets) {
      val dense = Codecs.decodeValuesAt(new ByteCursor(bytes), ps)
      if (expectSeek) {
        assert(dense != null, s"point read fell back to bulk for codec ${bytes(0)}")
        val lc = dense.asInstanceOf[LongsCol]
        assert(lc.len == ps.length)
        var i = 0
        while (i < ps.length) {
          val p = ps(i)
          if (nulls != null && nulls(p))
            assert(lc.nulls != null && lc.nulls(i), s"missing null at pos $p")
          else {
            assert(lc.nulls == null || !lc.nulls(i), s"spurious null at pos $p")
            assert(lc.values(i) == values(p), s"pos $p: got ${lc.values(i)}, want ${values(p)}")
          }
          i += 1
        }
      } else assert(dense == null, s"expected bulk fallback for codec ${bytes(0)}")
    }
  }

  test("point reads: RLE run-boundary merge") {
    val n = 8192
    val values = new Array[Long](n)
    var i = 0
    while (i < n) {
      val v = rnd.nextLong()
      val run = math.min(20 + rnd.nextInt(60), n - i)
      java.util.Arrays.fill(values, i, i + run, v)
      i += run
    }
    pointReadParity(values, expectId = Codecs.RLE)
  }

  test("point reads: DICT alphabet + recursive index seek") {
    val alphabet = Array.fill(64)(rnd.nextLong())
    pointReadParity(Array.fill(8192)(alphabet(rnd.nextInt(64))), expectId = Codecs.DICT)
  }

  test("point reads: SIMDFOR lane-vertical blocks + linear tail") {
    // 10000 = 19 full 512-value blocks + a 272-value tail; both layouts probed
    pointReadParity(Array.fill(10000)(rnd.nextInt(1000).toLong), expectId = Codecs.SIMDFOR)
  }

  test("point reads: DELTA checkpoint tail (r14 payloads seek, legacy falls back)") {
    // ±1 random walk: tiny deltas but NON-monotonic, so DELTABLOCK
    // (dMin >= 0 gate) is out and DELTA ranks first unambiguously
    var v = 1000000L
    val long = Array.tabulate(5000) { _ => v += rnd.nextInt(3) - 1; v }
    pointReadParity(long, expectId = Codecs.DELTA)
    // under 2 checkpoint strides the writer appends no tail: the point
    // reader must detect the legacy payload shape and decline
    v = 1000000L
    val short0 = Array.tabulate(1500) { _ => v += rnd.nextInt(3) - 1; v }
    pointReadParity(short0, expectId = Codecs.DELTA, expectSeek = false)
  }

  test("point reads: DELTABLOCK per-block checkpoints") {
    // tiny deltas with huge jumps: global delta width 36 kills DELTA,
    // per-block widths keep DELTABLOCK decisive
    var v = 0L
    val values = Array.tabulate(6000) { i =>
      v += (if (i % 500 == 499) 1L << 35 else rnd.nextInt(3).toLong); v
    }
    pointReadParity(values, expectId = Codecs.DELTABLOCK)
  }

  test("point reads: nullable wrapper over a checkpointed DELTA stream") {
    val nulls = Array.fill(6000)(rnd.nextInt(10) == 0)
    var v = 500L
    val values = Array.tabulate(6000)(i =>
      if (nulls(i)) 0L else { v += rnd.nextInt(2); v })
    pointReadParity(values, nulls = nulls)
  }

  test("point reads: PFOR packed lows + exception merge") {
    val values = Array.tabulate(8192)(i =>
      if (i % 100 == 13) (1L << 50) + rnd.nextInt(1000) else rnd.nextInt(256).toLong)
    pointReadParity(values, expectId = Codecs.PFOR)
  }

  test("point reads: BLOCKBP per-block header walk") {
    val values = Array.tabulate(8192) { i =>
      val base = if ((i / 1024) % 2 == 0) 0L else 1L << 40
      base + rnd.nextInt(1 << 16).toLong
    }
    pointReadParity(values, expectId = Codecs.BLOCKBP)
  }

  test("point reads: SUBINT recursive hi/lo recombination") {
    // the codec-16 shape: RLE-able 40-bit bases over 24-bit noise — the hi
    // recursion exercises the RLE point arm, the lo the packed arm
    val r = new scala.util.Random(7)
    val bases = Array.fill(100)(r.nextLong() >>> 24)
    val values = Array.tabulate(8192)(i => (bases(i / 100) << 24) | r.nextInt(1 << 24).toLong)
    pointReadParity(values, expectId = Codecs.SUBINT)
  }

  test("point reads: MAINLYCONST bitmap rank") {
    val values = Array.tabulate(8192)(i =>
      if (rnd.nextInt(100) < 95) 42L else rnd.nextLong() >>> 8)
    pointReadParity(values, expectId = Codecs.MAINLYCONST)
  }

  test("point reads: HUFFMAN checkpoint windows (legacy one-stride falls back)") {
    val skewed = Array.fill(8192) {
      val r = rnd.nextDouble()
      val v = if (r < 0.5) 0 else if (r < 0.75) 1 else if (r < 0.875) 2 else rnd.nextInt(64)
      v.toLong * 1000
    }
    pointReadParity(skewed, expectId = Codecs.HUFFMAN)
  }

  private def pointReadParityDoubles(values: Array[Double], expectId: Byte = -1): Unit = {
    val sink = new ByteSink()
    Codecs.encodeColumn(DoublesCol(values, isFloat = false), sink)
    val bytes = sink.toArray
    if (expectId >= 0)
      assert(bytes(0) == expectId, s"selector drift: got ${bytes(0)}, want $expectId")
    val n = values.length
    val posSets: Seq[Array[Int]] = Seq(
      Array(0), Array(n - 1),
      Array.tabulate(40)(i => (i * (n - 1)) / 40).distinct.sorted,
      Array.range(n / 2, n / 2 + 17))
    for (ps <- posSets) {
      val dense = Codecs.decodeValuesAt(new ByteCursor(bytes), ps)
      assert(dense != null, s"point read fell back to bulk for codec ${bytes(0)}")
      val dc = dense.asInstanceOf[DoublesCol]
      var i = 0
      while (i < ps.length) {
        val want = values(ps(i))
        val got = dc.values(i)
        assert(java.lang.Double.doubleToRawLongBits(got) ==
          java.lang.Double.doubleToRawLongBits(want),
          s"pos ${ps(i)}: got $got, want $want")
        i += 1
      }
    }
  }

  test("point reads: ALP doubles, clean and with NaN/real exceptions") {
    pointReadParityDoubles(
      Array.fill(8192)(rnd.nextInt(1000000) / 100.0), expectId = Codecs.ALP)
    // exception stragglers land in the patch streams; selected rows on both
    // sides of an exception must reconstruct bit-exactly (incl. NaN)
    pointReadParityDoubles(
      Array.tabulate(8192)(i =>
        if (i % 20 == 7) rnd.nextDouble() * 1e3
        else if (i == 31 || i == 4100) Double.NaN
        else rnd.nextInt(1000000) / 100.0),
      expectId = Codecs.ALP)
  }

  test("point reads: DICT doubles bit-cast alphabet") {
    val alpha = Array.fill(32)(rnd.nextDouble() * 1e9)
    pointReadParityDoubles(Array.fill(8192)(alpha(rnd.nextInt(32))), expectId = Codecs.DICT)
  }

  test("point reads: SENTINEL in-band nulls map back to nulls") {
    val nulls = Array.tabulate(8192)(i => i % 2 == 0)
    val values = Array.tabulate(8192)(i => if (nulls(i)) 0L else (i % 100).toLong)
    val sink = new ByteSink()
    Codecs.encodeColumn(LongsCol(values, PhysType.I64, nulls), sink)
    val bytes = sink.toArray
    assert(bytes(0) == Codecs.SENTINEL, s"expected SENTINEL wrapper, got ${bytes(0)}")
    pointReadParity(values, nulls = nulls)
  }

  // ---- string point reads (reference: encodings/PrefixEncoding.h:64
  // restart points, encodings/FsstEncoding.h:79 random access) ----

  /** Encode strings, optionally pin the winning codec, then check
    * decodeValuesAt parity against the bulk decode. `expectSeek = false`
    * asserts the shape DECLINES (legacy Prefix without restarts). */
  private def pointReadParityBytes(strings: Array[String], expectId: Byte = -1,
      nulls: Array[Boolean] = null, expectSeek: Boolean = true): Unit = {
    val n = strings.length
    val offs = new Array[Int](n + 1)
    var i = 0
    while (i < n) { offs(i + 1) = offs(i) + strings(i).getBytes("UTF-8").length; i += 1 }
    val bytes0 = new Array[Byte](offs(n))
    i = 0
    while (i < n) {
      val b = strings(i).getBytes("UTF-8")
      System.arraycopy(b, 0, bytes0, offs(i), b.length)
      i += 1
    }
    val sink = new ByteSink()
    Codecs.encodeColumn(BytesCol(offs, bytes0, nulls), sink)
    val enc = sink.toArray
    if (expectId >= 0 && nulls == null)
      assert(enc(0) == expectId, s"selector drift: got ${enc(0)}, want $expectId")
    val posSets: Seq[Array[Int]] = Seq(
      Array(0), Array(n - 1), Array(0, n - 1),
      Array(1, n / 3, n / 2, n - 2).distinct.sorted,
      Array.tabulate(40)(i => (i * (n - 1)) / 40).distinct.sorted,
      Array.range(math.max(0, n / 2 - 8), math.min(n, n / 2 + 9)))
    for (ps <- posSets) {
      val dense = Codecs.decodeValuesAt(new ByteCursor(enc), ps)
      if (!expectSeek) assert(dense == null, s"expected bulk fallback for codec ${enc(0)}")
      else {
        assert(dense != null, s"string point read fell back to bulk for codec ${enc(0)}")
        val bc = dense.asInstanceOf[BytesCol]
        assert(bc.len == ps.length)
        var j = 0
        while (j < ps.length) {
          val p = ps(j)
          if (nulls != null && nulls(p))
            assert(bc.nulls != null && bc.nulls(j), s"missing null at pos $p")
          else {
            assert(bc.nulls == null || !bc.nulls(j), s"spurious null at pos $p")
            val got = new String(bc.bytes, bc.offsets(j), bc.offsets(j + 1) - bc.offsets(j), "UTF-8")
            assert(got == strings(p), s"pos $p: got '$got', want '${strings(p)}'")
          }
          j += 1
        }
      }
    }
  }

  test("string point reads: TRIVIAL copies only selected strings") {
    pointReadParityBytes(
      Array.tabulate(4096)(i => s"${rnd.nextString(14)}#$i"),
      expectId = Codecs.TRIVIAL)
  }

  test("string point reads: CONST replicates") {
    pointReadParityBytes(Array.fill(4096)("same-value"), expectId = Codecs.CONST)
  }

  test("string point reads: DICT alphabet + recursive index seek") {
    val alpha = Array.tabulate(40)(i => s"city-${rnd.nextInt(1000000)}-$i")
    pointReadParityBytes(Array.fill(8192)(alpha(rnd.nextInt(40))), expectId = Codecs.DICT)
  }

  test("string point reads: FSST decodes only selected strings") {
    // many distinct strings built from a small substring vocabulary:
    // cardinality defeats DICT, substring repetition feeds FSST
    val words = Array("alpha", "bravo", "charlie", "delta", "echo", "foxtrot")
    val strs = Array.tabulate(4096)(i =>
      s"${words(rnd.nextInt(6))}/${words(rnd.nextInt(6))}/${words(rnd.nextInt(6))}#$i")
    pointReadParityBytes(strs, expectId = Codecs.FSST)
    val before = Fsst.decodedStrings.sum()
    val sink = new ByteSink()
    val offs = new Array[Int](strs.length + 1)
    var i = 0
    while (i < strs.length) { offs(i + 1) = offs(i) + strs(i).length; i += 1 }
    val raw = strs.mkString.getBytes("UTF-8")
    Codecs.encodeColumn(BytesCol(offs, raw), sink)
    Codecs.decodeValuesAt(new ByteCursor(sink.toArray), Array(7, 99, 4000))
    assert(Fsst.decodedStrings.sum() - before == 3,
      "FSST point read expanded more strings than selected")
  }

  test("string point reads: PREFIXR restart seeks on sorted shared-prefix strings") {
    val strs = Array.tabulate(8192)(i => f"user/account/2026-08/partition-$i%08d")
    pointReadParityBytes(strs, expectId = Codecs.PREFIXR)
    // short chunks keep legacy PREFIX (denser, no restart index): decline
    val shortStrs = Array.tabulate(48)(i => f"user/account/2026-08/partition-$i%08d")
    pointReadParityBytes(shortStrs, expectId = Codecs.PREFIX, expectSeek = false)
  }

  test("string point reads: nullable wrapper scatters selected strings") {
    val nulls = Array.tabulate(4096)(i => i % 5 == 1)
    val strs = Array.tabulate(4096)(i =>
      if (nulls(i)) "" else s"${rnd.nextLong().toHexString}-payload-$i")
    pointReadParityBytes(strs, nulls = nulls)
  }

  test("PREFIXR round-trip: bulk decode matches, restart stride bounds the walk") {
    // the bulk decoder must read v15 PREFIXR payloads identically to PREFIX
    // (restart triples carry common=0, so the sequential walk just works)
    val strs = Array.tabulate(5000)(i => f"user/account/2026-08/partition-$i%08d")
    val n = strs.length
    val offs = new Array[Int](n + 1)
    var i = 0
    while (i < n) { offs(i + 1) = offs(i) + strs(i).length; i += 1 }
    val sink = new ByteSink()
    Codecs.encodeColumn(BytesCol(offs, strs.mkString.getBytes("UTF-8")), sink)
    val encoded = sink.toArray
    assert(encoded(0) == Codecs.PREFIXR)
    val out = Codecs.decodeColumn(new ByteCursor(encoded)).asInstanceOf[BytesCol]
    assert(out.len == n)
    i = 0
    while (i < n) {
      assert(new String(out.bytes, out.offsets(i), out.offsets(i + 1) - out.offsets(i)) == strs(i))
      i += 1
    }
  }

  test("exact-estimate pairs single-encode at any margin (r16 bypass)") {
    // TRIVIAL/FOR/SIMDFOR/VARINT carry estimates equal to their emitted
    // payload bytes; when two of them rank top-2, the estimate comparison
    // IS emitBest's comparison, so the runner-up encode is provably wasted.
    // 4096 uniform bytes as I64: SIMDFOR (est ~n x 0.85) ranks first, FOR
    // (~n x 1.0) second, every other gated candidate costs more. Their cost
    // ratio ~0.85 sits above the 0.75 global margin, and the reference
    // search drops the pair table, so a single encode here is the bypass.
    val r = new scala.util.Random(5)
    val narrow = LongsCol(Array.fill(4096)(r.nextInt(256).toLong), PhysType.I64)
    val s0 = Codecs.singleEncodes.get()
    val bytes = Codecs.withReferenceSearch {
      val s = new ByteSink(); Codecs.encodeColumn(narrow, s); s.toArray
    }
    assert(bytes(0) == Codecs.SIMDFOR, s"expected SIMDFOR, got codec ${bytes(0)}")
    assert(Codecs.singleEncodes.get() - s0 == 1,
      "the FOR/SIMDFOR pair must single-encode above the global margin")
    val back = Codecs.decodeColumn(new ByteCursor(bytes)).asInstanceOf[LongsCol]
    assert(java.util.Arrays.equals(back.values, narrow.values))
  }

  // ---- the trained selection shortcuts' contract: production output vs
  // the reference search (Codecs.withReferenceSearch: no estimation mask,
  // bytes gates, FSST estimate-skip or pair margins) over every shape they
  // were trained on plus the bench codec grid ----

  private lazy val corpusShapes: Seq[(String, Column)] =
    (CodecCorpus.rawPatterns() ++ CodecCorpus.rankingPatterns() ++ CodecCorpus.benchGridPatterns())
      .map { case (name, values, phys) => (name, LongsCol(values, phys): Column) } ++
    CodecCorpus.rawBytesPatterns().map { case (name, vs) => (name, CodecCorpus.bytesCol(vs): Column) }

  /** Every corpus shape's encoded bytes, and what the shortcut counters
    * rose by while encoding them. */
  private final class CorpusRun(val bytes: Seq[Array[Byte]], val singleEncodes: Long,
      val estimationSkips: Long, val bytesGateSkips: Long)

  private def bytesGateSkips(): Long =
    Codecs.bytesPrefixSkips.get() + Codecs.bytesDictSkips.get() + Codecs.bytesFsstSkips.get()

  private def encodeCorpus(): CorpusRun = {
    val s0 = Codecs.singleEncodes.get()
    val e0 = Codecs.estimationSkips.get()
    val b0 = bytesGateSkips()
    val bytes = corpusShapes.map { case (_, col) =>
      val s = new ByteSink(); Codecs.encodeColumn(col, s); s.toArray
    }
    new CorpusRun(bytes, Codecs.singleEncodes.get() - s0, Codecs.estimationSkips.get() - e0,
      bytesGateSkips() - b0)
  }

  /** Runs `f` on a new thread. FSST training keeps per-thread scratch
    * whose hash-table size (the largest sample the thread trained before)
    * breaks ties between equal-gain symbols, so a chunk's FSST bytes depend
    * on the thread's history; a fresh thread makes them reproducible. */
  private def onFreshThread[T](f: => T): T = {
    val task = new java.util.concurrent.FutureTask[T](() => f)
    new Thread(task).start()
    task.get()
  }

  private lazy val production = onFreshThread(encodeCorpus())
  private lazy val reference = onFreshThread(Codecs.withReferenceSearch(encodeCorpus()))

  /** Shapes whose production bytes differ from the reference search's. */
  private lazy val drifted: Seq[String] = corpusShapes.indices.collect {
    case i if !java.util.Arrays.equals(production.bytes(i), reference.bytes(i)) =>
      s"${corpusShapes(i)._1}: ${reference.bytes(i).length} -> ${production.bytes(i).length} B"
  }

  test("trained top-1 pair margins: zero size drift, runner-up encodes measurably skipped") {
    // DefaultTop1PairMax may only skip runner-up encodes that never win
    assert(drifted.isEmpty, s"selection shortcuts changed output on: ${drifted.mkString(", ")}")
    assert(production.singleEncodes > reference.singleEncodes,
      s"pair table skipped no extra runner-up encodes (${reference.singleEncodes} -> " +
        s"${production.singleEncodes})")
  }

  test("trained bytes gates: zero size drift on the bytes corpus, real skipped passes") {
    // the sampled pre-filters may only skip candidate BUILD passes (prefix
    // scan, dict hash pass, FSST training and full encode) whose candidate
    // would not have won emitBest
    assert(drifted.isEmpty, s"selection shortcuts changed output on: ${drifted.mkString(", ")}")
    assert(production.bytesGateSkips > reference.bytesGateSkips,
      s"bytes gates never skipped a candidate pass (${reference.bytesGateSkips} -> " +
        s"${production.bytesGateSkips})")
  }

  test("trained estimation filter: zero size drift, real skips, measured win") {
    // candidate families whose O(n) estimation pass the trained thresholds
    // skip (PFOR bit histogram, BlockBitPacking block scan, SubIntSplit
    // neighbor-xor) were never in the exact-encode top-2
    assert(drifted.isEmpty, s"selection shortcuts changed output on: ${drifted.mkString(", ")}")
    assert(production.estimationSkips > reference.estimationSkips,
      s"filter never skipped an estimation pass (${reference.estimationSkips} -> " +
        s"${production.estimationSkips})")
    // and the filter must not COST wall-clock: the actual throughput win
    // is measured by the bench encode grid (committed artifact) — here a
    // single encode is ~260µs and the true delta a few percent, so a
    // strict A<B assert is noise under concurrent suites. Calibrate each
    // timed pass to >=10ms (same discipline as the bench codec grid),
    // interleave the two searches to cancel load drift, take mins, and
    // assert no-regression with 10% headroom.
    val rnd = new scala.util.Random(7)
    val hard = LongsCol(Array.fill(16384)(rnd.nextLong()), PhysType.I64)
    def encOnce(): Unit = { val s = new ByteSink(); Codecs.encodeColumn(hard, s) }
    encOnce() // JIT warmth for both paths (same encode stack)
    val reps = {
      val t0 = System.nanoTime(); encOnce()
      math.max(4, (0.01 / ((System.nanoTime() - t0) / 1e9)).toInt)
    }
    def pass(): Double = {
      val t0 = System.nanoTime()
      var i = 0; while (i < reps) { encOnce(); i += 1 }
      (System.nanoTime() - t0) / 1e9
    }
    var full = Double.MaxValue; var filtered = Double.MaxValue
    for (_ <- 0 until 5) {
      full = math.min(full, Codecs.withReferenceSearch(pass()))
      filtered = math.min(filtered, pass())
    }
    assert(filtered < full * 1.10,
      f"filtered encode $filtered%.5fs regressed vs exhaustive $full%.5fs on random longs")
  }

  test("selection output pin: SHA-256 of the production bytes over every corpus and grid shape") {
    // Guards the selection thresholds as constants: any change to what a
    // corpus or bench-grid chunk encodes to moves this digest, and must
    // update it on purpose. Each chunk hashes as a 4-byte big-endian length
    // then its bytes, in corpusShapes order (802 chunks).
    val md = java.security.MessageDigest.getInstance("SHA-256")
    for (b <- production.bytes) {
      md.update(java.nio.ByteBuffer.allocate(4).putInt(b.length).array())
      md.update(b)
    }
    val digest = md.digest().map(x => f"${x & 0xff}%02x").mkString
    assert(production.bytes.length == 802)
    assert(digest == "fe7e452f60b775f8f5fa651d78e47b68a35600ccc20078063ff0affc9e0b4a7f",
      s"encoded corpus bytes changed: $digest")
  }

  test("SparseBoolsCol encodes byte-identically to the dense BoolsCol (r22 flatmap presence)") {
    def denseBytes(values: Array[Boolean]): Array[Byte] = {
      val s = new ByteSink(); Codecs.encodeColumn(BoolsCol(values), s); s.toArray
    }
    def sparseBytes(values: Array[Boolean]): Array[Byte] = {
      val pos = values.indices.filter(values(_)).toArray
      // oversized buffer on purpose: only the first nPos entries are real
      val buf = java.util.Arrays.copyOf(pos, pos.length + 7)
      val s = new ByteSink()
      Codecs.encodeColumn(SparseBoolsCol(buf, pos.length, values.length), s)
      s.toArray
    }
    val shapes: Seq[(String, Array[Boolean])] = Seq(
      "empty" -> Array.empty[Boolean],
      "all-false" -> Array.fill(100)(false),
      "all-true" -> Array.fill(100)(true),
      "one-true" -> Array.tabulate(1000)(_ == 371),
      "sparse-true" -> Array.tabulate(5000)(i => i % 97 == 0),          // SPARSEBOOL territory
      "dense-mixed" -> Array.tabulate(5000)(i => rnd.nextBoolean()),    // TRIVIAL territory
      "sparse-false" -> Array.tabulate(5000)(i => i % 97 != 0),         // complement-walk arm
      "single-row-true" -> Array(true),
      "single-row-false" -> Array(false))
    for ((name, values) <- shapes) {
      val d = denseBytes(values); val s = sparseBytes(values)
      assert(java.util.Arrays.equals(d, s),
        s"$name: sparse encode differs (dense ${d.length}B vs sparse ${s.length}B)")
    }
  }
}
