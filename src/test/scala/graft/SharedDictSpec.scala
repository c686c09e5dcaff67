package graft

import graft.format._
import org.scalatest.funsuite.AnyFunSuite

/** SharedDictionary encoding (reference:
  * dwio/nimble/encodings/SharedDictionaryEncoding.h:415): a stripe-scoped
  * alphabet stored once (alphabet frame) and reused by every chunk of the
  * stream, instead of per-chunk DICT alphabets. */
class SharedDictSpec extends AnyFunSuite {

  private def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory("shareddict").toFile
    d.deleteOnExit()
    s"${d.getAbsolutePath}/$name.gft"
  }

  private val schemaJson =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("s", org.apache.spark.sql.types.StringType))).json

  private def bytesCol(values: Seq[String], nulls: Array[Boolean] = null): BytesCol = {
    val offs = new Array[Int](values.length + 1)
    val sink = new ByteSink()
    values.zipWithIndex.foreach { case (v, i) =>
      if (nulls == null || !nulls(i)) sink.writeBytes(v.getBytes("UTF-8"))
      offs(i + 1) = sink.size
    }
    BytesCol(offs, sink.toArray, nulls)
  }

  private def writeChunks(path: String, chunks: Seq[BytesCol], compression: String = "none"): Unit = {
    val w = new Tablet.Writer(path, schemaJson, Array("s"), compression = compression)
    chunks.foreach { c => w.writeChunk(0, c); w.addRows(c.len.toLong) }
    w.close()
  }

  private def readAll(path: String, dict: Boolean = false): Seq[Seq[String]] = {
    val r = new Tablet.Reader(path)
    try {
      val cur = new Tablet.ChunkCursor(r.readStreamBytes(0, 0))
      val out = scala.collection.mutable.ArrayBuffer[Seq[String]]()
      while (cur.hasNext) {
        val col = (if (dict) cur.nextDict() else cur.next()) match {
          case d: DictBytesCol => d.expand
          case b: BytesCol => b
          case other => fail(s"unexpected column $other")
        }
        out += (0 until col.len).map(i =>
          if (col.nulls != null && col.nulls(i)) null else new String(col(i), "UTF-8"))
      }
      out.toSeq
    } finally r.close()
  }

  private val lowCard = (0 until 8).map(i => s"category_value_$i")

  test("low-card chunks share one stripe alphabet and round-trip (next + nextDict)") {
    val chunks = (0 until 10).map(k => bytesCol((0 until 1000).map(i => lowCard((i + k) % 8))))
    val path = tmp("shared")
    writeChunks(path, chunks)
    val back = readAll(path)
    assert(back.length == 10)
    chunks.zip(back).zipWithIndex.foreach { case ((c, b), k) =>
      assert(b == (0 until c.len).map(i => new String(c(i), "UTF-8")), s"chunk $k")
    }
    // dict-preserving read returns DictBytesCol straight off the shared alphabet
    val r = new Tablet.Reader(path)
    try {
      val cur = new Tablet.ChunkCursor(r.readStreamBytes(0, 0))
      assert(cur.peekCodec() == Codecs.SHAREDDICT, "data chunks must be shared-dict coded")
      assert(cur.nextDict().isInstanceOf[DictBytesCol])
    } finally r.close()
  }

  test("shared alphabet beats per-chunk re-encoding on size") {
    // an alphabet big enough to dominate the chunk (256 x 40-char entries,
    // random order so the index stream can't collapse to RLE/delta)
    val rnd = new scala.util.Random(42)
    val alpha = (0 until 256).map(i => f"shared_dictionary_alphabet_entry_$i%012d")
    val chunkVals = (0 until 1000).map(_ => alpha(rnd.nextInt(256)))
    val path = tmp("size10")
    writeChunks(path, (0 until 10).map(_ => bytesCol(chunkVals)))
    val shared = {
      val r = new Tablet.Reader(path)
      try r.streamLoc(0, 0).length finally r.close()
    }
    // baseline: what ten standalone chunk encodes (per-chunk DICT alphabet) cost
    val one = { val s = new ByteSink(); Codecs.encodeColumn(bytesCol(chunkVals), s); s.size }
    assert(shared < one.toLong * 10,
      s"shared stream $shared bytes should undercut 10 standalone chunks (${one * 10})")
  }

  test("nulls survive shared-dict chunks") {
    val nulls = Array.tabulate(500)(_ % 7 == 0)
    val chunks = (0 until 4).map(_ => bytesCol((0 until 500).map(i => lowCard(i % 8)), nulls.clone()))
    val path = tmp("nulls")
    writeChunks(path, chunks)
    for (b <- readAll(path, dict = true)) {
      (0 until 500).foreach { i =>
        if (nulls(i)) assert(b(i) == null) else assert(b(i) == lowCard(i % 8))
      }
    }
  }

  test("nextRange windows a shared-dict chunk: only the requested rows expand") {
    // shared-dict is the one string shape that declines positional reads, so
    // the indexed-lookup fallback lands here — it must NOT whole-chunk
    // expand to verify a handful of candidate rows (r15 VERDICT #7)
    val nulls = Array.tabulate(1000)(_ % 11 == 3)
    val chunks = (0 until 4).map(k =>
      bytesCol((0 until 1000).map(i => lowCard((i + k) % 8)), nulls.clone()))
    val path = tmp("sharedrange")
    writeChunks(path, chunks)
    val r = new Tablet.Reader(path)
    try {
      val full = {
        val c = new Tablet.ChunkCursor(r.readStreamBytes(0, 0))
        c.skip(); c.skip()
        c.next().asInstanceOf[BytesCol]
      }
      val cur = new Tablet.ChunkCursor(r.readStreamBytes(0, 0))
      cur.skip(); cur.skip()
      val d0 = Codecs.decodedValues.get()
      val (win, start) = cur.nextRange(694, 708)
      val wb = win.asInstanceOf[BytesCol]
      assert(start <= 694 && start + wb.len >= 708, s"window [$start, ${start + wb.len}) misses [694, 708)")
      assert(wb.len < full.len, s"window (${wb.len} rows) must be smaller than the chunk (${full.len})")
      assert(Codecs.decodedValues.get() - d0 == wb.len.toLong)
      for (rr <- 694 until 708) {
        val isNull = nulls(rr)
        assert((wb.nulls != null && wb.nulls(rr - start)) == isNull, s"null drift at row $rr")
        if (!isNull)
          assert(new String(wb(rr - start), "UTF-8") == new String(full(rr), "UTF-8"), s"row $rr")
      }
      // cursor stays chunk-aligned: the following chunk decodes intact
      val nxt = cur.next().asInstanceOf[BytesCol]
      assert(nxt.len == 1000)
      assert(new String(nxt(0), "UTF-8") == lowCard(3)) // k=3 chunk, row 0
    } finally r.close()
  }

  test("nextAtLookup point-reads a shared-dict chunk: positions only, nulls intact, alignment kept") {
    // r17: the LOOKUP materialization paths no longer fall back to a
    // [min,max] window for shared-dict — the index sub-stream serves the
    // exact positions and only those rows expand through the alphabet
    // (PROBES.md r17 LookupProbe row: 284 rows decoded per hit at small
    // batches, nearly all shared-dict windows). The cascade's nextAtOrNull decline
    // is unchanged — alphabet-preserving dense eval stays the filter path.
    val nulls = Array.tabulate(1000)(_ % 11 == 3)
    val chunks = (0 until 4).map(k =>
      bytesCol((0 until 1000).map(i => lowCard((i + k) % 8)), nulls.clone()))
    val path = tmp("sharedat")
    writeChunks(path, chunks)
    val r = new Tablet.Reader(path)
    try {
      val full = {
        val c = new Tablet.ChunkCursor(r.readStreamBytes(0, 0))
        c.skip(); c.skip()
        c.next().asInstanceOf[BytesCol]
      }
      // the cascade's decline contract is untouched
      val dec = new Tablet.ChunkCursor(r.readStreamBytes(0, 0))
      dec.skip(); dec.skip()
      assert(dec.nextAtOrNull(Array(3, 700)) == null,
        "nextAtOrNull must keep declining shared-dict (dict-preserving filter path)")
      val cur = new Tablet.ChunkCursor(r.readStreamBytes(0, 0))
      cur.skip(); cur.skip()
      val pos = Array(3, 14, 694, 700, 707, 999) // includes null rows (3, 14)
      val d0 = Codecs.decodedValues.get()
      val got = cur.nextAtLookup(pos)
      assert(got != null, "nextAtLookup must serve shared-dict positions")
      val gb = got.asInstanceOf[BytesCol]
      assert(gb.len == pos.length, s"dense selected column expected, got ${gb.len} rows")
      assert(Codecs.decodedValues.get() - d0 == pos.length.toLong,
        "decode cost must be the positions, not a window")
      pos.zipWithIndex.foreach { case (p, j) =>
        val isNull = nulls(p)
        assert((gb.nulls != null && gb.nulls(j)) == isNull, s"null drift at pos $p")
        if (!isNull)
          assert(new String(gb(j), "UTF-8") == new String(full(p), "UTF-8"), s"pos $p")
      }
      // cursor stays chunk-aligned: the following chunk decodes intact
      val nxt = cur.next().asInstanceOf[BytesCol]
      assert(nxt.len == 1000)
      assert(new String(nxt(0), "UTF-8") == lowCard(3))
    } finally r.close()
  }

  test("nextRange with a HUFFMAN-coded index stream windows the index decode too") {
    // the decodeSharedRange fast half: when the shared-dict INDEX stream is
    // Huffman-coded (zipf-skewed indices beat DICT/FOR), the index decode
    // itself windows from the nearest 256-row checkpoint instead of
    // decoding all n index values — the "Huffman checkpoint range decode"
    // consumer the r15 verdict asked to wire
    val rnd = new scala.util.Random(3)
    def zipfIdx(): Int = {
      val r = rnd.nextDouble()
      if (r < 0.55) 0 else if (r < 0.8) 1 else if (r < 0.92) 2 else rnd.nextInt(8)
    }
    val chunks = (0 until 3).map(_ => bytesCol((0 until 4000).map(_ => lowCard(zipfIdx()))))
    val path = tmp("sharedhuff")
    writeChunks(path, chunks)
    val r = new Tablet.Reader(path)
    try {
      // premise: the index sub-stream actually selected HUFFMAN (viewNext
      // reports the index encoding for shared-dict chunks) — otherwise this
      // arm silently degrades to the slice-only path SharedDictSpec already
      // covers
      val vcur = new Tablet.ChunkCursor(r.readStreamBytes(0, 0))
      assert(vcur.peekCodec() == Codecs.SHAREDDICT)
      assert(vcur.viewNext().id == Codecs.HUFFMAN,
        "premise: zipf-skewed indices must Huffman-code")
      val full = {
        val c = new Tablet.ChunkCursor(r.readStreamBytes(0, 0))
        c.skip()
        c.next().asInstanceOf[BytesCol]
      }
      val cur = new Tablet.ChunkCursor(r.readStreamBytes(0, 0))
      cur.skip()
      val d0 = Codecs.decodedValues.get()
      val (win, start) = cur.nextRange(3300, 3310)
      val wb = win.asInstanceOf[BytesCol]
      assert(start <= 3300 && start + wb.len >= 3310)
      // checkpoint-aligned window: far smaller than the 4000-row chunk
      assert(wb.len <= 2 * 256 + 16, s"window ${wb.len} rows — index decode did not window")
      assert(Codecs.decodedValues.get() - d0 == wb.len.toLong)
      for (rr <- 3300 until 3310)
        assert(new String(wb(rr - start), "UTF-8") == new String(full(rr), "UTF-8"), s"row $rr")
    } finally r.close()
  }

  test("skip() stays chunk-aligned across the alphabet frame") {
    val chunks = (0 until 3).map(k => bytesCol((0 until 200).map(i => lowCard((i * (k + 1)) % 8))))
    val path = tmp("skipalign")
    writeChunks(path, chunks)
    val r = new Tablet.Reader(path)
    try {
      val cur = new Tablet.ChunkCursor(r.readStreamBytes(0, 0))
      cur.skip() // chunk 0 (cursor must swallow the alphabet frame first)
      val c1 = cur.next().asInstanceOf[BytesCol]
      assert(new String(c1(0), "UTF-8") == lowCard(0))
      assert(new String(c1(1), "UTF-8") == lowCard(2)) // k=1 stride
    } finally r.close()
  }

  test("cap blowout mid-stripe falls back to plain chunks, data intact") {
    val low = bytesCol((0 until 1000).map(i => lowCard(i % 8)))
    // > 4096 fresh values in one chunk blows SharedMaxEntries
    val high = bytesCol((0 until 5000).map(i => s"unique_value_$i"))
    val path = tmp("abort")
    writeChunks(path, Seq(low, high, low))
    val back = readAll(path)
    assert(back.length == 3)
    assert(back(0) == (0 until 1000).map(i => lowCard(i % 8)))
    assert(back(1) == (0 until 5000).map(i => s"unique_value_$i"))
    assert(back(2) == (0 until 1000).map(i => lowCard(i % 8)))
  }

  test("single-chunk stripe skips the alphabet frame (selection gate)") {
    val path = tmp("single")
    writeChunks(path, Seq(bytesCol((0 until 1000).map(i => lowCard(i % 8)))))
    val r = new Tablet.Reader(path)
    try {
      val cur = new Tablet.ChunkCursor(r.readStreamBytes(0, 0))
      assert(cur.peekCodec() != Codecs.SHAREDDICT, "one chunk gains nothing from shared coding")
      assert(cur.next().isInstanceOf[BytesCol])
      assert(!cur.hasNext)
    } finally r.close()
  }

  test("high-cardinality first chunk never engages shared coding") {
    val path = tmp("highcard")
    val uniq = bytesCol((0 until 1000).map(i => s"u$i"))
    writeChunks(path, Seq(uniq, uniq))
    val r = new Tablet.Reader(path)
    try {
      val cur = new Tablet.ChunkCursor(r.readStreamBytes(0, 0))
      while (cur.hasNext) { assert(cur.peekCodec() != Codecs.SHAREDDICT); cur.next() }
    } finally r.close()
  }

  test("alphabet decode is lazy: skip-only traversal never touches it") {
    // A scan whose predicate prunes every chunk of a shared-dict stream must
    // not pay the alphabet decompress+decode. Provable without counters: make
    // the alphabet frame undecodable (invalid compression kind byte) — skips,
    // stats peeks and codec peeks must still work; only next() may throw.
    val chunks = (0 until 4).map(k => bytesCol((0 until 1000).map(i => lowCard((i + k) % 8))))
    val path = tmp("lazyalpha")
    writeChunks(path, chunks)
    val raw = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val r0 = new Tablet.Reader(path)
    val (streamOff, streamLen) = try {
      val loc = r0.streamLoc(0, 0); (loc.offset.toInt, loc.length.toInt)
    } finally r0.close()
    // first frame of the stream is the alphabet (flag 2): frame layout
    // [compLen i32][rawLen varint][compression u8][flag u8]... — poison the
    // compression byte so any decode attempt throws
    var p = streamOff + 4
    while ((raw(p) & 0x80) != 0) p += 1 // skip rawLen varint
    p += 1
    assert(raw(p + 1) == 2, "first frame must be the alphabet (flag 2)")
    raw(p) = 99 // invalid compression kind
    java.nio.file.Files.write(java.nio.file.Paths.get(path), raw)

    val r = new Tablet.Reader(path)
    try {
      val cur = new Tablet.ChunkCursor(r.readStreamBytes(0, 0))
      var n = 0
      while (cur.hasNext) { // hasNext parses past the poisoned frame header
        assert(cur.peekStats() != null)
        cur.skip()
        n += 1
      }
      assert(n == 4, s"expected 4 data chunks, got $n")
      // and a real decode DOES reach for the alphabet -> throws
      val cur2 = new Tablet.ChunkCursor(r.readStreamBytes(0, 0))
      intercept[Exception] { cur2.next() }
    } finally r.close()
  }
}
