package graft.format

import scala.collection.mutable

/** Encoding library.
  *
  * Re-expresses the reference's encoding set (reference:
  * dwio/nimble/common/Types.h:69-163, dwio/nimble/encodings/, docs/Encodings.md)
  * for the JVM. Each stream chunk is self-describing:
  *
  *   [codecId u8][physType u8][rowCount varint][payload]
  *
  * Cascading: composite codecs (RLE, Dictionary, Delta, FOR, MainlyConstant,
  * SparseBool, Nullable) store sub-streams as length-prefixed blocks, each
  * recursively encoded with independently selected codecs
  * (reference: docs/Encodings.md:28-56 "cascading"). Recursion depth is
  * bounded (default budget 1 below top level, like
  * dwio/nimble/common/Types.h:221-248 OptimalSearchParams.allowedRecursions).
  *
  * Selection: analytic size estimates rank the gated candidates, the best
  * one or two are actually encoded, and the cheapest by `size * readFactor`
  * wins — same cost model as the reference's ManualEncodingSelectionPolicy
  * (docs/Encodings.md:76-90), settled on exact instead of estimated sizes
  * (affordable because chunks are <= ~16K rows). The trained shortcuts on
  * top are constants (see "selection thresholds" below).
  */
object Codecs {
  // codec ids (aligned with the reference's EncodingType enum where possible)
  final val TRIVIAL: Byte = 0
  final val RLE: Byte = 1
  final val DICT: Byte = 2
  final val FBW: Byte = 3 // fixed bit width, baseline 0
  final val SENTINEL: Byte = 4
  final val NULLABLE: Byte = 5
  final val SPARSEBOOL: Byte = 6
  final val VARINT: Byte = 7
  final val DELTA: Byte = 8
  final val CONST: Byte = 9
  final val MAINLYCONST: Byte = 10
  final val PREFIX: Byte = 11
  final val ALP: Byte = 12
  final val PFOR: Byte = 13 // patched FOR: narrow packed lows + exception patches
  final val SIMDFOR: Byte = 14 // FOR residuals in lane-vertical 512-value blocks (SIMD decode)
  final val BLOCKBP: Byte = 15 // per-1024-row baseline + bit width
  final val SUBINT: Byte = 16 // bit-range split: hi/lo sub-streams, each recursively coded
  final val FREQPART: Byte = 17 // top-K frequent values as narrow codes + exception stream
  final val FOR: Byte = 18 // frame-of-reference: baseline + bit-packed residuals
  final val FSST: Byte = 19 // trained symbol-table string compression, random access
  final val HUFFMAN: Byte = 20 // canonical Huffman over a small value alphabet
  final val DELTABLOCK: Byte = 21 // sorted ints: checkpoints + per-block packed deltas
  final val SHAREDDICT: Byte = 22 // stripe-scoped alphabet (in an alphabet frame) + per-chunk indices
  final val PREFIXR: Byte = 23 // front coding + restart index: seekable prefix
  // (reference encodings/PrefixEncoding.h:64 — restart points every K values
  // reset the shared prefix to zero so point reads decode <= K entries)

  /** Decode-speed priors, reference docs/Encodings.md:80-90 (Trivial 0.7,
    * FixedBitWidth 0.9, others 1.0); Huffman penalized beyond the reference
    * set because its bit-serial decode is genuinely slower than the
    * word-wise codecs — it must win by >30% size to be chosen. */
  private def readFactor(id: Byte): Double = id match {
    case TRIVIAL => 0.7
    // vector unpack beats both the word-wise scalar loop (FOR, 1.0) and
    // FixedBitWidth's 0.9 prior: same bytes as FOR → wins ties on ints
    case SIMDFOR => 0.85
    case FBW => 0.9
    case HUFFMAN => 1.3
    case _ => 1.0
  }

  private final val MaxDepth = 2 // top level + one cascade level

  /** DELTA seekability: chunks >= 2 strides long append absolute-value
    * checkpoints every this-many rows after the deltas block (point reads
    * re-base a segment instead of prefix-summing the whole chunk). */
  final val DeltaCheckpointStride = 1024

  /** PREFIXR restart stride: the shared prefix resets every this-many
    * values, so a string point read front-decodes at most this many entries
    * (reference encodings/PrefixEncoding.h:64 restart points). */
  final val PrefixRestartStride = 32

  /** Per-stream encoding-layout replay (reference:
    * dwio/nimble/writer/EncodingLayoutTree.h:25, option
    * writer/VeloxWriterOptions.h:195 — captured layout re-applied so stable
    * streams skip candidate selection): after 3 consecutive chunks pick the
    * same top-level codec, later chunks encode ONLY that codec; selection
    * re-opens every 8th chunk so distribution shifts re-train. Replay
    * applies at the top level of null-free chunks — cascade sub-streams and
    * the Nullable wrapper always select normally. */
  final class Replay(val deep: Boolean = false) {
    private[format] var lastWinner: Byte = -1
    private[format] var streak = 0
    private[format] var chunk = 0
    private[format] def lockedId: Byte = if (streak >= 3) lastWinner else -1
    // Deep (layout-tree) replays are shared across the homogeneous sibling
    // streams of one flatmap column — hundreds of observations per row
    // sweep — so the re-train probe amortizes over a longer cadence.
    private[format] def reopen: Boolean = chunk % (if (deep) 64 else 8) == 0
    private[format] def observe(winner: Byte, full: Boolean): Unit = {
      chunk += 1
      if (full) {
        Codecs.selectionsRun.increment()
        if (winner == lastWinner) streak += 1 else { lastWinner = winner; streak = 1 }
      } else Codecs.replayHits.increment()
    }
    // Layout-TREE replay (reference: dwio/nimble/writer/EncodingLayoutTree
    // .h:25 — the captured layout is a tree over the encoding's nested
    // streams, not a single top-level id): each nested stream slot of each
    // parent codec gets its own child Replay, so a locked ALP chunk also
    // replays its packed-longs stream's DELTA without re-searching. Children
    // exist ONLY on deep replays — plain per-stream replays (every non-
    // flatmap stream) return null and nested encodes search exactly as
    // before, keeping the standard write path byte-identical.
    private var kids: mutable.HashMap[Int, Replay] = null
    private[format] def child(parentId: Byte, pos: Int): Replay =
      if (!deep) null
      else {
        if (kids == null) kids = mutable.HashMap[Int, Replay]()
        kids.getOrElseUpdate(parentId * 4 + pos, new Replay(deep = true))
      }
  }
  /** Observability: full candidate selections vs locked-layout replays. */
  val selectionsRun = new java.util.concurrent.atomic.LongAdder
  val replayHits = new java.util.concurrent.atomic.LongAdder

  /** Child replay for a parent codec's nested stream slot — null unless the
    * replay is a deep (layout-tree) one, so every existing call site that
    * passes a plain replay keeps its nested searches byte-identical. */
  @inline private def rchild(r: Replay, parentId: Byte, pos: Int): Replay =
    if (r == null) null else r.child(parentId, pos)

  // ---------------------------------------------------------------- entry

  /** Encode a column (with nulls handled via the Nullable wrapper,
    * reference: dwio/nimble/encodings/NullableEncoding.h:44). */
  def encodeColumn(col: Column, sink: ByteSink): Unit = encodeColumn(col, sink, null)

  def encodeColumn(col: Column, sink: ByteSink, replay: Replay): Unit = {
    val nc = col.nullCount
    if (nc == 0) { encodeValues(stripNulls(col), sink, 0, replay); return }
    // Nullable wrapper: null bitmap sub-stream + compacted values sub-stream
    // (reference: dwio/nimble/encodings/NullableEncoding.h:44)
    val nullableSink = new ByteSink()
    nullableSink.writeByte(NULLABLE)
    nullableSink.writeByte(physOf(col))
    nullableSink.writeVarint(col.len.toLong)
    val isNull = col.nulls
    val nullsSink = new ByteSink()
    encodeValues(BoolsCol(isNull), nullsSink, 1)
    nullableSink.writeBlock(nullsSink.toArray)
    val valuesSink = new ByteSink()
    encodeValues(compactNonNull(col), valuesSink, 1)
    nullableSink.writeBlock(valuesSink.toArray)
    val nullableBytes = nullableSink.toArray
    // Sentinel alternative for integer streams: nulls stored in-band as an
    // unused value (reference: dwio/nimble/encodings/SentinelEncoding.h:44)
    val sentinelBytes = col match {
      case c: LongsCol => trySentinel(c)
      case _ => null
    }
    if (sentinelBytes != null && sentinelBytes.length < nullableBytes.length)
      sink.writeBytes(sentinelBytes)
    else sink.writeBytes(nullableBytes)
  }

  private def trySentinel(c: LongsCol): Array[Byte] = {
    val n = c.len
    var min = Long.MaxValue
    var max = Long.MinValue
    var i = 0
    while (i < n) {
      if (!c.nulls(i)) {
        val v = c.values(i)
        if (v < min) min = v
        if (v > max) max = v
      }
      i += 1
    }
    if (min == Long.MaxValue) { min = 0; max = 0 } // all null
    val sentinel =
      if (max < Long.MaxValue) max + 1
      else if (min > Long.MinValue) min - 1
      else return null
    val filled = new Array[Long](n)
    i = 0
    while (i < n) { filled(i) = if (c.nulls(i)) sentinel else c.values(i); i += 1 }
    val s = new ByteSink()
    s.writeByte(SENTINEL)
    s.writeByte(c.phys)
    s.writeVarint(n.toLong)
    s.writeZigZag(sentinel)
    val vs = new ByteSink()
    encodeLongs(filled, c.phys, vs, 1)
    s.writeBlock(vs.toArray)
    s.toArray
  }

  // ---- encoding view (reference: dwio/nimble/encodings/views/
  // EncodingView.h — inspect the nested encoding tree of a chunk). Rather
  // than duplicating every payload layout in a second parser (drift risk),
  // the tree is recorded as decode walks it: a null-checked thread-local,
  // touched once per BLOCK (not per value), off unless a tool asks.
  final class ViewNode(val id: Byte, val phys: Byte, val rows: Int) {
    val children = scala.collection.mutable.ArrayBuffer[ViewNode]()
  }
  private val viewTL = new ThreadLocal[scala.collection.mutable.ArrayBuffer[ViewNode]]()

  /** Run `f` (decode calls) recording the encoding tree it traverses. */
  def withView[T](f: => T): (T, Seq[ViewNode]) = {
    val stack = scala.collection.mutable.ArrayBuffer(new ViewNode(-1, -1, 0))
    viewTL.set(stack)
    try { val r = f; (r, stack.head.children.toSeq) }
    finally viewTL.remove()
  }

  /** Blocks materialized by [[decodeValues]] since JVM start — the
    * no-decode assertion for [[viewTree]] (one bump per encoding block, not
    * per value, so the hot path pays a single atomic add per chunk level). */
  val decodedBlocks = new java.util.concurrent.atomic.AtomicLong()

  /** Top-level chunk VALUES materialized via [[Tablet.ChunkCursor]] since
    * JVM start (one bump per chunk, by its row count — window decodes bump
    * by the window length). The cascading filter decode's observability
    * metric: a selectivity-ordered scan decodes fewer values of the
    * later-ordered filter columns (reference:
    * dwio/nimble/docs/develop/nimble_selective_reader.rst:163-199). */
  val decodedValues = new java.util.concurrent.atomic.AtomicLong()

  /** Zero-copy encoding view (reference: dwio/nimble/encodings/views/
    * EncodingView.h): parse the nested encoding tree of a chunk payload
    * WITHOUT materializing any values — only the fixed header fields that
    * precede child blocks are read; child blocks are length-framed, so
    * trailing payloads (packed bits, varint streams, code streams) are
    * never touched. Produces the same tree [[withView]] records from a real
    * decode; ViewDriftSpec pins that equivalence across the codec grid, so
    * the two walkers cannot diverge silently. */
  def viewTree(cur: ByteCursor): ViewNode = {
    val id = cur.buf(cur.pos)
    if (id == NULLABLE) {
      cur.readByte()
      val phys = cur.readByte().toByte
      val n = cur.readVarint().toInt
      val node = new ViewNode(NULLABLE, phys, n)
      node.children += viewTree(cur.readBlock())
      node.children += viewTree(cur.readBlock())
      node
    } else if (id == SENTINEL) {
      cur.readByte()
      val phys = cur.readByte().toByte
      val n = cur.readVarint().toInt
      cur.readZigZag() // sentinel
      val node = new ViewNode(SENTINEL, phys, n)
      node.children += viewTree(cur.readBlock())
      node
    } else viewValues(cur)
  }

  private def viewValues(cur: ByteCursor): ViewNode = {
    val id = cur.readByte().toByte
    val phys = cur.readByte().toByte
    val n = cur.readVarint().toInt
    val node = new ViewNode(id, phys, n)
    def blocks(k: Int): Unit = { var i = 0; while (i < k) { node.children += viewTree(cur.readBlock()); i += 1 } }
    phys match {
      case PhysType.Bool => id match {
        case SPARSEBOOL => cur.readByte(); blocks(1)
        case _ => () // CONST / TRIVIAL: no children
      }
      case PhysType.Bytes => id match {
        case FSST =>
          // symbol table: count byte, then per-symbol length byte + bytes
          val nSym = cur.readByte()
          var i = 0
          while (i < nSym) { val l = cur.readByte(); cur.pos += l; i += 1 }
          blocks(1) // encoded lengths
        case TRIVIAL =>
          // n == 0 writes an EMPTY block (no encoding inside), n > 0 a
          // lengths encoding — mirror the decoder's children exactly
          if (n == 0) { cur.readBlock(); () } else blocks(1)
        case DICT => blocks(2)
        case _ => () // CONST / PREFIX: no children
      }
      case PhysType.F32 | PhysType.F64 => id match {
        case ALP =>
          val first = cur.readByte()
          if (first == AlpV2Marker) {
            cur.readByte(); cur.readByte() // exponent, factor
            val exc = cur.readVarint()
            blocks(if (exc > 0) 3 else 1)
          } else blocks(1) // pre-r12 ALP-lite: exponent byte + scaled block
        case DICT => blocks(2)
        case _ => () // CONST / TRIVIAL
      }
      case _ => id match { // longs
        case RLE | DICT => blocks(2)
        case SUBINT => cur.readByte(); blocks(2) // split point, hi + lo
        case DELTA => cur.readZigZag(); blocks(1)
        case MAINLYCONST => cur.readZigZag(); blocks(2)
        case HUFFMAN =>
          cur.readVarint() // symbol count
          blocks(1) // alphabet; lens/checkpoints/code stream: no children
        case PFOR =>
          cur.readZigZag() // baseline
          val w = cur.readByte()
          cur.pos += ((n.toLong * w + 7) / 8).toInt // packed lows
          blocks(2) // exception positions + highs
        case FREQPART => cur.readVarint(); blocks(3)
        case DELTABLOCK => cur.readVarint(); blocks(1) // checkpoints
        case _ => () // CONST / TRIVIAL / FOR / SIMDFOR / VARINT / BLOCKBP
      }
    }
    node
  }

  private def viewEnter(id: Byte, phys: Byte, n: Int): Boolean = {
    val stack = viewTL.get()
    if (stack == null) return false
    val node = new ViewNode(id, phys, n)
    stack.last.children += node
    stack += node
    true
  }

  private def viewExit(entered: Boolean): Unit =
    if (entered) { val stack = viewTL.get(); stack.remove(stack.length - 1) }

  def decodeColumn(cur: ByteCursor): Column = {
    val id = cur.buf(cur.pos) // peek
    if (id == NULLABLE) {
      cur.readByte()
      val phys = cur.readByte().toByte
      val n = cur.readVarint().toInt
      val ve = viewEnter(NULLABLE, phys, n)
      try {
        val isNull = decodeValues(cur.readBlock()).asInstanceOf[BoolsCol].values
        val inner = decodeValues(cur.readBlock())
        scatter(inner, isNull, n, phys)
      } finally viewExit(ve)
    } else if (id == SENTINEL) {
      cur.readByte()
      val phys = cur.readByte().toByte
      val n = cur.readVarint().toInt
      val sentinel = cur.readZigZag()
      val ve = viewEnter(SENTINEL, phys, n)
      try {
        val values = decodeValues(cur.readBlock()).asInstanceOf[LongsCol].values
        val isNull = new Array[Boolean](n)
        var i = 0
        while (i < n) { if (values(i) == sentinel) { isNull(i) = true; values(i) = 0L }; i += 1 }
        LongsCol(values, phys, isNull)
      } finally viewExit(ve)
    } else decodeValues(cur)
  }

  /** Dictionary-preserving decode (filter columns only): when the value
    * stream — under an optional Nullable wrapper — is DICT over bytes, return
    * a [[DictBytesCol]] so predicates run once per alphabet entry instead of
    * once per row (reference:
    * dwio/nimble/velox/selective/StringColumnReader.cpp:330-504). Any other
    * shape falls back to [[decodeColumn]]. */
  def decodeColumnDict(cur: ByteCursor): Column = {
    val save = cur.pos
    val id = cur.buf(cur.pos)
    if (id == NULLABLE) {
      cur.readByte()
      val phys = cur.readByte().toByte
      if (phys != PhysType.Bytes) { cur.pos = save; return decodeColumn(cur) }
      val n = cur.readVarint().toInt
      val isNull = decodeValues(cur.readBlock()).asInstanceOf[BoolsCol].values
      val dict = tryDecodeDict(cur.readBlock())
      if (dict == null) { cur.pos = save; return decodeColumn(cur) }
      // scatter the compacted (non-null) indices back to row positions
      val out = new Array[Int](n)
      var i = 0
      var j = 0
      while (i < n) { if (!isNull(i)) { out(i) = dict._2(j); j += 1 }; i += 1 }
      DictBytesCol(dict._1, out, isNull)
    } else {
      val dict = tryDecodeDict(cur)
      if (dict == null) { cur.pos = save; return decodeColumn(cur) }
      DictBytesCol(dict._1, dict._2)
    }
  }

  /** Lazy string decode for projection fill: a null-free FSST chunk stays
    * encoded ([[LazyFsstBytesCol]] — rows decode at fill time, survivors
    * only), DICT stays alphabet+indices; Nullable/Sentinel wrappers and every
    * other shape decode eagerly via [[decodeColumnDict]]/[[decodeColumn]]. */
  def decodeColumnLazy(cur: ByteCursor): Column = {
    if (cur.buf(cur.pos) == FSST) {
      cur.readByte()
      val phys = cur.readByte().toByte
      require(phys == PhysType.Bytes, s"FSST over non-bytes phys $phys")
      val n = cur.readVarint().toInt
      val symbols = Fsst.readTable(cur)
      val encLens = decodeValues(cur.readBlock()).asInstanceOf[LongsCol].values
      val totalEnc = cur.readVarint().toInt
      val enc = cur.readBytes(totalEnc)
      val offs = new Array[Int](n + 1)
      var i = 0
      while (i < n) { offs(i + 1) = offs(i) + encLens(i).toInt; i += 1 }
      LazyFsstBytesCol(symbols, enc, offs)
    } else decodeColumnDict(cur)
  }

  /** (alphabet, indices) when the value block at `cur` is DICT over bytes,
    * else null (cursor position is then unspecified — callers re-decode from
    * a saved position). */
  private def tryDecodeDict(cur: ByteCursor): (BytesCol, Array[Int]) = {
    val save = cur.pos
    if (cur.buf(cur.pos) != DICT) { cur.pos = save; return null }
    cur.readByte()
    val phys = cur.readByte().toByte
    if (phys != PhysType.Bytes) { cur.pos = save; return null }
    val n = cur.readVarint().toInt
    val alphabet = decodeValues(cur.readBlock()).asInstanceOf[BytesCol]
    val idxL = decodeValues(cur.readBlock()).asInstanceOf[LongsCol].values
    val idx = new Array[Int](n)
    var i = 0
    while (i < n) { idx(i) = idxL(i).toInt; i += 1 }
    (alphabet, idx)
  }

  /** View a decoded column as a plain Boolean array (struct-nulls streams). */
  def asBools(col: Column): Array[Boolean] = col.asInstanceOf[BoolsCol].values

  private def physOf(col: Column): Byte = col match {
    case c: LongsCol => c.phys
    case c: DoublesCol => if (c.isFloat) PhysType.F32 else PhysType.F64
    case _: BoolsCol => PhysType.Bool
    case _: SparseBoolsCol => PhysType.Bool
    case _: BytesCol => PhysType.Bytes
    case _: DictBytesCol => PhysType.Bytes
  }

  private def stripNulls(col: Column): Column = col match {
    case c: LongsCol => if (c.nulls == null) c else c.copy(nulls = null)
    case c: DoublesCol => if (c.nulls == null) c else c.copy(nulls = null)
    case c: BoolsCol => if (c.nulls == null) c else c.copy(nulls = null)
    case c: SparseBoolsCol => c // never carries nulls
    case c: BytesCol => if (c.nulls == null) c else c.copy(nulls = null)
    case c: DictBytesCol => if (c.nulls == null) c else c.copy(nulls = null)
  }

  private def compactNonNull(col: Column): Column = {
    val isNull = col.nulls
    val n = col.len
    var m = 0
    var i = 0
    while (i < n) { if (!isNull(i)) m += 1; i += 1 }
    col match {
      case c: LongsCol =>
        val out = new Array[Long](m); var j = 0; i = 0
        while (i < n) { if (!isNull(i)) { out(j) = c.values(i); j += 1 }; i += 1 }
        LongsCol(out, c.phys)
      case c: DoublesCol =>
        val out = new Array[Double](m); var j = 0; i = 0
        while (i < n) { if (!isNull(i)) { out(j) = c.values(i); j += 1 }; i += 1 }
        DoublesCol(out, c.isFloat)
      case c: BoolsCol =>
        val out = new Array[Boolean](m); var j = 0; i = 0
        while (i < n) { if (!isNull(i)) { out(j) = c.values(i); j += 1 }; i += 1 }
        BoolsCol(out)
      case c: BytesCol =>
        val offs = new Array[Int](m + 1)
        var total = 0; var j = 0; i = 0
        while (i < n) {
          if (!isNull(i)) { total += c.offsets(i + 1) - c.offsets(i); j += 1; offs(j) = total }
          i += 1
        }
        val bytes = new Array[Byte](total); j = 0; i = 0
        while (i < n) {
          if (!isNull(i)) {
            val l = c.offsets(i + 1) - c.offsets(i)
            System.arraycopy(c.bytes, c.offsets(i), bytes, offs(j), l)
            j += 1
          }
          i += 1
        }
        BytesCol(offs, bytes)
      case c: DictBytesCol => compactNonNull(c.expand) // unreachable: filter path never re-encodes
    }
  }

  private def scatter(inner: Column, isNull: Array[Boolean], n: Int, phys: Byte): Column =
    inner match {
      case c: LongsCol =>
        val out = new Array[Long](n); var j = 0; var i = 0
        while (i < n) { if (!isNull(i)) { out(i) = c.values(j); j += 1 }; i += 1 }
        LongsCol(out, c.phys, isNull)
      case c: DoublesCol =>
        val out = new Array[Double](n); var j = 0; var i = 0
        while (i < n) { if (!isNull(i)) { out(i) = c.values(j); j += 1 }; i += 1 }
        DoublesCol(out, c.isFloat, isNull)
      case c: BoolsCol =>
        val out = new Array[Boolean](n); var j = 0; var i = 0
        while (i < n) { if (!isNull(i)) { out(i) = c.values(j); j += 1 }; i += 1 }
        BoolsCol(out, isNull)
      case c: BytesCol =>
        val offs = new Array[Int](n + 1); var j = 0; var i = 0
        while (i < n) {
          offs(i + 1) = offs(i) + (if (isNull(i)) 0 else c.offsets(j + 1) - c.offsets(j))
          if (!isNull(i)) j += 1
          i += 1
        }
        // bytes are already contiguous in compacted order == scattered order
        BytesCol(offs, c.bytes, isNull)
      case c: DictBytesCol => scatter(c.expand, isNull, n, phys) // unreachable: decodeValues never dict-preserves
    }

  // ------------------------------------------------------- value streams

  /** Encode a null-free value stream, choosing the cheapest codec. */
  def encodeValues(col: Column, sink: ByteSink, depth: Int, replay: Replay = null): Unit = col match {
    case c: LongsCol => encodeLongs(c.values, c.phys, sink, depth, replay)
    case c: DoublesCol => encodeDoubles(c, sink, depth, replay)
    // bool replay is restricted to deep (flatmap-family) replays: giving the
    // plain per-stream replays a bool lock would change which of the two
    // bool candidates non-flatmap streams emit — a byte-level change to the
    // standard write path this optimization must not make
    case c: BoolsCol => encodeBools(c.values, sink, depth,
      if (replay != null && replay.deep) replay else null)
    case c: SparseBoolsCol => encodeBoolsSparse(c, sink, depth,
      if (replay != null && replay.deep) replay else null)
    case c: BytesCol => encodeBytes(c, sink, depth, replay)
    case c: DictBytesCol => encodeBytes(c.expand, sink, depth, replay)
  }

  def decodeValues(cur: ByteCursor): Column = {
    val id = cur.readByte().toByte
    val phys = cur.readByte().toByte
    val n = cur.readVarint().toInt
    decodedBlocks.incrementAndGet()
    val ve = viewEnter(id, phys, n)
    try phys match {
      case PhysType.Bool => BoolsCol(decodeBoolPayload(id, cur, n))
      case PhysType.Bytes => decodeBytesPayload(id, cur, n)
      case PhysType.F32 | PhysType.F64 => decodeDoublePayload(id, phys, cur, n)
      case _ => LongsCol(decodeLongPayloadTyped(id, phys, cur, n), phys)
    } finally viewExit(ve)
  }

  /** Bounded random access into a chunk payload: decode a column slice
    * covering AT LEAST rows [from, until), returning (column, startRow) —
    * the caller maps row r to slice position r - startRow. Codecs with
    * intra-chunk seek structure (Huffman's per-256-row bit checkpoints,
    * reference HuffmanEncoding.h:41) decode a bounded window; everything
    * else falls back to the full chunk (startRow 0), which is what chunk
    * decode costs today — this is a fast path, never a semantic change. */
  def decodeValuesRange(cur: ByteCursor, from: Int, until: Int): (Column, Int) = {
    val save = cur.pos
    val id = cur.buf(cur.pos)
    if (id != HUFFMAN) { cur.pos = save; return (decodeColumn(cur), 0) }
    cur.readByte()
    val phys = cur.readByte().toByte
    val n = cur.readVarint().toInt
    if (phys == PhysType.Bool || phys == PhysType.Bytes ||
        phys == PhysType.F32 || phys == PhysType.F64 || until > n) {
      cur.pos = save; return (decodeColumn(cur), 0)
    }
    val nSym = cur.readVarint().toInt
    val alphabet = decodeValues(cur.readBlock()).asInstanceOf[LongsCol].values
    val lens = new Array[Int](nSym)
    var i = 0
    while (i < nSym) { lens(i) = cur.readByte(); i += 1 }
    // align the window start to the checkpoint grid so startRow is exact
    val f = (from / Huffman.CheckpointStride) * Huffman.CheckpointStride
    (LongsCol(Huffman.decodeRange(alphabet, lens, cur, n, f, until), phys), f)
  }

  private def header(sink: ByteSink, id: Byte, phys: Byte, n: Int): Unit = {
    sink.writeByte(id); sink.writeByte(phys); sink.writeVarint(n.toLong)
  }

  // ------------------------------------------------- positional decode

  /** Gather `positions` (strictly increasing) of a decoded column into a
    * dense column of positions.length rows. */
  def gather(c: Column, positions: Array[Int]): Column = {
    val k = positions.length
    def pickNulls(nulls: Array[Boolean]): Array[Boolean] =
      if (nulls == null) null
      else {
        val out = new Array[Boolean](k)
        var any = false
        var i = 0
        while (i < k) { out(i) = nulls(positions(i)); if (out(i)) any = true; i += 1 }
        if (any) out else null
      }
    c match {
      case lc: LongsCol =>
        val out = new Array[Long](k)
        var i = 0
        while (i < k) { out(i) = lc.values(positions(i)); i += 1 }
        LongsCol(out, lc.phys, pickNulls(lc.nulls))
      case dc: DoublesCol =>
        val out = new Array[Double](k)
        var i = 0
        while (i < k) { out(i) = dc.values(positions(i)); i += 1 }
        DoublesCol(out, dc.isFloat, pickNulls(dc.nulls))
      case bc: BoolsCol =>
        val out = new Array[Boolean](k)
        var i = 0
        while (i < k) { out(i) = bc.values(positions(i)); i += 1 }
        BoolsCol(out, pickNulls(bc.nulls))
      case other => // strings stay on the lazy/selection fill paths
        throw new UnsupportedOperationException(s"gather over ${other.getClass.getSimpleName}")
    }
  }

  /** Little-endian u64 read of up to 8 payload bytes at `from`, zero-padded
    * past `limit` (point reads at a packed stream's tail). */
  @inline private def wordAt(buf: Array[Byte], from: Int, limit: Int): Long = {
    var v = 0L
    var i = 0
    while (i < 8) {
      val p = from + i
      if (p < limit) v |= (buf(p) & 0xffL) << (i << 3)
      i += 1
    }
    v
  }

  /** Positional decode: materialize ONLY `positions` (strictly increasing
    * row indices, non-empty) of the chunk payload at `cur`, returning a
    * DENSE column of positions.length rows — or null when the payload has no
    * cheap random-access structure (caller decodes whole and gathers).
    * Reference: dwio/nimble/velox/selective/ColumnLoader.h:42 — under a
    * selective filter, late-ordered filter columns and projected numerics
    * materialize survivor positions only.
    *
    * Supported shapes: Const, Trivial (fixed stride), FOR (bit-packed
    * residuals admit O(1) point reads), optionally under a Nullable wrapper
    * (the null bitmap decodes whole — it is bit-cheap — and maps row
    * positions to value-stream indices). Bytes streams point-read under
    * Const/Trivial/Dict/Fsst (per-string independent decodability,
    * reference encodings/FsstEncoding.h:79) and PrefixR restart seeks
    * (reference encodings/PrefixEncoding.h:64); plain legacy Prefix (no
    * restart index) falls back. On null return `cur`
    * is restored; on success `cur`'s position is unspecified (chunk frames
    * advance at the [[Tablet.ChunkCursor]] level, not here). */
  def decodeValuesAt(cur: ByteCursor, positions: Array[Int]): Column = {
    val save = cur.pos
    val id0 = cur.buf(cur.pos)
    if (id0 == SENTINEL) {
      // in-band null sentinel: point-read the filled stream, map sentinel
      // hits back to nulls
      cur.readByte(); cur.readByte(); cur.readVarint()
      val sentinel = cur.readZigZag()
      decodeValuesAtFlat(cur.readBlock(), positions) match {
        case lc: LongsCol =>
          val k = positions.length
          val nulls = new Array[Boolean](k)
          val vals = lc.values
          var any = false
          var i = 0
          while (i < k) {
            if (vals(i) == sentinel) { nulls(i) = true; vals(i) = 0L; any = true }
            i += 1
          }
          return LongsCol(vals, lc.phys, if (any) nulls else null)
        case _ => cur.pos = save; return null
      }
    }
    if (id0 != NULLABLE) {
      val r = decodeValuesAtFlat(cur, positions)
      if (r == null) cur.pos = save
      return r
    }
    cur.readByte()
    cur.readByte() // phys rides on the inner block
    cur.readVarint()
    val isNull = decodeValues(cur.readBlock()).asInstanceOf[BoolsCol].values
    val k = positions.length
    val outNull = new Array[Boolean](k)
    val valPos = new Array[Int](k)
    var nn = 0 // non-null count over rows [0, row)
    var row = 0
    var sel = 0
    var pi = 0
    while (pi < k) {
      val p = positions(pi)
      while (row < p) { if (!isNull(row)) nn += 1; row += 1 }
      if (isNull(p)) outNull(pi) = true
      else { valPos(sel) = nn; sel += 1 }
      pi += 1
    }
    if (sel == 0) {
      // every selected row is null: type the dense column from the inner
      // block's header without decoding its values
      val innerCur = cur.readBlock()
      innerCur.readByte() // encoding id
      val innerPhys = innerCur.readByte().toByte
      return innerPhys match {
        case PhysType.F32 | PhysType.F64 =>
          DoublesCol(new Array[Double](k), innerPhys == PhysType.F32, outNull)
        case PhysType.Bool => BoolsCol(new Array[Boolean](k), outNull)
        case PhysType.Bytes => BytesCol(new Array[Int](k + 1), Array.emptyByteArray, outNull)
        case p => LongsCol(new Array[Long](k), p, outNull)
      }
    }
    val inner = decodeValuesAtFlat(cur.readBlock(), java.util.Arrays.copyOf(valPos, sel))
    if (inner == null) { cur.pos = save; return null }
    inner match {
      case lc: LongsCol =>
        val out = new Array[Long](k)
        var i = 0; var j = 0
        while (i < k) { if (!outNull(i)) { out(i) = lc.values(j); j += 1 }; i += 1 }
        LongsCol(out, lc.phys, outNull)
      case dc: DoublesCol =>
        val out = new Array[Double](k)
        var i = 0; var j = 0
        while (i < k) { if (!outNull(i)) { out(i) = dc.values(j); j += 1 }; i += 1 }
        DoublesCol(out, dc.isFloat, outNull)
      case bc: BoolsCol =>
        val out = new Array[Boolean](k)
        var i = 0; var j = 0
        while (i < k) { if (!outNull(i)) { out(i) = bc.values(j); j += 1 }; i += 1 }
        BoolsCol(out, outNull)
      case bc: BytesCol =>
        val offs = new Array[Int](k + 1)
        var i = 0; var j = 0
        while (i < k) {
          offs(i + 1) = offs(i) +
            (if (outNull(i)) 0 else bc.offsets(j + 1) - bc.offsets(j))
          if (!outNull(i)) j += 1
          i += 1
        }
        val bytes = new Array[Byte](offs(k))
        i = 0; j = 0
        while (i < k) {
          if (!outNull(i)) {
            System.arraycopy(bc.bytes, bc.offsets(j), bytes, offs(i), bc.offsets(j + 1) - bc.offsets(j))
            j += 1
          }
          i += 1
        }
        BytesCol(offs, bytes, outNull)
      case _ => cur.pos = save; null
    }
  }

  /** Integral long-backed phys — the domain where the long-payload point
    * readers apply (bools/bytes/floats route through other payload shapes). */
  @inline private def integralPhys(phys: Byte): Boolean =
    phys != PhysType.Bool && phys != PhysType.Bytes &&
      phys != PhysType.F32 && phys != PhysType.F64

  /** [[decodeValuesAt]] for a null-free value stream. */
  private def decodeValuesAtFlat(cur: ByteCursor, positions: Array[Int]): Column = {
    val save = cur.pos
    val id = cur.readByte().toByte
    val phys = cur.readByte().toByte
    val n = cur.readVarint().toInt
    val k = positions.length
    if (k > 0 && positions(k - 1) >= n) { cur.pos = save; return null }
    (id, phys) match {
      case (CONST, PhysType.Bool) =>
        val v = cur.readByte() == 1
        val out = new Array[Boolean](k)
        java.util.Arrays.fill(out, v)
        BoolsCol(out)
      case (CONST, PhysType.F32 | PhysType.F64) =>
        val b = cur.readLong()
        val v = if (phys == PhysType.F32) java.lang.Float.intBitsToFloat(b.toInt).toDouble
                else java.lang.Double.longBitsToDouble(b)
        val out = new Array[Double](k)
        java.util.Arrays.fill(out, v)
        DoublesCol(out, phys == PhysType.F32)
      case (CONST, PhysType.Bytes) =>
        val l = cur.readVarint().toInt
        val v = cur.readBytes(l)
        val offs = new Array[Int](k + 1)
        val bytes = new Array[Byte](l * k)
        var i = 0
        while (i < k) { System.arraycopy(v, 0, bytes, i * l, l); offs(i + 1) = (i + 1) * l; i += 1 }
        BytesCol(offs, bytes)
      case (CONST, _) =>
        val v = cur.readZigZag()
        val out = new Array[Long](k)
        java.util.Arrays.fill(out, v)
        LongsCol(out, phys)
      case (TRIVIAL, PhysType.F32 | PhysType.F64) =>
        val bb = java.nio.ByteBuffer.wrap(cur.buf, cur.pos, cur.end - cur.pos)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val out = new Array[Double](k)
        var i = 0
        if (phys == PhysType.F32)
          while (i < k) { out(i) = bb.getFloat(cur.pos + 4 * positions(i)).toDouble; i += 1 }
        else
          while (i < k) { out(i) = bb.getDouble(cur.pos + 8 * positions(i)); i += 1 }
        DoublesCol(out, phys == PhysType.F32)
      case (TRIVIAL, PhysType.I8 | PhysType.I16 | PhysType.I32 | PhysType.I64) =>
        val bb = java.nio.ByteBuffer.wrap(cur.buf, cur.pos, cur.end - cur.pos)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val out = new Array[Long](k)
        var i = 0
        phys match {
          case PhysType.I8 => while (i < k) { out(i) = bb.get(cur.pos + positions(i)).toLong; i += 1 }
          case PhysType.I16 => while (i < k) { out(i) = bb.getShort(cur.pos + 2 * positions(i)).toLong; i += 1 }
          case PhysType.I32 => while (i < k) { out(i) = bb.getInt(cur.pos + 4 * positions(i)).toLong; i += 1 }
          case _ => while (i < k) { out(i) = bb.getLong(cur.pos + 8 * positions(i)); i += 1 }
        }
        LongsCol(out, phys)
      case (FOR, _) if integralPhys(phys) =>
        val baseline = cur.readZigZag()
        val w = cur.readByte()
        val limit = cur.pos + ((n.toLong * w + 7) / 8).toInt
        val mask = if (w == 64) -1L else (1L << w) - 1L
        val out = new Array[Long](k)
        var i = 0
        while (i < k) {
          val bitOff = positions(i).toLong * w
          val byteOff = cur.pos + (bitOff >>> 3).toInt
          val sh = (bitOff & 7).toInt
          var v = wordAt(cur.buf, byteOff, limit) >>> sh
          if (sh + w > 64) v |= wordAt(cur.buf, byteOff + 8, limit) << (64 - sh)
          out(i) = (v & mask) + baseline
          i += 1
        }
        LongsCol(out, phys)
      case (SIMDFOR, _) if integralPhys(phys) =>
        // lane-vertical blocks admit O(1) point reads: value j of block b
        // lives in lane j%8 at in-lane position j/8 (SimdBitpack layout) —
        // word index r*8+lane at bit (j/8)*w % 64 inside the lane
        val base = cur.readZigZag()
        val w = cur.readByte()
        val mask = if (w == 64) -1L else (1L << w) - 1L
        val dataStart = cur.pos
        val nFull = n / 512
        val tailStart = dataStart + (nFull.toLong * 64L * w).toInt
        val tailBits = (n - nFull * 512).toLong * w
        val limit = tailStart + ((tailBits + 7) / 8).toInt
        val out = new Array[Long](k)
        var i = 0
        while (i < k) {
          val p = positions(i)
          val b = p >>> 9
          var v = 0L
          if (b < nFull) {
            val j = p & 511
            val lane = j & 7
            val bit = (j >>> 3) * w
            val r = bit >>> 6
            val sh = bit & 63
            val blockStart = dataStart + (b.toLong * 64L * w).toInt
            v = wordAt(cur.buf, blockStart + (r * 8 + lane) * 8, tailStart) >>> sh
            if (sh + w > 64)
              v |= wordAt(cur.buf, blockStart + ((r + 1) * 8 + lane) * 8, tailStart) << (64 - sh)
          } else {
            val bitOff = (p - nFull * 512).toLong * w
            val byteOff = tailStart + (bitOff >>> 3).toInt
            val sh = (bitOff & 7).toInt
            v = wordAt(cur.buf, byteOff, limit) >>> sh
            if (sh + w > 64) v |= wordAt(cur.buf, byteOff + 8, limit) << (64 - sh)
          }
          out(i) = (v & mask) + base
          i += 1
        }
        LongsCol(out, phys)
      case (RLE, _) if integralPhys(phys) =>
        // the stored run lengths ARE the boundary index: decode the two
        // (tiny — runCount <= n/3 by the plan gate) sub-blocks and serve
        // positions with a single forward merge, never materializing n rows
        val lens = decodeValues(cur.readBlock()).asInstanceOf[LongsCol].values
        val vals = decodeValues(cur.readBlock()).asInstanceOf[LongsCol].values
        val out = new Array[Long](k)
        var r = 0
        var runEnd = if (lens.length > 0) lens(0) else 0L
        var i = 0
        while (i < k) {
          val p = positions(i).toLong
          while (p >= runEnd) { r += 1; runEnd += lens(r) }
          out(i) = vals(r)
          i += 1
        }
        LongsCol(out, phys)
      case (DICT, _) if integralPhys(phys) =>
        // alphabet decodes whole (<= n/3 entries); indices point-read
        // recursively (they are typically FOR/SIMDFOR-packed), falling back
        // to a full index decode + gather — either way only k values map
        val alphabet = decodeValues(cur.readBlock()).asInstanceOf[LongsCol].values
        val idxBlk = cur.readBlock()
        val idx: Array[Long] =
          decodeValuesAtFlat(new ByteCursor(idxBlk.buf, idxBlk.pos, idxBlk.end), positions) match {
            case lc: LongsCol => lc.values
            case _ =>
              val full = decodeValues(new ByteCursor(idxBlk.buf, idxBlk.pos, idxBlk.end))
                .asInstanceOf[LongsCol].values
              val g = new Array[Long](k)
              var i = 0
              while (i < k) { g(i) = full(positions(i)); i += 1 }
              g
          }
        val out = new Array[Long](k)
        var i = 0
        while (i < k) { out(i) = alphabet(idx(i).toInt); i += 1 }
        LongsCol(out, phys)
      case (DELTABLOCK, _) if integralPhys(phys) =>
        // per-block checkpoints + fixed-size packed deltas: blocks without
        // selected positions skip in O(1); a touched block decodes only the
        // delta prefix up to its deepest selected position
        val bsz = cur.readVarint().toInt
        val checkpoints = decodeValues(cur.readBlock()).asInstanceOf[LongsCol].values
        val out = new Array[Long](k)
        var b = 0
        var blk = 0
        var pi = 0
        while (b < n && pi < k) {
          val e = math.min(b + bsz, n)
          val bw = cur.readByte()
          val nBytes = (((e - b - 1).toLong * bw + 7) / 8).toInt
          if (pi < k && positions(pi) < e) {
            var maxPos = positions(pi)
            var t = pi + 1
            while (t < k && positions(t) < e) { maxPos = positions(t); t += 1 }
            var acc = checkpoints(blk)
            val need = maxPos - b
            val deltas = if (need > 0) unpackBits(cur.buf, cur.pos, 0L, bw, need) else null
            var p = b
            var di = 0
            while (pi < k && positions(pi) < e) {
              val target = positions(pi)
              while (p < target) { acc += deltas(di); di += 1; p += 1 }
              out(pi) = acc
              pi += 1
            }
          }
          cur.pos += nBytes
          blk += 1
          b = e
        }
        LongsCol(out, phys)
      case (DELTA, _) if integralPhys(phys) =>
        // only chunks written with the r14 checkpoint tail seek; legacy
        // payloads (no bytes after the deltas block) fall back to bulk
        val first = cur.readZigZag()
        val deltasBlk = cur.readBlock()
        if (cur.pos >= cur.end) { cur.pos = save; return null }
        val cps = decodeValues(cur.readBlock()).asInstanceOf[LongsCol].values
        val C = DeltaCheckpointStride
        val out = new Array[Long](k)
        var i = 0
        while (i < k) {
          val seg = positions(i) / C
          var end = i + 1
          while (end < k && positions(end) / C == seg) end += 1
          val segStart = seg * C
          val base = if (seg == 0) first else cps(seg - 1)
          val maxPos = positions(end - 1)
          if (maxPos == segStart) out(i) = base
          else {
            // deltas [segStart, maxPos) point-read from the (null-free)
            // inner block once per touched segment, then prefix-summed
            val cnt = maxPos - segStart
            val dpos = new Array[Int](cnt)
            var d = 0
            while (d < cnt) { dpos(d) = segStart + d; d += 1 }
            val dcol = decodeValuesAtFlat(
              new ByteCursor(deltasBlk.buf, deltasBlk.pos, deltasBlk.end), dpos)
            if (dcol == null) { cur.pos = save; return null }
            val dv = dcol.asInstanceOf[LongsCol].values
            var acc = base
            var p = segStart
            var di = 0
            var t = i
            while (t < end) {
              val target = positions(t)
              while (p < target) { acc += dv(di); di += 1; p += 1 }
              out(t) = acc
              t += 1
            }
          }
          i = end
        }
        LongsCol(out, phys)
      case (SUBINT, _) if integralPhys(phys) =>
        // hi/lo bit-range split: point-read both sub-streams at the same
        // positions and recombine — fully recursive seekability
        val kk = cur.readByte()
        val hiBlk = cur.readBlock()
        val loBlk = cur.readBlock()
        val hi = decodeValuesAtFlat(
          new ByteCursor(hiBlk.buf, hiBlk.pos, hiBlk.end), positions)
        if (hi == null) { cur.pos = save; return null }
        val lo = decodeValuesAtFlat(
          new ByteCursor(loBlk.buf, loBlk.pos, loBlk.end), positions)
        if (lo == null) { cur.pos = save; return null }
        val hv = hi.asInstanceOf[LongsCol].values
        val lv = lo.asInstanceOf[LongsCol].values
        val out = new Array[Long](k)
        var i = 0
        while (i < k) { out(i) = (hv(i) << kk) | lv(i); i += 1 }
        LongsCol(out, phys)
      case (PFOR, _) if integralPhys(phys) =>
        // fixed-width packed lows admit O(1) reads; the (sorted, <= n/8)
        // exception positions/highs decode whole and merge forward
        val baseline = cur.readZigZag()
        val w = cur.readByte()
        val lowsStart = cur.pos
        val nBytes = ((n.toLong * w + 7) / 8).toInt
        val limit = lowsStart + nBytes
        cur.pos = limit
        val pos = decodeValues(cur.readBlock()).asInstanceOf[LongsCol].values
        val highs = decodeValues(cur.readBlock()).asInstanceOf[LongsCol].values
        val mask = if (w == 64) -1L else (1L << w) - 1L
        val out = new Array[Long](k)
        var ei = 0
        var i = 0
        while (i < k) {
          val p = positions(i)
          val bitOff = p.toLong * w
          val byteOff = lowsStart + (bitOff >>> 3).toInt
          val sh = (bitOff & 7).toInt
          var v = wordAt(cur.buf, byteOff, limit) >>> sh
          if (sh + w > 64) v |= wordAt(cur.buf, byteOff + 8, limit) << (64 - sh)
          var low = v & mask
          while (ei < pos.length && pos(ei) < p) ei += 1
          if (ei < pos.length && pos(ei) == p) low |= highs(ei) << w
          out(i) = baseline + low
          i += 1
        }
        LongsCol(out, phys)
      case (BLOCKBP, _) if integralPhys(phys) =>
        // per-block baseline + width: untouched blocks skip in O(1) from
        // their header; touched blocks serve O(1) bit reads
        val bsz = cur.readVarint().toInt
        val out = new Array[Long](k)
        var b = 0
        var pi = 0
        while (b < n && pi < k) {
          val e = math.min(b + bsz, n)
          val bw = cur.readByte()
          if (bw == 64) {
            while (pi < k && positions(pi) < e) {
              out(pi) = wordAt(cur.buf, cur.pos + 8 * (positions(pi) - b), cur.end)
              pi += 1
            }
            cur.pos += 8 * (e - b)
          } else {
            val baseline = cur.readZigZag()
            val nb = (((e - b).toLong * bw + 7) / 8).toInt
            val limit = cur.pos + nb
            val mask = if (bw == 64) -1L else (1L << bw) - 1L
            while (pi < k && positions(pi) < e) {
              val bitOff = (positions(pi) - b).toLong * bw
              val byteOff = cur.pos + (bitOff >>> 3).toInt
              val sh = (bitOff & 7).toInt
              var v = wordAt(cur.buf, byteOff, limit) >>> sh
              if (sh + bw > 64) v |= wordAt(cur.buf, byteOff + 8, limit) << (64 - sh)
              out(pi) = (v & mask) + baseline
              pi += 1
            }
            cur.pos = limit
          }
          b = e
        }
        LongsCol(out, phys)
      case (MAINLYCONST, _) if integralPhys(phys) =>
        // bitmap rank: the isCommon bools decode (bit-cheap), exceptions
        // (minority by the plan gate) decode whole, selected rows map via a
        // forward rank scan — no n-length value array materializes
        val common = cur.readZigZag()
        val isCommon = decodeValues(cur.readBlock()).asInstanceOf[BoolsCol].values
        val others = decodeValues(cur.readBlock()).asInstanceOf[LongsCol].values
        val out = new Array[Long](k)
        var rank = 0 // exceptions in rows [0, scan)
        var scan = 0
        var i = 0
        while (i < k) {
          val p = positions(i)
          while (scan < p) { if (!isCommon(scan)) rank += 1; scan += 1 }
          out(i) = if (isCommon(p)) common else others(rank)
          i += 1
        }
        LongsCol(out, phys)
      case (HUFFMAN, _) if integralPhys(phys) =>
        // checkpointed code stream: one bounded window per touched 256-row
        // segment (Huffman.decodeAt); legacy no-checkpoint payloads decline
        val nSym = cur.readVarint().toInt
        val alphabet = decodeValues(cur.readBlock()).asInstanceOf[LongsCol].values
        val lens = new Array[Int](nSym)
        var si = 0
        while (si < nSym) { lens(si) = cur.readByte(); si += 1 }
        val vals = Huffman.decodeAt(alphabet, lens, cur, n, positions)
        if (vals == null) { cur.pos = save; return null }
        LongsCol(vals, phys)
      case (ALP, PhysType.F32 | PhysType.F64) =>
        // v2 ALP: point-read the nested long stream, reconstruct with the
        // chunk's (e, f), then patch selected rows that sit in the (sorted,
        // minority) exception streams; ALP-lite legacy payloads decline
        val isFloat = phys == PhysType.F32
        if (cur.readByte() != AlpV2Marker) { cur.pos = save; return null }
        val e = cur.readByte()
        val f = cur.readByte()
        val excCount = cur.readVarint().toInt
        val encBlk = cur.readBlock()
        val inner = decodeValuesAtFlat(
          new ByteCursor(encBlk.buf, encBlk.pos, encBlk.end), positions)
        if (inner == null) { cur.pos = save; return null }
        val enc = inner.asInstanceOf[LongsCol].values
        val out = new Array[Double](k)
        val pe = AlpPow10(e)
        val pf = AlpPow10(f)
        var i = 0
        if (isFloat) while (i < k) { out(i) = (enc(i).toDouble * pf / pe).toFloat.toDouble; i += 1 }
        else while (i < k) { out(i) = enc(i).toDouble * pf / pe; i += 1 }
        if (excCount > 0) {
          val pos = decodeValues(cur.readBlock()).asInstanceOf[LongsCol].values
          val vb = decodeValues(cur.readBlock()).asInstanceOf[LongsCol].values
          var ei = 0
          i = 0
          while (i < k) {
            val p = positions(i)
            while (ei < pos.length && pos(ei) < p) ei += 1
            if (ei < pos.length && pos(ei) == p)
              out(i) =
                if (isFloat) java.lang.Float.intBitsToFloat(vb(ei).toInt).toDouble
                else java.lang.Double.longBitsToDouble(vb(ei))
            i += 1
          }
        }
        DoublesCol(out, isFloat)
      case (DICT, PhysType.F32 | PhysType.F64) =>
        // doubles dictionary: bit-cast alphabet decodes whole, indices
        // point-read recursively
        val isFloat = phys == PhysType.F32
        val alphabet = decodeValues(cur.readBlock()).asInstanceOf[LongsCol].values
        val idxBlk = cur.readBlock()
        val idx: Array[Long] =
          decodeValuesAtFlat(new ByteCursor(idxBlk.buf, idxBlk.pos, idxBlk.end), positions) match {
            case lc: LongsCol => lc.values
            case _ =>
              val full = decodeValues(new ByteCursor(idxBlk.buf, idxBlk.pos, idxBlk.end))
                .asInstanceOf[LongsCol].values
              val g = new Array[Long](k)
              var j = 0
              while (j < k) { g(j) = full(positions(j)); j += 1 }
              g
          }
        val out = new Array[Double](k)
        var i = 0
        if (isFloat)
          while (i < k) { out(i) = java.lang.Float.intBitsToFloat(alphabet(idx(i).toInt).toInt).toDouble; i += 1 }
        else
          while (i < k) { out(i) = java.lang.Double.longBitsToDouble(alphabet(idx(i).toInt)); i += 1 }
        DoublesCol(out, isFloat)
      case (TRIVIAL, PhysType.Bytes) =>
        // lengths decode whole (an integer sub-stream — cheap next to byte
        // copying); only the SELECTED strings' bytes leave the payload
        val lengths = decodeValues(cur.readBlock()).asInstanceOf[LongsCol].values
        cur.readVarint() // total byte length
        val offs = new Array[Int](k + 1)
        var i = 0
        while (i < k) { offs(i + 1) = offs(i) + lengths(positions(i)).toInt; i += 1 }
        val out = new Array[Byte](offs(k))
        var srcOff = cur.pos
        var row = 0
        i = 0
        while (i < k) {
          val p = positions(i)
          while (row < p) { srcOff += lengths(row).toInt; row += 1 }
          System.arraycopy(cur.buf, srcOff, out, offs(i), lengths(p).toInt)
          i += 1
        }
        BytesCol(offs, out)
      case (FSST, PhysType.Bytes) =>
        // every string is independently decodable (reference:
        // encodings/FsstEncoding.h:79 random access): encoded lengths decode
        // whole, then ONLY the selected strings run the symbol expansion
        val symbols = Fsst.readTable(cur)
        val encLens = decodeValues(cur.readBlock()).asInstanceOf[LongsCol].values
        cur.readVarint() // total encoded length
        val out = new ByteSink(256)
        val offs = new Array[Int](k + 1)
        var srcOff = cur.pos
        var row = 0
        var i = 0
        while (i < k) {
          val p = positions(i)
          while (row < p) { srcOff += encLens(row).toInt; row += 1 }
          offs(i + 1) = offs(i) + Fsst.decode(symbols, cur.buf, srcOff, srcOff + encLens(p).toInt, out)
          i += 1
        }
        Fsst.decodedStrings.add(k.toLong)
        BytesCol(offs, out.toArray)
      case (DICT, PhysType.Bytes) =>
        // alphabet decodes whole (bounded by chunk NDV), indices point-read
        // recursively; only the selected entries materialize bytes
        val alphabet = decodeValues(cur.readBlock()).asInstanceOf[BytesCol]
        val idxBlk = cur.readBlock()
        val idx: Array[Long] =
          decodeValuesAtFlat(new ByteCursor(idxBlk.buf, idxBlk.pos, idxBlk.end), positions) match {
            case lc: LongsCol => lc.values
            case _ =>
              val full = decodeValues(new ByteCursor(idxBlk.buf, idxBlk.pos, idxBlk.end))
                .asInstanceOf[LongsCol].values
              val g = new Array[Long](k)
              var j = 0
              while (j < k) { g(j) = full(positions(j)); j += 1 }
              g
          }
        val offs = new Array[Int](k + 1)
        var i = 0
        while (i < k) {
          val a = idx(i).toInt
          offs(i + 1) = offs(i) + (alphabet.offsets(a + 1) - alphabet.offsets(a))
          i += 1
        }
        val bytes = new Array[Byte](offs(k))
        i = 0
        while (i < k) {
          val a = idx(i).toInt
          System.arraycopy(alphabet.bytes, alphabet.offsets(a), bytes, offs(i),
            alphabet.offsets(a + 1) - alphabet.offsets(a))
          i += 1
        }
        BytesCol(offs, bytes)
      case (PREFIXR, PhysType.Bytes) =>
        // restart-point seek (reference: encodings/PrefixEncoding.h:64): each
        // selected position front-decodes at most `stride` triples from its
        // restart; consecutive positions in one restart group share the walk
        val stride = cur.readVarint().toInt
        val restarts = decodeValues(cur.readBlock()).asInstanceOf[LongsCol].values
        cur.readVarint() // triples length
        val base = cur.pos
        val tc = new ByteCursor(cur.buf, base, cur.end)
        var prev = new Array[Byte](64)
        var prevLen = 0
        var nextRow = 0 // row the triple cursor is about to read
        val out = new ByteSink(256)
        val offs = new Array[Int](k + 1)
        var i = 0
        while (i < k) {
          val p = positions(i)
          val g = p / stride
          if (g * stride >= nextRow) {
            // jumping to the restart skips rows the walk would pay for
            tc.pos = base + restarts(g).toInt
            nextRow = g * stride
            prevLen = 0
          }
          while (nextRow <= p) {
            val common = tc.readVarint().toInt
            val sufLen = tc.readVarint().toInt
            val newLen = common + sufLen
            if (newLen > prev.length)
              prev = java.util.Arrays.copyOf(prev, math.max(newLen, prev.length * 2))
            System.arraycopy(tc.buf, tc.pos, prev, common, sufLen)
            tc.pos += sufLen
            prevLen = newLen
            nextRow += 1
          }
          out.writeBytes(prev, 0, prevLen)
          offs(i + 1) = offs(i) + prevLen
          i += 1
        }
        BytesCol(offs, out.toArray)
      case _ => cur.pos = save; null
    }
  }

  // ---------------------------------------------------------------- longs

  private[format] final class LongStats(values: Array[Long]) {
    val n = values.length
    // Every field is assigned ONCE from constructor locals: with `var` fields
    // updated inside the scan loops the JIT kept them as memory stores
    // through `this` and the stats pass cost ~215 ns/element; on locals it
    // costs ~7 ns/element (measured at 16K rows, the writer chunk size).
    // This pass runs at every encodeLongs recursion level, so it dominated
    // write throughput.
    var min = 0L
    var max = 0L
    var runCount = 1
    var dMin = Long.MaxValue // delta stats
    var dMax = Long.MinValue
    var deltaOverflow = false
    var varintBytes = 0L // exact size of the Varint candidate
    // Boyer-Moore majority candidate: finds the mode whenever its frequency
    // exceeds n/2, independent of cardinality — keeps MainlyConstant eligible
    // on high-cardinality streams where `distinct` hits its cap (a 95%-common
    // value among otherwise-unique values is exactly MainlyConstant's case).
    // The candidate rides the main pass; the exact-count pass and the
    // cardinality pass are LAZY — a replay-locked encode that never consults
    // the MainlyConstant/Dictionary gates skips both O(n) passes (and the
    // boxed distinct-map fill, the single most expensive stat), computed on
    // first access with identical results otherwise.
    private var bmCandidate = 0L
    private var bmCount = 0
    locally {
      var mn = Long.MaxValue
      var mx = Long.MinValue
      var rc = 1
      var dmn = Long.MaxValue
      var dmx = Long.MinValue
      var dovf = false
      var vb = 0L
      var bmCandidate0 = 0L
      var bmCount0 = 0
      var prev = 0L
      var i = 0
      while (i < n) {
        val v = values(i)
        if (v < mn) mn = v
        if (v > mx) mx = v
        val zz = (v << 1) ^ (v >> 63)
        vb += (if (zz == 0) 1 else (70 - java.lang.Long.numberOfLeadingZeros(zz)) / 7)
        if (bmCount0 == 0) { bmCandidate0 = v; bmCount0 = 1 }
        else if (v == bmCandidate0) bmCount0 += 1
        else bmCount0 -= 1
        if (i > 0) {
          if (v != prev) rc += 1
          val d = v - prev
          // detect overflow of (v - prev)
          if (((v ^ prev) & (v ^ d)) < 0) dovf = true
          if (d < dmn) dmn = d
          if (d > dmx) dmx = d
        }
        prev = v
        i += 1
      }
      if (n == 0) { mn = 0L; mx = 0L }
      min = mn; max = mx; runCount = rc
      dMin = dmn; dMax = dmx; deltaOverflow = dovf; varintBytes = vb
      bmCandidate = bmCandidate0; bmCount = bmCount0
    }

    // exact frequency of the majority candidate (lazy second O(n) pass)
    private var modeDone = false
    private var _modeVal = 0L
    private var _modeFreq = 0
    private def ensureMode(): Unit = if (!modeDone) {
      modeDone = true
      if (n > 0 && bmCount > 0) {
        val cand = bmCandidate
        var c = 0
        var i = 0
        while (i < n) { if (values(i) == cand) c += 1; i += 1 }
        _modeVal = cand
        _modeFreq = c
      }
    }
    def modeVal: Long = { ensureMode(); _modeVal }
    def modeFreq: Int = { ensureMode(); _modeFreq }

    // cardinality pass (lazy): array counts for narrow ranges, open-
    // addressing long table otherwise — no boxed HashMap ops on the hot path
    // (the boxed updateWith cost ~100 ns/element on wide-range columns)
    private var cardDone = false
    private val _distinct = new mutable.HashMap[Long, Int]()
    private var _capped = false
    def distinct: mutable.HashMap[Long, Int] = { ensureCard(); _distinct }
    def distinctCapped: Boolean = { ensureCard(); _capped }
    private def ensureCard(): Unit = if (!cardDone) {
      cardDone = true
      val mn = min
      val mx = max
      val distinct = _distinct
      var i = 0
      if (n > 0 && !rangeOverflow && mx - mn <= 65536) {
        val counts = new Array[Int]((mx - mn).toInt + 1)
        i = 0
        while (i < n) { counts((values(i) - mn).toInt) += 1; i += 1 }
        i = 0
        while (i < counts.length) {
          if (counts(i) > 0) distinct((mn + i)) = counts(i)
          i += 1
        }
      } else if (n > 0) {
        // table sized to the chunk, power of two, >= 4x n for a low load
        // factor: distinct <= n, and the 4096 cap can only trigger when
        // n >= 4096 — where the full 16384 table is kept, so the cap
        // semantics (and every downstream decision) are unchanged. The flat
        // 16384 table cost a 192 KB allocation+zero PER CHUNK, which
        // dominated wide-flatmap writes (~330-value per-key chunks, double
        // bits -> wide range -> always this branch).
        val capacity = {
          var c = 64
          val want = math.min(16384, 4 * n)
          while (c < want) c <<= 1
          c
        }
        val mask = capacity - 1
        val keys = new Array[Long](capacity)
        val cnts = new Array[Int](capacity)
        var sz = 0
        var capped = false
        i = 0
        while (i < n && !capped) {
          val v = values(i)
          var h = java.lang.Long.hashCode(v * -7046029254386353131L) & mask
          var placed = false
          while (!placed) {
            if (cnts(h) == 0) {
              if (sz >= 4096) { capped = true; placed = true }
              else { keys(h) = v; cnts(h) = 1; sz += 1; placed = true }
            } else if (keys(h) == v) { cnts(h) += 1; placed = true }
            else h = (h + 1) & mask
          }
          i += 1
        }
        _capped = capped
        if (!capped) {
          i = 0
          while (i < capacity) { if (cnts(i) > 0) distinct(keys(i)) = cnts(i); i += 1 }
        }
      }
    }
    def rangeOverflow: Boolean = (max >= 0 && min < max - Long.MaxValue)
  }

  private def bitsFor(range: Long): Int =
    if (range == 0) 1 else 64 - java.lang.Long.numberOfLeadingZeros(range)

  // ------------------------------------------------ selection thresholds
  // One cost model picks every chunk's codec (the reference's
  // ManualEncodingSelectionPolicy): each gated candidate gets an analytic
  // size estimate, the best one or two by `estimate x readFactor` are
  // encoded, and emitBest keeps the cheaper. The constants below are the
  // trained shortcuts on top of it (the learned half of the reference's
  // encodings/selection/EncodingSelectionPolicy.h:339): each skips only work
  // that never changed the emitted bytes on the training corpora. They are
  // frozen; CodecsSpec's drift arms (production vs [[withReferenceSearch]])
  // and its digest pin guard them. The offline trainer that derived them is
  // `git show a655c18:src/main/scala/graft/tools/GateTrainer.scala`
  // (COVERAGE.md §2.5); re-derive after any cost-model or codec change.

  private final val SkipPfor = 1
  private final val SkipBlockBp = 2
  private final val SkipSubint = 4

  /** Estimation passes skipped by the trained pre-filter since JVM start
    * (observability for the write-throughput contract test). */
  val estimationSkips = new java.util.concurrent.atomic.AtomicLong()

  /** Candidate searches that exact-encoded ONLY the estimate-ranked top-1
    * (the trained ranking margin fired) since JVM start. */
  val singleEncodes = new java.util.concurrent.atomic.AtomicLong()

  /** TRAINED top-1 ranking margin (trainer part 3 — the ranking half of the
    * reference's EncodingSelectionPolicy.h:339): when the best candidate's
    * read-factor-adjusted size estimate sits under this fraction of the
    * runner-up's, the runner-up is never exact-encoded. Derived as the
    * midpoint between the largest flip-free estimate ratio and the smallest
    * ratio at which the exact winner was EVER the runner-up on the trace
    * corpus (so corpus chunks emit byte-identical output); floored at the
    * hand-set 0.75 it replaces. */
  private final val Top1RatioMax = 0.75

  /** TRAINED per-pair margins overriding [[Top1RatioMax]] for specific
    * (estimate-rank-0, estimate-rank-1) candidate pairs: some pairs rank on
    * near-exact size estimates and never flip even at ratios close to 1,
    * while the composite-codec pairs flip down to ~0.32 and keep the
    * conservative default. Keys are `(id0 << 8) | id1`; margin pinned
    * midway below each pair's first observed flip.
    *
    * Trained r16 (trainer part 3): 1132 labeled searches over corpus +
    * bench-grid + the ranking extension (nine seeds x two sizes; min
    * support 12). Three r16 rule changes:
    * (1) pairs where BOTH estimates are exact ([[exactSizeEstimate]])
    * bypass the margin entirely — 417 of the 1132 searches single-encode by
    * proof, so they no longer appear in the table; (2) flips BELOW the
    * production default are recognized as already-accepted single-encode
    * losses (the default margin emits identical bytes either way), so
    * margin safety requires flip-freedom only in [default, margin) — this
    * unlocked SUBINT/TRIVIAL, whose 12 flips all sit below the 0.75 default
    * (down to ratio 0.32) while its 42 in-band samples never flip; (3) a
    * margin must be backed by observed flip-free ratios INSIDE the band it
    * opens (HUFFMAN/DICT, whose every sample flips below the default,
    * trains no override).
    * This table leaves encoded sizes BYTE-IDENTICAL on every trainer shape
    * while labeled single-encodes rise 806 -> 1009 of 1132 (production set:
    * 541 of 597 searches single-encode, was 500). The remaining 123 labeled
    * doubles are dominated by pairs with OBSERVED in-band flips —
    * DELTABLOCK/DELTA (44 flips in 0.91..0.98), HUFFMAN/PFOR (20 in
    * 0.75..0.999), FOR/DELTA (8) — where the second encode is the decision
    * procedure: skipping it changes bytes by construction, a permanent
    * decline documented in COVERAGE §2.5. */
  private final val DefaultTop1PairMax: Map[Int, Double] = Map(
    pairKey(TRIVIAL, HUFFMAN) -> 0.9717,
    pairKey(TRIVIAL, DELTABLOCK) -> 0.9210,
    pairKey(DICT, FREQPART) -> 0.9793,
    pairKey(DELTA, SIMDFOR) -> 0.9949,
    pairKey(DELTA, FOR) -> 0.9950,
    pairKey(MAINLYCONST, HUFFMAN) -> 0.9730,
    pairKey(PFOR, VARINT) -> 0.9016,
    pairKey(SIMDFOR, BLOCKBP) -> 0.9950,
    pairKey(BLOCKBP, TRIVIAL) -> 0.9476,
    pairKey(SUBINT, TRIVIAL) -> 0.9950,
    pairKey(FOR, DELTA) -> 0.8892,
    pairKey(HUFFMAN, SIMDFOR) -> 0.9938,
    pairKey(DELTABLOCK, TRIVIAL) -> 0.9950,
    pairKey(DELTABLOCK, DELTA) -> 0.9095)
  @inline private def pairKey(a: Byte, b: Byte): Int = ((a & 0xff) << 8) | (b & 0xff)

  /** Ids whose planner size estimate is EXACT — estimate == emitted payload
    * byte count. TRIVIAL: raw little-endian values (n x width). FOR/SIMDFOR:
    * zigzag baseline + width byte + ceil-packed residuals (r15 exact
    * estimates). VARINT: the stats pass sums every value's zigzag varint
    * length. For a pair of exact ids the estimate ranking IS the exact-size
    * ranking (same readFactor weighting as emitBest), so double-encoding
    * them can never flip the winner. */
  @inline private def exactSizeEstimate(id: Byte): Boolean =
    id == TRIVIAL || id == FOR || id == SIMDFOR || id == VARINT

  /** Set on a thread for the extent of [[withReferenceSearch]]. */
  private val referenceSearch =
    ThreadLocal.withInitial[java.lang.Boolean](() => java.lang.Boolean.FALSE)

  /** Runs `f` with the reference search on the calling thread (other
    * threads keep the production path): no estimation pre-filter, no bytes
    * candidate gates, no FSST estimate-skip and no per-pair margins. The
    * global [[Top1RatioMax]] margin and the exact-pair bypass stay. The
    * drift specs compare production output against it. */
  private[graft] def withReferenceSearch[T](f: => T): T = {
    val prev = referenceSearch.get()
    referenceSearch.set(java.lang.Boolean.TRUE)
    try f finally referenceSearch.set(prev)
  }

  /** TRAINED estimation pre-filter thresholds (trainer part 2). Each
    * feature is a sampled cost-ratio proxy of the family vs plain FOR
    * ([[estimationFeatures]]); a family whose proxy sits ABOVE its
    * threshold was never in the exact-encode top-2 on any corpus chunk (any
    * recursion depth), margin-pinned. Skipping only ever DROPS a candidate,
    * so the worst outcome on shapes outside the training corpus is a
    * slightly larger chunk — never a decode change. */
  private final val PforRatioMax = 0.9040
  private final val BlockRatioMax = 0.8906
  private final val SubintRatioMax = 0.8762

  /** TRAINED bytes-candidate pre-filter thresholds (trainer part 4 — r15).
    * Strings are where selection is expensive: every surviving candidate
    * FULLY encodes. Each threshold gates one candidate's O(n) /
    * O(totalBytes) build pass behind a bounded sampled feature, pinned so a
    * skipped candidate was never the emitBest WINNER on any bytes-corpus
    * chunk (skipping a non-winner provably never changes output bytes):
    * - prefix: skip the full shared-prefix scan when the sampled
    *   consecutive-pair shared fraction sits BELOW PrefixSharedMin;
    * - dict: skip the full hash pass when the sampled strided distinct
    *   fraction sits ABOVE DictDistinctMax (the pass self-caps at n/3
    *   anyway — this avoids paying the hashing to find out);
    * - fsst: skip table training when the sampled distinct-4-gram fraction
    *   sits ABOVE FsstGram4Max (FSST pays only on repeated substrings).
    * Trained r15 over 144 bytes-corpus chunks, 171 encode invocations
    * traced at every recursion level (DICT alphabets front-code — top-level
    * winner bounds alone would drift); with these thresholds the corpus
    * re-encodes BYTE-IDENTICAL while skipping 96 prefix scans, 126 dict
    * hash passes, 40 FSST trainings and 100 trivial memcpys. */
  private final val PrefixSharedMin = 0.2176
  private final val DictDistinctMax = 0.9531
  private final val FsstGram4Max = 0.9958 // r15 strided retrain
  /** FSST estimate-skip margin (trainer part 4's drift search): after the
    * table trains and the sample compresses, the FULL per-string encode —
    * the single most expensive candidate pass — is skipped when an
    * already-built candidate's cost beats `margin x estimated FSST size`
    * (table bytes + sampled ratio x payload; the lengths block is omitted,
    * UNDERestimating the size, so the skip errs toward building). Trained
    * r15: the drift search found the WHOLE grid (0.5..0.99) byte-identical
    * on the corpus — the underestimate plus real winner gaps leave wide
    * headroom — and 0.99 skips 76 of the corpus's eligible full encodes. */
  private final val FsstEstSkipMax = 0.99
  /** Candidate build passes skipped by the bytes pre-filter (observability
    * + spec contract that the gates really fire). */
  val bytesPrefixSkips = new java.util.concurrent.atomic.AtomicLong()
  val bytesDictSkips = new java.util.concurrent.atomic.AtomicLong()
  val bytesFsstSkips = new java.util.concurrent.atomic.AtomicLong()
  val bytesTrivialSkips = new java.util.concurrent.atomic.AtomicLong()

  /** Sampled consecutive-pair shared-prefix fraction over <= 256 strided
    * pairs: estimates the full scan's `shared / totalBytes` gate input. */
  private def sampledPrefixShared(col: BytesCol): Double = {
    val n = col.len
    if (n < 2) return 0.0
    val pairs = math.min(n - 1, 256)
    // ceil division: floor overshot the documented cap by up to 2x at
    // n just above a multiple of the cap
    val step = math.max(1, (n - 2 + pairs) / pairs)
    var shared = 0L
    var secondBytes = 0L
    var j = 0
    while (j < n - 1) {
      val aOff = col.offsets(j); val aLen = col.offsets(j + 1) - aOff
      val bOff = col.offsets(j + 1); val bLen = col.offsets(j + 2) - bOff
      var k = 0
      val m = math.min(aLen, bLen)
      while (k < m && col.bytes(aOff + k) == col.bytes(bOff + k)) k += 1
      shared += k
      secondBytes += bLen
      j += step
    }
    if (secondBytes == 0) 0.0 else shared.toDouble / secondBytes
  }

  /** Sampled strided distinct fraction over <= 256 strings (keys truncated
    * at 64 bytes — truncation can only UNDER-count distinct, which keeps the
    * dict pass rather than skipping it: the safe direction). */
  private def sampledDistinctFraction(col: BytesCol): Double = {
    val n = col.len
    val k = math.min(n, 256)
    val step = math.max(1, (n + k - 1) / k)
    val seen = new java.util.HashSet[String](k * 2)
    var sampled = 0
    var i = 0
    while (i < n) {
      val off = col.offsets(i)
      val len = math.min(col.offsets(i + 1) - off, 64)
      seen.add(new String(col.bytes, off, len, java.nio.charset.StandardCharsets.ISO_8859_1))
      sampled += 1
      i += step
    }
    if (sampled == 0) 1.0 else seen.size.toDouble / sampled
  }

  /** Sampled distinct-4-gram fraction over four 512-byte windows strided
    * across the payload (<= 2048 bytes total): FSST compresses exactly
    * repeated substrings, so a near-1.0 fraction (every 4-gram unique)
    * predicts a table that cannot pay. Strided, not head-only — a payload
    * whose random head precedes a repetitive tail would otherwise misgate
    * (the same pathology [[Fsst.stridedRatio]] fixes for the ratio). */
  private def sampledGram4Fraction(col: BytesCol): Double = {
    val off = col.offsets(0)
    val total = col.offsets(col.len) - off
    if (total < 8) return 1.0
    val seen = new java.util.HashSet[Integer](4096)
    var grams = 0
    def window(wOff: Int, wLen: Int): Unit = {
      var i = 0
      while (i + 4 <= wLen) {
        val g = ((col.bytes(wOff + i) & 0xff) << 24) | ((col.bytes(wOff + i + 1) & 0xff) << 16) |
          ((col.bytes(wOff + i + 2) & 0xff) << 8) | (col.bytes(wOff + i + 3) & 0xff)
        seen.add(g)
        grams += 1
        i += 1
      }
    }
    if (total <= 2048) window(off, total)
    else {
      val win = 512
      var w = 0
      while (w < 4) {
        window(off + ((total - win).toLong * w / 3).toInt, win)
        w += 1
      }
    }
    if (grams == 0) 1.0 else seen.size.toDouble / grams
  }

  /** Bitmask of candidate families whose O(n) estimation pass is skipped
    * for this chunk: the sampled proxy says they cannot reach the
    * exact-encode top-2. */
  private def trainedEstimationMask(pforRatio: Double, blockRatio: Double,
      subintRatio: Double): Int = {
    var m = 0
    if (pforRatio > PforRatioMax) m |= SkipPfor
    if (blockRatio > BlockRatioMax) m |= SkipBlockBp
    if (subintRatio > SubintRatioMax) m |= SkipSubint
    m
  }

  /** Sampled estimation-filter features over <= 1025 values — each is a cheap PROXY of the family's real cost
    * estimate, expressed as a ratio to plain FOR at the global width, so
    * thresholds are scale-free:
    *  - pforRatio: best sampled patched-FOR cost (per candidate width w:
    *    n*w bits + (physWidth+3) bytes per sampled exception) / n*gw bits.
    *    PFOR's own plan gate demands < 0.88, so a sampled ratio near 1
    *    proves the O(n) histogram pass is wasted.
    *  - blockRatio: mean over sampled 128-value windows of window-range
    *    width / global range width — BlockBitPacking's per-block cost
    *    against FOR. */
  private def estimationFeatures(values: Array[Long], phys: Byte,
      st: LongStats): (Double, Double, Double) = {
    if (st.max == st.min) return (1.0, 1.0, 1.0)
    val overflow = st.rangeOverflow
    val pw = 8 * PhysType.byteWidth(phys)
    val gw = if (overflow) pw else bitsFor(st.max - st.min)
    val n = values.length
    val end = math.min(n, 1025)
    val denomBits = end.toLong * gw

    // PFOR / BLOCKBP proxies: meaningless under range overflow (both
    // families are structurally ineligible there) — report 1.0 (hopeless)
    var pforBest = 1.0
    var blockRatio = 1.0
    if (!overflow) {
      val hist = new Array[Int](gw + 1)
      var i = 0
      while (i < end) {
        hist(bitsFor(values(i) - st.min)) += 1
        i += 1
      }
      var covered = 0
      var w = 1
      val excBits = 8.0 * (PhysType.byteWidth(phys) + 3)
      while (w < gw) {
        covered += hist(w)
        val exc = end - covered
        if (exc * 8 <= end) { // mirror the real plan's exc <= n/8 gate
          val r = (end.toLong * w + exc * excBits) / denomBits.toDouble
          if (r < pforBest) pforBest = r
        }
        w += 1
      }
      var wsum = 0.0
      var windows = 0
      var b = 0
      while (b < end) {
        val e = math.min(b + 128, end)
        var mn = Long.MaxValue
        var mx = Long.MinValue
        i = b
        while (i < e) { val v = values(i); if (v < mn) mn = v; if (v > mx) mx = v; i += 1 }
        wsum += bitsFor(mx - mn).toDouble / gw
        windows += 1
        b = e
      }
      blockRatio = wsum / windows
    }

    // SUBINT proxy (valid under overflow too — the hi/lo split is the one
    // family that still fires there): for each byte-boundary cut k, cost ~
    // min(RLE of sampled hi runs, FOR at sampled hi width) + k bits/value
    var subintBest = 1.0
    var k = 8
    while (k < pw) {
      var runs = 1
      var prev = values(0) >>> k
      var hiMin = prev
      var hiMax = prev
      var i = 1
      while (i < end) {
        val h = values(i) >>> k
        if (h != prev) { runs += 1; prev = h }
        if (h < hiMin) hiMin = h
        if (h > hiMax) hiMax = h
        i += 1
      }
      val hiRleBits = runs.toLong * 80L // ~10 bytes per (len, value) run
      val hiForBits = end.toLong * bitsFor(hiMax - hiMin)
      val r = (math.min(hiRleBits, hiForBits) + end.toLong * k) / denomBits.toDouble
      if (r < subintBest) subintBest = r
      k += 8
    }
    (pforBest, blockRatio, subintBest)
  }

  private def encodeLongs(values: Array[Long], phys: Byte, sink: ByteSink, depth: Int,
      replay: Replay = null): Unit = {
    val n = values.length
    val st = new LongStats(values)
    if (n == 0) { header(sink, TRIVIAL, phys, 0); return }
    if (st.min == st.max) { // Constant
      if (replay != null) replay.observe(CONST, full = true)
      header(sink, CONST, phys, n); sink.writeZigZag(st.min); return
    }
    val reference = referenceSearch.get().booleanValue
    val lockedId: Byte = if (replay != null && !replay.reopen) replay.lockedId else -1
    // Locked fast path: when the replay layout is locked, today's selection
    // already discards every non-locked candidate AFTER paying for all their
    // O(n) estimation passes (plus the feature passes and the lazy stats
    // they force) — so building ONLY the locked plan emits the exact same
    // bytes while skipping all of that work. It stays provably
    // byte-identical only when the lock is not on one of the mask-gated
    // families (their plan gate depends on the mask, which depends on the
    // features we want to skip).
    val fastLock = lockedId >= 0 &&
      lockedId != PFOR && lockedId != BLOCKBP && lockedId != SUBINT
    // trained estimation pre-filter: skip the O(n) estimation pass of the
    // families the sampled proxies rule out of the exact-encode top-2
    var skipMask = 0
    def applyEstimationMask(): Unit = if (!reference) {
      val (pforRatio, blockRatio, subintRatio) = estimationFeatures(values, phys, st)
      skipMask = trainedEstimationMask(pforRatio, blockRatio, subintRatio)
      if (skipMask != 0) estimationSkips.incrementAndGet()
    }
    if (!fastLock) applyEstimationMask()
    // Analytic size estimates per gated candidate (reference:
    // dwio/nimble/encodings/selection/EncodingSizeEstimation.h) — only the
    // best two by estimated cost are actually encoded.
    val width = PhysType.byteWidth(phys)
    // exact zigzag-varint length of one value (the FOR/SIMDFOR baseline
    // header): a flat constant here made the FOR estimate pessimistic on
    // small streams, ranking VARINT first on shapes FOR actually won — the
    // source of ~80% of the trainer's top-1 flips (all at n<=1024)
    def zzLen(v: Long): Double = {
      val zz = (v << 1) ^ (v >> 63)
      (if (zz == 0) 1 else (70 - java.lang.Long.numberOfLeadingZeros(zz)) / 7).toDouble
    }
    // `only` < 0 builds every gated plan (the full search); a codec id
    // builds just that plan (the locked fast path) — the gates themselves
    // are IDENTICAL either way, so a locked id that fails its gate yields an
    // empty buffer and the caller re-runs the full search, reproducing
    // exactly the bytes the pre-fast-path code emitted.
    def buildPlans(only: Byte): mutable.ArrayBuffer[(Byte, Double, ByteSink => Unit)] = {
    def want(id: Byte): Boolean = only < 0 || only == id
    val plans = mutable.ArrayBuffer[(Byte, Double, ByteSink => Unit)]()
    if (want(TRIVIAL))
      plans += ((TRIVIAL, (n.toLong * width).toDouble, s => trivialLongs(values, phys, s)))
    if (want(FOR) && !st.rangeOverflow) {
      val w = bitsFor(st.max - st.min)
      // exact payload: baseline zigzag + width byte + packed bits
      if (w < width * 8) plans += ((FOR, zzLen(st.min) + 1 + (n.toLong * w + 7) / 8, { s =>
        s.writeZigZag(st.min); s.writeByte(w)
        packBits(values, st.min, w, s)
      }))
    }
    // SimdForBitpack (reference: dwio/nimble/encodings/SimdForBitpackEncoding
    // .h:40-57): FOR residuals in lane-vertical 512-value blocks — payload
    // byte-identical to linear FOR, but the block layout unpacks 8 lanes per
    // vector step (Panama kernel, scalar fallback). Gated on one full block;
    // the 0.85 read factor makes it win the tie against FOR on full chunks.
    if (want(SIMDFOR) && !st.rangeOverflow && n >= 512) {
      val w = bitsFor(st.max - st.min)
      if (w > 0 && w < width * 8)
        // exact payload: baseline zigzag + width byte + lane blocks
        plans += ((SIMDFOR, zzLen(st.min) + 1 + SimdBitpack.packedBytes(n, w), { s =>
          SimdBitpack.encode(values, st.min, w, s)
        }))
    }
    if (want(VARINT) && st.min > -(1L << 40) && st.max < (1L << 40))
      plans += ((VARINT, st.varintBytes.toDouble, { s =>
        var i = 0; while (i < n) { s.writeZigZag(values(i)); i += 1 }
      }))
    if (want(RLE) && st.runCount <= n / 3 && depth < MaxDepth)
      plans += ((RLE, st.runCount * (2.0 + math.min(width, 8)) + 16, { s =>
        val lens = new Array[Long](st.runCount)
        val vals = new Array[Long](st.runCount)
        var r = -1; var i = 0
        while (i < n) {
          if (i == 0 || values(i) != values(i - 1)) { r += 1; vals(r) = values(i); lens(r) = 0 }
          lens(r) += 1; i += 1
        }
        val ls = new ByteSink(); encodeLongs(lens, PhysType.I64, ls, depth + 1, rchild(replay, RLE, 0)); s.writeBlock(ls.toArray)
        val vs = new ByteSink(); encodeLongs(vals, phys, vs, depth + 1, rchild(replay, RLE, 1)); s.writeBlock(vs.toArray)
      }))
    if (want(DICT) && !st.distinctCapped && st.distinct.size <= n / 3 && depth < MaxDepth) {
      val ndv = st.distinct.size
      plans += ((DICT, ndv.toDouble * width + n.toLong * bitsFor(math.max(ndv - 1, 1).toLong) / 8.0 + 16, { s =>
        val alphabet = st.distinct.keysIterator.toArray
        java.util.Arrays.sort(alphabet)
        val indices = new Array[Long](n)
        if (!st.rangeOverflow && st.max - st.min <= 65536) {
          // array-based reverse index: no boxing on the hot path
          val idxOf = new Array[Int]((st.max - st.min).toInt + 1)
          var i = 0; while (i < alphabet.length) { idxOf((alphabet(i) - st.min).toInt) = i; i += 1 }
          i = 0; while (i < n) { indices(i) = idxOf((values(i) - st.min).toInt).toLong; i += 1 }
        } else {
          val index = new mutable.HashMap[Long, Int]()
          var i = 0; while (i < alphabet.length) { index(alphabet(i)) = i; i += 1 }
          i = 0; while (i < n) { indices(i) = index(values(i)).toLong; i += 1 }
        }
        val as = new ByteSink(); encodeLongs(alphabet, phys, as, depth + 1, rchild(replay, DICT, 0)); s.writeBlock(as.toArray)
        val is = new ByteSink(); encodeLongs(indices, PhysType.I64, is, depth + 1, rchild(replay, DICT, 1)); s.writeBlock(is.toArray)
      }))
    }
    if (want(DELTA) && !st.deltaOverflow && n > 1 && depth < MaxDepth) {
      val dw = bitsFor(math.max(math.abs(st.dMin), math.abs(st.dMax)) << 1)
      val nCps = if (n >= 2 * DeltaCheckpointStride) (n - 1) / DeltaCheckpointStride else 0
      if (dw < 32) plans += ((DELTA, 10.0 + (n - 1).toLong * dw / 8.0 + 3.0 * nCps, { s =>
        s.writeZigZag(values(0))
        val deltas = new Array[Long](n - 1)
        var i = 1; while (i < n) { deltas(i - 1) = values(i) - values(i - 1); i += 1 }
        val ds = new ByteSink(); encodeLongs(deltas, PhysType.I64, ds, depth + 1, rchild(replay, DELTA, 0)); s.writeBlock(ds.toArray)
        if (nCps > 0) {
          // seekability tail (reference: encodings/DeltaBlockEncoding.h:53
          // checkpoints, Encoding.h:218 skip): absolute values every
          // DeltaCheckpointStride rows, appended AFTER the deltas block.
          // Wire-compatible addendum — every frame is length-delimited, so
          // pre-r14 readers stop after the deltas block and never see it;
          // point reads re-base a segment from its checkpoint instead of
          // prefix-summing from row 0. Typically monotonic, so the
          // recursive encode keeps the tail a few bytes per checkpoint.
          val cps = new Array[Long](nCps)
          var j = 0
          while (j < nCps) { cps(j) = values((j + 1) * DeltaCheckpointStride); j += 1 }
          val cs = new ByteSink(); encodeLongs(cps, phys, cs, depth + 1, rchild(replay, DELTA, 1)); s.writeBlock(cs.toArray)
        }
      }))
    }
    // PFOR: pack most values at a narrow width, patch outliers separately
    // (reference: dwio/nimble/encodings/PFOREncoding.h:74). Gated on the
    // bit-width histogram finding a width that beats plain FOR by >= 12%.
    if (want(PFOR) && (skipMask & SkipPfor) == 0 && !st.rangeOverflow && n >= 64 && depth < MaxDepth) {
      val wf = bitsFor(st.max - st.min)
      if (wf > 2 && wf <= 57) {
        val hist = new Array[Int](wf + 1)
        var i = 0
        while (i < n) { hist(bitsFor(values(i) - st.min)) += 1; i += 1 }
        var covered = 0
        var bestW = wf
        var bestCost = n.toLong * wf / 8.0
        var w = 1
        while (w < wf) {
          covered += hist(w)
          val exc = n - covered
          val cost = n.toLong * w / 8.0 + exc.toLong * (width + 3) + 24
          if (exc <= n / 8 && cost < bestCost) { bestCost = cost; bestW = w }
          w += 1
        }
        if (bestW < wf && bestCost < 0.88 * n.toLong * wf / 8.0) {
          val pw = bestW
          plans += ((PFOR, bestCost, { s =>
            val mask = (1L << pw) - 1L
            val lows = new Array[Long](n)
            var nExc = 0
            var i = 0
            while (i < n) {
              val d = values(i) - st.min
              lows(i) = st.min + (d & mask)
              if ((d >>> pw) != 0) nExc += 1
              i += 1
            }
            val pos = new Array[Long](nExc)
            val highs = new Array[Long](nExc)
            var j = 0; i = 0
            while (i < n) {
              val d = values(i) - st.min
              if ((d >>> pw) != 0) { pos(j) = i.toLong; highs(j) = d >>> pw; j += 1 }
              i += 1
            }
            s.writeZigZag(st.min); s.writeByte(pw)
            packBits(lows, st.min, pw, s)
            val ps = new ByteSink(); encodeLongs(pos, PhysType.I64, ps, depth + 1, rchild(replay, PFOR, 0)); s.writeBlock(ps.toArray)
            val hs = new ByteSink(); encodeLongs(highs, PhysType.I64, hs, depth + 1, rchild(replay, PFOR, 1)); s.writeBlock(hs.toArray)
          }))
        }
      }
    }
    // BlockBitPacking: per-1024-row baseline + bit width — adapts to locally
    // narrow regions a single global FOR width can't exploit (reference:
    // dwio/nimble/encodings/BlockBitPackingEncoding.h:56).
    if (want(BLOCKBP) && (skipMask & SkipBlockBp) == 0 && !st.rangeOverflow && n >= 2048) {
      val bsz = 1024
      var est = 4.0
      var b = 0
      while (b < n) {
        val e = math.min(b + bsz, n)
        var bmin = Long.MaxValue; var bmax = Long.MinValue
        var i = b
        while (i < e) { val v = values(i); if (v < bmin) bmin = v; if (v > bmax) bmax = v; i += 1 }
        est += 11 + (e - b).toLong * bitsFor(bmax - bmin) / 8.0
        b = e
      }
      if (est < 0.95 * n.toLong * width) plans += ((BLOCKBP, est, { s =>
        s.writeVarint(bsz.toLong)
        var b = 0
        while (b < n) {
          val e = math.min(b + bsz, n)
          var bmin = Long.MaxValue; var bmax = Long.MinValue
          var i = b
          while (i < e) { val v = values(i); if (v < bmin) bmin = v; if (v > bmax) bmax = v; i += 1 }
          val bw = math.min(bitsFor(bmax - bmin), 57)
          val blk = java.util.Arrays.copyOfRange(values, b, e)
          if (bitsFor(bmax - bmin) > 57) { // rare: fall back to raw-width block
            s.writeByte(64)
            i = 0
            while (i < blk.length) { s.writeLong(blk(i)); i += 1 }
          } else {
            s.writeByte(bw)
            s.writeZigZag(bmin)
            packBits(blk, bmin, bw, s)
          }
          b = e
        }
      }))
    }
    // DeltaBlock: sorted/monotonic ints as checkpoints + per-block packed
    // deltas, preserving O(block) random access (reference:
    // dwio/nimble/encodings/DeltaBlockEncoding.h:53).
    if (want(DELTABLOCK) && !st.deltaOverflow && st.dMin >= 0 && st.dMax > 0 && bitsFor(st.dMax) <= 57 &&
        n >= 256 && depth < MaxDepth) {
      val bsz = 128
      val nBlocks = (n + bsz - 1) / bsz
      var est = 8.0 + nBlocks * 2.0
      var b = 0
      while (b < n) {
        val e = math.min(b + bsz, n)
        var dmax = 0L
        var i = b + 1
        while (i < e) { val d = values(i) - values(i - 1); if (d > dmax) dmax = d; i += 1 }
        est += (e - b - 1).toLong * bitsFor(dmax) / 8.0
        b = e
      }
      est += nBlocks.toLong * 9 // checkpoint stream (delta-encoded itself)
      if (est < 0.95 * n.toLong * width) plans += ((DELTABLOCK, est, { s =>
        s.writeVarint(bsz.toLong)
        val checkpoints = new Array[Long](nBlocks)
        var b = 0
        var k = 0
        while (b < n) { checkpoints(k) = values(b); k += 1; b += bsz }
        val cs = new ByteSink(); encodeLongs(checkpoints, phys, cs, depth + 1, rchild(replay, DELTABLOCK, 0)); s.writeBlock(cs.toArray)
        b = 0
        while (b < n) {
          val e = math.min(b + bsz, n)
          var dmax = 0L
          var i = b + 1
          while (i < e) { val d = values(i) - values(i - 1); if (d > dmax) dmax = d; i += 1 }
          val bw = bitsFor(dmax) // <= 57 by the plan gate on st.dMax
          s.writeByte(bw)
          val deltas = new Array[Long](e - b - 1)
          i = b + 1
          while (i < e) { deltas(i - b - 1) = values(i) - values(i - 1); i += 1 }
          packBits(deltas, 0L, bw, s)
          b = e
        }
      }))
    }
    // Huffman: canonical codes over a small alphabet — beats Dictionary's
    // fixed-width indices when the value distribution is skewed (reference:
    // dwio/nimble/encodings/HuffmanEncoding.h:62). Code lengths double as the
    // exact size estimate.
    if (want(HUFFMAN) && !st.distinctCapped && st.distinct.size >= 2 && st.distinct.size <= 256 &&
        depth < MaxDepth) {
      val sym = st.distinct.toArray.sortBy(_._1) // (value, freq), stable order
      val lens = Huffman.codeLengths(sym.map(_._2.toLong))
      if (lens != null) {
        var bits = 0L
        var k = 0
        while (k < sym.length) { bits += sym(k)._2.toLong * lens(k); k += 1 }
        // + ~3B/checkpoint: the per-256-row bit offsets (random access)
        val est = bits / 8.0 + sym.length * (1.0 + width / 2.0) + 16 +
          (n / Huffman.CheckpointStride) * 3.0
        plans += ((HUFFMAN, est, { s =>
          s.writeVarint(sym.length.toLong)
          val vs = new ByteSink(); encodeLongs(sym.map(_._1), phys, vs, depth + 1, rchild(replay, HUFFMAN, 0))
          s.writeBlock(vs.toArray)
          var i = 0
          while (i < sym.length) { s.writeByte(lens(i)); i += 1 }
          Huffman.encode(values, sym.map(_._1), lens, s)
        }))
      }
    }
    if (want(MAINLYCONST) && st.modeFreq >= (n * 7) / 10 && depth < MaxDepth)
      plans += ((MAINLYCONST, n / 8.0 + (n - st.modeFreq).toLong * width + 10, { s =>
        val common = st.modeVal
        s.writeZigZag(common)
        val isCommon = new Array[Boolean](n)
        var nOther = 0
        var i = 0
        while (i < n) { isCommon(i) = values(i) == common; if (!isCommon(i)) nOther += 1; i += 1 }
        val others = new Array[Long](nOther)
        var j = 0; i = 0
        while (i < n) { if (!isCommon(i)) { others(j) = values(i); j += 1 }; i += 1 }
        val bs = new ByteSink(); encodeBools(isCommon, bs, depth + 1, rchild(replay, MAINLYCONST, 0)); s.writeBlock(bs.toArray)
        val os = new ByteSink(); encodeLongs(others, phys, os, depth + 1, rchild(replay, MAINLYCONST, 1)); s.writeBlock(os.toArray)
      }))
    // FrequencyPartition: the most frequent K values get a narrow code
    // (0..K-1, frequency-ordered so the code stream is skew-friendly for the
    // cascade), everything else the reserved code K plus a slot in a separate
    // exception stream (reference:
    // dwio/nimble/encodings/FrequencyPartitionEncoding.h:96 — tiered
    // frequency partitions; this keeps original row order via the code
    // stream instead of reordering rows + a positional index, trading a few
    // index bits for a branch-light O(n) decode). Niche: a skewed head over
    // a long high-cardinality tail — too many distinct values for Huffman
    // (<=256) and a DICT alphabet dominated by rare singletons.
    if (want(FREQPART) && !st.distinctCapped && st.distinct.size >= 16 && depth < MaxDepth) {
      val byFreq = st.distinct.toArray.sortBy { case (v, f) => (-f, v) }
      var bestK = -1
      var bestEst = Double.MaxValue
      var covered = 0
      var i = 0
      var nextK = 15
      while (i < byFreq.length && nextK <= 255) {
        covered += byFreq(i)._2
        if (i + 1 == nextK) {
          val exc = n - covered
          val est = 24 + nextK.toDouble * width +
            n.toLong * bitsFor(nextK.toLong) / 8.0 + exc.toDouble * width
          if (est < bestEst) { bestEst = est; bestK = nextK }
          nextK = nextK * 2 + 1
        }
        i += 1
      }
      if (bestK > 0 && bestEst < 0.9 * n.toLong * width) {
        val kSel = bestK
        plans += ((FREQPART, bestEst, { s =>
          val head = new Array[Long](kSel)
          val idx = new mutable.HashMap[Long, Int]()
          var i = 0
          while (i < kSel) { head(i) = byFreq(i)._1; idx(head(i)) = i; i += 1 }
          val codes = new Array[Long](n)
          var nExc = 0
          i = 0
          while (i < n) {
            val c = idx.getOrElse(values(i), kSel)
            codes(i) = c.toLong
            if (c == kSel) nExc += 1
            i += 1
          }
          val excs = new Array[Long](nExc)
          var j = 0
          i = 0
          while (i < n) { if (codes(i) == kSel) { excs(j) = values(i); j += 1 }; i += 1 }
          s.writeVarint(kSel.toLong)
          val as = new ByteSink(); encodeLongs(head, phys, as, depth + 1, rchild(replay, FREQPART, 0)); s.writeBlock(as.toArray)
          val cs = new ByteSink(); encodeLongs(codes, PhysType.I64, cs, depth + 1, rchild(replay, FREQPART, 1)); s.writeBlock(cs.toArray)
          val es = new ByteSink(); encodeLongs(excs, phys, es, depth + 1, rchild(replay, FREQPART, 2)); s.writeBlock(es.toArray)
        }))
      }
    }
    // SubIntSplit: slice each value at bit k into a hi sub-stream (slowly
    // varying high bits -> RLE/FOR/DICT) and a lo sub-stream (noisy low bits
    // -> bit-packed), each recursively coded (reference:
    // dwio/nimble/encodings/SubIntSplitEncoding.h:71 — bit-range sections
    // with DP-chosen splits; two sections at a byte boundary cover the
    // dominant case: ids/timestamps/counters whose high bytes barely move).
    // Reconstruction (hi << k) | lo is exact for every long since
    // (v >>> k) << k == v & ~mask. Gated behind the cheap codecs doing
    // poorly, so the extra O(n) neighbor-xor pass only runs on hard chunks.
    if (want(SUBINT) && (skipMask & SkipSubint) == 0 && width >= 4 && n >= 1024 && depth < MaxDepth &&
        plans.iterator.map(_._2).min >= 0.45 * n.toLong * width) {
      // histogram of the highest bit differing between neighbors: run counts
      // of EVERY candidate hi-stream fall out of one suffix sum (hi at cut k
      // changes between rows iff some bit > k changed)
      val zhist = new Array[Int](65)
      var i = 1
      while (i < n) {
        val x = values(i) ^ values(i - 1)
        if (x != 0) zhist(64 - java.lang.Long.numberOfLeadingZeros(x)) += 1
        i += 1
      }
      val runsAbove = new Array[Int](65) // runsAbove(k) = hi-stream runs at cut k
      var z = 63
      runsAbove(64) = 1
      while (z >= 0) { runsAbove(z) = runsAbove(z + 1) + zhist(z + 1); z -= 1 }
      var bestK = -1
      var bestEst = Double.MaxValue
      var k = 8
      while (k < width * 8) {
        val hiRle = 16 + runsAbove(k) * 10.0
        val hiFor =
          if (st.min >= 0) 10 + n.toLong * bitsFor((st.max >>> k) - (st.min >>> k)) / 8.0
          else Double.MaxValue // negative values: hi lands on the cascade's RLE/DICT
        val est = math.min(hiRle, hiFor) + 12 + n.toLong * k / 8.0
        if (est < bestEst) { bestEst = est; bestK = k }
        k += 8
      }
      if (bestK > 0 && bestEst < 0.85 * plans.iterator.map(_._2).min) {
        val kk = bestK
        plans += ((SUBINT, bestEst, { s =>
          s.writeByte(kk)
          val mask = (1L << kk) - 1L
          val hi = new Array[Long](n)
          val lo = new Array[Long](n)
          var i = 0
          while (i < n) { val v = values(i); hi(i) = v >>> kk; lo(i) = v & mask; i += 1 }
          val hs = new ByteSink(); encodeLongs(hi, PhysType.I64, hs, depth + 1, rchild(replay, SUBINT, 0)); s.writeBlock(hs.toArray)
          val ls = new ByteSink(); encodeLongs(lo, PhysType.I64, ls, depth + 1, rchild(replay, SUBINT, 1)); s.writeBlock(ls.toArray)
        }))
      }
    }
    plans
    } // buildPlans
    var plans = buildPlans(if (fastLock) lockedId else -1)
    if (fastLock && plans.isEmpty) {
      // the locked codec's gate failed on this chunk — run the full search,
      // first recovering the mask the non-fast path would have used
      applyEstimationMask()
      plans = buildPlans(-1)
    }
    val sorted = plans.sortBy { case (id, estSize, _) => estSize * readFactor(id) }
    // locked layout: encode the replayed winner alone when it is still gated
    // in; otherwise (or on a reopen probe chunk) run normal selection
    val locked = lockedId >= 0 && sorted.exists(_._1 == lockedId)
    // encode the runner-up only when the estimates are close (composite-codec
    // estimates are approximate; exact ones don't need a second opinion) —
    // the margins are TRAINED (Top1RatioMax, DefaultTop1PairMax)
    val c0 = sorted(0)._2 * readFactor(sorted(0)._1)
    val c1 = if (sorted.length >= 2) sorted(1)._2 * readFactor(sorted(1)._1) else 0.0
    val margin =
      if (sorted.length >= 2 && !reference)
        DefaultTop1PairMax.getOrElse(pairKey(sorted(0)._1, sorted(1)._1), Top1RatioMax)
      else Top1RatioMax
    // r16: when BOTH top candidates carry EXACT size estimates, the ranking
    // comparison (estSize x readFactor) is the very comparison emitBest
    // would make on the encoded payloads — the runner-up can never win, so
    // its encode is skipped at ANY ratio, margin-free and provably
    // drift-free (ties keep rank-0, matching emitBest's strict-less keep)
    val bothExact = sorted.length >= 2 &&
      exactSizeEstimate(sorted(0)._1) && exactSizeEstimate(sorted(1)._1)
    val top =
      if (locked) sorted.filter(_._1 == lockedId).take(1)
      else if (sorted.length >= 2 && (bothExact || c0 < margin * c1)) {
        singleEncodes.incrementAndGet()
        sorted.take(1)
      } else sorted.take(2)
    val candidates = mutable.ArrayBuffer[(Byte, Array[Byte])]()
    for ((id, _, enc) <- top) {
      val s = new ByteSink(); enc(s); candidates += ((id, s.toArray))
    }
    val winner = emitBest(candidates, phys, n, sink)
    if (replay != null) replay.observe(winner, full = !locked)
  }

  private def emitBest(candidates: mutable.ArrayBuffer[(Byte, Array[Byte])], phys: Byte, n: Int, sink: ByteSink): Byte = {
    var best: (Byte, Array[Byte]) = null
    var bestCost = Double.MaxValue
    for ((id, payload) <- candidates) {
      val cost = payload.length * readFactor(id)
      if (cost < bestCost) { bestCost = cost; best = (id, payload) }
    }
    header(sink, best._1, phys, n)
    sink.writeBytes(best._2)
    best._1
  }

  private def trivialLongs(values: Array[Long], phys: Byte, s: ByteSink): Unit = {
    val n = values.length
    val w = PhysType.byteWidth(phys)
    val out = new Array[Byte](n * w)
    val bb = java.nio.ByteBuffer.wrap(out).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var i = 0
    phys match {
      case PhysType.I8 => while (i < n) { out(i) = values(i).toByte; i += 1 }
      case PhysType.I16 => while (i < n) { bb.putShort(2 * i, values(i).toShort); i += 1 }
      case PhysType.I32 => while (i < n) { bb.putInt(4 * i, values(i).toInt); i += 1 }
      case _ => while (i < n) { bb.putLong(8 * i, values(i)); i += 1 }
    }
    s.writeBytes(out)
  }

  /** Pack (v - baseline) in w bits each (w <= 57), little-endian bit order.
    * Word-accumulated: bits land in a long[] then copy out once. */
  private def packBits(values: Array[Long], baseline: Long, w: Int, s: ByteSink): Unit = {
    val n = values.length
    val nBits = n.toLong * w
    val nWords = ((nBits + 63) / 64).toInt
    val words = new Array[Long](nWords)
    var bit = 0L
    var i = 0
    while (i < n) {
      val v = values(i) - baseline
      val wi = (bit >>> 6).toInt
      val sh = (bit & 63).toInt
      words(wi) |= v << sh
      if (sh + w > 64) words(wi + 1) |= v >>> (64 - sh)
      bit += w
      i += 1
    }
    val nBytes = ((nBits + 7) / 8).toInt
    val out = new Array[Byte](nBytes)
    var b = 0
    while (b < nBytes) {
      out(b) = (words(b >>> 3) >>> ((b & 7) << 3)).toByte
      b += 1
    }
    s.writeBytes(out)
  }

  /** Word-wise unpack: one unaligned 64-bit little-endian load per value. */
  private def unpackBits(buf: Array[Byte], off: Int, baseline: Long, w: Int, n: Int): Array[Long] = {
    val out = new Array[Long](n)
    val mask = if (w == 64) -1L else (1L << w) - 1L
    val nBytes = ((n.toLong * w + 7) / 8).toInt
    // copy into a padded word array once; then every read is in-bounds
    val nWords = (nBytes + 7) / 8 + 1
    val words = new Array[Long](nWords)
    var b = 0
    while (b < nBytes) {
      words(b >>> 3) |= (buf(off + b) & 0xffL) << ((b & 7) << 3)
      b += 1
    }
    var bit = 0L
    var i = 0
    while (i < n) {
      val wi = (bit >>> 6).toInt
      val sh = (bit & 63).toInt
      var v = words(wi) >>> sh
      if (sh + w > 64) v |= words(wi + 1) << (64 - sh)
      out(i) = (v & mask) + baseline
      bit += w
      i += 1
    }
    out
  }

  // ---------------------------------------------------------------- bools

  private def encodeBools(values: Array[Boolean], sink: ByteSink, depth: Int,
      replay: Replay = null): Unit = {
    val n = values.length
    var trues = 0
    var i = 0
    while (i < n) { if (values(i)) trues += 1; i += 1 }
    if (n == 0 || trues == 0 || trues == n) {
      if (replay != null && n > 0) replay.observe(CONST, full = true)
      header(sink, CONST, PhysType.Bool, n)
      sink.writeByte(if (trues == n && n > 0) 1 else 0)
      return
    }
    // layout replay over the two bool codecs: a locked winner skips building
    // the loser (the loser's payload never influenced the emitted bytes, so
    // the skip is drift-free whenever the locked candidate stays eligible)
    val lockedId: Byte = if (replay != null && !replay.reopen) replay.lockedId else -1
    val minority = math.min(trues, n - trues)
    val sparseOk = minority <= n / 16 && depth < MaxDepth
    val locked = lockedId == TRIVIAL || (lockedId == SPARSEBOOL && sparseOk)
    def want(id: Byte): Boolean = !locked || lockedId == id
    val candidates = mutable.ArrayBuffer[(Byte, Array[Byte])]()
    // Trivial: bit-packed
    if (want(TRIVIAL)) {
      val ts = new ByteSink()
      val packed = new Array[Byte]((n + 7) / 8)
      i = 0
      while (i < n) { if (values(i)) packed(i >> 3) = (packed(i >> 3) | (1 << (i & 7))).toByte; i += 1 }
      ts.writeBytes(packed)
      candidates += ((TRIVIAL, ts.toArray))
    }
    // SparseBool: positions of minority value
    if (want(SPARSEBOOL) && sparseOk) {
      val ss = new ByteSink()
      val sparseVal = trues <= n - trues // true = minority is `true`
      ss.writeByte(if (sparseVal) 1 else 0)
      val pos = new Array[Long](minority)
      var j = 0; i = 0
      while (i < n) { if (values(i) == sparseVal) { pos(j) = i.toLong; j += 1 }; i += 1 }
      val ps = new ByteSink(); encodeLongs(pos, PhysType.I64, ps, depth + 1, rchild(replay, SPARSEBOOL, 0)); ss.writeBlock(ps.toArray)
      candidates += ((SPARSEBOOL, ss.toArray))
    }
    val winner = emitBest(candidates, PhysType.Bool, n, sink)
    if (replay != null) replay.observe(winner, full = !locked)
  }

  /** [[encodeBools]] off a sparse positions buffer (the first `nPos`
    * strictly-increasing TRUE-row positions over `len` rows) — byte-IDENTICAL
    * output to the dense form by construction: same CONST short-circuit,
    * same candidate payloads (the TRIVIAL bitpack sets exactly the same
    * bits; SPARSEBOOL's position list is the buffer itself when true is the
    * minority, the complement walk when false is), same emitBest/replay
    * flow. Exists so a wide FlatMap's per-key presence streams skip the
    * per-chunk Array[Boolean] densify (O(keys x rows) allocation + rescan). */
  private def encodeBoolsSparse(c: SparseBoolsCol, sink: ByteSink, depth: Int,
      replay: Replay = null): Unit = {
    val n = c.len
    val trues = c.nPos
    if (n == 0 || trues == 0 || trues == n) {
      if (replay != null && n > 0) replay.observe(CONST, full = true)
      header(sink, CONST, PhysType.Bool, n)
      sink.writeByte(if (trues == n && n > 0) 1 else 0)
      return
    }
    val lockedId: Byte = if (replay != null && !replay.reopen) replay.lockedId else -1
    val minority = math.min(trues, n - trues)
    val sparseOk = minority <= n / 16 && depth < MaxDepth
    val locked = lockedId == TRIVIAL || (lockedId == SPARSEBOOL && sparseOk)
    def want(id: Byte): Boolean = !locked || lockedId == id
    val candidates = mutable.ArrayBuffer[(Byte, Array[Byte])]()
    if (want(TRIVIAL)) {
      val ts = new ByteSink()
      val packed = new Array[Byte]((n + 7) / 8)
      var i = 0
      while (i < trues) {
        val p = c.pos(i)
        packed(p >> 3) = (packed(p >> 3) | (1 << (p & 7))).toByte
        i += 1
      }
      ts.writeBytes(packed)
      candidates += ((TRIVIAL, ts.toArray))
    }
    if (want(SPARSEBOOL) && sparseOk) {
      val ss = new ByteSink()
      val sparseVal = trues <= n - trues // true = minority is `true`
      ss.writeByte(if (sparseVal) 1 else 0)
      val pos = new Array[Long](minority)
      if (sparseVal) {
        var i = 0
        while (i < trues) { pos(i) = c.pos(i).toLong; i += 1 }
      } else {
        // minority is FALSE: positions are the complement of the buffer
        var i = 0; var j = 0; var k = 0
        while (i < n) {
          if (k < trues && c.pos(k) == i) k += 1
          else { pos(j) = i.toLong; j += 1 }
          i += 1
        }
      }
      val ps = new ByteSink(); encodeLongs(pos, PhysType.I64, ps, depth + 1, rchild(replay, SPARSEBOOL, 0)); ss.writeBlock(ps.toArray)
      candidates += ((SPARSEBOOL, ss.toArray))
    }
    val winner = emitBest(candidates, PhysType.Bool, n, sink)
    if (replay != null) replay.observe(winner, full = !locked)
  }

  private def decodeBoolPayload(id: Byte, cur: ByteCursor, n: Int): Array[Boolean] = id match {
    case CONST =>
      val v = cur.readByte() != 0
      val out = new Array[Boolean](n)
      if (v) java.util.Arrays.fill(out, true)
      out
    case TRIVIAL =>
      val packed = cur.readBytes((n + 7) / 8)
      val out = new Array[Boolean](n)
      var i = 0
      while (i < n) { out(i) = (packed(i >> 3) & (1 << (i & 7))) != 0; i += 1 }
      out
    case SPARSEBOOL =>
      val sparseVal = cur.readByte() != 0
      val pos = decodeValues(cur.readBlock()).asInstanceOf[LongsCol].values
      val out = new Array[Boolean](n)
      if (!sparseVal) java.util.Arrays.fill(out, true)
      var i = 0
      while (i < pos.length) { out(pos(i).toInt) = sparseVal; i += 1 }
      out
    case _ => throw new IllegalStateException(s"bad bool codec $id")
  }

  // -------------------------------------------------------------- doubles

  // ALP constants (reference: dwio/nimble/encodings/ALPEncoding.h:642-653 —
  // kPow10Double, kMaxExponent/kMaxFactor 23, kSampleSize 1024)
  private val AlpPow10: Array[Double] = Array.tabulate(24)(i => math.pow(10, i))
  private val AlpMaxExponent = 23
  private val AlpSampleSize = 1024
  /** First payload byte of the r12+ ALP layout; pre-r12 ALP-lite payloads
    * stored the exponent (<= 10) there, so 127 is unambiguous. */
  private val AlpV2Marker = 127

  /** Can `v` be stored as round(v*10^e/10^f) and restored bit-exactly?
    * Mirrors the reference's canRepresentExactly (ALPEncoding.h:657):
    * raw-bits comparison rejects NaN payloads and -0.0 into the exception
    * stream rather than silently canonicalizing them. */
  private def alpRepresentable(v: Double, e: Int, f: Int, isFloat: Boolean): Boolean = {
    val scaled = v * AlpPow10(e)
    if (java.lang.Double.isNaN(scaled) || java.lang.Double.isInfinite(scaled)) return false
    val factored = math.rint(scaled / AlpPow10(f))
    val restored = factored.toLong.toDouble * AlpPow10(f) / AlpPow10(e)
    if (isFloat)
      java.lang.Float.floatToRawIntBits(restored.toFloat) ==
        java.lang.Float.floatToRawIntBits(v.toFloat)
    else
      java.lang.Double.doubleToRawLongBits(restored) ==
        java.lang.Double.doubleToRawLongBits(v)
  }

  private def encodeDoubles(col: DoublesCol, sink: ByteSink, depth: Int,
      replay: Replay = null): Unit = {
    val values = col.values
    val phys = if (col.isFloat) PhysType.F32 else PhysType.F64
    val n = values.length
    if (n == 0) { header(sink, TRIVIAL, phys, 0); return }
    // bit-cast view for constant/rle/dict candidates
    val bits = new Array[Long](n)
    var i = 0
    if (col.isFloat) while (i < n) { bits(i) = java.lang.Float.floatToRawIntBits(values(i).toFloat).toLong & 0xffffffffL; i += 1 }
    else while (i < n) { bits(i) = java.lang.Double.doubleToRawLongBits(values(i)); i += 1 }
    var allEq = true
    i = 1
    while (i < n && allEq) { if (bits(i) != bits(0)) allEq = false; i += 1 }
    if (allEq) {
      if (replay != null) replay.observe(CONST, full = true)
      header(sink, CONST, phys, n); sink.writeLong(bits(0)); return
    }

    val lockedId: Byte = if (replay != null && !replay.reopen) replay.lockedId else -1
    def want(id: Byte): Boolean = lockedId < 0 || lockedId == id
    val candidates = mutable.ArrayBuffer[(Byte, Array[Byte])]()
    // Trivial raw
    def buildTrivial(): Unit = {
      val ts = new ByteSink()
      var i1 = 0
      if (col.isFloat) while (i1 < n) { ts.writeInt(bits(i1).toInt); i1 += 1 }
      else while (i1 < n) { ts.writeLong(bits(i1)); i1 += 1 }
      candidates += ((TRIVIAL, ts.toArray))
    }
    if (want(TRIVIAL)) buildTrivial()
    // ALP (Adaptive Lossless floating-Point, reference:
    // dwio/nimble/encodings/ALPEncoding.h:111 + the published ALP paper):
    // sample-search the (exponent, factor) pair that makes the most values
    // exactly representable as round(v*10^e/10^f), encode those as a nested
    // long stream, and patch the rest through exception position/value
    // streams — so a float column with a few non-decimal stragglers still
    // compresses instead of falling back to raw bits wholesale (the
    // ALP-lite shipped before r12 refused any chunk with one exception).
    if (depth < MaxDepth && want(ALP)) {
      val sampleN = math.min(n, AlpSampleSize)
      val step = math.max(1, n / sampleN)
      // ALP-paper criterion: pick the (e, f) minimizing ESTIMATED BYTES, not
      // maximizing representable count (the reference's count-only search,
      // ALPEncoding.h:682, mis-picks here: past e~14 every double scales
      // beyond 2^53 and becomes a "representable" 57-bit integer). The size
      // score charges for the packed width AND the exception streams, so
      // e=2 beats e=14 on cents data with stragglers. Ascending-e early
      // exit on a fully-representable pair (larger e only widens the ints)
      // keeps the clean-data write path at a handful of sample passes.
      var bestE = -1; var bestF = 0; var bestCount = 0; var bestW = 64
      var bestScore = Double.MaxValue
      val excBytes = (if (col.isFloat) 4 + 4 else 4 + 8).toDouble // position + raw bits
      var e = 0
      var stop = false
      while (e <= AlpMaxExponent && !stop) {
        var f = 0
        while (f <= e && !stop) {
          var count = 0
          var minEnc = Long.MaxValue; var maxEnc = Long.MinValue
          var s = 0
          while (s < sampleN) {
            val v = values(s * step)
            if (alpRepresentable(v, e, f, col.isFloat)) {
              count += 1
              val enc = math.rint(v * AlpPow10(e) / AlpPow10(f)).toLong
              if (enc < minEnc) minEnc = enc
              if (enc > maxEnc) maxEnc = enc
            }
            s += 1
          }
          if (count > 0) {
            val range = maxEnc - minEnc // FOR-style packing width estimate
            val w = if (range <= 0) 0 else 64 - java.lang.Long.numberOfLeadingZeros(range)
            val score = count * (w / 8.0) + (sampleN - count) * excBytes
            if (score < bestScore) {
              bestScore = score; bestCount = count; bestE = e; bestF = f; bestW = w
            }
            if (count == sampleN) stop = true
          }
          f += 1
        }
        e += 1
      }
      // below ~4/5 representable the exception streams dominate, and past
      // ~48 packed bits raw doubles are as small — skip the O(n) encode
      if (bestE >= 0 && bestCount * 5 >= sampleN * 4 && bestW <= 48) {
        val encoded = new Array[Long](n)
        val excPos = new mutable.ArrayBuffer[Long]()
        val excBits = new mutable.ArrayBuffer[Long]()
        i = 0
        while (i < n) {
          val v = values(i)
          if (alpRepresentable(v, bestE, bestF, col.isFloat))
            encoded(i) = math.rint(v * AlpPow10(bestE) / AlpPow10(bestF)).toLong
          else { excPos += i.toLong; excBits += bits(i) }
          i += 1
        }
        val as = new ByteSink()
        as.writeByte(AlpV2Marker) // pre-r12 payloads put the exponent (<=10) here
        as.writeByte(bestE)
        as.writeByte(bestF)
        as.writeVarint(excPos.length.toLong)
        val ss = new ByteSink(); encodeLongs(encoded, PhysType.I64, ss, depth + 1, rchild(replay, ALP, 0)); as.writeBlock(ss.toArray)
        if (excPos.nonEmpty) {
          val ps = new ByteSink(); encodeLongs(excPos.toArray, PhysType.I64, ps, depth + 1, rchild(replay, ALP, 1)); as.writeBlock(ps.toArray)
          val vs = new ByteSink(); encodeLongs(excBits.toArray, PhysType.I64, vs, depth + 1, rchild(replay, ALP, 2)); as.writeBlock(vs.toArray)
        }
        candidates += ((ALP, as.toArray))
      }
    }
    // Dictionary on raw bits for low-cardinality doubles
    if (depth < MaxDepth && want(DICT)) {
      val distinct = new mutable.HashSet[Long]()
      i = 0
      var capped = false
      while (i < n && !capped) { distinct += bits(i); if (distinct.size > n / 3 || distinct.size > 4096) capped = true; i += 1 }
      if (!capped) {
        val ds = new ByteSink()
        val alphabet = distinct.toArray
        java.util.Arrays.sort(alphabet)
        val index = new mutable.HashMap[Long, Int]()
        i = 0; while (i < alphabet.length) { index(alphabet(i)) = i; i += 1 }
        val indices = new Array[Long](n)
        i = 0; while (i < n) { indices(i) = index(bits(i)).toLong; i += 1 }
        val as2 = new ByteSink(); encodeLongs(alphabet, PhysType.I64, as2, depth + 1, rchild(replay, DICT, 0)); ds.writeBlock(as2.toArray)
        val is2 = new ByteSink(); encodeLongs(indices, PhysType.I64, is2, depth + 1, rchild(replay, DICT, 1)); ds.writeBlock(is2.toArray)
        candidates += ((DICT, ds.toArray))
      }
    }
    val lockedSatisfied = lockedId >= 0 && candidates.exists(_._1 == lockedId)
    if (candidates.isEmpty) buildTrivial()
    val winner = emitBest(candidates, phys, n, sink)
    if (replay != null) replay.observe(winner, full = !lockedSatisfied)
  }

  private def decodeDoublePayload(id: Byte, phys: Byte, cur: ByteCursor, n: Int): DoublesCol = {
    val isFloat = phys == PhysType.F32
    def fromBits(bits: Array[Long]): Array[Double] = {
      val out = new Array[Double](n)
      var i = 0
      if (isFloat) while (i < n) { out(i) = java.lang.Float.intBitsToFloat(bits(i).toInt).toDouble; i += 1 }
      else while (i < n) { out(i) = java.lang.Double.longBitsToDouble(bits(i)); i += 1 }
      out
    }
    id match {
      case CONST =>
        val b = cur.readLong()
        val v = if (isFloat) java.lang.Float.intBitsToFloat(b.toInt).toDouble else java.lang.Double.longBitsToDouble(b)
        val out = new Array[Double](n)
        java.util.Arrays.fill(out, v)
        DoublesCol(out, isFloat)
      case TRIVIAL =>
        val out = new Array[Double](n)
        val bb = java.nio.ByteBuffer.wrap(cur.buf, cur.pos, cur.end - cur.pos)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        var i = 0
        if (isFloat) {
          while (i < n) { out(i) = bb.getFloat(cur.pos + 4 * i).toDouble; i += 1 }
          cur.pos += 4 * n
        } else {
          while (i < n) { out(i) = bb.getDouble(cur.pos + 8 * i); i += 1 }
          cur.pos += 8 * n
        }
        DoublesCol(out, isFloat)
      case ALP =>
        val first = cur.readByte()
        if (first == AlpV2Marker) {
          val e = cur.readByte(); val f = cur.readByte()
          val excCount = cur.readVarint().toInt
          val encoded = decodeValues(cur.readBlock()).asInstanceOf[LongsCol].values
          val out = new Array[Double](n)
          val pe = AlpPow10(e); val pf = AlpPow10(f)
          var i = 0
          if (isFloat) while (i < n) { out(i) = (encoded(i).toDouble * pf / pe).toFloat.toDouble; i += 1 }
          else while (i < n) { out(i) = encoded(i).toDouble * pf / pe; i += 1 }
          if (excCount > 0) {
            val pos = decodeValues(cur.readBlock()).asInstanceOf[LongsCol].values
            val vb = decodeValues(cur.readBlock()).asInstanceOf[LongsCol].values
            var k = 0
            while (k < excCount) {
              out(pos(k).toInt) =
                if (isFloat) java.lang.Float.intBitsToFloat(vb(k).toInt).toDouble
                else java.lang.Double.longBitsToDouble(vb(k))
              k += 1
            }
          }
          DoublesCol(out, isFloat)
        } else {
          // pre-r12 ALP-lite payload: single exponent, no exceptions
          val scale = math.pow(10, first)
          val scaled = decodeValues(cur.readBlock()).asInstanceOf[LongsCol].values
          val out = new Array[Double](n)
          var i = 0
          while (i < n) { out(i) = scaled(i).toDouble / scale; i += 1 }
          DoublesCol(out, isFloat)
        }
      case DICT =>
        val alphabet = decodeValues(cur.readBlock()).asInstanceOf[LongsCol].values
        val indices = decodeValues(cur.readBlock()).asInstanceOf[LongsCol].values
        val bits = new Array[Long](n)
        var i = 0
        while (i < n) { bits(i) = alphabet(indices(i).toInt); i += 1 }
        DoublesCol(fromBits(bits), isFloat)
      case _ => throw new IllegalStateException(s"bad double codec $id")
    }
  }

  // ---------------------------------------------------------------- bytes

  private def encodeBytes(col: BytesCol, sink: ByteSink, depth: Int,
      replay: Replay = null): Unit = {
    val n = col.len
    if (n == 0) { header(sink, TRIVIAL, PhysType.Bytes, 0); sink.writeBlock(Array.emptyByteArray); return }
    // locked layout: build only the replayed winner's candidate (strings are
    // where selection is expensive — every gated candidate fully encodes)
    val lockedId: Byte = if (replay != null && !replay.reopen) replay.lockedId else -1
    def want(id: Byte): Boolean = lockedId < 0 || lockedId == id
    // constant?
    var allEq = true
    val l0 = col.offsets(1) - col.offsets(0)
    var i = 1
    while (i < n && allEq) {
      val l = col.offsets(i + 1) - col.offsets(i)
      if (l != l0) allEq = false
      else {
        var k = 0
        while (k < l && allEq) {
          if (col.bytes(col.offsets(i) + k) != col.bytes(col.offsets(0) + k)) allEq = false
          k += 1
        }
      }
      i += 1
    }
    if (allEq) {
      if (replay != null) replay.observe(CONST, full = true)
      header(sink, CONST, PhysType.Bytes, n)
      sink.writeVarint(l0.toLong)
      sink.writeBytes(col.bytes, col.offsets(0), l0)
      return
    }
    val candidates = mutable.ArrayBuffer[(Byte, Array[Byte])]()
    // Trivial: lengths sub-stream + varint total + raw bytes. Built LAST
    // (below): its emitBest cost has an exact floor, so a cheaper candidate
    // skips the whole-payload memcpy.
    def buildTrivial(): Unit = {
      val ts = new ByteSink()
      val lengths = new Array[Long](n)
      var i = 0
      while (i < n) { lengths(i) = (col.offsets(i + 1) - col.offsets(i)).toLong; i += 1 }
      val ls = new ByteSink(); encodeLongs(lengths, PhysType.I32, ls, depth + 1, rchild(replay, TRIVIAL, 0)); ts.writeBlock(ls.toArray)
      ts.writeVarint((col.offsets(n) - col.offsets(0)).toLong)
      ts.writeBytes(col.bytes, col.offsets(0), col.offsets(n) - col.offsets(0))
      candidates += ((TRIVIAL, ts.toArray))
    }
    // bytes candidate pre-filter (trainer part 4): bounded sampled features
    // gate the expensive full build passes; a locked layout and the
    // reference search bypass the gates
    val gated = lockedId < 0 && !referenceSearch.get().booleanValue
    // Prefix (front coding): share a prefix with the previous value —
    // effective on sorted / shared-prefix strings (reference:
    // dwio/nimble/encodings/PrefixEncoding.h:64)
    val prefixGateOk = !gated || n < 2 || {
      val ok = sampledPrefixShared(col) >= PrefixSharedMin
      if (!ok) bytesPrefixSkips.incrementAndGet()
      ok
    }
    if (n > 1 && prefixGateOk && (want(PREFIX) || want(PREFIXR))) {
      val ps = new ByteSink()
      var i2 = 1
      var shared = 0L
      // quick gate: does prefix sharing save anything?
      while (i2 < n) {
        val aOff = col.offsets(i2 - 1); val aLen = col.offsets(i2) - aOff
        val bOff = col.offsets(i2); val bLen = col.offsets(i2 + 1) - bOff
        var k = 0
        val m = math.min(aLen, bLen)
        while (k < m && col.bytes(aOff + k) == col.bytes(bOff + k)) k += 1
        shared += k
        i2 += 1
      }
      if (shared * 4 > col.offsets(n) - col.offsets(0)) { // >25% shared
        // chunks long enough to seek write PREFIXR: identical front coding
        // but the shared prefix resets at every restart (so a point read
        // decodes <= stride entries) and a restart byte-offset index rides
        // ahead of the triples. Short chunks keep the denser legacy PREFIX.
        // a locked layout dictates the front-coding FLAVOR too: a pre-r15
        // PREFIX lock must keep emitting PREFIX (and a PREFIXR lock PREFIXR
        // even on short tail chunks) or lockedSatisfied never holds and the
        // replay fast path degrades to full observations forever
        val stride =
          if (lockedId == PREFIX) 0
          else if (lockedId == PREFIXR) PrefixRestartStride
          else if (n > 2 * PrefixRestartStride) PrefixRestartStride else 0
        val restarts = if (stride > 0) new Array[Long]((n + stride - 1) / stride) else null
        var prevOff = 0; var prevLen = 0
        var i3 = 0
        while (i3 < n) {
          val off = col.offsets(i3); val len = col.offsets(i3 + 1) - off
          var k = 0
          if (stride > 0 && i3 % stride == 0) restarts(i3 / stride) = ps.size.toLong
          else {
            val m = math.min(prevLen, len)
            while (k < m && col.bytes(prevOff + k) == col.bytes(off + k)) k += 1
          }
          ps.writeVarint(k.toLong)
          ps.writeVarint((len - k).toLong)
          ps.writeBytes(col.bytes, off + k, len - k)
          prevOff = off; prevLen = len
          i3 += 1
        }
        if (stride == 0) candidates += ((PREFIX, ps.toArray))
        else {
          val pr = new ByteSink(ps.size + 64)
          pr.writeVarint(stride.toLong)
          val rs = new ByteSink(); encodeLongs(restarts, PhysType.I32, rs, depth + 1, rchild(replay, PREFIXR, 0))
          pr.writeBlock(rs.toArray)
          pr.writeVarint(ps.size.toLong)
          pr.writeBytes(ps.toArray)
          candidates += ((PREFIXR, pr.toArray))
        }
      }
    }
    // Dictionary for low-cardinality strings
    val dictGateOk = !gated || {
      val ok = sampledDistinctFraction(col) <= DictDistinctMax
      if (!ok) bytesDictSkips.incrementAndGet()
      ok
    }
    if (depth < MaxDepth && dictGateOk && want(DICT)) {
      val index = new mutable.HashMap[String, Int]() // key: latin-1 view of bytes (lossless for bytes)
      val order = mutable.ArrayBuffer[(Int, Int)]() // (offset, len) of first occurrence
      val indices = new Array[Long](n)
      var capped = false
      i = 0
      while (i < n && !capped) {
        val off = col.offsets(i)
        val len = col.offsets(i + 1) - off
        val key = new String(col.bytes, off, len, java.nio.charset.StandardCharsets.ISO_8859_1)
        val id2 = index.getOrElseUpdate(key, { order += ((off, len)); index.size })
        indices(i) = id2.toLong
        if (index.size > 1 + n / 3 || index.size > 65536) capped = true
        i += 1
      }
      if (!capped) {
        val ds = new ByteSink()
        // alphabet as a Trivial bytes stream in first-occurrence order
        val aOffs = new Array[Int](order.length + 1)
        var total = 0
        i = 0
        while (i < order.length) { total += order(i)._2; aOffs(i + 1) = total; i += 1 }
        val aBytes = new Array[Byte](total)
        i = 0
        while (i < order.length) { System.arraycopy(col.bytes, order(i)._1, aBytes, aOffs(i), order(i)._2); i += 1 }
        val as = new ByteSink(); encodeBytes(BytesCol(aOffs, aBytes), as, MaxDepth, rchild(replay, DICT, 0)); ds.writeBlock(as.toArray)
        val is = new ByteSink(); encodeLongs(indices, PhysType.I64, is, depth + 1, rchild(replay, DICT, 1)); ds.writeBlock(is.toArray)
        candidates += ((DICT, ds.toArray))
      }
    }
    // FSST: per-chunk trained symbol table (codes 0..253, escape 255+literal)
    // keeps every string independently decodable — unlike chunk-level zstd —
    // while compressing repeated substrings (reference:
    // dwio/nimble/encodings/FsstEncoding.h:79; Boncz/Neumann/Leis FSST paper).
    // Trained on a sample; only fully encoded when the sample compresses.
    val fsstGateOk = !gated || {
      val ok = sampledGram4Fraction(col) <= FsstGram4Max
      if (!ok) bytesFsstSkips.incrementAndGet()
      ok
    }
    if (depth < MaxDepth && fsstGateOk && want(FSST)) {
      val totalBytes = col.offsets(n) - col.offsets(0)
      // short strings are dictionary territory — multi-byte symbols can't
      // pay for the table, and skipping the training keeps writes fast
      if (totalBytes >= 2048 && totalBytes >= 4L * n) {
        val table = Fsst.train(col.bytes, col.offsets(0), math.min(totalBytes, 16384))
        val ratio =
          if (table == null) 1.0
          else Fsst.stridedRatio(table, col.bytes, col.offsets(0), totalBytes)
        if (table != null && ratio < 0.8) {
          val fs = new ByteSink()
          Fsst.writeTable(table, fs)
          // estimate-skip (part 4): the full per-string encode is the most
          // expensive candidate pass; when a built candidate already beats
          // margin x (table + sampled-ratio x payload), FSST is predicted
          // unable to win emitBest and the pass is skipped. The ratio is
          // sampled over strided windows (a head-only sample misreads
          // payloads whose tail compresses differently) and the estimate
          // omits the lengths block; the skip is a trained HEURISTIC — the
          // part-4 drift search pins zero size change on the corpus, and an
          // off-corpus misprediction costs only a larger chunk, never
          // correctness.
          var minOther = Double.MaxValue
          for ((cid, p) <- candidates) {
            val c = p.length * readFactor(cid)
            if (c < minOther) minOther = c
          }
          val estCost = fs.size + ratio * totalBytes // readFactor(FSST) = 1.0
          if (gated && minOther < FsstEstSkipMax * estCost) bytesFsstSkips.incrementAndGet()
          else {
            val encLens = new Array[Long](n)
            val body = new ByteSink(totalBytes / 2 + 64)
            i = 0
            while (i < n) {
              val before = body.size
              Fsst.encode(table, col.bytes, col.offsets(i), col.offsets(i + 1), body)
              encLens(i) = (body.size - before).toLong
              i += 1
            }
            val lse = new ByteSink(); encodeLongs(encLens, PhysType.I32, lse, depth + 1, rchild(replay, FSST, 0))
            fs.writeBlock(lse.toArray)
            fs.writeVarint(body.size.toLong)
            fs.writeBytes(body.toArray)
            candidates += ((FSST, fs.toArray))
          }
        }
      }
    }
    // Trivial last, with an EXACT skip (provably drift-free, so the
    // reference search keeps it too): its payload is >= total + 2 bytes
    // (lengths block >= 1 + varint(total) >= 1 + the raw bytes), so its
    // emitBest cost is >= 0.7 * (total + 2). A candidate already under that
    // floor makes the whole-payload memcpy pointless — Trivial could never
    // win.
    if (want(TRIVIAL)) {
      val total = col.offsets(n) - col.offsets(0)
      var minOther = Double.MaxValue
      for ((id, payload) <- candidates) {
        val c = payload.length * readFactor(id)
        if (c < minOther) minOther = c
      }
      if (candidates.isEmpty || minOther >= 0.7 * (total + 2.0)) buildTrivial()
      else bytesTrivialSkips.incrementAndGet()
    }
    // locked candidate gated out this chunk (e.g. PREFIX stopped paying):
    // fall back to Trivial rather than fail — and record the outcome as a
    // FULL observation so the stale lock re-trains instead of pinning the
    // fallback for the rest of the reopen window
    val lockedSatisfied = lockedId >= 0 && candidates.exists(_._1 == lockedId)
    if (candidates.isEmpty) buildTrivial()
    val winner = emitBest(candidates, PhysType.Bytes, n, sink)
    if (replay != null) replay.observe(winner, full = !lockedSatisfied)
  }

  private def decodeBytesPayload(id: Byte, cur: ByteCursor, n: Int): BytesCol = id match {
    case FSST =>
      val symbols = Fsst.readTable(cur)
      val encLens = decodeValues(cur.readBlock()).asInstanceOf[LongsCol].values
      val totalEnc = cur.readVarint().toInt
      val enc = cur.readBytes(totalEnc)
      val out = new ByteSink(totalEnc * 2 + 64)
      val offs = new Array[Int](n + 1)
      var pos = 0
      var i = 0
      while (i < n) {
        val l = encLens(i).toInt
        offs(i + 1) = offs(i) + Fsst.decode(symbols, enc, pos, pos + l, out)
        pos += l
        i += 1
      }
      Fsst.decodedStrings.add(n.toLong)
      BytesCol(offs, out.toArray)
    case CONST =>
      val l = cur.readVarint().toInt
      val v = cur.readBytes(l)
      val offs = new Array[Int](n + 1)
      val bytes = new Array[Byte](l * n)
      var i = 0
      while (i < n) { System.arraycopy(v, 0, bytes, i * l, l); offs(i + 1) = (i + 1) * l; i += 1 }
      BytesCol(offs, bytes)
    case TRIVIAL =>
      if (n == 0) { cur.readBlock(); return BytesCol(new Array[Int](1), Array.emptyByteArray) }
      val lengths = decodeValues(cur.readBlock()).asInstanceOf[LongsCol].values
      val total = cur.readVarint().toInt
      val bytes = cur.readBytes(total)
      val offs = new Array[Int](n + 1)
      var i = 0
      while (i < n) { offs(i + 1) = offs(i) + lengths(i).toInt; i += 1 }
      BytesCol(offs, bytes)
    case PREFIX | PREFIXR =>
      if (id == PREFIXR) {
        cur.readVarint() // restart stride (point readers only)
        cur.readBlock() // restart offsets
        cur.readVarint() // triples length
      }
      val offs = new Array[Int](n + 1)
      val out = new ByteSink(1024)
      var prevOff = 0; var prevLen = 0
      var i = 0
      while (i < n) {
        val common = cur.readVarint().toInt
        val sufLen = cur.readVarint().toInt
        val start = out.size
        if (common > 0) out.writeBytesFromSelf(prevOff, common)
        out.writeBytes(cur.readBytes(sufLen))
        prevOff = start
        prevLen = common + sufLen
        offs(i + 1) = offs(i) + prevLen
        i += 1
      }
      BytesCol(offs, out.toArray)
    case DICT =>
      val alphabet = decodeValues(cur.readBlock()).asInstanceOf[BytesCol]
      val indices = decodeValues(cur.readBlock()).asInstanceOf[LongsCol].values
      val offs = new Array[Int](n + 1)
      var total = 0
      var i = 0
      while (i < n) {
        val a = indices(i).toInt
        total += alphabet.offsets(a + 1) - alphabet.offsets(a)
        offs(i + 1) = total
        i += 1
      }
      val bytes = new Array[Byte](total)
      i = 0
      while (i < n) {
        val a = indices(i).toInt
        System.arraycopy(alphabet.bytes, alphabet.offsets(a), bytes, offs(i), alphabet.offsets(a + 1) - alphabet.offsets(a))
        i += 1
      }
      BytesCol(offs, bytes)
    case _ => throw new IllegalStateException(s"bad bytes codec $id")
  }

  // -------------------------------------------------- long payload decode

  /** Decode with phys known (called from decodeValues). */
  private def decodeLongPayloadTyped(id: Byte, phys: Byte, cur: ByteCursor, n: Int): Array[Long] = id match {
    case CONST =>
      val v = cur.readZigZag()
      val out = new Array[Long](n)
      java.util.Arrays.fill(out, v)
      out
    case TRIVIAL =>
      val out = new Array[Long](n)
      val bb = java.nio.ByteBuffer.wrap(cur.buf, cur.pos, cur.end - cur.pos)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var i = 0
      phys match {
        case PhysType.I8 =>
          while (i < n) { out(i) = bb.get(cur.pos + i).toLong; i += 1 }
          cur.pos += n
        case PhysType.I16 =>
          while (i < n) { out(i) = bb.getShort(cur.pos + 2 * i).toLong; i += 1 }
          cur.pos += 2 * n
        case PhysType.I32 =>
          while (i < n) { out(i) = bb.getInt(cur.pos + 4 * i).toLong; i += 1 }
          cur.pos += 4 * n
        case _ =>
          while (i < n) { out(i) = bb.getLong(cur.pos + 8 * i); i += 1 }
          cur.pos += 8 * n
      }
      out
    case FOR =>
      val baseline = cur.readZigZag()
      val w = cur.readByte()
      val nBytes = ((n.toLong * w + 7) / 8).toInt
      val out = unpackBits(cur.buf, cur.pos, baseline, w, n)
      cur.pos += nBytes
      out
    case VARINT =>
      val out = new Array[Long](n)
      var i = 0
      while (i < n) { out(i) = cur.readZigZag(); i += 1 }
      out
    case RLE =>
      val lens = decodeValues(cur.readBlock()).asInstanceOf[LongsCol].values
      val vals = decodeValues(cur.readBlock()).asInstanceOf[LongsCol].values
      val out = new Array[Long](n)
      var i = 0
      var r = 0
      while (r < lens.length) {
        var k = 0L
        while (k < lens(r)) { out(i) = vals(r); i += 1; k += 1 }
        r += 1
      }
      out
    case DICT =>
      val alphabet = decodeValues(cur.readBlock()).asInstanceOf[LongsCol].values
      val indices = decodeValues(cur.readBlock()).asInstanceOf[LongsCol].values
      val out = new Array[Long](n)
      var i = 0
      while (i < n) { out(i) = alphabet(indices(i).toInt); i += 1 }
      out
    case DELTA =>
      val first = cur.readZigZag()
      val deltas = decodeValues(cur.readBlock()).asInstanceOf[LongsCol].values
      val out = new Array[Long](n)
      out(0) = first
      var i = 1
      while (i < n) { out(i) = out(i - 1) + deltas(i - 1); i += 1 }
      out
    case MAINLYCONST =>
      val common = cur.readZigZag()
      val boolBlk = cur.readBlock()
      val bc = new ByteCursor(boolBlk.buf, boolBlk.pos, boolBlk.end)
      val boolCodec = bc.readByte()
      if (boolCodec == TRIVIAL) {
        // fast path: fill with the common value, then patch only the
        // exception rows found by scanning the packed bitmap's zero bits —
        // O(exceptions) instead of a branch per row. The bitmap is consumed
        // without decodeValues, so record its view node by hand (viewTree
        // parity: both walkers must show the same two children).
        viewExit(viewEnter(TRIVIAL, PhysType.Bool, n))
        bc.readByte(); bc.readVarint() // phys, rowCount (== n)
        val nBytes = (n + 7) / 8
        val packed = bc.buf
        val base = bc.pos
        val others = decodeValues(cur.readBlock()).asInstanceOf[LongsCol].values
        val out = new Array[Long](n)
        java.util.Arrays.fill(out, common)
        var i = 0
        var j = 0
        while (i < nBytes) {
          var m = (~packed(base + i)) & 0xff
          while (m != 0) {
            val idx = (i << 3) + java.lang.Integer.numberOfTrailingZeros(m)
            if (idx < n) { out(idx) = others(j); j += 1 }
            m &= m - 1
          }
          i += 1
        }
        out
      } else {
        val isCommon = decodeValues(boolBlk).asInstanceOf[BoolsCol].values
        val others = decodeValues(cur.readBlock()).asInstanceOf[LongsCol].values
        val out = new Array[Long](n)
        var i = 0
        var j = 0
        while (i < n) {
          if (isCommon(i)) out(i) = common else { out(i) = others(j); j += 1 }
          i += 1
        }
        out
      }
    case HUFFMAN =>
      val nSym = cur.readVarint().toInt
      val alphabet = decodeValues(cur.readBlock()).asInstanceOf[LongsCol].values
      val lens = new Array[Int](nSym)
      var i = 0
      while (i < nSym) { lens(i) = cur.readByte(); i += 1 }
      Huffman.decode(alphabet, lens, cur, n)
    case SIMDFOR =>
      SimdBitpack.decode(cur, n)
    case PFOR =>
      val baseline = cur.readZigZag()
      val w = cur.readByte()
      val nBytes = ((n.toLong * w + 7) / 8).toInt
      val out = unpackBits(cur.buf, cur.pos, baseline, w, n)
      cur.pos += nBytes
      val pos = decodeValues(cur.readBlock()).asInstanceOf[LongsCol].values
      val highs = decodeValues(cur.readBlock()).asInstanceOf[LongsCol].values
      var i = 0
      while (i < pos.length) {
        val p = pos(i).toInt
        out(p) = baseline + ((out(p) - baseline) | (highs(i) << w))
        i += 1
      }
      out
    case BLOCKBP =>
      val bsz = cur.readVarint().toInt
      val out = new Array[Long](n)
      var b = 0
      while (b < n) {
        val e = math.min(b + bsz, n)
        val bw = cur.readByte()
        if (bw == 64) {
          var i = b
          while (i < e) { out(i) = cur.readLong(); i += 1 }
        } else {
          val baseline = cur.readZigZag()
          val blk = unpackBits(cur.buf, cur.pos, baseline, bw, e - b)
          cur.pos += (((e - b).toLong * bw + 7) / 8).toInt
          System.arraycopy(blk, 0, out, b, e - b)
        }
        b = e
      }
      out
    case SUBINT =>
      val k = cur.readByte()
      val hi = decodeValues(cur.readBlock()).asInstanceOf[LongsCol].values
      val lo = decodeValues(cur.readBlock()).asInstanceOf[LongsCol].values
      val out = new Array[Long](n)
      var i = 0
      while (i < n) { out(i) = (hi(i) << k) | lo(i); i += 1 }
      out
    case FREQPART =>
      val kSel = cur.readVarint().toInt
      val alphabet = decodeValues(cur.readBlock()).asInstanceOf[LongsCol].values
      val codes = decodeValues(cur.readBlock()).asInstanceOf[LongsCol].values
      val excs = decodeValues(cur.readBlock()).asInstanceOf[LongsCol].values
      val out = new Array[Long](n)
      var i = 0
      var j = 0
      while (i < n) {
        val c = codes(i).toInt
        if (c == kSel) { out(i) = excs(j); j += 1 } else out(i) = alphabet(c)
        i += 1
      }
      out
    case DELTABLOCK =>
      val bsz = cur.readVarint().toInt
      val checkpoints = decodeValues(cur.readBlock()).asInstanceOf[LongsCol].values
      val out = new Array[Long](n)
      var b = 0
      var k = 0
      while (b < n) {
        val e = math.min(b + bsz, n)
        val bw = cur.readByte()
        out(b) = checkpoints(k)
        val deltas = unpackBits(cur.buf, cur.pos, 0L, bw, e - b - 1)
        cur.pos += (((e - b - 1).toLong * bw + 7) / 8).toInt
        var i = b + 1
        while (i < e) { out(i) = out(i - 1) + deltas(i - b - 1); i += 1 }
        k += 1
        b = e
      }
      out
    case _ => throw new IllegalStateException(s"bad long codec $id")
  }
}
