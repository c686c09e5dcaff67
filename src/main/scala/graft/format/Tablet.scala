package graft.format

import scala.collection.mutable

/** Physical file layout ("tablet").
  *
  * Mirrors the reference's tablet structure (reference:
  * dwio/nimble/tablet/TabletWriter.h:51, tablet/Footer.fbs:78-83,
  * tablet/Postscript.h:31): stripe data, then a footer (schema, stripe
  * directory, per-stripe stream directory, column stats, sort-key ranges),
  * then a fixed postscript + magic. Metadata is a hand-rolled binary section
  * instead of FlatBuffers; the Spark schema travels as `StructType.json`.
  *
  * Streams are sequences of chunks framed inline
  * ([byteLen i32][rowCount varint][compression u8][encoded payload]) so each
  * chunk is independently decodable with predictable memory — the reference's
  * "block encoding, not stream encoding" property (README.md:47-48). All
  * streams of a stripe chunk at the same top-level row boundaries so a reader
  * can zip chunk k of every projected stream into one output batch.
  */
object Tablet {
  val Magic: Array[Byte] = "GRFT".getBytes("UTF-8")
  // v7: grouped per-stream directory; v6: shared-dict frames; v5: chunk
  // stats. The reader accepts v5-v8 — the chunk-frame and stats wire formats
  // are unchanged since v5, only the footer layout moved: v7 grouped the
  // stream directory, v8 optionally moves the stream-name table + file stats
  // into a hash-bucketized section so very wide tables (tens of thousands of
  // streams, reference README.md:18-20) never parse meta whole. v9 adds the
  // hash-bucket declaration (bucketColumns/numBuckets/bucketId) so co-
  // bucketed tables join without a shuffle (storage-partitioned joins).
  // v10 appends an optional per-column NDV block (256-byte HLL registers per
  // eligible data stream) so table stats can feed the CBO a distinct count.
  // v13 appends a per-(stripe, stream) chunk directory to the directory
  // entries (frame offsets + row counts — reference ChunkStatsWriter.h:80-89)
  // so point probes can fetch candidate chunk byte ranges instead of whole
  // stripe streams, and chunk seeks need no header scan.
  // v14 appends per-chunk min/max/nullCount stats to the chunk directory
  // (the same Stats each data frame already embeds in its header —
  // reference tablet/ChunkStats.fbs, index/ChunkStats.h) so a selective
  // RANGE predicate prunes candidate chunks BEFORE the byte-range fetch,
  // no hash index required.
  // v15 escapes '#' inside flatmap map keys as "##" in stream-key names
  // (Fields.escapeFmKey) — the key grammar becomes unambiguous, so chunk
  // surgery is total on flatmap schemas and the latent "x#nanos"-key vs
  // '#nanos'-sibling stream-name collision is closed. Footer/data wire
  // layout is byte-identical to v14 for keys without '#'.
  val Version: Int = 15

  /** Per-stripe Bloom filter for membership pruning (reference:
    * dwio/nimble/index/BloomFilter.h:34, tablet/BloomFilter.fbs). ~10
    * bits/value, 7 probes via double hashing of XXH64. */
  final class Bloom(val bits: Array[Long]) {
    def this(expectedValues: Int) =
      this(new Array[Long](math.max(64, math.min(expectedValues * 10, 8 << 20)) / 64))
    private val m = bits.length * 64
    def addHash(h: Long): Unit = {
      val h2 = (h >>> 32) | 1L
      var i = 0
      while (i < 7) {
        val pos = java.lang.Math.floorMod(h + i * h2, m.toLong).toInt
        bits(pos >> 6) |= 1L << (pos & 63)
        i += 1
      }
    }
    def mightContain(h: Long): Boolean = {
      val h2 = (h >>> 32) | 1L
      var i = 0
      while (i < 7) {
        val pos = java.lang.Math.floorMod(h + i * h2, m.toLong).toInt
        if ((bits(pos >> 6) & (1L << (pos & 63))) == 0) return false
        i += 1
      }
      true
    }
  }

  def hashLongValue(v: Long): Long = {
    val b = new Array[Byte](8)
    var i = 0
    while (i < 8) { b(i) = (v >> (8 * i)).toByte; i += 1 }
    xxh64(b, 0, 8)
  }
  def hashBytesValue(b: Array[Byte], off: Int, len: Int): Long = xxh64(b, off, len)

  // compression kinds (reference: dwio/nimble/common/Types.h:190-197)
  final val CompNone: Byte = 0
  final val CompZstd: Byte = 1
  final val CompLz4: Byte = 2

  @transient private lazy val lz4 = net.jpountz.lz4.LZ4Factory.fastestInstance()

  /** Accept policy: keep iff compressed <= 0.8 x raw and raw >= per-codec
    * minimum — zstd level 3 min 25B, lz4 min 12B (reference:
    * common/Types.h:217 acceptRatio, compression/COMPRESSION.md:26-33). */
  def compressChunk(raw: Array[Byte], codec: String = "zstd"): (Byte, Array[Byte]) = codec match {
    case "zstd" =>
      if (raw.length < 25) return (CompNone, raw)
      val comp = com.github.luben.zstd.Zstd.compress(raw, 3)
      if (comp.length.toDouble <= raw.length * 0.8) (CompZstd, comp) else (CompNone, raw)
    case "lz4" =>
      if (raw.length < 12) return (CompNone, raw)
      val comp = lz4.fastCompressor().compress(raw)
      if (comp.length.toDouble <= raw.length * 0.8) (CompLz4, comp) else (CompNone, raw)
    case "none" => (CompNone, raw)
    case other => throw new IllegalArgumentException(s"nimble: unknown compression '$other'")
  }

  def decompressChunk(kind: Byte, data: Array[Byte], rawLen: Int): Array[Byte] = kind match {
    case CompNone => data
    case CompZstd => com.github.luben.zstd.Zstd.decompress(data, rawLen)
    case CompLz4 => lz4.fastDecompressor().decompress(data, rawLen)
    case _ => throw new IllegalStateException(s"bad compression $kind")
  }

  // ------------------------------------------------------------- metadata

  /** Typed min/max + null/value counts for one stream in one stripe (or the
    * whole file). Reference: velox/stats/ColumnStatsUtils.h:30-37. */
  final case class Stats(
      var valueCount: Long = 0L,
      var nullCount: Long = 0L,
      var hasMinMax: Boolean = false,
      var minLong: Long = 0L, var maxLong: Long = 0L,
      var minDouble: Double = 0d, var maxDouble: Double = 0d,
      var minBytes: Array[Byte] = null, var maxBytes: Array[Byte] = null,
      var kind: Byte = 0, // PhysType of min/max domain
      var hasNaN: Boolean = false // float/double streams: NaN present (excluded from min/max)
  ) {
    def mergeColumn(col: Column): Unit = {
      val nc = col.nullCount
      nullCount += nc
      valueCount += col.len
      col match {
        case c: LongsCol =>
          kind = c.phys
          var i = 0
          while (i < c.len) {
            if (c.nulls == null || !c.nulls(i)) {
              val v = c.values(i)
              if (!hasMinMax) { minLong = v; maxLong = v; hasMinMax = true }
              else { if (v < minLong) minLong = v; if (v > maxLong) maxLong = v }
            }
            i += 1
          }
        case c: DoublesCol =>
          kind = if (c.isFloat) PhysType.F32 else PhysType.F64
          var i = 0
          while (i < c.len) {
            if (c.nulls == null || !c.nulls(i)) {
              val v = c.values(i)
              if (v.isNaN) hasNaN = true
              else {
                if (!hasMinMax) { minDouble = v; maxDouble = v; hasMinMax = true }
                else { if (v < minDouble) minDouble = v; if (v > maxDouble) maxDouble = v }
              }
            }
            i += 1
          }
        case c: BytesCol =>
          kind = PhysType.Bytes
          var i = 0
          while (i < c.len) {
            if (c.nulls == null || !c.nulls(i)) {
              val v = c(i)
              if (!hasMinMax) { minBytes = trunc(v); maxBytes = trunc(v); hasMinMax = true }
              else {
                if (compareBytes(v, minBytes) < 0) minBytes = trunc(v)
                if (compareBytes(v, maxBytes) > 0) maxBytes = trunc(v)
              }
            }
            i += 1
          }
        case _: BoolsCol => kind = PhysType.Bool
        case _: SparseBoolsCol => kind = PhysType.Bool
        case c: DictBytesCol => // write path never dict-preserves; kept total
          nullCount -= nc; valueCount -= col.len
          mergeColumn(c.expand)
      }
    }
    def merge(o: Stats): Unit = {
      valueCount += o.valueCount
      nullCount += o.nullCount
      // a trailing stripe with default/empty stats must not clobber the
      // accumulated kind (AggPushdown folds stripes in file order)
      if (o.hasMinMax) kind = o.kind
      hasNaN ||= o.hasNaN
      if (o.hasMinMax) {
        if (!hasMinMax) {
          minLong = o.minLong; maxLong = o.maxLong
          minDouble = o.minDouble; maxDouble = o.maxDouble
          minBytes = o.minBytes; maxBytes = o.maxBytes
          hasMinMax = true
        } else {
          if (o.minLong < minLong) minLong = o.minLong
          if (o.maxLong > maxLong) maxLong = o.maxLong
          if (o.minDouble < minDouble) minDouble = o.minDouble
          if (o.maxDouble > maxDouble) maxDouble = o.maxDouble
          if (o.minBytes != null && (minBytes == null || compareBytes(o.minBytes, minBytes) < 0)) minBytes = o.minBytes
          if (o.maxBytes != null && (maxBytes == null || compareBytes(o.maxBytes, maxBytes) > 0)) maxBytes = o.maxBytes
        }
      }
    }
    private def trunc(b: Array[Byte]): Array[Byte] =
      if (b.length <= 64) b.clone() else java.util.Arrays.copyOf(b, 64)
  }

  /** Conservative combined-value bounds for a TimestampMicroNano split
    * column from its micros-stream stats: the logical epoch-nanos value lies
    * in [min*1000, max*1000 + 999]. Saturating multiply: micros near
    * Long.MIN/1000 would wrap and invert the bounds, silently pruning live
    * stripes — clamp to +/-Long extremes instead (bounds stay conservative). */
  def nanosScaledStats(st: Stats): Stats = {
    val out = st.copy()
    if (st.hasMinMax) {
      out.minLong =
        if (st.minLong < Long.MinValue / 1000L) Long.MinValue else st.minLong * 1000L
      out.maxLong =
        if (st.maxLong > (Long.MaxValue - 999L) / 1000L) Long.MaxValue
        else st.maxLong * 1000L + 999L
    }
    out
  }

  def compareBytes(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }

  private[format] def writeStats(s: ByteSink, st: Stats): Unit = {
    s.writeVarint(st.valueCount)
    s.writeVarint(st.nullCount)
    s.writeByte(st.kind)
    s.writeByte(if (st.hasNaN) 1 else 0)
    s.writeByte(if (st.hasMinMax) 1 else 0)
    if (st.hasMinMax) st.kind match {
      case PhysType.F32 | PhysType.F64 => s.writeDouble(st.minDouble); s.writeDouble(st.maxDouble)
      case PhysType.Bytes =>
        s.writeBlock(if (st.minBytes == null) Array.emptyByteArray else st.minBytes)
        s.writeBlock(if (st.maxBytes == null) Array.emptyByteArray else st.maxBytes)
      case _ => s.writeZigZag(st.minLong); s.writeZigZag(st.maxLong)
    }
  }

  private[format] def readStats(c: ByteCursor): Stats = {
    val st = Stats()
    st.valueCount = c.readVarint()
    st.nullCount = c.readVarint()
    st.kind = c.readByte().toByte
    st.hasNaN = c.readByte() != 0
    st.hasMinMax = c.readByte() != 0
    if (st.hasMinMax) st.kind match {
      case PhysType.F32 | PhysType.F64 => st.minDouble = c.readDouble(); st.maxDouble = c.readDouble()
      case PhysType.Bytes =>
        val mb = c.readBlock(); st.minBytes = mb.readBytes(mb.remaining)
        val xb = c.readBlock(); st.maxBytes = xb.readBytes(xb.remaining)
      case _ => st.minLong = c.readZigZag(); st.maxLong = c.readZigZag()
    }
    st
  }

  /** XXH64 over a byte range — the stripe checksum of v<=10 files (and the
    * value-hash family for indexes/blooms, which is wire-frozen). */
  def xxh64(bytes: Array[Byte], off: Int, len: Int): Long =
    net.jpountz.xxhash.XXHashFactory.fastestJavaInstance()
      .hash64().hash(bytes, off, len, 0L)

  /** XXH3_64 over a byte range (reference checksum family:
    * common/Types.h:204 uses XXH3_64). Implementation: the
    * zero-allocation-hashing XXH3 that parquet-column ships (shaded) on
    * every Spark classpath; instances are stateless and thread-safe. */
  private val Xx3 = shaded.parquet.net.openhft.hashing.LongHashFunction.xx3()
  def xxh3(bytes: Array[Byte], off: Int, len: Int): Long =
    Xx3.hashBytes(bytes, off, len)

  /** Stripe checksum rule, keyed by FILE VERSION (a new scheme always gets
    * a new version — the interim whole-span XXH3 shipped as v11, so v11
    * files keep verifying under it).
    *  - v<=10: XXH64 over the whole stripe span.
    *  - v11:   XXH3_64 over the whole stripe span.
    *  - v12+:  XXH3_64 over the little-endian concatenation of each
    *    NON-EMPTY stream's XXH3_64, in stream-id order
    *    ([[combineStreamHashes]]). XXH3 has no streaming API on this
    *    classpath; hashing per stream lets the writer emit buffers as it
    *    goes (no whole-stripe concatenation, no 2GB cap, no doubled flush
    *    memory) and lets verifiers read stream-by-stream. Empty streams are
    *    EXCLUDED because streams register lazily (a flatmap key or index
    *    stream first seen in a later stripe back-fills earlier stripes with
    *    zero-length locs AFTER those stripes hashed) — an empty stream has
    *    no bytes to corrupt, and exclusion makes writer and verifier agree
    *    regardless of when the stream appeared. */
  def stripeChecksumOf(version: Int, span: Array[Byte], streamLengths: Array[Long]): Long =
    if (version <= 10) xxh64(span, 0, span.length)
    else if (version == 11) xxh3(span, 0, span.length)
    else {
      val hashes = scala.collection.mutable.ArrayBuffer[Long]()
      var off = 0
      var i = 0
      while (i < streamLengths.length) {
        val len = streamLengths(i).toInt
        if (len > 0) hashes += xxh3(span, off, len)
        off += len
        i += 1
      }
      combineStreamHashes(hashes.toArray)
    }

  /** v12 combined stripe checksum from per-(non-empty-)stream XXH3 hashes —
    * the building block large-stripe verifiers use to avoid materializing
    * the whole span. */
  def combineStreamHashes(hashes: Array[Long]): Long = {
    val hs = new Array[Byte](8 * hashes.length)
    var i = 0
    while (i < hashes.length) {
      var b = 0
      while (b < 8) { hs(8 * i + b) = (hashes(i) >>> (8 * b)).toByte; b += 1 }
      i += 1
    }
    xxh3(hs, 0, hs.length)
  }

  /** Per-stripe, per-stream location within the file. */
  final case class StreamLoc(offset: Long, length: Long)

  /** Slim per-stripe core (O(1) per stripe in the footer). Per-stream
    * locations/stats/blooms live in the grouped stream directory. */
  final case class StripeInfo(offset: Long, length: Long, rowCount: Long, checksum: Long = 0L)

  /** Location of one stripe group's directory section in the file. */
  final case class GroupLoc(offset: Long, length: Long)

  /** One frame of a stream's chunk directory: byte offset of the frame
    * within the stream; `rows` = value count of a data frame (0 for
    * alphabet frames); `isData` = false for shared-dictionary alphabet
    * frames (which are NOT data chunks — chunk ordinals count data frames
    * only, but a sparse fetch must still carry the alphabets its candidate
    * chunks decode through). Reference: tablet/ChunkStatsWriter.h:80-89
    * (chunkRows + chunkOffsets per stream per stripe — the chunk-level
    * position index behind ChunkedDecoder::skipWithIndex).
    *
    * `stats` (v14+): the chunk's min/max/nullCount — the same Stats the data
    * frame embeds in its header, lifted into the directory so candidate
    * pruning happens BEFORE the fetch (null: alphabet frames, flag-0 frames,
    * pre-v14 files, stats-capped many-frame streams). */
  final case class ChunkLoc(offset: Long, rows: Long, isData: Boolean,
      stats: Stats = null)

  /** One stream's directory entry for one stripe. `bloom` null when absent;
    * `chunks` (v13+) is the stream's chunk directory, null when absent
    * (pre-v13 files, index streams, capped-out streams). */
  final case class DirEntry(loc: StreamLoc, stats: Stats, bloom: Bloom,
      chunks: Array[ChunkLoc] = null)

  /** Stripes per directory group (reference: dwio/nimble/tablet/
    * TabletWriter.h:179 metadataFlushThreshold / Footer.fbs:38 stripe
    * groups): the stream directory is chunked per N stripes and laid out
    * per-STREAM inside each group, so a reader fetches metadata proportional
    * to (projected streams x stripes), never (all streams x all stripes). */
  val DirGroupSize: Int = 32

  final case class Footer(
      version: Int,
      schemaJson: String,
      sortColumns: Seq[String], // declared sort order (ClusterIndex-lite)
      rowCount: Long,
      /** Stream names in id order when stored inline (narrow tables and all
        * pre-v8 files); null when the meta section holds them (wide). */
      inlineKeys: Array[String],
      stripes: Array[StripeInfo],
      groupSize: Int,
      groups: Array[GroupLoc],
      /** File-level stats in id order when inline; null when sectioned. */
      inlineStats: Array[Stats],
      /** v5/v6 compatibility: those footers embed the whole stream directory
        * (stripe-major), parsed here at footer-read time; null for v7+ files
        * (whose directory lives in grouped sections read on demand). */
      legacyDir: Array[Array[DirEntry]] = null,
      /** v8 wide tables: hash-bucketized (name, id, file-stats) section —
        * probes read one bucket, never the whole table (the FlatBuffers
        * partial-access property, reference: README.md:44-45,
        * tablet/Footer.fbs:70 named optional sections). */
      metaLoc: GroupLoc = GroupLoc(0L, 0L),
      nBuckets: Int = 0,
      /** Relative END offset of each bucket inside the meta section
        * (bounded: 8 B x 256, read with the footer). */
      bucketEnds: Array[Long] = null,
      /** Total stream count (known without loading the name table). */
      streamCount: Int = -1,
      /** Set by the Reader so lazy full-meta loads can reopen the file. */
      filePath: String = null,
      /** v9 hash-bucket declaration: every row r in this file satisfies
        * pmod(murmur3_32(r(bucketColumns), seed 42), numBuckets) == bucketId
        * (Spark HashPartitioning's function, so a clustered write lands
        * partition id == bucket id). numBuckets == 0 means unbucketed. */
      bucketColumns: Seq[String] = Nil,
      numBucketsSpec: Int = 0,
      bucketId: Int = -1,
      /** v10: per-column HLL registers ([[Hll]]) keyed by stream name —
        * distinct-count estimates for the CBO, mergeable across files. */
      ndvSketches: Map[String, Array[Byte]] = Map.empty) {
    /** (group << 32 | streamId) -> that group's per-stripe entries. Lives on
      * the Footer value — which the sources cache per JVM — so planning and
      * every task in the JVM share one fetch per (group, stream). */
    @transient lazy val dirCache: java.util.concurrent.ConcurrentHashMap[Long, Array[DirEntry]] =
      new java.util.concurrent.ConcurrentHashMap[Long, Array[DirEntry]]()

    /** name -> (id, fileStats); id -1 caches a miss. Shared per JVM via the
      * footer cache, filled one hash bucket at a time. */
    @transient lazy val keyIdCache: java.util.concurrent.ConcurrentHashMap[String, (Int, Stats)] =
      new java.util.concurrent.ConcurrentHashMap[String, (Int, Stats)]()

    def nStreams: Int = if (inlineKeys != null) inlineKeys.length else streamCount

    @transient @volatile private var fullMeta: (Array[String], Array[Stats]) = null

    /** Whole-table meta (tools, prefix listings, legacy consumers). Wide
      * files load the full section once and cache it on the footer; bounded
      * consumers should use Reader.keyId / fileStatsOf probes instead. */
    private def ensureFull(): (Array[String], Array[Stats]) = {
      if (inlineKeys != null) return (inlineKeys, inlineStats)
      var m = fullMeta
      if (m == null) synchronized {
        m = fullMeta
        if (m == null) {
          require(filePath != null, "nimble: wide footer detached from its file")
          val in = GraftIO.open(filePath)
          try {
            val bytes = new Array[Byte](metaLoc.length.toInt)
            in.readFully(metaLoc.offset, bytes)
            val names = new Array[String](streamCount)
            val stats = new Array[Stats](streamCount)
            val c = new ByteCursor(bytes)
            var n = 0
            while (n < streamCount) {
              c.readLong() // hash
              val id = c.readVarint().toInt
              val nameLen = c.readVarint().toInt
              val name = new String(c.readBytes(nameLen), "UTF-8")
              names(id) = name
              stats(id) = readStats(c)
              n += 1
            }
            m = (names, stats)
            fullMeta = m
          } finally in.close()
        }
      }
      m
    }

    def streamKeys: Array[String] = ensureFull()._1
    def fileStats: Array[Stats] = ensureFull()._2

    /** Stream names only if already resident (inline footer, or the full
      * meta section was loaded earlier); null otherwise. Per-task consumers
      * that merely ENUMERATE names (e.g. composite-index discovery) use this
      * so they never fault in O(table-width) metadata on a wide footer. */
    def loadedStreamKeys: Array[String] =
      if (inlineKeys != null) inlineKeys
      else { val m = fullMeta; if (m == null) null else m._1 }
  }

  /** Streams with more frames than this drop their chunk directory (a
    * pathological tiny-chunk stream would bloat the metadata section; the
    * reader falls back to whole-stream fetch + header-scan skip). */
  private[format] val MaxDirFrames = 4096

  /** Streams with more frames than this keep their offsets/rows directory
    * but drop the v14 per-chunk stats (bounds the stats block — a 64-byte-
    * truncated string bound pair is ~140 B/frame; beyond this many chunks
    * the stripe-level stats + in-frame header stats carry the pruning). */
  private[format] val MaxDirStatsFrames = 256

  /** Parse the INLINE stats of the chunk frame starting at `offset` within
    * a stream's bytes (`[compLen i32][rawLen varint][kind u8][flag u8]
    * [stats when flag==1]...`) — null when the frame carries none (alphabet
    * frames). Chunk surgery uses this to RECOVER per-chunk stats on stripes
    * whose footer directory dropped them ([[MaxDirStatsFrames]]): the frame
    * header holds the SAME serialized Stats the directory would have, so
    * recovered stats fold exactly. */
  private[graft] def frameStats(bytes: Array[Byte], offset: Int): Stats = {
    val cur = new ByteCursor(bytes, offset + 4, bytes.length)
    cur.readVarint()
    cur.readByte()
    val flag = cur.readByte()
    if (flag == 1) readStats(cur) else null
  }

  private[format] def writeDirEntry(s: ByteSink, loc: StreamLoc, st: Stats, bloom: Bloom,
      chunks: Array[ChunkLoc]): Unit = {
    s.writeVarint(loc.offset)
    s.writeVarint(loc.length)
    writeStats(s, st)
    if (bloom == null) s.writeByte(0)
    else {
      s.writeByte(1)
      s.writeVarint(bloom.bits.length.toLong)
      var bi = 0
      while (bi < bloom.bits.length) { s.writeLong(bloom.bits(bi)); bi += 1 }
    }
    // v13 chunk directory: frame count, then per frame the byte-offset
    // delta and (rows << 1 | isData)
    if (chunks == null || chunks.length > MaxDirFrames) s.writeVarint(0L)
    else {
      s.writeVarint(chunks.length.toLong)
      var prev = 0L
      var ci = 0
      while (ci < chunks.length) {
        val cl = chunks(ci)
        s.writeVarint(cl.offset - prev); prev = cl.offset
        s.writeVarint((cl.rows << 1) | (if (cl.isData) 1L else 0L))
        ci += 1
      }
      // v14 per-chunk stats block (appended so the offsets/rows layout above
      // stays byte-identical to v13): presence byte + Stats per frame;
      // many-frame streams cap out to bound the metadata section
      val withStats = chunks.length <= MaxDirStatsFrames
      ci = 0
      while (ci < chunks.length) {
        val st = if (withStats) chunks(ci).stats else null
        if (st == null) s.writeByte(0)
        else { s.writeByte(1); writeStats(s, st) }
        ci += 1
      }
    }
  }

  private[format] def readDirEntries(c: ByteCursor, n: Int, version: Int): Array[DirEntry] = {
    val out = new Array[DirEntry](n)
    var i = 0
    while (i < n) {
      val loc = StreamLoc(c.readVarint(), c.readVarint())
      val st = readStats(c)
      val bloom =
        if (c.readByte() == 0) null
        else {
          val nw = c.readVarint().toInt
          val bits = new Array[Long](nw)
          var bi = 0
          while (bi < nw) { bits(bi) = c.readLong(); bi += 1 }
          new Bloom(bits)
        }
      val chunks =
        if (version < 13) null
        else {
          val nf = c.readVarint().toInt
          if (nf == 0) null
          else {
            val arr = new Array[ChunkLoc](nf)
            var off = 0L
            var ci = 0
            while (ci < nf) {
              off += c.readVarint()
              val rf = c.readVarint()
              arr(ci) = ChunkLoc(off, rf >>> 1, (rf & 1L) == 1L)
              ci += 1
            }
            if (version >= 14) {
              ci = 0
              while (ci < nf) {
                if (c.readByte() != 0) arr(ci) = arr(ci).copy(stats = readStats(c))
                ci += 1
              }
            }
            arr
          }
        }
      out(i) = DirEntry(loc, st, bloom, chunks)
      i += 1
    }
    out
  }

  /** Footer-core compression marker: the first footer byte is otherwise the
    * format version (a small positive), so 0xFF is unambiguous. Wrapped
    * layout: [0xFF][varint rawLen][zstd bytes]. Motivation (r15 VERDICT #4):
    * at the bench's 32-file layout the per-file footer — schema JSON, file
    * stats, NDV registers — is a whole-percent fraction of the table; the
    * bytes are low-entropy (JSON, rank bytes) and compress ~3x. Cluster-
    * scale files amortize this to ~0 either way; small files stop paying. */
  private final val FooterCompressed: Byte = 0xFF.toByte

  /** Hard ceiling on a decompressed footer. The largest legitimate footers
    * (2000-key flatmap name tables + per-stream stats + NDV registers) sit
    * well under 16 MB; 256 MB leaves two orders of magnitude of headroom
    * while keeping a corrupt length varint from forcing a 2 GB allocation. */
  private final val MaxFooterBytes: Int = 256 << 20

  def writeFooter(f: Footer): Array[Byte] = {
    val raw = writeFooterRaw(f)
    if (raw.length < 512) return raw // tiny footers: wrapper overhead territory
    val z = com.github.luben.zstd.Zstd.compress(raw, 3)
    if (z.length + 8 >= raw.length) return raw
    val s = new ByteSink(z.length + 8)
    s.writeByte(FooterCompressed)
    s.writeVarint(raw.length.toLong)
    s.writeBytes(z)
    s.toArray
  }

  /** Uncompressed footer core — exposed to the legacy-footer synthesizers,
    * which patch the version byte at offset 0 (patching the compressed
    * wrapper would corrupt it). */
  private[format] def writeFooterRaw(f: Footer): Array[Byte] = {
    val s = new ByteSink(1 << 16)
    // the footer carries the version the WRITER computed (minimum-required
    // stamping: 14 unless the stream keys need v15 escape semantics)
    s.writeByte(f.version)
    s.writeBlock(f.schemaJson.getBytes("UTF-8"))
    s.writeVarint(f.sortColumns.length.toLong)
    f.sortColumns.foreach(c => s.writeBlock(c.getBytes("UTF-8")))
    // v9 bucket declaration (bucketId stored +1 so "unbucketed" is varint 0)
    s.writeVarint(f.bucketColumns.length.toLong)
    f.bucketColumns.foreach(c => s.writeBlock(c.getBytes("UTF-8")))
    s.writeVarint(f.numBucketsSpec.toLong)
    s.writeVarint((f.bucketId + 1).toLong)
    s.writeVarint(f.rowCount)
    val sectioned = f.inlineKeys == null
    s.writeByte(if (sectioned) 1 else 0)
    s.writeVarint(f.nStreams.toLong)
    if (!sectioned) f.inlineKeys.foreach(k => s.writeBlock(k.getBytes("UTF-8")))
    s.writeVarint(f.stripes.length.toLong)
    for (st <- f.stripes) {
      s.writeVarint(st.offset)
      s.writeVarint(st.length)
      s.writeVarint(st.rowCount)
      s.writeLong(st.checksum)
    }
    s.writeVarint(f.groupSize.toLong)
    s.writeVarint(f.groups.length.toLong)
    for (g <- f.groups) { s.writeVarint(g.offset); s.writeVarint(g.length) }
    if (sectioned) {
      s.writeVarint(f.metaLoc.offset)
      s.writeVarint(f.metaLoc.length)
      s.writeVarint(f.nBuckets.toLong)
      f.bucketEnds.foreach(e => s.writeVarint(e))
    } else {
      for (x <- f.inlineStats) writeStats(s, x)
    }
    // v10 trailing NDV block: [count][key block + 256 registers]...
    s.writeVarint(f.ndvSketches.size.toLong)
    for ((k, regs) <- f.ndvSketches) {
      s.writeBlock(k.getBytes("UTF-8"))
      s.writeBytes(regs)
    }
    s.toArray
  }

  def readFooter(bytes: Array[Byte], filePath: String = null): Footer = {
    if (bytes.length > 0 && bytes(0) == FooterCompressed) {
      val c0 = new ByteCursor(bytes)
      c0.readByte()
      val rawLen = c0.readVarint().toInt
      // bound before allocating: a corrupt varint must not force an
      // arbitrary multi-GB allocation, and a short decompress must fail
      // loudly rather than leave a zero-filled tail that parses as garbage
      require(rawLen > 0 && rawLen <= MaxFooterBytes,
        s"nimble: compressed footer claims $rawLen raw bytes (max $MaxFooterBytes); corrupt footer")
      val raw = new Array[Byte](rawLen)
      val got = com.github.luben.zstd.Zstd.decompressByteArray(raw, 0, rawLen,
        bytes, c0.pos, bytes.length - c0.pos)
      require(!com.github.luben.zstd.Zstd.isError(got) && got == rawLen.toLong,
        s"nimble: footer decompressed to $got bytes, expected $rawLen; corrupt footer")
      return readFooter(raw, filePath)
    }
    val c = new ByteCursor(bytes)
    val version = c.readByte()
    // v5/v6 footers embed the stream directory; v7 moved it to grouped
    // sections; v8 optionally sections the name table + file stats. All
    // parse here (the chunk-frame and stats wire formats are unchanged since
    // v5); anything else would silently mis-parse, so fail loudly. The
    // reference keeps old stripe metadata readable the same way.
    if (version == 5 || version == 6) return readLegacyFooter(version, c)
    require(version >= 7 && version <= Version,
      s"nimble: file format v$version not readable by this v$Version reader; rewrite the file")
    val sj = c.readBlock(); val schemaJson = new String(sj.readBytes(sj.remaining), "UTF-8")
    val nSort = c.readVarint().toInt
    val sortCols = (0 until nSort).map { _ =>
      val b = c.readBlock(); new String(b.readBytes(b.remaining), "UTF-8")
    }
    var bucketCols: Seq[String] = Nil
    var numBuckets = 0
    var bucketId = -1
    if (version >= 9) {
      val nB = c.readVarint().toInt
      bucketCols = (0 until nB).map { _ =>
        val b = c.readBlock(); new String(b.readBytes(b.remaining), "UTF-8")
      }
      numBuckets = c.readVarint().toInt
      bucketId = c.readVarint().toInt - 1
    }
    val rowCount = c.readVarint()
    val sectioned = version >= 8 && c.readByte() == 1
    val nStreams = c.readVarint().toInt
    val keys = if (sectioned) null else new Array[String](nStreams)
    var i = 0
    if (!sectioned) while (i < nStreams) {
      val b = c.readBlock(); keys(i) = new String(b.readBytes(b.remaining), "UTF-8"); i += 1
    }
    val nStripes = c.readVarint().toInt
    val stripes = new Array[StripeInfo](nStripes)
    var sI = 0
    while (sI < nStripes) {
      stripes(sI) = StripeInfo(c.readVarint(), c.readVarint(), c.readVarint(), c.readLong())
      sI += 1
    }
    val groupSize = c.readVarint().toInt
    val nGroups = c.readVarint().toInt
    val groups = new Array[GroupLoc](nGroups)
    i = 0
    while (i < nGroups) { groups(i) = GroupLoc(c.readVarint(), c.readVarint()); i += 1 }
    def readNdv(): Map[String, Array[Byte]] =
      if (version < 10) Map.empty
      else {
        val n = c.readVarint().toInt
        val b = Map.newBuilder[String, Array[Byte]]
        var j = 0
        while (j < n) {
          val kb = c.readBlock()
          val key = new String(kb.readBytes(kb.remaining), "UTF-8")
          b += key -> c.readBytes(Hll.Registers)
          j += 1
        }
        b.result()
      }
    if (sectioned) {
      val metaLoc = GroupLoc(c.readVarint(), c.readVarint())
      val nBuckets = c.readVarint().toInt
      val ends = new Array[Long](nBuckets)
      i = 0
      while (i < nBuckets) { ends(i) = c.readVarint(); i += 1 }
      Footer(version, schemaJson, sortCols, rowCount, null, stripes, groupSize, groups,
        null, metaLoc = metaLoc, nBuckets = nBuckets, bucketEnds = ends,
        streamCount = nStreams, filePath = filePath,
        bucketColumns = bucketCols, numBucketsSpec = numBuckets, bucketId = bucketId,
        ndvSketches = readNdv())
    } else {
      val fileStats = new Array[Stats](nStreams)
      i = 0
      while (i < nStreams) { fileStats(i) = readStats(c); i += 1 }
      Footer(version, schemaJson, sortCols, rowCount, keys, stripes, groupSize, groups, fileStats,
        bucketColumns = bucketCols, numBucketsSpec = numBuckets, bucketId = bucketId,
        ndvSketches = readNdv())
    }
  }

  /** Parse a v5/v6 footer (stream directory embedded per stripe: blooms,
    * then locations, then stats) into the v7 in-memory shape — groupSize 1
    * with the directory preloaded in [[Footer.legacyDir]], so every read
    * path downstream of [[Reader.dirEntries]] works unchanged. */
  private def readLegacyFooter(version: Int, c: ByteCursor): Footer = {
    val sj = c.readBlock(); val schemaJson = new String(sj.readBytes(sj.remaining), "UTF-8")
    val nSort = c.readVarint().toInt
    val sortCols = (0 until nSort).map { _ =>
      val b = c.readBlock(); new String(b.readBytes(b.remaining), "UTF-8")
    }
    val rowCount = c.readVarint()
    val nStreams = c.readVarint().toInt
    val keys = new Array[String](nStreams)
    var i = 0
    while (i < nStreams) {
      val b = c.readBlock(); keys(i) = new String(b.readBytes(b.remaining), "UTF-8"); i += 1
    }
    val nStripes = c.readVarint().toInt
    val stripes = new Array[StripeInfo](nStripes)
    val dir = new Array[Array[DirEntry]](nStripes)
    var sI = 0
    while (sI < nStripes) {
      val off = c.readVarint(); val len = c.readVarint(); val rc = c.readVarint()
      val checksum = c.readLong()
      val nBlooms = c.readVarint().toInt
      val blooms = (0 until nBlooms).map { _ =>
        val id = c.readVarint().toInt
        val nw = c.readVarint().toInt
        val bits = new Array[Long](nw)
        var bi = 0
        while (bi < nw) { bits(bi) = c.readLong(); bi += 1 }
        id -> new Bloom(bits)
      }.toMap
      val locs = new Array[StreamLoc](nStreams)
      i = 0
      while (i < nStreams) { locs(i) = StreamLoc(c.readVarint(), c.readVarint()); i += 1 }
      val entries = new Array[DirEntry](nStreams)
      i = 0
      while (i < nStreams) {
        entries(i) = DirEntry(locs(i), readStats(c), blooms.getOrElse(i, null))
        i += 1
      }
      stripes(sI) = StripeInfo(off, len, rc, checksum)
      dir(sI) = entries
      sI += 1
    }
    val fileStats = new Array[Stats](nStreams)
    i = 0
    while (i < nStreams) { fileStats(i) = readStats(c); i += 1 }
    Footer(version, schemaJson, sortCols, rowCount, keys, stripes,
      groupSize = 1, groups = Array.empty, fileStats, legacyDir = dir)
  }

  // --------------------------------------------------------------- writer

  /** Anything that accepts encoded chunks per stream id (the tablet writer,
    * or the row-batch serializer's collector). */
  trait ChunkSink {
    def writeChunk(id: Int, col: Column): Unit
  }

  /** Streaming tablet writer. Chunks are framed and buffered per stream until
    * the stripe flushes (size- or row-bound), keeping writer memory bounded
    * like the reference's flush policy (writer/FlushPolicy.h:74,114). */
  /** Hidden per-stripe hash-index stream for `column` (never part of the
    * schema, so scans ignore it): `[count i32][xxh64(key) 8B * count]
    * [(chunk<<32 | rowInChunk) 8B * count]`, sorted by (hash, position).
    * The exact point-lookup analog of the reference's HashIndex
    * (dwio/nimble/index/HashIndex.h:57 — key -> row ids), scoped per stripe
    * so the footer stays bounded and the index reads with the stripe. */
  /** Above this stream count the writer sections the name table + file
    * stats out of the footer core (v8 wide mode). */
  val WideMetaStreams: Int = 1024
  /** Power of two; 10K streams -> ~40 entries (~2 KB) per probe bucket. */
  val MetaBuckets: Int = 256

  def indexStreamKey(column: String): String = "#idx:" + column

  /** Hidden per-stripe SORTED index stream for `column` (range-probe analog
    * of the reference's SortedIndex, dwio/nimble/index/SortedIndex.h:48 +
    * IndexLookup.h:55-65): same `[count i32][key 8B * count][pos 8B * count]`
    * layout as the hash index but sorted by (sortKey, position), where
    * sortKey is the value itself for integral columns and an order-preserving
    * 8-byte big-endian prefix (KeyEncoding-lite, index/KeyEncoding.h:30-44)
    * for strings/binary — a binary search brackets [lo, hi] and only the
    * bracketed chunks decode; prefix-collision boundaries re-verify against
    * the real key chunk. */
  def sortedIndexStreamKey(column: String): String = "#sidx:" + column

  /** Composite sorted index stream (the SortedIndex over KeyEncoder-encoded
    * composite keys — reference: dwio/nimble/index/SortedIndex.h:48 +
    * index/KeyEncoding.h:30-44): per stripe,
    * `[count i32][pos 8B*count][offsets 4B*(count+1)][key bytes]` sorted by
    * the memcomparable [[KeyCodec]] encoding of the member tuple, positions
    * as (chunk<<32|row). Every row is indexed — null members carry the
    * codec's 0x00 presence tag, so prefix probes still bracket rows whose
    * UNCONSTRAINED trailing members are null, while a null in a constrained
    * member sorts outside the probe's bracket (SQL comparison semantics).
    * Declared via `indexColumns=a+b`. */
  def compositeIndexStreamKey(cols: Seq[String]): String = "#cidx:" + cols.mkString("+")

  /** Order-preserving 8-byte key for bytes: big-endian first-8 prefix,
    * zero-padded, with the sign bit flipped so unsigned lexicographic order
    * matches signed-long order. Monotone: a <= b (bytewise, shorter-prefix-
    * first) implies key(a) <= key(b); ties only between values sharing an
    * 8-byte prefix, which the probe re-verifies. */
  def bytesSortKey(b: Array[Byte], off: Int, len: Int): Long = {
    var k = 0L
    var i = 0
    while (i < 8) { k = (k << 8) | (if (i < len) b(off + i) & 0xffL else 0L); i += 1 }
    k ^ Long.MinValue
  }

  /** Growable primitive long buffer (no boxing on the indexed-write path). */
  private[format] final class LongVec(initial: Int = 1024) {
    private var a = new Array[Long](initial)
    private var n = 0
    def add(v: Long): Unit = {
      if (n == a.length) a = java.util.Arrays.copyOf(a, n << 1)
      a(n) = v; n += 1
    }
    def size: Int = n
    def apply(i: Int): Long = a(i)
  }

  /** Growable primitive (key, value) pair buffer with an in-place sort by
    * (key asc, value asc) — the layout both hash and sorted index streams
    * need. Dual-array three-way quicksort with insertion-sort leaves; no
    * per-element allocation at any point. */
  private[format] final class LongPairVec(initial: Int = 1024) {
    private var ks = new Array[Long](initial)
    private var vs = new Array[Long](initial)
    private var n = 0
    def add(k: Long, v: Long): Unit = {
      if (n == ks.length) {
        ks = java.util.Arrays.copyOf(ks, n << 1)
        vs = java.util.Arrays.copyOf(vs, n << 1)
      }
      ks(n) = k; vs(n) = v; n += 1
    }
    def size: Int = n
    def key(i: Int): Long = ks(i)
    def value(i: Int): Long = vs(i)
    /** Backing arrays (valid up to [[size]]) — bulk serialization handoff. */
    def keysArray: Array[Long] = ks
    def valuesArray: Array[Long] = vs
    private def less(k1: Long, v1: Long, k2: Long, v2: Long): Boolean =
      k1 < k2 || (k1 == k2 && v1 < v2)
    private def swap(i: Int, j: Int): Unit = {
      val tk = ks(i); ks(i) = ks(j); ks(j) = tk
      val tv = vs(i); vs(i) = vs(j); vs(j) = tv
    }
    def sortPairs(): Unit =
      if (n > 1) {
        // Index-entry positions are appended in (chunk, row) order, so within
        // equal keys insertion order IS ascending value order — a STABLE sort
        // by key alone yields the full (key asc, value asc) contract without
        // ever touching the value words. The O(n) prescan makes that
        // assumption safe for any future caller: non-monotonic values fall
        // back to the comparison sort. Small buffers also stay on quicksort
        // (radix's histogram + temp arrays only pay off past ~8K entries;
        // at the hash-index shape — millions of uniform 64-bit hashes per
        // stripe flush — radix runs ~3x faster with identical output).
        var mono = n >= (1 << 13)
        if (mono) {
          var i = 1
          while (mono && i < n) { mono = vs(i - 1) < vs(i); i += 1 }
        }
        if (mono) radixByKey() else quick(0, n - 1)
      }

    /** Stable LSD radix sort by key (16-bit digits, ≤4 passes; constant
      * digits skip their scatter — small-domain sorted-index keys finish in
      * 1-2 passes). The top digit XORs the sign bit so signed key order
      * falls out of unsigned digit order, matching [[quick]]'s comparator
      * exactly. */
    private def radixByKey(): Unit = {
      var srcK = ks; var srcV = vs
      var dstK: Array[Long] = null; var dstV: Array[Long] = null
      val count = new Array[Int](1 << 16)
      var pass = 0
      while (pass < 4) {
        val shift = pass << 4
        val signFlip = if (pass == 3) 0x8000 else 0
        java.util.Arrays.fill(count, 0)
        var i = 0
        while (i < n) {
          count((((srcK(i) >>> shift) & 0xffffL).toInt) ^ signFlip) += 1
          i += 1
        }
        // a digit shared by every key sorts nothing: skip the scatter
        val firstDigit = (((srcK(0) >>> shift) & 0xffffL).toInt) ^ signFlip
        if (count(firstDigit) != n) {
          if (dstK == null) { dstK = new Array[Long](n); dstV = new Array[Long](n) }
          var sum = 0; var d = 0
          while (d < (1 << 16)) { val c = count(d); count(d) = sum; sum += c; d += 1 }
          i = 0
          while (i < n) {
            val dig = (((srcK(i) >>> shift) & 0xffffL).toInt) ^ signFlip
            val p = count(dig); count(dig) = p + 1
            dstK(p) = srcK(i); dstV(p) = srcV(i)
            i += 1
          }
          val tk = srcK; srcK = dstK; dstK = tk
          val tv = srcV; srcV = dstV; dstV = tv
        }
        pass += 1
      }
      ks = srcK; vs = srcV // capacity n is fine: add() grows from n == length
    }
    private def quick(lo0: Int, hi0: Int): Unit = {
      var lo = lo0; var hi = hi0
      while (hi - lo >= 24) {
        // median-of-three pivot, then three-way partition (duplicate hashes
        // are common: equal keys collapse into the middle band)
        val mid = lo + ((hi - lo) >>> 1)
        if (less(ks(mid), vs(mid), ks(lo), vs(lo))) swap(lo, mid)
        if (less(ks(hi), vs(hi), ks(lo), vs(lo))) swap(lo, hi)
        if (less(ks(hi), vs(hi), ks(mid), vs(mid))) swap(mid, hi)
        val pk = ks(mid); val pv = vs(mid)
        var lt = lo; var gt = hi; var i = lo
        while (i <= gt) {
          if (less(ks(i), vs(i), pk, pv)) { swap(lt, i); lt += 1; i += 1 }
          else if (less(pk, pv, ks(i), vs(i))) { swap(i, gt); gt -= 1 }
          else i += 1
        }
        // recurse into the smaller side, loop on the larger (O(log n) stack)
        if (lt - lo < hi - gt) { quick(lo, lt - 1); lo = gt + 1 }
        else { quick(gt + 1, hi); hi = lt - 1 }
      }
      var i = lo + 1
      while (i <= hi) {
        val k = ks(i); val v = vs(i)
        var j = i - 1
        while (j >= lo && less(k, v, ks(j), vs(j))) { ks(j + 1) = ks(j); vs(j + 1) = vs(j); j -= 1 }
        ks(j + 1) = k; vs(j + 1) = v
        i += 1
      }
    }
  }

  final class Writer(
      path: String,
      schemaJson: String,
      streamKeys: Array[String],
      sortColumns: Seq[String] = Nil,
      bloomColumns: Set[String] = Set.empty,
      compression: String = "zstd",
      indexColumns: Set[String] = Set.empty,
      bucketColumns: Seq[String] = Nil,
      numBuckets: Int = 0,
      bucketId: Int = -1,
      ndvSketches: Boolean = true,
      /** Chunk surgery ([[graft.ops.Surgery]]) interleaves raw-copied frames
        * with re-encoded ones in ONE stream; shared-dict buffering would
        * reorder the re-encoded chunks behind a flush-time alphabet frame and
        * break the ordinal/row-order contract — surgery writers disable it. */
      sharedDict: Boolean = true) extends ChunkSink {
    // Hash-index entries hash long-backed and bytes-backed values only; an
    // unsupported column (double/bool/nested) would silently emit an
    // always-empty index that shadows the reader's scan fallback — reject the
    // misconfiguration at write time instead. Names resolve like Spark columns
    // do (exact match first, else case-insensitive) and are canonicalized to
    // the schema spelling so stream keys always match. Entries with '+'
    // declare a COMPOSITE sorted index ("a+b"): KeyCodec-encoded member
    // tuples, ordered, for prefix-equality + range probes (reference:
    // index/KeyEncoding.h:30-44, index/SortedIndex.h:48).
    private val (indexCols: Set[String], compositeCols: IndexedSeq[Seq[String]]) =
      if (indexColumns.isEmpty) (Set.empty[String], IndexedSeq.empty[Seq[String]]) else {
        val schema = org.apache.spark.sql.types.DataType.fromJson(schemaJson)
          .asInstanceOf[org.apache.spark.sql.types.StructType]
        import org.apache.spark.sql.types._
        def resolve(c: String): String = {
          // dotted struct-leaf paths index their row-aligned leaf stream
          // exactly like a top-level column (array/map subtrees refuse)
          def fieldIn(st: StructType, n: String) =
            st.fields.find(_.name == n).orElse(st.fields.find(_.name.equalsIgnoreCase(n)))
          val parts = c.split('.')
          var cur = schema
          var dt: DataType = null
          val canon = new scala.collection.mutable.ArrayBuffer[String](parts.length)
          for (i <- parts.indices) {
            val f = fieldIn(cur, parts(i)).getOrElse(
              throw new IllegalArgumentException(s"nimble: indexColumns: no such column '$c'"))
            canon += f.name
            dt = f.dataType
            if (i < parts.length - 1) dt match {
              case st: StructType => cur = st
              case other => throw new IllegalArgumentException(
                s"nimble: indexColumns: '$c' traverses non-struct ${other.simpleString}")
            }
          }
          dt match {
            case ByteType | ShortType | IntegerType | LongType | DateType |
                 TimestampType | TimestampNTZType | StringType | BinaryType => ()
            case other => throw new IllegalArgumentException(
              s"nimble: indexColumns: column '$c' has unsupported type ${other.simpleString} " +
                "(hash index supports integral, date/timestamp, string and binary columns)")
          }
          canon.mkString(".")
        }
        // '+' is the composite spec separator: an entry containing '+' is a
        // composite UNLESS it exactly names a real column (so a column
        // literally named with '+' still hash-indexes; such a column can
        // never be a composite MEMBER — the #cidx:a+b stream key could not
        // round-trip its name through the scan-side split)
        def isRealColumn(name: String): Boolean =
          schema.fields.exists(_.name.equalsIgnoreCase(name))
        val (comp, single) = indexColumns.toSeq.partition(s => s.contains("+") && !isRealColumn(s))
        val composites = comp.sorted.map { spec =>
          val ms = spec.split("\\+").map(_.trim).filter(_.nonEmpty).map(resolve).toSeq
          if (ms.length < 2 || ms.distinct.length != ms.length)
            throw new IllegalArgumentException(
              s"nimble: indexColumns: composite '$spec' needs >= 2 distinct columns")
          ms
        }.toIndexedSeq
        (single.map(resolve).toSet, composites)
      }
    // loud bloom validation: a typo'd, case-differing or unsupported-type
    // bloom column would otherwise silently produce NO blooms while the
    // user relies on equality pruning (blooms hash long- and bytes-backed
    // streams only; stream-key matching is exact). Struct-leaf paths allowed
    // (row-aligned streams); array/map subtrees and float/double/bool refuse.
    if (bloomColumns.nonEmpty) {
      val schema = org.apache.spark.sql.types.DataType.fromJson(schemaJson)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      import org.apache.spark.sql.types._
      def leafType(path: String): Option[DataType] = {
        var cur = schema
        val parts = path.split('.')
        var dt: DataType = null
        for (i <- parts.indices) {
          cur.fields.find(_.name == parts(i)) match {
            case Some(f) =>
              dt = f.dataType
              if (i < parts.length - 1) dt match {
                case s: StructType => cur = s
                case _ => return None
              }
            case None => return None
          }
        }
        Option(dt)
      }
      for (c <- bloomColumns) leafType(c) match {
        case None => throw new IllegalArgumentException(
          s"nimble: bloomFilterColumns: no such column path '$c' (matching is exact)")
        case Some(dt) => dt match {
          case ByteType | ShortType | IntegerType | LongType | DateType |
               TimestampType | TimestampNTZType | StringType | BinaryType => ()
          case d: DecimalType if d.precision <= 18 => ()
          case other => throw new IllegalArgumentException(
            s"nimble: bloomFilterColumns: column '$c' has type ${other.simpleString} — " +
              "blooms support integral, date/timestamp, decimal(<=18), string and binary")
        }
      }
    }

    private val out = GraftIO.create(path)
    out.write(Magic)
    private var fileOffset: Long = Magic.length.toLong

    // dynamic stream registry: FlatMap key streams are discovered during the
    // write (reference: dwio/nimble/velox/FieldWriter.cpp:1415)
    private val keys = mutable.ArrayBuffer[String](streamKeys: _*)
    private val keyIndex = mutable.HashMap[String, Int](streamKeys.zipWithIndex.toSeq: _*)
    private val stripeBufs = mutable.ArrayBuffer[ByteSink](Array.fill(streamKeys.length)(new ByteSink(4096)): _*)
    private val stripeStats = mutable.ArrayBuffer[Stats](Array.fill(streamKeys.length)(Stats()): _*)
    private val fileStats = mutable.ArrayBuffer[Stats](Array.fill(streamKeys.length)(Stats()): _*)
    private var stripeRows: Long = 0L
    private val stripes = mutable.ArrayBuffer[(Long, Long, Long, Array[StreamLoc], Array[Stats], Long, Map[Int, Bloom], Map[Int, Array[ChunkLoc]])]()
    // per-stripe value hashes for bloom-configured streams (built at flush).
    // Primitive buffers throughout: an indexed 100M-row write through boxed
    // ArrayBuffer[(Long, Long)] costs ~6 allocations/row and an old-gen
    // promotion storm that dominates the write wall clock.
    private val bloomHashes = mutable.HashMap[Int, LongVec]()
    // per-stripe (hash, chunk<<32|row) entries for index-configured streams
    private val idxEntries = mutable.HashMap[Int, LongPairVec]()
    // per-stripe (sortKey, chunk<<32|row) entries for the sorted range index
    private val sidxEntries = mutable.HashMap[Int, LongPairVec]()
    private val idxChunkOrd = mutable.HashMap[Int, Int]()
    // composite index assembly: member key fragments captured per chunk
    // ordinal until every member column of that chunk has arrived
    private val compFrags = mutable.HashMap[(Int, Int), mutable.HashMap[Int, Array[Array[Byte]]]]()
    private val compOrd = mutable.HashMap[(Int, Int), Int]()
    private val compEntries = mutable.HashMap[Int, mutable.ArrayBuffer[(Array[Byte], Long)]]()
    private var totalRows: Long = 0L

    // ---- stripe-scoped shared dictionary (reference:
    // dwio/nimble/encodings/SharedDictionaryEncoding.h:415 — alphabet shared
    // across the chunks of a stripe instead of re-stored per chunk). Chunks of
    // an eligible low-cardinality string stream buffer as index arrays; at
    // stripe flush one alphabet frame (flag byte 2) precedes the index chunks
    // in the stream, so the stream stays self-contained and chunk ordinals
    // are unchanged (the cursor swallows alphabet frames transparently).
    private final val SharedMaxEntries = 4096
    private final val SharedMaxBytes = 1 << 20
    private final class SharedState {
      val index = mutable.HashMap[String, Int]()
      val offsets = mutable.ArrayBuffer[Int](0)
      val bytes = new ByteSink(4096)
      val pending = mutable.ArrayBuffer[(Array[Int], Array[Boolean], Stats)]()
      def alphabetCol: BytesCol = BytesCol(offsets.toArray, bytes.toArray)
    }
    private val sharedActive = mutable.HashMap[Int, SharedState]()
    private val sharedOff = mutable.HashSet[Int]() // decided against, this stripe

    /** Buffer `c` as shared-dictionary indices if the stream is (still)
      * eligible this stripe; returns false when the chunk should be encoded
      * normally. Latin-1 keys round-trip arbitrary bytes losslessly. */
    private def trySharedDict(id: Int, c: BytesCol, cst: Stats): Boolean = {
      import java.nio.charset.StandardCharsets.ISO_8859_1
      if (!sharedDict || sharedOff(id)) return false
      val st = sharedActive.getOrElse(id, {
        // stripe-scoped decision on the first chunk: engage only on strong
        // reuse (distinct small in absolute terms AND relative to rows)
        val distinct = mutable.HashSet[String]()
        var i = 0
        while (i < c.len && distinct.size <= SharedMaxEntries) {
          if (c.nulls == null || !c.nulls(i))
            distinct += new String(c.bytes, c.offsets(i), c.offsets(i + 1) - c.offsets(i), ISO_8859_1)
          i += 1
        }
        if (distinct.size > SharedMaxEntries || distinct.size.toLong * 3 > c.len) {
          sharedOff += id; return false
        }
        val s = new SharedState(); sharedActive(id) = s; s
      })
      val idx = new Array[Int](c.len)
      var i = 0
      while (i < c.len) {
        if (c.nulls == null || !c.nulls(i)) {
          val key = new String(c.bytes, c.offsets(i), c.offsets(i + 1) - c.offsets(i), ISO_8859_1)
          idx(i) = st.index.getOrElseUpdate(key, {
            st.bytes.writeBytes(c.bytes, c.offsets(i), c.offsets(i + 1) - c.offsets(i))
            st.offsets += st.bytes.size
            st.index.size
          })
        }
        i += 1
      }
      st.pending += ((idx, if (c.nulls == null) null else c.nulls.clone(), cst))
      // cap blown mid-stripe (data shifted high-cardinality): materialize what
      // we have as plain chunks — the alphabet covers every buffered value —
      // and stop shared-coding this stream until the next stripe
      if (st.index.size > SharedMaxEntries || st.bytes.size > SharedMaxBytes) {
        materializePlain(id, st)
        sharedActive -= id
        sharedOff += id
      }
      true
    }

    /** Encode buffered shared-dict chunks as ordinary per-chunk frames. */
    private def materializePlain(id: Int, st: SharedState): Unit = {
      val alpha = st.alphabetCol
      for ((idx, nulls, cst) <- st.pending) {
        val enc = new ByteSink(1024)
        Codecs.encodeColumn(DictBytesCol(alpha, idx, nulls).expand, enc)
        emitFrame(id, enc.toArray, cst, 1)
      }
    }

    /** Flush shared-dictionary streams: alphabet frame + index chunks when
      * the alphabet was reused across >= 2 chunks, plain encodes otherwise
      * (a single-chunk stripe gains nothing from the extra frame). */
    private def flushSharedDict(): Unit = {
      if (sharedActive.nonEmpty) {
        for ((id, st) <- sharedActive.toSeq.sortBy(_._1)) {
          if (st.pending.length <= 1) materializePlain(id, st)
          else {
            val aEnc = new ByteSink(1024)
            Codecs.encodeColumn(st.alphabetCol, aEnc)
            emitFrame(id, aEnc.toArray, null, 2)
            for ((idx, nulls, cst) <- st.pending) {
              val s = new ByteSink(1024)
              s.writeByte(Codecs.SHAREDDICT)
              val longs = new Array[Long](idx.length)
              var i = 0
              while (i < idx.length) { longs(i) = idx(i).toLong; i += 1 }
              Codecs.encodeColumn(LongsCol(longs, PhysType.I32, nulls), s)
              emitFrame(id, s.toArray, cst, 1)
            }
          }
        }
        sharedActive.clear()
      }
      sharedOff.clear()
    }

    private def nStreams = keys.length

    /** Id of an existing stream, or register a new one (flatmap keys). */
    def ensureStream(key: String): Int = keyIndex.getOrElseUpdate(key, {
      keys += key
      stripeBufs += new ByteSink(4096)
      stripeStats += Stats()
      fileStats += Stats()
      keys.length - 1
    })

    def streamId(key: String): Int = keyIndex.getOrElse(key, -1)

    def bufferedBytes: Long = {
      var t = 0L; var i = 0
      while (i < nStreams) { t += stripeBufs(i).size; i += 1 }
      t
    }

    // adaptive compression policy (reference: compression/CompressionPolicy.h):
    // streams that keep rejecting zstd stop paying for the attempt (retry
    // every 8th chunk in case the data distribution shifts)
    private val zstdRejects = mutable.HashMap[Int, Int]()

    // per-stream encoding-layout replay (reference:
    // writer/EncodingLayoutTree.h:25): stable streams skip candidate
    // selection — see Codecs.Replay. Flatmap-born sibling streams
    // ('path#fm:<key>' value streams, 'path#in:<key>' presence streams) are
    // homogeneous by construction — same physical type, same source column —
    // so they SHARE one deep (layout-tree) replay per family: a 400-key
    // shred trains one selection instead of 400, and the per-key ~few-
    // hundred-value chunks replay the whole nested layout instead of
    // re-searching it (the dominant cost of wide-flatmap writes). A map key
    // containing '#' can mis-split the family name; the only consequence is
    // merged families (more reopen probes — never a wrong encoding).
    private val replays = mutable.HashMap[Int, Codecs.Replay]()
    private val familyReplays = mutable.HashMap[String, Codecs.Replay]()
    private def replayFor(id: Int): Codecs.Replay = replays.getOrElseUpdate(id, {
      val k = keys(id)
      var m = k.indexOf("#fm:")
      if (m < 0) m = k.indexOf("#in:")
      if (m < 0) new Codecs.Replay()
      else {
        val keyStart = m + 4
        val h = k.indexOf('#', keyStart)
        val keyEnd = if (h < 0) k.length else h
        val family = k.substring(0, keyStart) + "*" + k.substring(keyEnd)
        familyReplays.getOrElseUpdate(family, new Codecs.Replay(deep = true))
      }
    })

    /** Append one encoded chunk for stream `id` covering `rows` top-level rows
      * (pass rows only once per row-range, via `addRows`). */
    def writeChunk(id: Int, col: Column): Unit = {
      // per-chunk stats ride in the chunk frame (reference:
      // dwio/nimble/tablet/ChunkStatsWriter.h — chunk skipping); the stripe
      // stats merge from them, so no second pass over the column
      val cst = Stats()
      cst.mergeColumn(col)
      stripeStats(id).merge(cst)
      collectAux(id, col)
      col match {
        case c: BytesCol if trySharedDict(id, c, cst) => () // buffered until flush
        case _ =>
          val enc = new ByteSink(1024)
          Codecs.encodeColumn(col, enc, replayFor(id))
          emitFrame(id, enc.toArray, cst, 1)
      }
    }

    /** Compress (adaptive accept policy) and frame one chunk payload.
      * flag: 0 = no stats, 1 = stats follow, 2 = shared-dictionary alphabet. */
    private def emitFrame(id: Int, raw: Array[Byte], cst: Stats, flag: Int): Unit = {
      val rejects = zstdRejects.getOrElse(id, 0)
      val (kind, data) =
        if (rejects >= 3 && rejects % 8 != 0) { zstdRejects(id) = rejects + 1; (CompNone, raw) }
        else {
          val r = compressChunk(raw, compression)
          zstdRejects(id) = if (r._1 == CompNone && raw.length >= 25) rejects + 1 else 0
          r
        }
      val b = stripeBufs(id)
      // chunk directory: frame start offset within the stream, rows + (v14)
      // min/max/nullCount from the chunk stats (alphabet frames carry none
      // and are not data chunks)
      chunkDirRec.getOrElseUpdate(id, mutable.ArrayBuffer[ChunkLoc]()) +=
        ChunkLoc(b.size.toLong, if (flag == 2 || cst == null) 0L else cst.valueCount,
          flag != 2, if (flag == 1) cst else null)
      b.writeInt(data.length)
      b.writeVarint(raw.length.toLong)
      b.writeByte(kind)
      b.writeByte(flag)
      if (flag == 1) writeStats(b, cst)
      b.writeBytes(data)
    }

    // per-stream chunk directory of the CURRENT stripe (emitFrame records
    // every frame; index streams write their frames directly and so have no
    // directory — they are read wholesale by Lookup)
    private val chunkDirRec = mutable.HashMap[Int, mutable.ArrayBuffer[ChunkLoc]]()

    // v10 NDV sketches: per-data-stream HLL registers. Only column-path
    // streams sketch (no '#' internals), capped so an ultra-wide FlatMap
    // write can't pin 10^5 register arrays in writer memory.
    private val ndvRegs = mutable.HashMap[Int, Array[Byte]]()
    private final val MaxNdvStreams = 1024

    private def collectNdv(id: Int, col: Column): Unit = {
      if (!ndvSketches || keys(id).indexOf('#') >= 0) return
      if (!ndvRegs.contains(id) && ndvRegs.size >= MaxNdvStreams) return
      col match {
        case c: LongsCol =>
          val regs = ndvRegs.getOrElseUpdate(id, Hll.empty())
          var i = 0
          while (i < c.len) {
            if (c.nulls == null || !c.nulls(i)) Hll.add(regs, Hll.mixLong(c.values(i)))
            i += 1
          }
        case c: DoublesCol =>
          val regs = ndvRegs.getOrElseUpdate(id, Hll.empty())
          var i = 0
          while (i < c.len) {
            if (c.nulls == null || !c.nulls(i)) {
              // normalize -0.0 == 0.0 (Spark distinct semantics); NaN forms
              // already canonicalize through doubleToLongBits
              val v = c.values(i)
              Hll.add(regs, Hll.mixLong(
                if (v == 0.0) 0L else java.lang.Double.doubleToLongBits(v)))
            }
            i += 1
          }
        case c: BytesCol =>
          val regs = ndvRegs.getOrElseUpdate(id, Hll.empty())
          var i = 0
          while (i < c.len) {
            if (c.nulls == null || !c.nulls(i))
              Hll.add(regs, hashBytesValue(c.bytes, c.offsets(i), c.offsets(i + 1) - c.offsets(i)))
            i += 1
          }
        case _ => () // bools: ndv <= 3, worthless for the CBO
      }
    }

    private def collectAux(id: Int, col: Column): Unit = {
      collectNdv(id, col)
      val wantBloom = bloomColumns(keys(id))
      val wantIdx = indexCols(keys(id))
      if (wantBloom && wantIdx) {
        // the canonical lookup-table shape — bloom AND index on the same key
        // column — shares one xxh64 per value between both consumers (the
        // split paths below would hash every value twice; hashing is ~20% of
        // an indexed write's CPU)
        val bbuf = bloomHashes.getOrElseUpdate(id, new LongVec())
        val ord = idxChunkOrd.getOrElse(id, 0)
        val buf = idxEntries.getOrElseUpdate(id, new LongPairVec())
        val sbuf = sidxEntries.getOrElseUpdate(id, new LongPairVec())
        col match {
          case c: LongsCol =>
            var i = 0
            while (i < c.len) {
              if (c.nulls == null || !c.nulls(i)) {
                val h = hashLongValue(c.values(i))
                val pos = (ord.toLong << 32) | i
                bbuf.add(h); buf.add(h, pos); sbuf.add(c.values(i), pos)
              }
              i += 1
            }
          case c: BytesCol =>
            var i = 0
            while (i < c.len) {
              if (c.nulls == null || !c.nulls(i)) {
                val off = c.offsets(i); val len = c.offsets(i + 1) - off
                val h = hashBytesValue(c.bytes, off, len)
                val pos = (ord.toLong << 32) | i
                bbuf.add(h); buf.add(h, pos); sbuf.add(bytesSortKey(c.bytes, off, len), pos)
              }
              i += 1
            }
          case _ => () // doubles/bools: rejected for index at write time
        }
        idxChunkOrd(id) = ord + 1
      }
      if (wantBloom && !wantIdx) {
        val buf = bloomHashes.getOrElseUpdate(id, new LongVec())
        col match {
          case c: LongsCol =>
            var i = 0
            while (i < c.len) {
              if (c.nulls == null || !c.nulls(i)) buf.add(hashLongValue(c.values(i)))
              i += 1
            }
          case c: BytesCol =>
            var i = 0
            while (i < c.len) {
              if (c.nulls == null || !c.nulls(i))
                buf.add(hashBytesValue(c.bytes, c.offsets(i), c.offsets(i + 1) - c.offsets(i)))
              i += 1
            }
          case _ => () // doubles/bools: equality pruning not supported
        }
      }
      if (wantIdx && !wantBloom) {
        val ord = idxChunkOrd.getOrElse(id, 0)
        val buf = idxEntries.getOrElseUpdate(id, new LongPairVec())
        val sbuf = sidxEntries.getOrElseUpdate(id, new LongPairVec())
        col match {
          case c: LongsCol =>
            var i = 0
            while (i < c.len) {
              if (c.nulls == null || !c.nulls(i)) {
                val pos = (ord.toLong << 32) | i
                buf.add(hashLongValue(c.values(i)), pos)
                sbuf.add(c.values(i), pos)
              }
              i += 1
            }
          case c: BytesCol =>
            var i = 0
            while (i < c.len) {
              if (c.nulls == null || !c.nulls(i)) {
                val off = c.offsets(i); val len = c.offsets(i + 1) - off
                val pos = (ord.toLong << 32) | i
                buf.add(hashBytesValue(c.bytes, off, len), pos)
                sbuf.add(bytesSortKey(c.bytes, off, len), pos)
              }
              i += 1
            }
          case _ => () // doubles/bools: point lookup goes through the scan path
        }
        idxChunkOrd(id) = ord + 1
      }
      var ci = 0
      while (ci < compositeCols.length) {
        val mi = compositeCols(ci).indexOf(keys(id))
        if (mi >= 0) captureCompositeFragment(ci, mi, col)
        ci += 1
      }
    }

    /** Encode this chunk's values of member `mi` as memcomparable key
      * fragments (null members carry the 0x00 presence tag so EVERY row is
      * indexed — a prefix probe must still find rows whose unconstrained
      * trailing members are null); once all members of the chunk ordinal
      * have arrived, emit (key, position) entries. */
    private def captureCompositeFragment(ci: Int, mi: Int, col: Column): Unit = {
      val ord = compOrd.getOrElse((ci, mi), 0)
      compOrd((ci, mi)) = ord + 1
      val nullFrag = { val s = new ByteSink(1); KeyCodec.putNull(s); s.toArray }
      val frags: Array[Array[Byte]] = col match {
        case c: LongsCol => Array.tabulate(c.len) { i =>
          if (c.nulls != null && c.nulls(i)) nullFrag
          else { val s = new ByteSink(9); KeyCodec.putLong(s, c.values(i)); s.toArray }
        }
        case c: BytesCol => Array.tabulate(c.len) { i =>
          if (c.nulls != null && c.nulls(i)) nullFrag
          else {
            val s = new ByteSink(16)
            KeyCodec.putBytes(s, c.bytes, c.offsets(i), c.offsets(i + 1) - c.offsets(i))
            s.toArray
          }
        }
        case _ => return // validated away at construction
      }
      val slot = compFrags.getOrElseUpdate((ci, ord), mutable.HashMap())
      slot(mi) = frags
      if (slot.size == compositeCols(ci).length) {
        compFrags.remove((ci, ord))
        val members = (0 until compositeCols(ci).length).map(slot(_))
        val n = members.head.length
        val buf = compEntries.getOrElseUpdate(ci, mutable.ArrayBuffer[(Array[Byte], Long)]())
        var i = 0
        while (i < n) {
          var j = 0; var total = 0
          while (j < members.length) { total += members(j)(i).length; j += 1 }
          val key = new Array[Byte](total)
          var off = 0; j = 0
          while (j < members.length) {
            val f = members(j)(i)
            System.arraycopy(f, 0, key, off, f.length); off += f.length; j += 1
          }
          buf += ((key, (ord.toLong << 32) | i))
          i += 1
        }
      }
    }

    def addRows(n: Long): Unit = { stripeRows += n; totalRows += n }

    def flushStripe(): Unit = {
      if (stripeRows == 0) { adoptedBlooms.clear(); return }
      flushSharedDict()
      // materialize index streams BEFORE the write loop so they register and
      // flush with this stripe (sorted by hash for binary search; position as
      // tiebreak keeps the layout deterministic)
      if (idxEntries.nonEmpty) {
        for ((id, entries) <- idxEntries.toSeq.sortBy(_._1)) {
          val idxId = ensureStream(indexStreamKey(keys(id)))
          entries.sortPairs()
          val b = stripeBufs(idxId)
          b.writeInt(entries.size)
          b.writeLongs(entries.keysArray, entries.size)
          b.writeLongs(entries.valuesArray, entries.size)
        }
        idxEntries.clear()
      }
      if (sidxEntries.nonEmpty) {
        for ((id, entries) <- sidxEntries.toSeq.sortBy(_._1)) {
          val sidxId = ensureStream(sortedIndexStreamKey(keys(id)))
          entries.sortPairs()
          val b = stripeBufs(sidxId)
          b.writeInt(entries.size)
          b.writeLongs(entries.keysArray, entries.size)
          b.writeLongs(entries.valuesArray, entries.size)
        }
        sidxEntries.clear()
      }
      if (compEntries.nonEmpty) {
        for ((ci, entries) <- compEntries.toSeq.sortBy(_._1)) {
          val cid = ensureStream(compositeIndexStreamKey(compositeCols(ci)))
          val sorted = entries.sortWith { (a, b) =>
            val c = KeyCodec.compare(a._1, 0, a._1.length, b._1, 0, b._1.length)
            c < 0 || (c == 0 && a._2 < b._2)
          }
          val b = stripeBufs(cid)
          b.writeInt(sorted.length)
          sorted.foreach(e => b.writeLong(e._2))
          var acc = 0
          b.writeInt(acc)
          sorted.foreach { e => acc += e._1.length; b.writeInt(acc) }
          sorted.foreach(e => b.writeBytes(e._1))
        }
        compEntries.clear()
      }
      compFrags.clear()
      compOrd.clear()
      idxChunkOrd.clear()
      val locs = new Array[StreamLoc](nStreams)
      val start = fileOffset
      // v12 stripe checksum = XXH3_64 over the NON-EMPTY streams' XXH3_64
      // hashes (see Tablet.stripeChecksumOf): each stream buffer hashes and
      // writes independently, so flush memory and stripe size stay
      // unbounded by the checksum exactly as in v10's streaming XXH64; and
      // because empty streams are excluded, a stream that REGISTERS after
      // this stripe flushes (flatmap key, late index entries — close()
      // back-fills zero-length locs) cannot desync the verifier.
      val streamHashes = scala.collection.mutable.ArrayBuffer[Long]()
      var i = 0
      while (i < nStreams) {
        // r21 OPT: hash + write straight off the sink's live buffer —
        // toArray duplicated every written byte (alloc + full copy per
        // stripe flush). Hash before write; both read the same region, and
        // the buffer is untouched until the post-loop reset below.
        val b = stripeBufs(i)
        val len = b.size
        locs(i) = StreamLoc(fileOffset, len.toLong)
        if (len > 0) {
          streamHashes += Tablet.xxh3(b.buffer, 0, len)
          out.write(b.buffer, 0, len)
        }
        fileOffset += len
        i += 1
      }
      val stripeChecksum = Tablet.combineStreamHashes(streamHashes.toArray)
      val blooms = bloomHashes.iterator.map { case (id, hashes) =>
        val bloom = new Bloom(hashes.size)
        var h = 0
        while (h < hashes.size) { bloom.addHash(hashes(h)); h += 1 }
        id -> bloom
      }.toMap ++ adoptedBlooms
      bloomHashes.clear()
      adoptedBlooms.clear()
      val chunkDirs: Map[Int, Array[ChunkLoc]] =
        chunkDirRec.iterator.map { case (id, b) => id -> b.toArray }.toMap
      chunkDirRec.clear()
      stripes += ((start, fileOffset - start, stripeRows, locs, stripeStats.toArray, stripeChecksum, blooms, chunkDirs))
      i = 0
      while (i < nStreams) {
        fileStats(i).merge(stripeStats(i))
        stripeBufs(i) = new ByteSink(4096)
        stripeStats(i) = Stats()
        i += 1
      }
      stripeRows = 0
    }

    /** Chunk surgery (chunk-granular copy-on-write for DML,
      * [[graft.ops.Surgery]]): append one data-chunk FRAME byte-for-byte into
      * stream `id`'s current-stripe buffer. The frame's inline stats (`stats`,
      * from the source chunk directory) fold into the stripe stats EXACTLY —
      * stats stay answer-grade for AggScan, not just pruning bounds. Caller
      * contract: the stream carries no bloom/index/shared-dict (raw frames
      * bypass all aux collection), grids stay ordinal-aligned across streams,
      * and `addRows` is called once per chunk row-range. */
    def copyRawChunk(id: Int, frame: Array[Byte], rows: Long, stats: Stats): Unit = {
      require(stats != null, "copyRawChunk: frame must carry chunk stats")
      stripeStats(id).merge(stats)
      val b = stripeBufs(id)
      chunkDirRec.getOrElseUpdate(id, mutable.ArrayBuffer[ChunkLoc]()) +=
        ChunkLoc(b.size.toLong, rows, true, stats)
      b.writeBytes(frame)
    }

    /** [[copyRawChunk]]'s non-data sibling: append a shared-dictionary
      * ALPHABET frame byte-for-byte (no stats, no rows — alphabet frames are
      * not data chunks and do not advance chunk ordinals). Order matters:
      * copy it before the index chunks that decode through it, exactly where
      * the source stream placed it. */
    def copyRawAlphabetFrame(id: Int, frame: Array[Byte]): Unit = {
      val b = stripeBufs(id)
      chunkDirRec.getOrElseUpdate(id, mutable.ArrayBuffer[ChunkLoc]()) +=
        ChunkLoc(b.size.toLong, 0L, false, null)
      b.writeBytes(frame)
    }

    /** Chunk surgery on index-bearing files ([[graft.ops.Surgery]]): write
      * one hidden index stream's bytes for the CURRENT stripe verbatim —
      * index streams are wholesale per-stripe frames with no chunk
      * directory (read in full by Lookup), so the caller hands the already-
      * transformed `[count][keys][positions]` bytes and this just lands
      * them in the stripe buffer. */
    def writeRawStreamBytes(id: Int, bytes: Array[Byte]): Unit =
      if (bytes.length > 0) stripeBufs(id).writeBytes(bytes)

    // blooms adopted from a source file's stripe directory for the CURRENT
    // stripe (chunk surgery): membership supersets stay SOUND for pruning
    // when surgery only REMOVES rows — false positives cost a probe, never
    // an answer. Merged over the writer's own built blooms at flush.
    private val adoptedBlooms = mutable.HashMap[Int, Bloom]()

    /** Adopt a source stripe's bloom for stream `id` into the stripe being
      * built. Caller contract: the surviving values are a SUBSET of the
      * values the bloom was built over (delete surgery; update surgery on
      * non-assigned streams). */
    def adoptBloom(id: Int, b: Bloom): Unit = adoptedBlooms(id) = b

    /** Stripe surgery (stripe-granular copy-on-write for DML): append stripe
      * `s` of `src` BYTE-FOR-BYTE. Sound because stripes are self-contained
      * by construction — every stream's bytes, stats, bloom, chunk
      * directory, hash/sorted/composite index streams and stripe-scoped
      * shared-dictionary alphabets live inside the stripe region; only the
      * absolute stream offsets need rebasing. The checksum is recomputed
      * under THIS writer's format version (a copied v10 stripe lands in a
      * v14 file whose verifier hashes per-stream). File-level stats merge
      * from the stripe's directory stats; NDV sketches fold from the source
      * footer once via [[mergeNdvFrom]] (HLL registers are max-mergeable; a
      * source sketch covering dropped rows stays a valid upper-bound
      * estimate). Stream ids are positional: this writer must be
      * constructed with the source footer's streamKeys, and must not
      * interleave its own row data (zero-copy stripes and written stripes
      * may coexist, but id alignment is the caller's contract). */
    def appendRawStripe(src: Reader, s: Int): Unit = {
      flushStripe() // buffered rows (if any) become their own stripe first
      val sf = src.footer
      require(sf.nStreams <= nStreams,
        s"appendRawStripe: source has ${sf.nStreams} streams, writer $nStreams")
      val info = sf.stripes(s)
      val span = src.readRange(info.offset, info.length.toInt)
      val start = fileOffset
      out.write(span)
      fileOffset += span.length
      val locs = new Array[StreamLoc](nStreams)
      val stats = new Array[Stats](nStreams)
      val lens = new Array[Long](nStreams)
      var blooms = Map.empty[Int, Bloom]
      var chunkDirs = Map.empty[Int, Array[ChunkLoc]]
      var id = 0
      while (id < nStreams) {
        if (id < sf.nStreams) {
          val loc = src.streamLoc(s, id)
          val st = src.streamStats(s, id)
          locs(id) = StreamLoc(loc.offset - info.offset + start, loc.length)
          stats(id) = st
          lens(id) = loc.length
          src.streamBloom(s, id).foreach(b => blooms += id -> b)
          val cd = src.chunkDirOf(s, id)
          if (cd != null) chunkDirs += id -> cd
          fileStats(id).merge(st)
        } else { // streams this writer knows that the source file lacks
          locs(id) = StreamLoc(start, 0L)
          stats(id) = Stats()
        }
        id += 1
      }
      val checksum = Tablet.stripeChecksumOf(Version, span, lens)
      stripes += ((start, span.length.toLong, info.rowCount, locs, stats,
        checksum, blooms, chunkDirs))
      totalRows += info.rowCount
    }

    /** Fold the source footer's NDV sketches into this writer's (call ONCE
      * per source file when raw-copying its stripes). */
    def mergeNdvFrom(src: Footer): Unit = if (ndvSketches) {
      for ((name, regs) <- src.ndvSketches; id <- keyIndex.get(name))
        Hll.merge(ndvRegs.getOrElseUpdate(id, Hll.empty()), regs)
    }

    def close(): Long = {
      flushStripe()
      // streams registered after a stripe flushed get zero-length locations
      // (and empty stats) in that stripe — the reader treats them as absent
      val padded = stripes.map { case t @ (_, _, _, locs, stats, _, _, _) =>
        val fullLocs =
          if (locs.length == nStreams) locs
          else locs ++ Array.fill(nStreams - locs.length)(StreamLoc(0L, 0L))
        val fullStats =
          if (stats.length == nStreams) stats
          else stats ++ Array.fill(nStreams - stats.length)(Stats())
        (t._1, t._2, t._3, fullLocs, fullStats, t._6, t._7, t._8)
      }.toArray
      // grouped per-STREAM directory sections: within a group, one
      // contiguous block per stream preceded by a fixed-width offset table,
      // so a reader range-reads exactly the projected streams' metadata
      val nGroups = (padded.length + DirGroupSize - 1) / DirGroupSize
      val groups = new Array[GroupLoc](nGroups)
      var g = 0
      while (g < nGroups) {
        val lo = g * DirGroupSize
        val hi = math.min(lo + DirGroupSize, padded.length)
        val entries = new ByteSink(1 << 14)
        val table = new Array[Long](nStreams + 1)
        var i = 0
        while (i < nStreams) {
          table(i) = entries.size.toLong
          var s = lo
          while (s < hi) {
            val (_, _, _, locs, stats, _, blooms, chunkDirs) = padded(s)
            writeDirEntry(entries, locs(i), stats(i), blooms.getOrElse(i, null),
              chunkDirs.getOrElse(i, null))
            s += 1
          }
          i += 1
        }
        table(nStreams) = entries.size.toLong
        val sect = new ByteSink(entries.size + 8 * (nStreams + 1))
        table.foreach(sect.writeLong)
        sect.writeBytes(entries.toArray)
        val bytes = sect.toArray
        out.write(bytes)
        groups(g) = GroupLoc(fileOffset, bytes.length.toLong)
        fileOffset += bytes.length
        g += 1
      }
      val slim = padded.map { case (off, len, rows, _, _, checksum, _, _) =>
        StripeInfo(off, len, rows, checksum)
      }
      // nanos-split timestamps: the micros stream's sketch undercounts the
      // logical value (sub-us remainders collapse) — drop it, exact-or-absent
      val nanosKeys: Set[String] = keys.iterator
        .filter(_.endsWith("#nanos")).map(_.stripSuffix("#nanos")).toSet
      val ndvMap: Map[String, Array[Byte]] = ndvRegs.iterator
        .map { case (id, regs) => keys(id) -> regs }
        .filter { case (k, _) => !nanosKeys(k) }
        .toMap
      // minimum-required version stamp: v15 exists only for the flatmap-key
      // "##" escape, and escaping is identity for keys without '#' — a file
      // with no "##" in any stream name reads identically under v14 and v15
      // semantics, so it stamps 14 and stays BYTE-identical to the r19
      // writer (the version byte rides the zstd-compressed footer, so an
      // unconditional bump would shift compressed footer sizes and break
      // the encoded_size_ratio byte-identity invariant on '#'-free corpora).
      val stampVersion =
        if (Fields.testLegacyFmKeys) 14 // byte-faithful legacy synthesis
        else if (keys.exists(_.contains("##"))) Version
        else 14
      val footer = if (nStreams <= WideMetaStreams) {
        Footer(stampVersion, schemaJson, sortColumns, totalRows,
          keys.toArray, slim, DirGroupSize, groups, fileStats.toArray,
          bucketColumns = bucketColumns, numBucketsSpec = numBuckets, bucketId = bucketId,
          ndvSketches = ndvMap)
      } else {
        // wide table: hash-bucketized (name, id, file-stats) section before
        // the footer — probes read one bucket (~nStreams/256 entries), the
        // footer core stays O(stripes + buckets) regardless of width
        val nB = MetaBuckets
        val buckets = Array.fill(nB)(mutable.ArrayBuffer[(Long, Int)]())
        var id = 0
        while (id < nStreams) {
          val nb = keys(id).getBytes("UTF-8")
          val h = hashBytesValue(nb, 0, nb.length)
          buckets((h & (nB - 1)).toInt) += ((h, id))
          id += 1
        }
        val sect = new ByteSink(1 << 16)
        val ends = new Array[Long](nB)
        var b = 0
        while (b < nB) {
          for ((h, sid) <- buckets(b).sortBy(identity)) {
            sect.writeLong(h)
            sect.writeVarint(sid.toLong)
            val nb = keys(sid).getBytes("UTF-8")
            sect.writeVarint(nb.length.toLong)
            sect.writeBytes(nb)
            writeStats(sect, fileStats(sid))
          }
          ends(b) = sect.size.toLong
          b += 1
        }
        val bytes = sect.toArray
        out.write(bytes)
        val loc = GroupLoc(fileOffset, bytes.length.toLong)
        fileOffset += bytes.length
        Footer(stampVersion, schemaJson, sortColumns, totalRows, null, slim,
          DirGroupSize, groups, null, metaLoc = loc, nBuckets = nB,
          bucketEnds = ends, streamCount = nStreams,
          bucketColumns = bucketColumns, numBucketsSpec = numBuckets, bucketId = bucketId,
          ndvSketches = ndvMap)
      }
      val fb = writeFooter(footer)
      out.write(fb)
      fileOffset += fb.length
      // postscript: footer length (4) + magic (4)
      out.writeInt(java.lang.Integer.reverseBytes(fb.length)) // little-endian
      out.write(Magic)
      out.flush()
      out.close()
      fileOffset + 8
    }
  }

  // --------------------------------------------------------------- reader

  final class Reader(path: String, cachedFooter: Footer = null) extends AutoCloseable {
    /** The file this reader serves (block-cache key component). */
    def filePath: String = path
    // lazy open: with a cached footer and a warm directory cache a Reader
    // performs no I/O at all (planning over cached metadata)
    private var fileOpt: GraftIO.SeekableInput = null
    private def file: GraftIO.SeekableInput = {
      if (fileOpt == null) fileOpt = GraftIO.open(path)
      fileOpt
    }

    /** Metadata bytes fetched by THIS reader (footer + directory sections) —
      * the wide-table contract is that this scales with projected streams,
      * not with total streams (WideTableSpec). */
    var metaBytesRead: Long = 0L

    /** Directory-section bytes alone (excludes the core footer, whose
      * stream-name/file-stats tables are inherently O(streams)). */
    var dirBytesRead: Long = 0L

    val footer: Footer = if (cachedFooter != null) cachedFooter else {
      val len = file.length
      val lenBuf = new Array[Byte](8)
      file.readFully(len - 8, lenBuf)
      require(java.util.Arrays.equals(java.util.Arrays.copyOfRange(lenBuf, 4, 8), Magic),
        s"not a nimble-spark tablet: $path")
      val fLen = (lenBuf(0) & 0xff) | ((lenBuf(1) & 0xff) << 8) | ((lenBuf(2) & 0xff) << 16) | ((lenBuf(3) & 0xff) << 24)
      val fb = new Array[Byte](fLen)
      file.readFully(len - 8 - fLen, fb)
      metaBytesRead += 8L + fLen
      readFooter(fb, path)
    }
    private lazy val streamIndex: Map[String, Int] =
      footer.streamKeys.zipWithIndex.toMap

    def streamId(key: String): Int = keyId(key)

    /** id of `key`, -1 when absent. Narrow/inline footers answer from the
      * in-memory map; wide (v8 sectioned) footers probe ONE hash bucket of
      * the meta section — O(streams / 256) bytes, cached on the shared
      * footer, so metadata I/O scales with the probed names, not the table
      * width (reference: README.md:44-45 — FlatBuffers partial access). */
    def keyId(key: String): Int =
      if (footer.inlineKeys != null) streamIndex.getOrElse(key, -1)
      else {
        val hit = footer.keyIdCache.get(key)
        if (hit != null) hit._1 else probeBucket(key)._1
      }

    /** Is `column` stored as the TimestampMicroNano split (micros stream +
      * '#nanos' remainder sibling)? Central check for the rule that the
      * stream's raw stats/keys are MICROS, not the logical epoch-nanos value
      * — consumers must scale ([[Tablet.nanosScaledStats]]) or refuse. */
    def nanosSplit(column: String): Boolean = keyId(column + "#nanos") >= 0

    /** File-level stats of stream `key` (None when absent) — same probe. */
    def fileStatsOf(key: String): Option[Stats] =
      if (footer.inlineKeys != null)
        streamIndex.get(key).map(footer.inlineStats(_))
      else {
        val hit = footer.keyIdCache.get(key)
        val (id, st) = if (hit != null) hit else probeBucket(key)
        if (id >= 0) Some(st) else None
      }

    private def probeBucket(key: String): (Int, Stats) = {
      val kb = key.getBytes("UTF-8")
      val h = hashBytesValue(kb, 0, kb.length)
      val b = (h & (footer.nBuckets - 1)).toInt
      val start = if (b == 0) 0L else footer.bucketEnds(b - 1)
      val end = footer.bucketEnds(b)
      if (end > start) {
        val bytes = new Array[Byte]((end - start).toInt)
        file.readFully(footer.metaLoc.offset + start, bytes)
        metaBytesRead += bytes.length
        val c = new ByteCursor(bytes)
        while (c.remaining > 0) {
          c.readLong() // entry hash (bucket already matched)
          val id = c.readVarint().toInt
          val name = new String(c.readBytes(c.readVarint().toInt), "UTF-8")
          footer.keyIdCache.putIfAbsent(name, (id, readStats(c)))
        }
      }
      footer.keyIdCache.putIfAbsent(key, (-1, null)) // negative-cache misses
      footer.keyIdCache.get(key)
    }

    /** Probe-backed key set for layout decisions; prefix listings (flatmap
      * feature discovery) fall back to the full-meta load. */
    lazy val keyProbe: Fields.KeyProbe = new Fields.KeyProbe {
      def apply(k: String): Boolean = keyId(k) >= 0
      def nonEmpty: Boolean = footer.nStreams > 0
      def withPrefix(p: String): Seq[String] =
        footer.streamKeys.filter(_.startsWith(p)).toSeq
      // legacy (v<15) files stored '#'-bearing flatmap keys raw
      override def escaped: Boolean = footer.version >= 15
    }

    /** Below this a group's directory is fetched whole in one read (narrow
      * tables: one I/O instead of one per stream); above it, per-stream
      * range reads keep wide-table metadata I/O proportional to projection. */
    private val SmallDirBytes = 256 << 10

    /** Per-stripe directory entries of stream `id` in group `group`. */
    def dirEntries(group: Int, id: Int): Array[DirEntry] = {
      val key = (group.toLong << 32) | (id & 0xffffffffL)
      val cached = footer.dirCache.get(key)
      if (cached != null) return cached
      // v5/v6 file: the directory was embedded in the footer (groupSize 1,
      // one stripe per group), already parsed — no section reads; cache the
      // single-entry wrapper so per-stripe hot-path lookups don't allocate
      if (footer.legacyDir != null) {
        footer.dirCache.putIfAbsent(key, Array(footer.legacyDir(group)(id)))
        return footer.dirCache.get(key)
      }
      val g = footer.groups(group)
      // nStreams, NOT streamKeys.length: the latter faults in the whole v8
      // meta section (names + stats) on wide sectioned footers — O(width)
      // I/O on the first data read, exactly what the sectioned layout avoids
      val nStreams = footer.nStreams
      val inGroup = math.min(footer.groupSize, footer.stripes.length - group * footer.groupSize)
      val tableBytes = 8L * (nStreams + 1)
      if (g.length <= SmallDirBytes) {
        val all = new Array[Byte](g.length.toInt)
        file.readFully(g.offset, all)
        metaBytesRead += g.length
        dirBytesRead += g.length
        val tc = new ByteCursor(all)
        val table = new Array[Long](nStreams + 1)
        var i = 0
        while (i <= nStreams) { table(i) = tc.readLong(); i += 1 }
        i = 0
        while (i < nStreams) {
          val c = new ByteCursor(all, (tableBytes + table(i)).toInt, (tableBytes + table(i + 1)).toInt)
          footer.dirCache.putIfAbsent((group.toLong << 32) | (i & 0xffffffffL), readDirEntries(c, inGroup, footer.version))
          i += 1
        }
        footer.dirCache.get(key)
      } else {
        val tb = new Array[Byte](16)
        file.readFully(g.offset + 8L * id, tb)
        val lo = (0 until 8).map(k => (tb(k) & 0xffL) << (8 * k)).sum
        val hi = (0 until 8).map(k => (tb(k + 8) & 0xffL) << (8 * k)).sum
        val blk = new Array[Byte]((hi - lo).toInt)
        file.readFully(g.offset + tableBytes + lo, blk)
        metaBytesRead += 16L + blk.length
        dirBytesRead += 16L + blk.length
        val entries = readDirEntries(new ByteCursor(blk), inGroup, footer.version)
        footer.dirCache.putIfAbsent(key, entries)
        footer.dirCache.get(key)
      }
    }

    private def entry(stripe: Int, id: Int): DirEntry =
      // legacy files hold the parsed directory in the footer; read it direct
      // (no wrapper array, no cache probe) since entry() runs per stripe×stream
      if (footer.legacyDir != null) footer.legacyDir(stripe)(id)
      else dirEntries(stripe / footer.groupSize, id)(stripe % footer.groupSize)

    def streamLoc(stripe: Int, id: Int): StreamLoc = entry(stripe, id).loc
    def streamStats(stripe: Int, id: Int): Stats = entry(stripe, id).stats
    def streamBloom(stripe: Int, id: Int): Option[Bloom] = Option(entry(stripe, id).bloom)
    /** v13 chunk directory of (stripe, stream) — null for pre-v13 files,
      * index streams and capped-out streams (fall back to whole-stream
      * fetch + header-scan skip). */
    def chunkDirOf(stripe: Int, id: Int): Array[ChunkLoc] = entry(stripe, id).chunks

    def readStreamBytes(stripe: Int, id: Int): Array[Byte] = {
      val loc = streamLoc(stripe, id)
      val b = new Array[Byte](loc.length.toInt)
      file.readFully(loc.offset, b)
      b
    }

    /** One positioned read of an arbitrary byte range — the IO-coalescing
      * scan path merges adjacent stream ranges into single reads (a k-column
      * projection costs one round trip per contiguous run, not k). */
    def readRange(offset: Long, length: Int): Array[Byte] = {
      val b = new Array[Byte](length)
      file.readFully(offset, b)
      b
    }

    override def close(): Unit = if (fileOpt != null) fileOpt.close()
  }

  /** Iterator over a stream's chunks (decoded columns). Frame:
    * [dataLen i32][rawLen varint][compression u8][flag u8][stats?][data]
    * — flag 1: per-chunk stats follow (decode-free chunk skipping); flag 2:
    * the frame is a stripe-scoped shared-dictionary alphabet, consumed
    * transparently (it is not a data chunk — chunk ordinals count data
    * frames only, so multi-stream zipping and the hash index stay aligned). */
  final class ChunkCursor(bytes: Array[Byte], present: Array[Boolean]) {
    /** Dense cursor over a whole stream's bytes (the normal shape). */
    def this(bytes: Array[Byte]) = this(bytes, null)
    private var pos = 0
    // sparse mode (v13 chunk-directory fetch): `bytes` holds only the data
    // frames whose `present` slot is true (plus every preceding alphabet
    // frame); `ord` is the LOGICAL data-chunk ordinal — absent chunks skip
    // and peek without bytes, and decoding one is a caller bug
    private var ord = 0
    private def requirePresent(): Unit =
      require(present == null || (ord < present.length && present(ord)),
        "nimble: decode of a chunk absent from this sparse fetch")
    /** Current byte offset in the stream (tools: per-chunk size accounting). */
    def bytePos: Int = pos
    private var sharedAlphabet: BytesCol = null
    // deferred alphabet frame: (compLen, rawLen, kind, dataPos) recorded by
    // ensureData, decoded only on the first data chunk that needs it — a
    // selective scan that skips every chunk of the stream never pays the
    // alphabet decompress+decode
    private var pendingAlphabet: (Int, Int, Byte, Int) = null
    def hasNext: Boolean =
      if (present != null) ord < present.length
      else { ensureData(); pos < bytes.length }

    /** Parse the frame header at `pos`: (compLen, rawLen, kind, flag, stats, dataPos). */
    private def header(): (Int, Int, Byte, Int, Stats, Int) = {
      val compLen = (bytes(pos) & 0xff) | ((bytes(pos + 1) & 0xff) << 8) |
        ((bytes(pos + 2) & 0xff) << 16) | ((bytes(pos + 3) & 0xff) << 24)
      val cur0 = new ByteCursor(bytes, pos + 4, bytes.length)
      val rawLen = cur0.readVarint().toInt
      val kind = cur0.readByte().toByte
      val flag = cur0.readByte()
      val stats = if (flag == 1) readStats(cur0) else null
      (compLen, rawLen, kind, flag, stats, cur0.pos)
    }

    private def payloadCursor(compLen: Int, rawLen: Int, kind: Byte, dataPos: Int): ByteCursor =
      if (kind == CompNone) new ByteCursor(bytes, dataPos, dataPos + compLen) // zero-copy
      else new ByteCursor(decompressChunk(kind,
        java.util.Arrays.copyOfRange(bytes, dataPos, dataPos + compLen), rawLen))

    /** Swallow any pending alphabet frame so `pos` always sits on a data
      * frame (or the end) for the public methods. The alphabet itself is NOT
      * decoded here — only its byte range is recorded (decode happens lazily
      * in [[decodeShared]]), so skip-only traversals never touch it. */
    private def ensureData(): Unit = {
      while (pos < bytes.length) {
        val (compLen, rawLen, kind, flag, _, dataPos) = header()
        if (flag != 2) return
        pendingAlphabet = (compLen, rawLen, kind, dataPos)
        sharedAlphabet = null
        pos = dataPos + compLen
      }
    }

    /** Stats of the next chunk without consuming it (chunk skipping);
      * sparse-absent chunks answer None. */
    def peekStats(): Option[Stats] =
      if (present != null && (ord >= present.length || !present(ord))) None
      else { ensureData(); Option(header()._5) }

    /** Codec id of the next chunk without consuming it (tooling). */
    def peekCodec(): Byte = {
      requirePresent()
      ensureData()
      val (compLen, rawLen, kind, _, _, dataPos) = header()
      if (kind == CompNone) bytes(dataPos)
      else {
        val data = java.util.Arrays.copyOfRange(bytes, dataPos, dataPos + compLen)
        decompressChunk(kind, data, rawLen)(0)
      }
    }

    /** Advance past the next chunk without decompressing or decoding;
      * sparse-absent chunks advance the ordinal alone (no bytes). */
    def skip(): Unit = {
      if (present != null && !present(ord)) { ord += 1; return }
      ensureData()
      val (compLen, _, _, _, _, dataPos) = header()
      pos = dataPos + compLen
      ord += 1
    }

    private def ensureSharedAlphabet(): Unit = {
      if (sharedAlphabet == null && pendingAlphabet != null) {
        val (compLen, rawLen, kind, dataPos) = pendingAlphabet
        sharedAlphabet = Codecs.decodeColumn(payloadCursor(compLen, rawLen, kind, dataPos))
          .asInstanceOf[BytesCol]
      }
      require(sharedAlphabet != null, "shared-dict chunk before its alphabet frame")
    }

    private def decodeShared(cur: ByteCursor): DictBytesCol = {
      ensureSharedAlphabet()
      val idxCol = Codecs.decodeColumn(cur).asInstanceOf[LongsCol]
      val idx = new Array[Int](idxCol.len)
      var i = 0
      while (i < idx.length) { idx(i) = idxCol.values(i).toInt; i += 1 }
      DictBytesCol(sharedAlphabet, idx, idxCol.nulls)
    }

    /** [[decodeShared]], bounded to rows [from, until): shared-dict is the
      * one string shape that DECLINES positional reads (alphabet-preserving
      * by design), so the indexed-lookup fallback was whole-chunk expanding
      * to verify a handful of candidates. The index sub-stream windows when
      * its codec seeks (Huffman checkpoints via Codecs.decodeValuesRange);
      * either way only the window's rows expand through the stripe alphabet
      * — string materialization, not index decode, is the expensive half. */
    private def decodeSharedRange(cur: ByteCursor, from: Int, until: Int): (Column, Int) = {
      ensureSharedAlphabet()
      val (idxCol0, start0) = Codecs.decodeValuesRange(cur, from, until)
      val idxCol = idxCol0.asInstanceOf[LongsCol]
      val lo = from - start0
      val hi = math.min(until - start0, idxCol.len)
      val k = hi - lo
      val idx = new Array[Int](k)
      var i = 0
      while (i < k) { idx(i) = idxCol.values(lo + i).toInt; i += 1 }
      val nulls =
        if (idxCol.nulls == null) null
        else java.util.Arrays.copyOfRange(idxCol.nulls, lo, hi)
      (DictBytesCol(sharedAlphabet, idx, nulls).expand, from)
    }

    def next(): Column = {
      requirePresent()
      ensureData()
      val (compLen, rawLen, kind, _, _, dataPos) = header()
      val cur = payloadCursor(compLen, rawLen, kind, dataPos)
      pos = dataPos + compLen
      ord += 1
      val c =
        if (cur.buf(cur.pos) == Codecs.SHAREDDICT) { cur.readByte(); decodeShared(cur).expand }
        else Codecs.decodeColumn(cur)
      Codecs.decodedValues.addAndGet(c.len)
      c
    }

    /** Encoding tree of the next chunk WITHOUT decoding any values
      * (reference: encodings/views/EncodingView.h): decompresses the frame
      * if compressed, then walks header fields only. Shared-dict chunks
      * report the index encoding (matching what a decode-recorded view
      * shows — the alphabet lives in its own stripe-level frame). */
    def viewNext(): Codecs.ViewNode = {
      requirePresent()
      ensureData()
      val (compLen, rawLen, kind, _, _, dataPos) = header()
      val cur = payloadCursor(compLen, rawLen, kind, dataPos)
      pos = dataPos + compLen
      ord += 1
      if (cur.buf(cur.pos) == Codecs.SHAREDDICT) cur.readByte()
      Codecs.viewTree(cur)
    }

    /** [[next]], but only rows [from, until) need materializing: codecs with
      * intra-chunk seek structure (Huffman checkpoints) decode a bounded
      * window, the rest decode whole. Returns (column, startRow) — row r of
      * the chunk lives at slice position r - startRow. */
    def nextRange(from: Int, until: Int): (Column, Int) = {
      requirePresent()
      ensureData()
      val (compLen, rawLen, kind, _, _, dataPos) = header()
      val cur = payloadCursor(compLen, rawLen, kind, dataPos)
      pos = dataPos + compLen
      ord += 1
      val (c, start) =
        if (cur.buf(cur.pos) == Codecs.SHAREDDICT) { cur.readByte(); decodeSharedRange(cur, from, until) }
        else Codecs.decodeValuesRange(cur, from, until)
      Codecs.decodedValues.addAndGet(c.len)
      (c, start)
    }

    /** [[next]], but only `positions` (strictly increasing, non-empty) need
      * materializing: codecs with positional structure (numeric families,
      * and r15 the bytes shapes Trivial/Const/Dict/Fsst/PrefixR) decode
      * exactly those values; anything else decodes whole and gathers.
      * Always consumes the chunk; always returns a DENSE column of
      * positions.length rows. Bytes columns should prefer [[nextAtOrNull]]
      * (the gather fallback here throws on BytesCol — their declining
      * shapes keep the lazy/dict survivor-materializing paths instead). */
    def nextAt(positions: Array[Int]): Column = {
      requirePresent()
      ensureData()
      val (compLen, rawLen, kind, _, _, dataPos) = header()
      val cur = payloadCursor(compLen, rawLen, kind, dataPos)
      pos = dataPos + compLen
      ord += 1
      if (cur.buf(cur.pos) != Codecs.SHAREDDICT) {
        val fast = Codecs.decodeValuesAt(cur, positions)
        if (fast != null) { Codecs.decodedValues.addAndGet(positions.length); return fast }
      }
      val full =
        if (cur.buf(cur.pos) == Codecs.SHAREDDICT) { cur.readByte(); decodeShared(cur).expand }
        else Codecs.decodeColumn(cur)
      Codecs.decodedValues.addAndGet(full.len)
      Codecs.gather(full, positions)
    }

    /** [[nextAt]], but DECLINES (returns null, chunk NOT consumed) when the
      * codec admits no positional decode — the caller falls back to its
      * dense or dict-preserving path with no wasted whole-chunk decode.
      * String cascade point reads use this: shared-dict and legacy-Prefix
      * chunks stay on the alphabet-preserving paths, everything else
      * (Trivial/Dict/Fsst/PrefixR) materializes survivors only. */
    def nextAtOrNull(positions: Array[Int]): Column = {
      requirePresent()
      ensureData()
      val (compLen, rawLen, kind, _, _, dataPos) = header()
      val cur = payloadCursor(compLen, rawLen, kind, dataPos)
      if (cur.buf(cur.pos) == Codecs.SHAREDDICT) return null
      val fast = Codecs.decodeValuesAt(cur, positions)
      if (fast == null) return null
      pos = dataPos + compLen
      ord += 1
      Codecs.decodedValues.addAndGet(positions.length)
      fast
    }

    /** [[nextAtOrNull]] for the LOOKUP materialization paths: shared-dict
      * chunks — the one string shape the cascade keeps alphabet-preserved —
      * serve positions here through the INDEX sub-stream (positional when
      * the index codec seeks, checkpoint-windowed otherwise) and expand
      * ONLY the selected rows through the stripe alphabet. An indexed
      * lookup materializes its handful of hit rows regardless, so alphabet
      * preservation buys nothing there and the decline forced a whole-chunk
      * [min,max] window per hit chunk (PROBES.md r17 LookupProbe row: 284
      * rows decoded per hit at small batches, almost all of it shared-dict
      * windows).
      * Non-shared chunks keep the exact nextAtOrNull decline semantics, so
      * the cascade's dict-preserving dense path is untouched. */
    def nextAtLookup(positions: Array[Int]): Column = {
      requirePresent()
      ensureData()
      val (compLen, rawLen, kind, _, _, dataPos) = header()
      val cur = payloadCursor(compLen, rawLen, kind, dataPos)
      if (cur.buf(cur.pos) != Codecs.SHAREDDICT) return nextAtOrNull(positions)
      cur.readByte()
      ensureSharedAlphabet()
      val n = positions.length
      val idxSel = new Array[Int](n)
      var nullsSel: Array[Boolean] = null
      val fast = Codecs.decodeValuesAt(cur, positions)
      if (fast != null) {
        val l = fast.asInstanceOf[LongsCol]
        var i = 0
        while (i < n) { idxSel(i) = l.values(i).toInt; i += 1 }
        nullsSel = l.nulls
      } else {
        val (c0, start) = Codecs.decodeValuesRange(cur,
          positions(0), positions(n - 1) + 1)
        val l = c0.asInstanceOf[LongsCol]
        var i = 0
        while (i < n) {
          val p = positions(i) - start
          idxSel(i) = l.values(p).toInt
          if (l.nulls != null && l.nulls(p)) {
            if (nullsSel == null) nullsSel = new Array[Boolean](n)
            nullsSel(i) = true
          }
          i += 1
        }
        if (l.nulls != null && nullsSel == null) nullsSel = new Array[Boolean](n)
      }
      pos = dataPos + compLen
      ord += 1
      Codecs.decodedValues.addAndGet(n.toLong)
      DictBytesCol(sharedAlphabet, idxSel, nullsSel).expand
    }

    /** [[next]] but dictionary-preserving for DICT- or shared-dict-coded
      * bytes chunks (filter columns — predicates then run per alphabet
      * entry, not per row). */
    def nextDict(): Column = {
      requirePresent()
      ensureData()
      val (compLen, rawLen, kind, _, _, dataPos) = header()
      val cur = payloadCursor(compLen, rawLen, kind, dataPos)
      pos = dataPos + compLen
      ord += 1
      val c =
        if (cur.buf(cur.pos) == Codecs.SHAREDDICT) { cur.readByte(); decodeShared(cur) }
        else Codecs.decodeColumnDict(cur)
      // dict-preserving decode materializes indices (+ alphabet once per
      // stripe): count rows — the work actually done per chunk
      Codecs.decodedValues.addAndGet(c.len)
      c
    }

    /** [[next]] for projection fill of string columns: DICT/shared-dict
      * chunks stay alphabet+indices and FSST chunks stay encoded
      * ([[LazyFsstBytesCol]]) — with a filter selection, only surviving rows
      * materialize their string at vector-fill time. */
    def nextLazy(): Column = {
      requirePresent()
      ensureData()
      val (compLen, rawLen, kind, _, _, dataPos) = header()
      val cur = payloadCursor(compLen, rawLen, kind, dataPos)
      pos = dataPos + compLen
      ord += 1
      val c =
        if (cur.buf(cur.pos) == Codecs.SHAREDDICT) { cur.readByte(); decodeShared(cur) }
        else Codecs.decodeColumnLazy(cur)
      Codecs.decodedValues.addAndGet(c.len)
      c
    }
  }
}
