package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{array, call_function, col, element_at, lit, typedLit}
import graft.format.GraftIO
import graft.spark.NimbleSource

/** OPTIMIZE ZORDER — multi-dimensional clustering rewrite for tablet
  * directories.
  *
  * A sort-clustered table prunes linearly on its leading sort column and
  * not at all on any other; at 100 TB that means a second selective filter
  * column scans everything. Z-ordering rewrites the table along a Morton
  * space-filling curve over up to eight columns: each column maps to an
  * 8-bit quantile bucket (sampled boundaries, so skewed value
  * distributions still spread across buckets), the bucket bits interleave
  * into one long key ([[graft.functions.ZInterleave]]), and the rewrite
  * range-partitions + sorts on that key. Rows adjacent on the curve are
  * close in every clustered dimension, so per-file and per-stripe min/max
  * stats — which the scan already uses for plan-time stripe pruning —
  * become tight on ALL clustered columns at once: a point or range filter
  * on any of k clustered columns prunes ~N^((k-1)/k) of N stripes instead
  * of zero (the same trade Delta Lake / Iceberg OPTIMIZE ZORDER makes).
  *
  * The curve key is a transient rewrite artifact: it is dropped before the
  * write and nothing about it is declared in footers. In particular the
  * output does NOT declare `sortColumns` — the table is not sorted by any
  * real column, and a false declaration would let TopN pushdown and
  * sorted-range probes return wrong rows. All pruning benefits ride plain
  * per-stripe statistics, which need no declaration.
  *
  * Preserves the non-sort layout recovered from the input footers (indexes,
  * blooms, FlatMap / dict-array / dedup-map, nanos split). Bucketed tables
  * are refused: the bucket-hash write distribution and the curve's range
  * distribution contradict — z-order within buckets would silently drop
  * the storage-partitioned-join contract's co-location benefit ordering.
  */
object ZOrder {

  /** Sampled quantile boundaries for `colName`: up to `buckets-1` distinct
    * values splitting the sampled distribution evenly. Sampling is
    * planning-side only (bounded: ~64 values per target bucket) — the same
    * approach Spark's own RangePartitioner takes, and mis-sampling only
    * costs clustering quality, never correctness. */
  private def sampleBoundaries(df: DataFrame, colName: String, buckets: Int,
      totalRows: Long): Array[Any] = {
    val target = 64L * buckets
    val frac = math.min(1.0, target.toDouble / math.max(1L, totalRows))
    val sampled = df.select(col(colName)).where(col(colName).isNotNull)
      .sample(withReplacement = false, frac, seed = 42)
      .limit((2 * target).toInt) // hard cap: a mis-estimated frac cannot flood the driver
      .collect().map(_.get(0))
    boundariesOf(sampled, buckets)
  }

  /** One joint planning sample for every curve column — k per-column sample
    * scans fold into a single pass over the table, so planning cost stops
    * scaling with the curve's dimensionality. A column whose non-null yield
    * lands too thin (a mostly-null column no longer pre-filtered before
    * sampling) falls back to its own null-filtered pass, restoring the
    * dedicated sample's boundary quality at the cost of one extra scan for
    * just that column. */
  private def sampleAllBoundaries(df: DataFrame, cols: Seq[String], buckets: Int,
      totalRows: Long): (Map[String, Array[Any]], Array[org.apache.spark.sql.Row]) = {
    val target = 64L * buckets
    val frac = math.min(1.0, target.toDouble / math.max(1L, totalRows))
    val sampled = df.select(cols.map(col): _*)
      .sample(withReplacement = false, frac, seed = 42)
      .limit((2 * target).toInt) // hard cap: a mis-estimated frac cannot flood the driver
      .collect()
    // the yield a dedicated null-filtered pass would have achieved. The
    // fallback threshold is 2x (not 4x): nulls are filtered AFTER the
    // row-level sample, so a moderately-null column (e.g. 26-75% nulls)
    // yields proportionally fewer boundary samples than the dedicated
    // null-filtered pass — 2x bounds the quality loss to a halved sample
    // before the per-column pass restores it (r19 ADVICE)
    val fullYield = math.min(target, math.max(1L, totalRows))
    (cols.zipWithIndex.map { case (c, i) =>
      val vals = sampled.map(_.get(i)).filter(_ != null)
      val bounds =
        if (vals.length.toLong * 2 < fullYield) sampleBoundaries(df, c, buckets, totalRows)
        else boundariesOf(vals, buckets)
      c -> bounds
    }.toMap, sampled)
  }

  /** Driver-side ordering over external (collected) values — the sort the
    * boundary quantiles and the sample-derived curve-key splits share. */
  private def externalOrdering: Ordering[Any] = new Ordering[Any] {
    @SuppressWarnings(Array("unchecked"))
    def compare(a: Any, b: Any): Int = (a, b) match {
      case (x: Float, y: Float) => java.lang.Float.compare(x, y)
      case (x: Double, y: Double) => java.lang.Double.compare(x, y)
      case (x: Comparable[_], y) => x.asInstanceOf[Comparable[Any]].compareTo(y)
    }
  }

  /** Equal-frequency boundaries (up to `buckets-1` distinct values) of a
    * driver-side sample. */
  private def boundariesOf(sampled: Array[Any], buckets: Int): Array[Any] = {
    if (sampled.isEmpty) return Array.empty
    implicit val ord: Ordering[Any] = externalOrdering
    val sorted = sampled.sorted
    val out = scala.collection.mutable.ArrayBuffer[Any]()
    var i = 1
    while (i < buckets) {
      val v = sorted(((i.toLong * sorted.length) / buckets).toInt.min(sorted.length - 1))
      if (out.isEmpty || ord.compare(out.last, v) != 0) out += v
      i += 1
    }
    out.toArray
  }

  /** Column types the curve supports: atomic orderable types whose external
    * (collected) values are java Comparable, so boundary sampling can sort
    * them on the driver. Binary/array/struct are orderable to Catalyst but
    * have no Comparable external form — refuse them up front rather than
    * dying with a MatchError mid-sample. */
  private def supportedType(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
           StringType | DateType | TimestampType | TimestampNTZType | BooleanType => true
      case _: DecimalType => true
      case _ => false
    }
  }

  /** The Z-curve key column for `cols` over `df` (exposed for specs). */
  def zkey(df: DataFrame, cols: Seq[String], buckets: Int = 256,
      totalRows: Long = -1L): org.apache.spark.sql.Column =
    planKey(df, cols, buckets, totalRows)._1

  /** The zkey column PLUS the driver-side curve keys of the joint planning
    * sample — the rewrite derives its range split points from these instead
    * of paying RangePartitioner's own whole-table sampling job (r21 OPT,
    * guide §2.4: the sampling pass re-evaluated scan + zkey over every row).
    * Driver keys replay the exact ZBucket binary search + ZInterleave
    * scatter; the only divergence is the external (Comparable) ordering for
    * strings vs UTF8String's byte ordering — a split-quality nuance on
    * non-ASCII data, never a correctness input (splits only balance
    * partitions; the within-partition sort is the real order). */
  private def planKey(df: DataFrame, cols: Seq[String], buckets: Int,
      totalRows: Long): (org.apache.spark.sql.Column, Array[Long]) = {
    require(cols.nonEmpty && cols.length <= 8, "zorder takes 1..8 columns")
    require(buckets >= 2 && buckets <= 256,
      s"zorder: buckets must be in [2, 256] (8-bit curve ids), got $buckets")
    cols.foreach { c =>
      require(df.schema.fieldNames.contains(c),
        s"nimble: zorder: column $c not in ${df.schema.fieldNames.mkString(",")}")
      require(supportedType(df.schema(c).dataType),
        s"nimble: zorder: column $c of type ${df.schema(c).dataType.simpleString} " +
          "is not supported for z-order clustering (atomic orderable types only)")
    }
    graft.functions.ZOrderKey.register(df.sparkSession)
    val rows = if (totalRows >= 0) totalRows else df.count()
    val (allBounds, sampleRows) = sampleAllBoundaries(df, cols, buckets, rows)
    val ids = cols.map { c =>
      val bounds = allBounds(c)
      if (bounds.isEmpty) lit(0) // all-null or empty column: constant bucket
      else {
        // cast the literal array to the column's exact type (lit() can
        // infer a sibling type, e.g. a different decimal precision)
        val bt = org.apache.spark.sql.types.ArrayType(df.schema(c).dataType)
        call_function("graft_zbucket", col(c), array(bounds.map(lit(_)): _*).cast(bt))
      }
    }
    val k = cols.length
    val ord = externalOrdering
    val sampleKeys = sampleRows.map { row =>
      var key = 0L
      var j = 0
      while (j < k) {
        val bounds = allBounds(cols(j))
        val v = row.get(j)
        val bucket =
          if (v == null || bounds.isEmpty) 0
          else {
            // same "count of bounds <= v" binary search as ZBucket.bucketOf
            var lo = 0
            var hi = bounds.length
            while (lo < hi) {
              val mid = (lo + hi) >>> 1
              if (ord.compare(bounds(mid), v) <= 0) lo = mid + 1 else hi = mid
            }
            lo
          }
        key = graft.functions.ZInterleave.scatter(key, bucket, j, k)
        j += 1
      }
      key
    }
    (call_function("graft_zinterleave", ids: _*), sampleKeys)
  }

  /** Rewrite `dir` into `outDir`, z-order-clustered on `cols`, at
    * ~`targetFileBytes` per output file. */
  def zorder(spark: SparkSession, dir: String, outDir: String, cols: Seq[String],
      targetFileBytes: Long = 256L << 20, buckets: Int = 256,
      extraOptions: Map[String, String] = Map.empty,
      minTaskBytes: Long = 4L << 20): Compaction.Report = {
    require(minTaskBytes > 0, "nimble: zorder: minTaskBytes must be positive")
    require(new java.io.File(dir).getCanonicalPath !=
        new java.io.File(outDir).getCanonicalPath,
      s"nimble: zorder: outDir must differ from the input directory ($dir)")
    val layout = Compaction.recoverLayout(dir)
    require(!layout.contains("numBuckets"),
      s"nimble: zorder: $dir is hash-bucketed — z-ordering would break the " +
        "storage-partitioned-join layout; compact within buckets instead")
    require(!extraOptions.keys.exists(_.equalsIgnoreCase("sortColumns")),
      "nimble: zorder: extraOptions must not declare sortColumns — the curve " +
        "order is not a column sort (TopN/sorted probes would return wrong rows)")
    val opts = (layout - "sortColumns") ++ extraOptions // curve order is not a column sort: never declare one
    val before = GraftIO.listGft(dir)
    val bytesBefore = before.map(_.length).sum
    val totalRows = before.map(f => NimbleSource.footerOf(f.path).rowCount).sum
    val nOut = math.max(1, math.ceil(bytesBefore.toDouble / targetFileBytes).toInt)
    // r21 OPT (guide §2.2/§6): the rewrite's shuffle/sort parallelism used to
    // BE the output file count (nOut = bytes/targetFileBytes), so any table
    // smaller than parallelism x targetFileBytes sorted and encoded on a
    // handful of tasks while the rest of the cluster idled (bench shape:
    // 111 MB / 64 MB target = 2 tasks on 32 cores — the sort alone was ~9 s
    // of the ~10 s wall). The curve shuffle now range-partitions at cluster
    // parallelism (floored at ~4 MB per task so tiny tables keep one task),
    // and when that exceeds nOut the sorted parts are stitched back to
    // ~targetFileBytes by the raw stripe concat (adjacent parts are adjacent
    // curve ranges, so the concat preserves curve order and every stripe's
    // stats stay exactly as tight as the direct nOut-file write's). At
    // cluster scale nOut >= parallelism and the plan is unchanged.
    val nPart = math.max(nOut, math.min(spark.sparkContext.defaultParallelism,
      math.ceil(bytesBefore.toDouble / minTaskBytes).toInt))

    val df = spark.read.format("nimble").load(dir)
    // collision-proof key name: a data column literally named __zkey must
    // survive the rewrite untouched, not be overwritten by the curve key
    var zc = "__zkey"
    while (df.schema.fieldNames.contains(zc)) zc += "_"
    val (keyCol, sampleKeys) = planKey(df, cols, buckets, totalRows)
    val keyed = df.withColumn(zc, keyCol)
    // r21 OPT (guide §2.4): range-distribute on DRIVER-DERIVED splits
    // instead of repartitionByRange — RangePartitioner's sampling runs a
    // whole extra job that re-evaluates scan + curve key over every row
    // (measured 1.5-4.7 s of the bench rewrite's wall; a full table pass at
    // cluster scale). The boundary sample already collected is quantiled
    // into nPart curve-key ranges, each range maps to its own partition
    // through a hash-inverted token (repartition(n, expr) places rows at
    // pmod(murmur3(expr), n) — token t_b is chosen so bucket b lands in
    // partition b), so partitions stay curve-monotone exactly as
    // repartitionByRange's and the name-ordered concat below stays valid.
    // The expression is a pure function of the row (retry-safe), and split
    // quality only balances partitions — the within-partition sort is the
    // real order.
    java.util.Arrays.sort(sampleKeys)
    val splits = {
      val out = scala.collection.mutable.ArrayBuffer[Long]()
      var i = 1
      while (i < nPart && sampleKeys.nonEmpty) {
        val v = sampleKeys(((i.toLong * sampleKeys.length) / nPart).toInt
          .min(sampleKeys.length - 1))
        if (out.isEmpty || out.last != v) out += v
        i += 1
      }
      out.toArray
    }
    val distributed =
      if (splits.isEmpty) keyed.repartition(1)
      else {
        val nB = splits.length + 1
        val tokens = new Array[Int](nB)
        var b = 0
        var t = 0
        while (b < nB) {
          // pmod(murmur3(t), nPart) == b picks the token for bucket b
          while ((((org.apache.spark.unsafe.hash.Murmur3_x86_32
              .hashInt(t, 42) % nPart) + nPart) % nPart) != b) t += 1
          tokens(b) = t
          b += 1
          t = 0
        }
        val bucketId = call_function("graft_zbucket", col(zc),
          array(splits.map(lit(_)).toIndexedSeq: _*))
        keyed.repartition(nPart, element_at(typedLit(tokens), bucketId + 1))
      }
    val shaped = distributed
      .sortWithinPartitions(zc)
      .select(df.schema.fieldNames.map(col).toIndexedSeq: _*) // narrow: drops the key, keeps order

    if (nPart == nOut) {
      var w = shaped.write.format("nimble").mode("overwrite")
      opts.foreach { case (k, v) => w = w.option(k, v) }
      w.save(outDir)
    } else {
      // two-stage: parallel sorted write into a side dir, then byte-level
      // concat of name-ordered (= curve-ordered) parts into ~targetFileBytes
      // files. Ineligible layouts (e.g. per-part flatmap key divergence)
      // keep the parts as the output — correct, merely smaller files.
      val partsDir = s"$outDir.zparts-${java.util.UUID.randomUUID().toString.take(8)}"
      try {
        var w = shaped.write.format("nimble").mode("overwrite")
        opts.foreach { case (k, v) => w = w.option(k, v) }
        w.save(partsDir)
        val parts = GraftIO.listGft(partsDir).map(_.path)
          .sortBy(p => p.substring(p.lastIndexOf('/') + 1))
        GraftIO.delete(outDir, recursive = true)
        Compaction.rawConcatOrdered(parts, Nil, outDir, targetFileBytes,
          overwrite = true) match {
          case Some(_) => ()
          case None =>
            GraftIO.mkdirs(outDir)
            parts.foreach(p => GraftIO.rename(p,
              GraftIO.child(outDir, p.substring(p.lastIndexOf('/') + 1))))
        }
      } finally GraftIO.delete(partsDir, recursive = true)
    }

    val after = GraftIO.listGft(outDir)
    Compaction.Report(before.length, after.length, bytesBefore,
      after.map(_.length).sum,
      after.map(f => NimbleSource.footerOf(f.path).rowCount).sum, opts)
  }
}
