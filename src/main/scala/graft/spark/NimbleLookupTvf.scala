package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{EmptyRow, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.types._

import graft.format.{GraftIO, Lookup}

/** `nimble_lookup(path, 'k1[+k2..]', probe1[, probe2 ...])` — the batch
  * index-lookup surface as a SQL table function (reference:
  * dwio/nimble/velox/selective/SelectiveNimbleIndexReader.h:45-70 — encode
  * the request bounds, probe matching stripes via the index, return results
  * in REQUEST order: all rows for probe N before any row of probe N+1).
  *
  * Each probe is one lookup request: a scalar for a single-column key, a
  * `struct(v1, v2, ...)`/`(v1, v2)` for prefix equality on a composite
  * index (`indexColumns=a+b` at write), or a range request mirroring the
  * reference's bounds semantics (`index/IndexLookup.h:55-65`) —
  * `named_struct('lo', x, 'hi', y)` probes `lo <= key <= hi` (both
  * inclusive, non-null), and inside a composite probe the range struct may
  * appear as the LAST component: `struct(v1, named_struct('lo',x,'hi',y))`
  * is equality on the first key column plus a range on the second. The
  * output prepends `lookup_seq` (the 0-based request index) to the table's
  * columns, making the request-order contract part of the result, and
  * letting callers join results back to their request batch without
  * re-deriving keys.
  *
  * Execution is driver-side at plan-build time through
  * [[graft.format.Lookup]] (footer-cached stripe pruning + `#cidx`/`#idx`
  * probes — milliseconds per request, no Spark job), materialized as a
  * [[LocalRelation]]. That is the right shape for what this API is — a
  * low-latency point-probe surface with request-ordered results. The DSv2
  * scan serves the other probe shapes: `WHERE k = ?` or a small `IN` on a
  * hash-indexed column whose scan plans one partition also runs on the
  * driver (a LocalScan, see [[NimbleScanBuilder]]), in scan order; a LARGE
  * probe set (thousands of keys+) belongs to the distributed scan path:
  * `probe JOIN nimble_table` pushes an IN-filter into the scan, which the
  * index-assisted candidate chunk selection serves (q25 / E2EFilterSpec)
  * with full parallelism.
  */
object NimbleLookupTvf {
  val name = "nimble_lookup"

  val info = new ExpressionInfo("graft.spark.NimbleLookupTvf", name)

  val builder: Seq[Expression] => LogicalPlan = build

  /** Register on a session (idempotent) — the non-extensions path; cluster
    * deployments get it via `spark.sql.extensions=graft.spark.GraftExtensions`. */
  def install(spark: SparkSession): Unit = {
    val reg = spark.sessionState.tableFunctionRegistry
    if (!reg.functionExists(FunctionIdentifier(name)))
      reg.createOrReplaceTempFunction(name, builder, "built-in")
  }

  private def foldedScala(e: Expression, what: String): Any = {
    require(e.foldable, s"$name: $what must be a literal, got: ${e.sql}")
    CatalystTypeConverters.convertToScala(e.eval(EmptyRow), e.dataType)
  }

  private[spark] def build(args: Seq[Expression]): LogicalPlan = {
    require(args.length >= 3,
      s"usage: $name('/path/to/table', 'keyCol[+keyCol2..]', probe1[, probe2 ...])")
    val path = String.valueOf(foldedScala(args(0), "path"))
    val cols = String.valueOf(foldedScala(args(1), "key columns")).split("\\+").toSeq
    require(cols.forall(_.nonEmpty), s"$name: empty key column in '${args(1).sql}'")

    val metas = GraftIO.listGft(path)
    require(metas.nonEmpty, s"$name: no nimble files under $path")
    val tableSchema = DataType.fromJson(NimbleSource.footerOf(metas.head.path).schemaJson)
      .asInstanceOf[StructType]
    val byName = tableSchema.fields.map(f => f.name -> f).toMap
    for (c <- cols) require(byName.contains(c),
      s"$name: key column '$c' not in table schema ${tableSchema.fieldNames.mkString(",")}")

    // probe components coerce to the STORED column type before key encoding
    // (an INT literal probing a BIGINT or DOUBLE column must encode as the
    // writer did, or the memcomparable binary search silently misses)
    def coerce(v: Any, col: String): Any = (v, byName(col).dataType) match {
      case (null, _) => null
      case (n: Number, ByteType | ShortType | IntegerType | LongType) => n.longValue()
      case (n: Number, FloatType | DoubleType) => n.doubleValue()
      case (s: String, StringType) => s
      case (other, dt) => throw new IllegalArgumentException(
        s"$name: probe value $other (${other.getClass.getSimpleName}) does not fit " +
          s"key column '$col' of type ${dt.simpleString}")
    }

    // atomic columns only, like Lookup itself — a complex-typed or binary
    // column would come back absent/lossy, so it is excluded from the
    // output up front (the scan path serves full-schema reads)
    val outFields = tableSchema.fields.filter(f => f.dataType match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampType | TimestampNTZType | FloatType | DoubleType |
           BooleanType | StringType => true
      case dt: DecimalType => dt.precision <= 18
      case _ => false
    })
    for (c <- cols) require(outFields.exists(_.name == c),
      s"$name: key column '$c' is not an atomic lookup-able column")
    // KEY columns are restricted to the hash-stable equality domain (the
    // same rule as bucket keys): float/double equality probes disagree with
    // the stored hash/verify paths (NaN, -0.0, truncating longValue), and
    // Lookup's verify supports long- and string-backed keys — a float key
    // would silently return EMPTY rather than wrong, but silent-empty on a
    // legit probe is still a wrong answer. Reject loudly instead.
    for (c <- cols) byName(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampType | TimestampNTZType | StringType => ()
      case dt => throw new IllegalArgumentException(
        s"$name: key column '$c' of type ${dt.simpleString} is not a hash-stable " +
          "lookup key (integral/string/date/timestamp only) — float/double/boolean/" +
          "decimal equality does not match the stored index; filter via the scan path instead")
    }
    val outSchema = StructType(
      StructField("lookup_seq", IntegerType, nullable = false) +: outFields)

    // Lookup hands back physical values (longs for every integral-backed
    // stream, UTF-8 strings, doubles) — map them onto the logical catalyst
    // representation the footer schema declares
    def catalystOf(v: Any, dt: DataType): Any = (v, dt) match {
      case (null, _) => null
      case (l: java.lang.Long, LongType | TimestampType | TimestampNTZType) => l
      case (l: java.lang.Long, IntegerType | DateType) => l.toInt
      case (l: java.lang.Long, ShortType) => l.toShort
      case (l: java.lang.Long, ByteType) => l.toByte
      case (l: java.lang.Long, d: DecimalType) =>
        org.apache.spark.sql.types.Decimal.createUnsafe(l, d.precision, d.scale)
      case (d: java.lang.Double, DoubleType) => d
      case (d: java.lang.Double, FloatType) => java.lang.Float.valueOf(d.toFloat)
      case (b: java.lang.Boolean, BooleanType) => b
      case (s: String, StringType) => org.apache.spark.unsafe.types.UTF8String.fromString(s)
      case (other, t) => throw new IllegalStateException(
        s"$name: cannot map looked-up value $other to ${t.simpleString}")
    }

    // a struct whose fields are exactly (lo, hi) is a RANGE request, not a
    // composite-equality tuple — bounds map to Lookup's inclusive range
    def isRangeStruct(dt: DataType): Boolean = dt match {
      case s: StructType => s.fieldNames.map(_.toLowerCase(java.util.Locale.ROOT))
        .toSeq == Seq("lo", "hi")
      case _ => false
    }

    val rows = scala.collection.mutable.ArrayBuffer[InternalRow]()
    def emit(seq: Int, m: Map[String, Any]): Unit = {
      val arr = new Array[Any](outSchema.length)
      arr(0) = seq
      var i = 1
      while (i < outSchema.length) {
        val f = outSchema.fields(i)
        arr(i) = catalystOf(m.getOrElse(f.name, null), f.dataType)
        i += 1
      }
      rows += InternalRow.fromSeq(arr.toIndexedSeq)
    }
    // all-scalar probes on a single-column key take the BATCH path: one
    // footer parse + one index load per stripe for the whole request batch
    // instead of per probe — the shape that keeps a 10K-100K key batch on
    // index-traversal cost (LookupScaleSpec pins it)
    val probeExprs = args.drop(2)
    if (cols.length == 1 &&
        probeExprs.forall(e => !e.dataType.isInstanceOf[StructType])) {
      val vals = probeExprs.zipWithIndex.map { case (e, i) =>
        coerce(foldedScala(e, s"probe ${i + 1}"), cols.head)
      }
      val (perProbe, _) = Lookup.batchPointLookupMetered(path, cols.head, vals)
      for (seq <- vals.indices; m <- perProbe(seq)) emit(seq, m)
      return LocalRelation(DataTypeUtils.toAttributes(outSchema), rows.toSeq)
    }
    // every other shape — composite equality tuples, (eq-prefix + range)
    // structs, single-col ranges — parses per probe, then answers as ONE
    // batch through the `#cidx` run (one index load per stripe for the
    // whole request; request order preserved by per-probe result buckets)
    val parsed = probeExprs.zipWithIndex.map { case (probeExpr, seq) =>
      val what = s"probe ${seq + 1}"
      val (eq: Seq[Any], rangeRaw: Option[(Any, Any)]) = probeExpr.dataType match {
        case dt if isRangeStruct(dt) =>
          val r = foldedScala(probeExpr, what).asInstanceOf[org.apache.spark.sql.Row]
          (Nil, Some((r.get(0), r.get(1))))
        case st: StructType =>
          val row = foldedScala(probeExpr, what).asInstanceOf[org.apache.spark.sql.Row]
          val rangeIdx = st.fields.indexWhere(f => isRangeStruct(f.dataType))
          if (rangeIdx < 0) (row.toSeq, None)
          else {
            require(rangeIdx == st.fields.length - 1,
              s"$name: $what — the range component must be the last probe component " +
                "(equality prefix + one range, IndexLookup bounds semantics)")
            val rr = row.get(rangeIdx).asInstanceOf[org.apache.spark.sql.Row]
            (row.toSeq.take(rangeIdx), Some((rr.get(0), rr.get(1))))
          }
        case _ => (Seq(foldedScala(probeExpr, what)), None)
      }
      val nComp = eq.length + (if (rangeRaw.isDefined) 1 else 0)
      require(nComp >= 1 && nComp <= cols.length,
        s"$name: $what has $nComp components for ${cols.length} key columns")
      val vals = eq.zip(cols).map { case (v, c) => coerce(v, c) }
      val range = rangeRaw.map { case (lo, hi) =>
        require(lo != null && hi != null,
          s"$name: $what — range bounds must be non-null (half-open probes " +
            "belong to the scan path's pushed range filters)")
        val rc = cols(eq.length)
        (coerce(lo, rc), coerce(hi, rc))
      }
      (vals, range)
    }
    // request order is insertion order: every row of probe N lands before
    // any row of probe N+1 (SelectiveNimbleIndexReader.h:66-68)
    val (perProbe, _) = Lookup.batchCompositeLookupMetered(path, cols, parsed)
    for (seq <- parsed.indices; m <- perProbe(seq)) emit(seq, m)
    LocalRelation(DataTypeUtils.toAttributes(outSchema), rows.toSeq)
  }
}
