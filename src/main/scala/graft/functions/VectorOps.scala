package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, QuaternaryExpression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native vector-similarity expressions (SURVEY.md §2.8 similarity search).
  *
  * Bit-identical to the composed `aggregate(zip_with(...))` forms in
  * graft.ops.Similarity (explicit left-to-right double accumulation), but a
  * single fused pass per row — Spark's higher-order functions evaluate
  * interpreted per element, which dominates the embedding ops' runtime at
  * 64 dims x millions of pairs.
  *
  * r16: CosineSim and LshBucket/LshProbes implement real `doGenCode` —
  * CodegenFallback kept each call OUT of whole-stage codegen (an
  * InternalRow is materialized and the expression tree interpreted per
  * row, per pair in the blocked cosine joins). The generated code shares
  * the scalar kernels below with the interpreted path, so eval and codegen
  * are bit-identical by construction.
  */

/** cosine(a, b) over two float arrays; null if lengths differ or any element
  * is null (zip_with padding semantics of the composed form). */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  // null on a length mismatch or null element even when both inputs are
  // non-nullable: the inherited `left.nullable || right.nullable` made
  // codegen assign an undeclared isNull and the interpreted path write 0.0
  override def nullable: Boolean = true
  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(aAny: Any, bAny: Any): Any =
    VectorOps.cosineKernel(aAny.asInstanceOf[ArrayData], bAny.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // inline fused loop (no helper call, no boxing): identical statement
      // order to cosineKernel, so the accumulated doubles are bit-equal
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val daa = ctx.freshName("daa")
      val dbb = ctx.freshName("dbb")
      val i = ctx.freshName("i")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
        int $n = $a.numElements();
        if ($b.numElements() != $n) {
          ${ev.isNull} = true;
        } else {
          double $dot = 0.0; double $daa = 0.0; double $dbb = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
            double $x = (double) $a.getFloat($i);
            double $y = (double) $b.getFloat($i);
            $dot += $x * $y; $daa += $x * $x; $dbb += $y * $y;
          }
          if (!${ev.isNull}) {
            ${ev.value} = $dot / (java.lang.Math.sqrt($daa) * java.lang.Math.sqrt($dbb));
          }
        }
      """
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Random-hyperplane LSH bucket id: sign bits of dot products with `planes`
  * deterministic pseudo-random hyperplanes, weight(p, d) =
  * pmod(d*2654435761 + p*40503 + 7, 1000003) / 500001.5 - 1. Returns 0 when
  * the vector length differs from `dims` (composed-form null semantics). */
case class LshBucket(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_lsh_bucket"

  override def nullSafeEval(vAny: Any, dimsAny: Any, planesAny: Any): Any =
    java.lang.Long.valueOf(VectorOps.lshBucketKernel(vAny.asInstanceOf[ArrayData],
      dimsAny.asInstanceOf[Int], planesAny.asInstanceOf[Int]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, dims, planes) =>
      // one static call on unboxed args: the fallback's per-row InternalRow
      // + interpreted tree is the cost being removed; the kernel is shared
      // with eval, so results are identical by construction
      s"${ev.value} = graft.functions.VectorOps.lshBucketKernel($v, $dims, $planes);")

  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** Multi-probe LSH bucket list (ref probing in `dwio/nimble` has no
  * equivalent; this is the standard multi-probe construction from Lv et al.,
  * VLDB'07): the main bucket plus `nprobes - 1` single-bit flips of the
  * planes with the smallest |margin| (= |dot(v, plane)|) — the sign decisions
  * most likely to differ for a true near neighbor. Margins are compared by
  * raw |margin| (doubleToLongBits order — identical to IEEE value order for
  * non-negative doubles, NaN last) with the plane index as tiebreak: every
  * replay (this expression, the composed Spark form, the SQL oracle)
  * accumulates the dot product in the same ascending-dimension order, so the
  * doubles are bit-identical and the comparison is exact — no decimal
  * rounding whose half-way boundaries could order differently across
  * engines. Probe buckets are distinct by construction (distinct XOR masks),
  * so a corpus row joins a query's probe list at most once. */
case class LshProbes(first: Expression, second: Expression, third: Expression,
    fourth: Expression)
    extends QuaternaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_lsh_probes"

  override def nullSafeEval(vAny: Any, dimsAny: Any, planesAny: Any, nprobesAny: Any): Any =
    VectorOps.lshProbesKernel(vAny.asInstanceOf[ArrayData], dimsAny.asInstanceOf[Int],
      planesAny.asInstanceOf[Int], nprobesAny.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, dims, planes, nprobes) =>
      s"${ev.value} = graft.functions.VectorOps.lshProbesKernel($v, $dims, $planes, $nprobes);")

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression, q: Expression): Expression =
    copy(first = f, second = s, third = t, fourth = q)
}

object VectorOps {
  /** Scalar kernel shared by CosineSim's eval and (statement-for-statement)
    * its generated code: null if lengths differ or any element is null. */
  def cosineKernel(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var dot = 0.0; var daa = 0.0; var dbb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; daa += x * x; dbb += y * y
      i += 1
    }
    java.lang.Double.valueOf(dot / (math.sqrt(daa) * math.sqrt(dbb)))
  }

  /** Shared LshBucket kernel (eval + codegen): sign bits of dot products
    * with the deterministic pseudo-random hyperplanes; 0 on length
    * mismatch (composed-form semantics). */
  def lshBucketKernel(v: ArrayData, dims: Int, planes: Int): Long = {
    if (v.numElements() != dims) return 0L
    var bucket = 0L
    var p = 0
    while (p < planes) {
      var acc = 0.0
      var d = 0
      while (d < dims) {
        if (v.isNullAt(d)) { acc = Double.NaN; d = dims }
        else {
          val w = ((d.toLong * 2654435761L + p.toLong * 40503L + 7L) % 1000003L).toDouble / 500001.5 - 1.0
          acc += v.getFloat(d).toDouble * w
          d += 1
        }
      }
      if (acc >= 0) bucket += 1L << p
      p += 1
    }
    bucket
  }

  /** Shared LshProbes kernel (eval + codegen) — see [[LshProbes]] for the
    * multi-probe construction and the bit-exact margin-ordering contract. */
  def lshProbesKernel(v: ArrayData, dims: Int, planes: Int,
      nprobesRaw: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val nprobes = math.min(nprobesRaw, planes + 1)
    if (v.numElements() != dims)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array(0L))
    val margin = new Array[Double](planes)
    var bucket = 0L
    var p = 0
    while (p < planes) {
      var acc = 0.0
      var d = 0
      while (d < dims) {
        if (v.isNullAt(d)) { acc = Double.NaN; d = dims }
        else {
          val w = ((d.toLong * 2654435761L + p.toLong * 40503L + 7L) % 1000003L).toDouble / 500001.5 - 1.0
          acc += v.getFloat(d).toDouble * w
          d += 1
        }
      }
      if (acc >= 0) bucket += 1L << p
      margin(p) = acc
      p += 1
    }
    // flip order: raw |margin| ascending, plane index as tiebreak. Compared
    // via doubleToLongBits (== IEEE value order for the non-negative |m|,
    // NaN after every finite value) — integer-exact, so the composed Spark
    // form and the SQL oracle ordering by the identically-accumulated double
    // rank ties the same way with no rounding-boundary hazard
    val order = (0 until planes).sortBy(p =>
      (java.lang.Double.doubleToLongBits(math.abs(margin(p))), p))
    val out = new Array[Long](math.max(nprobes, 1))
    out(0) = bucket
    var i = 1
    while (i < out.length) { out(i) = bucket ^ (1L << order(i - 1)); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Register `graft_cosine(a, b)`, `graft_lsh_bucket(v, dims, planes)` and
    * `graft_lsh_probes(v, dims, planes, nprobes)` (idempotent). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    Registry.ensure(spark, "graft_cosine", exprs => CosineSim(exprs.head, exprs(1)))
    Registry.ensure(spark, "graft_lsh_bucket", exprs => LshBucket(exprs.head, exprs(1), exprs(2)))
    Registry.ensure(spark, "graft_lsh_probes",
      exprs => LshProbes(exprs.head, exprs(1), exprs(2), exprs(3)))
  }
}

/** Idempotent session-registry helper for the graft expression set. */
object Registry {
  def ensure(spark: org.apache.spark.sql.SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit = {
    val reg = spark.sessionState.functionRegistry
    val id = org.apache.spark.sql.catalyst.FunctionIdentifier(name)
    if (!reg.functionExists(id)) reg.createOrReplaceTempFunction(name, builder, "built-in")
  }
}
