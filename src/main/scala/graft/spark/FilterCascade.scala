package graft.spark

import scala.collection.mutable

import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

import graft.format.{Column, PhysType, Tablet}

/** Cascading selectivity-ordered filter evaluation over one chunk at a time
  * — the reference's SelectiveReader discipline (reference:
  * docs/develop/nimble_selective_reader.rst:163-199,
  * dwio/nimble/velox/selective/ChunkedDecoder.h:111): decode filter columns
  * one at a time, most-selective-first, each narrowing the survivor set the
  * next must test; a chunk whose survivor set empties never decodes the
  * remaining filter (or any projected/aggregated) columns, and sparse
  * survivor sets point-decode later columns positionally.
  *
  * This class holds the logic SHARED between the batch scan
  * ([[NimbleBatchReader]]) and the mid-scan aggregate fold
  * ([[NimbleAggStripeReader]]): conjunct partitioning, adaptive
  * pass-rate evidence, footer-stats cold-start seeding, and the per-chunk
  * survivor narrowing loop. The callers keep what differs — which reader
  * decodes a column, point-read eligibility beyond the structural rules,
  * and what happens to the survivors (vector fill vs accumulator fold).
  *
  * Lifetime: one instance per stripe reader. Evidence accumulates across
  * that reader's chunks; ordering re-evaluates per chunk.
  */
final class FilterCascade(
    filters: Array[Filter],
    dts: String => DataType,
    present: String => Boolean,
    /** File-level footer stats of a column (nanos-scaled by the caller for
      * split timestamps) — cold-start selectivity seeding only. */
    fileStats: String => Option[Tablet.Stats],
    /** File-level HLL distinct-count estimate (v10 ndvSketches). */
    fileNdv: String => Option[Long]) {

  private def presentRefsOf(f: Filter): Array[String] =
    f.references.distinct.filter(present)

  /** Conjuncts over only-absent (schema-evolved) columns: row-constant over
    * an all-null chunk — one evaluation decides the chunk, zero decode. */
  val constantConjuncts: Array[Filter] = filters.filter(presentRefsOf(_).isEmpty)

  /** Cascadable groups: conjuncts whose present refs collapse to ONE column
    * (absent extra refs read as null), keyed by that column. */
  val cascadeGroups: Array[(String, Array[Filter])] =
    filters.filter(presentRefsOf(_).length == 1)
      .groupBy(f => presentRefsOf(f).head).toArray

  /** Conjuncts spanning >= 2 present columns: evaluated after the cascade,
    * over whatever rows survive it. */
  val tailConjuncts: Array[Filter] = filters.filter(presentRefsOf(_).length >= 2)
  val tailRefSet: Set[String] = tailConjuncts.flatMap(_.references).toSet

  // r21 OPT: equality-family filter tree — every leaf tests (in)equality or
  // null-ness, never order or substring. Such predicates evaluate EXACTLY in
  // the FSST-encoded domain (the per-chunk symbol table makes encoding a
  // deterministic injection: equal strings encode to equal bytes, different
  // strings must differ or decode would be ambiguous), so an FSST filter
  // chunk never needs row-wise string materialization.
  private def eqOnlyTree(f: Filter): Boolean = f match {
    case And(l, r) => eqOnlyTree(l) && eqOnlyTree(r)
    case Or(l, r) => eqOnlyTree(l) && eqOnlyTree(r)
    case Not(c) => eqOnlyTree(c)
    case _: EqualTo | _: EqualNullSafe | _: In | _: IsNull | _: IsNotNull => true
    case _: AlwaysTrue | _: AlwaysFalse => true
    case _ => false
  }

  /** Columns whose every pushed conjunct (cascade AND tail) is
    * equality-family — safe to keep FSST filter chunks encoded
    * ([[graft.format.LazyFsstBytesCol]]) and compare in the encoded domain.
    * A/B evidence (VERDICT.md r22 item 4, commit `0072b83`): ~1.9x on an
    * 8M-key probe scan, 0 vs 8M strings decoded. */
  val eqOnlyCols: Set[String] = {
    val poisoned = filters.filterNot(eqOnlyTree).flatMap(_.references).toSet
    filters.flatMap(_.references).toSet -- poisoned
  }

  // adaptive selectivity evidence: rows evaluated / rows passed per column
  private val evaluated = mutable.HashMap[String, Long]()
  private val passed = mutable.HashMap[String, Long]()

  /** Cold-start pass-rate estimate per group column, derived from footer
    * stats + NDV sketches when present (the same inputs stripe pruning
    * reads) — so the FIRST chunks already decode in a sensible order
    * instead of waiting out the evidence threshold on static filter-kind
    * seeds. Falls back to the kind seed when the footer can't say. */
  private val seeds: Map[String, Double] =
    cascadeGroups.iterator.map { case (c, fs) => c -> seedRate(c, fs) }.toMap

  private def kindSeed(fs: Array[Filter]): Double =
    0.05 * (1 + fs.map(Filters.seedRank).min)

  private def seedRate(c: String, fs: Array[Filter]): Double =
    fileStats(c) match {
      case None => kindSeed(fs)
      case Some(st) =>
        val rows = math.max(1L, st.valueCount).toDouble
        val nonNullFr = math.max(0.0, (st.valueCount - st.nullCount) / rows)
        val ndv = fileNdv(c)
        // fraction of [min, max] that satisfies `col OP v` (uniform-density
        // assumption; ordering only needs relative magnitudes). None when
        // the stats domain can't support the estimate (bytes, bools, NaN).
        def rangeFr(v: Any, keepAbove: Boolean): Option[Double] = {
          if (!st.hasMinMax) return Some(0.0) // all null: comparisons never pass
          st.kind match {
            case PhysType.F32 | PhysType.F64 =>
              Filters.litDouble(v).map { x =>
                if (st.hasNaN) return None
                val span = st.maxDouble - st.minDouble
                if (span <= 0) return Some(if (keepAbove == (x <= st.minDouble)) 1.0 else 0.0)
                val above = (st.maxDouble - x) / span
                clamp(if (keepAbove) above else 1.0 - above)
              }
            case PhysType.Bytes | PhysType.Bool => None
            case _ =>
              Filters.litLong(v).map { x =>
                val span = (st.maxLong - st.minLong).toDouble // may overflow: ordering-only
                if (span <= 0) return Some(if (keepAbove == (x <= st.minLong)) 1.0 else 0.0)
                val above = (st.maxLong - x) / span
                clamp(if (keepAbove) above else 1.0 - above)
              }
          }
        }
        def eqFr: Double = ndv match {
          case Some(d) if d > 0 => nonNullFr / d.toDouble
          case _ => 0.05 * math.max(nonNullFr, 0.01)
        }
        def rate(f: Filter): Double = f match {
          case EqualTo(_, null) => 0.0
          case EqualTo(_, _) => eqFr
          case EqualNullSafe(_, null) => 1.0 - nonNullFr
          case EqualNullSafe(_, _) => eqFr
          case In(_, vs) => clamp(vs.count(_ != null) * eqFr)
          case IsNull(_) => clamp(1.0 - nonNullFr)
          case IsNotNull(_) => clamp(nonNullFr)
          case GreaterThan(_, v) => rangeFr(v, keepAbove = true).map(_ * nonNullFr).getOrElse(0.25)
          case GreaterThanOrEqual(_, v) => rangeFr(v, keepAbove = true).map(_ * nonNullFr).getOrElse(0.25)
          case LessThan(_, v) => rangeFr(v, keepAbove = false).map(_ * nonNullFr).getOrElse(0.25)
          case LessThanOrEqual(_, v) => rangeFr(v, keepAbove = false).map(_ * nonNullFr).getOrElse(0.25)
          case And(l, r) => clamp(rate(l) * rate(r))
          case Or(l, r) => clamp(rate(l) + rate(r))
          case Not(i) => clamp(1.0 - rate(i))
          case AlwaysFalse() => 0.0
          case AlwaysTrue() => 1.0
          case StringStartsWith(_, _) => 0.2
          case _ => 0.3 // contains/endsWith and unknowns: weak narrowing
        }
        clamp(fs.map(rate).product)
    }

  private def clamp(x: Double): Double = math.min(1.0, math.max(1e-6, x))

  /** Cold-start estimate of a row surviving every single-column conjunct
    * (product of the group seeds; 1.0 with no cascadable groups). The fetch
    * layer defers projected-stream IO only when this says whole chunks are
    * likely to die — point probes, not range scans. */
  def seedPassRate: Double =
    cascadeGroups.iterator.map(g => seeds(g._1)).product

  /** Present groups ordered most-selective-first: observed pass rate once a
    * chunk of evidence exists, else the footer-stats (or filter-kind) seed. */
  def order(): Array[(String, Array[Filter])] =
    if (cascadeGroups.length <= 1) cascadeGroups
    else cascadeGroups.sortBy { case (c, _) =>
      val tot = evaluated.getOrElse(c, 0L)
      if (tot >= 1024) passed.getOrElse(c, 0L).toDouble / tot
      else seeds(c)
    }

  /** Outcome of one chunk's cascade. `alive < 0` means every row passed
    * without a survivor set being built; `chunkRows < 0` means no column
    * was decoded (caller sizes from stats if it needs a row count). */
  final class ChunkResult(val chunkRows: Int, val alive: Int, val surv: Array[Int],
      val pointReadCols: Set[String]) {
    /** Surviving row count (chunkRows when everything passed). */
    def selected: Int = if (alive < 0) chunkRows else alive
    /** Compacted survivor selection; null = every row of the chunk. */
    def selection: Array[Int] =
      if (alive < 0 || alive == chunkRows) null else java.util.Arrays.copyOf(surv, alive)
  }

  /** Evaluate every pushed conjunct over the next chunk.
    *
    * `decodeCol` fully decodes (and caches — repeat calls must be free) one
    * filter column's chunk; `pointRead(col, positions)` may materialize only
    * the given (strictly increasing) positions, returning null to decline —
    * the structural preconditions (sparse survivors, not a tail-conjunct
    * ref, not a string) are checked HERE; the caller adds its own (e.g.
    * projected/aggregated columns that need the full chunk anyway).
    * Cursor discipline is the caller's: decoded and point-read columns have
    * consumed their chunk; everything else has not. */
  def evalChunk(decodeCol: String => Column,
      pointRead: (String, Array[Int]) => Column): ChunkResult = {
    var chunkRows = -1
    val pointed = mutable.Set[String]()
    def decode(name: String): Column = {
      val c = decodeCol(name)
      if (chunkRows < 0) chunkRows = c.len
      c
    }

    var alive = -1 // -1: every row (survivor set not yet built)
    var surv: Array[Int] = null
    def applyPreds(preds: Array[Int => Boolean]): Unit =
      if (surv == null) {
        surv = new Array[Int](chunkRows)
        var m = 0
        var i = 0
        while (i < chunkRows) {
          var ok = true
          var j = 0
          while (j < preds.length && ok) { ok = preds(j)(i); j += 1 }
          if (ok) { surv(m) = i; m += 1 }
          i += 1
        }
        alive = m
      } else {
        var m = 0
        var k = 0
        while (k < alive) {
          val i = surv(k)
          var ok = true
          var j = 0
          while (j < preds.length && ok) { ok = preds(j)(i); j += 1 }
          if (ok) { surv(m) = i; m += 1 }
          k += 1
        }
        alive = m
      }

    // 1) row-constant conjuncts (all refs absent from this file: all-null)
    var ci = 0
    while (ci < constantConjuncts.length && alive != 0) {
      val pred = Filters.compile(constantConjuncts(ci), dts,
        n => NimbleSource.nullColumn(dts(n), 1))
      if (!pred(0)) alive = 0
      ci += 1
    }

    // 2) the cascade proper
    val ord = order()
    var gi = 0
    while (gi < ord.length && alive != 0) {
      val (cname, fs) = ord(gi)
      // sparse-survivor point decode: a later-ordered filter column whose
      // codec admits point reads materializes ONLY the surviving positions
      // (strings included — Trivial/Dict/Fsst/PrefixR chunks point-read;
      // shared-dict and legacy-Prefix chunks decline at the cursor and go
      // dict-preserving dense instead; columns the tail conjuncts reuse
      // need full-chunk indexing; the caller declines columns whose full
      // chunk is needed downstream — projected refs, aggregate inputs)
      val dense: Column =
        if (surv != null && alive > 0 && chunkRows > 0 &&
            alive.toLong * 16 <= chunkRows &&
            !tailRefSet.contains(cname))
          pointRead(cname, java.util.Arrays.copyOf(surv, alive))
        else null
      val aliveBefore = alive
      if (dense != null) {
        pointed += cname
        val colOf: String => Column =
          n => if (n == cname) dense else NimbleSource.nullColumn(dts(n), alive)
        val preds = fs.map(f => Filters.compile(f, dts, colOf))
        var m = 0
        var k = 0
        while (k < alive) {
          var ok = true
          var j = 0
          while (j < preds.length && ok) { ok = preds(j)(k); j += 1 }
          if (ok) { surv(m) = surv(k); m += 1 }
          k += 1
        }
        alive = m
      } else {
        val c = decode(cname)
        val colOf: String => Column =
          n => if (n == cname) c else NimbleSource.nullColumn(dts(n), chunkRows)
        val preds = fs.map(f => Filters.compile(f, dts, colOf))
        applyPreds(preds)
      }
      // evaluated-row count resolves AFTER the decode: for the first-ordered
      // column chunkRows is unknown until its decode sizes the chunk
      val before = if (aliveBefore < 0) chunkRows else aliveBefore
      evaluated(cname) = evaluated.getOrElse(cname, 0L) + before
      passed(cname) = passed.getOrElse(cname, 0L) + alive
      gi += 1
    }

    // 3) multi-present-column conjuncts over the cascade's survivors
    if (alive != 0 && tailConjuncts.nonEmpty) {
      // pre-decode present refs so chunkRows is known before any absent ref
      // needs a null column
      var ti = 0
      while (ti < tailConjuncts.length) {
        val refs = tailConjuncts(ti).references
        var ri = 0
        while (ri < refs.length) {
          if (present(refs(ri))) decode(refs(ri))
          ri += 1
        }
        ti += 1
      }
      val colOf: String => Column =
        n => if (present(n)) decode(n) else NimbleSource.nullColumn(dts(n), chunkRows)
      applyPreds(tailConjuncts.map(f => Filters.compile(f, dts, colOf)))
    }

    new ChunkResult(chunkRows, alive, surv, pointed.toSet)
  }
}
