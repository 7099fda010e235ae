package graft.plans

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Max, Min}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project, UnaryNode, Union}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution, UnknownPartitioning}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.types._

/** Join-free per-interval MIN/MAX of an ARBITRARY point-side column
  * (r19: "largest transfer size among events in each window"),
  * optionally KEYED (the same query PER USER — `ptK = ivK AND
  * pt ∈ [lo, hi]`). The point extrema (`max(pt)` over
  * `pt ∈ [lo, hi]`) are the special case f = pt, so this one scan
  * serves both.
  *
  * `max(f)` over the membership is a RANGE-MAXIMUM over the contiguous
  * run of the value-sorted point sequence between the two bounds. The
  * distributed decomposition here:
  *
  *  - points and TWO probes per interval (an L-probe at position lo,
  *    tag 0, and an H-probe at position hi, tag 2 — tags pin the
  *    inclusive boundary to the correct side of equal-valued points
  *    when a range-partition boundary splits them) merge into one
  *    stream, range-exchanged + sorted on (key…, v, tag) by the stock
  *    EnsureRequirements machinery;
  *  - EVERY probe row carries the interval's FULL [lo, hi] (and, in
  *    the keyed form, its key), so a probe answers "extrema of f over
  *    MY partition's points within my range" exactly, wherever the
  *    partitioner routed it: the partition buffers its points (two
  *    double arrays + the key columns), builds one min/max segment
  *    tree, and answers each local probe in O(log n) via two binary
  *    searches + one tree query;
  *  - partitions FULLY CONTAINED in the query range are covered by a
  *    job-1 per-partition stats table — driver state bounded at
  *    numPartitions × (2·(e+1) boundary values + 2 extrema + count) —
  *    queried per probe through a tiny sparse table over the
  *    stream-ordered non-empty partitions.
  *
  * COVERAGE is exact, and the KEYED form follows from the same
  * argument by reading positions in the COMPOSITE lexicographic order
  * (key…, v): the query range is [(k, lo), (k, hi)], so a partition
  * fully inside it is necessarily pure-key-k and its whole-partition
  * f-extrema apply; a partition holding BOTH a qualifying point and
  * any element outside the range contains the corresponding probe's
  * sort position strictly inside its key span (a range partitioner
  * never separates a key from keys flanking it), so it received that
  * probe and answers locally; double-coverage is harmless because
  * min/max are idempotent. The containment test therefore compares
  * each partition's FIRST/LAST POINT composite (key…, v) — not
  * per-key statistics — which is what makes the keyed form the same
  * machine as the unkeyed one (e = 0 degenerates to v alone).
  * Idempotence is also what makes duplicate interval keys exact for
  * free — the final Aggregate's Max/Min over probe rows is the
  * extreme over the union of the instances' point sets.
  *
  * NaN/±∞/−0.0 (Spark total order: NaN greatest, NaN = NaN,
  * −0.0 = 0.0):
  *  - pt: NaN points are excluded from the stream; they qualify
  *    exactly when hi is NaN, which the operator layer re-attaches
  *    from two tiny aggregates (see
  *    [[graft.ops.RangeAgg.valueExtremaInRangeAgg]]). ±∞ points stay
  *    (ordered normally); −0.0 is normalized to +0.0 by the dbl image.
  *  - bounds: a NaN hi admits every non-NaN point (x ≤ NaN is true
  *    under the total order), so the carried upper bound maps
  *    NaN → +∞; a NaN lo admits no non-NaN point (x ≥ NaN is false),
  *    and NaN as the carried lower bound self-excludes under the
  *    Double.compare searches (no mapping needed). Intervals with
  *    lo > hi under the total order (including lo = NaN with finite
  *    hi) match nothing and are dropped up front; null bounds likewise
  *    (the comparison is null).
  *  - f: NaN f values STAY — SQL's max over a set containing NaN is
  *    NaN and min prefers finite values, which is exactly
  *    Double.compare's order, used for every tree/table combine.
  *    −0.0 f normalizes to +0.0. NULL f rows are excluded up front —
  *    the operator contract (documented there) defines membership as
  *    "qualifying point with non-null f", matching a join form whose
  *    WHERE filters f IS NOT NULL.
  *  - equi keys: null keys never match (filtered both sides, SQL `=`);
  *    NaN keys match each other (compared through their raw-bits
  *    image, matching Spark's `=`); −0.0 keys are normalized by
  *    [[RangeAggPrefix.normKey]] so sort contiguity coincides with
  *    SQL equality.
  *
  * Memory contract (the one non-streaming piece): job 2 buffers each
  * partition's points (two double arrays + e boxed key columns,
  * ~16–40 B/row) plus one segment tree (4n doubles, ~32 B/row) plus
  * its probe rows — O(rows-in-partition), the same per-partition-fits
  * class as a hash aggregate; size spark.sql.shuffle.partitions so
  * partitions fit, exactly as for every other exchange. No pair is
  * ever materialized; cost is O((n + q) log) and independent of band
  * density — the property the pair-enumerating plans (910–1502 s at
  * ×100 on the j7 fixture) lack.
  *
  * Scope (documented): LongType pt/f decline — values above 2^53 lose
  * order-exactness in the double image (callers cast to int/double
  * when the domain allows, as the j7j fixture does). Equi keys accept
  * every [[RangeAggPrefix.sortKeyExact]] type (sort equality must
  * coincide with SQL equality). */
object RangeValueExtrema {

  private def dbl(e: Expression): Expression =
    Add(Cast(e, DoubleType), Literal(0.0))

  private def orderExact(e: Expression): Boolean = e.dataType match {
    case DoubleType | FloatType | IntegerType | ShortType | ByteType => true
    case _ => false
  }

  /** Build the plan: per carried key, (min_f, max_f) of `f` over
    * points with `pt ∈ [lo, hi]` (inclusive both ends) — and, keyed,
    * with every `equiKeys` pair equal — NaN points and null-f points
    * excluded (operator layer re-attaches NaN-point groups). Keys
    * with zero qualifying points drop (inner semantics). Output:
    * keyAttrs ++ [min_f: double, max_f: double]. None when pt/f/lo/hi
    * are not double-order-exact or a key is not sort-exact. */
  def tryBuild(keyAttrs: Seq[Attribute], pt: Expression, f: Expression,
               lo: Expression, hi: Expression,
               ptPlan: LogicalPlan, ivPlan: LogicalPlan,
               equiKeys: Seq[(Expression, Expression)] = Nil)
      : Option[LogicalPlan] = {
    if (!Seq(pt, f, lo, hi).forall(orderExact)) return None
    if (!Seq(pt, f, lo, hi).forall(_.deterministic)) return None
    if (!equiKeys.forall { case (pk, ik) =>
          pk.deterministic && ik.deterministic &&
          RangeAggPrefix.sortKeyExact(pk) &&
          RangeAggPrefix.sortKeyExact(ik) &&
          pk.dataType == ik.dataType &&
          pk.references.nonEmpty &&
          pk.references.subsetOf(ptPlan.outputSet) &&
          ik.references.nonEmpty &&
          ik.references.subsetOf(ivPlan.outputSet) }) return None

    // intervals: drop bands that match nothing — lo <= hi under
    // Spark's total order (null bounds and lo = NaN with non-NaN hi
    // both fail it; lo = NaN = hi passes but its finite membership is
    // empty by the carried-NaN-lo self-exclusion, leaving only the
    // operator layer's NaN-point branch); null equi keys never match
    val keep = equiKeys.map(_._2).map(IsNotNull)
      .foldLeft[Expression](LessThanOrEqual(dbl(lo), dbl(hi)))(And(_, _))
    val ivF = Filter(keep, ivPlan)
    // carried query bounds: hi = NaN means "everything non-NaN" → +∞;
    // lo stays raw (NaN self-excludes under Double.compare)
    val qlo = dbl(lo)
    val qhi = If(IsNaN(dbl(hi)), Literal(Double.PositiveInfinity), dbl(hi))
    def probeChild(pos: Expression, tag: Int): Project =
      Project(Seq(Alias(pos, "_graft_v")(),
        Alias(Literal(tag), "_graft_tag")(),
        Alias(Literal(1), "_graft_probe")()) ++
        equiKeys.zipWithIndex.map { case ((_, ik), i) =>
          Alias(RangeAggPrefix.normKey(ik), s"_graft_k$i")() } ++
        keyAttrs ++
        Seq(Alias(qlo, "_graft_qlo")(), Alias(qhi, "_graft_qhi")(),
          Alias(Literal(null, DoubleType), "_graft_f")()), ivF)
    // L at lo with tag 0 (before equal points), H at the MAPPED hi
    // with tag 2 (after equal points) — see coverage note above
    val probesLo = probeChild(dbl(lo), 0)
    val probesHi = probeChild(qhi, 2)

    val ptF = Filter(equiKeys.map(_._1).map(IsNotNull)
      .foldLeft[Expression](And(And(IsNotNull(pt), Not(IsNaN(dbl(pt)))),
        IsNotNull(f)))(And(_, _)), ptPlan)
    val points = Project(Seq(Alias(dbl(pt), "_graft_v")(),
      Alias(Literal(1), "_graft_tag")(),
      Alias(Literal(0), "_graft_probe")()) ++
      equiKeys.zipWithIndex.map { case ((pk, _), i) =>
        Alias(RangeAggPrefix.normKey(pk), s"_graft_k$i")() } ++
      keyAttrs.map(ka => Alias(Literal(null, ka.dataType), ka.name)()) ++
      Seq(Alias(Literal(null, DoubleType), "_graft_qlo")(),
        Alias(Literal(null, DoubleType), "_graft_qhi")(),
        Alias(dbl(f), "_graft_f")()), ptF)

    // probes FIRST: Union takes output attributes from its head child,
    // so the carried keys keep their original exprIds
    val union = Union(Seq(probesLo, probesHi, points), byName = false,
      allowMissingCol = false)
    val maxOut = AttributeReference("_graft_maxc", DoubleType,
      nullable = true)()
    val minOut = AttributeReference("_graft_minc", DoubleType,
      nullable = true)()
    val node = RangeValueExtremaNode(equiKeys.length, keyAttrs.length,
      maxOut, minOut, union)
    val minAgg = Alias(AggregateExpression(Min(minOut), Complete,
      isDistinct = false), "min_f")()
    val maxAgg = Alias(AggregateExpression(Max(maxOut), Complete,
      isDistinct = false), "max_f")()
    val agg = Aggregate(keyAttrs,
      (keyAttrs: Seq[NamedExpression]) ++ Seq(minAgg, maxAgg), node)
    Some(Filter(IsNotNull(maxAgg.toAttribute), agg))
  }
}

/** Merged-stream range-extrema node. Child layout (positional):
  * [v: double, tag: int, probe: int, ek_0..e-1, key_0..m-1,
  *  qlo: double, qhi: double, f: double] — ek are the equi-key sort
  * columns (keyed form; e = 0 for the plain band). Output: the m
  * carried keys followed by the per-probe (maxCand, minCand) —
  * extrema of f over THIS probe's visible qualifying points (its own
  * partition's range query plus the fully-contained-partition table),
  * null when it sees none. ONE ROW PER PROBE (two per interval
  * instance); the parent Max/Min aggregate folds the probe rows,
  * idempotence making overlaps and duplicate keys exact. */
case class RangeValueExtremaNode(nEquiKeys: Int, nKeys: Int,
                                 maxOut: AttributeReference,
                                 minOut: AttributeReference,
                                 child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] =
    child.output.slice(3 + nEquiKeys, 3 + nEquiKeys + nKeys) ++
      Seq(maxOut, minOut)
  override def producedAttributes: AttributeSet =
    AttributeSet(Seq(maxOut, minOut))
  // positional layout: every child column is required (ColumnPruning
  // must be blocked — see RangeAggPrefixNode)
  override def references: AttributeSet = child.outputSet
  override protected def withNewChildInternal(newChild: LogicalPlan)
      : RangeValueExtremaNode = copy(child = newChild)
}

/** Physical range-extrema scan: requires the child range-sorted on
  * (ek…, v, tag). Job 1 collects per partition its point count, FIRST
  * and LAST point composite position (key…, v), and f extrema; the
  * driver compacts the non-empty partitions (stream-ordered by
  * construction of range partitioning) and builds a sparse table over
  * their f extrema. Job 2 re-reads the same shuffle output: each
  * partition buffers its points (keys[], v[], f[]), builds one
  * combined min/max segment tree, and emits one row per probe — the
  * combine of its local composite-range query and the
  * contained-partition run [first boundary ≥ (k, qlo), last boundary
  * ≤ (k, qhi)] from the driver table. Value comparisons are
  * Double.compare (NaN greatest — matching Spark's total order;
  * −0.0 was normalized in the stream image); key comparisons are
  * type-dispatched to match the sort exactly (floats/doubles via
  * Double/Float.compare on the normalized image, strings binary,
  * fixed-width numerics natural). */
case class RangeValueExtremaExec(nEquiKeys: Int, nKeys: Int,
                                 maxOut: AttributeReference,
                                 minOut: AttributeReference,
                                 child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] =
    child.output.slice(3 + nEquiKeys, 3 + nEquiKeys + nKeys) ++
      Seq(maxOut, minOut)

  override def producedAttributes: AttributeSet =
    AttributeSet(Seq(maxOut, minOut))

  override def nodeName: String = "RangeValueExtrema"

  private def streamOrder: Seq[SortOrder] =
    (0 until nEquiKeys).map(i =>
      SortOrder(child.output(3 + i), Ascending)) ++ Seq(
    SortOrder(child.output(0), Ascending),
    SortOrder(child.output(1), Ascending))

  override def requiredChildDistribution: Seq[Distribution] =
    OrderedDistribution(streamOrder) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(streamOrder)

  override def outputPartitioning
      : org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    UnknownPartitioning(0)

  protected override def doExecute(): RDD[InternalRow] = {
    val e = nEquiKeys
    val m = nKeys
    val loOrd = 3 + e + m
    val hiOrd = loOrd + 1
    val fOrd = loOrd + 2
    val childOut = child.output
    require(childOut(0).dataType == DoubleType &&
      childOut(1).dataType == IntegerType &&
      childOut(2).dataType == IntegerType &&
      childOut(loOrd).dataType == DoubleType &&
      childOut(hiOrd).dataType == DoubleType &&
      childOut(fOrd).dataType == DoubleType,
      s"RangeValueExtrema child layout violated: $childOut")
    val ekTypes = childOut.slice(3, 3 + e).map(_.dataType).toArray
    val keyTypes = childOut.slice(3 + e, 3 + e + m).map(_.dataType).toArray
    val outTypes = (keyTypes ++ Array[DataType](DoubleType, DoubleType))
      .toArray
    val rdd = child.execute()

    // owned copy of a key value held across rows
    def own(v: Any): Any = v match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.copy()
      case other => other
    }
    // sort-order compare of two OWNED key values, matching the range
    // sort exactly (normKey already normalized −0.0; NaN sorts last
    // and equals itself under Double/Float.compare — Spark's ordering)
    def cmpKey(dt: DataType, a: Any, b: Any): Int = dt match {
      case DoubleType => java.lang.Double.compare(
        a.asInstanceOf[Double], b.asInstanceOf[Double])
      case FloatType => java.lang.Float.compare(
        a.asInstanceOf[Float], b.asInstanceOf[Float])
      case _ => a.asInstanceOf[Comparable[Any]].compareTo(b)
    }
    // composite (key…, v) compare of two owned tuples
    def cmpComposite(ka: Array[Any], va: Double,
                     kb: Array[Any], vb: Double): Int = {
      var i = 0
      while (i < e) {
        val c = cmpKey(ekTypes(i), ka(i), kb(i))
        if (c != 0) return c
        i += 1
      }
      java.lang.Double.compare(va, vb)
    }
    def readKeys(row: InternalRow): Array[Any] =
      Array.tabulate[Any](e)(i => own(row.get(3 + i, ekTypes(i))))

    // job 1: per-partition point stats — order-free except first/last,
    // which the re-run per-partition sort provides; the expensive
    // range EXCHANGE is reused across both jobs (same trade as
    // RangeAggPrefix job 1)
    val stats: Array[(Int, Long, Array[Any], Double, Array[Any], Double,
        Double, Double)] =
      rdd.mapPartitions { it =>
        var n = 0L
        var firstK: Array[Any] = null
        var firstV = 0.0
        val lastK: Array[Any] = if (e > 0) new Array[Any](e) else null
        var lastV = 0.0
        var maxF = 0.0; var minF = 0.0
        it.foreach { row =>
          if (row.getInt(2) == 0) {
            val v = row.getDouble(0)
            val fv = row.getDouble(fOrd)
            if (n == 0L) {
              if (e > 0) firstK = readKeys(row)
              firstV = v; maxF = fv; minF = fv
            } else {
              if (java.lang.Double.compare(fv, maxF) > 0) maxF = fv
              if (java.lang.Double.compare(fv, minF) < 0) minF = fv
            }
            // compare-then-copy the last key (runs are contiguous; the
            // compare reads the reused buffer in place, the copy
            // happens only on a key change)
            if (e > 0) {
              var i = 0
              while (i < e) {
                val raw = row.get(3 + i, ekTypes(i))
                if (n == 0L || cmpKey(ekTypes(i), raw, lastK(i)) != 0)
                  lastK(i) = own(raw)
                i += 1
              }
            }
            lastV = v
            n += 1L
          }
        }
        Iterator.single((TaskContext.getPartitionId(), n, firstK, firstV,
          if (n > 0L) lastK else null, lastV, maxF, minF))
      }.collect()

    // compact non-empty partitions in pid order = stream order (range
    // partitioning assigns ordered key ranges to ordered pids), so the
    // first/last composite boundaries are nondecreasing across the
    // compact arrays and a probe's fully-contained partitions form one
    // contiguous run
    val nonEmpty = stats.filter(_._2 > 0L).sortBy(_._1)
    val c = nonEmpty.length
    val cFirstK = nonEmpty.map(_._3)
    val cFirstV = nonEmpty.map(_._4)
    val cLastK = nonEmpty.map(_._5)
    val cLastV = nonEmpty.map(_._6)
    // sparse tables over the compact partition extrema: O(c log c)
    // driver state, O(1) per probe
    val levels = if (c == 0) 1 else
      (64 - java.lang.Long.numberOfLeadingZeros(c.toLong)).toInt
    val stMax = Array.ofDim[Array[Double]](levels)
    val stMin = Array.ofDim[Array[Double]](levels)
    stMax(0) = nonEmpty.map(_._7)
    stMin(0) = nonEmpty.map(_._8)
    var lvl = 1
    while (lvl < levels) {
      val half = 1 << (lvl - 1)
      val len = c - (1 << lvl) + 1
      stMax(lvl) = new Array[Double](math.max(len, 0))
      stMin(lvl) = new Array[Double](math.max(len, 0))
      var i = 0
      while (i < len) {
        val a = stMax(lvl - 1)(i); val b = stMax(lvl - 1)(i + half)
        stMax(lvl)(i) = if (java.lang.Double.compare(a, b) >= 0) a else b
        val x = stMin(lvl - 1)(i); val y = stMin(lvl - 1)(i + half)
        stMin(lvl)(i) = if (java.lang.Double.compare(x, y) <= 0) x else y
        i += 1
      }
      lvl += 1
    }

    // job 2: buffer points + probes per partition, one segment tree,
    // one emitted row per probe
    rdd.mapPartitions { it =>
      // growable primitive arrays (no boxing for v/f; keys boxed)
      var cap = 1 << 10
      var vArr = new Array[Double](cap)
      var fArr = new Array[Double](cap)
      var kArr: Array[Array[Any]] = if (e > 0) new Array[Array[Any]](cap)
        else null
      var n = 0
      // probes: owned equi keys + copied carried keys + bounds
      val probes = new scala.collection.mutable.ArrayBuffer[
        (Array[Any], Array[Any], Double, Double)]()
      it.foreach { row =>
        if (row.getInt(2) == 0) {
          if (n == cap) {
            cap *= 2
            vArr = java.util.Arrays.copyOf(vArr, cap)
            fArr = java.util.Arrays.copyOf(fArr, cap)
            if (e > 0) kArr = java.util.Arrays.copyOf(kArr, cap)
          }
          vArr(n) = row.getDouble(0)
          fArr(n) = row.getDouble(fOrd)
          if (e > 0) kArr(n) = readKeys(row)
          n += 1
        } else {
          val ek = if (e > 0) readKeys(row) else null
          val keys = new Array[Any](m)
          var i = 0
          while (i < m) {
            keys(i) = if (row.isNullAt(3 + e + i)) null
              else own(row.get(3 + e + i, keyTypes(i)))
            i += 1
          }
          probes += ((ek, keys, row.getDouble(loOrd), row.getDouble(hiOrd)))
        }
      }

      // combined min/max segment tree over f in stream order
      val tMax = new Array[Double](2 * math.max(n, 1))
      val tMin = new Array[Double](2 * math.max(n, 1))
      var i = 0
      while (i < n) { tMax(n + i) = fArr(i); tMin(n + i) = fArr(i); i += 1 }
      i = n - 1
      while (i >= 1) {
        val a = tMax(2 * i); val b = tMax(2 * i + 1)
        tMax(i) = if (java.lang.Double.compare(a, b) >= 0) a else b
        val x = tMin(2 * i); val y = tMin(2 * i + 1)
        tMin(i) = if (java.lang.Double.compare(x, y) <= 0) x else y
        i -= 1
      }
      // composite compare of buffered point idx vs (probe key, x)
      def cmpPt(idx: Int, ek: Array[Any], x: Double): Int = {
        if (e > 0) {
          var k = 0
          while (k < e) {
            val cc = cmpKey(ekTypes(k), kArr(idx)(k), ek(k))
            if (cc != 0) return cc
            k += 1
          }
        }
        java.lang.Double.compare(vArr(idx), x)
      }
      // first index in [0, n) with point >= (ek, x) composite
      def lowerBound(ek: Array[Any], x: Double): Int = {
        var lo = 0; var hi = n
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (cmpPt(mid, ek, x) < 0) lo = mid + 1 else hi = mid
        }
        lo
      }
      // first index in [0, n) with point > (ek, x) composite
      def upperBound(ek: Array[Any], x: Double): Int = {
        var lo = 0; var hi = n
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (cmpPt(mid, ek, x) <= 0) lo = mid + 1 else hi = mid
        }
        lo
      }
      // compact-partition searches on the composite boundaries: first
      // index with first-boundary >= (ek, x); first with last-boundary
      // > (ek, x)
      def cLowerFirst(ek: Array[Any], x: Double): Int = {
        var lo = 0; var hi = c
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (cmpComposite(cFirstK(mid), cFirstV(mid), ek, x) < 0)
            lo = mid + 1
          else hi = mid
        }
        lo
      }
      def cUpperLast(ek: Array[Any], x: Double): Int = {
        var lo = 0; var hi = c
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (cmpComposite(cLastK(mid), cLastV(mid), ek, x) <= 0)
            lo = mid + 1
          else hi = mid
        }
        lo
      }

      val proj = UnsafeProjection.create(outTypes)
      val out = new GenericInternalRow(m + 2)
      probes.iterator.map { case (ek, keys, qlo, qhi) =>
        var has = false
        var mx = 0.0
        var mn = 0.0
        def take(a: Double, b: Double): Unit = {
          if (!has) { mx = a; mn = b; has = true }
          else {
            if (java.lang.Double.compare(a, mx) > 0) mx = a
            if (java.lang.Double.compare(b, mn) < 0) mn = b
          }
        }
        // local composite-range query over this partition's points
        val s = lowerBound(ek, qlo)
        val en = upperBound(ek, qhi) // exclusive
        if (s < en) {
          var l = s + n; var r = en + n
          while (l < r) {
            if ((l & 1) == 1) { take(tMax(l), tMin(l)); l += 1 }
            if ((r & 1) == 1) { r -= 1; take(tMax(r), tMin(r)) }
            l >>= 1; r >>= 1
          }
        }
        // fully-contained partitions from the driver table
        val cs = cLowerFirst(ek, qlo)
        val ce = cUpperLast(ek, qhi) - 1 // inclusive
        if (cs <= ce) {
          val k = 63 - java.lang.Long.numberOfLeadingZeros(
            (ce - cs + 1).toLong)
          val ki = k.toInt
          take(stMax(ki)(cs), stMin(ki)(cs))
          take(stMax(ki)(ce - (1 << ki) + 1), stMin(ki)(ce - (1 << ki) + 1))
        }
        var j = 0
        while (j < m) { out.update(j, keys(j)); j += 1 }
        out.update(m, if (has) mx else null)
        out.update(m + 1, if (has) mn else null)
        proj(out): InternalRow
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan)
      : RangeValueExtremaExec = copy(child = newChild)
}
