package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Max, Min}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Generate, Join, JoinHint, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ByteType, DoubleType, FloatType, IntegerType, LongType, ShortType}

/** Optimizer rule for pure band (interval-containment) inner joins,
  * with two rewrites tried in order of strength:
  *
  * 1. AGGREGATE-OVER-BAND-JOIN → join-free prefix (r17, default ON):
  *
  *      Aggregate(interval keys, count/exact-sum over points,
  *        Join(points, intervals, Inner, pt >= lo AND pt <= hi))
  *
  *    becomes the [[RangeAggPrefix]] plan — merged value-ordered event
  *    stream, one range exchange, two linear passes, NO pair ever
  *    materialized. The band fixture's qualifying pairs grow ×100 per
  *    ×10 rows, so every pair-enumerating plan (binned or not) pays
  *    wall linear in pairs (910–1502 s at ×100) where the prefix form
  *    answers the same 155-row aggregate in ~26 s. The rewrite is
  *    EXACT (long/decimal-cents accumulation, duplicate-key-safe by
  *    signed probes — see RangeAggPrefix's scaladoc) and needs no
  *    tuning knob, so it defaults on; disable with
  *    `spark.graft.rangeJoin.aggPrefix=false`. Guards are strict
  *    (count / exact decimal or integral sums only; double sums and
  *    min/max stay on the join path — running extrema are not
  *    differences of prefixes).
  *
  * 2. BARE BAND JOIN → bin-bucketed equi-join (the join's pairs ARE the
  *    requested output, so enumeration is irreducible — the rewrite
  *    just replaces the BroadcastNestedLoopJoin O(points × intervals)
  *    plan with a hash join on `floor(x / W)`):
  *
  *      Project(original output)
  *        Join(..., Inner, binL = binR AND pt >= lo AND pt <= hi)
  *          Project(points + binL := floor(pt / W))
  *          Generate(explode(sequence(floor(lo/W), floor(hi/W))) as binR,
  *            Filter(lo <= hi, intervals))
  *
  *    This form fires only when `spark.graft.rangeJoin.binWidth` is set
  *    to a positive width (bin sizing is a data decision — a width far
  *    below the interval length explodes replication, far above it
  *    degrades to a few giant bins; no safe universal default exists).
  *
  * Band-shape guards:
  *  - one lower and one upper bound on the same point expression (any
  *    of >=, >, <=, < in either literal order);
  *  - the point expression references exactly one join side, both bounds
  *    the other side — and the two bounds the SAME side;
  *  - every involved expression is numeric.
  *
  * Conjunct count: the BINNED rewrite (2) requires the condition to be
  * EXACTLY the two band conjuncts. The AGG rewrite (1) additionally
  * accepts the KEYED band shape (r18) — `ptK = ivK AND ... AND lo <=
  * pt AND pt <= hi`, the "events inside each session's [start, end]"
  * query: every non-band conjunct must be a plain EqualTo with one
  * side on each plan (null-safe <=> declines: it matches null = null,
  * which the keyed stream's null-key filter deliberately drops). The
  * keys join the prefix stream's sort ((key..., v, tag)); see
  * RangeAggPrefix for why the global stitch stays exact. Without the
  * rewrite, Catalyst plans the equi key as a hash join with the band
  * as a post-join filter — pair-enumerating again for dense bands.
  *
  * min/max(pt) is deliberately NOT auto-rewritten even though the
  * join-free plan exists ([[graft.ops.RangeAgg.extremaInRangeAgg]],
  * the RangeValueExtrema scan with f = pt): its NaN contract needs to know
  * whether any NaN point exists — a bounded DATA probe the operator
  * layer runs at build time, which a pure logical rewrite cannot
  * (and silently diverging on (NaN point, NaN hi) inputs is exactly
  * the class of default-ON rewrite bug the r17 advice flagged).
  * Users reach the fast plan by calling the operator.
  *
  * min/max of an ARBITRARY pt-side column (r19) IS auto-rewritten —
  * to the [[RangeValueExtrema]] scan — but ONLY when the POINT
  * column's type cannot hold NaN (int/short/byte): the NaN-point
  * re-attach is the one piece that needs a data probe, and a
  * non-floating pt precludes NaN points entirely while NaN *bounds*
  * are handled in-plan (a NaN hi maps to +∞, a NaN lo self-excludes —
  * RangeValueExtrema's scaladoc). Floating pt declines to the join
  * path with the operator as the user's route, same argument as
  * min/max(pt) above. Nullable f is exact through a count-frame
  * stitch: group MEMBERSHIP in the join form is "≥1 qualifying
  * point" regardless of f's nulls, so a RangeAggPrefix count frame
  * carries the groups and the value scan left-joins onto it — a group
  * whose qualifying points all have null f keeps its row with null
  * extrema, exactly as SQL's min/max-over-nulls does.
  *
  * Strict bounds are accepted: the binned form keeps the ORIGINAL
  * condition verbatim after the bin equality (binning only prunes
  * candidates), and the prefix form encodes strictness in probe tag
  * order.
  */
object RangeJoinRewrite extends Rule[LogicalPlan] {

  /** A detected band: point expr, bounds with strictness, and which
    * join side holds the point. */
  private case class Band(pt: Expression, lo: Expression, hi: Expression,
                          loStrict: Boolean, hiStrict: Boolean,
                          ptOnLeft: Boolean)

  /** One conjunct decomposed as (point, bound, pointIsLower, strict). */
  private def asBound(e: Expression)
      : Option[(Expression, Expression, Boolean, Boolean)] = e match {
    case GreaterThanOrEqual(a, b) => Some((a, b, true, false))
    case GreaterThan(a, b) => Some((a, b, true, true))
    case LessThanOrEqual(a, b) => Some((a, b, false, false))
    case LessThan(a, b) => Some((a, b, false, true))
    case _ => None
  }

  private def sideOf(e: Expression, left: LogicalPlan,
                     right: LogicalPlan): Option[Boolean] = {
    val refs = e.references
    if (refs.isEmpty) None
    else if (refs.subsetOf(left.outputSet)) Some(true)
    else if (refs.subsetOf(right.outputSet)) Some(false)
    else None
  }

  private def numeric(e: Expression): Boolean =
    e.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]

  /** Detect the band shape over the two conjuncts of an inner-join
    * condition. Both orientations of a conjunct can be side-valid (the
    * point and the bound each reference exactly one side), so the right
    * pairing is only decidable jointly: try every orientation
    * combination and take the first that forms a band (same point, one
    * lower + one upper bound, bounds on the opposite side of the
    * point). */
  private def detectBand(left: LogicalPlan, right: LogicalPlan,
                         c1: Expression, c2: Expression): Option[Band] = {
    val raw = Seq(asBound(c1), asBound(c2)).flatten
    if (raw.length != 2) return None
    def orientations(dec: (Expression, Expression, Boolean, Boolean))
        : Seq[(Expression, Expression, Boolean, Boolean)] = {
      val (a, b, lower, strict) = dec
      Seq((a, b, lower, strict), (b, a, !lower, strict)).filter {
        case (pt, bound, _, _) =>
          (sideOf(pt, left, right), sideOf(bound, left, right)) match {
            case (Some(sa), Some(sb)) => sa != sb
            case _ => false
          }
      }
    }
    val o1 = orientations(raw.head)
    val o2 = orientations(raw(1))
    val combos = for {
      a <- o1; b <- o2
      if a._1.semanticEquals(b._1) && a._3 != b._3
    } yield if (a._3) Band(a._1, a._2, b._2, a._4, b._4, ptOnLeft = true)
            else Band(a._1, b._2, a._2, b._4, a._4, ptOnLeft = true)
    combos.headOption.flatMap { band =>
      if (!Seq(band.pt, band.lo, band.hi).forall(numeric)) None
      else sideOf(band.pt, left, right).flatMap { ptOnLeft =>
        // both bounds must live on the side opposite the point
        if (sideOf(band.lo, left, right).contains(ptOnLeft) ||
          sideOf(band.hi, left, right).contains(ptOnLeft)) None
        else Some(band.copy(ptOnLeft = ptOnLeft))
      }
    }
  }

  private def binOf(e: Expression, w: Double): Expression =
    Floor(Divide(Cast(e, DoubleType), Literal(w)))

  private def splitAnd(e: Expression): Seq[Expression] = e match {
    case And(a, b) => splitAnd(a) ++ splitAnd(b)
    case x => Seq(x)
  }

  /** Keyed-band detection over ALL conjuncts of an inner-join condition:
    * some pair of conjuncts forms the band, and every remaining conjunct
    * is a plain EqualTo with one side referencing the point plan and the
    * other the interval plan (oriented (ptSide, ivSide)). Returns the
    * band plus the oriented key pairs, or None. */
  private def detectKeyedBand(left: LogicalPlan, right: LogicalPlan,
                              conjuncts: Seq[Expression])
      : Option[(Band, Seq[(Expression, Expression)])] = {
    val idx = conjuncts.indices
    val candidates = for {
      i <- idx; j <- idx if i < j
      b <- detectBand(left, right, conjuncts(i), conjuncts(j))
    } yield (b, idx.filterNot(x => x == i || x == j).map(conjuncts))
    candidates.flatMap { case (b, rest) =>
      val (ptPlan, ivPlan) = if (b.ptOnLeft) (left, right) else (right, left)
      def onPt(e: Expression): Boolean =
        e.references.nonEmpty && e.references.subsetOf(ptPlan.outputSet)
      def onIv(e: Expression): Boolean =
        e.references.nonEmpty && e.references.subsetOf(ivPlan.outputSet)
      val keys = rest.map {
        case EqualTo(a, c) if onPt(a) && onIv(c) => Some((a, c))
        case EqualTo(a, c) if onIv(a) && onPt(c) => Some((c, a))
        case _ => None
      }
      if (keys.nonEmpty && keys.forall(_.isDefined))
        Some((b, keys.flatten))
      else if (keys.isEmpty) Some((b, Nil))
      else None
    }.headOption
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val aggOn = conf
      .getConfString("spark.graft.rangeJoin.aggPrefix", "true") == "true"
    val p1 = if (!aggOn) plan else plan.transformDown {
      case agg @ Aggregate(g, a, child, _) =>
        tryAggRewrite(g, a, child).getOrElse(agg)
    }
    val w = conf.getConfString("spark.graft.rangeJoin.binWidth", "")
      .toDoubleOption.getOrElse(0.0)
    // `w <= 0` alone lets NaN/Infinity through ("NaN".toDouble parses,
    // NaN <= 0 is false) — floor(x/NaN) puts EVERYTHING in one bin, a
    // plan strictly worse than the nested loop being replaced
    if (!(w > 0) || w.isNaN || w.isInfinite) return p1
    p1.transformUp {
      case j @ Join(left, right, Inner, Some(And(c1, c2)), hint) =>
        detectBand(left, right, c1, c2)
          .flatMap(b => rewriteBinned(j, left, right, hint, w, b))
          .getOrElse(j)
    }
  }

  /** Rewrite 1: aggregate directly over a band join. A pruning or
    * RENAMING Project between them (the shape SQL subqueries produce:
    * `SELECT id2, count(*) FROM (SELECT iid AS id2, p FROM ... band
    * join ...) GROUP BY id2`) is looked through by inlining its
    * attribute aliases into the grouping and aggregate expressions —
    * output names and exprIds are preserved by re-aliasing, so parents
    * never notice. Projects computing non-attribute expressions still
    * decline (a computed group key isn't a carried interval column). */
  private def tryAggRewrite(groupExprs: Seq[Expression],
                            aggExprs: Seq[NamedExpression],
                            child: LogicalPlan): Option[LogicalPlan] = {
    val unwrapped: Option[(Join, Seq[Expression], Seq[NamedExpression])] =
      child match {
        case j: Join => Some((j, groupExprs, aggExprs))
        case Project(pl, j: Join) if pl.forall {
              case _: Attribute => true
              case Alias(_: Attribute, _) => true
              case _ => false
            } =>
          val sub: Map[ExprId, Attribute] = pl.collect {
            case al @ Alias(underlying: Attribute, _) =>
              al.exprId -> underlying
          }.toMap
          def inline(e: Expression): Expression = e.transformUp {
            case a: Attribute if sub.contains(a.exprId) => sub(a.exprId)
          }
          val g2 = groupExprs.map(inline)
          // a pure-Attribute output that the project RENAMED must keep
          // its name and exprId: re-alias the underlying column
          val a2 = aggExprs.map {
            case a: Attribute if sub.contains(a.exprId) =>
              Alias(sub(a.exprId), a.name)(a.exprId)
            case al: Alias =>
              Alias(inline(al.child), al.name)(al.exprId, al.qualifier,
                al.explicitMetadata, al.nonInheritableMetadataKeys)
            case other => other
          }
          Some((j, g2, a2))
        case _ => None
      }
    unwrapped.flatMap {
      case (Join(left, right, Inner, Some(cond), _), g, a) =>
        val conjuncts = splitAnd(cond)
        if (conjuncts.length < 2) None
        else detectKeyedBand(left, right, conjuncts).flatMap {
          case (b, keys) =>
            val (ptPlan, ivPlan) =
              if (b.ptOnLeft) (left, right) else (right, left)
            aggRewriteBand(g, a, b, keys, ptPlan, ivPlan)
        }.orElse(tryOverlapRewrite(g, a, left, right, conjuncts))
      case _ => None
    }
  }

  private def aggRewriteBand(g: Seq[Expression], a: Seq[NamedExpression],
                             b: Band,
                             keys: Seq[(Expression, Expression)],
                             ptPlan: LogicalPlan, ivPlan: LogicalPlan)
      : Option[LogicalPlan] = {
            // GROUP BY the POINT-side key attribute (`GROUP BY
            // e.user_id` instead of `s.user_id`) is the same query: on
            // every qualifying pair the two sides of an equi key are
            // EQUAL, so the pt-side attr can be swapped for its iv-side
            // twin — carried through the probes like any interval
            // column — with an exprId-preserving alias so parents never
            // notice. Only plain attr = attr keys substitute (an
            // expression key has no single output attr to stand in).
            val sub: Map[ExprId, Attribute] = keys.collect {
              case (pk: Attribute, ik: Attribute) => pk.exprId -> ik
            }.toMap
            val g2 = g.map {
              case attr: Attribute if sub.contains(attr.exprId) =>
                sub(attr.exprId)
              case other => other
            }
            val a2 = a.map {
              case attr: Attribute if sub.contains(attr.exprId) =>
                Alias(sub(attr.exprId), attr.name)(attr.exprId)
              case other => other
            }
            RangeAggPrefix.tryBuild(g2, a2, b.pt, b.lo, b.hi,
              b.loStrict, b.hiStrict, ptPlan, ivPlan, keys)
              .orElse(tryValueExtrema(g2, a2, b, keys, ptPlan, ivPlan))
  }

  /** Rewrite 1b (r19): min/max of an ARBITRARY pt-side column over a
    * (keyed) band join → ONE [[RangeValueExtrema]] scan — the auto
    * path to [[graft.ops.RangeAgg.valueExtremaInRangeAgg]]:
    *
    *   Aggregate(iv keys, min(f)/max(f),
    *     Join(pt, iv, Inner, [ptK = ivK AND] lo <= pt AND pt <= hi))
    *
    * Fires only when the POINT column's type cannot hold NaN
    * (int/short/byte) — see the object scaladoc for the argument —
    * and for inclusive bounds, grouped aggregates, and Min/Max (non-
    * distinct, unfiltered) of ONE pt-side order-exact expression.
    *
    * Nullable f: the join form keeps a group whose qualifying points
    * ALL have null f (with null extrema), while the scan's inner
    * filter would drop it — so membership comes from a
    * [[RangeAggPrefix]] COUNT frame and the scan left-joins onto it
    * through fresh aliases (the join's output attributes are
    * referenced, not the pre-join ones — the EliminateOuterJoin
    * nullability trap the overlap rewrite documents). A non-nullable
    * f skips the count frame: scan membership (≥1 non-null-f
    * qualifying point) coincides with pair membership. Extrema are
    * computed in the double image and cast back to the aggregate's
    * own type — exact for every order-exact type. */
  private def tryValueExtrema(g: Seq[Expression], a: Seq[NamedExpression],
                              b: Band,
                              keys: Seq[(Expression, Expression)],
                              ptPlan: LogicalPlan, ivPlan: LogicalPlan)
      : Option[LogicalPlan] = {
    if (b.loStrict || b.hiStrict || g.isEmpty) return None
    // NaN-point preclusion: only a non-floating pt type is sound for a
    // pure logical rewrite (the operator's data probe handles the rest)
    b.pt.dataType match {
      case IntegerType | ShortType | ByteType =>
      case _ => return None
    }
    val gAttrs: Seq[Attribute] = g.map {
      case at: Attribute if ivPlan.outputSet.contains(at) => at
      case _ => return None
    }
    // every aggregate: Min/Max of ONE pt-side order-exact expression
    var fExpr: Option[Expression] = None
    def fOk(e: Expression): Boolean = {
      if (!e.deterministic || e.references.isEmpty ||
        !e.references.subsetOf(ptPlan.outputSet)) false
      else fExpr match {
        case Some(f0) => f0.semanticEquals(e)
        case None => e.dataType match {
          case DoubleType | FloatType | IntegerType | ShortType |
               ByteType => fExpr = Some(e); true
          case _ => false
        }
      }
    }
    var ok = true
    a.foreach {
      case at: Attribute => if (!gAttrs.contains(at)) ok = false
      case al: Alias => al.child.foreach {
        case ae: AggregateExpression =>
          if (ae.isDistinct || ae.filter.isDefined) ok = false
          else ae.aggregateFunction match {
            case Min(e) => if (!fOk(e)) ok = false
            case Max(e) => if (!fOk(e)) ok = false
            case _ => ok = false
          }
        case _ =>
      }
      case _ => ok = false
    }
    if (!ok) return None
    val f = fExpr.getOrElse(return None)

    RangeValueExtrema.tryBuild(gAttrs, b.pt, f, b.lo, b.hi,
      ptPlan, ivPlan, keys).flatMap { scanPlan =>
      val minA = scanPlan.output(gAttrs.length)
      val maxA = scanPlan.output(gAttrs.length + 1)
      // stitch target: (plan providing group rows, min attr, max attr)
      val stitched: Option[(LogicalPlan, Attribute, Attribute)] =
        if (!f.nullable) Some((scanPlan, minA, maxA))
        else {
          val cntAl = Alias(AggregateExpression(Count(Seq(Literal(1L))),
            Complete, isDistinct = false), "_graft_vx_cnt")()
          RangeAggPrefix.tryBuild(gAttrs,
            (gAttrs: Seq[NamedExpression]) :+ cntAl, b.pt, b.lo, b.hi,
            loStrict = false, hiStrict = false, ptPlan, ivPlan, keys)
            .map { cntPlan =>
              val keyAl = gAttrs.map(k => Alias(k, k.name)())
              val minAl = Alias(minA, "min_f")()
              val maxAl = Alias(maxA, "max_f")()
              val scanW = Project(keyAl ++ Seq(minAl, maxAl), scanPlan)
              val cond = gAttrs.zip(keyAl.map(_.toAttribute)).map {
                case (l, r) => EqualNullSafe(l, r): Expression
              }.reduce(And(_, _))
              val j = Join(cntPlan, scanW, LeftOuter, Some(cond),
                JoinHint.NONE)
              def outAttr(x: Attribute): Attribute =
                j.output.find(_.exprId == x.exprId).get
              (j, outAttr(minAl.toAttribute), outAttr(maxAl.toAttribute))
            }
        }
      stitched.flatMap { case (base, minJ, maxJ) =>
        val outList = a.map {
          case at: Attribute => at
          case al: Alias =>
            val nt = al.child.transformUp {
              case ae: AggregateExpression => ae.aggregateFunction match {
                case Min(_) => Cast(minJ, ae.dataType)
                case Max(_) => Cast(maxJ, ae.dataType)
                case _ => ae
              }
            }
            Alias(nt, al.name)(al.exprId, al.qualifier,
              al.explicitMetadata, al.nonInheritableMetadataKeys)
          case other => other
        }
        val legal = AttributeSet(gAttrs ++ Seq(minJ, maxJ))
        if (outList.forall(_.references.subsetOf(legal)))
          Some(Project(outList, base))
        else None
      }
    }
  }

  /** One conjunct as a NON-STRICT x ≤ y (either spelling). Strict
    * overlap predicates decline: the count decomposition's two failure
    * modes are only mutually exclusive for the inclusive predicate
    * over valid intervals. */
  private def asNonStrictLe(e: Expression)
      : Option[(Expression, Expression)] = e match {
    case LessThanOrEqual(x, y) => Some((x, y))
    case GreaterThanOrEqual(x, y) => Some((y, x))
    case _ => None
  }

  /** Validity proof: does `side` ESTABLISH lo ≤ hi — a Filter conjunct
    * semantically equal to it, chasing Project aliases downward (the
    * shape predicate pushdown leaves: the join condition references
    * Project outputs while the pushed filter references their
    * definitions)? Conservative: stops at any non-Filter/Project
    * node. */
  @scala.annotation.tailrec
  private def provenValid(side: LogicalPlan, lo: Expression,
                          hi: Expression): Boolean = side match {
    case Filter(c, child) =>
      splitAnd(c).exists(x => x.semanticEquals(LessThanOrEqual(lo, hi)) ||
        x.semanticEquals(GreaterThanOrEqual(hi, lo))) ||
        provenValid(child, lo, hi)
    case Project(pl, child) =>
      val sub: Map[ExprId, Expression] = pl.collect {
        case al @ Alias(e, _) => al.exprId -> e
      }.toMap
      def inline(e: Expression): Expression = e.transformUp {
        case a: Attribute if sub.contains(a.exprId) => sub(a.exprId)
      }
      provenValid(child, inline(lo), inline(hi))
    case _ => false
  }

  /** Rewrite 1c (r19): COUNT over an interval-OVERLAP inner join →
    * three one-sided prefix frames — the auto (SQL-surface) path to
    * [[graft.ops.RangeAgg.intervalOverlapAgg]]'s decomposition:
    *
    *   Aggregate(a keys, count(*),
    *     Join(A, B, Inner, a.lo <= b.hi AND b.lo <= a.hi
    *                       [AND aK = bK ...]))
    *
    *   overlap(a) = N_B − |{b.hi < a.lo}| − |{b.lo > a.hi}|
    *
    * each term a (keyed) [[RangeAggPrefix]] count (N_B as the
    * [−∞, NaN]-band frame — every valid b row under the total order),
    * stitched by two left joins of per-group aggregates and the
    * inner-semantics Filter(overlap > 0). The overlap join's bill is
    * its OUTPUT (wide windows overlap nearly everything — 1.05 B
    * qualifying pairs at ×100 on the j7h fixture), which this plan
    * never enumerates.
    *
    * SOUNDNESS PRECONDITION — and why the rewrite does NOT inject the
    * validity filters itself (refuting the obvious shortcut): the
    * decomposition requires every surviving row to satisfy lo ≤ hi,
    * but INVALID rows can still satisfy the raw overlap predicate —
    * a = [5, 3] matches b = [2, 6] (5 ≤ 6 AND 2 ≤ 3) — so adding
    * filters the user didn't write CHANGES the answer whenever
    * inverted rows exist. The rewrite therefore fires only when both
    * sides' plans already PROVE their validity (a `lo <= hi` Filter
    * conjunct reached by [[provenValid]]); otherwise the join stands.
    * RangeJoinRewriteSpec pins the counterexample.
    *
    * Guards: group keys are A-side attributes (A = the grouped side);
    * aggregates are count(*)-shaped only (non-distinct, unfiltered,
    * foldable non-null args — count(b.x) would need a null-aware
    * fourth frame, declined for now); non-strict bounds; numeric
    * order-exact types (re-checked by tryBuild); a GLOBAL aggregate
    * (no group keys) declines — its stitch would be a scalar cross
    * join, and the join form is one row anyway. */
  private def tryOverlapRewrite(groupExprs: Seq[Expression],
                                aggExprs: Seq[NamedExpression],
                                left: LogicalPlan, right: LogicalPlan,
                                conjuncts: Seq[Expression])
      : Option[LogicalPlan] = {
    if (groupExprs.isEmpty) return None
    val gAttrs: Seq[Attribute] = groupExprs.map {
      case at: Attribute => at
      case _ => return None
    }
    val aOnLeft = gAttrs.forall(left.outputSet.contains)
    if (!aOnLeft && !gAttrs.forall(right.outputSet.contains)) return None
    val (aPlan, bPlan) = if (aOnLeft) (left, right) else (right, left)
    def onA(e: Expression): Boolean =
      e.references.nonEmpty && e.references.subsetOf(aPlan.outputSet)
    def onB(e: Expression): Boolean =
      e.references.nonEmpty && e.references.subsetOf(bPlan.outputSet)
    // classify conjuncts: the two cross one-sided comparisons forming
    // the overlap + any equi keys (oriented (bK, aK) for the frames)
    var low: Option[(Expression, Expression)] = None  // alo <= bhi
    var high: Option[(Expression, Expression)] = None // blo <= ahi
    val keys = scala.collection.mutable.ArrayBuffer
      .empty[(Expression, Expression)]
    conjuncts.foreach { c =>
      (c, asNonStrictLe(c)) match {
        case (EqualTo(x, y), _) if onB(x) && onA(y) => keys += ((x, y))
        case (EqualTo(x, y), _) if onA(x) && onB(y) => keys += ((y, x))
        case (_, Some((x, y))) if onA(x) && onB(y) && low.isEmpty =>
          low = Some((x, y))
        case (_, Some((x, y))) if onB(x) && onA(y) && high.isEmpty =>
          high = Some((x, y))
        case _ => return None
      }
    }
    val ((alo, bhi), (blo, ahi)) = (low, high) match {
      case (Some(l), Some(h)) => (l, h)
      case _ => return None
    }
    if (!Seq(alo, ahi, blo, bhi).forall(numeric)) return None
    // SOUNDNESS: validity established in-plan on BOTH sides, or decline
    if (!provenValid(aPlan, alo, ahi) ||
        !provenValid(bPlan, blo, bhi)) return None
    // aggregate shape: count(*)-like only, and nothing else references
    // the B side
    def countish(ae: AggregateExpression): Boolean =
      !ae.isDistinct && ae.filter.isEmpty && (ae.aggregateFunction match {
        case Count(cs) => cs.nonEmpty &&
          cs.forall(c => c.foldable && c.eval() != null)
        case _ => false
      })
    val shapeOk = aggExprs.forall {
      case at: Attribute => gAttrs.contains(at)
      case al: Alias =>
        var ok = true
        al.child.foreach {
          case ae: AggregateExpression => if (!countish(ae)) ok = false
          case _ =>
        }
        ok && al.child.references.subsetOf(AttributeSet(gAttrs))
      case _ => false
    }
    if (!shapeOk) return None

    def frame(pt: Expression, lo: Expression, hi: Expression,
              loStrict: Boolean, hiStrict: Boolean, name: String)
        : Option[(LogicalPlan, Attribute)] = {
      val cnt = Alias(AggregateExpression(Count(Seq(Literal(1L))),
        Complete, isDistinct = false), name)()
      RangeAggPrefix.tryBuild(gAttrs,
        (gAttrs: Seq[NamedExpression]) :+ cnt, pt, lo, hi,
        loStrict, hiStrict, bPlan, aPlan, keys.toSeq)
        .map(p => (p, cnt.toAttribute))
    }
    for {
      (tP, tCnt) <- frame(bhi, Literal(Double.NegativeInfinity),
        Literal(Double.NaN), loStrict = false, hiStrict = false,
        "_graft_ovl_t")
      (bP, bCnt) <- frame(bhi, Literal(Double.NegativeInfinity), alo,
        loStrict = false, hiStrict = true, "_graft_ovl_b")
      (aP, aCnt) <- frame(blo, ahi, Literal(Double.NaN),
        loStrict = true, hiStrict = false, "_graft_ovl_a")
    } yield {
      // the three frames share the original group attrs: re-alias the
      // below/above outputs fresh so the stitch joins have disjoint
      // output attribute sets (the total frame keeps the originals —
      // parents resolve unchanged)
      def wrap(p: LogicalPlan, cnt: Attribute)
          : (LogicalPlan, Seq[Attribute], Attribute) = {
        val keyAl = gAttrs.map(k => Alias(k, k.name)())
        val cntAl = Alias(cnt, cnt.name)()
        (Project(keyAl :+ cntAl, p), keyAl.map(_.toAttribute),
          cntAl.toAttribute)
      }
      val (bW, bKeys, bC) = wrap(bP, bCnt)
      val (aW, aKeys, aC) = wrap(aP, aCnt)
      def joinCond(ks: Seq[Attribute]): Expression =
        gAttrs.zip(ks).map { case (l, r) =>
          EqualNullSafe(l, r): Expression }.reduce(And(_, _))
      val j1 = Join(tP, bW, LeftOuter, Some(joinCond(bKeys)), JoinHint.NONE)
      val j2 = Join(j1, aW, LeftOuter, Some(joinCond(aKeys)), JoinHint.NONE)
      // reference the JOINS' output attributes, not the pre-join ones:
      // LeftOuter flips the right side nullable, and an expression
      // holding the non-nullable originals would let NullPropagation
      // erase the coalesces and EliminateOuterJoin then flip the
      // stitches to Inner — silently dropping every group absent from
      // a one-sided frame (caught by RangeJoinRewriteSpec's keyed test)
      def outAttr(a: Attribute): Attribute =
        j2.output.find(_.exprId == a.exprId).get
      val overlap: Expression = Subtract(
        Subtract(tCnt, Coalesce(Seq(outAttr(bC), Literal(0L)))),
        Coalesce(Seq(outAttr(aC), Literal(0L))))
      val filt = Filter(GreaterThan(overlap, Literal(0L)), j2)
      val outList = aggExprs.map {
        case at: Attribute => at
        case al: Alias =>
          val nt = al.child.transformUp {
            case ae: AggregateExpression if countish(ae) => overlap
          }
          Alias(nt, al.name)(al.exprId, al.qualifier, al.explicitMetadata,
            al.nonInheritableMetadataKeys)
        case other => other
      }
      Project(outList, filt)
    }
  }

  /** Rewrite 2: the binned equi-join over a detected band. */
  private def rewriteBinned(j: Join, left: LogicalPlan, right: LogicalPlan,
                            hint: org.apache.spark.sql.catalyst.plans.logical.JoinHint,
                            w: Double, band: Band): Option[LogicalPlan] = {
    val (ptA, lo, hi) = (band.pt, band.lo, band.hi)
    val ptOnLeft = band.ptOnLeft
    val (ptPlan, ivPlan) = if (ptOnLeft) (left, right) else (right, left)

    val binL = Alias(binOf(ptA, w), "_graft_bin_pt")()
    val ptBinned = Project(ptPlan.output :+ binL, ptPlan)
    // REPLICATION BOUND: the conf is session-wide, so one width serves
    // EVERY band join while it is set — an unrelated join whose
    // intervals span a huge number of bins would generate enormous
    // per-row arrays (Sequence errors past ~2^31 elements) or OOM,
    // turning a slow-but-working nested loop into a failure. The upper
    // bin passes through a per-row guard that RAISES A CLEAR ERROR when
    // an interval would explode into more than
    // spark.graft.rangeJoin.maxBinsPerInterval bins (default 1e6) —
    // semantics-preserving (no silent truncation), and the error names
    // the knobs to fix. Null spans pass through: the lo<=hi filter
    // already dropped null bounds.
    val maxBins = conf
      .getConfString("spark.graft.rangeJoin.maxBinsPerInterval", "1000000")
      .toLongOption.filter(_ > 0).getOrElse(1000000L)
    val span = Subtract(binOf(hi, w), binOf(lo, w))
    val guardMsg = Literal(
      s"graft range-join rewrite: an interval spans more than $maxBins " +
        s"bins at binWidth=$w - raise spark.graft.rangeJoin.binWidth, " +
        "raise spark.graft.rangeJoin.maxBinsPerInterval, or unset the " +
        "binWidth conf for this join")
    // strict LessThan: span bins [lo..hi] explode into span+1 rows, so
    // span == maxBins already means maxBins+1 bins — over the cap
    val hiGuarded = If(
      Or(IsNull(span), LessThan(span, Literal(maxBins))),
      binOf(hi, w),
      Cast(new RaiseError(guardMsg), LongType))
    // Sequence is TimeZoneAware: without an explicit zone the rewritten
    // plan is UNRESOLVED and the optimizer's plan validation rejects it
    val gen = Explode(Sequence(binOf(lo, w), hiGuarded, None,
      Some(conf.sessionLocalTimeZone)))
    val binROut = AttributeReference("_graft_bin_iv", LongType,
      nullable = gen.elementSchema.head.nullable)()
    val ivFiltered = Filter(LessThanOrEqual(lo, hi), ivPlan)
    val ivBinned = Generate(gen,
      unrequiredChildIndex = Nil, outer = false, qualifier = None,
      generatorOutput = Seq(binROut), child = ivFiltered)
    val (newL, newR) =
      if (ptOnLeft) (ptBinned, ivBinned) else (ivBinned, ptBinned)
    val newCond = And(EqualTo(binL.toAttribute, binROut), j.condition.get)
    Some(Project(j.output, Join(newL, newR, Inner, Some(newCond), hint)))
  }
}
