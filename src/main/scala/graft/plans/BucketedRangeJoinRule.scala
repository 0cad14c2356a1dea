package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Optimizer rule: rewrite the naive point-in-interval join
  *
  *   P JOIN T ON P.p >= T.lo AND P.p <= T.hi
  *
  * — which Catalyst can only plan as a nested-loop/cartesian join (no equi
  * keys to extract); fine for a 20-row tier table, fatal for the millions of
  * ranges a geo-IP or price-tier dimension has — into the bucket-grid equi
  * join (the q_join_pointrange decomposition, applied automatically to the
  * naive form every analyst writes first): each interval explodes into the
  * buckets it touches on a fixed 2^bits grid, each point maps to exactly ONE
  * bucket, and the join keys on the bucket id with the original containment
  * predicates as residuals.
  *
  * Lossless by monotonicity: bucket(x) = x >> bits is monotone
  * non-decreasing (arithmetic shift = floor division, so negatives bucket
  * correctly too), hence lo <= p <= hi implies bucket(lo) <= bucket(p) <=
  * bucket(hi) — every qualifying pair meets in exactly one exploded bucket
  * row (the point side contributes one row, the interval side one row per
  * touched bucket, and p's bucket is a single value), so multiplicity is
  * preserved exactly. NULL p buckets to NULL and never equi-matches; a NULL
  * bound makes `sequence` NULL and the non-outer Generate drops the
  * interval row — both exactly the rows the naive predicate would reject.
  * An inverted interval (lo > hi) can emit descending spurious buckets;
  * the residual containment predicate rejects every such pair.
  *
  * Scope guards (rewrite ONLY when it is a strict win):
  *   - the condition contains exactly one lower-bound and one upper-bound
  *     conjunct on the SAME point expression, point on one side, both
  *     bounds on the other, all LongType and deterministic. Strict
  *     inequalities participate (the bucket cover is implied by the
  *     non-strict relaxation; the strict predicate itself rides as the
  *     residual);
  *   - NO cross-side equi conjunct, i.e. no key Catalyst's
  *     `ExtractEquiJoinKeys` finds (an equi key already gives Catalyst a
  *     hash join — and this also keeps the rule from re-matching its own
  *     output, whose condition carries the bucket equi key). Remaining
  *     conjuncts ride along as residual filters.
  *
  * The grid is static (no stats at rewrite time): 2^[[BucketBits]] units
  * per bucket, sized so a typical interval touches a handful of buckets —
  * intervals spanning vastly more than that inflate the exploded side (the
  * same trade the hand-built decomposition makes).
  *
  * Width guard: the exploded side is one row per TOUCHED BUCKET, so an
  * interval spanning ≫ 2^bits units (an epoch-micros day is ~3.4e8 buckets
  * at bits=8) would inflate the Generate side without bound — and past
  * 2^31 buckets `sequence` throws its array-length error, turning a
  * merely-slow query into a crash. The rewrite therefore SPLITS the
  * interval side at [[MaxBuckets]]: intervals touching fewer buckets take
  * the exploded equi join;
  * wider ones ride a fallback join under the ORIGINAL condition (tagged so
  * the fixed-point batch never re-matches it), and the two branches union.
  * Wide intervals are rare in real tier/geo tables, so the fallback side
  * stays nested-loop-cheap while the bulk goes through the hash join —
  * the same hot/cold two-path shape as the salted skew join. When both
  * bounds fold to constants the split is decided at rewrite time instead:
  * all-narrow keeps the single-path plan, all-wide skips the rewrite.
  *
  * Disable with Spark's own
  * `spark.sql.optimizer.excludedRules=graft.plans.BucketedRangeJoinRule`.
  */
object BucketedRangeJoinRule extends Rule[LogicalPlan] with PredicateHelper {

  /** Grid resolution: a bucket is 2^BucketBits units of the point domain. */
  private val BucketBits = 8

  /** Widest interval, in touched buckets, that takes the exploded equi join. */
  private val MaxBuckets = 4096L

  /** Marks the wide-interval fallback join so the fixed-point optimizer
    * batch cannot re-match the rule's own output (its condition is the
    * original BETWEEN spelling by construction).
    */
  private[graft] val widePathTag =
    new org.apache.spark.sql.catalyst.trees.TreeNodeTag[Unit]("graft.rangeJoin.widePath")

  /** (point, bound) from a lower-bound spelling `p >= lo` / `lo <= p`
    * (strict variants included — see scaladoc). Operands match BARE: a
    * Cast in the comparison is never stripped, because a lossy chain like
    * CAST(CAST(p AS INT) AS BIGINT) would pass the LongType guard while
    * bucketing the UN-truncated column — silently dropping qualifying
    * rows whose raw bucket differs from the truncated one. (A widening
    * cast fails the LongType check regardless, so stripping only ever
    * admitted lossy chains.)
    */
  private def lowerOf(e: Expression): Option[(Expression, Expression)] = e match {
    case GreaterThanOrEqual(p, lo) => Some((p, lo))
    case GreaterThan(p, lo)        => Some((p, lo))
    case LessThanOrEqual(lo, p)    => Some((p, lo))
    case LessThan(lo, p)           => Some((p, lo))
    case _                         => None
  }

  private def upperOf(e: Expression): Option[(Expression, Expression)] = e match {
    case LessThanOrEqual(p, hi)    => Some((p, hi))
    case LessThan(p, hi)           => Some((p, hi))
    case GreaterThanOrEqual(hi, p) => Some((p, hi))
    case GreaterThan(hi, p)        => Some((p, hi))
    case _                         => None
  }

  private def bucket(x: Expression): Expression =
    ShiftRight(x, Literal(BucketBits, IntegerType))

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case j @ Join(left, right, Inner, Some(cond), hint)
          if j.getTagValue(widePathTag).isEmpty =>
        val conjuncts = splitConjunctivePredicates(cond)
        // Every inequality reads as a lower bound on one operand AND an
        // upper bound on the other, so interpretations are resolved by
        // PAIRING: a (lower, upper) pair qualifies only when both read the
        // SAME point expression. For a single BETWEEN the qualifying pair
        // is unique; anything more ambiguous (two range pairs, a shared
        // bound) — skip the rewrite.
        val candidates = for {
          lc <- conjuncts; uc <- conjuncts if !(lc eq uc)
          (pl, lo) <- lowerOf(lc).toSeq
          (pu, hi) <- upperOf(uc).toSeq
          if pl.semanticEquals(pu)
          if pl.dataType == LongType && lo.dataType == LongType && hi.dataType == LongType
          if pl.deterministic && lo.deterministic && hi.deterministic
        } yield (lc, uc, pl, lo, hi)
        candidates match {
          case Seq(one) => rewriteIfSidesSplit(j, left, right, conjuncts, one, hint)
          case _        => j
        }
    }

  private def rewriteIfSidesSplit(
      j: Join, left: LogicalPlan, right: LogicalPlan, conjuncts: Seq[Expression],
      candidate: (Expression, Expression, Expression, Expression, Expression),
      hint: JoinHint): LogicalPlan = {
    val (lc, uc, p, lo, hi) = candidate
    val rest = conjuncts.filterNot(c => (c eq lc) || (c eq uc))
    val pointLeft = p.references.subsetOf(left.outputSet) &&
      lo.references.subsetOf(right.outputSet) && hi.references.subsetOf(right.outputSet)
    val pointRight = p.references.subsetOf(right.outputSet) &&
      lo.references.subsetOf(left.outputSet) && hi.references.subsetOf(left.outputSet)
    val sidesOk = (pointLeft || pointRight) && rest.forall(_.deterministic) &&
      ExtractEquiJoinKeys.unapply(j).isEmpty
    if (!sidesOk) return j

    // Constant bounds decide narrow/wide at REWRITE time: every interval
    // row has the same span, so the runtime split would be vacuous.
    val foldableTouched: Option[Long] =
      if (lo.foldable && hi.foldable) (lo.eval(), hi.eval()) match {
        case (l: java.lang.Long, h: java.lang.Long) =>
          Some((h.longValue >> BucketBits) - (l.longValue >> BucketBits) + 1)
        case _ => None // NULL constant bound: both plans emit nothing anyway
      }
      else None
    if (foldableTouched.exists(_ > MaxBuckets)) return j // all-wide

    val pointOnLeft = pointLeft
    val (pointPlan, intervalPlan) = if (pointOnLeft) (left, right) else (right, left)
    val residual = (Seq(lc, uc) ++ rest).reduce[Expression](And)

    // The exploded equi join over `intervalSrc` (point side: one bucket per
    // row as a projected column; interval side: one row per touched bucket).
    def narrowJoin(intervalSrc: LogicalPlan): LogicalPlan = {
      val pb = Alias(bucket(p), "__graft_bkt_p")()
      val pointProj = Project(pointPlan.output :+ pb, pointPlan)
      val ib = AttributeReference("__graft_bkt_i", LongType, nullable = false)()
      // Sequence is TimeZoneAwareExpression: without a zone it is
      // UNRESOLVED, and a post-analysis rule must emit resolved plans
      // (the zone is irrelevant for integral sequences).
      val gen = Generate(
        Explode(new Sequence(bucket(lo), bucket(hi), None,
          Some(conf.sessionLocalTimeZone))),
        unrequiredChildIndex = Nil, outer = false, qualifier = None,
        generatorOutput = Seq(ib), child = intervalSrc)
      val newCond = And(EqualTo(pb.toAttribute, ib), residual)
      val (nl, nr) = if (pointOnLeft) (pointProj, gen) else (gen, pointProj)
      Project(j.output, Join(nl, nr, Inner, Some(newCond), hint))
    }

    if (foldableTouched.isDefined) {
      // Constant bounds already proven narrow: single path.
      narrowJoin(intervalPlan)
    } else {
      // Per-row split on touched-bucket count. A NULL bound nulls both
      // filters, dropping the row from both branches — exactly the rows
      // the naive predicate rejects, so multiplicity is preserved.
      val span = Subtract(bucket(hi), bucket(lo))
      val narrowI = Filter(LessThan(span, Literal(MaxBuckets, LongType)), intervalPlan)
      val wideI =
        Filter(GreaterThanOrEqual(span, Literal(MaxBuckets, LongType)), intervalPlan)
      val wideJoin = {
        val (wl, wr) = if (pointOnLeft) (pointPlan, wideI) else (wideI, pointPlan)
        val wj = Join(wl, wr, Inner, Some(residual), hint)
        wj.setTagValue(widePathTag, ()) // never re-matched by this rule
        Project(j.output, wj)
      }
      Union(Seq(narrowJoin(narrowI), wideJoin))
    }
  }
}
