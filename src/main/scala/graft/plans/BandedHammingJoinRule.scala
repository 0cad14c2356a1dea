package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Optimizer rule: rewrite the naive Hamming-distance join
  *
  *   A JOIN B ON bit_count(A.sig ^ B.sig) <= k
  *
  * — which Catalyst can only plan as a nested-loop/cartesian join (no equi
  * keys to extract), the all-pairs shape that melts at any real scale —
  * into the EXACT banded candidate join: each side explodes its 64-bit
  * signature into k+1 disjoint bit-bands, the join keys on (band index,
  * band value), and the original distance predicate plus a first-matching-
  * band filter run as residuals. Pigeonhole makes this lossless: a pair
  * within Hamming distance k differs in at most k of the k+1 bands, so at
  * least one band matches exactly; the first-match filter (no EARLIER band
  * also equal) emits each qualifying pair exactly once, so the rewrite is
  * row-identical to the naive join — including duplicate input rows and
  * NULL signatures (a NULL band value never equi-matches, exactly as the
  * naive predicate never passes NULL).
  *
  * This is rung (c) of the extension ladder (SURVEY.md §2.12) doing real
  * optimizer work: the same banding the curated pipelines build by hand
  * (TextQueries.bandedHammingPairs), applied automatically to the naive
  * form every analyst writes first. The trade is the standard LSH one —
  * (k+1)× row inflation on both inputs buys equi-join locality instead of
  * an all-pairs scan.
  *
  * Scope guards (rewrite ONLY when it is a strict win):
  *   - the join condition is a conjunction containing exactly one distance
  *     predicate and NO cross-side equi conjunct, i.e. no key Catalyst's
  *     `ExtractEquiJoinKeys` finds (an equi key already gives Catalyst a
  *     hash join — rewriting would only inflate it; this also keeps the
  *     rule from re-matching its own output, whose condition carries the
  *     band-key equi conjuncts). Other conjuncts — the
  *     ubiquitous `a.id < b.id` pair-ordering tiebreak — ride along as
  *     residual filters;
  *   - both distance operands are single-side deterministic LongType
  *     expressions;
  *   - 0 <= k <= 15 (beyond that banding is too weak to pay for itself).
  *
  * Disable with Spark's own
  * `spark.sql.optimizer.excludedRules=graft.plans.BandedHammingJoinRule`.
  */
object BandedHammingJoinRule extends Rule[LogicalPlan] with PredicateHelper {

  private val MaxK = 15

  private def stripCast(e: Expression): Expression = e match {
    case c: Cast => stripCast(c.child)
    case other   => other
  }

  private def litK(e: Expression): Option[Int] = e match {
    case Literal(v: Int, IntegerType)                  => Some(v)
    case Literal(v: Long, LongType) if v <= MaxK.toLong => Some(v.toInt)
    case _                                             => None
  }

  /** Extract (a, b, k) from `bit_count(a ^ b) <= k` in its comparison
    * spellings (<=, <, and the flipped >=, >).
    */
  private def matchDistancePredicate(cond: Expression): Option[(Expression, Expression, Int)] = {
    def bc(e: Expression): Option[(Expression, Expression)] = stripCast(e) match {
      case BitwiseCount(BitwiseXor(a, b)) if a.dataType == LongType && b.dataType == LongType =>
        Some((a, b))
      case _ => None
    }
    cond match {
      case LessThanOrEqual(l, r)    => for (ab <- bc(l); k <- litK(r)) yield (ab._1, ab._2, k)
      case LessThan(l, r)           => for (ab <- bc(l); k <- litK(r)) yield (ab._1, ab._2, k - 1)
      case GreaterThanOrEqual(l, r) => for (ab <- bc(r); k <- litK(l)) yield (ab._1, ab._2, k)
      case GreaterThan(l, r)        => for (ab <- bc(r); k <- litK(l)) yield (ab._1, ab._2, k - 1)
      case _                        => None
    }
  }

  /** Band i of a 64-bit value: the w-bit slice starting at bit i·w (the
    * last band absorbs the remainder). Disjoint and exhaustive over all
    * 64 bits — required for the pigeonhole guarantee.
    */
  private def bandExpr(x: Expression, i: Int, w: Int, nBands: Int): Expression = {
    val off = i * w
    val len = if (i == nBands - 1) 64 - off else w
    val mask = if (len >= 64) -1L else (1L << len) - 1L
    BitwiseAnd(ShiftRightUnsigned(x, Literal(off)), Literal(mask))
  }

  private def explodeBands(
      child: LogicalPlan, sig: Expression, nBands: Int, w: Int,
      tag: String): (LogicalPlan, Attribute, Attribute) = {
    val pos = AttributeReference(s"__graft_pos_$tag", IntegerType, nullable = false)()
    val bval = AttributeReference(s"__graft_bval_$tag", LongType, nullable = true)()
    val gen = Generate(
      PosExplode(CreateArray((0 until nBands).map(i => bandExpr(sig, i, w, nBands)))),
      unrequiredChildIndex = Nil, outer = false, qualifier = None,
      generatorOutput = Seq(pos, bval), child = child)
    (gen, pos, bval)
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case j @ Join(left, right, Inner, Some(cond), hint) =>
        val conjuncts = splitConjunctivePredicates(cond)
        val distances = conjuncts.flatMap(c => matchDistancePredicate(c).map(c -> _))
        val rest = conjuncts.filterNot(c => distances.exists(_._1 eq c))
        distances match {
          case Seq((_, (a, b, k))) if k >= 0 && k <= MaxK &&
              a.references.subsetOf(left.outputSet) && b.references.subsetOf(right.outputSet) &&
              a.deterministic && b.deterministic &&
              ExtractEquiJoinKeys.unapply(j).isEmpty && rest.forall(_.deterministic) =>
            val nBands = k + 1
            val w = 64 / nBands
            val (genL, posL, bvalL) = explodeBands(left, a, nBands, w, "l")
            val (genR, posR, bvalR) = explodeBands(right, b, nBands, w, "r")
            // each qualifying pair shares >= 1 band; keep only the FIRST
            // shared band so the pair is emitted exactly once
            val noEarlier: Expression =
              if (nBands == 1) Literal(true)
              else CaseWhen(
                (1 until nBands).map { i =>
                  (EqualTo(posL, Literal(i)),
                    (0 until i).map(jj =>
                      Not(EqualTo(bandExpr(a, jj, w, nBands), bandExpr(b, jj, w, nBands))))
                      .reduce[Expression](And))
                }, Some(Literal(true)))
            val distance = LessThanOrEqual(BitwiseCount(BitwiseXor(a, b)), Literal(k))
            val residual = (Seq(distance, noEarlier) ++ rest).reduce[Expression](And)
            val newCond = And(And(EqualTo(posL, posR), EqualTo(bvalL, bvalR)), residual)
            Project(j.output, Join(genL, genR, Inner, Some(newCond), hint))
          case _ => j
        }
    }
}
