package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Optimizer rule: rewrite band joins (`abs(l − r) <= w`, no equi key)
  * into granule-bucketed equi-joins.
  *
  * An inner join whose only usable predicate is a band constraint plans
  * as BroadcastNestedLoopJoin — O(|L|·|R|) comparisons, the scale
  * killer this repo's q22/q100 avoid BY HAND with the granule-bucket
  * device. This rule performs that rewrite automatically inside
  * Catalyst, the way a user of the engine would expect:
  *
  *   L ⋈_{|l−r|≤w} R
  *     ⇒ Project(L, b_l = floor(l/g))
  *        ⋈_{b_l = b_r ∧ |l−r|≤w}
  *       Generate(explode([b_r−1, b_r, b_r+1]), R),   g = max(w, 1)
  *
  * Losslessness: with granule g ≥ w, |l−r| ≤ w implies
  * |floor(l/g) − floor(r/g)| ≤ 1, so every qualifying pair meets on
  * exactly one of the three replicated buckets (the three bucket ids
  * are distinct) — no pair is lost, none duplicated. The original band
  * conjunct is kept, so false bucket-mates are filtered as before.
  * Floor division must be FLOOR (not plain truncating `div`) to hold
  * for negative keys: floor(x/g) = x div g − [x < 0 ∧ x % g ≠ 0],
  * exact and overflow-free on the whole Long range — no doubles
  * anywhere; the neighbor-bucket ±1 saturates at the Long edges (with
  * array_distinct preserving no-duplication) so ANSI overflow can
  * never fire where the nested-loop plan would have succeeded.
  *
  * Firing conditions (deliberately narrow — an optimizer rule must
  * never change semantics):
  *   - INNER join, both sides resolved, condition deterministic;
  *   - NO existing equi predicate (`a = b` across sides) — if one
  *     exists, the join already hashes on it and bucketing only adds
  *     cost;
  *   - a conjunct of shape `abs(a − b) <= lit` (either orientation)
  *     with `a` from one side, `b` from the other, both integral
  *     (int/long), and a non-negative foldable literal.
  *
  * The rewritten join contains an equi key, so the rule cannot re-fire
  * on its own output (fixed-point safe). `graft.functions.GraftExtensions`
  * installs it on every session the engine builds.
  *
  * Ref: the reference's interval join (stream-stream ±5 s,
  * IntervalJoinFunction) — q22/q100 implement it manually; this rule
  * generalizes the plan rewrite to any band predicate.
  */
object BandJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  private def isIntegral(e: Expression): Boolean = e.dataType match {
    case IntegerType | LongType => true
    case _ => false
  }

  /** floor(x / g) for g > 0, exact AND overflow-free over the whole
    * Long range: x div g, minus 1 when x < 0 with a nonzero remainder.
    * (The former (x − pmod(x,g)) div g form underflows under ANSI eval
    * at x near Long.MinValue; truncating div is safe for any x when
    * g ≥ 1, and the −1 correction cannot underflow because x % g == 0
    * whenever x div g touches the range edge.) */
  private def floorDiv(x: Expression, g: Long): Expression = {
    val xl = if (x.dataType == LongType) x else Cast(x, LongType)
    val gl = Literal(g, LongType)
    val trunc = IntegralDivide(xl, gl)
    If(And(LessThan(xl, Literal(0L, LongType)),
        Not(EqualTo(Remainder(xl, gl), Literal(0L, LongType)))),
      Subtract(trunc, Literal(1L, LongType)), trunc)
  }

  private def hasEquiKey(cond: Expression, left: LogicalPlan,
      right: LogicalPlan): Boolean =
    splitConjunctivePredicates(cond).exists {
      case EqualTo(a, b) =>
        (a.references.subsetOf(left.outputSet) &&
          b.references.subsetOf(right.outputSet)) ||
          (b.references.subsetOf(left.outputSet) &&
            a.references.subsetOf(right.outputSet))
      case EqualNullSafe(a, b) =>
        (a.references.subsetOf(left.outputSet) &&
          b.references.subsetOf(right.outputSet)) ||
          (b.references.subsetOf(left.outputSet) &&
            a.references.subsetOf(right.outputSet))
      case _ => false
    }

  /** Find `abs(a − b) <= w`: returns (leftSideExpr, rightSideExpr, w).
    * Iterates ALL conjuncts (not collectFirst) — an unusable
    * band-shaped conjunct (negative width, cross-side references) must
    * not mask a later valid one. */
  private def findBand(cond: Expression, left: LogicalPlan,
      right: LogicalPlan): Option[(Expression, Expression, Long)] =
    splitConjunctivePredicates(cond).collect {
      case cmp @ LessThanOrEqual(Abs(Subtract(a, b, _), _), lit: Literal)
          if lit.foldable && isIntegral(a) && isIntegral(b) &&
            cmp.deterministic =>
        val w: Long = lit.eval() match {
          case i: java.lang.Integer => i.longValue
          case l: java.lang.Long => l
          case _ => -1L
        }
        if (w < 0) None
        else if (a.references.nonEmpty &&
          a.references.subsetOf(left.outputSet) &&
          b.references.nonEmpty &&
          b.references.subsetOf(right.outputSet))
          Some((a, b, w))
        else if (b.references.nonEmpty &&
          b.references.subsetOf(left.outputSet) &&
          a.references.nonEmpty &&
          a.references.subsetOf(right.outputSet))
          Some((b, a, w))
        else None
    }.flatten.headOption

  override def apply(plan: LogicalPlan): LogicalPlan = {
    plan transform {
      case j @ Join(left, right, Inner, Some(cond), hint)
          if j.resolved && cond.deterministic &&
            !hasEquiKey(cond, left, right) =>
        findBand(cond, left, right) match {
          case Some((lExpr, rExpr, w)) =>
            val g = math.max(w, 1L)
            val bl = Alias(floorDiv(lExpr, g), "graft_band_bl")()
            val projL = Project(left.output :+ bl, left)
            // Replicate the right row to its bucket and both neighbors,
            // with SATURATING ±1 at the Long range edges (ANSI Add/
            // Subtract would throw ARITHMETIC_OVERFLOW for band keys in
            // the first/last granule) + ArrayDistinct to keep the
            // no-duplication invariant when saturation collides ids.
            // Lossless: a saturated-away neighbor bucket is outside the
            // representable floor(l/g) range, so no left partner lives
            // there. br is projected once so the CASE arms don't
            // re-evaluate the user's expression.
            val brA = Alias(floorDiv(rExpr, g), "graft_band_brv")()
            val projR = Project(right.output :+ brA, right)
            val br = brA.toAttribute
            val minL = Literal(Long.MinValue, LongType)
            val maxL = Literal(Long.MaxValue, LongType)
            val down = If(EqualTo(br, minL), minL,
              Subtract(br, Literal(1L, LongType)))
            val up = If(EqualTo(br, maxL), maxL,
              Add(br, Literal(1L, LongType)))
            val arr = ArrayDistinct(CreateArray(Seq(down, br, up)))
            val genOut = AttributeReference("graft_band_br", LongType,
              nullable = true)()
            val gen = Generate(Explode(arr), unrequiredChildIndex = Nil,
              outer = false, qualifier = None,
              generatorOutput = Seq(genOut), child = projR)
            val newCond = And(EqualTo(bl.toAttribute, genOut), cond)
            Project(j.output,
              Join(projL, gen, Inner, Some(newCond), hint))
          case None => j
        }
    }
  }
}
