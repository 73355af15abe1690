package graft.plans

import graft.functions.FloorDiv

import org.apache.spark.sql.catalyst.expressions.{Add, Alias, And,
  AttributeReference, Cast, EqualNullSafe, EqualTo, Expression, GreaterThan,
  GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Expand, Join, LogicalPlan,
  Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Rewrites a pure range-band inner join into a binned equi-join.
  *
  * Stock Spark plans an inner join whose condition has NO equality
  * conjunct as a broadcast-nested-loop (or cartesian) join: every
  * probe row is tested against every build row, O(|L|·|R|) predicate
  * evaluations regardless of how selective the band is. For the
  * time-band joins this engine targets (attribute events within a
  * fixed window after an anchor event — q38) that nested loop is the
  * difference between seconds and hours at 100 TB.
  *
  * The rewrite recognizes the canonical band shape
  *
  * {{{  probe > anchor  AND  probe <= anchor + w  }}}
  *
  * (either bound may be strict or inclusive; flipped comparisons and
  * commuted `w + anchor` are normalized; `anchor` and `probe` are
  * deterministic integral expressions from opposite join sides; `w` a
  * positive integral literal) and rewrites
  *
  * {{{
  *   Join(L, R, Inner, band)
  *     ⇒ Project(out,
  *         Join(Expand(L ± bin, bin ∈ {⌊a/w⌋, ⌊a/w⌋+1}),
  *              Project(R + bin = ⌊b/w⌋),
  *              Inner, bin_L = bin_R AND band))
  * }}}
  *
  * Any pair satisfying the band has `b ∈ (a, a+w]`, hence
  * `⌊b/w⌋ ∈ {⌊a/w⌋, ⌊a/w⌋+1}` — the two bins the anchor side is
  * expanded to — so the equi-join on bin loses no matches; each
  * surviving pair matches on exactly one bin value, so it duplicates
  * none; and the full original condition is re-applied, so extra
  * candidates from bucket co-residency are filtered exactly as
  * before. Results are identical to the naive plan, row for row.
  *
  * What the physical planner then does with it: the bin equality is
  * picked up by `ExtractEquiJoinKeys`, so the join becomes a
  * shuffled hash / sort-merge join partitioned by bin — candidate
  * pairs are bounded by per-bin occupancy (data density × w), not
  * |L|·|R|, and both sides distribute across the cluster instead of
  * one side being broadcast whole. Binning is floored division
  * ([[graft.functions.FloorDiv]], exact `Math.floorDiv` — no double
  * detour, correct tiling across negative values).
  *
  * Scope guards (all bail to the untouched join):
  *  - only `Inner` joins (outer variants change null-extension rows);
  *  - no existing cross-side equality conjunct (Spark already plans
  *    those as hash joins — the band stays a cheap post-filter);
  *  - both band expressions deterministic, integral (int/long), each
  *    referencing exactly one side;
  *  - fires once: the rewritten join HAS an equality conjunct, which
  *    the previous guard sees on the optimizer's next fixed-point
  *    pass.
  *
  * Installed by [[graft.functions.GraftExtensions]]
  * (`spark.sql.extensions=graft.functions.GraftExtensions`). Gated by
  * `spark.graft.rangeJoinBinning` (default true) so the naive plan
  * stays one conf flip away for A/B checks — RangeJoinBinningSpec
  * pins that both plans return identical rows.
  */
object RangeJoinBinning extends Rule[LogicalPlan] with PredicateHelper {

  val ConfKey = "spark.graft.rangeJoinBinning"
  private val BinName = "__graft_band_bin"

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.getConfString(ConfKey, "true").toBoolean) plan
    else plan.transformUp {
      case j @ Join(_, _, Inner, Some(_), _) => rewrite(j).getOrElse(j)
    }

  /** `probe ∈ (anchor, anchor + width]` modulo bound strictness. */
  private case class Band(anchor: Expression, probe: Expression, width: Long)

  private def rewrite(j: Join): Option[LogicalPlan] = {
    val cond = j.condition.get
    val conjuncts = splitConjunctivePredicates(cond)

    def sideOf(e: Expression): Option[Boolean] =
      if (e.references.isEmpty || !e.deterministic) None
      else if (e.references.subsetOf(j.left.outputSet)) Some(true)
      else if (e.references.subsetOf(j.right.outputSet)) Some(false)
      else None

    def integral(e: Expression): Boolean =
      e.dataType == LongType || e.dataType == IntegerType

    def litValue(e: Expression): Option[Long] = e match {
      case Literal(v, LongType) => Some(v.asInstanceOf[Long])
      case Literal(v, IntegerType) => Some(v.asInstanceOf[Int].toLong)
      case _ => None
    }

    // A cross-side equality conjunct means Spark already has an
    // equi-join: leave the plan alone.
    val hasEquiKey = conjuncts.exists {
      case EqualTo(l, r) =>
        (sideOf(l), sideOf(r)) match {
          case (Some(a), Some(b)) => a != b
          case _ => false
        }
      case EqualNullSafe(l, r) =>
        (sideOf(l), sideOf(r)) match {
          case (Some(a), Some(b)) => a != b
          case _ => false
        }
      case _ => false
    }
    if (hasEquiKey) return None
    if ((j.left.output ++ j.right.output).exists(_.name.startsWith(BinName)))
      return None

    // "probe above anchor": b > a | b >= a | a < b | a <= b.
    val lowers: Seq[(Expression, Expression)] = conjuncts.collect {
      case GreaterThan(b, a) => (a, b)
      case GreaterThanOrEqual(b, a) => (a, b)
      case LessThan(a, b) => (a, b)
      case LessThanOrEqual(a, b) => (a, b)
    }
    // "probe at most anchor + w": b <= a + w and its three mirrors.
    val uppers: Seq[(Expression, Expression, Long)] = conjuncts.collect {
      case LessThanOrEqual(b, Add(x, y, _)) => (b, x, y)
      case LessThan(b, Add(x, y, _)) => (b, x, y)
      case GreaterThanOrEqual(Add(x, y, _), b) => (b, x, y)
      case GreaterThan(Add(x, y, _), b) => (b, x, y)
    }.flatMap { case (b, x, y) =>
      litValue(y).map(w => (x, b, w))
        .orElse(litValue(x).map(w => (y, b, w)))
    }

    val band = uppers.collectFirst {
      case (a, b, w)
          if w > 0 && integral(a) && integral(b) &&
            lowers.exists(l =>
              l._1.semanticEquals(a) && l._2.semanticEquals(b)) &&
            (for (sa <- sideOf(a); sb <- sideOf(b)) yield sa != sb)
              .contains(true) =>
        Band(a, b, w)
    }

    band.map { case Band(anchor, probe, width) =>
      val anchorOnLeft = sideOf(anchor).get
      val wLit = Literal(width)
      def binOf(e: Expression): Expression = {
        val x = if (e.dataType == LongType) e else Cast(e, LongType)
        FloorDiv(x, wLit)
      }

      // Anchor side: each row covers its own bin and the next one.
      val anchorPlan = if (anchorOnLeft) j.left else j.right
      val binBase = binOf(anchor)
      val binA = AttributeReference(BinName + "_a", LongType,
        nullable = true)()
      val expanded = Expand(
        Seq(anchorPlan.output :+ binBase,
          anchorPlan.output :+ new Add(binBase, Literal(1L))),
        anchorPlan.output :+ binA,
        anchorPlan)

      // Probe side: exactly one bin per row.
      val probePlan = if (anchorOnLeft) j.right else j.left
      val binPAlias = Alias(binOf(probe), BinName + "_p")()
      val projected = Project(probePlan.output :+ binPAlias, probePlan)
      val binP = binPAlias.toAttribute

      val (newLeft, newRight) =
        if (anchorOnLeft) (expanded, projected) else (projected, expanded)
      val binned = Join(newLeft, newRight, Inner,
        Some(And(EqualTo(binA, binP), cond)), j.hint)
      Project(j.output, binned)
    }
  }
}
