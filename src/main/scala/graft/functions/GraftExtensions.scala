package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL-surface registration for the engine's custom expressions, so
  * `spark.sql("SELECT graft_polyhash(text) ...")` works alongside the
  * Column API ([[GraftExpressions]]), plus the engine's optimizer
  * rule ([[graft.plans.RangeJoinBinning]] — band joins become binned
  * equi-joins instead of nested loops) and planner strategy
  * ([[graft.plans.GroupedTopKStrategy]]).
  *
  * One entry point, at session build time:
  * `spark.sql.extensions=graft.functions.GraftExtensions`, which
  * `graft.Runtime.session()` sets for every session in the engine.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.descriptors.foreach { case (ident, info, builder) =>
      ext.injectFunction((ident, info, builder))
    }
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinBinning)
    ext.injectPlannerStrategy(_ => graft.plans.GroupedTopKStrategy)
  }
}

object GraftExtensions {
  /** (identifier, info, builder) triple per function. */
  val descriptors: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_polyhash"),
      new ExpressionInfo(classOf[PolyHash].getName, "graft_polyhash"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_polyhash(str)")
        PolyHash(args.head)
      }),
    (FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_dot(a, b)")
        DotProduct(args.head, args(1))
      }),
    (FunctionIdentifier("graft_floordiv"),
      new ExpressionInfo(classOf[FloorDiv].getName, "graft_floordiv"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_floordiv(a, b)")
        FloorDiv(args.head, args(1))
      }),
    (FunctionIdentifier("graft_zorder"),
      new ExpressionInfo(classOf[ZOrder].getName, "graft_zorder"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_zorder(a, b)")
        ZOrder(args.head, args(1))
      }),
    (FunctionIdentifier("graft_bitmap_distinct"),
      new ExpressionInfo(classOf[BitmapDistinct].getName, "graft_bitmap_distinct"),
      (args: Seq[Expression]) => args match {
        // aggregate builders return the bare AggregateFunction; the
        // analyzer wraps it in an AggregateExpression at the use site
        case Seq(id) => BitmapDistinct(id, BitmapDistinct.DefaultMaxDomain)
        case Seq(id, org.apache.spark.sql.catalyst.expressions.Literal(m: Int, _)) =>
          BitmapDistinct(id, m)
        case _ => throw new IllegalArgumentException(
          "graft_bitmap_distinct(id[, maxDomain literal])")
      }),
  )
}
