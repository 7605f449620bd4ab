package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graft.bridge
import graft.functions.BoundedTopK

/** SparkSessionExtensions entry point: makes graft's custom Catalyst
  * functions available to plain SQL users.
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * then `SELECT grp, explode(bounded_top_k(score, id, 10)) FROM t GROUP BY
  * grp` runs the k-heap TypedImperativeAggregate with map-side partial
  * aggregation — no window, no global sort (see
  * [[graft.functions.BoundedTopK]]).
  *
  * For an ALREADY-RUNNING session (extensions are builder-time only), use
  * [[GraftExtensions.register]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.boundedTopKFunction)
    ext.injectFunction(GraftExtensions.labelModeFunction)
  }
}

object GraftExtensions {

  /** (name, info, builder) for the SQL `bounded_top_k(score, id, k)`
    * aggregate; k must be a literal. The analyzer wraps the returned
    * AggregateFunction in an AggregateExpression automatically. */
  val boundedTopKFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("bounded_top_k"),
    new ExpressionInfo(classOf[BoundedTopK].getName, "bounded_top_k"),
    (args: Seq[Expression]) => {
      require(args.length == 3,
        s"bounded_top_k(score, id, k) takes 3 arguments, got ${args.length}")
      val k = args(2) match {
        case Literal(v: Int, _) => v
        case Literal(v: Long, _) => v.toInt
        case other => throw new IllegalArgumentException(
          s"bounded_top_k: k must be an integer literal, got $other")
      }
      BoundedTopK(args(0), args(1), k)
    })

  /** SQL `label_mode(label, is_self)`: struct(x = neighbor mode, x_old =
    * own label), over Spark's built-in `mode` and `max` (see
    * [[graft.functions.LabelMode]]); the returned expression's aggregates
    * are resolved by the analyzer like any other. */
  val labelModeFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("label_mode"),
    new ExpressionInfo(graft.functions.LabelMode.getClass.getName, "label_mode"),
    (args: Seq[Expression]) => {
      require(args.length == 2,
        s"label_mode(label, is_self) takes 2 arguments, got ${args.length}")
      bridge.eagerExpression(graft.functions.LabelMode.labelMode(
        bridge.column(args(0)), bridge.column(args(1))))
    })

  /** Register graft's SQL functions on an existing session (new sessions
    * should prefer the spark.sql.extensions config). */
  def register(spark: SparkSession): Unit = {
    Seq(boundedTopKFunction, labelModeFunction).foreach { case (id, info, builder) =>
      bridge.registerFunction(spark, id, info, builder)
    }
  }
}
