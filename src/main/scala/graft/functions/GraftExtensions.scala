package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The engine's session recipe: its native SQL functions and the
  * band-join optimizer rule ([[graft.plans.BandJoinRewrite]]), installed
  * once, when a session is built. This is the only place either is
  * registered; no query registers a function or a rule, so what a
  * session resolves and how it optimizes do not depend on which queries
  * ran before.
  *
  * Every session `graft.GraftSession` builds carries it, and so does
  * every `newSession()` and streaming clone of one. A session built any
  * other way needs `spark.sql.extensions=graft.functions.GraftExtensions`:
  * without it, a query that calls a native function fails at analysis
  * with `UNRESOLVED_ROUTINE` naming the function, and band joins plan as
  * nested-loop joins.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, cls, build) =>
      e.injectFunction(
        (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    }
    e.injectOptimizerRule(_ => graft.plans.BandJoinRewrite)
  }
}

object GraftExtensions {
  /** A literal size argument, read once when the call is analyzed. */
  private def int(e: Expression): Int =
    e.eval(null).asInstanceOf[Number].intValue()

  /** (SQL name, expression class, builder) of every native function. */
  private val functions: Seq[(String, Class[_], Seq[Expression] => Expression)] =
    Seq(
      ("vec_dot", classOf[VecDot], a => VecDot(a(0), a(1))),
      ("winnow_sketch", classOf[WinnowSketch], a => WinnowSketch(a(0), int(a(1)))),
      ("gram_hashes", classOf[GramHashes], a => GramHashes(a(0), int(a(1)))),
      ("edit_dist_bounded", classOf[EditDistBounded],
        a => EditDistBounded(a(0), a(1), int(a(2)))),
      ("lcp_len", classOf[LcpLen], a => LcpLen(a(0), a(1), a(2), a(3))),
      ("topk_by", classOf[TopKBy],
        a => TopKBy(a(0), a(1), a(2)).toAggregateExpression()),
      ("heavy_hitters", classOf[HeavyHitters],
        a => HeavyHitters(a(0), a(1)).toAggregateExpression()))
}
