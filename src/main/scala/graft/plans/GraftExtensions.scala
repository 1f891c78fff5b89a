package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{CosineSim, DotProduct}

/** Session extension exposing graft's native expressions to SQL users:
  * {{{
  *   SparkSession.builder().withExtensions(new GraftExtensions)...
  *   spark.sql("SELECT graft_dot(a, b) FROM vectors")
  * }}}
  * (registered via `injectFunction`, the supported extension point — no
  * internal registry poking).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(e.injectFunction)
  }
}

object GraftExtensions {
  private val functions = Seq(
    (new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (exprs: Seq[Expression]) => DotProduct(exprs.head, exprs(1))
        : Expression),
    (new FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSim].getName, "graft_cosine"),
      (exprs: Seq[Expression]) => CosineSim(exprs.head, exprs(1))
        : Expression))

  /** Register directly on a session, new or existing — `getOrCreate`
    * silently ignores `withExtensions` when it returns a pre-existing
    * session, so [[graft.Engine.session]] installs graft this way only.
    * Idempotent.
    */
  def ensureRegistered(spark: org.apache.spark.sql.SparkSession): Unit = {
    functions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
  }
}
