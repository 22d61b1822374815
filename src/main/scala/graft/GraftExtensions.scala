package graft

import graft.functions.TextHashExprs
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Spark extensions entry point — the idiomatic deployment route for the
  * engine's native expressions:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * injects every function of [[graft.functions.TextHashExprs.sqlFunctions]]
  * into every session built with it ([[graft.Session]] builds every graft
  * session so), which makes [[graft.functions.TextHashExprs.register]] a
  * no-op there; that call registers the same list on a session built
  * without the extensions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    TextHashExprs.sqlFunctions.foreach { case (name, builder) =>
      ext.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name), builder))
    }
    // the DSv2 catalog's composed-read substitution: lake tables whose
    // snapshot the native file scan cannot represent (MOR delete debt,
    // rename/promotion history) read through the library's proven plan
    ext.injectResolutionRule(session => graft.sql.GraftComposedRead(session))
    // SQL UPDATE / MERGE INTO on graft tables: lowered onto the lake's
    // atomic merge-on-read commit (position mask + new-version append)
    ext.injectPlannerStrategy(session =>
      graft.sql.GraftRowLevelStrategy(session))
  }
}
