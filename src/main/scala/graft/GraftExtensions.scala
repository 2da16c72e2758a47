package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session-extensions entry point: wires the engine's native function
  * kernels into ANY Spark session at construction time —
  *
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *   // or: SparkSession.builder().withExtensions(new GraftExtensions)
  *
  * so SQL users on a stock cluster get the full kernel surface without
  * any registration call of their own. The functions are the single table
  * [[graft.functions.expressions.sqlFunctions]]; `Sessions.local`
  * registers the same entries on programmatic sessions, and ExtensionsSpec
  * exercises this injection path on a stock session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(e.injectFunction)
}

object GraftExtensions {
  /** [[graft.functions.expressions.sqlFunctions]] in the function
    * registry's (identifier, info, builder) form. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    graft.functions.expressions.sqlFunctions.map { case (name, usage, build) =>
      (FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
          "", "", "", "", "", "", "scala_udf"),
        build)
    }
}
