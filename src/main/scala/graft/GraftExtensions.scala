package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.GraftFunctions

/** The one place the engine is installed into a session: every entry of
  * [[GraftFunctions.builders]] under its SQL name, and the
  * [[graft.plans.AsOfJoinStrategy]] that plans `AsOfJoinNode` as the
  * co-partitioned sort-merge `AsOfJoinExec`. [[GraftSession.builder]]
  * applies it to every session it builds; on a cluster where users only
  * touch SQL, `spark.sql.extensions=graft.GraftExtensions` does the same.
  *
  * The DataFrame API does not depend on it: the `GraftFunctions` column
  * helpers build their expressions directly.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, build) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", null, name, s"$name(...) - graft native function", ""),
        build))
    }
    ext.injectPlannerStrategy(_ => new graft.plans.AsOfJoinStrategy)
  }
}
