package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.GraftFunctions

/** The library's `SparkSessionExtensions` entry point: sessions built
  * with `.withExtensions(new GraftExtensions)` (or
  * `spark.sql.extensions=graft.GraftExtensions`) get, without manual
  * registration, every graft custom function (every entry of
  * `GraftFunctions.builders`, the same list `Tables.register` installs
  * into an existing session) and the `AnswerFromStats` optimizer rule —
  * the standard way a Spark-native library ships engine extensions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, b) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), b))
    }
    // Optimizer rule: Hive StatsOptimizer analog — COUNT/MIN/MAX over an
    // ANALYZEd catalog table answered from stats, no scan (SURVEY.md
    // §4.1). Other Hive rewrites are Catalyst built-ins (SURVEY.md §4);
    // a cosine_sim(x,x)→1.0 fold was rejected because zero-norm/NaN
    // vectors evaluate to null/NaN, not 1.0 — a rule must preserve
    // semantics exactly or not exist.
    e.injectOptimizerRule(_ => graft.plans.AnswerFromStats)
  }
}
