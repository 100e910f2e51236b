package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry

/** Lives in the sql package for `SparkSessionExtensions.registerFunctions`
  * (private[sql]) — the step a session built with
  * `spark.sql.extensions=graft.plans.GraftExtensions` runs on its registry. */
class GraftExtensionsSpec extends graft.SparkSpec {

  test("GraftExtensions injects every function the register helpers add") {
    graft.plans.VectorExpressions.register(spark)
    graft.plans.TextExpressions.register(spark)
    val session = spark.sessionState.functionRegistry
    val ours = session.listFunction().filter(id =>
      session.lookupFunction(id).exists(_.getClassName.startsWith("graft.plans.")))
    assert(ours.size == 13, s"expected 13 graft functions, got $ours")

    val ext = new SparkSessionExtensions
    new graft.plans.GraftExtensions().apply(ext)
    val injected = ext.registerFunctions(FunctionRegistry.builtin.clone())
    ours.foreach { id =>
      assert(injected.lookupFunction(id).map(_.getClassName) ==
        session.lookupFunction(id).map(_.getClassName),
        s"${id.funcName} does not resolve through GraftExtensions")
    }
  }
}
