package graft

import org.apache.spark.sql.SparkSession
import graft.plans.{GraftExtensions, GraftStrategy}

/** Graft's functions and planner strategy reach every session through
  * the `SparkSessionExtensionsProvider` service file, with no graft
  * call. The shared session comes from a bare builder, which is how the
  * benchmark harness and `Verify` build theirs. */
class SessionExtensionSpec extends SparkTestBase {

  def checkSession(label: String, s: SparkSession): Unit = {
    val names = GraftExtensions.injections.map(_._1.funcName)
    val missing = names.filterNot(s.catalog.functionExists)
    assert(names.nonEmpty && missing.isEmpty, s"$label: unresolved ${missing.mkString(", ")}")
    assert(s.sessionState.planner.strategies.head == GraftStrategy,
      s"$label: GraftStrategy must plan first")
    assert(s.experimental.extraOptimizations.isEmpty && s.experimental.extraStrategies.isEmpty,
      s"$label: nothing is registered at runtime")
    assert(s.sql("SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))").head().getDouble(0) == 11.0)
  }

  test("the provider reaches the bare-builder session and a new session") {
    checkSession("shared session", spark)
    checkSession("newSession()", spark.newSession())
  }
}
