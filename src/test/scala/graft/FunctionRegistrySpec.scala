package graft

import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry
import org.apache.spark.sql.graftx.GraftExpressions
import org.scalatest.funsuite.AnyFunSuite

/** graft has one SQL function table: every function
  * `Graft.registerFunctions` registers must also resolve in a session
  * that only has the `spark.sql.extensions` hook — a name registered
  * one way and not the other is registry drift.
  */
class FunctionRegistrySpec extends AnyFunSuite {
  import SharedSpark.spark

  test("every registerAll function resolves in an extension-only session") {
    val reg = new SimpleFunctionRegistry
    GraftExpressions.registerFunctions(reg)
    val names = reg.listFunction().map(_.funcName)
    assert(names.contains("hilbert2") && names.contains("ngram_hashes") &&
      names.contains("sorted_long_intersect_size"))
    val fresh = spark.newSession() // extension only: registerAll never ran here
    val missing = names.filterNot(fresh.catalog.functionExists).sorted
    assert(missing.isEmpty, s"registered but not injected by the extension: $missing")
    assert(fresh.sql("SELECT sorted_long_intersect_size(array(1L, 3L), array(3L))")
      .head().getInt(0) == 1)
  }
}
