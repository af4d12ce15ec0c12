package graft

import graft.sql.ChFunctionRegistry
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}

/** Layout invariants of the function registry: each name is defined in
  * exactly one family module, no builder shadows a Spark built-in by
  * accident, and no round-named registry module comes back. */
class ChRegistryLayoutSpec extends SparkFunSuite {

  private val b: Seq[Expression] => Expression = _ => Literal(1)

  test("assembling the module sequences fails on a name defined twice") {
    val e = intercept[IllegalArgumentException] {
      ChFunctionRegistry.assemble(Seq(Seq("dup_fn" -> b), Seq("dup_fn" -> b, "solo_fn" -> b)))
    }
    assert(e.getMessage.contains("dup_fn"))
    assert(!e.getMessage.contains("solo_fn"))
    assert(ChFunctionRegistry.assemble(Seq(Seq("a" -> b), Seq("b" -> b))).keySet ==
      Set("a", "b"))
  }

  test("no builder name is a Spark built-in other than monthname") {
    // a built-in with CH-identical semantics resolves natively (parity
    // pinned in ChRegistrySpec); one whose semantics differ must be an
    // explicit override
    val collisions = ChFunctionRegistry.builders.keys.toSeq.sorted
      .filter(n => FunctionRegistry.builtin.functionExists(FunctionIdentifier(n)))
    assert(collisions == Seq("monthname"))
    assert(ChFunctionRegistry.overrideBuiltins == Set("monthname"))
  }

  test("no round-named registry module under graft/sql") {
    val dir = new java.io.File("src/main/scala/graft/sql")
    assert(dir.isDirectory, s"run from the project root (cwd ${new java.io.File(".").getAbsolutePath})")
    val roundNamed = dir.listFiles().map(_.getName)
      .filter(_.matches("ChRegistry(Tail\\d*|Ext|Misc)\\b.*")).sorted
    assert(roundNamed.isEmpty, s"round-named registry modules: ${roundNamed.mkString(", ")}")
  }
}
