package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry
import org.apache.spark.sql.catalyst.expressions.Literal
import org.scalatest.funsuite.AnyFunSuite

/** Exercises the extensions entry point WITHOUT building a session:
  * applying the class to a SparkSessionExtensions and materialising its
  * registry must yield a working vec_dot — the same wiring
  * `spark.sql.extensions=graft.GraftExtensions` (or
  * builder.withExtensions) performs at session build. A session-based
  * variant would have to clear/restore the JVM-global default session,
  * racing concurrently-running suites that share TestSession. The name
  * comparison with `SqlSurface.register` uses a `newSession()` of the
  * shared session, so its registry stays untouched. */
class GraftExtensionsSpec extends AnyFunSuite {

  test("GraftExtensions injects vec_dot into the session function registry") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val registry = org.apache.spark.sql.ExtensionsTestShim
      .registerFunctions(ext, new SimpleFunctionRegistry)

    val builder = registry.lookupFunctionBuilder(FunctionIdentifier("vec_dot"))
    assert(builder.isDefined, "vec_dot not registered")

    // the composed SQL surface is injected alongside the natives
    for (name <- Seq("graft_token_count", "graft_is_quality", "vec_cosine",
        "graft_split_label"))
      assert(registry.lookupFunctionBuilder(FunctionIdentifier(name)).isDefined,
        s"$name not registered")

    val expr = builder.get(Seq(
      Literal.create(Seq(1.0f, 2.0f), org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)),
      Literal.create(Seq(3.0, 4.0), org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))))
    assert(expr.isInstanceOf[graft.functions.VecDot])
    assert(expr.eval(null) == 11.0)

    // one table: the extension resolves exactly the names SqlSurface.register registers
    val session = TestSession.spark.newSession()
    val before = session.sessionState.functionRegistry.listFunction().toSet
    graft.functions.SqlSurface.register(session)
    val registered = (session.sessionState.functionRegistry.listFunction().toSet -- before)
      .map(_.funcName)
    val injected = registry.listFunction().map(_.funcName).toSet
    assert(injected == registered)
    assert(!injected.contains("vec_dot_f") && !registered.contains("vec_dot_f"))
  }
}
