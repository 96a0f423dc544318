package graft.functions

import graft.SparkSpecBase
import graft.core.Tables
import org.apache.spark.sql.functions._

class VecExpressionsSpec extends SparkSpecBase {
  import spark.implicits._

  test("native vec_dot matches the HOF fold bit-for-bit on real embeddings") {
    val emb = Tables.embeddings(spark, sf0001).limit(100)
    val pairs = emb.select($"vec_id".as("a_id"), $"embedding".as("a"))
      .crossJoin(emb.select($"vec_id".as("b_id"), $"embedding".as("b")))
      .filter($"a_id" < $"b_id").limit(500)
    val diff = pairs.select(
      VecExpressions.vecDot($"a", $"b").as("native"),
      VectorFunctions.dot($"a", $"b").as("hof"))
      .filter($"native" =!= $"hof")
    assert(diff.count() == 0)
  }

  test("vec_dot stays inside whole-stage codegen") {
    val emb = Tables.embeddings(spark, sf0001).limit(10)
    val plan = emb.select(VecExpressions.vecDot($"embedding", $"embedding").as("d"))
      .queryExecution.executedPlan.toString
    // the "*(n)" prefix marks a WholeStageCodegen stage containing the
    // projection with vec_dot
    assert(plan.contains("*(1) Project [vec_dot"), plan)
  }

  test("mixed float/double element types (corpus vs centroid model)") {
    val df = Seq((Array(1.0f, 2.0f), Array(0.5, 0.25))).toDF("f", "d")
    val out = df.select(
      VecExpressions.vecDot($"f", $"d").as("fd"),
      VecExpressions.vecDot($"d", $"f").as("df"),
      VecExpressions.vecDot($"d", $"d").as("dd")).head()
    assert(out.getDouble(0) == 1.0)
    assert(out.getDouble(1) == 1.0)
    assert(out.getDouble(2) == 0.3125)
  }

  test("null and ragged inputs") {
    val df = Seq(
      (Some(Array(1.0f, 2.0f)), Some(Array(3.0f, 4.0f))),
      (None, Some(Array(1.0f))),
      (Some(Array(1.0f, 2.0f, 9.0f)), Some(Array(1.0f, 1.0f)))).toDF("a", "b")
    val out = df.select(VecExpressions.vecDot($"a", $"b").as("d"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(out(0).contains(11.0))
    assert(out(1).isEmpty)       // null input -> null
    assert(out(2).contains(3.0)) // ragged: min-length loop
  }

  test("vecDot evaluates on a session that registered no function") {
    val fresh = spark.newSession()
    val df = fresh.createDataFrame(Seq((Array(1.0f, 2.0f), Array(3.0, 4.0)))).toDF("a", "b")
    assert(df.select(VecExpressions.vecDot($"a", $"b")).head().getDouble(0) == 11.0)
  }

  test("a caller's own vec_dot survives the vector operators") {
    val s = spark.newSession()
    s.udf.register("vec_dot", (_: Seq[Double], _: Seq[Double]) => -1.0)
    def callers(): Double = s.sql("SELECT vec_dot(array(1D), array(1D))").head().getDouble(0)
    assert(callers() == -1.0)
    val vecs = s.createDataFrame(Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.99f, 0.1f)), (3L, Array(0.0f, 1.0f))))
      .toDF("id", "v")
    assert(VectorFunctions.bruteForceTopK(vecs, vecs, "id", "v", k = 1).count() == 3)
    assert(callers() == -1.0)
    graft.ops.Dedup.cosineNearDups(vecs, "id", "v", minCosine = 0.9).collect()
    assert(callers() == -1.0)
  }
}
