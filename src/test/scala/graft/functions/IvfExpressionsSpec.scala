package graft.functions

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

class IvfExpressionsSpec extends SparkSpecBase {
  import spark.implicits._

  // 4 unit-axis centroids in 4-d, ids deliberately non-contiguous
  private val model: Seq[(Int, Seq[Double])] = Seq(
    2 -> Seq(1.0, 0.0, 0.0, 0.0),
    5 -> Seq(0.0, 1.0, 0.0, 0.0),
    7 -> Seq(0.0, 0.0, 1.0, 0.0),
    9 -> Seq(0.0, 0.0, 0.0, 1.0))

  test("ivfProbes: cosine-desc order, id-asc ties, over-probe clamps, float==double") {
    val vecsF = Seq(
      (1L, Array(0.9f, 0.3f, 0.2f, 0.1f)),
      (2L, Array(0.0f, 0.5f, 0.5f, 0.0f)), // exact tie between ids 5 and 7
      (3L, Array(-1.0f, -0.9f, 0.0f, 0.2f))).toDF("id", "v")
    val got = vecsF.select(col("id"),
        IvfProbesExpr.ivfProbes(col("v"), model, 2).as("p"),
        IvfProbesExpr.ivfProbes(col("v"), model, 99).as("all"))
      .collect().map(r => r.getLong(0) -> ((r.getSeq[Int](1), r.getSeq[Int](2)))).toMap
    assert(got(1L)._1 == Seq(2, 5))
    assert(got(2L)._1 == Seq(5, 7)) // tie -> smaller id first
    assert(got(3L)._1 == Seq(9, 7))
    assert(got(1L)._2 == Seq(2, 5, 7, 9)) // over-probe = full id ranking
    // double input ranks identically
    val vecsD = vecsF.select(col("id"), col("v").cast("array<double>").as("v"))
    val gotD = vecsD.select(col("id"), IvfProbesExpr.ivfProbes(col("v"), model, 2).as("p"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(gotD == got.map { case (k, v) => k -> v._1 })
  }

  test("ivfProbes: interpreted eval equals codegen, null passes through") {
    val df = Seq((1L, Array(0.3f, 0.9f, 0.1f, 0.0f)), (2L, null.asInstanceOf[Array[Float]]))
      .toDF("id", "v")
    def run(codegen: String) = {
      spark.conf.set("spark.sql.codegen.wholeStage", codegen)
      try df.select(col("id"), IvfProbesExpr.ivfProbes(col("v"), model, 3).as("p"))
        .collect().map(r => r.getLong(0) -> Option(r.get(1)).map(_ => r.getSeq[Int](1))).toMap
      finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
    val a = run("true"); val b = run("false")
    assert(a == b)
    assert(a(1L).contains(Seq(5, 2, 7)))
    assert(a(2L).isEmpty)
  }

  test("ivfBestScore equals the greatest-of-divided-cosines form bitwise") {
    val rows = (0L until 50L).map(i =>
      (i, Array.tabulate(4)(d => ((i * 31 + d * 17) % 19).toFloat / 10f - 0.9f)))
    val df = rows.toDF("id", "v")
    // the literal form this kernel replaced: per-centroid
    // (vecDot/norm)/||v||, greatest over centroids
    def l2(c: org.apache.spark.sql.Column) =
      sqrt(aggregate(transform(c, x => x.cast("double") * x.cast("double")),
        lit(0.0), (acc, x) => acc + x))
    val legacy = greatest(model.map { case (_, cv) =>
      val norm = math.sqrt(cv.foldLeft(0.0)((a, x) => a + x * x))
      (VecExpressions.vecDot(col("v"), VecExpressions.litVec(cv)) / lit(norm)) / l2(col("v"))
    }: _*)
    val both = df.select(col("id"),
        (IvfBestScoreExpr.ivfBestScore(col("v"), model) / l2(col("v"))).as("k"),
        legacy.as("g"))
      .collect().map(r => (r.getDouble(1), r.getDouble(2)))
    assert(both.forall { case (k, g) =>
      java.lang.Double.doubleToRawLongBits(k) == java.lang.Double.doubleToRawLongBits(g) })
  }

  test("kernel plans stay inside whole-stage codegen at C past the inline-literal cliff") {
    // 128 centroids x 32 dims — the literal greatest/sort_array form
    // leaves codegen well below this shape; the kernel must not
    val big = (0 until 128).map(i =>
      i -> Seq.tabulate(32)(d => ((i * 13 + d * 7) % 23).toDouble / 23.0))
    val df = (0L until 1000L).map(i =>
      (i, Array.tabulate(32)(d => ((i * 31 + d * 17) % 19).toFloat / 19f))).toDF("id", "v")
    // repartition keeps ConvertToLocalRelation from eagerly evaluating
    // the projection driver-side (which would leave no plan to inspect)
    val plan = df.repartition(4).select(IvfProbesExpr.ivfProbes(col("v"), big, 4).as("p"))
    assert(plan.collect().forall(_.getSeq[Int](0).nonEmpty))
    // execution above finalizes the AQE plan on THIS Dataset
    val executed = plan.queryExecution.executedPlan.toString
    assert(executed.linesIterator.exists(l =>
      l.contains("ivf_probes") && l.trim.startsWith("+- *(")), executed.take(800))
  }
}
