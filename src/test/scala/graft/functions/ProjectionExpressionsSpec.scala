package graft.functions

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

class ProjectionExpressionsSpec extends SparkSpecBase {
  import spark.implicits._

  // ---- JlProjectExpr -------------------------------------------------------

  test("jlProject equals the unrolled element_at signed sum exactly (float and double)") {
    val signs: Seq[Seq[Long]] = Seq(
      Seq(1L, -1L, 1L, 1L), Seq(-1L, -1L, 1L, -1L), Seq(1L, 1L, 1L, 1L))
    val rows = (0L until 40L).map(i =>
      (i, Array.tabulate(4)(d => ((i * 31 + d * 17) % 19).toFloat / 7f - 1.3f)))
    val df = rows.toDF("id", "v").repartition(3)
    // the literal form this kernel replaced
    val quantized = transform(col("v"), x => floor(x.cast("double") * lit(1000000.0)).cast("long"))
    val legacy = signs.map { row =>
      row.zipWithIndex.map { case (s, i) =>
        val term = element_at(col("__q"), i + 1)
        if (s > 0) term else -term
      }.reduce(_ + _)
    }
    val both = df.withColumn("__q", quantized)
      .select(col("id"),
        JlProjectExpr.jlProject(col("v"), signs).as("k"),
        array(legacy: _*).as("g"))
      .collect().map(r => r.getLong(0) -> ((r.getSeq[Long](1), r.getSeq[Long](2)))).toMap
    assert(both.nonEmpty && both.values.forall { case (k, g) => k == g })
    // double-typed input projects identically
    val dd = df.select(col("id"), col("v").cast("array<double>").as("v"))
    val kd = dd.select(col("id"), JlProjectExpr.jlProject(col("v"), signs).as("k"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(kd == both.map { case (id, (k, _)) => id -> k })
  }

  test("jlProject: interpreted equals codegen; null and short vecs yield null") {
    val signs = Seq(Seq(1L, -1L), Seq(-1L, 1L))
    val df = Seq(
      (1L, Array(0.5f, -0.25f)),
      (2L, null.asInstanceOf[Array[Float]]),
      (3L, Array(0.125f)) // shorter than inDim
    ).toDF("id", "v").repartition(2)
    def run(codegen: String) = {
      spark.conf.set("spark.sql.codegen.wholeStage", codegen)
      try df.select(col("id"), JlProjectExpr.jlProject(col("v"), signs).as("p"))
        .collect().map(r => r.getLong(0) -> Option(r.get(1)).map(_ => r.getSeq[Long](1))).toMap
      finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
    val a = run("true"); val b = run("false")
    assert(a == b)
    assert(a(1L).contains(Seq(500000L - (-250000L), -500000L + (-250000L))))
    assert(a(2L).isEmpty && a(3L).isEmpty)
  }

  test("randomProjection stays inside whole-stage codegen at the q167 model shape") {
    val emb = (0L until 500L).map(i =>
      (i, Array.tabulate(64)(d => ((i * 31 + d * 17) % 19).toFloat / 19f))).toDF("vec_id", "v")
    val plan = VectorFunctions.randomProjection(emb.repartition(4), "v", inDim = 64, outDim = 16)
    assert(plan.collect().forall(_.getSeq[Long](2).length == 16))
    val executed = plan.queryExecution.executedPlan.toString
    assert(executed.linesIterator.exists(l =>
      l.contains("jl_project") && l.trim.startsWith("+- *(")), executed.take(800))
  }

  // ---- SrpSignExpr ---------------------------------------------------------

  test("srpSign equals the when(vec_dot >= 0) power sum bitwise") {
    val planes: Seq[Seq[Double]] = (0 until 7).map(b =>
      (0 until 5).map(i => if (((b * 31 + i * 7) % 3) == 0) 1.0 else -1.0))
    val rows = (0L until 60L).map(i =>
      (i, Array.tabulate(5)(d => ((i * 13 + d * 11) % 23).toFloat / 11f - 1.0f)))
    val df = rows.toDF("id", "v").repartition(3)
    val legacy = planes.zipWithIndex.map { case (p, b) =>
      when(VecExpressions.vecDot(col("v"), VecExpressions.litVec(p)) >= 0,
        lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    val both = df.select(
        SrpSignExpr.srpSign(col("v"), planes).as("k"), legacy.as("g"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(both.forall { case (k, g) => k == g })
    // zero vector: every dot is 0.0 >= 0 -> all bits set, both forms
    val z = Seq((1L, Array(0f, 0f, 0f, 0f, 0f))).toDF("id", "v")
      .select(SrpSignExpr.srpSign(col("v"), planes)).head().getLong(0)
    assert(z == (1L << 7) - 1)
  }

  test("srpSign: interpreted equals codegen, null passes through") {
    val planes = Seq(Seq(1.0, -1.0), Seq(-1.0, -1.0))
    val df = Seq((1L, Array(0.5f, 0.1f)), (2L, null.asInstanceOf[Array[Float]]))
      .toDF("id", "v").repartition(2)
    def run(codegen: String) = {
      spark.conf.set("spark.sql.codegen.wholeStage", codegen)
      try df.select(col("id"), SrpSignExpr.srpSign(col("v"), planes).as("s"))
        .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
      finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
    val a = run("true"); val b = run("false")
    assert(a == b)
    assert(a(1L).contains(1L)) // dot0 = 0.4 >= 0; dot1 = -0.6 < 0
    assert(a(2L).isEmpty)
  }

  // ---- SignBitsExpr --------------------------------------------------------

  test("signBits equals the when(2*s > n) power-sum chain, including null sums") {
    val df = Seq[(Long, Option[Long], Long, Long)](
      (10L, Some(6L), 5L, 0L),  // bits: 1 (12>10), 0, 0
      (4L, Some(2L), 4L, 3L),   // 0 (4=4), 1 (8>4), 1 (6>4)
      (3L, None, 2L, 1L)        // null sum -> bit 0; 4>3 -> 1; 2<3 -> 0
    ).toDF("n", "s0", "s1", "s2").repartition(2)
    val sums = Seq(col("s0"), col("s1"), col("s2"))
    val legacy = sums.zipWithIndex.map { case (s, b) =>
      when(s * 2L > col("n"), lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    def run(codegen: String) = {
      spark.conf.set("spark.sql.codegen.wholeStage", codegen)
      try df.select(SignBitsExpr.signBits(col("n"), sums).as("k"), legacy.as("g"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
    for (mode <- Seq("true", "false"); (k, g) <- run(mode)) assert(k == g, s"mode=$mode")
  }

  test("simhash (SignBits assembly) matches a driver-side replica exactly") {
    // end-to-end pin: the new sum+assembly shape reproduces per-token
    // majority voting bit for bit
    val docs = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "alpha beta gamma alpha"),
      (3L, "delta epsilon zeta eta theta")).toDF("doc_id", "text")
    val got = graft.ops.Dedup.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) == got(2L), "identical docs must hash identically")
    assert(got(1L) != got(3L))
    // replica: md5-based 60-bit token hashes, per-bit majority
    def md5Long(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    def replica(text: String): Long = {
      val hs = text.split("\\s+").filter(_.nonEmpty).map(md5Long)
      (0 until graft.ops.Dedup.SimhashBits).map { b =>
        val ones = hs.count(h => ((h >> b) & 1L) == 1L)
        if (2 * ones > hs.length) 1L << b else 0L
      }.sum
    }
    assert(got(1L) == replica("alpha beta gamma alpha"))
    assert(got(3L) == replica("delta epsilon zeta eta theta"))
  }
}
