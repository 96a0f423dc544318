package graft.ops

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

class ModelStoreSpec extends SparkSpecBase {

  private def freshRoot() =
    tempDir("graft-modelstore").toString

  test("PQ model round-trips bit-exactly and the reloaded model encodes identically") {
    val emb = graft.core.Tables.table(spark, sf0001, "embeddings")
    val model = graft.functions.ProductQuantizer.train(
      emb, "vec_id", "embedding", m = 4, subDim = 16, k = 8, iters = 2)
    val root = freshRoot()
    ModelStore.publishPqModel(spark, root, "pq_main", model)
    val loaded = ModelStore.loadPqModel(spark, root, "pq_main")
    assert(loaded == model, "save -> load must reconstruct the exact model")
    def codes(m: graft.functions.PqModel) =
      graft.functions.ProductQuantizer.encode(emb, "vec_id", "embedding", m)
        .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
    assert(codes(loaded) == codes(model))
  }

  test("republish advances the generation; the prior model stays readable at its seq") {
    val emb = graft.core.Tables.table(spark, sf0001, "embeddings")
    val m1 = graft.functions.ProductQuantizer.train(
      emb, "vec_id", "embedding", m = 4, subDim = 16, k = 4, iters = 1)
    val m2 = graft.functions.ProductQuantizer.train(
      emb, "vec_id", "embedding", m = 4, subDim = 16, k = 8, iters = 2)
    val root = freshRoot()
    ModelStore.publishPqModel(spark, root, "pq_main", m1)
    ModelStore.publishPqModel(spark, root, "pq_main", m2)
    assert(ModelStore.loadPqModel(spark, root, "pq_main") == m2)
    val (seq, _) = ManifestSwap.currentMapping(spark, root)
    assert(ModelStore.pqFromDf(
      ManifestSwap.readAt(spark, root, "pq_main", seq - 1)) == m1, "rollback path")
  }

  test("one manifest carries codebooks AND the coarse quantizer atomically") {
    val emb = graft.core.Tables.table(spark, sf0001, "embeddings")
    val pq = graft.functions.ProductQuantizer.train(
      emb, "vec_id", "embedding", m = 4, subDim = 16, k = 4, iters = 1)
    val cents = graft.functions.VectorFunctions.centroidsByLabel(emb, "label", "embedding")
    val root = freshRoot()
    val ok = ModelStore.publishModels(spark, root,
      Map("pq_main" -> pq), Map("coarse" -> cents))
    assert(ok.values.forall(identity))
    assert(ModelStore.loadPqModel(spark, root, "pq_main") == pq)
    val back = ManifestSwap.read(spark, root, "coarse")
    assert(back.count() == cents.count())
    // both artifacts behind ONE manifest — a reader can never mix
    val (_, mapping) = ManifestSwap.currentMapping(spark, root)
    assert(mapping.keySet == Set("pq_main", "coarse"))
  }

  test("inconsistent relations are refused loudly") {
    import spark.implicits._
    val mixed = Seq((4, 16, 0, 0, Seq(1L)), (2, 16, 0, 1, Seq(1L)))
      .toDF("m", "sub_dim", "s", "code", "cv")
    assertThrows[IllegalArgumentException](ModelStore.pqFromDf(mixed))
    val dup = Seq((1, 1, 0, 0, Seq(1L)), (1, 1, 0, 0, Seq(2L)))
      .toDF("m", "sub_dim", "s", "code", "cv")
    assertThrows[IllegalArgumentException](ModelStore.pqFromDf(dup))
    assertThrows[IllegalArgumentException](
      ModelStore.pqFromDf(mixed.limit(0)))
    // a declared subspace with NO rows must refuse, not become an
    // empty codebook that only fails at encode time (r14 advice)
    val gap = Seq((2, 16, 0, 0, Seq(1L)), (2, 16, 0, 1, Seq(2L)))
      .toDF("m", "sub_dim", "s", "code", "cv") // m=2 but only s=0 present
    assertThrows[IllegalArgumentException](ModelStore.pqFromDf(gap))
  }
}
