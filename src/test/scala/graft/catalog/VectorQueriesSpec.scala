package graft.catalog

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.SparkSpecBase
import graft.functions.ProductQuantizer
import org.apache.spark.sql.functions.col

class VectorQueriesSpec extends SparkSpecBase {

  test("the PQ model cache retrains when embeddings.parquet is rewritten in place") {
    val dir = tempDir("graft-pq-cache")
    val file = dir.resolve("embeddings.parquet")
    val staging = dir.resolve("staging").toString
    Files.copy(Paths.get(sf0001, "embeddings.parquet"), file)
    val before = VectorQueries.pqModelFor(spark, dir.toString)
    assert(VectorQueries.pqModelFor(spark, dir.toString) eq before, "an unchanged file retrained")

    // rewrite the file with a different corpus: every other vector
    spark.read.parquet(file.toString).filter(col("vec_id") % 2 === 0)
      .coalesce(1).write.parquet(staging)
    val part = Files.list(Paths.get(staging)).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.move(part, file, StandardCopyOption.REPLACE_EXISTING)

    val expected = ProductQuantizer.train(spark.read.parquet(file.toString),
      "vec_id", "embedding", m = 4, subDim = 16, k = 8, iters = 2)
    assert(expected != before, "the rewrite did not change the trained model")
    assert(VectorQueries.pqModelFor(spark, dir.toString) == expected,
      "a rewritten embeddings.parquet was served the stale model")
  }
}
