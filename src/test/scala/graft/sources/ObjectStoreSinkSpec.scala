package graft.sources

import graft.SparkSpecBase
import java.nio.file.Files

/** K5 object-store sink (okta-sync/okta_sync_utils.py:398-433): the
  * Hadoop-FS copy is exercised through file:// URIs — the same code
  * path a gs://-configured cluster runs, minus the store's own client. */
class ObjectStoreSinkSpec extends SparkSpecBase {
  import spark.implicits._

  test("uploadFile copies to the destination URI, overwriting like the reference") {
    val src = tempDir("graft-oss-src")
    val f = src.resolve("report.csv")
    Files.write(f, "a,b\n1,2\n".getBytes)
    val bucket = tempDir("graft-oss-bucket")
    val dest = s"file://$bucket/exports/report.csv"

    val out = ObjectStoreSink.uploadFile(spark, f.toString, dest)
    assert(new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$bucket/exports/report.csv"))) == "a,b\n1,2\n")
    assert(out.toUri.getScheme == "file")

    // second upload overwrites (blob.upload_from_filename semantics)
    Files.write(f, "a,b\n9,9\n".getBytes)
    ObjectStoreSink.uploadFile(spark, f.toString, dest)
    assert(new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$bucket/exports/report.csv"))) == "a,b\n9,9\n")
  }

  test("uploadFile refuses a directory and a missing source") {
    val dir = tempDir("graft-oss-dir")
    val bucket = tempDir("graft-oss-bucket2")
    intercept[IllegalArgumentException] {
      ObjectStoreSink.uploadFile(spark, dir.toString, s"file://$bucket/x")
    }
    intercept[java.io.FileNotFoundException] {
      ObjectStoreSink.uploadFile(spark, dir.resolve("nope").toString, s"file://$bucket/x")
    }
  }

  test("uploadResultDir ships data files of a written result, skipping job markers") {
    val out = tempDir("graft-oss-result").toString + "/res"
    Seq(1, 2, 3).toDF("x").coalesce(1).write.parquet(out)
    val bucket = tempDir("graft-oss-bucket3")

    val shipped = ObjectStoreSink.uploadResultDir(spark, out, s"file://$bucket/res")
    assert(shipped.nonEmpty)
    assert(shipped.forall(p => !p.getName.startsWith("_") && !p.getName.startsWith(".")))
    // the shipped copy is a readable table equal to the source
    assert(spark.read.parquet(s"$bucket/res").as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
  }

  test("uploadResultDir recurses partitioned layouts and refuses an empty result") {
    val out = tempDir("graft-oss-part").toString + "/res"
    Seq((1, "a"), (2, "b")).toDF("x", "p").write.partitionBy("p").parquet(out)
    val bucket = tempDir("graft-oss-bucket4")
    val shipped = ObjectStoreSink.uploadResultDir(spark, out, s"file://$bucket/res")
    assert(shipped.nonEmpty) // partition subdir files found, markers skipped
    val back = spark.read.parquet(s"$bucket/res")
    assert(back.selectExpr("x").as[Int].collect().sorted.toSeq == Seq(1, 2))
    assert(back.columns.contains("p")) // partition dirs preserved in relative paths

    // a dir holding only markers must throw, not silently ship nothing
    val empty = tempDir("graft-oss-empty")
    Files.write(empty.resolve("_SUCCESS"), Array.empty[Byte])
    intercept[java.io.IOException] {
      ObjectStoreSink.uploadResultDir(spark, empty.toString, s"file://$bucket/none")
    }
  }
}
