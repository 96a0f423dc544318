package graft.ops

import graft.SparkSpecBase

class TableSwapSpec extends SparkSpecBase {
  import spark.implicits._

  test("stageAndSwap publishes atomically-by-rename and refuses empty overwrite") {
    val root = tempDir("graft-swap").toString
    val v1 = Seq(1, 2, 3).toDF("x")
    assert(TableSwap.stageAndSwap(spark, v1, root, "t"))
    assert(spark.read.parquet(s"$root/t").count() == 3)

    // publish v2 over v1
    val v2 = Seq(4, 5).toDF("x")
    assert(TableSwap.stageAndSwap(spark, v2, root, "t"))
    assert(spark.read.parquet(s"$root/t").count() == 2)

    // empty input must NOT clobber the existing table (okta guard)
    val empty = Seq.empty[Int].toDF("x")
    assert(!TableSwap.stageAndSwap(spark, empty, root, "t"))
    assert(spark.read.parquet(s"$root/t").count() == 2)
  }

  test("stageAndSwap sweeps its trash copy after a successful publish") {
    val root = tempDir("graft-swap-trash").toString
    assert(TableSwap.stageAndSwap(spark, Seq(1).toDF("x"), root, "t"))
    assert(TableSwap.stageAndSwap(spark, Seq(2, 3).toDF("x"), root, "t"))
    val trash = new java.io.File(s"$root/_trash")
    assert(!trash.exists() || trash.listFiles().isEmpty,
      "old copy must be deleted once the new table is live")
  }

  test("recoverSwap restores the newest trashed copy when a swap died between renames") {
    val root = tempDir("graft-swap-crash").toString
    assert(TableSwap.stageAndSwap(spark, Seq(1, 2, 3).toDF("x"), root, "t"))
    // simulate the crash window: the swap moved the live table to _trash
    // (step 1) and died before publishing staging (step 2)
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/_trash"))
    // an older abandoned copy that recovery must discard, not restore
    Seq(99).toDF("x").write.parquet(s"$root/_trash/t-0000000000000000001-aaaaaaaa")
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$root/t"),
      new org.apache.hadoop.fs.Path(s"$root/_trash/t-0000000000000000002-bbbbbbbb")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/t"))) // table is missing

    assert(TableSwap.recoverSwap(spark, root, "t"))
    assert(spark.read.parquet(s"$root/t").as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/_trash")).isEmpty,
      "older abandoned copies must be swept")

    // table present -> recovery is a no-op that only sweeps leftovers
    Seq(7).toDF("x").write.parquet(s"$root/_trash/t-0000000000000000003-cccccccc")
    assert(!TableSwap.recoverSwap(spark, root, "t"))
    assert(spark.read.parquet(s"$root/t").count() == 3)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/_trash")).isEmpty)
  }

  test("recoverSwap never touches a sibling table whose name extends the recovered one") {
    val root = tempDir("graft-swap-sibling").toString
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // "users-archive" died between renames; its trash entry is the ONLY copy
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/_trash"))
    Seq(42).toDF("x").write
      .parquet(s"$root/_trash/users-archive-0000000000000000005-deadbeef")
    // live sibling "users"
    assert(TableSwap.stageAndSwap(spark, Seq(1).toDF("x"), root, "users"))

    // recovering/sweeping "users" must not delete users-archive's copy...
    assert(!TableSwap.recoverSwap(spark, root, "users"))
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$root/_trash/users-archive-0000000000000000005-deadbeef")),
      "prefix match deleted a sibling table's only recovery copy")
    // ...and recovering "users-archive" restores its own data, not "users"'s
    assert(TableSwap.recoverSwap(spark, root, "users-archive"))
    assert(spark.read.parquet(s"$root/users-archive").as[Int].collect().toSeq == Seq(42))
    assert(spark.read.parquet(s"$root/users").count() == 1)
  }

  test("recoverSwap also restores pre-uniquifier trash entries (old stamp format)") {
    val root = tempDir("graft-swap-oldfmt").toString
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/_trash"))
    // entry written by the previous release: <name>-<19 digits>, no hex
    Seq(5, 6).toDF("x").write.parquet(s"$root/_trash/t-0000000000000000004")
    assert(TableSwap.recoverSwap(spark, root, "t"))
    assert(spark.read.parquet(s"$root/t").as[Int].collect().sorted.toSeq == Seq(5, 6))
  }

  test("swaps heal a crashed predecessor automatically and never collide in _trash") {
    val root = tempDir("graft-swap-heal").toString
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(TableSwap.stageAndSwap(spark, Seq(1).toDF("x"), root, "t"))
    // crash window: table parked in trash, target missing
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$root/t"),
      new org.apache.hadoop.fs.Path(s"$root/_trash/t-0000000000000000009-dddddddd")))
    // next swap self-heals (empty-guard sees the RESTORED table and refuses)
    assert(!TableSwap.stageAndSwap(spark, Seq.empty[Int].toDF("x"), root, "t"))
    assert(spark.read.parquet(s"$root/t").as[Int].collect().toSeq == Seq(1))
    // rapid same-tick swaps keep distinct trash paths (no nesting): both
    // publish and the table always reads clean
    assert(TableSwap.stageAndSwap(spark, Seq(2).toDF("x"), root, "t"))
    assert(TableSwap.stageAndSwap(spark, Seq(3).toDF("x"), root, "t"))
    assert(spark.read.parquet(s"$root/t").as[Int].collect().toSeq == Seq(3))
  }

  test("writeBatch truncate-then-append protocol") {
    val path = tempDir("graft-batch").toString + "/t"
    TableSwap.writeBatch(Seq(1).toDF("x"), path, firstBatch = true)
    TableSwap.writeBatch(Seq(2, 3).toDF("x"), path, firstBatch = false)
    assert(spark.read.parquet(path).count() == 3)
    TableSwap.writeBatch(Seq(9).toDF("x"), path, firstBatch = true)
    assert(spark.read.parquet(path).count() == 1)
  }
}
