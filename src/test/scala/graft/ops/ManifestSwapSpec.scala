package graft.ops

import graft.SparkSpecBase
import org.apache.hadoop.fs.Path

/** Crash-anywhere / atomicity cases for the manifest-pointer publish.
  * "Simulated crash" = reproducing on disk exactly the state a killed
  * publish leaves behind (orphan gen dirs, a torn `.tmp-` manifest),
  * then asserting readers never see it. */
class ManifestSwapSpec extends SparkSpecBase {
  import spark.implicits._

  private def fs(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("multi-table publish flips all tables atomically and reads back") {
    val root = tempDir("graft-mswap").toString
    val r1 = ManifestSwap.publish(spark, root,
      Map("a" -> Seq(1, 2).toDF("x"), "b" -> Seq("p").toDF("s")))
    assert(r1 == Map("a" -> true, "b" -> true))
    assert(ManifestSwap.read(spark, root, "a").count() == 2)
    assert(ManifestSwap.read(spark, root, "b").count() == 1)

    val r2 = ManifestSwap.publish(spark, root,
      Map("a" -> Seq(3).toDF("x"), "b" -> Seq("q", "r").toDF("s")))
    assert(r2 == Map("a" -> true, "b" -> true))
    // ONE manifest carries both: no seq can show new-a with old-b
    val (_, mapping) = ManifestSwap.currentMapping(spark, root)
    assert(mapping.keySet == Set("a", "b"))
    assert(ManifestSwap.read(spark, root, "a").as[Int].collect().toSeq == Seq(3))
    assert(ManifestSwap.read(spark, root, "b").count() == 2)
  }

  test("a crash before the manifest rename leaves readers on the old generation") {
    val root = tempDir("graft-mswap-crash").toString
    ManifestSwap.publish(spark, root,
      Map("a" -> Seq(1).toDF("x"), "b" -> Seq(2).toDF("x")))
    val (seq1, _) = ManifestSwap.currentMapping(spark, root)

    // simulate a publish killed after its data writes + tmp manifest
    // write, before the commit rename: orphan gen dirs + a torn tmp
    Seq(99).toDF("x").write.parquet(s"$root/_gens/a/gen-${"%019d".format(seq1 + 1)}-deadbeef")
    Seq(98).toDF("x").write.parquet(s"$root/_gens/b/gen-${"%019d".format(seq1 + 1)}-cafebabe")
    val torn = fs(root).create(new Path(s"$root/_manifests/.tmp-crashed"), true)
    torn.write("a\tgen-".getBytes); torn.close() // even torn mid-line

    // readers: entirely unaffected, no recovery call needed
    assert(ManifestSwap.currentMapping(spark, root)._1 == seq1)
    assert(ManifestSwap.read(spark, root, "a").as[Int].collect().toSeq == Seq(1))
    assert(ManifestSwap.read(spark, root, "b").as[Int].collect().toSeq == Seq(2))

    // the retried publish lands and sweeps the orphans + torn tmp
    ManifestSwap.publish(spark, root,
      Map("a" -> Seq(5).toDF("x"), "b" -> Seq(6).toDF("x")), retainManifests = 1)
    assert(ManifestSwap.read(spark, root, "a").as[Int].collect().toSeq == Seq(5))
    val aGens = fs(root).listStatus(new Path(s"$root/_gens/a")).map(_.getPath.getName)
    assert(aGens.length == 1, s"orphan/old gens must be swept, saw ${aGens.toSeq}")
    assert(!fs(root).exists(new Path(s"$root/_manifests/.tmp-crashed")))
  }

  test("empty-input guard carries the old generation forward per table") {
    val root = tempDir("graft-mswap-empty").toString
    ManifestSwap.publish(spark, root, Map("a" -> Seq(1, 2).toDF("x")))
    // a: empty refused (old data stays current); b: brand-new empty table is fine
    val r = ManifestSwap.publish(spark, root,
      Map("a" -> Seq.empty[Int].toDF("x"), "b" -> Seq.empty[Int].toDF("x")))
    assert(r == Map("a" -> false, "b" -> true))
    assert(ManifestSwap.read(spark, root, "a").count() == 2)
    assert(ManifestSwap.read(spark, root, "b").count() == 0)
  }

  test("retention keeps prior generations readable until swept") {
    val root = tempDir("graft-mswap-retain").toString
    ManifestSwap.publish(spark, root, Map("t" -> Seq(1).toDF("x")))
    val gen1 = ManifestSwap.resolvePath(spark, root, "t").get
    ManifestSwap.publish(spark, root, Map("t" -> Seq(2).toDF("x")))
    // retain=2 (default): a reader that resolved gen1 pre-publish still reads it
    assert(spark.read.parquet(gen1).as[Int].collect().toSeq == Seq(1))
    ManifestSwap.publish(spark, root, Map("t" -> Seq(3).toDF("x")))
    // now gen1 is beyond retention and swept
    assert(!fs(root).exists(new Path(gen1)))
    assert(ManifestSwap.read(spark, root, "t").as[Int].collect().toSeq == Seq(3))
    // exactly 2 manifests remain
    assert(fs(root).listStatus(new Path(s"$root/_manifests")).length == 2)
  }

  test("a stolen seq (contract violation) degrades to a retried commit, never a torn pointer") {
    val root = tempDir("graft-mswap-race").toString
    ManifestSwap.publish(spark, root, Map("t" -> Seq(1).toDF("x")))
    val (seq1, _) = ManifestSwap.currentMapping(spark, root)
    val gen1Name = new Path(ManifestSwap.resolvePath(spark, root, "t").get).getName
    // another writer grabs seq1+1 between our read and rename
    val other = fs(root).create(
      new Path(s"$root/_manifests/manifest-${"%019d".format(seq1 + 1)}"), true)
    other.write(s"t\t$gen1Name\n".getBytes)
    other.close()
    ManifestSwap.publish(spark, root, Map("t" -> Seq(7).toDF("x")))
    assert(ManifestSwap.currentMapping(spark, root)._1 > seq1 + 1)
    assert(ManifestSwap.read(spark, root, "t").as[Int].collect().toSeq == Seq(7))
  }

  test("commit's rename-collision retry lands at a higher seq, never a torn pointer") {
    val root = tempDir("graft-mswap-retry").toString
    ManifestSwap.publish(spark, root, Map("t" -> Seq(1).toDF("x")))
    val (seq1, mapping) = ManifestSwap.currentMapping(spark, root)
    // occupy the EXACT seqs commit will try first (seq+1, then the
    // re-read max+1) so the rename itself fails and the loop must run
    val f = fs(root)
    for (d <- 1 to 2) {
      val p = new Path(s"$root/_manifests/manifest-${"%019d".format(seq1 + d)}")
      val out = f.create(p, true); out.write("t\tbogus\n".getBytes); out.close()
    }
    ManifestSwap.commit(f, root, seq1 + 1, mapping) // collides at seq1+1, retries
    val (seqAfter, mapAfter) = ManifestSwap.currentMapping(spark, root)
    assert(seqAfter == seq1 + 3, s"expected retry to land at ${seq1 + 3}, got $seqAfter")
    assert(mapAfter == mapping) // the full mapping, not the rival's torn one
  }

  test("a pinned seq keeps reading its own generation across publishes") {
    val root = tempDir("graft-mswap-pin").toString
    ManifestSwap.publish(spark, root, Map("t" -> Seq(1, 2).toDF("x")))
    val (pinned, _) = ManifestSwap.currentMapping(spark, root)
    ManifestSwap.publish(spark, root, Map("t" -> Seq(9).toDF("x")))
    // current moved on; the pinned consumer still sees its generation
    assert(ManifestSwap.read(spark, root, "t").count() == 1)
    assert(ManifestSwap.readAt(spark, root, "t", pinned)
      .as[Int].collect().sorted.toSeq == Seq(1, 2))
    // past retention (default 2), the pin is swept and fails loudly
    ManifestSwap.publish(spark, root, Map("t" -> Seq(7).toDF("x")))
    intercept[IllegalArgumentException] {
      ManifestSwap.readAt(spark, root, "t", pinned)
    }
  }

  test("unchanged tables are carried into the new generation") {
    val root = tempDir("graft-mswap-carry").toString
    ManifestSwap.publish(spark, root,
      Map("users" -> Seq(1).toDF("x"), "groups" -> Seq(2, 3).toDF("x")))
    // later sync touches only users; groups must remain resolvable
    ManifestSwap.publish(spark, root, Map("users" -> Seq(9).toDF("x")))
    assert(ManifestSwap.read(spark, root, "users").as[Int].collect().toSeq == Seq(9))
    assert(ManifestSwap.read(spark, root, "groups").count() == 2)
  }
}
