package graft.ops

import graft.SparkSpecBase
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import scala.jdk.CollectionConverters._

/** The checkpoint arena: each cut records its own RDD, so an operator
  * releases exactly what it created — never an RDD that another query
  * persisted on the same session while it ran. */
class CacheHygieneSpec extends SparkSpecBase {
  import spark.implicits._

  private def sc = spark.sparkContext

  private def rddId(df: DataFrame): Int = df.queryExecution.analyzed match {
    case l: LogicalRDD => l.rdd.id
    case other => fail(s"not a checkpoint-backed frame:\n$other")
  }

  private def persisted(df: DataFrame): Boolean = sc.getPersistentRDDs.contains(rddId(df))

  private def pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
    (4L, 10L), (20L, 21L), (20L, 22L)).toDF("a", "b")

  test("a scope body that throws leaves none of its cuts persisted") {
    val cuts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    intercept[IllegalStateException] {
      CacheHygiene.scope { ck =>
        cuts += ck.cut(spark.range(10).toDF("x"))
        cuts += ck.cut(spark.range(10).toDF("x").repartition($"x"), eager = false)
        throw new IllegalStateException("boom")
      }
    }
    assert(cuts.size == 2)
    cuts.foreach(c => assert(!persisted(c), s"cut ${rddId(c)} survived the throw"))
  }

  test("a scope keeps only what the returned frame reads; free drops a cut early") {
    val cuts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val out = CacheHygiene.scope { ck =>
      cuts += ck.cut(spark.range(10).toDF("x"))
      cuts += ck.cut(cuts(0).select(($"x" * 2).as("x")))
      cuts += ck.cut(cuts(1).select(($"x" + 1).as("x")))
      ck.free(cuts(0))
      assert(!persisted(cuts(0)) && persisted(cuts(1)))
      cuts(1).filter($"x" > 4) // a plan over the second cut
    }
    assert(persisted(cuts(1)), "the cut the returned frame reads was released")
    assert(!persisted(cuts(2)), "a cut the returned frame does not read survived")
    assert(out.as[Long].collect().sorted.toSeq == Seq(6L, 8L, 10L, 12L, 14L, 16L, 18L))
    CacheHygiene.release(out)
  }

  test("a scope that returns no frame releases every cut") {
    val cuts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val n = CacheHygiene.scope { ck =>
      cuts += ck.cut(spark.range(10).toDF("x"))
      cuts += ck.cut(cuts(0).filter($"x" > 2))
      cuts(1).count()
    }
    assert(n == 7L)
    cuts.foreach(c => assert(!persisted(c), s"cut ${rddId(c)} outlived a count-returning scope"))
  }

  test("a concurrent persister keeps its RDDs; the operators leave nothing behind") {
    val before = sc.getPersistentRDDs.keySet.toSet
    val stop = new AtomicBoolean(false)
    val loops = new AtomicInteger(0)
    val lost = new ConcurrentLinkedQueue[String]()
    val persister = new Thread(() => {
      while (!stop.get) {
        val f = spark.range(50).toDF("x").localCheckpoint()
        try {
          Thread.sleep(100)
          if (!persisted(f)) lost.add(s"rdd ${rddId(f)} unpersisted")
          else if (f.count() != 50) lost.add(s"rdd ${rddId(f)} lost rows")
        } catch { case scala.util.control.NonFatal(e) => lost.add(e.toString) }
        finally CacheHygiene.release(f)
        loops.incrementAndGet()
      }
    })
    persister.start()
    try {
      // the distributed rounds: their cuts race the persister
      val g = GraphCapture.capture(pairs, "a", "b", GraphCapture.Pairs, driverMaxEdges = 0)
      val outs = Seq(LabelProp.labelPropagation(g, 3), PageRank.pageRank(g, 2),
        Bfs.hopDistance(g, Seq(1L, 20L).toDF("id"), maxHops = 4))
      val direct = LabelProp.labelPropagation(pairs, "a", "b", 3)
      assert(outs.head.collect().toSet == direct.collect().toSet)
      outs.foreach(_.count())
      (outs :+ direct).foreach(CacheHygiene.release)
      g.release()
    } finally {
      stop.set(true)
      persister.join()
    }
    assert(loops.get > 0)
    assert(lost.isEmpty, lost.asScala.mkString("; "))
    val leaked = sc.getPersistentRDDs.keySet.toSet -- before
    assert(leaked.isEmpty, s"leaked persistent RDDs: $leaked")
  }

  test("ops reads the persistent-RDD registry only in CacheHygiene") {
    val dir = new java.io.File("src/main/scala/graft/ops")
    assert(dir.isDirectory, s"source dir not found from ${dir.getAbsolutePath}")
    val offenders = dir.listFiles().toSeq
      .filter(f => f.getName.endsWith(".scala") && f.getName != "CacheHygiene.scala")
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().zipWithIndex.collect {
          case (line, i) if line.contains("getPersistentRDDs") => s"${f.getName}:${i + 1}"
        }.toList
        finally src.close()
      }
    assert(offenders.isEmpty,
      s"registry diffs are racy on a shared session; cut through CacheHygiene.scope: $offenders")
  }
}
