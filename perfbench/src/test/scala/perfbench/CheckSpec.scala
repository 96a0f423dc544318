package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class CheckSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("the checker flags a corrupted figure and passes a correct one") {
    val want = Seq("rows" -> 5L, "digest" -> "abc")
    assert(Check.diff(want, Map("rows" -> 5L, "digest" -> "abc")).isEmpty)
    assert(Check.diff(want, Map("rows" -> 4L, "digest" -> "abc")) == Seq("rows expected 5, got 4"))
    assert(Check.diff(want, Map("rows" -> 5L)).size == 1)
  }

  test("a wrong or throwing operation counts as failed, a right one does not") {
    val o = new Outcomes
    o.op("right")(2 + 2)(x => Check.diff(Seq("x" -> 4), Map("x" -> x)))
    o.op("wrong")(2 + 3)(x => Check.diff(Seq("x" -> 4), Map("x" -> x)))
    o.op("throws")(sys.error("boom"): Int)(_ => Nil)
    assert(o.attempted == 3 && o.failed == 2)
    assert(o.failures.exists(_.startsWith("wrong: x expected 4")))
  }

  test("the digest ignores row order and partitioning but flags a corrupted row") {
    import spark.implicits._
    val df = (1 to 200).map(i => (i.toLong, s"v$i", i * 0.5, Map("k" -> i))).toDF("a", "b", "c", "m")
    val d = Digest.of(df)
    assert(d._1 == 200)
    assert(Digest.of(df.repartition(7).orderBy(desc("a"))) == d)
    val corrupted = df.withColumn("c", when(col("a") === 17L, lit(9.0)).otherwise(col("c")))
    assert(Digest.of(corrupted)._2 != d._2)
    assert(Digest.of(df.filter(col("a") =!= 3L))._1 == 199)
  }
}
