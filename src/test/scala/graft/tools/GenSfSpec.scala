package graft.tools

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** Contract for the scale-factor fixture generator (r11 directive #4):
  * the generated fixture must be a drop-in replacement for the driver
  * ladder at any sf — same schemas, same parquet logical types, same
  * value domains and statistical shape — and byte-deterministic, so a
  * "150/150 at sf1" claim is about the CATALOG, not about which run of
  * the generator it happened to see.
  */
class GenSfSpec extends SparkSpecBase {

  private val AllTables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private lazy val dir: String = {
    val d = tempDir("gensf_spec").toString
    GenSf.writeAll(spark, d, 0.001)
    d
  }

  test("schemas match the driver fixture exactly, table by table") {
    for (t <- AllTables) {
      val real = spark.read.parquet(s"$sf0001/$t.parquet").schema
      val gen = spark.read.parquet(s"$dir/$t.parquet").schema
      assert(gen == real, s"schema mismatch for $t")
    }
  }

  test("row counts follow the driver ladder formula") {
    def n(t: String) = spark.read.parquet(s"$dir/$t.parquet").count()
    assert(n("lineitem") == 6000L)
    assert(n("orders") == 1500L)
    assert(n("customer") == 150L)
    assert(n("events") == 1000L)
    assert(n("documents") == 500L) // max(500, 50000*sf) floor
    assert(n("embeddings") == 500L)
  }

  test("generation is deterministic: same bytes on a second run") {
    val d2 = tempDir("gensf_spec2").toString
    GenSf.writeAll(spark, d2, 0.001)
    for (t <- AllTables) {
      val a = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$dir/$t.parquet"))
      val b = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$d2/$t.parquet"))
      assert(java.util.Arrays.equals(a, b), s"non-deterministic bytes for $t")
    }
  }

  test("value domains: dates, event span/monotonicity, embedding range") {
    val o = spark.read.parquet(s"$dir/orders.parquet")
      .agg(min("o_orderdate"), max("o_orderdate")).head
    assert(o.getAs[java.time.LocalDateTime](0).getYear >= 1995)
    assert(o.getAs[java.time.LocalDateTime](1).getYear <= 2001)

    // events: ts strictly ordered by event_id (the real fixture has
    // zero inversions), 30-day span from 2024-01-01
    val e = spark.read.parquet(s"$dir/events.parquet")
    val inversions = e.select(col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      .withColumn("prev", lag("us", 1).over(
        org.apache.spark.sql.expressions.Window.orderBy("event_id")))
      .filter(col("prev").isNotNull && col("us") < col("prev")).count()
    assert(inversions == 0L)
    val span = e.agg(unix_micros(min("ts").cast("timestamp")),
      unix_micros(max("ts").cast("timestamp"))).head
    assert(span.getLong(1) - span.getLong(0) <= 30L * 86400000000L)

    // embeddings: 64-dim, Irwin-Hall support is ±0.53125 exactly
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val bad = emb.select(explode(col("embedding")).as("v"))
      .filter(abs(col("v")) > 0.532f).count()
    assert(bad == 0L)
    assert(emb.select(size(col("embedding"))).distinct().head.getInt(0) == 64)
  }

  test("documents carry planted exact-dup clones of the previous row") {
    val d2 = tempDir("gensf_dup").toString
    GenSf.writeAll(spark, d2, 0.1) // 5000 docs — enough for ~8 dup pairs
    val docs = spark.read.parquet(s"$d2/documents.parquet")
    val dups = docs.groupBy("text").count().filter(col("count") > 1).count()
    assert(dups >= 4 && dups <= 16, s"expected ~8 dup groups at 5000 docs, got $dups")
    // and the clone really is the PREVIOUS row's text
    val w = org.apache.spark.sql.expressions.Window.orderBy("doc_id")
    val cloned = docs.withColumn("prev", lag("text", 1).over(w))
      .filter(col("text") === col("prev")).count()
    assert(cloned >= 4, s"clones must be prev-row copies, got $cloned")
  }
}
