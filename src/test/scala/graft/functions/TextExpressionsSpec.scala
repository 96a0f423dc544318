package graft.functions

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

class TextExpressionsSpec extends SparkSpecBase {
  import spark.implicits._

  // explicit escapes — editors/tools silently re-compose unicode literals
  private val decomposed = "cafe\u0301"   // 'e' + combining acute (5 code points)
  private val composed = "caf\u00e9"      // precomposed e-acute (4 code points)

  test("nfc_normalize composes decomposed sequences and is identity on NFC text") {
    val df = Seq((1L, decomposed), (2L, composed), (3L, "ascii only"), (4L, null))
      .toDF("id", "t")
      .select($"id", TextExpressions.nfcNormalize($"t").as("n"))
    val rows = df.collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(rows(1L).get == composed)            // composed output
    assert(rows(2L).get == composed)            // already-NFC fast path: unchanged
    assert(rows(3L).get == "ascii only")
    assert(rows(1L).get.length == 4 && decomposed.length == 5) // one code point fewer
    assert(rows(4L).isEmpty)                    // null-safe
  }

  test("interpreted eval matches codegen output") {
    val data = Seq(decomposed, composed, s"mixed $composed and $decomposed", "")
    // factoryMode=NO_CODEGEN forces InterpretedUnsafeProjection — the
    // nullSafeEval path; wholeStage alone still runs generated
    // projections and would never exercise it
    def run(mode: String): Seq[String] = {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try data.toDF("t").select(TextExpressions.nfcNormalize($"t")).as[String].collect().toSeq
      finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    assert(run("CODEGEN_ONLY") == run("NO_CODEGEN"))
  }

  test("nfc_normalize is callable from SQL and injectable via GraftExtensions") {
    // the extensions entry point must register without throwing
    new graft.GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
    SqlSurface.register(spark)
    val out = spark.sql("SELECT nfc_normalize('cafe\\u0301') AS n").head().getString(0)
    assert(out == composed)
  }

  test("deflate_len: repetitive text compresses far below prose; noise barely") {
    val rep = "the same line over and over " * 50
    val prose = "A reasonably varied sentence with many distinct words and shapes, " +
      "followed by different content entirely, numbers 12345 and punctuation!"
    val noise = (1 to 600).map(i => ((scala.util.hashing.MurmurHash3.stringHash(i.toString) & 0x7fffffff) % 93 + 33).toChar).mkString
    val df = Seq((1L, rep), (2L, prose), (3L, noise), (4L, ""), (5L, null))
      .toDF("id", "t")
      .select($"id", TextExpressions.compressionRatioE3($"t").as("r"))
    val rows = df.collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(rows(1L).get < 100, s"repetition must compress hard: ${rows(1L)}")
    assert(rows(2L).get > rows(1L).get && rows(2L).get < 1000)
    assert(rows(3L).get > 700, s"noise barely compresses: ${rows(3L)}")
    assert(rows(4L).isEmpty && rows(5L).isEmpty) // empty/null -> no ratio
    // stable across partitioning and repeat evaluation
    val again = Seq((1L, rep)).toDF("id", "t").repartition(3)
      .select(TextExpressions.compressionRatioE3($"t")).head().getLong(0)
    assert(rows(1L).get == again)
  }

  test("the text kernels evaluate on a session that registered no function") {
    val toks = Seq("one", "two", "three", "four", "five", "six", "seven", "eight")
    def run(s: org.apache.spark.sql.SparkSession) =
      s.createDataFrame(Seq((decomposed, toks))).toDF("t", "toks").select(
        TextExpressions.nfcNormalize($"t"),
        TextExpressions.compressionRatioE3($"t"),
        TextExpressions.winnowMins($"toks", 3, 2),
        TextExpressions.cdcStarts($"toks", 3, 1)).head()
    val fresh = run(spark.newSession())
    assert(fresh.getString(0) == composed)
    assert(fresh == run(spark))
  }
}
