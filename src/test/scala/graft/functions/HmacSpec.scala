package graft.functions

import graft.SparkSpecBase
import org.apache.spark.sql.functions.col

class HmacSpec extends SparkSpecBase {
  import spark.implicits._

  test("HMAC-SHA256 matches RFC 4231 test case 2") {
    // key="Jefe", data="what do ya want for nothing?"
    assert(Hmac.hmacSha256Hex("Jefe", "what do ya want for nothing?") ==
      "5bdcc146bf60754e6a042426089575c75a003f089d2739839dec58b964ec3843")
  }

  test("verifySignature: hmac path, bearer path, reject paths") {
    val body = """{"eventType":"job.run.completed"}"""
    val secret = "s3cr3t"
    val sig = Hmac.hmacSha256Hex(secret, body)
    assert(Hmac.verifySignature(body, sig, secret))
    assert(!Hmac.verifySignature(body, sig.dropRight(1) + "0", secret))
    assert(Hmac.verifySignature(body, "Bearer any.gateway.jwt", secret)) // gateway rewrite
    assert(!Hmac.verifySignature(body, "", secret))      // missing header
    assert(!Hmac.verifySignature(body, sig, ""))          // no secret configured
  }

  test("column form verifies distributed") {
    val secret = "k"
    val df = Seq("alpha", "beta").toDF("body")
      .withColumn("sig", Hmac.hmacHexCol(secret)(col("body")))
    val ok = df.withColumn("valid", Hmac.verifyCol(secret)(col("body"), col("sig")))
      .select("valid").as[Boolean].collect()
    assert(ok.forall(identity))
  }

  test("SQL registration") {
    SqlSurface.register(spark)
    val r = spark.sql("SELECT hmac_sha256('what do ya want for nothing?', 'Jefe') AS h")
      .head().getString(0)
    assert(r == "5bdcc146bf60754e6a042426089575c75a003f089d2739839dec58b964ec3843")
  }
}
