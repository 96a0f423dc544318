package graft.functions

import java.nio.charset.StandardCharsets
import javax.crypto.Mac
import javax.crypto.spec.SecretKeySpec

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** HMAC-SHA256 signature computation + verification
  * (reference: dbt-webhook/webhook_utils.py:17-60; SURVEY.md §2 P10).
  * Spark has no built-in hmac, so this is the one deliberate UDF in the
  * library (a Mac instance per call is cheap relative to I/O; promote
  * to a codegen'd Expression only if it ever shows up hot).
  */
object Hmac {

  def hmacSha256Hex(secret: Array[Byte], body: Array[Byte]): String = {
    val mac = Mac.getInstance("HmacSHA256")
    mac.init(new SecretKeySpec(secret, "HmacSHA256"))
    mac.doFinal(body).map("%02x".format(_)).mkString
  }

  def hmacSha256Hex(secret: String, body: String): String =
    hmacSha256Hex(secret.getBytes(StandardCharsets.UTF_8), body.getBytes(StandardCharsets.UTF_8))

  /** Constant-time comparison (java.security.MessageDigest.isEqual). */
  def constantTimeEquals(a: String, b: String): Boolean =
    java.security.MessageDigest.isEqual(
      a.getBytes(StandardCharsets.UTF_8), b.getBytes(StandardCharsets.UTF_8))

  /** Signature check with the reference's two paths
    * (webhook_utils.py:17-60): "Bearer ..." tokens are accepted without
    * validation (the gateway rewrites the original header — validating
    * would break every pipeline); anything else is an HMAC hex digest
    * verified against the body. Missing signature or secret => reject.
    */
  def verifySignature(body: String, signature: String, secret: String): Boolean = {
    if (signature == null || signature.isEmpty) false
    else if (signature.startsWith("Bearer ")) true
    else if (secret == null || secret.isEmpty) false
    else constantTimeEquals(hmacSha256Hex(secret, body), signature)
  }

  /** Column form for distributed verification of a body column. */
  def hmacHexCol(secret: String)(body: Column): Column = {
    val f = udf((b: String) => if (b == null) null else hmacSha256Hex(secret, b))
    f(body)
  }

  def verifyCol(secret: String)(body: Column, signature: Column): Column = {
    val f = udf((b: String, s: String) =>
      verifySignature(Option(b).getOrElse(""), s, secret))
    f(body, signature)
  }
}
