package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The HLL (bucket, rank) register pair of one value, computed straight
  * from the md5 DIGEST BYTES — bit-identical to the portable hex-string
  * derivation the oracle SQL uses (bucket = first-15-hex-chars mod m,
  * rank = 1 + leading zero bits of hex chars 16–30, all-zero → 61) but
  * without ever materializing the hex string: the Column-chain form
  * pays md5-to-hex, two 15-char substrings, a string→long `conv` each,
  * and a `regexp_extract` per row; this kernel is one digest and a few
  * shifts. Same Expression-tier preference as [[NormalizeNfc]] /
  * [[WinnowMins]]: stays inside whole-stage codegen, no UDF boxing.
  *
  * Bit-parity argument (pinned by ApproxAggSpec and the q92/q145
  * gates): hex chars 1–15 are the top 60 bits of digest bytes 0–7, so
  * `conv(substr(hx,1,15),16,10)` == `(b0..b7 as big-endian long) >>> 4`;
  * hex chars 16–30 are the low nibble of byte 7 followed by bytes
  * 8–14, a 60-bit value whose leading-zero HEX count z and first
  * nonzero digit's high-bit position together encode exactly the
  * leading-zero BIT count: z·4 + (digit ≥8 → 0, ≥4 → 1, ≥2 → 2,
  * else 3) = nlz₆₀(v), hence rank = nlz₆₀(v) + 1, and the all-zero
  * window (z = 15) is the documented rank-61 sentinel. */
case class HllRegisterExpr(child: Expression, m: Int) extends UnaryExpression {
  require(m >= 2 && (m & (m - 1)) == 0 && m <= 4096,
    s"m must be a power of two in [2, 4096], got $m")

  override def dataType: DataType = StructType(Seq(
    StructField("bucket", LongType, nullable = false),
    StructField("rank", IntegerType, nullable = false)))
  override def prettyName: String = "hll_register"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"hll_register needs a string input, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    HllRegisterExpr.reg(input.asInstanceOf[UTF8String], m)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HllRegisterExpr.reg($c, $m)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The engine-portable 60-bit md5-window hash
  * ([[TextFunctions.md5Long]] contract) computed straight from the md5
  * DIGEST BYTES — bit-identical to the Column-chain derivation
  * `conv(substring(md5(c), startDigit, 15), 16, 10).cast("long")` (a
  * 15-hex-digit window is 15 nibbles of the 16-byte digest, and `conv`
  * base-16 accumulation is exactly the nibble fold below) but without
  * materializing the 32-char hex string, the substring copy, or
  * `conv`'s per-row string parse. Found in the r17 opt round: the q171
  * KMV pass spent ~3.7 of its ~5.7 s sf1 wall inside the hex chain
  * (OPTIMIZATION_r17.md §2) — and the same chain fronts every
  * shingle/sampling/sketch hash in the engine. Same Expression-tier
  * preference and ThreadLocal-digest reuse as [[HllRegisterExpr]];
  * value equivalence is spec-pinned across the full input domain
  * (Md5WindowSpec). */
case class Md5WindowLongExpr(child: Expression, startDigit: Int)
    extends UnaryExpression
    with org.apache.spark.sql.GraftStringInputCast {
  require(startDigit >= 1 && startDigit + 14 <= 32,
    s"startDigit must keep the 15-digit window inside the 32 md5 hex digits, got $startDigit")

  override def dataType: DataType = LongType
  override def prettyName: String = "md5_window_long"

  // GraftStringInputCast = ImplicitCastInputTypes over one StringType
  // argument (r17 advice): the replaced conv(substring(md5(c), ...))
  // chain accepted implicitly-castable inputs; declaring the expected
  // input type lets the analyzer insert the cast instead of failing
  // analysis on non-string columns.

  override def nullSafeEval(input: Any): Any =
    Md5WindowLongExpr.window(input.asInstanceOf[UTF8String], startDigit)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Md5WindowLongExpr.window($c, $startDigit)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5WindowLongExpr {
  /** Static kernel shared by eval and generated code: the 60-bit value
    * of md5-hex digits [startDigit, startDigit+14] (1-based). Hex digit
    * i (0-based nibble index) is the high nibble of digest byte i/2
    * when i is even, the low nibble when odd. */
  def window(s: UTF8String, startDigit: Int): Long = {
    val d = HllRegisterExpr.digest(s)
    var v = 0L
    var i = startDigit - 1
    val end = i + 15
    while (i < end) {
      val b = d(i >> 1)
      val nib = if ((i & 1) == 0) (b >> 4) & 0xf else b & 0xf
      v = (v << 4) | nib
      i += 1
    }
    v
  }
}

object HllRegisterExpr {
  private[functions] def litInt(e: Expression, name: String): Int =
    WinnowMins.litInt(e, name)

  // MessageDigest is stateful; one per thread, digest() resets it.
  private val md5: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  /** One md5 digest of the string's UTF-8 bytes (shared with
    * [[Md5WindowLongExpr]]). */
  private[functions] def digest(s: UTF8String): Array[Byte] =
    md5.get().digest(s.getBytes)

  /** Static kernel shared by eval and generated code. */
  def reg(s: UTF8String, m: Int): InternalRow = {
    val d = md5.get().digest(s.getBytes)
    val top =
      ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) | ((d(2) & 0xffL) << 40) |
      ((d(3) & 0xffL) << 32) | ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
      ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
    val bucket = (top >>> 4) % m // hex chars 1-15 mod m
    // hex chars 16-30: low nibble of byte 7, then bytes 8-14
    val w =
      ((d(7) & 0x0fL) << 56) |
      ((d(8) & 0xffL) << 48) | ((d(9) & 0xffL) << 40) | ((d(10) & 0xffL) << 32) |
      ((d(11) & 0xffL) << 24) | ((d(12) & 0xffL) << 16) | ((d(13) & 0xffL) << 8) |
      (d(14) & 0xffL)
    val rank = if (w == 0L) 61 else java.lang.Long.numberOfLeadingZeros(w) - 3
    new GenericInternalRow(Array[Any](bucket, rank))
  }

  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "hll_register", exprs => HllRegisterExpr(exprs.head,
        litInt(exprs(1), "m")), "built-in")
}
