package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization as a native Catalyst expression — the
  * canonicalization step of public corpus-cleaning recipes (C4/Dolma
  * normalize before tokenizing/fingerprinting, so "é" composed and
  * "e"+U+0301 decomposed dedup identically). Spark has no built-in
  * normalizer; a Scala UDF would box and serialize per row, while this
  * expression stays inside whole-stage codegen — the SQL-function
  * preference order of SURVEY §2.10 applied at the Expression tier.
  *
  * NFC (not NFKC) deliberately: canonical composition is
  * round-trippable and engine-standard (DuckDB's `nfc_normalize`
  * oracle-checks it), while compatibility folding is lossy and
  * corpus-policy-specific.
  *
  * Cost note: the fast path `Normalizer.isNormalized` check makes the
  * common (already-NFC ASCII) case a scan without allocation.
  */
case class NormalizeNfc(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"nfc_normalize needs a string input, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    NormalizeNfc.normalize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NormalizeNfc.normalize($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NormalizeNfc {
  /** Static kernel shared by eval and generated code. */
  def normalize(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}

/** Deflate-compressed byte length of a string's UTF-8 bytes — the
  * kernel behind compression-ratio quality filtering (the
  * Gopher/RefinedWeb-family signal: highly repetitive or templated
  * text compresses far below prose, random noise barely at all).
  * Level 6, no dictionary, one Deflater per eval via the static
  * kernel; deterministic for a given input on any JVM shipping
  * standard zlib semantics — but NOT reproducible in SQL engines, so
  * this stays SPEC-gated (the HMAC precedent), never oracle-gated.
  * Codegen'd like [[NormalizeNfc]]: stays inside whole-stage codegen,
  * no UDF boxing. */
case class DeflateLen(child: Expression) extends UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "deflate_len"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"deflate_len needs a string input, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    DeflateLen.deflatedLength(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.DeflateLen.deflatedLength($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DeflateLen {
  // ended flag lives beside the Deflater: the completion listener
  // normally runs on the task's own thread (remove() then suffices),
  // but if Spark ever fires it elsewhere the flag still marks this
  // holder dead so the owning thread re-creates instead of calling
  // reset() on an end()ed native handle
  private final class Holder {
    val d = new java.util.zip.Deflater(6, true)
    @volatile var ended = false
  }

  // one native Deflater per task thread, reset() per row — a fresh
  // Deflater would deflateInit a ~256 KB native workspace per ROW.
  // The workspace is released at TASK completion (end() + remove()):
  // one deflateInit per task instead of per row, and no unbounded
  // native retention on large or recycled executor thread pools.
  // Driver-side use (no TaskContext: local eval in tests) keeps the
  // JVM-lifetime deflater — driver threads are few and bounded.
  private val local: ThreadLocal[Holder] = new ThreadLocal[Holder] {
    override def initialValue(): Holder = {
      val h = new Holder
      val tc = org.apache.spark.TaskContext.get()
      // An already-completed TaskContext fires a new listener
      // synchronously, which would end() the fresh Deflater before
      // first use and push the ended-retry into reset()-on-end()ed;
      // a holder created post-completion gets the driver-style
      // JVM-lifetime deflater instead (bounded: such threads are
      // stragglers, not the task pool).
      if (tc != null && !tc.isCompleted()) tc.addTaskCompletionListener[Unit] { _ =>
        h.ended = true; h.d.end(); local.remove()
      }
      h
    }
  }

  /** Static kernel shared by eval and generated code. */
  def deflatedLength(s: UTF8String): Int = {
    var h = local.get()
    if (h.ended) { local.remove(); h = local.get() }
    val d = h.d
    d.reset()
    d.setInput(s.getBytes); d.finish()
    val buf = new Array[Byte](8192)
    var total = 0
    while (!d.finished()) total += d.deflate(buf)
    total
  }

  /** (deflated ×1000) div raw bytes, or null for empty input — ONE
    * kernel call per row (both lengths known inside it), exact
    * integer division. */
  def ratioE3(s: UTF8String): java.lang.Long = {
    val raw = s.numBytes()
    if (raw == 0) null
    else java.lang.Long.valueOf(deflatedLength(s).toLong * 1000L / raw)
  }
}

/** Milli-ratio form of [[DeflateLen]] in a single kernel call (the
  * Column-level quotient would deflate twice without CSE). Null for
  * empty strings — no ratio is defined. */
case class DeflateRatioE3(child: Expression) extends UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = true
  override def prettyName: String = "deflate_ratio_e3"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"deflate_ratio_e3 needs a string input, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    DeflateLen.ratioE3(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val v = ctx.freshName("ratio")
    nullSafeCodeGen(ctx, ev, c => s"""
      java.lang.Long $v = graft.functions.DeflateLen.ratioE3($c);
      if ($v == null) { ${ev.isNull} = true; } else { ${ev.value} = $v.longValue(); }
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Winnowing fingerprint selection (Schleimer et al. 2003) as a single
  * codegen'd kernel: token array in, DISTINCT per-window-minimum
  * 60-bit shingle hashes out. Replaces the interpreted HOF chain
  * `transform(sequence, i -> conv(substring(md5(concat_ws(slice)))))`
  * + `transform/slice/array_min` + `array_distinct`, which paid
  * per-shingle Column-tree interpretation, a fresh md5 buffer and a
  * hex round-trip per shingle, and O(n·w) window scans — ~10 ms/doc,
  * the worst constant in the catalog (round-11 verdict). Here: one
  * reused MessageDigest, token bytes materialized once per document,
  * a monotonic-deque sliding minimum (O(n) total, not O(n·w)), and a
  * primitive long array result — all inside whole-stage codegen.
  *
  * Bit-parity contract (oracle-pinned by q150): hash k-token shingle
  * = first 15 hex chars of md5 over the space-joined tokens, parsed
  * base 16 — i.e. the TOP 60 BITS of the digest, reproduced here as
  * (first-8-bytes-big-endian >>> 4). Null tokens are skipped with no
  * separator, exactly `concat_ws(' ', ...)`. Result order is first
  * occurrence, exactly `array_distinct`. Documents with fewer than
  * k + w − 1 tokens yield an empty array (explode then emits nothing
  * — the previous size() pre-filters are subsumed). */
case class WinnowMins(child: Expression, k: Int, w: Int) extends UnaryExpression {
  require(k >= 1 && w >= 1, s"need k >= 1 and w >= 1, got $k/$w")

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType,
      containsNull = false)
  override def prettyName: String = "winnow_mins"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"winnow_mins needs array<string> tokens, got $other")
    }

  override def nullSafeEval(input: Any): Any =
    WinnowMins.mins(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WinnowMins.mins($c, $k, $w)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WinnowMins {
  // MessageDigest is stateful; one per thread, digest() resets it.
  // No task-completion bookkeeping needed (unlike DeflateLen's native
  // Deflater): this is pure JVM heap, collected with the thread.
  private val md5: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  /** 60-bit md5 shingle hashes — hs(i) covers tokens i..i+k-1, the
    * house "first 15 hex chars" value. Shared by [[mins]] and
    * [[CdcStarts.starts]]; empty when fewer than k tokens. */
  private[functions] def shingleHashes60(
      arr: org.apache.spark.sql.catalyst.util.ArrayData, k: Int): Array[Long] = {
    val n = arr.numElements()
    val nsh = n - k + 1
    if (nsh < 1) return Array.emptyLongArray
    // token UTF-8 bytes once per document (each shingle reuses k of
    // them); null stays null so the concat_ws skip rule applies
    val tb = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      val u = arr.getUTF8String(i)
      tb(i) = if (u == null) null else u.getBytes
      i += 1
    }
    val digest = md5.get()
    val hs = new Array[Long](nsh)
    i = 0
    while (i < nsh) {
      var first = true
      var j = 0
      while (j < k) {
        val b = tb(i + j)
        if (b != null) {
          if (!first) digest.update(' '.toByte)
          digest.update(b)
          first = false
        }
        j += 1
      }
      val d = digest.digest() // resets for the next shingle
      val top =
        ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) | ((d(2) & 0xffL) << 40) |
        ((d(3) & 0xffL) << 32) | ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
        ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
      hs(i) = top >>> 4 // first 15 hex chars == top 60 bits
      i += 1
    }
    hs
  }

  /** Static kernel shared by eval and generated code. */
  def mins(arr: org.apache.spark.sql.catalyst.util.ArrayData, k: Int,
           w: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val hs = shingleHashes60(arr, k)
    val nsh = hs.length
    if (nsh < w)
      return org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(Array.emptyLongArray)
    // sliding minimum via monotonic deque of indices: O(nsh) total
    val nw = nsh - w + 1
    val mins = new Array[Long](nw)
    val dq = new Array[Int](nsh)
    var head = 0
    var tail = 0
    var i = 0
    while (i < nsh) {
      while (tail > head && hs(dq(tail - 1)) >= hs(i)) tail -= 1
      dq(tail) = i; tail += 1
      if (dq(head) <= i - w) head += 1
      if (i >= w - 1) mins(i - w + 1) = hs(dq(head))
      i += 1
    }
    // distinct, first-occurrence order (array_distinct parity)
    val seen = new java.util.HashSet[java.lang.Long](Math.max(8, nw * 2))
    val out = new Array[Long](nw)
    var m = 0
    i = 0
    while (i < nw) {
      if (seen.add(mins(i))) { out(m) = mins(i); m += 1 }
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(java.util.Arrays.copyOf(out, m))
  }
}

/** Content-defined chunk START positions over a token array — the
  * rolling-boundary rule of storage/dedup chunkers (LBFS/FastCDC
  * family, applied at token granularity): a chunk boundary falls
  * after token j whenever the 60-bit hash of the k-shingle ENDING at
  * j has its low `bits` bits zero, giving expected chunk length 2^bits
  * tokens while keeping boundaries a pure function of LOCAL content —
  * an insertion early in a document shifts every fixed-width chunk but
  * only the one content-defined chunk it lands in, which is what makes
  * chunk-hash dedup robust to edits. Shares [[WinnowMins]]'
  * shingle-hash kernel (and its md5 thread-local); emits 1-based start
  * positions, always beginning with 1; a boundary at the final token
  * is moot and skipped. Empty token arrays yield no chunks. */
case class CdcStarts(child: Expression, k: Int, bits: Int) extends UnaryExpression {
  require(k >= 1, s"need k >= 1, got $k")
  require(bits >= 1 && bits <= 20, s"need bits in [1,20], got $bits")

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.IntegerType,
      containsNull = false)
  override def prettyName: String = "cdc_starts"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"cdc_starts needs array<string> tokens, got $other")
    }

  override def nullSafeEval(input: Any): Any =
    CdcStarts.starts(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], k, bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CdcStarts.starts($c, $k, $bits)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CdcStarts {
  /** Static kernel shared by eval and generated code. */
  def starts(arr: org.apache.spark.sql.catalyst.util.ArrayData, k: Int,
             bits: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = arr.numElements()
    if (n == 0)
      return org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(Array.emptyIntArray)
    val hs = WinnowMins.shingleHashes60(arr, k)
    val mask = (1L << bits) - 1L
    val out = new Array[Int](hs.length + 1)
    out(0) = 1
    var m = 1
    var i = 0
    while (i < hs.length) {
      val j = i + k // 1-based position of the shingle's LAST token
      if ((hs(i) & mask) == 0L && j < n) { out(m) = j + 1; m += 1 }
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(java.util.Arrays.copyOf(out, m))
  }
}

object TextExpressions {
  def nfcNormalize(text: Column): Column =
    GraftColumnBridge.column(NormalizeNfc(GraftColumnBridge.expression(text)))

  /** Distinct winnowing window-min fingerprints of a token array —
    * the [[WinnowMins]] kernel. */
  def winnowMins(tokens: Column, k: Int, w: Int): Column =
    GraftColumnBridge.column(WinnowMins(GraftColumnBridge.expression(tokens), k, w))

  /** Content-defined chunk starts of a token array — the [[CdcStarts]]
    * kernel. */
  def cdcStarts(tokens: Column, k: Int, bits: Int): Column =
    GraftColumnBridge.column(CdcStarts(GraftColumnBridge.expression(tokens), k, bits))

  /** Compression quality signal: (deflated_bytes ×1000) div raw_bytes
    * — integer milli-ratio; low = templated/repetitive, ~1000+ =
    * incompressible. Null-safe; empty strings yield null (no ratio).
    * One kernel call per row ([[DeflateRatioE3]]). */
  def compressionRatioE3(text: Column): Column =
    GraftColumnBridge.column(DeflateRatioE3(GraftColumnBridge.expression(text)))
}
