package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** Haitsma–Kalker-style acoustic fingerprint for audio payloads — the
  * audio member of the perceptual-hash family (text simhash, image
  * dHash, audio fingerprint) that all ride
  * [[graft.ops.Dedup.hammingNearDups]]'s pigeonhole blocks.
  *
  * Classic scheme ("A Highly Robust Audio Fingerprinting System",
  * Haitsma & Kalker 2002): frame the signal, compute per-(frame, band)
  * spectral energy, and emit one bit per second-order energy delta —
  * bit(f, b) set iff
  *   (E(f,b) − E(f,b+1)) − (E(f−1,b) − E(f−1,b+1)) > 0,
  * i.e. the band-to-band energy gradient INCREASED from the previous
  * frame. The double difference cancels both per-frame loudness and
  * per-band equalization offsets, which is what makes the bits robust
  * to re-encoding — and distinguishes this fingerprint from dHash's
  * first-order spatial gradient.
  *
  * The grid fill is two-branch (same codec seam as
  * [[graft.ops.Multimodal.decodeKernel]]): RIFF/WAVE PCM payloads
  * decode for real ([[AudioCodec]] — stock JDK, hand-rolled RIFF
  * parse, Goertzel band powers over log-spaced 300–3000 Hz bands), so
  * real WAV bytes fingerprint on true spectra; anything else takes
  * the deterministic byte fold — cell k sums the bytes at positions
  * p ≡ k (mod 78) — which is what the synthetic oracle fixtures hit,
  * keeping the DuckDB oracle's bit-for-bit reproduction. A full
  * windowed STFT (or ffmpeg for compressed codecs) slots into the
  * AudioCodec seam without touching the bit layout or the blocking
  * machinery.
  *
  * Grid is 6 frames × 13 bands = 78 cells → (6−1) × (13−1) = 60 delta
  * bits, exactly the [[graft.ops.Dedup.SimhashBits]] envelope
  * (non-negative long), so audio fingerprints share the 30-bit-key
  * combination blocks with text simhash and image dHash.
  */
object AudioFingerprintKernel {
  final val Frames = 6
  final val Bands = 13 // 12 delta bits per adjacent-frame pair
  final val Cells = Frames * Bands

  /** Static JVM kernel shared by interpreted eval and generated code.
    * REAL branch: payloads that parse as RIFF/WAVE PCM
    * ([[AudioCodec.decodeWav]]) get true Goertzel band energies — the
    * delta bits then measure actual spectral movement, and a uniform
    * power-of-two gain provably flips no bit (energies scale by an
    * exact common factor, see AudioCodecSpec). STUB branch (everything
    * else, incl. every oracle fixture): the original byte fold. */
  def hash(payload: Array[Byte]): Long = {
    val pcm = AudioCodec.decodeWav(payload)
    if (pcm != null && pcm.samples.length >= Frames)
      return deltaBits(AudioCodec.energyGrid(pcm, Frames, Bands))
    val energy = new Array[Double](Cells)
    var i = 0
    while (i < payload.length) {
      energy(i % Cells) += (payload(i) & 0xff)
      i += 1
    }
    deltaBits(energy)
  }

  /** The Haitsma–Kalker second-order delta bits of a frames×bands
    * energy grid (row-major). Exact on the stub's integer-valued
    * energies (doubles hold the byte sums exactly: ≤ 255·2³¹ < 2⁵³),
    * so the fold branch's bits are unchanged from the all-long
    * original — the q116/q120 oracles still reproduce them. */
  private def deltaBits(energy: Array[Double]): Long = {
    var h = 0L
    var f = 1
    while (f < Frames) {
      var b = 0
      while (b < Bands - 1) {
        val cur = energy(f * Bands + b) - energy(f * Bands + b + 1)
        val prev = energy((f - 1) * Bands + b) - energy((f - 1) * Bands + b + 1)
        if (cur > prev) h |= 1L << ((f - 1) * (Bands - 1) + b)
        b += 1
      }
      f += 1
    }
    h
  }
}

case class AudioFingerprint(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "audio_fingerprint"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"audio_fingerprint needs a binary payload, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    AudioFingerprintKernel.hash(input.asInstanceOf[Array[Byte]])

  // a single static call keeps the expression inside whole-stage
  // codegen (primitive in/out, no boxing, no interpreted fallback)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, bytes => s"graft.functions.AudioFingerprintKernel.hash($bytes)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object AudioExpressions {
  def audioFingerprint(c: Column): Column =
    GraftColumnBridge.column(AudioFingerprint(GraftColumnBridge.expression(c)))
}
