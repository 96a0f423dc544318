package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** Real image decode for PNG/JPEG payloads via the stock-JDK
  * `javax.imageio` — the one codec family this container CAN run.
  * Grayscale reduction is integer BT.601 luma (299·R + 587·G + 114·B,
  * ÷1000), resize is deterministic box averaging (cell (r,c) averages
  * the exact pixel box [r·h/rows, (r+1)·h/rows) × [c·w/cols,
  * (c+1)·w/cols), integer division) — no float resampling, so a given
  * payload hashes identically on every JVM for lossless formats.
  * (JPEG DECODE itself may vary per IDCT implementation, which is why
  * image hashing over real codecs stays SPEC-gated — the q115/q120
  * oracle fixtures are non-image payloads that take the byte-fold
  * fallback below, reproducible in SQL.)
  *
  * Audio/video codecs remain the documented stub — no JDK decoder
  * exists for them. */
object ImageCodec {
  // ImageIO's default disk cache writes temp files per decode; decode
  // is in-memory here (payloads already sit in the row)
  javax.imageio.ImageIO.setUseCache(false)

  /** PNG or JPEG magic — the formats the JDK decodes out of the box. */
  def looksDecodable(p: Array[Byte]): Boolean =
    (p.length >= 8 && (p(0) & 0xff) == 0x89 && p(1) == 'P' && p(2) == 'N' && p(3) == 'G') ||
    (p.length >= 3 && (p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0xd8 && (p(2) & 0xff) == 0xff)

  /** Decode + grayscale + box-resize to a rows×cols integer luma grid
    * (row-major, values 0..255), or null when the payload is not a
    * decodable image (wrong magic, corrupt stream, or a decoder
    * error) — callers then take their deterministic fallback. */
  def lumaGrid(payload: Array[Byte], rows: Int, cols: Int): Array[Long] = {
    if (payload == null || !looksDecodable(payload)) return null
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      catch { case _: Exception => null }
    if (img == null || img.getWidth < 1 || img.getHeight < 1) return null
    val w = img.getWidth
    val h = img.getHeight
    val out = new Array[Long](rows * cols)
    var r = 0
    while (r < rows) {
      val y0 = r * h / rows
      val y1 = math.max(y0 + 1, (r + 1) * h / rows)
      var c = 0
      while (c < cols) {
        val x0 = c * w / cols
        val x1 = math.max(x0 + 1, (c + 1) * w / cols)
        var sum = 0L
        var y = y0
        while (y < h && y < y1) {
          var x = x0
          while (x < w && x < x1) {
            val rgb = img.getRGB(x, y) // sRGB regardless of source model
            sum += (299L * ((rgb >> 16) & 0xff) + 587L * ((rgb >> 8) & 0xff) +
              114L * (rgb & 0xff)) / 1000L
            x += 1
          }
          y += 1
        }
        val n = (math.min(y1, h) - y0).toLong * (math.min(x1, w) - x0)
        out(r * cols + c) = sum / math.max(1L, n)
        c += 1
      }
      r += 1
    }
    out
  }
}

/** Difference-hash (dHash) perceptual fingerprint for image payloads.
  *
  * Classic dHash: decode + grayscale + resize to a (rows+? cols) grid,
  * then emit one bit per horizontally adjacent cell pair — bit set iff
  * the right cell is brighter. Near-identical images flip few bits, so
  * Hamming distance over the fingerprint is the near-dup metric
  * (bucketed at scale by [[graft.ops.Dedup.hammingNearDups]]'s
  * pigeonhole blocks — never an all-pairs scan).
  *
  * PNG/JPEG payloads take the REAL decode path ([[ImageCodec]] —
  * stock-JDK javax.imageio, integer luma, deterministic box resize):
  * the grid is true pixel luminance, so the gradient bits are the
  * textbook dHash. Any other payload (including the oracle fixtures'
  * synthetic bytes) falls back to the original deterministic integer
  * fold — cell k sums the bytes at positions p ≡ k (mod 66) — which
  * the DuckDB oracle reproduces bit-for-bit in SQL; that keeps
  * q115/q120 hash-gated while real images hash on real luma
  * (spec-gated: lossy-codec decode is not SQL-reproducible).
  *
  * Grid is 6 rows × 11 cols = 66 cells → 6 × 10 = 60 gradient bits,
  * exactly the [[graft.ops.Dedup.SimhashBits]] envelope (non-negative
  * long), so image fingerprints ride the same 30-bit-key combination
  * blocks as text simhash.
  */
object DHashKernel {
  final val GridRows = 6
  final val GridCols = 11 // 10 gradient bits per row
  final val Cells = GridRows * GridCols

  /** Static JVM kernel shared by interpreted eval and generated code. */
  def hash(payload: Array[Byte]): Long = {
    val decoded = ImageCodec.lumaGrid(payload, GridRows, GridCols)
    val gray = if (decoded != null) decoded else {
      val fold = new Array[Long](Cells)
      var i = 0
      while (i < payload.length) {
        fold(i % Cells) += (payload(i) & 0xff)
        i += 1
      }
      fold
    }
    var h = 0L
    var r = 0
    while (r < GridRows) {
      var c = 0
      while (c < GridCols - 1) {
        if (gray(r * GridCols + c + 1) > gray(r * GridCols + c))
          h |= 1L << (r * (GridCols - 1) + c)
        c += 1
      }
      r += 1
    }
    h
  }
}

case class ImageDHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "image_dhash"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"image_dhash needs a binary payload, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    DHashKernel.hash(input.asInstanceOf[Array[Byte]])

  // a single static call keeps the expression inside whole-stage
  // codegen (primitive in/out, no boxing, no interpreted fallback)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, bytes => s"graft.functions.DHashKernel.hash($bytes)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ImageExpressions {
  def imageDHash(c: Column): Column =
    GraftColumnBridge.column(ImageDHash(GraftColumnBridge.expression(c)))
}
