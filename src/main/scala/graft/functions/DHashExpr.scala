package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** 64-bit difference hash (dHash) of an encoded image — the public
  * perceptual-hash scheme (Krawetz, "Kind of Like That", 2013; aHash/
  * dHash/pHash family): decode, grayscale, reduce to a 9×8 brightness
  * grid, emit one bit per horizontally-adjacent cell comparison. Two
  * encodings of the SAME picture (re-encode, resize, mild noise) land
  * within a few Hamming bits, so image near-dup mining reduces to the
  * SimHash-family machinery: 8-bit-word banding + packed Hamming verify
  * ([[graft.pipeline.ImageDedup]]).
  *
  * Determinism contract (what the DuckDB oracle replays): grayscale is
  * integer `(r+g+b)/3`; the 9×8 grid cell `(bx, by)` averages the pixel
  * block `x ∈ [bx·w/9, (bx+1)·w/9) × y ∈ [by·h/8, (by+1)·h/8)` (integer
  * floor boundaries) as `sum DIV count`; bit `by·8+bx` is set iff
  * `cell(bx,by) > cell(bx+1,by)`. For lossless formats (PNG) the decoded
  * pixels equal the authored pixels, so an oracle that regenerates the
  * pixel matrix replays the hash bit-for-bit without decoding anything.
  *
  * Undecodable payloads yield NULL (the miner drops them), never an
  * error — corrupt media must not kill a 100 TB scan.
  */
object ImageHash {
  val GridW = 9
  val GridH = 8

  /** dHash over a row-major grayscale matrix (values 0..255). */
  def dHashFromGray(gray: Array[Int], w: Int, h: Int): Long = {
    val m = new Array[Long](GridH * GridW)
    var by = 0
    while (by < GridH) {
      val y0 = by * h / GridH; val y1 = (by + 1) * h / GridH
      var bx = 0
      while (bx < GridW) {
        val x0 = bx * w / GridW; val x1 = (bx + 1) * w / GridW
        var s = 0L; var n = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) { s += gray(y * w + x); n += 1; x += 1 }
          y += 1
        }
        m(by * GridW + bx) = if (n == 0) 0L else s / n
        bx += 1
      }
      by += 1
    }
    var hash = 0L
    var b = 0
    while (b < 64) {
      val row = b / 8; val c = b % 8
      if (m(row * GridW + c) > m(row * GridW + c + 1)) hash |= (1L << b)
      b += 1
    }
    hash
  }

  /** Decode + grayscale + dHash; null when no JDK codec opens the bytes. */
  def dHash(media: Array[Byte]): java.lang.Long = {
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(media))
      catch { case scala.util.control.NonFatal(_) => null }
    if (img == null) return null
    val w = img.getWidth; val h = img.getHeight
    if (w <= 0 || h <= 0) return null
    val gray = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val argb = img.getRGB(x, y)
        val r = (argb >>> 16) & 0xFF; val g = (argb >>> 8) & 0xFF; val b = argb & 0xFF
        gray(y * w + x) = (r + g + b) / 3
        x += 1
      }
      y += 1
    }
    java.lang.Long.valueOf(dHashFromGray(gray, w, h))
  }
}

case class DHashExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    InputType.check(this, "BINARY media") { case BinaryType => }
  override def dataType: DataType = LongType
  // NULL for undecodable payloads even when the input is non-null
  override def nullable: Boolean = true
  override def prettyName: String = "image_dhash"
  override protected def withNewChildInternal(c: Expression): DHashExpr = copy(child = c)

  override def nullSafeEval(a: Any): Any =
    ImageHash.dHash(a.asInstanceOf[Array[Byte]]) // boxed Long or null

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val r = ctx.freshName("r")
      s"""java.lang.Long $r = graft.functions.ImageHash.dHash($a);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.longValue(); }
         |""".stripMargin
    })
}

object DHashExpr {
  def apply(media: Column): Column =
    bridge.column(DHashExpr(bridge.expression(media)))
}
