package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** 64-bit perceptual hash of an encoded audio clip — the amplitude-
  * envelope analog of the image dHash (the energy-difference scheme
  * underlying public audio fingerprints à la Haitsma-Kalker 2002 /
  * Chromaprint, reduced to one band): decode to 16-bit PCM, reduce the
  * |amplitude| stream to a 65-block envelope (integer block means over
  * floor boundaries, `sum DIV count`), emit one bit per adjacent-block
  * comparison. Re-encoded or mildly-noised copies of the same clip land
  * within a few Hamming bits; unrelated clips sit near the 32-bit
  * expectation — so audio near-dup mining reuses the image pipeline's
  * 8-bit-word banding ([[graft.pipeline.ImageDedup.hamming64NearDuplicates]]).
  *
  * Determinism contract (what the DuckDB oracle replays): |amplitude| of
  * sample `s` is `|s|` with −32768 → 32768; block `b ∈ [0, 65)` covers
  * samples `[b·n/65, (b+1)·n/65)` (integer floor); bit `b` is set iff
  * `env(b) > env(b+1)`. PCM in a WAV container is lossless, so an oracle
  * that regenerates the sample stream replays the hash bit-for-bit.
  * Undecodable or non-16-bit payloads yield NULL (the miner drops them).
  */
object AudioHash {
  val Blocks = 65

  /** |amplitude| stream of a 16-bit PCM payload, or null. */
  def absPcm16(media: Array[Byte]): Array[Int] =
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.BufferedInputStream(new java.io.ByteArrayInputStream(media)))
      try {
        val fmt = in.getFormat
        if (fmt.getSampleSizeInBits != 16) null
        else {
          val bytes = in.readAllBytes()
          val n = bytes.length / 2
          val order = if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
            else java.nio.ByteOrder.LITTLE_ENDIAN
          val buf = java.nio.ByteBuffer.wrap(bytes).order(order).asShortBuffer()
          val out = new Array[Int](n)
          var i = 0
          while (i < n) { out(i) = math.abs(buf.get(i).toInt); i += 1 }
          out
        }
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => null }

  /** Envelope hash over an |amplitude| stream. */
  def hash64FromAbs(a: Array[Int]): Long = {
    val n = a.length
    val env = new Array[Long](Blocks)
    var b = 0
    while (b < Blocks) {
      val i0 = b * n / Blocks; val i1 = (b + 1) * n / Blocks
      var s = 0L; var c = 0L
      var i = i0
      while (i < i1) { s += a(i); c += 1; i += 1 }
      env(b) = if (c == 0) 0L else s / c
      b += 1
    }
    var hash = 0L
    var k = 0
    while (k < 64) {
      if (env(k) > env(k + 1)) hash |= (1L << k)
      k += 1
    }
    hash
  }

  def hash64(media: Array[Byte]): java.lang.Long = {
    val a = absPcm16(media)
    if (a == null || a.length == 0) null
    else java.lang.Long.valueOf(hash64FromAbs(a))
  }
}

case class AudioHashExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    InputType.check(this, "BINARY media") { case BinaryType => }
  override def dataType: DataType = LongType
  // NULL for undecodable payloads even when the input is non-null
  override def nullable: Boolean = true
  override def prettyName: String = "audio_hash"
  override protected def withNewChildInternal(c: Expression): AudioHashExpr = copy(child = c)

  override def nullSafeEval(a: Any): Any =
    AudioHash.hash64(a.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val r = ctx.freshName("r")
      s"""java.lang.Long $r = graft.functions.AudioHash.hash64($a);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.longValue(); }
         |""".stripMargin
    })
}

object AudioHashExpr {
  def apply(media: Column): Column =
    bridge.column(AudioHashExpr(bridge.expression(media)))
}
