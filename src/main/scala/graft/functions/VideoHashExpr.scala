package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** 64-bit perceptual CLIP hash of an MJPEG/MPNG-in-AVI video payload:
  * per-frame dHash ([[ImageHash]], Krawetz 2013) folded by TEMPORAL
  * MAJORITY — bit b of the clip hash is set iff a strict majority of
  * decodable frames set bit b of their frame hash. The temporal-majority
  * fold is the classic robust video-signature reduction (cf. the TIRI /
  * temporally-representative-image family, Esmaeili et al. IEEE TIFS
  * 2011): re-encoded, mildly-noised or few-frames-dropped copies of one
  * clip keep a near-identical majority vote, while distinct clips sit
  * near the 32-bit random expectation — so video near-dup mining reduces
  * to the same 8-bit-word banding machinery as image/audio
  * ([[graft.pipeline.ImageDedup.hamming64NearDuplicates]]).
  *
  * Strictness contract (what the SQL oracle replays): with F decodable
  * frames, bit b is set iff `2 * count_f[bit b set] > F` — an exact-half
  * tie clears the bit. Undecodable payloads and clips with zero
  * decodable frames yield NULL (a corrupt clip must not kill a 100 TB
  * scan); undecodable INDIVIDUAL frames simply leave the vote.
  */
object VideoHash {

  /** Majority fold over per-frame hashes. */
  def majority(hashes: Seq[Long]): Long = {
    val f = hashes.size
    var out = 0L
    var b = 0
    while (b < 64) {
      var cnt = 0
      hashes.foreach(h => if (((h >>> b) & 1L) == 1L) cnt += 1)
      if (2 * cnt > f) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Decode the AVI, dHash each decodable frame, majority-fold. */
  def clipHash(media: Array[Byte]): java.lang.Long =
    graft.pipeline.Multimodal.decodeAviFrames(media) match {
      case None => null
      case Some(frames) =>
        val hs = frames.flatMap(f => Option(ImageHash.dHash(f)).map(_.longValue()))
        if (hs.isEmpty) null else java.lang.Long.valueOf(majority(hs))
    }
}

case class VideoHashExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    InputType.check(this, "BINARY media") { case BinaryType => }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "video_phash"
  override protected def withNewChildInternal(c: Expression): VideoHashExpr =
    copy(child = c)

  override def nullSafeEval(a: Any): Any =
    VideoHash.clipHash(a.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val r = ctx.freshName("r")
      s"""java.lang.Long $r = graft.functions.VideoHash.clipHash($a);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.longValue(); }
         |""".stripMargin
    })
}

object VideoHashExpr {
  def apply(media: Column): Column =
    bridge.column(VideoHashExpr(bridge.expression(media)))
}
