package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass multinomial-NB language scoring: `(lang_pred, best_micro)`
  * for a text against the fitted [[graft.pipeline.LangId.Model]] — all
  * classes scored in a SINGLE scan of the text's char trigrams, one md5
  * per gram.
  *
  * This replaces the column-expression form (per-class `aggregate` HOFs
  * argmax-folded with `when` chains), which was the slowest scan in the
  * suite by an order of magnitude: higher-order functions are
  * CodegenFallback, so the whole projection ran interpreted with NO
  * subexpression elimination — the `when` argmax fold re-evaluated the
  * per-class aggregates O(2^classes) times per row, each evaluation
  * re-hashing every trigram (measured: pipeline_e2e_langid 24.3 s at
  * sf0.1, ~12 interpreted gram-scans per row; this kernel scans once).
  *
  * Semantics are bit-identical to the replaced form and to the SQL
  * oracle: grams are code-point windows of width 3 (`substring(t, i, 3)`
  * — texts shorter than 3 code points, and NULL texts, have no grams and
  * score prior-only); bucket = first 16 bits of md5(gram's UTF-8 bytes)
  * mod `buckets` (`conv(substring(md5(g),1,4),16,10) % B`); scores are
  * exact integer micro-nat sums; argmax ties break to the FIRST (classes
  * are sorted ascending, so asc-name — the `row_number ... ORDER BY micro
  * DESC, pc ASC` contract).
  */
object LangScore {
  private val md = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  /** Per-class micro-nat scores (priors + gram-weight sums), one text
    * scan. `weights` is classes × buckets. */
  def scores(text: UTF8String, priors: Array[Long],
      weights: Array[Array[Long]]): Array[Long] = {
    val nClasses = priors.length
    val acc = java.util.Arrays.copyOf(priors, nClasses)
    if (text == null) return acc
    val bytes = text.getBytes
    val nBytes = bytes.length
    if (nBytes < 3) return acc // < 3 bytes implies < 3 code points
    val buckets = weights(0).length
    // code-point start offsets (UTF-8: a start byte is not 10xxxxxx)
    val offs = new Array[Int](nBytes + 1)
    var n = 0
    var i = 0
    while (i < nBytes) {
      if ((bytes(i) & 0xC0) != 0x80) { offs(n) = i; n += 1 }
      i += 1
    }
    offs(n) = nBytes
    if (n < 3) return acc
    val digest = md.get()
    val out = new Array[Byte](16)
    var g = 0
    while (g <= n - 3) {
      digest.reset()
      digest.update(bytes, offs(g), offs(g + 3) - offs(g))
      digest.digest(out, 0, 16)
      val b = (((out(0) & 0xFF) << 8) | (out(1) & 0xFF)) % buckets
      var c = 0
      while (c < nClasses) { acc(c) += weights(c)(b); c += 1 }
      g += 1
    }
    acc
  }

  /** `(first-argmax class name, max score)` as an InternalRow. */
  def score(text: UTF8String, classNames: Array[UTF8String],
      priors: Array[Long], weights: Array[Array[Long]]): InternalRow = {
    val s = scores(text, priors, weights)
    var best = 0
    var i = 1
    while (i < s.length) { if (s(i) > s(best)) best = i; i += 1 }
    val out = new GenericInternalRow(2)
    out.update(0, classNames(best))
    out.update(1, s(best))
    out
  }
}

case class LangScoreExpr(child: Expression, classes: Seq[String],
    priorsMicro: Seq[Long], weightsMicro: Seq[Seq[Long]])
    extends UnaryExpression {
  require(classes.nonEmpty && classes.size == priorsMicro.size &&
    classes.size == weightsMicro.size,
    s"lang_score needs aligned classes/priors/weights, got ${classes.size}/" +
      s"${priorsMicro.size}/${weightsMicro.size}")

  @transient private lazy val classNames =
    classes.map(UTF8String.fromString).toArray
  @transient private lazy val priorsArr = priorsMicro.toArray
  @transient private lazy val weightsArr = weightsMicro.map(_.toArray).toArray

  override def checkInputDataTypes(): TypeCheckResult =
    InputType.check(this, "STRING input") { case StringType => }
  override def dataType: DataType = StructType(Seq(
    StructField("lang_pred", StringType, nullable = false),
    StructField("best_micro", LongType, nullable = false)))
  // a NULL text scores prior-only (the replaced column form's
  // charGrams(NULL) → empty-array → aggregate-over-nothing behavior)
  override def nullable: Boolean = false
  override def prettyName: String = "lang_score"
  override protected def withNewChildInternal(c: Expression): LangScoreExpr = copy(child = c)

  override def eval(input: InternalRow): Any =
    LangScore.score(child.eval(input).asInstanceOf[UTF8String],
      classNames, priorsArr, weightsArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val c = child.genCode(ctx)
    val namesRef = ctx.addReferenceObj("langClassNames", classNames,
      "org.apache.spark.unsafe.types.UTF8String[]")
    val priorsRef = ctx.addReferenceObj("langPriors", priorsArr, "long[]")
    val weightsRef = ctx.addReferenceObj("langWeights", weightsArr, "long[][]")
    ev.copy(code =
      code"""
        ${c.code}
        org.apache.spark.sql.catalyst.InternalRow ${ev.value} =
          graft.functions.LangScore.score(
            ${c.isNull} ? null : ${c.value}, $namesRef, $priorsRef, $weightsRef);""",
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }
}

object LangScoreExpr {
  def apply(text: Column, classes: Seq[String], priorsMicro: Seq[Long],
      weightsMicro: Seq[Seq[Long]]): Column =
    bridge.column(LangScoreExpr(bridge.expression(text), classes,
      priorsMicro, weightsMicro))
}
