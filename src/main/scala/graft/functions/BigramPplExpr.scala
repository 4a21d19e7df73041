package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass hashed-bigram LM scoring: `(n, micro)` where `n` is the
  * bigram count `max(tokens-1, 0)` and `micro` is the exact integer
  * micro-nat sum `Σ num[bucket(bigram)] − Σ den[bucket(context-token)]`
  * against the frozen [[graft.pipeline.LmPpl]] tables.
  *
  * Replaces the `aggregate()` HOF pair in `LmPpl.logPpl` (the last
  * interpreted scorer in the suite after the r14 LangId/DSIR kernels):
  * HOFs are CodegenFallback, so the scoring projection ran interpreted
  * with an md5 per bigram AND per token per lambda reference, plus the
  * zip_with/slice array materializations per row. This kernel is one
  * codegen scan of the lowered text — one md5 per bigram + one per
  * context token, no intermediate arrays.
  *
  * Semantics are bit-identical to the replaced form: tokens are maximal
  * runs of non-`\s` chars (Java `\s` = space \t \n \x0B \f \r) of
  * `lower(text)` (lowercasing never maps to/from whitespace, so
  * UTF8String.toLowerCase-then-scan equals the old lower-then-split —
  * the [[MicroSumExpr]] contract); bigram feature = `"prev cur"`
  * (single 0x20 joint, the `concat_ws(" ", a, b)` bytes); bucket =
  * first 16 md5 bits of the feature's UTF-8 bytes mod table length
  * (`conv(substring(md5(g),1,4),16,10) % B`); the den sum covers every
  * token EXCEPT the last (the bigram contexts); NULL text → `(0, 0)`
  * exactly like the old null-propagating projection (its `_n` fell to
  * `greatest(NULL, 0) = 0` and the `_n < 1` branch ignored `_micro`).
  */
object BigramPpl {
  private val md = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))
  private val SPACE = Array[Byte](' ')

  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

  /** `(n_bigrams, numSum − denSum)` in one scan. */
  def compute(text: UTF8String, num: Array[Long], den: Array[Long]): InternalRow = {
    val out = new GenericInternalRow(2)
    out.setLong(0, 0L)
    out.setLong(1, 0L)
    if (text == null) return out
    val bytes = text.toLowerCase.getBytes
    val n = bytes.length
    val bN = num.length
    val bD = den.length
    val digest = md.get()
    val h = new Array[Byte](16)
    var micro = 0L
    var count = 0L
    var prevS = 0
    var prevE = 0
    var i = 0
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      val start = i
      while (i < n && !isWs(bytes(i))) i += 1
      if (i > start) {
        if (count > 0L) {
          // prev is a context token (not last): den[bucket(prev)]
          digest.reset()
          digest.update(bytes, prevS, prevE - prevS)
          digest.digest(h, 0, 16)
          micro -= den((((h(0) & 0xFF) << 8) | (h(1) & 0xFF)) % bD)
          // bigram "prev cur": num[bucket(prev + ' ' + cur)]
          digest.reset()
          digest.update(bytes, prevS, prevE - prevS)
          digest.update(SPACE)
          digest.update(bytes, start, i - start)
          digest.digest(h, 0, 16)
          micro += num((((h(0) & 0xFF) << 8) | (h(1) & 0xFF)) % bN)
        }
        prevS = start
        prevE = i
        count += 1L
      }
    }
    out.setLong(0, if (count > 1L) count - 1L else 0L)
    out.setLong(1, micro)
    out
  }
}

case class BigramPplExpr(child: Expression, numMicro: Seq[Long],
    denMicro: Seq[Long]) extends UnaryExpression {
  require(numMicro.nonEmpty && denMicro.nonEmpty,
    "bigram_ppl needs non-empty num/den tables")

  @transient private lazy val numArr = numMicro.toArray
  @transient private lazy val denArr = denMicro.toArray

  override def checkInputDataTypes(): TypeCheckResult =
    InputType.check(this, "STRING input") { case StringType => }
  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("micro", LongType, nullable = false)))
  // NULL text scores (0, 0) — the replaced form's `_n` was 0 there and
  // its `_micro` never consumed
  override def nullable: Boolean = false
  override def prettyName: String = "bigram_ppl"
  override protected def withNewChildInternal(c: Expression): BigramPplExpr =
    copy(child = c)

  override def eval(input: InternalRow): Any =
    BigramPpl.compute(child.eval(input).asInstanceOf[UTF8String], numArr, denArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val c = child.genCode(ctx)
    val numRef = ctx.addReferenceObj("pplNum", numArr, "long[]")
    val denRef = ctx.addReferenceObj("pplDen", denArr, "long[]")
    ev.copy(code =
      code"""
        ${c.code}
        org.apache.spark.sql.catalyst.InternalRow ${ev.value} =
          graft.functions.BigramPpl.compute(
            ${c.isNull} ? null : ${c.value}, $numRef, $denRef);""",
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }
}

object BigramPplExpr {
  def apply(text: Column, numMicro: Seq[Long], denMicro: Seq[Long]): Column =
    bridge.column(BigramPplExpr(bridge.expression(text), numMicro, denMicro))
}
