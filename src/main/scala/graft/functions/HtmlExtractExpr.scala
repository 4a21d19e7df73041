package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** HTML main-content extraction — the step every real pretraining corpus
  * passes through before any text operator (r11 verdict item 4). The
  * heuristic is the public text-density/link-density family (jusText,
  * Pomikálek 2011; Boilerpipe, Kohlschütter WSDM'10), reduced to a
  * deterministic one-pass rule so a SQL oracle can replay it exactly:
  *
  *  1. segment the page at BLOCK-level tag boundaries (p, div, h1-h6,
  *     li, table cells, title, nav/footer/..., open or close; inline
  *     tags like `<a>`/`<b>` do not split);
  *  2. per segment, `t` = tag-stripped trimmed text and `linkChars` =
  *     characters of anchor (`<a>…</a>`) text;
  *  3. KEEP a segment iff `len(t) >= minLen` and
  *     `linkRatio · linkChars < len(t)` (boilerplate chrome is short or
  *     link-dense: navigation, sidebars, footers all fail);
  *  4. output = kept segments joined by `\n`, '' when nothing survives.
  *
  * `<script>`/`<style>` bodies are skipped entirely. One linear pass,
  * no allocation beyond the builders — a narrow codegen kernel riding
  * the scan, zero shuffle at any scale. Not handled (documented): HTML
  * entities, attributes containing a quoted `>`, conditional comments —
  * acceptable for the corpus-cleaning regime, where a mis-split block
  * only shifts a keep decision.
  */
object HtmlMain {
  private val blockTags: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    Seq("html", "head", "body", "title", "p", "div", "h1", "h2", "h3",
      "h4", "h5", "h6", "li", "ul", "ol", "table", "tr", "td", "th", "br",
      "header", "footer", "nav", "aside", "article", "section",
      "blockquote", "pre", "hr", "form").foreach(s.add)
    s
  }

  /** Case-insensitive indexOf of `</name` starting at `from`; -1 if absent. */
  private def closeTagIndex(s: String, name: String, from: Int): Int = {
    val target = "</" + name
    var i = from
    val n = s.length - target.length
    while (i <= n) {
      var j = 0
      var ok = true
      while (ok && j < target.length) {
        if (Character.toLowerCase(s.charAt(i + j)) != target.charAt(j)) ok = false
        j += 1
      }
      if (ok) return i
      i += 1
    }
    -1
  }

  def extract(html: UTF8String, minLen: Int, linkRatio: Int): UTF8String = {
    val s = html.toString
    val out = new java.lang.StringBuilder
    val seg = new java.lang.StringBuilder
    var linkChars = 0
    var anchorDepth = 0
    def flush(): Unit = {
      val t = seg.toString.trim
      if (t.length >= minLen && linkRatio * linkChars < t.length) {
        if (out.length > 0) out.append('\n')
        out.append(t)
      }
      seg.setLength(0)
      linkChars = 0
    }
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c == '<') {
        var j = i + 1
        var closing = false
        if (j < n && s.charAt(j) == '/') { closing = true; j += 1 }
        val nameStart = j
        while (j < n && Character.isLetterOrDigit(s.charAt(j))) j += 1
        val name = s.substring(nameStart, j).toLowerCase(java.util.Locale.ROOT)
        var k = j
        while (k < n && s.charAt(k) != '>') k += 1
        if (!closing && (name == "script" || name == "style")) {
          val close = closeTagIndex(s, name, k)
          if (close < 0) i = n
          else {
            var k2 = close
            while (k2 < n && s.charAt(k2) != '>') k2 += 1
            i = k2 + 1
          }
        } else {
          if (name == "a") {
            if (closing) anchorDepth = math.max(0, anchorDepth - 1)
            else anchorDepth += 1
          } else if (blockTags.contains(name)) flush()
          i = k + 1
        }
      } else {
        seg.append(c)
        if (anchorDepth > 0) linkChars += 1
        i += 1
      }
    }
    flush()
    UTF8String.fromString(out.toString)
  }
}

case class HtmlExtractExpr(child: Expression, minLen: Int, linkRatio: Int)
    extends UnaryExpression {
  require(minLen >= 0, s"minLen must be >= 0, got $minLen")
  require(linkRatio >= 1, s"linkRatio must be >= 1, got $linkRatio")

  override def checkInputDataTypes(): TypeCheckResult =
    InputType.check(this, "STRING input") { case StringType => }
  override def dataType: DataType = StringType
  override def prettyName: String = "html_extract"
  override protected def withNewChildInternal(c: Expression): HtmlExtractExpr =
    copy(child = c)

  override def nullSafeEval(a: Any): Any =
    HtmlMain.extract(a.asInstanceOf[UTF8String], minLen, linkRatio)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.HtmlMain.extract($a, $minLen, $linkRatio);")
}

object HtmlExtractExpr {
  def apply(html: Column, minLen: Int = 20, linkRatio: Int = 3): Column =
    bridge.column(HtmlExtractExpr(bridge.expression(html), minLen, linkRatio))
}
