package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Image-text pair extraction — the multimodal training-pair operator
  * (LAION/DataComp-style): every `<img>` tag in a page yields one
  * `(src, alt, caption)` row, where `caption` is the tag-stripped
  * trimmed text of the img's enclosing BLOCK segment (the same
  * block-boundary segmentation [[HtmlMain]] extracts main content with
  * — `<figure>`-style caption text sits in the img's own block, which
  * is exactly how public alt-text corpora pair captions). One linear
  * scan, same discipline and limits as [[HtmlMain]] (`<script>`/
  * `<style>` skipped; entities and quoted `>` in attributes out of
  * scope). An `<img>` without `src` contributes nothing; a missing
  * `alt` yields `''`.
  *
  * Scale shape: a narrow codegen kernel riding the WARC-response scan —
  * zero shuffle; the downstream `posexplode` + per-URL canonicalize
  * stays in the same stage.
  */
object ImgPairs {
  private val blockTags: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    Seq("html", "head", "body", "title", "p", "div", "h1", "h2", "h3",
      "h4", "h5", "h6", "li", "ul", "ol", "table", "tr", "td", "th", "br",
      "header", "footer", "nav", "aside", "article", "section",
      "blockquote", "pre", "hr", "form", "figure", "figcaption").foreach(s.add)
    s
  }

  /** Value of attribute `name` inside the tag body `tag` (between the
    * tag name and `>`): case-insensitive name, `"` or `'` quoting;
    * null when absent. */
  private def attr(tag: String, name: String): String = {
    val n = tag.length
    var i = 0
    while (i + name.length < n) {
      // attribute name must start after whitespace
      if (Character.isWhitespace(tag.charAt(i))) {
        var j = i + 1
        var ok = true
        var k = 0
        while (ok && k < name.length) {
          if (j + k >= n ||
            Character.toLowerCase(tag.charAt(j + k)) != name.charAt(k)) ok = false
          k += 1
        }
        if (ok) {
          var p = j + name.length
          while (p < n && Character.isWhitespace(tag.charAt(p))) p += 1
          if (p < n && tag.charAt(p) == '=') {
            p += 1
            while (p < n && Character.isWhitespace(tag.charAt(p))) p += 1
            if (p < n && (tag.charAt(p) == '"' || tag.charAt(p) == '\'')) {
              val q = tag.charAt(p)
              val start = p + 1
              val end = tag.indexOf(q, start)
              if (end >= 0) return tag.substring(start, end)
            }
          }
        }
      }
      i += 1
    }
    null
  }

  def extract(html: UTF8String): ArrayData = {
    val s = html.toString
    val out = new java.util.ArrayList[GenericInternalRow]()
    val seg = new java.lang.StringBuilder
    // imgs seen in the current segment, caption assigned at flush
    var pending: List[(String, String)] = Nil
    def flush(): Unit = {
      if (pending.nonEmpty) {
        val caption = seg.toString.trim
        pending.reverse.foreach { case (src, alt) =>
          val r = new GenericInternalRow(3)
          r.update(0, UTF8String.fromString(src))
          r.update(1, UTF8String.fromString(alt))
          r.update(2, UTF8String.fromString(caption))
          out.add(r)
        }
        pending = Nil
      }
      seg.setLength(0)
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
          // skip to the matching close tag (HtmlMain's rule)
          val target = "</" + name
          var p = k
          var found = -1
          while (found < 0 && p <= n - target.length) {
            var q = 0
            var ok = true
            while (ok && q < target.length) {
              if (Character.toLowerCase(s.charAt(p + q)) != target.charAt(q)) ok = false
              q += 1
            }
            if (ok) found = p else p += 1
          }
          if (found < 0) i = n
          else {
            var k2 = found
            while (k2 < n && s.charAt(k2) != '>') k2 += 1
            i = k2 + 1
          }
        } else {
          if (!closing && name == "img") {
            val tagBody = s.substring(j, math.min(k, n))
            val src = attr(tagBody, "src")
            if (src != null) {
              val alt = attr(tagBody, "alt")
              pending = (src, if (alt == null) "" else alt) :: pending
            }
          } else if (blockTags.contains(name)) flush()
          i = k + 1
        }
      } else {
        seg.append(c)
        i += 1
      }
    }
    flush()
    new GenericArrayData(out.toArray)
  }
}

case class ImgPairsExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    InputType.check(this, "STRING input") { case StringType => }
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("src", StringType, nullable = false),
    StructField("alt", StringType, nullable = false),
    StructField("caption", StringType, nullable = false))), containsNull = false)
  override def prettyName: String = "img_pairs"
  override protected def withNewChildInternal(c: Expression): ImgPairsExpr =
    copy(child = c)

  override def nullSafeEval(a: Any): Any =
    ImgPairs.extract(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.ImgPairs.extract($a);")
}

object ImgPairsExpr {
  def apply(html: Column): Column =
    bridge.column(ImgPairsExpr(bridge.expression(html)))
}
