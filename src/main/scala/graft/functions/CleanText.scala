package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native whole-stage-codegen text clean: the F2–F4 strip/collapse/trim
  * chain of [[graft.ops.TextOps.cleanText]] as ONE scan over the UTF-8
  * bytes of its input, in place of two `regexp_replace` passes (each a
  * UTF8String → java String → regex → UTF8String round trip) and a
  * `trim`. Bit-identical to
  * `trim(regexp_replace(regexp_replace(s, TextOps.CleanPattern, ""), "\\s+", " "))`
  * on every string:
  *
  *  - a URL — `http://`, `https://` or `www.` followed by at least one
  *    non-whitespace byte — is dropped up to the next ASCII whitespace,
  *    wherever it starts (the regex tries the URL alternatives at every
  *    position, mid-word included);
  *  - every other byte that is not `[A-Za-z0-9]` or Java `\s`
  *    (`[ \t\n\x0B\f\r]`) is dropped. All bytes ≥ 0x80 are, so a
  *    multi-byte character goes whole, as the regex drops it as one code
  *    point; `\S+` never stops inside one either;
  *  - whitespace runs collapse to one space, none leading or trailing.
  *
  * Lowercasing stays Spark's `lower` in front of the kernel, so the
  * Unicode case mappings that land in ASCII (U+212A → `k`, U+0130 →
  * `i` + U+0307) are Spark's own. A null input yields null.
  *
  * Generated code calls `graft.functions.CleanText.clean` (a static
  * forwarder of the companion object); the interpreted path calls the
  * same method. */
case class CleanText(child: Expression) extends UnaryExpression {

  override def dataType: DataType = child.dataType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"clean_text expects a string input, got ${t.catalogString}")
  }

  override protected def nullSafeEval(s: Any): Any =
    CleanText.clean(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CleanText.clean($c)")

  override protected def withNewChildInternal(newChild: Expression): CleanText =
    copy(child = newChild)

  override def prettyName: String = "clean_text"
}

object CleanText {

  /** Column-API wrapper — the one place the ColumnShim wrapping lives. */
  def column(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.graftshim.ColumnShim.toColumn(
      CleanText(org.apache.spark.sql.graftshim.ColumnShim.toExpression(c)))

  /** Java `\s`: space, \t, \n, \x0B, \f, \r. */
  @inline private def isSpace(b: Byte): Boolean = b == ' ' || (b >= 9 && b <= 13)

  @inline private def isAlnum(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9') || (b >= 'A' && b <= 'Z')

  /** The kernel. One left-to-right scan; the output never grows (each
    * kept byte is one input byte, each space stands for at least one
    * input whitespace byte). */
  def clean(s: UTF8String): UTF8String = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    @inline def at(i: Int): Byte = Platform.getByte(base, off + i)
    def lit(i: Int, p: String): Boolean = {
      var k = 0
      while (k < p.length && i + k < n && at(i + k) == p.charAt(k)) k += 1
      k == p.length
    }
    /** End of the URL starting at `i`, or -1: the regex's `https?://\S+`
      * (the `s` is optional, so `https` falls back to `http` + `s`, which
      * then fails `://`) and `www\.\S+`. */
    def urlEnd(i: Int): Int = {
      val body =
        if (lit(i, "http")) {
          val j = if (i + 4 < n && at(i + 4) == 's') i + 5 else i + 4
          if (lit(j, "://")) j + 3 else -1
        } else if (lit(i, "www.")) i + 4
        else -1
      if (body < 0 || body >= n || isSpace(at(body))) -1
      else {
        var k = body + 1
        while (k < n && !isSpace(at(k))) k += 1
        k
      }
    }
    val out = new Array[Byte](n)
    var o = 0
    var pendingSpace = false
    var i = 0
    while (i < n) {
      val b = at(i)
      if (isSpace(b)) {
        pendingSpace = o > 0
        i += 1
      } else {
        val end = if (b == 'h' || b == 'w') urlEnd(i) else -1
        if (end >= 0) i = end
        else {
          if (isAlnum(b)) {
            if (pendingSpace) { out(o) = ' '; o += 1; pendingSpace = false }
            out(o) = b; o += 1
          }
          i += 1
        }
      }
    }
    UTF8String.fromBytes(out, 0, o)
  }
}
