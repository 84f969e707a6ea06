package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass text statistics scanner — the per-turn hot path of the
  * guardian pipeline as ONE custom Catalyst expression with whole-stage
  * codegen, replacing three separate regex passes (email PII, SSN PII,
  * token count) that dominated per-row CPU at 10^12-turn scale.
  *
  * Returns a packed long: (numChars << 32) | (nTokens << 1) | hasPii.
  * Downstream unpacking is shift/mask Column arithmetic (codegen'd).
  *
  * Detection semantics are byte-exact with the regexes they replace
  * (asserted by TextStatsSpec against the regex implementations):
  *  - email: [A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}
  *  - ssn:   \b\d{3}-\d{2}-\d{4}\b
  *  - tokens: count of \S+ runs (Java \s = [ \t\n\x0B\f\r])
  */
object TextScan {

  @inline private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' || b == '\r'
  @inline private def isDigit(b: Byte): Boolean = b >= '0' && b <= '9'
  @inline private def isAlpha(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')
  @inline private def isWord(b: Byte): Boolean =
    isAlpha(b) || isDigit(b) || b == '_'
  @inline private def isLocal(b: Byte): Boolean =
    isAlpha(b) || isDigit(b) || b == '.' || b == '_' || b == '%' || b == '+' || b == '-'
  @inline private def isDomain(b: Byte): Boolean =
    isAlpha(b) || isDigit(b) || b == '.' || b == '-'

  /** True iff an email-shaped substring exists around the '@' at `at`. */
  private def emailAt(s: UTF8String, at: Int, n: Int): Boolean = {
    if (at == 0 || !isLocal(s.getByte(at - 1))) return false
    var end = at + 1
    while (end < n && isDomain(s.getByte(end))) end += 1
    if (end == at + 1) return false
    // need a '.' with ≥1 domain char before it and ≥2 letters after
    var p = at + 2
    while (p < end - 2) {
      if (s.getByte(p) == '.' && isAlpha(s.getByte(p + 1)) && isAlpha(s.getByte(p + 2)))
        return true
      p += 1
    }
    false
  }

  /** True iff \b\d{3}-\d{2}-\d{4}\b matches starting at `i`. */
  private def ssnAt(s: UTF8String, i: Int, n: Int): Boolean = {
    if (i + 11 > n) return false
    if (i > 0 && isWord(s.getByte(i - 1))) return false
    var k = i
    var j = 0
    while (j < 3) { if (!isDigit(s.getByte(k))) return false; k += 1; j += 1 }
    if (s.getByte(k) != '-') return false; k += 1
    j = 0
    while (j < 2) { if (!isDigit(s.getByte(k))) return false; k += 1; j += 1 }
    if (s.getByte(k) != '-') return false; k += 1
    j = 0
    while (j < 4) { if (!isDigit(s.getByte(k))) return false; k += 1; j += 1 }
    k >= n || !isWord(s.getByte(k))
  }

  /** One pass over the UTF-8 bytes. Multi-byte UTF-8 units have the high
    * bit set, so they fall through every ASCII class test and count as
    * plain non-whitespace token bytes — byte-level \S semantics match
    * char-level for these patterns. Characters are counted in the same
    * pass, stepping from each first byte as `UTF8String.numChars` does,
    * so the count equals it on malformed UTF-8 too.
    */
  def pack(s: UTF8String): Long = {
    val n = s.numBytes()
    var chars = 0L
    var nextChar = 0
    var tokens = 0L
    var inTok = false
    var pii = false
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      if (i == nextChar) {
        chars += 1
        nextChar = i + UTF8String.numBytesForFirstByte(b)
      }
      if (isWs(b)) inTok = false
      else {
        if (!inTok) { tokens += 1; inTok = true }
        if (!pii) {
          if (b == '@') pii = emailAt(s, i, n)
          else if (isDigit(b)) pii = ssnAt(s, i, n)
        }
      }
      i += 1
    }
    (chars << 32) | (tokens << 1) | (if (pii) 1L else 0L)
  }
}

/** The Catalyst expression: LongType output, full whole-stage codegen via
  * a static call into TextScan.pack (no boxing, no regex machinery).
  */
case class TextStats(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"text_stats requires a string input, got ${child.dataType}")
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    TextScan.pack(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.TextScan.pack($c)")
  override protected def withNewChildInternal(newChild: Expression): TextStats =
    copy(child = newChild)
  override def prettyName: String = "text_stats"
}
