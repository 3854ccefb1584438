package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization (VERDICT r9 "Next round" #4) — the
  * canonical-composition pass a MULTILINGUAL corpus pipeline needs
  * before hashing/shingling: without it, `e` + COMBINING ACUTE and the
  * precomposed `é` are different byte sequences, so dedup shingles,
  * MinHash signatures, and vocabulary keys silently fragment on any
  * corpus that mixes sources (the temperature-mix keys explicitly
  * target one).
  *
  * Spark has no built-in NFC function; this is the native Catalyst
  * expression route (not a UDF): codegen emits a direct static call to
  * `java.text.Normalizer.normalize(s, NFC)` — the JDK's implementation
  * of the Unicode canonical-composition algorithm, the same spec
  * DuckDB's `nfc_normalize` implements, which is what lets the
  * registered key hash-gate byte-for-byte across engines (TextSpec
  * pins composition, casefold interaction, and idempotence).
  *
  * The `lower` flag fuses a locale-independent, codepoint-wise SIMPLE
  * lowercase (`Character.toLowerCase(int)` over code points — the
  * UnicodeData.txt 1:1 mapping) in front of the composition. Two traps
  * this dodges (ADVICE r10 #3): (a) Spark's own `lower()` falls back
  * to the JVM-default-locale `String.toLowerCase()` for non-ASCII
  * input, so a driver running under tr-TR/az/lt would turn capital I
  * into dotless ı while DuckDB's locale-independent lower yields i;
  * (b) even `String.toLowerCase(Locale.ROOT)` applies Unicode FULL
  * case mapping, which diverges from DuckDB's utf8proc codepoint
  * mapping on inputs like U+0130 İ (full: "i̇", two code points;
  * simple/utf8proc: "i") — the simple mapping is what keeps the
  * byte-exact cross-engine gate honest on arbitrary text, not just
  * the gated corpus (TextSpec pins the İ case).
  */
object Nfc {

  def compute(s: UTF8String): UTF8String = compute(s, false)

  /** Codepoint-wise simple lowercase — utf8proc's (and DuckDB's)
    * mapping. 1:1 on code points by construction, so it can never
    * grow the string the way full case mapping can (ẞ→ss, İ→i̇). */
  private def simpleLower(s: String): String = {
    var i = 0
    val n = s.length
    val sb = new java.lang.StringBuilder(n)
    while (i < n) {
      val cp = s.codePointAt(i)
      sb.appendCodePoint(Character.toLowerCase(cp))
      i += Character.charCount(cp)
    }
    sb.toString
  }

  def compute(s: UTF8String, toLower: Boolean): UTF8String = {
    // ASCII fast path on the raw UTF-8 bytes, BEFORE any String decode
    // (bytes == code points ⟺ pure ASCII, and ASCII is closed under
    // NFC and under simple lowercase — UTF8String.toLowerCase
    // takes its branchless byte path here) — the overwhelming hot path
    // of a text corpus allocates nothing. Non-ASCII rows decode once;
    // already-normalized ones return without a second copy.
    if (s.numBytes == s.numChars)
      return if (toLower) s.toLowerCase else s
    var str = s.toString
    if (toLower) str = simpleLower(str)
    if (java.text.Normalizer.isNormalized(str,
        java.text.Normalizer.Form.NFC)) {
      if (toLower) UTF8String.fromString(str) else s
    } else UTF8String.fromString(java.text.Normalizer.normalize(str,
      java.text.Normalizer.Form.NFC))
  }

  /** Locale-pinned lowercase fused with NFC — what [[graft.ops.Text
    * .normalizeUnicode]] uses instead of Spark's default-locale
    * `lower()`. */
  def nfcLower(c: Column): Column =
    GraftBridge.column(NfcExpr(GraftBridge.expression(c), lower = true))

  /** Make it callable from SQL text: `SELECT nfc_normalize(text)` —
    * the same name DuckDB uses, so SQL snippets port verbatim (pure
    * NFC, no casefold — matching DuckDB's function exactly). */
  def registerSql(spark: org.apache.spark.sql.SparkSession): Unit =
    GraftBridge.registerTempFunction(spark, "nfc_normalize",
      exprs => NfcExpr(exprs.head))
}

case class NfcExpr(child: Expression, lower: Boolean = false)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"nfc_normalize requires a string argument, got ${child.dataType}")
  override def dataType: DataType = child.dataType
  override def prettyName: String = "nfc_normalize"
  override def nullSafeEval(input: Any): Any =
    Nfc.compute(input.asInstanceOf[UTF8String], lower)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Nfc.compute($c, $lower)")
  override protected def withNewChildInternal(newChild: Expression): NfcExpr =
    copy(child = newChild)
}
