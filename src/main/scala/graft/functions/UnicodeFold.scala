package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode accent-and-case fold as a native Catalyst expression — the
  * canonicalization step in front of exact dedup keys: `café`, `CAFÉ`, and
  * decomposed `cafe´` all fold to `cafe`, so visually-identical documents
  * that differ only in encoding form, diacritics, or case land in the same
  * dedup group. (Exact-hash dedup without this silently treats NFC and NFD
  * spellings of the SAME text as distinct documents — a real gap in
  * web-scraped training corpora, where both forms are common.)
  *
  * Pipeline: NFD-decompose → drop combining marks (category Mn) →
  * lowercase (root locale). This is semantically identical to DuckDB's
  * `lower(strip_accents(nfc_normalize(x)))` on the Latin-script range the
  * dedup gate plants (verified character-by-character: precomposed and
  * decomposed accents, ß, ligatures — both engines also AGREE on what they
  * leave untouched), which is what lets `dedup_unicode_fold` be a full
  * hash oracle rather than a rows-only check.
  *
  * Contract: BMP text (combining marks outside the BMP — e.g. musical
  * symbols — are not stripped; `Character.getType(char)` sees surrogate
  * halves). Codegen calls straight into the compiled kernel, keeping the
  * fold inside whole-stage codegen.
  */
case class UnicodeFold(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "unicode_fold"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${t.catalogString}")
  }

  def kernel(s: UTF8String): UTF8String =
    UTF8String.fromString(UnicodeFold.fold(s.toString))

  override def nullSafeEval(v: Any): Any = kernel(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("fold", this, classOf[UnicodeFold].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $self.kernel($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): UnicodeFold =
    copy(child = newChild)
}

object UnicodeFold {

  def unicodeFold(c: Column): Column =
    org.apache.spark.sql.GraftInternals.column(
      UnicodeFold(org.apache.spark.sql.GraftInternals.expression(c)))

  /** NFD → strip Mn → lowercase. ASCII fast path: text already free of
    * high chars (the overwhelming majority of a real corpus) skips the
    * normalizer allocation entirely.
    */
  def fold(s: String): String = {
    var ascii = true
    var hasUpper = false
    var i = 0
    while (ascii && i < s.length) {
      val c = s.charAt(i)
      if (c >= 0x80) ascii = false
      else if (c >= 'A' && c <= 'Z') hasUpper = true
      i += 1
    }
    if (ascii) return if (hasUpper) s.toLowerCase(java.util.Locale.ROOT) else s
    val d = Normalizer.normalize(s, Normalizer.Form.NFD)
    val sb = new java.lang.StringBuilder(d.length)
    i = 0
    while (i < d.length) {
      val c = d.charAt(i)
      if (Character.getType(c) != Character.NON_SPACING_MARK) sb.append(c)
      i += 1
    }
    sb.toString.toLowerCase(java.util.Locale.ROOT)
  }
}
