package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization for web text. A crawl mixes composed
  * (`é` U+00E9) and decomposed (`e` + U+0301) forms freely; every
  * byte-equality downstream — fingerprints, exact dedup, uniqueness keys,
  * shingle hashes — silently treats canonically-equivalent strings as
  * different unless the text is normalized first. Run this BEFORE
  * [[graft.text.TextFunctions.fingerprint]] / dedup when the corpus is
  * not known to be ASCII.
  *
  * Wraps `java.text.Normalizer` (JDK NFC) as a null-safe expression with
  * two fast paths: pure-ASCII input (character count == byte count, by
  * [[CharLength]], which tests eight bytes at a time on ASCII — NFC is
  * the identity there) returns the input with NO String materialization
  * at all, and non-ASCII input that
  * `isNormalized` reports clean skips the normalized-copy allocation
  * (the String conversion for the check itself is unavoidable).
  * CodegenFallback is deliberate: the body is one JDK library call, not
  * a loop codegen could fuse. The driver oracle re-derives results with
  * DuckDB's OWN independent `nfc_normalize` implementation — the
  * same-answer check spans two unrelated Unicode libraries.
  */
case class NfcNormalize(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StringType

  override def nullSafeEval(input: Any): Any = {
    val u = input.asInstanceOf[UTF8String]
    // ASCII (1 byte per char) is NFC by definition: skip even the String
    if (CharLength.of(u) == u.numBytes) return u
    val s = u.toString
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) u
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "nfc_normalize"
}

object UnicodeExpressions {
  def nfcNormalize(c: Column): Column =
    org.apache.spark.sql.GraftColumnShim.column(
      NfcNormalize(org.apache.spark.sql.GraftColumnShim.expression(c)))
}
