package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC composition of a string column via the JDK's
  * `java.text.Normalizer` — the first stage of
  * [[TextFunctions.normalizeText]].
  *
  * Why a kernel and not the scalar UDF it replaces: normalizeText runs
  * once per corpus document in every content-keying and curation query
  * (x1's md5 keying, x63/x79/x95), and a Scala UDF there pays closure
  * dispatch + boxing per row and breaks whole-stage codegen fusion around
  * the projection. The normalization itself is one static JDK call; the
  * kernel keeps the surrounding regexp_replace chain inside one fused
  * stage. Deterministic: Normalizer.normalize is a pure function of the
  * codepoint sequence (Unicode normalization is version-stable for
  * assigned codepoints; the JDK pin is the same one x41/x71's
  * literal-oracle discipline documents). */
object NfcNormalize extends Kernel("nfc_normalize", Seq(StringType),
    "a string input", StringType) {

  /** Column form: NFC-composed form of `text`. */
  def apply(text: Column): Column = GraftColumnBridge.column(
    KernelExpression(this, Seq(GraftColumnBridge.expression(text))))

  def eval(in: Array[Any], st: Array[AnyRef]): Any = kernel(in(0).asInstanceOf[UTF8String])

  def kernel(s: UTF8String): UTF8String = UTF8String.fromString(
    java.text.Normalizer.normalize(s.toString, java.text.Normalizer.Form.NFC))
}
