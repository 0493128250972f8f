package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization (UAX #15 canonical composition) as a
  * codegen'd expression — the text-hygiene step that makes visually
  * identical strings byte-identical BEFORE fingerprint/dedup hashing
  * ("café" composed vs decomposed differ in bytes, so exact dedup
  * misses them without this). JDK `java.text.Normalizer` implements
  * the same Unicode algorithm as DuckDB's utf8proc `nfc_normalize`,
  * which the oracle uses (q417 pins the agreement on injected
  * composed/decomposed fixtures).
  */
case class NfcNormalize(child: Expression) extends NativeUnary[UTF8String] {

  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"

  def compute(text: UTF8String): UTF8String = {
    val s = text.toString
    // fast path: NFC-normalized already (true for ASCII) — skip the copy
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) text
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }

  override protected def withNewChildInternal(c: Expression): NfcNormalize =
    copy(child = c)
}

object NfcNormalize {
  def apply(c: Column): Column =
    ColumnBridge.column(NfcNormalize(ColumnBridge.expression(c)))
}
