package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The pre-r12 column forms of [[TextFunctions.tokenCount]] and
 *  [[TextFunctions.qualityBp]]: plain column trees, expressible in any SQL
 *  oracle, that the native byte scans replaced. CharStatSpec pins each
 *  native twin to its form bit for bit. */
object TextColumnForms {

  /** [[TextFunctions.tokenCount]] as length arithmetic. */
  def tokenCountColumnForm(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(length(trim(text)) - length(translate(trim(text), " ", "")) + 1)

  /** [[TextFunctions.qualityBp]] as a column tree. */
  def qualityBpColumnForm(text: Column): Column = {
    def idiv(a: Column, b: Column): Column = call_function("div", a, b)
    val ntok = tokenCountColumnForm(text).cast("long")
    val len1 = greatest(length(text).cast("long"), lit(1L))
    val nonspace = length(translate(trim(text), " ", "")).cast("long")
    val m = when(ntok === 0L, 0L).otherwise(idiv(nonspace * 100L, ntok))
    val wordBp = when(m.between(300L, 1000L), 2000L).otherwise(800L)
    val punctBp = when(TextFunctions.punctCount(text).cast("long") * 10L <= len1, 2000L).otherwise(600L)
    // native byte-scan twin of length(regexp_replace(text,'[^a-zA-Z ]',''))
    // — the regexp was 96% of a full-corpus quality scan (see CharStat)
    val alpha = org.apache.spark.sql.graft.ColumnBridge.column(
      AlphaSpaceCountExpr(org.apache.spark.sql.graft.ColumnBridge.expression(text)))
    val num = lit(4000L) * least(ntok, lit(64L)) * len1 +
      (wordBp + punctBp) * 64L * len1 + lit(2000L) * alpha * 64L
    val den = lit(64L) * len1
    idiv(num * 2L + den, den * 2L)
  }
}
