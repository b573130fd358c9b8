package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The per-document phash table as Multimodal.phashTable built it before
  * the hash folded in-row through StringExpressions.phashWords — kept as
  * the independent reference the FunctionsSpec pin compares the native
  * fold against, word for word. Never on a query path. */
object PhashReference {

  /** (doc_id, b0..b{bits/16−1}) by a per-character explode, two groupBys
    * and a pivot. */
  def table(docs: DataFrame, bits: Int): DataFrame = {
    require(bits % 16 == 0, s"hash width $bits not a multiple of the 16-bit word")
    val nWords = bits / 16
    val cs = docs
      .select(col("doc_id"), length(col("text")).as("L"),
        posexplode(split(col("text"), "")).as(Seq("p0", "ch")))
      .select(col("doc_id"), col("L"),
        expr(s"(p0 * $bits) DIV L").as("k"), ascii(col("ch")).as("c"))
      .groupBy(col("doc_id"), col("k"))
      .agg(sum(col("c")).as("s"), count(lit(1)).as("n"))
    val tot = cs.groupBy(col("doc_id"))
      .agg(sum(col("s")).as("total"), sum(col("n")).as("lt"))
    val words = cs.join(tot, "doc_id")
      .select(col("doc_id"), expr("k DIV 16").as("j"),
        when(col("s") * col("lt") > col("total") * col("n"), 1L)
          .otherwise(0L).as("bit"),
        col("k"))
      .groupBy(col("doc_id"), col("j"))
      .agg(sum(expr("bit * shiftleft(1L, CAST(k % 16 AS INT))")).as("band"))
    // coalesce densifies: a doc shorter than nWords characters maps no
    // block into some subindex word, so the pivot would yield NULL b_j —
    // and every downstream join (canonicalize groupBy is fine, but the
    // null-unsafe membership equi-join and the MIH probe join are not)
    // would silently drop the doc, even from exact-dup pairs. An empty
    // word is semantically all-zero bits (no block mean exceeded).
    val bandCols = (0 until nWords).map(j =>
      coalesce(max(when(col("j") === j, col("band"))), lit(0L)).as(s"b$j"))
    words.groupBy(col("doc_id")).agg(bandCols.head, bandCols.tail: _*)
  }
}
