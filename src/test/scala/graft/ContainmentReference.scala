package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Doc-in-doc containment as Dedup.gramContainment computed it on a
  * corpus without a duplicate-class membership: pairs straight off the
  * self-join of every document's kept grams, no collapse, no expansion —
  * kept as the independent reference the OpsSpec pin compares the
  * canonical operator against, pair for pair. Never on a query path. */
object ContainmentReference {

  /** (doc_a, doc_b, n_shared, containment) over a DISTINCT (doc_id, gh)
    * gram table: grams with document frequency outside [2, maxDf] are cut
    * first, |G| counts kept grams, containment = round(n_shared /
    * min(|G_a|, |G_b|), 6) ≥ threshold. */
  def direct(grams: DataFrame, maxDf: Long = 64,
             threshold: Double = 0.6): DataFrame = {
    val dfTab = grams.groupBy(col("gh")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
    val kept = grams.join(dfTab.select(col("gh")), "gh")
    val sizes = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("ng"))
    val shared = kept.as("x").join(kept.as("y"),
        col("x.gh") === col("y.gh") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
    val containment = round(col("n_shared").cast("double") /
      least(col("ng_a"), col("ng_b")).cast("double"), 6)
    shared
      .join(sizes.select(col("doc_id").as("doc_a"), col("ng").as("ng_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("ng").as("ng_b")), "doc_b")
      .filter(containment >= threshold)
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        containment.as("containment"))
      .orderBy(col("doc_a"), col("doc_b"))
  }
}
