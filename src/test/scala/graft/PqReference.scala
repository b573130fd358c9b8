package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorExpressions.dotf
import graft.ops.Similarity

/** The PQ/IVF index as it was derived before Similarity.pqIvfIndex trained
  * both quantizers from one corpus read — kept as the independent
  * reference the FunctionsSpec pins compare the builder against, bit for
  * bit. Never on a query path.
  *  - codebook: every ⌈n/codebookK⌉-th vector seeds it, codes from a
  *    row_number window over the seeds in vec_id order, sub-slices by
  *    explode(sequence);
  *  - centroids: the `vec_id % ⌈√n⌉ = 0` rows with their sqrt(dotf) norm;
  *  - cells: Similarity.ivfAssign over those centroids;
  *  - codes: the row-stream encode — crossJoin against the codebook rows,
  *    per-(vector, subspace) packed min, two partial aggregates — the
  *    arithmetic the native pq_packed_cp fold must agree with;
  *  - foldHof: the higher-order ADC fold the native pq_fold_sum replaced.
  */
object PqReference {

  /** (codebook, codes, cells, cent) for `corpus`. */
  def index(corpus: DataFrame, subspaces: Int = 8, codebookK: Int = 16)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val n = corpus.count()
    val d = corpus.select(size(col("embedding"))).head().getInt(0)
    require(d % subspaces == 0, s"dim $d not divisible into $subspaces subspaces")
    val subDim = d / subspaces
    val cb = codebook(corpus, subspaces, subDim, codebookK)
    val centroidEvery = Similarity.autoCentroidEvery(n)
    (cb, encodeExploded(corpus, broadcast(cb), subDim),
      Similarity.ivfAssign(corpus, centroidEvery).select(col("vec_id"), col("c_id")),
      centroids(corpus, centroidEvery))
  }

  def codebook(corpus: DataFrame, subspaces: Int, subDim: Int,
               codebookK: Int): DataFrame = {
    val every = math.max(1L, math.ceil(corpus.count().toDouble / codebookK).toLong)
    val wSeed = Window.orderBy(col("c_vid"))
    corpus.filter(col("vec_id") % every === 0)
      .select(col("vec_id").as("c_vid"), col("embedding").as("c_emb"))
      .withColumn("code", row_number().over(wSeed).cast("long") - 1)
      .select(col("code"), col("c_emb"),
        explode(sequence(lit(0L), lit(subspaces - 1L))).as("m"))
      .select(col("m"), col("code"),
        expr(s"slice(c_emb, CAST(m * $subDim + 1 AS INT), $subDim)").as("c_sub"))
      .withColumn("cn2", dotf(col("c_sub"), col("c_sub")))
  }

  def centroids(corpus: DataFrame, centroidEvery: Int): DataFrame =
    corpus.filter(col("vec_id") % centroidEvery === 0)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
        sqrt(dotf(col("embedding"), col("embedding"))).as("c_nrm"))

  def encodeExploded(corpus: DataFrame, cb: DataFrame, subDim: Int): DataFrame = {
    val bias = 1000000000000L
    val vSub = expr(s"slice(embedding, CAST(m * $subDim + 1 AS INT), $subDim)")
    val pk = (round((col("cn2") - lit(2.0) * dotf(vSub, col("c_sub"))) * 1e6, 0)
      .cast("long") + bias) * 256L + col("code")
    corpus.select(col("vec_id"), col("embedding"))
      .crossJoin(cb)
      .groupBy(col("vec_id"), col("m")).agg(min(pk).as("pk"))
      .groupBy(col("vec_id"))
      .agg(sum(expr("(pk % 256) * shiftleft(1L, CAST(8 * m AS INT))")).as("cp"))
  }

  def foldHof(arr: String, s: Long, subspaces: Int): Column =
    expr(s"""aggregate(
      transform(sequence(0, ${subspaces - 1}),
        m -> element_at($arr, CAST(m * $s + (shiftright(cp, CAST(8 * m AS INT)) % 256) + 1 AS INT))),
      CAST(0 AS DOUBLE), (a, x) -> a + x)""")
}
