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
  *  - foldHof: the higher-order ADC fold the native pq_fold_sum replaced;
  *  - lut / cxl: the per-query LUT and per-cell reconstructed-norm tables
  *    as a crossJoin against the codebook rows, a collect_list and an
  *    array_sort by idx — what Similarity.pqLut / cxlTable build in-row.
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

  /** (q_id, q_nrm, lut): lut[m·S + code] = dotf(q's m-th slice, c_sub). */
  def lut(queries: DataFrame, cb: DataFrame, s: Long, subDim: Int): DataFrame =
    queries
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        sqrt(dotf(col("embedding"), col("embedding"))).as("q_nrm"))
      .crossJoin(cb)
      .select(col("q_id"), col("q_nrm"), (col("m") * s + col("code")).as("idx"),
        dotf(expr(s"slice(q_emb, CAST(m * $subDim + 1 AS INT), $subDim)"),
          col("c_sub")).as("dv"))
      .groupBy(col("q_id"), col("q_nrm"))
      .agg(array_sort(collect_list(struct(col("idx"), col("dv")))).as("p"))
      .select(col("q_id"), col("q_nrm"),
        transform(col("p"), x => x.getField("dv")).as("lut"))

  /** (c_id, cn2c, cxl): cxl[m·S + code] = 2·dotf(c's m-th slice, c_sub)
    * + cn2. */
  def cxl(cent: DataFrame, cb: DataFrame, s: Long, subDim: Int): DataFrame =
    cent
      .select(col("c_id"), col("c_emb"),
        dotf(col("c_emb"), col("c_emb")).as("cn2c"))
      .crossJoin(cb)
      .select(col("c_id"), col("cn2c"), (col("m") * s + col("code")).as("idx"),
        (lit(2.0) * dotf(
          expr(s"slice(c_emb, CAST(m * $subDim + 1 AS INT), $subDim)"),
          col("c_sub")) + col("cn2")).as("cx"))
      .groupBy(col("c_id"), col("cn2c"))
      .agg(array_sort(collect_list(struct(col("idx"), col("cx")))).as("p"))
      .select(col("c_id"), col("cn2c"),
        transform(col("p"), x => x.getField("cx")).as("cxl"))
}
