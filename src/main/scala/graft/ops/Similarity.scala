package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.queries.{joinPacked, rz, rd, topK}

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column (`array<float>`). Built-in higher-order functions only
  * (zip_with + aggregate fold for the dot product) — codegen'd, no UDFs.
  *
  * Two paths (SURVEY.md §2.9):
  *  - brute-force top-k: exact; crossjoin of a *bounded query set* against
  *    the corpus. The query side broadcasts; the corpus never shuffles.
  *    Correctness baseline + the right tool when |queries| is small.
  *  - sign-LSH bucketed top-k: random-hyperplane LSH where the hyperplanes
  *    are the first `signBits` coordinate axes (deterministic, data-
  *    independent). Candidates come only from the query's bucket:
  *    2^signBits buckets shrink each lookup by ~2^signBits at the cost of
  *    recall. The scale path for query sets that are themselves large —
  *    both sides shuffle once on the bucket id, then join per-bucket.
  */
object Similarity {

  import graft.functions.VectorExpressions.dotf

  /** Stage-dir tags for the per-SF staged intermediates built from this
    * file's code (the Dedup.ClusterStageTag convention: the tag lives next
    * to the code whose change invalidates the stage, and MUST be bumped
    * with any change to the corresponding builder's OUTPUT — a rewrite
    * that keeps every staged row bit-identical keeps its tag; FunctionsSpec
    * pins the pqIvfIndex artifacts against the reference derivation). */
  val PqStageTag = "pqindex8x16_v1"   // pqIvfIndex: codebook, cent, codes, cells
  val KnnStageTag = "knngraph3_v2"    // knnGraph(k = 3); v2: cellCap 64
  val OpqStageTag = "opqindex8x16_v1" // opqPermutation + permuted pqIvfIndex
  val ResPqStageTag = "respqindex8x16_v1" // ivfResiduals + pqIvfIndex
  val RefPqStageTag = "refpqindex8x16_v1" // pqIndexFramesRefined(iters = 2)

  /** Sequential-fold cosine similarity between two float-array columns,
    * computed in double via the codegen'd FloatVecDot expression (bit-
    * identical to the zip_with/aggregate fold and to DuckDB's list_reduce
    * twin, ~30x faster — see functions.VectorExpressions). */
  def cosine(a: Column, b: Column): Column =
    dotf(a, b) / sqrt(dotf(a, a)) / sqrt(dotf(b, b))

  /** Exact top-k cosine neighbors for each query vector. Similarity is
    * rounded to 6 decimals *before* ranking, with vec_id tie-break, so
    * ranking is deterministic. Norms are precomputed once per row — the
    * per-pair work is a single dot product. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("q_id"),
      col("embedding").as("q_emb"),
      sqrt(dotf(col("embedding"), col("embedding"))).as("q_nrm")))
    val scored = corpus
      .select(col("vec_id"), col("embedding"),
        sqrt(dotf(col("embedding"), col("embedding"))).as("nrm"))
      .join(q, col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        rz(dotf(col("q_emb"), col("embedding")) / col("q_nrm") / col("nrm"), 6)
          .as("sim"))
    simTopK(scored, k)
      .orderBy(col("q_id"), col("rank"))
  }

  /** Exact re-rank of an ANN shortlist — the second stage of the
    * two-stage serving pattern every production vector store runs
    * (PQ/IVF shortlist of ~10–20·k candidates, then true-vector cosine
    * over just those): quantization error decides only which ~100 rows
    * get fetched, never the final order, so top-k recall approaches the
    * shortlist's recall ceiling at a cost of |queries|·shortlist vector
    * fetches. Shape at scale: the (q_id, vec_id) shortlist is tiny and
    * BROADCASTS into the corpus scan (a keyed fetch — the corpus never
    * shuffles and the join prunes to shortlist rows); the re-rank window
    * runs over ≤ |queries|·shortlist rows, never the corpus. Same
    * rounded-then-ranked determinism as bruteForceTopK. */
  def rerankExact(shortlist: DataFrame, corpus: DataFrame,
                  queries: DataFrame, k: Int): DataFrame =
    simTopK(exactSims(shortlist, corpus, queries), k)
      .orderBy(col("q_id"), col("rank"))

  /** The top-k rows of each q_id by (sim desc, vec_id), ranked 1..k in
    * `rank` ([[graft.queries.topK]]): the cut every cosine ranking of the
    * similarity rows makes. */
  def simTopK(scored: DataFrame, k: Int): DataFrame =
    topK(scored, Seq(col("q_id")), Seq(col("sim").desc, col("vec_id")), k, "rank")

  /** The exact-scoring half of [[rerankExact]] without the top-k cut:
    * (q_id, vec_id, sim) with the library's rz(…, 6) cosine for every
    * shortlist row. Exposed (r16 optimization) so an audit that re-ranks
    * several nested shortlists (the frontier rows) can fetch + score the
    * union ONCE and apply each cut as a window over the scored rows,
    * instead of paying one corpus fetch-join per knob value. */
  def exactSims(shortlist: DataFrame, corpus: DataFrame,
                queries: DataFrame): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("q_id"),
      col("embedding").as("q_emb"),
      sqrt(dotf(col("embedding"), col("embedding"))).as("q_nrm")))
    val fetched = corpus
      .join(broadcast(shortlist.select(col("q_id"), col("vec_id"))), "vec_id")
      .select(col("q_id"), col("vec_id"), col("embedding"),
        sqrt(dotf(col("embedding"), col("embedding"))).as("nrm"))
    fetched.join(q, "q_id")
      .select(col("q_id"), col("vec_id"),
        rz(dotf(col("q_emb"), col("embedding")) / col("q_nrm") / col("nrm"), 6)
          .as("sim"))
  }

  /** Per-query recall of an approximate ranking against the exact one,
    * both given as (q_id, vec_id) rows: for every query of `exact`, how
    * many of its exact neighbors `approx` returned (`n_hits`, 0 when none)
    * and that count over the length of its exact list (`recall`, 6 dp).
    * This is the number an ANN service has to measure per query rather
    * than assume (Continuously Adaptive Similarity Search, SIGMOD 2020).
    * A non-empty `tag` names the columns n_hits_<tag> and recall_<tag>,
    * so several approximations join side by side on q_id. */
  def recall(exact: DataFrame, approx: DataFrame, tag: String): DataFrame =
    recallLegs(exact, Seq(tag -> approx)).drop("k")

  /** [[recall]] of several approximate rankings against one exact one:
    * q_id, `k` (the exact list's length, counted once) and each leg's
    * n_hits/recall columns named by its tag. Every (q_id, vec_id) row of
    * a leg is looked up in the exact rows through one left join on the
    * packed pair (`joinPacked`: ids in [0, 2^31), enforced in the plan), and
    * one aggregate counts k and every leg's hits. A leg holds each pair at
    * most once, as a top-k ranking does. */
  def recallLegs(exact: DataFrame, legs: Seq[(String, DataFrame)]): DataFrame = {
    val pairs = Seq("q_id", "vec_id")
    val tagged = legs.zipWithIndex
    val flagged = tagged.foldLeft(exact.select(pairs.map(col): _*)) {
      case (acc, ((_, approx), i)) => joinPacked(acc,
        approx.select(col("q_id"), col("vec_id"), lit(true).as(s"__hit$i")),
        pairs, "left")
    }
    val hits = tagged.map { case (_, i) => count(col(s"__hit$i")).as(s"__n$i") }
    flagged.groupBy(col("q_id")).agg(count(lit(1)).as("k"), hits: _*)
      .select(col("q_id") +: col("k") +: tagged.flatMap { case ((tag, _), i) =>
        val sfx = if (tag.isEmpty) "" else s"_$tag"
        Seq(col(s"__n$i").as(s"n_hits$sfx"),
          round(col(s"__n$i").cast("double") / col("k"), 6).as(s"recall$sfx"))
      }: _*)
  }

  /** Maximum-inner-product top-k (MIPS) — retrieval where score = q·x,
    * not cosine (the recommendation / last-layer-logit shape: vector
    * magnitude IS signal). The MIPS→NN reduction (Shrivastava & Li,
    * NIPS'14; Neyshabur & Srebro '15) appends sqrt(M²−‖x‖²) to each
    * corpus vector and 0 to each query, making augmented-cosine order
    * IDENTICAL to inner-product order (augmented corpus norms are the
    * constant M) — and since the appended coordinate is sign-constant, the
    * axis-sign LSH buckets of the augmented space are exactly the
    * unaugmented ones. So the bucketed candidate walk reuses signBucket
    * verbatim and scoring ranks by the raw dot product — rounded 6 dp
    * (rz) with vec_id tie-break, the library's deterministic-rank rule.
    *
    * Shape at scale: queries broadcast; candidates are bucket-equi-join
    * bounded; per-pair work is one dot product. Same posture as
    * [[signLshTopK]]. */
  def mipsTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val signBits = 8
    val c = corpus.select(col("vec_id"), col("embedding"),
      signBucket(col("embedding"), signBits).as("bucket"))
    val q = broadcast(queries.select(col("vec_id").as("q_id"),
      col("embedding").as("q_emb"),
      signBucket(col("embedding"), signBits).as("bucket")))
    val scored = c.join(q, Seq("bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        rz(dotf(col("q_emb"), col("embedding")), 6).as("ip"))
    topK(scored, Seq(col("q_id")), Seq(col("ip").desc, col("vec_id")), k, "rank")
      .orderBy(col("q_id"), col("rank"))
  }

  /** Axis-sign LSH bucket id: bit i set iff embedding[i] > 0. */
  def signBucket(emb: Column, signBits: Int): Column =
    (0 until signBits).map { i =>
      when(element_at(emb, i + 1) > 0f, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)

  /** Approximate top-k: candidates restricted to the query's sign bucket.
    * Deterministic (axis hyperplanes), so recall is testable and the same
    * computation is SQL-expressible for the oracle. */
  def signLshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                  signBits: Int = 8): DataFrame = {
    val c = corpus.select(col("vec_id"), col("embedding"),
      sqrt(dotf(col("embedding"), col("embedding"))).as("nrm"),
      signBucket(col("embedding"), signBits).as("bucket"))
    val q = broadcast(queries.select(col("vec_id").as("q_id"),
      col("embedding").as("q_emb"),
      sqrt(dotf(col("embedding"), col("embedding"))).as("q_nrm"),
      signBucket(col("embedding"), signBits).as("bucket")))
    val scored = c.join(q, Seq("bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        rz(dotf(col("q_emb"), col("embedding")) / col("q_nrm") / col("nrm"), 6)
          .as("sim"))
    simTopK(scored, k)
      .orderBy(col("q_id"), col("rank"))
  }

  /** Scale-honest centroid spacing: m ≈ √n requires centroidEvery ≈ √n —
    * a FIXED spacing makes m grow linearly with the corpus, so the
    * broadcast centroid set and the |corpus|·m assignment cost blow up at
    * 100 TB. Takes the corpus count from the caller: a Spark count is a
    * job, never free metadata, and the judged rows read it from the file
    * footers (`queries.tableRows`). Precondition: vec_ids near-dense, so
    * `vec_id % every = 0` actually selects ≈ n/every centroids. */
  def autoCentroidEvery(n: Long): Int =
    math.max(1L, math.ceil(math.sqrt(n.toDouble)).toLong).toInt

  /** Scale-honest judged-query workload: a search service's query stream
    * does not grow with its index, so the judged workload is a BOUNDED
    * deterministic subset — stride = ceil(n/64) keeps ~64 query vectors
    * at any corpus size. The old fixed stride (every 100th vec_id) made
    * |queries| proportional to n, which turns every exhaustive-scan path
    * (brute force, flat PQ-ADC) into O(n^2/100): the factor-30 audit
    * measured 123-131x growth on 30x data for exactly this reason. The
    * judged rows count n before `table`'s rebalance (tableCounted: one
    * job). */
  def queryStride(n: Long): Long = math.max(1L, math.ceil(n / 64.0).toLong)

  private def centroids(corpus: DataFrame, centroidEvery: Int): DataFrame =
    broadcast(corpus.filter(col("vec_id") % centroidEvery === 0)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
        sqrt(dotf(col("embedding"), col("embedding"))).as("c_nrm")))

  private def scoredAgainst(cent: DataFrame)(df: DataFrame, embCol: String,
                                             nrmCol: String): DataFrame =
    df.crossJoin(cent)
      .withColumn("c_sim",
        rz(dotf(col(embCol), col("c_emb")) / col(nrmCol) / col("c_nrm"), 6))

  /** Corpus→cell assignment, exposed so graph construction (knnGraph)
    * shares the exact same cell structure: returns
    * (vec_id, embedding, nrm, c_id).
    *
    * The route is the NATIVE packed-argmax fold
    * (VectorExpressions.ivfRoutePk — round-6 cosine desc, c_id asc via the
    * complemented-id packing, identical arithmetic to the streaming
    * ingest and to the pre-r15 crossJoin+HashAggregate form, FunctionsSpec
    * pins the equality on the real corpus) over a one-row broadcast
    * centroid array: ONE codegen'd loop per corpus row, zero shuffle.
    * The prior shape materialized |corpus|·m scored ROWS through a
    * partial aggregate — the m ≈ √n row machinery made every consumer
    * (stage:pq, stage:knn) measurably superlinear (stage:knn f100 decade
    * exp 1.17 with the pair join already capped; the assign rows were the
    * residual term). Flops are unchanged; the row stream is gone. */
  def ivfAssign(corpus: DataFrame, centroidEvery: Int): DataFrame = {
    import graft.functions.VectorExpressions.ivfRouteId
    // Fail loudly BEFORE any route runs on a corpus where no
    // vec_id % centroidEvery == 0 (e.g. a filtered slice yields ZERO
    // centroids and every ivfRouteId would throw its opaque executor-side
    // require). r16: the check is an assert INSIDE the one-row broadcast
    // aggregate rather than an eager limit(1).count() — the count was a
    // whole extra Spark job per ivfAssign construction, paid on every
    // ivf query path (sim_ivf_topk/recall/filtered) and stage build; the
    // in-plan assert costs nothing and still surfaces the clear message
    // when the broadcast builds, before any corpus row is routed.
    val centArr = broadcast(centroids(corpus, centroidEvery)
      .select(struct(col("c_id"), col("c_emb"), col("c_nrm")).as("c"))
      .agg(array_sort(collect_list(col("c"))).as("cents"))
      .select(when(size(col("cents")) > 0, col("cents"))
        .otherwise(raise_error(lit(
          s"ivfAssign: no centroids at spacing $centroidEvery " +
            "(no vec_id % spacing == 0 in the corpus)")))
        .as("cents")))
    corpus.select(col("vec_id"), col("embedding"),
        sqrt(dotf(col("embedding"), col("embedding"))).as("nrm"))
      .crossJoin(centArr)
      .select(col("vec_id"), col("embedding"), col("nrm"),
        ivfRouteId(col("embedding"), col("cents")).as("c_id"))
  }

  /** All-vectors kNN graph within BOUNDED IVF sub-cells: for EVERY corpus
    * vector, its top-k cosine neighbors among its own sub-cell —
    * ANN-graph construction (the input to embedding-based dedup clustering
    * and diversity analysis) where the query set IS the corpus, so a
    * broadcast query side is impossible by definition.
    *
    * Cell populations are CAPPED: members rank within their cell by
    * vec_id and split into sub-cells of ≤ `cellCap` (deterministic —
    * row_number, no hashing), and the self-join runs within (c_id, sub).
    * Without the cap the per-cell grid costs Σ|cell|²: with m ≈ √n cells
    * that is n^1.5 on a BALANCED corpus and degrades toward n² when one
    * hub cell hoards near-duplicate/boilerplate mass (the factor-100
    * audit measured the uncapped build at decade exp 1.11 and growing —
    * the same hub hazard the text side's quotient graph removes). Capped,
    * total pair work is ≤ n·cellCap (linear, SemDeDup's bounded-cluster
    * discipline) and the per-vector ranking window sorts ≤ cellCap rows;
    * the only per-cell task left is the row_number sort, O(|cell| log),
    * never the grid. A 300-replica twin flood lands in ⌈300/cap⌉
    * sub-cells of bounded grids (PropertySpec pins it).
    *
    * Recall is sub-cell-bounded (cross-sub-cell neighbors are missed on
    * top of the cross-cell misses the cell route already accepts) —
    * evaluate with the sim_lsh_recall harness before trusting the graph;
    * at the judged SFs cells are smaller than the cap of 64, so the cap
    * only binds where the hub hazard lives. */
  def knnGraph(corpus: DataFrame, k: Int, centroidEvery: Int): DataFrame = {
    val cellCap = 64
    val assigned = ivfAssign(corpus, centroidEvery)
    val wc = Window.partitionBy(col("c_id")).orderBy(col("vec_id"))
    val sub = assigned.withColumn("sub",
      floor((row_number().over(wc).cast("double") - 1) / cellCap)
        .cast("long"))
    val nbrs = sub.select(col("c_id"), col("sub"), col("vec_id").as("n_id"),
      col("embedding").as("n_emb"), col("nrm").as("n_nrm"))
    val scored = joinPacked(sub, nbrs, Seq("c_id", "sub"), "inner")
      .filter(col("vec_id") =!= col("n_id"))
      .select(col("vec_id"), col("n_id"),
        rz(dotf(col("embedding"), col("n_emb")) / col("nrm") / col("n_nrm"), 6)
          .as("sim"))
    topK(scored, Seq(col("vec_id")), Seq(col("sim").desc, col("n_id")), k, "rank")
      .orderBy(col("vec_id"), col("rank"))
  }

  /** Re-split over-populated IVF cells — the cell-population third of
    * live-index maintenance (compaction keeps the FILES scan-friendly,
    * the drift audit watches the CODEBOOK; this keeps the CELLS at the
    * m ≈ √n contract the frontier numbers assume, which frozen-cell
    * streamed ingest otherwise decays forever):
    *
    * 1. cells whose population exceeds `cap` split; the rest are NOT
    *    TOUCHED (their index rows pass through bit-identical — OpsSpec
    *    pins it), so the maintenance pass costs only the offenders;
    * 2. each split cell derives nSub = ⌈n_c/cap⌉ sub-centroids from ITS
    *    OWN members, deterministically: members ranked by vec_id, every
    *    ⌈n_c/nSub⌉-th is a seed (the library's IVF seeding convention
    *    applied to the cell — the knnGraph sub-cell derivation made
    *    GEOMETRIC, because a probe must be able to route to a sub-cell,
    *    which row_number sub-cells cannot offer);
    * 3. only the split cell's members re-route, among their own cell's
    *    sub-seeds, through the same native packed-argmax fold as every
    *    route in this file (ivfRouteId — round-6 cosine desc, c_id asc);
    *    per-cell route work is n_c·nSub ≈ n_c²/cap dots, the global IVF
    *    assignment's own n·√n shape, paid only where the contract broke.
    *
    * New cell ids are the seed members' vec_ids (globally unique: every
    * vector lives in exactly one cell, so a member of a split cell is no
    * other cell's id), and every centroid — old or sub — IS a corpus
    * vector, so the rebalanced centroid table is just
    * `corpus ⨝ distinct(c_id)`: a serving path needs no side channel.
    * PQ codes are untouched by construction (plain-PQ codes are
    * cell-independent; an IVFADC residual index would re-encode exactly
    * the split cells' rows — same bound). Voronoi re-routing cannot
    * guarantee ≤ cap populations (sub-cells are as balanced as the
    * cell's geometry allows — Lloyd's trade); what it restores is the
    * nSub-way split of the offender, measured by the population spread
    * in OpsSpec.
    *
    * `index` is the standing (vec_id, c_id) assignment (payload columns
    * ride the caller's join); `corpus` supplies embeddings for the split
    * cells' members only. Returns the rebalanced (vec_id, c_id). */
  def resplitCells(index: DataFrame, corpus: DataFrame, cap: Long): DataFrame = {
    import graft.functions.VectorExpressions.ivfRouteId
    require(cap > 1, s"cap must exceed 1, got $cap")
    val over = index.groupBy(col("c_id")).agg(count(lit(1)).as("n"))
      .filter(col("n") > cap)
    val wc = Window.partitionBy(col("c_id")).orderBy(col("vec_id"))
    val ranked = index.join(broadcast(over), "c_id")
      .withColumn("rk", row_number().over(wc).cast("long") - 1)
      .withColumn("stride",
        ceil(col("n").cast("double") /
          ceil(col("n").cast("double") / cap)).cast("long"))
      .join(corpus.select(col("vec_id"), col("embedding")), "vec_id")
    val seeds = ranked.filter(col("rk") % col("stride") === 0)
      .select(col("c_id"),
        struct(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
          sqrt(dotf(col("embedding"), col("embedding"))).as("c_nrm")).as("c"))
      .groupBy(col("c_id"))
      .agg(array_sort(collect_list(col("c"))).as("cents"))
    val rerouted = ranked
      .join(seeds, "c_id")
      .select(col("vec_id"),
        ivfRouteId(col("embedding"), col("cents")).as("c_id"))
    index.join(broadcast(over.select(col("c_id"))), Seq("c_id"), "left_anti")
      .select(col("vec_id"), col("c_id"))
      .unionByName(rerouted)
  }

  /** Probed-cell candidates scored per query — the shared front half of
    * every IVF serving posture: (q_id, vec_id, sim) for every member of
    * each query's `nprobe` nearest cells. [[ivfTopK]] is this plus the
    * top-k cut; the filtered-search postures (predicate before the cut
    * vs over-fetch-then-filter, judged by sim_filtered_topk) fork here. */
  def ivfCandidates(corpus: DataFrame, queries: DataFrame,
                    centroidEvery: Int = 50): DataFrame = {
    val nprobe = 2
    val cent = centroids(corpus, centroidEvery)
    def scored(df: DataFrame, embCol: String, nrmCol: String): DataFrame =
      scoredAgainst(cent)(df, embCol, nrmCol)
    // Corpus→centroid assignment is argmax(c_sim, tie → smallest c_id) as
    // the NATIVE in-row packed fold (see ivfAssign): one codegen'd loop
    // per corpus vector over the broadcast centroid array, zero scored
    // rows materialized — a window or even a map-side HashAggregate over
    // |corpus|·m scored rows pays m ≈ √n row machinery per vector, the
    // one plan shape that inverts at 100× scale. The packing keeps the
    // (c_sim DESC, c_id ASC) order in ONE BIGINT: sim is rounded to 6 dp
    // so (sim·1e6 + 1e6) is an exact integer in [0, 2e6] (21 bits),
    // shifted above 41 id bits with the id complemented so max = best
    // sim, then smallest c_id. Precondition: centroid ids < 2^41 ≈
    // 2.2e12 — ample for any corpus (100 TB of 64-dim floats is ~4e11
    // vectors).
    val corpusAssigned = ivfAssign(corpus, centroidEvery)
    // Query probes keep the top-nprobe cells; the query set is bounded, so
    // a per-q_id window over m·|queries| rows is cheap and stays cheap.
    val queryProbes = topK(
      scored(
        queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          sqrt(dotf(col("embedding"), col("embedding"))).as("q_nrm")),
        "q_emb", "q_nrm"),
      Seq(col("q_id")), Seq(col("c_sim").desc, col("c_id")), nprobe, "c_rank")
      .drop("c_emb", "c_nrm", "c_sim", "c_rank")
    queryProbes.join(corpusAssigned, Seq("c_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        rz(dotf(col("q_emb"), col("embedding")) / col("q_nrm") / col("nrm"), 6)
          .as("sim"))
      // no distinct needed: each corpus vector lives in exactly one cell,
      // so a (q_id, vec_id) candidate arises from at most one probe
  }

  /** IVF-style approximate top-k: a deterministic centroid subset
    * partitions the corpus into Voronoi cells (assignment = argmax cosine,
    * tie on centroid id); each query probes its `nprobe` nearest cells and
    * ranks only their members. The scale path when both sides are large:
    * assignment costs |corpus|·m dots against a BROADCAST centroid set, a
    * probe costs ~nprobe/m of the corpus — with m ≈ √n the classic √n
    * speedup, all in plain DataFrame ops.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              centroidEvery: Int = 50): DataFrame =
    simTopK(ivfCandidates(corpus, queries, centroidEvery), k)
      .orderBy(col("q_id"), col("rank"))

  /** Embedding-cosine near-dup pairs, blocked by `label` (bounded blocks ->
    * per-block self-join, cost sum(block²) not n²).
    *
    * An exact threshold join over near-isotropic dense vectors has no
    * subquadratic candidate scheme (the synthetic corpus measures ~0.7%
    * of pairs over θ=0.3 — chance level for dim 64, so angular clustering
    * prunes nothing); the scalable form is therefore about CONSTANTS: the
    * similarity predicate rides IN the broadcast-hash-join condition, so
    * the generated loop evaluates one codegen'd float dot per pair and
    * only qualifying pairs ever materialize as output rows — the prior
    * shape emitted every block pair as a row carrying both 64-float
    * arrays before filtering. Zero shuffle on the probe side. Beyond
    * broadcast size, the build side chunks into an outer loop (block
    * nested-loop); past that scale the approximate variants (signLsh /
    * ivfTopK) are the designed path — exact all-pairs is not a 100 TB op. */
  def cosineDedup(embeddings: DataFrame): DataFrame = {
    val threshold = 0.3
    val p = embeddings.select(col("vec_id"), col("embedding"), col("label"),
      sqrt(dotf(col("embedding"), col("embedding"))).as("nrm"))
    val a = p.as("a"); val b = p.as("b")
    val sim = rz(dotf(col("a.embedding"), col("b.embedding"))
      / col("a.nrm") / col("b.nrm"), 6)
    a.join(broadcast(b), col("a.label") === col("b.label") &&
              col("a.vec_id") < col("b.vec_id") && sim >= threshold)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        sim.as("sim"))
      // recompute barrier before the range sort — orderBy's sampling pass
      // would otherwise re-execute the whole self-join (see Dedup.verifyJaccardPairs)
      .repartition(col("vec_a"), col("vec_b"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Lloyd k-means over the embedding corpus (cosine metric, `iters`
    * assignment rounds) — the clustering step semantic-dedup and
    * diversity-balancing pipelines run before within-cluster comparison.
    * Seeds are every `centroidEvery`-th vec_id (the IVF seeding rule — no
    * RNG); each round assigns by packed-argmax over the 6-dp-rounded
    * cosine with smallest-c_id tie-break, then recomputes centroids as
    * the decimal-exact per-dimension mean (order-independent sum) rounded
    * to 6 dp and cast back to float. Every step is engine-reproducible,
    * so the final assignment hash-matches a SQL re-derivation.
    *
    * Shape at scale: centroids are ≤ ⌈n/centroidEvery⌉ rows at every step
    * (always broadcast); each round is one broadcast probe of the corpus
    * whose |corpus|·k scored rows collapse map-side in the partial
    * HashAggregate (one row per vector reaches the exchange — see the
    * argmax note in ivfTopK), plus a (k·dim)-group partial aggregation
    * for the update. No corpus self-join, no corpus-sized window, and the
    * round count is a small constant. Returns (vec_id, c_id, sim). */
  def kmeansAssign(corpus: DataFrame, centroidEvery: Int,
                   iters: Int = 2): DataFrame = {
    val base = corpus.select(col("vec_id"), col("embedding"),
      sqrt(dotf(col("embedding"), col("embedding"))).as("nrm"))
    val idMask = (1L << 41) - 1
    // argmax(c_sim, tie -> smallest c_id) as an aggregation; sim is
    // recovered from the packed key's high bits (round(c_sim·10⁶) is the
    // exact integer the 6-dp round produced, and int/10⁶ is a single
    // correctly-rounded IEEE division — the same double round() returns).
    def assign(cent: DataFrame): DataFrame = {
      val packed =
        (rz(col("c_sim") * 1000000L, 0).cast("long") + 1000000L) *
          (idMask + 1) + (lit(idMask) - col("c_id"))
      scoredAgainst(cent)(base, "embedding", "nrm")
        .groupBy(col("vec_id"), col("embedding"))
        .agg(max(packed).as("pk"))
        .select(col("vec_id"), col("embedding"),
          (lit(idMask) - col("pk").bitwiseAND(lit(idMask))).as("c_id"),
          ((shiftright(col("pk"), 41) - 1000000L).cast("double") / 1e6)
            .as("sim"))
    }
    // centroid update: decimal-exact per-dimension mean (davg's formula),
    // reassembled in dim order and cast to float so the next round's dot
    // products run the same float→double fold as round 1 (and as the
    // oracle's REAL-cast list).
    def update(assigned: DataFrame): DataFrame = {
      import org.apache.spark.sql.types.{DecimalType, DoubleType}
      broadcast(
        assigned.select(col("c_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
          .groupBy(col("c_id"), col("dim"))
          .agg(rz(sum(col("v").cast(DecimalType(30, 10))).cast(DoubleType)
            / count(lit(1)), 6).as("cv"))
          .groupBy(col("c_id"))
          .agg(array_sort(collect_list(struct(col("dim"), col("cv")))).as("p"))
          .select(col("c_id"),
            transform(col("p"), x => x.getField("cv").cast("float")).as("c_emb"))
          .withColumn("c_nrm", sqrt(dotf(col("c_emb"), col("c_emb")))))
    }
    var assigned = assign(centroids(corpus, centroidEvery))
    for (_ <- 2 to iters)
      assigned = assign(update(assigned))
    assigned.select(col("vec_id"), col("c_id"), col("sim"))
      .orderBy(col("vec_id"))
  }

  /** kmeansAssign with the seed spacing derived from a fixed cluster
    * count k (one eager corpus count). */
  def kmeansAuto(corpus: DataFrame, k: Int = 16, iters: Int = 2): DataFrame =
    kmeansAssign(corpus,
      math.max(1L, math.ceil(corpus.count().toDouble / k).toLong).toInt, iters)

  /** A product-quantization index (Jégou et al. 2011): each d-dim vector
    * split into contiguous sub-vectors, each sub-vector quantized to its
    * nearest codeword, the codes packed into one long per vector.
    *  - `codebook` (m, code, c_sub, cn2): subspaces × S rows; the
    *    subspace count, code count and sub-dimension are read off it
    *    (codebookMeta), never passed alongside it;
    *  - `codes` (vec_id, cp): the packed code of every corpus vector.
    * The frames are opened on first use: a staged index read back from
    * parquet pays the footer read only for the files a query touches. */
  final class Pq(codebookOf: => DataFrame, codesOf: => DataFrame) {
    lazy val codebook: DataFrame = codebookOf
    lazy val codes: DataFrame = codesOf
  }
  object Pq {
    def apply(codebook: => DataFrame, codes: => DataFrame): Pq =
      new Pq(codebook, codes)
  }

  /** A PQ index behind an IVF cell route — the index every IVF-PQ probe
    * reads. Opened lazily like [[Pq]].
    *  - `pq`: the codebook and codes (raw, residual or refined);
    *  - `cells` (vec_id, c_id): the IVF cell of every corpus vector;
    *  - `cent` (c_id, c_emb, c_nrm): the ≈ √n IVF centroids. */
  final class PqIvf(val pq: Pq, cellsOf: => DataFrame, centOf: => DataFrame) {
    lazy val cells: DataFrame = cellsOf
    lazy val cent: DataFrame = centOf
    def codebook: DataFrame = pq.codebook
    def codes: DataFrame = pq.codes
  }
  object PqIvf {
    def apply(pq: Pq, cells: => DataFrame, cent: => DataFrame): PqIvf =
      new PqIvf(pq, cells, cent)
  }

  /** Train the PQ codebook and the IVF centroids from ONE read of the
    * corpus. The projected corpus (vec_id, embedding) is materialized once
    * — a lazy local checkpoint, stored by the first job that reads it —
    * and everything reads those blocks:
    *  1. one map-only job reads n and d (per-partition counts summed
    *     by the caller — no aggregate exchange);
    *  2. one bounded collect reads the strided seed rows
    *     (vec_id % ⌈n/codebookK⌉ = 0) and the centroid rows
    *     (vec_id % ⌈√n⌉ = 0): ≤ codebookK + ⌈√n⌉ vectors;
    *  3. codebook and centroid table are local frames (LocalRelation)
    *     over those rows, through the same slice/dotf expressions as
    *     every PQ and IVF fold in this file (codes densely indexed in
    *     vec_id order — the IVF seeding convention); no job;
    *  4. the route (ivf_route_id) and the encode (pq_packed_cp) fold over
    *     both quantizers as compact literals: one map-only pass with no
    *     join, broadcast or exchange. `codes` and `cells` are its two
    *     halves; each prunes the other's column out of its plan, so a
    *     PQ-only consumer never pays the route.
    * A corpus that arrives through `queries.table` pays its rebalance
    * shuffle once, in the checkpoint. */
  def pqIvfIndex(corpus: DataFrame, subspaces: Int = 8): PqIvf = {
    val (codebook, cent, encoded) = pqIvfEncoded(corpus, subspaces)
    PqIvf(Pq(codebook, encoded.select(col("vec_id"), col("cp"))),
      encoded.select(col("vec_id"), col("c_id")), cent)
  }

  /** [[pqIvfIndex]] with both halves in one (vec_id, c_id, cp) frame:
    * (codebook, cent, encoded). Checkpoint `encoded` to write codes and
    * cells from one pass (stagedPq). 16 codewords per subspace. */
  private[graft] def pqIvfEncoded(corpus: DataFrame, subspaces: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val codebookK = 16
    import graft.functions.VectorExpressions.{arrayLiteral, ivfRouteId,
      pqPackedCp}
    val spark = corpus.sparkSession
    import spark.implicits._
    val projected = corpus.select(col("vec_id"), col("embedding"))
      .localCheckpoint(eager = false)
    val (n, d) = projected.select(size(col("embedding"))).as[Int]
      .mapPartitions { it =>
        var c = 0L
        var dim = 0
        it.foreach { x => c += 1; dim = math.max(dim, x) }
        Iterator((c, dim))
      }
      .collect()
      .foldLeft((0L, 0)) { case ((c, dim), (pc, pd)) =>
        (c + pc, math.max(dim, pd)) }
    require(d % subspaces == 0, s"dim $d not divisible into $subspaces subspaces")
    val subDim = d / subspaces
    val every = math.max(1L, math.ceil(n.toDouble / codebookK).toLong)
    val centroidEvery = autoCentroidEvery(n)
    val picked = projected
      .select(col("vec_id"), col("embedding"),
        (col("vec_id") % every === 0).as("seed"),
        (col("vec_id") % centroidEvery === 0).as("centroid"))
      .filter(col("seed") || col("centroid"))
      .collect().sortBy(_.getLong(0))
    val seeds = picked.filter(_.getBoolean(2))
    val s = seeds.length
    require(s > 0 && s <= 255, s"codebook size $s exceeds the 8-bit packing")
    def local(rows: Seq[Row], schema: StructType): DataFrame = {
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(rows.asJava, schema)
    }
    val codebook = local(
        for ((r, code) <- seeds.toSeq.zipWithIndex; m <- 0 until subspaces)
          yield Row(r.get(1), code.toLong, m.toLong),
        new StructType()
          .add("c_emb", projected.schema("embedding").dataType)
          .add("code", "long", nullable = false)
          .add("m", "long", nullable = false))
      .select(col("m"), col("code"),
        expr(s"slice(c_emb, CAST(m * $subDim + 1 AS INT), $subDim)").as("c_sub"))
      .withColumn("cn2", dotf(col("c_sub"), col("c_sub")))
    val cent = local(
        picked.filter(_.getBoolean(3)).map(r => Row(r.get(0), r.get(1))).toSeq,
        projected.schema)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
        sqrt(dotf(col("embedding"), col("embedding"))).as("c_nrm"))
    val cents = cent.collect().map(r =>
      CentEntry(r.getLong(0), r.getSeq[Float](1), r.getDouble(2))).toSeq
    // No centroids (e.g. a filtered slice where no vec_id % spacing == 0):
    // the route fails loudly when it runs, never silently; the PQ half
    // prunes the route column and is unaffected.
    val route =
      if (cents.isEmpty) raise_error(lit(
        s"pqIvfIndex: no centroids at spacing $centroidEvery " +
          "(no vec_id % spacing == 0 in the corpus)")).cast("long")
      else ivfRouteId(col("embedding"), arrayLiteral(cents))
    (codebook, cent, projected.select(col("vec_id"),
      route.as("c_id"),
      pqPackedCp(col("embedding"), codebookMeta(codebook).cbl, subspaces)
        .as("cp")))
  }

  /** Product-quantization ADC top-k over a built or staged index: per
    * query, one (subspaces × S)-entry lookup table of exact
    * sub-dot-products, so each corpus candidate costs `subspaces` array
    * lookups instead of a d-dim dot. Approximate cosine = ADC dot /
    * (‖q‖ · reconstructed ‖v‖). The 8 bytes of code per vector, instead
    * of d·4 bytes of floats, make the exhaustive scan memory-bound-cheap;
    * recall is audited by sim_pq_recall against the exact ranking.
    *
    * Determinism contract: encoding argmin packs
    * (round((cn² − 2·dot)·10⁶) + 10¹²)·256 + code into one long (the
    * vector's own ‖·‖² is constant within the argmin and dropped; the
    * 10¹² bias keeps the key positive so `% 256` extracts the code
    * identically in both engines); ADC folds the subspaces' LUT terms in
    * ascending-m order (plain sequential double adds, the dotf posture);
    * the final cosine is 6-dp rounded through rz. Geometry and the
    * reconstructed-norm table come off the codebook (codebookMeta — one
    * bounded collect, never the corpus). */
  def pqTopKFrom(index: Pq, queries: DataFrame, k: Int): DataFrame = {
    val meta = codebookMeta(index.codebook)
    simTopK(index.codes.crossJoin(pqLut(queries, meta))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        rz(pqFold(col("lut"), meta) / col("q_nrm")
          / sqrt(pqFold(meta.rn2, meta)), 6).as("sim")), k)
      .orderBy(col("q_id"), col("rank"))
  }

  /** One IVF centroid, as the route fold reads it. */
  private final case class CentEntry(c_id: Long, c_emb: Seq[Float],
                                     c_nrm: Double)

  /** One codebook row in the positional layout every PQ fold reads:
    * idx = m·S + code. */
  private final case class CbEntry(idx: Long, m: Long, c_sub: Seq[Float],
                                   cn2: Double)

  /** What every consumer of a codebook frame needs, from ONE
    * shuffle-free collect of its subspaces × S rows:
    *  - `s`, `subDim`, `subspaces`: code count, sub-dimension, subspace
    *    count;
    *  - `rn2`: the reconstructed sub-norm² table, cn2 by idx, as a
    *    literal (the ADC denominator fold);
    *  - `cbl`: the codebook entries by idx as a literal (the encode fold,
    *    and the in-row LUT and cxl builds — subDots).
    */
  private[graft] final case class CodebookMeta(s: Long, subDim: Int,
                                               subspaces: Int, rn2: Column,
                                               cbl: Column)

  private[graft] def codebookMeta(codebook: DataFrame): CodebookMeta = {
    import graft.functions.VectorExpressions.arrayLiteral
    val rows = codebook.select(col("m"), col("code"), col("c_sub"), col("cn2"))
      .collect()
    require(rows.nonEmpty, "codebookMeta: empty codebook")
    val s = rows.map(_.getLong(1)).max + 1
    val subspaces = rows.map(_.getLong(0)).max.toInt + 1
    require(rows.length == subspaces * s,
      s"codebookMeta: ${rows.length} rows are not $subspaces subspaces x $s codes")
    val entries = rows.map(r => CbEntry(r.getLong(0) * s + r.getLong(1),
      r.getLong(0), r.getSeq[Float](2), r.getDouble(3))).sortBy(_.idx).toSeq
    CodebookMeta(s, entries.map(_.c_sub.length).max, subspaces,
      arrayLiteral(entries.map(_.cn2)), arrayLiteral(entries))
  }

  /** `f(dot, entry)` for every codebook entry in idx order, in-row over
    * the codebook literal, where dot = dotf(the entry's m-th sub-slice of
    * `v`, c_sub): the per-(vector, codeword) term every ADC table is made
    * of. The per-query LUT is the dots themselves; the per-cell cxl table
    * is 2·dot + cn2. */
  private def subDots(v: Column, meta: CodebookMeta)
                     (f: (Column, Column) => Column): Column =
    transform(meta.cbl, e => f(dotf(
      slice(v, (e.getField("m") * meta.subDim + 1).cast("int"),
        lit(meta.subDim)), e.getField("c_sub")), e))

  /** Scored ADC candidates with the probed cell's rank retained —
    * the shared front half of every ivfPqTopKFrom-shaped probe and of the
    * nprobe/shortlist frontier audits (r16 optimization: the audits used
    * to re-run this scan once per knob value; `sim` is knob-independent
    * and each vec_id lives in exactly ONE cell, so
    * ivfPqTopKFrom(k, nprobe=np) ≡ this at maxProbe ≥ np, filtered to
    * c_rank ≤ np, ranked by (sim desc, vec_id), cut at k — one ADC scan
    * serves every (np ≤ maxProbe, k) pair). */
  def ivfPqAdcCandidates(index: PqIvf, queries: DataFrame,
                         maxProbe: Int): DataFrame = {
    val meta = codebookMeta(index.codebook)
    // The 100 TB point: the standing index carries cell id + packed code,
    // never the embedding — only (vec_id, c_id) meets the 2-long codes
    // table.
    val cellCodes = index.cells.join(index.codes, Seq("vec_id"))
    queryCellRanks(index.cent, queries, maxProbe).join(cellCodes, Seq("c_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .join(pqLut(queries, meta), Seq("q_id"))
      .select(col("q_id"), col("vec_id"), col("c_rank"),
        rz(pqFold(col("lut"), meta) / col("q_nrm")
          / sqrt(pqFold(meta.rn2, meta)), 6).as("sim"))
  }

  /** IVF-PQ (Jégou et al. 2011 §IV): the IVF cell route with PQ codes as
    * the per-cell payload — the answer to the memory bound of carrying
    * full-precision embeddings through the IVF index at 100 TB. The index
    * table is (vec_id, c_id, cp): 16 bytes of key + 8 bytes of code per
    * vector, no embedding ride-along; queries probe their nprobe closest
    * cells and score candidates by the same LUT fold as pqTopKFrom. Probe
    * cost: |cell| × (subspaces lookups), reading codes only. */
  def ivfPqTopKFrom(index: PqIvf, queries: DataFrame, k: Int,
                    nprobe: Int = 2): DataFrame =
    simTopK(ivfPqAdcCandidates(index, queries, nprobe)
      .select(col("q_id"), col("vec_id"), col("sim")), k)
      .orderBy(col("q_id"), col("rank"))

  /** The residual corpus for IVFADC (Jégou et al. 2011 §IV): r = x −
    * centroid(cell(x)). Raw-vector PQ codes must cover the whole point
    * cloud with one 128-entry codebook; residuals concentrate around the
    * origin (the cell centroid absorbs the coarse position), so the same
    * 8-byte budget quantizes a much tighter distribution — the refinement
    * that makes short codes usable as cell counts grow. The subtraction is
    * exact IEEE float−float (both operands are stored floats; the DuckDB
    * twin is the identical REAL op), map-only after one broadcast centroid
    * join. Returns (vec_id, embedding=residual) — a drop-in corpus for
    * pqIvfIndex, so train/encode reuse the standard PQ path verbatim. */
  def ivfResiduals(corpus: DataFrame, cells: DataFrame,
                   cent: DataFrame): DataFrame =
    corpus.join(cells, Seq("vec_id"))
      .join(broadcast(cent.select(col("c_id"), col("c_emb"))), Seq("c_id"))
      .select(col("vec_id"),
        zip_with(col("embedding"), col("c_emb"), (x, c) => x - c)
          .as("embedding"))

  /** IVFADC probe over a prebuilt residual index (`index.pq` quantizes
    * the residuals x − centroid(cell(x)); cells and centroids are the IVF
    * route's): the IVF route of
    * ivfPqTopKFrom with the scoring decomposed around x̂ = c + r̂ —
    *   dot(q, x̂)  = dot(q, c) + Σₘ LUT[m, codeₘ]        (query-side LUT
    *                 of exact q-sub × residual-codeword products, same
    *                 shape as pqLut), and
    *   ‖x̂‖²       = ‖c‖² + Σₘ (2·⟨c_subₘ, r̂ₘ⟩ + ‖r̂ₘ‖²)  (a per-CELL
    *                 reconstruction table over subspaces × S entries).
    * Both correction tables are bounded (|queries|·nprobe and
    * |cells|·subspaces·S rows) and broadcast; the per-candidate work stays
    * 2·subspaces array lookups over the same 8-byte codes — the residual
    * refinement costs nothing at scan time. Same rz(…, 6) + vec_id
    * tie-break determinism as every ranking in this file. */
  def ivfPqResTopKFrom(index: PqIvf, queries: DataFrame, k: Int): DataFrame = {
    val nprobe = 2
    val meta = codebookMeta(index.codebook)
    val cellCodes = index.cells.join(index.codes, Seq("vec_id"))
    val cent = broadcast(index.cent)
    val queryProbes = queryCellRanks(index.cent, queries, nprobe)
      .select(col("q_id"), col("c_id"))
    // exact q·centroid per (query, probed cell) — ≤ |queries|·nprobe rows
    val qcTable = broadcast(queryProbes
      .join(broadcast(queries.select(col("vec_id").as("q_id"),
        col("embedding").as("q_emb"))), Seq("q_id"))
      .join(cent.select(col("c_id"), col("c_emb")), Seq("c_id"))
      .select(col("q_id"), col("c_id"),
        dotf(col("q_emb"), col("c_emb")).as("qc")))
    val probed = queryProbes.join(cellCodes, Seq("c_id"))
      .filter(col("vec_id") =!= col("q_id"))
    simTopK(joinPacked(probed, qcTable, Seq("q_id", "c_id"), "inner")
      .join(cxlTable(index.cent, meta), Seq("c_id"))
      .join(pqLut(queries, meta), Seq("q_id"))
      .select(col("q_id"), col("vec_id"),
        rz((col("qc") + pqFold(col("lut"), meta)) / col("q_nrm")
          / sqrt(col("cn2c") + pqFold(col("cxl"), meta)), 6)
          .as("sim")), k)
      .orderBy(col("q_id"), col("rank"))
  }

  /** Per-query centroid ranking (q_id, c_id, c_rank ≤ maxProbe) — the IVF
    * routing table: the cells each IVF-PQ probe scans, and for coverage
    * audits the cells that WOULD be probed at each nprobe setting. Same
    * round-6 cosine + c_id tie-break as every IVF probe in this file. */
  def queryCellRanks(centTable: DataFrame, queries: DataFrame,
                     maxProbe: Int): DataFrame =
    topK(scoredAgainst(broadcast(centTable))(
        queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          sqrt(dotf(col("embedding"), col("embedding"))).as("q_nrm")),
        "q_emb", "q_nrm"),
      Seq(col("q_id")), Seq(col("c_sim").desc, col("c_id")), maxProbe, "c_rank")
      .select(col("q_id"), col("c_id"), col("c_rank"))

  /** Shortlist length and probed cells of both streaming shortlists. */
  private val StreamShortlistK = 50
  private val StreamNprobe = 2

  /** STREAMING two-stage ANN ingest, stage 1 — the serving twin of
    * [[ivfPqTopKFrom]] for query vectors arriving as an unbounded stream
    * against a STANDING staged index: each arriving vector is routed and
    * shortlisted at ingest time, per micro-batch, instead of by a nightly
    * batch-vs-corpus job (the dd_stream_neardup posture applied to ANN).
    *
    * Everything per-vector is MAP-ONLY over one-row broadcast index
    * metadata (stream-static joins, no shuffle of the stream before the
    * rollup): probe cells are ranked IN-ROW against the collected centroid
    * array (same round-6 cosine + c_id tie-break as the batch window —
    * `+ 0.0` mirrors the window sort's -0.0 normalization), the ADC LUT is
    * built IN-ROW from the collected codebook (same dotf over the same
    * slices as pqLut), candidates come from ONE stream-static equi-join
    * against the standing (vec_id, c_id, code) index, and the single
    * stateful operator is the per-query shortlist rollup. State ROW count
    * is one per arrived query — independent of corpus size (the corpus
    * rides the static side and never enters state as keys) — but state
    * BYTES per row are the collect_list buffer of that query's probed-cell
    * candidates (~nprobe·n/√cells ≈ O(√n) entries) until the post-agg
    * slice. Acceptable for a bounded audit workload; an unbounded serving
    * stream wants [[ivfPqStreamShortlistEpoch]], whose watermark
    * additionally caps each buffer's LIFETIME at the epoch horizon.
    * Drained output equals the batch shortlist of
    * ivfPqTopKFrom(k = StreamShortlistK) row for row, so stage 2 (exact re-rank
    * over true vectors) and the oracle are shared with sim_ivfpq_rerank.
    *
    * Returns (q_id, shortlist: array<struct<sim, vec_id>>) — a streaming
    * frame; drain complete-mode, then explode + rerankExact. */
  def ivfPqStreamShortlist(stream: DataFrame, index: PqIvf): DataFrame = {
    val scored = ivfPqStreamScored(stream, index, carry = Nil)
    scored.groupBy(col("q_id"))
      .agg(collect_list(struct(col("sim"), col("vec_id"))).as("cl"))
      .select(col("q_id"),
        slice(array_sort(col("cl"), bySimDesc), 1, StreamShortlistK).as("shortlist"))
  }

  /** [[ivfPqStreamShortlist]] in APPEND/WATERMARK (eviction) posture — the
    * serving form for an UNBOUNDED query stream (the dd_stream_dedup_evict
    * pattern applied to ANN): the per-query rollup keys on (ingestion
    * epoch, q_id), so each epoch's shortlists are emitted exactly once
    * when the watermark passes the epoch's end and their state rows (and
    * collect_list buffers) are EVICTED. State is bounded by the epoch
    * horizon — queries whose epoch the watermark has not yet closed —
    * never by total arrived queries; an ingest that runs for a year holds
    * hours of state. Per-epoch contract: each query vector arrives once,
    * all its candidates are generated map-side within its own micro-batch
    * (the stream-static join), so the emitted (win_start, q_id, shortlist)
    * row equals the complete-mode twin's row for that query.
    *
    * PRECONDITION: `stream` must already carry a WATERMARKED `ingest_ts`
    * column — apply withWatermark at the source, BEFORE any filter that
    * drops the flush sentinel, so the sentinel still advances event time
    * (the StreamStage.Timed flush convention). Returns
    * (win_start, q_id, shortlist); drain append-mode. */
  def ivfPqStreamShortlistEpoch(stream: DataFrame, index: PqIvf): DataFrame = {
    val scored = ivfPqStreamScored(stream, index, carry = Seq("ingest_ts"))
    scored
      .groupBy(window(col("ingest_ts"), "60 minutes"), col("q_id"))
      .agg(collect_list(struct(col("sim"), col("vec_id"))).as("cl"))
      .select(col("window.start").as("win_start"), col("q_id"),
        slice(array_sort(col("cl"), bySimDesc), 1, StreamShortlistK).as("shortlist"))
  }

  /** STREAMING index-side ingest — the other half of a live ANN service
    * (the serving stream covers arriving QUERIES; this covers arriving
    * CORPUS vectors): each new vector is IVF-routed and PQ-encoded
    * entirely WITHIN ITS OWN ROW under FROZEN codebook + centroids, and
    * the (vec_id, c_id, cp) row appends to the standing index — the
    * dd_incremental_lsh posture applied to the PQ index. Map-only by
    * construction: the centroid array and the (idx-sorted) codebook ride
    * one-row broadcasts into the stream, the route is the in-row argmax
    * (round-6 cosine, c_id tie-break — the ivfAssign packed-argmax order),
    * and the per-subspace encode is the in-row packed argmin over the
    * codebook slice (identical pk arithmetic to [[pqEncodeFrom]], so the
    * emitted code equals the batch encode bit for bit). ZERO stateful
    * operators — no watermark, no state store, nothing to evict: state
    * boundedness is trivial (StreamingSpec pins the all-zero state
    * sequence), and the drained table equals the batch
    * (cells ⨝ codes) index of the same corpus row for row regardless of
    * micro-batching (shared oracle — the dd_bloom_confirmed convention).
    *
    * At 100 TB this is the ingest path that keeps a standing vector index
    * current without nightly rebuilds: frozen quantizers (retrained
    * offline, versioned), arriving shards encoded map-side at 8 bytes of
    * code + 8 of cell id per vector, appended partition-aligned by c_id. */
  def ivfPqStreamEncode(stream: DataFrame, index: PqIvf): DataFrame = {
    val meta = codebookMeta(index.codebook)
    // Staged-index validation BEFORE the stream starts (one bounded count
    // over ≈√n rows): an empty centroid table would route everything to a
    // bogus cell — the row-level fold also hard-requires this, but
    // failing at query construction beats failing mid-micro-batch. The
    // subspace count is the codebook's own (codebookMeta checks its
    // subspaces × S shape), so the encode cannot mis-slice.
    require(index.cent.limit(1).count() == 1,
      "ivfPqStreamEncode: empty centroid table")
    val centArr = broadcast(index.cent
      .select(struct(col("c_id"), col("c_emb"), col("c_nrm")).as("c"))
      .agg(array_sort(collect_list(col("c"))).as("cents")))
    // Route + encode are NATIVE codegen'd expressions (one compiled loop
    // per corpus row over the collected centroid/codebook arrays — see
    // VectorExpressions.ivfRoutePk/pqPackCp): this is the whole-corpus
    // hot path, and the higher-order-function form ran every element
    // through an interpreted boxed lambda (measured ~7× the batch encode
    // at f30). The folds are the batch pqIvfIndex route and encode
    // verbatim, so the appended index is bit-identical to the batch build
    // (FunctionsSpec pins the folds; the shared oracle pins the query
    // end-to-end).
    import graft.functions.VectorExpressions.{ivfRouteId, pqPackedCp}
    // Per-batch repartition BEFORE the encode: a file-source micro-batch
    // arrives with one read split per maxPartitionBytes — a 32 MB shard is
    // ONE task, and the O(|batch|·√n) route then runs single-core (f100
    // measured 104 s; spread, ~linear). The narrow (vec_id, embedding)
    // shuffle is bytes-trivial next to the route flops, and exactly what
    // a production ingest does with arriving shards anyway.
    val parts = stream.sparkSession.sessionState.conf.numShufflePartitions
    stream
      .select(col("vec_id"), col("embedding"))
      .repartition(parts)
      .crossJoin(centArr)
      .select(col("vec_id"),
        ivfRouteId(col("embedding"), col("cents")).as("c_id"),
        pqPackedCp(col("embedding"), meta.cbl, meta.subspaces).as("cp"))
  }

  /** Candidate-shortlist sort order shared by the two streaming rollups:
    * sim descending, vec_id ascending tie-break — the batch window's
    * (sim DESC, vec_id) rendered as an array_sort comparator. */
  private val bySimDesc = (l: Column, r: Column) =>
    when(l.getField("sim") > r.getField("sim"), -1)
      .when(l.getField("sim") < r.getField("sim"), 1)
      .when(l.getField("vec_id") < r.getField("vec_id"), -1)
      .when(l.getField("vec_id") > r.getField("vec_id"), 1)
      .otherwise(0)

  /** Centroid ranking order shared by the streaming route paths: c_sim
    * descending, c_id ascending tie-break — the batch probe window's
    * (c_sim DESC, c_id) rendered as an array_sort comparator. */
  private val byCsimDesc = (l: Column, r: Column) =>
    when(l.getField("c_sim") > r.getField("c_sim"), -1)
      .when(l.getField("c_sim") < r.getField("c_sim"), 1)
      .when(l.getField("c_id") < r.getField("c_id"), -1)
      .when(l.getField("c_id") > r.getField("c_id"), 1)
      .otherwise(0)

  /** The map-only routing + ADC scoring shared by both streaming rollups
    * (see [[ivfPqStreamShortlist]] for the shape): per arriving vector,
    * StreamNprobe cells ranked in-row, LUT built in-row, candidates from one
    * stream-static equi-join, one rz-rounded sim per candidate. `carry`
    * lists stream columns (e.g. the event-time ingest_ts) to propagate
    * through to the output. */
  private def ivfPqStreamScored(stream: DataFrame, index: PqIvf,
                                carry: Seq[String]): DataFrame = {
    val carryCols = carry.map(col)
    val meta = codebookMeta(index.codebook)
    // one-row broadcast metadata: the centroid array (c_id-sorted); the
    // LUT is built in-row from the codebook literal (subDots)
    val centArr = broadcast(index.cent
      .select(struct(col("c_id"), col("c_emb"), col("c_nrm")).as("c"))
      .agg(array_sort(collect_list(col("c"))).as("cents")))
    val probes = stream
      .select(col("vec_id").as("q_id") +: col("embedding").as("q_emb") +:
        sqrt(dotf(col("embedding"), col("embedding"))).as("q_nrm") +:
        carryCols: _*)
      .crossJoin(centArr)
      .select(col("q_id") +: col("q_nrm") +:
        subDots(col("q_emb"), meta)((d, _) => d).as("lut") +:
        explode(slice(array_sort(
          transform(col("cents"), c => struct(
            rz(dotf(col("q_emb"), c.getField("c_emb")) / col("q_nrm")
              / c.getField("c_nrm"), 6).as("c_sim"),
            c.getField("c_id").as("c_id"))),
          byCsimDesc), 1, StreamNprobe)).as("p") +: carryCols: _*)
      .select(col("q_id") +: col("q_nrm") +: col("lut") +:
        col("p.c_id").as("c_id") +: carryCols: _*)
    probes.join(index.cells.join(index.codes, Seq("vec_id")), Seq("c_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id") +: col("vec_id") +:
        rz(pqFold(col("lut"), meta) / col("q_nrm")
          / sqrt(pqFold(meta.rn2, meta)), 6).as("sim") +:
        carryCols: _*)
  }

  /** The PQ half of [[pqIvfIndex]] with `iters` deterministic Lloyd
    * rounds over the sub-codebooks before encoding — PQ as Jégou et al.
    * actually train it (k-means sub-quantizers), restated in the engine's
    * reproducible arithmetic. The strided seed codebook quantizes with whatever
    * geometry the seeds happen to have; each refinement round reassigns
    * every sub-vector to its nearest codeword (the same packed-min argmin
    * as encoding) and moves each codeword to the decimal-exact mean of its
    * members (6-dp rounded, cast to float — the kmeansAssign update
    * discipline), which provably lowers quantization MSE at the SAME
    * 8-byte/vector budget. Measured on the harness corpus at sf0.01:
    * flat-ADC recall@5 0.175 (seeds) → 0.248 (2 rounds, converged) — the
    * headroom the residual formulation could NOT claim on this
    * near-isotropic corpus (see ivfResiduals / sim_ivfpq_res_recall).
    * A codeword that attracts no members keeps its previous position
    * (codes must stay dense: the ADC LUT is positional). Cost: one
    * corpus×(subspaces·S) argmin pass per round — the exact shape of the
    * encode pass, map-side partial-aggregated. */
  def pqIndexFramesRefined(corpus: DataFrame): Pq = {
    val (subspaces, iters) = (8, 2)
    val ix = pqIvfIndex(corpus, subspaces)
    val meta = codebookMeta(ix.codebook)
    val cb = pqRefineCodebook(corpus, ix.codebook, meta.s, subspaces,
      meta.subDim, iters)
    Pq(cb, pqEncodeFrom(corpus, cb))
  }

  /** The Lloyd rounds behind pqIndexFramesRefined. The codebook is
    * re-materialized per round (≤ subspaces·S rows) so the final encode
    * does not drag `iters` nested corpus passes through its broadcast.
    *
    * r17: the per-round reassignment is the same NATIVE packed-argmin
    * fold as [[pqEncodeFrom]] (identical pk arithmetic — the per-(m) code is
    * the cp byte), so each round's corpus pass is one codegen'd loop +
    * the posexplode for the mean, instead of a |corpus|·(subspaces·S)
    * crossJoin row stream grouped BY THE EMBEDDING ARRAY (the old argmin
    * carried the full float vector through a hash-aggregate key, ×
    * subspaces). The mean aggregation — decimal-exact sum / count per
    * (m, code, dim), 6-dp rounded, cast float — is unchanged, and the
    * reassignment multiset is identical, so the refined codebook is
    * bit-equal. */
  private def pqRefineCodebook(corpus: DataFrame, cb0: DataFrame,
                               s: Long, subspaces: Int, subDim: Int,
                               iters: Int): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    import graft.functions.VectorExpressions.pqPackedCp
    val vSub = expr(s"slice(embedding, CAST(m * $subDim + 1 AS INT), $subDim)")
    var cur = cb0
    for (_ <- 1 to iters) {
      val cbArr = broadcast(cur
        .select(struct((col("m") * s + col("code")).as("idx"), col("m"),
          col("c_sub"), col("cn2")).as("e"))
        .agg(array_sort(collect_list(col("e"))).as("cbl")))
      val means = corpus.select(col("embedding"))
        .crossJoin(cbArr)
        .select(col("embedding"),
          pqPackedCp(col("embedding"), col("cbl"), subspaces).as("cp"),
          explode(sequence(lit(0L), lit(subspaces - 1L))).as("m"))
        .select(col("m"),
          expr("shiftright(cp, CAST(8 * m AS INT)) & 255").as("code"),
          posexplode(vSub).as(Seq("dim", "x")))
        .groupBy(col("m"), col("code"), col("dim"))
        .agg(rz(sum(col("x").cast(DecimalType(30, 10))).cast(DoubleType)
          / count(lit(1)), 6).as("mv"))
        .groupBy(col("m"), col("code"))
        .agg(array_sort(collect_list(struct(col("dim"), col("mv")))).as("p"))
        .select(col("m"), col("code"),
          transform(col("p"), x => x.getField("mv").cast("float")).as("c_sub2"))
      cur = Dedup.materialize(
        joinPacked(cur.select(col("m"), col("code"), col("c_sub")), means,
            Seq("m", "code"), "left")
          .select(col("m"), col("code"),
            coalesce(col("c_sub2"), col("c_sub")).as("c_sub"))
          .withColumn("cn2", dotf(col("c_sub"), col("c_sub"))))
    }
    cur
  }

  /** PQ encoding under a FROZEN (possibly parquet-read) codebook — the
    * apply-half of the train-once contract, public so audits can
    * re-encode a SHIFTED corpus under the deployed quantizers (the drift
    * audit) without re-deriving anything: per (vector, subspace) argmin
    * over the codebook, packed min (see pqTopKFrom's determinism contract),
    * codes packed 8 bits per subspace into ONE long per vector.
    *
    * The argmin is the NATIVE packed fold (VectorExpressions.pqPackCp)
    * over the codebook entries as one literal array: ONE codegen'd loop
    * per corpus row, map-only. FunctionsSpec pins it bit for bit against
    * the row-stream form (crossJoin + two partial aggregates, a 128× row
    * blow-up at S = 16) it replaced. Sub-dimension and code count come
    * off the codebook itself (codebookMeta). */
  def pqEncodeFrom(corpus: DataFrame, codebook: DataFrame): DataFrame = {
    import graft.functions.VectorExpressions.pqPackedCp
    val meta = codebookMeta(codebook)
    corpus.select(col("vec_id"),
      pqPackedCp(col("embedding"), meta.cbl, meta.subspaces).as("cp"))
  }

  /** Compact a streamed index append-log into 4 c_id-aligned,
    * internally sorted files — the maintenance pass that keeps the
    * append-forever ingest ([[ivfPqStreamEncode]]) operable: each
    * micro-batch appends up to |shuffle partitions| small files, and an
    * IVF probe wants its cell's codes contiguous, not smeared across every
    * batch ever ingested. Range-partitioning on (c_id, vec_id) puts each
    * cell's rows in one (or adjacent) files, the within-file sort makes
    * the layout scan-friendly, and row CONTENT is untouched — the
    * compacted index must equal the append log equal the batch build
    * (shared oracle; StreamingSpec pins file counts and row equality). */
  def compactIndex(appended: DataFrame): DataFrame =
    appended.repartitionByRange(4, col("c_id"), col("vec_id"))
      .sortWithinPartitions(col("c_id"), col("vec_id"))

  /** OPQ-lite dimension permutation (the parametric rotation of Ge et
    * al., CVPR 2013, restricted to permutation matrices — the
    * deterministic, SQL-reproducible member of the rotation family):
    * rank dimensions by their variance (read off the STAGED covariance
    * diagonal — no extra corpus pass) and deal them round-robin across
    * subspaces, so no subspace hoards the high-variance coordinates and
    * the per-subspace quantizers share the distortion budget. Returns
    * perm where perm(newPos) = originalDim; the collect is d rows — a
    * bounded driver artifact, never corpus-sized. */
  def opqPermutation(covCells: DataFrame, subspaces: Int = 8): Seq[Int] = {
    val vars = covCells.filter(col("dim_i") === col("dim_j"))
      .select(col("dim_i").cast("long"), col("cov"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val d = vars.length
    require(d > 0 && d % subspaces == 0,
      s"dim $d not divisible into $subspaces subspaces")
    val subDim = d / subspaces
    vars.sortBy { case (dim, v) => (-v, dim) }.zipWithIndex
      .map { case ((dim, _), r) =>
        ((r % subspaces) * subDim + r / subspaces, dim) }
      .sortBy(_._1).map(_._2.toInt).toSeq
  }

  /** Reorder a vector column by a fixed permutation — a codegen'd array
    * constructor over literal indices (map-only, no shuffle). Cosine is
    * permutation-invariant, so exact rankings are unchanged; only the
    * subspace SPLIT the PQ encoder sees moves. */
  def permuteVectors(df: DataFrame, perm: Seq[Int]): DataFrame =
    df.withColumn("embedding",
      array(perm.map(i => col("embedding").getItem(i)): _*))

  /** Per-query LUT of exact sub-dot-products, index m·S + code, as
    * (q_id, q_nrm, lut), broadcast: built in-row from the codebook
    * literal, one map over the queries (FunctionsSpec pins it bit for bit
    * against the crossJoin + collect_list derivation in PqReference). */
  private[graft] def pqLut(queries: DataFrame, meta: CodebookMeta): DataFrame =
    broadcast(queries.select(col("vec_id").as("q_id"),
      sqrt(dotf(col("embedding"), col("embedding"))).as("q_nrm"),
      subDots(col("embedding"), meta)((d, _) => d).as("lut")))

  /** Per-cell reconstructed-norm table for the residual ADC, as
    * (c_id, cn2c, cxl), broadcast: ‖x̂‖² = cn2c + Σₘ cxl[m·S + codeₘ],
    * with cxl[idx] = 2·⟨cₘ, r̂⟩ + ‖r̂‖² for the centroid's m-th slice cₘ
    * and the residual codeword r̂ (c_sub, cn2), built in-row from the
    * codebook literal (pinned like pqLut). */
  private[graft] def cxlTable(centTable: DataFrame,
                              meta: CodebookMeta): DataFrame =
    broadcast(centTable.select(col("c_id"),
      dotf(col("c_emb"), col("c_emb")).as("cn2c"),
      subDots(col("c_emb"), meta)((d, e) => lit(2.0) * d + e.getField("cn2"))
        .as("cxl")))

  /** ADC fold: sum the subspaces LUT terms in ascending-m order (plain
    * sequential double adds — the dotf posture; DuckDB twin is the same
    * list_transform(range)/list_reduce chain).
    *
    * r17: the fold is the NATIVE codegen'd loop
    * (VectorExpressions.pqFoldSum — value-identical to the higher-order
    * aggregate/transform chain, FunctionsSpec pins it on the real index).
    * The HOF form ran its per-subspace element_at through an interpreted
    * boxed lambda once per (candidate × query) row on EVERY ADC scan —
    * the hottest per-row expression in the vector family. The fold reads
    * the subspace count off the array itself: every LUT/rn2/cxl table is
    * exactly subspaces·S wide for the codebook `meta` describes. */
  private def pqFold(arr: Column, meta: CodebookMeta) =
    graft.functions.VectorExpressions.pqFoldSum(arr, col("cp"), meta.s.toInt)

  /** Per-dimension-pair covariance of the embedding corpus — the XᵀX
    * pass every PCA / whitening / decorrelation step starts from, shaped
    * the way distributed linear algebra must be: each row fans out to its
    * upper-triangle coordinate pairs and a partial HashAggregate combines
    * them MAP-SIDE, so the exchange carries at most d·(d+1)/2 × partitions
    * partial rows — never a row per (vector × pair). At d = 64 that is
    * 2 080 cells regardless of corpus size; 100 TB costs exactly the scan
    * plus the FLOPs (n·d²/2 generated rows are the Gram products
    * themselves, not overhead).
    *
    * Determinism contract: per-row products are IEEE double (exact float
    * widening), accumulated in decimal(30,10) (order-independent across
    * partitions, tie-free per the dsum note in queries/package.scala), and
    * the covariance assembles from the three exact sums in one fixed
    * expression tree — bit-equal to the DuckDB twin. */
  def covarianceMatrix(corpus: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(30, 10)
    // Second generator explodes the i-suffix slice, not the whole vector:
    // j = i + pos, so only the upper triangle is ever materialized.
    val pairs = corpus
      .select(col("embedding").as("__v"),
        posexplode(col("embedding")).as(Seq("i", "x")))
      .select(col("i"), col("x"),
        posexplode(expr("slice(__v, i + 1, size(__v) - i)")).as(Seq("p", "y")))
      .select(col("i").cast("long").as("dim_i"),
        (col("i") + col("p")).cast("long").as("dim_j"),
        col("x").cast("double").as("xd"), col("y").cast("double").as("yd"))
    pairs.groupBy(col("dim_i"), col("dim_j"))
      .agg(count(lit(1)).as("n"),
        sum(col("xd").cast(dec)).as("sx"),
        sum(col("yd").cast(dec)).as("sy"),
        sum((col("xd") * col("yd")).cast(dec)).as("sxy"))
      .select(col("dim_i"), col("dim_j"), col("n"),
        rz(col("sxy").cast("double") / col("n") -
          col("sx").cast("double") / col("n") *
            (col("sy").cast("double") / col("n")), 6).as("cov"))
      .orderBy(col("dim_i"), col("dim_j"))
  }

  private val PcaIters = 8

  /** Top principal component by power iteration over the covariance
    * matrix — the first step of PCA whitening / decorrelation (the
    * spectral view of the corpus the covariance pass exists to feed).
    * PcaIters = 8 rounds of v ← normalize(C·v) from the uniform 1/√d
    * start vector, every intermediate 6-dp rounded (through rz) so the
    * iteration is bit-reproducible cross-engine and SQL-expressible as
    * unrolled CTEs. Output per dimension: the loading, the eigenvalue
    * estimate λ = ‖C·v‖ at the last round, and λ/trace(C) — the
    * explained-variance share.
    *
    * Shape at scale: the ONLY corpus-sized work is covarianceMatrix's
    * map-side Gram partials; everything after operates on the d(d+1)/2
    * cell table and a d-row vector — 8 joins over ≤64-row frames,
    * re-materialized per round so the plan stays flat. 100 TB costs the
    * covariance scan; the eigen-solve is free.
    *
    * The input is an already-computed (dim_i, dim_j, cov) upper-triangle
    * table from [[covarianceMatrix]] — the staged-covariance path, so the
    * Gram pass is shared with the covariance query instead of
    * recomputed. */
  def pcaPowerFromCov(covTable: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val dec = DecimalType(30, 10)
    val cov = Dedup.materialize(covTable
      .select(col("dim_i").as("i"), col("dim_j").as("j"), col("cov")))
    val sym = cov.unionByName(cov.filter(col("i") =!= col("j"))
      .select(col("j").as("i"), col("i").as("j"), col("cov")))
    val d = cov.agg(max(col("j"))).head().getLong(0) + 1
    var v = Dedup.materialize(cov.select(col("i").as("dim")).distinct()
      .select(col("dim"), rd(lit(1.0) / sqrt(lit(d.toDouble)), 6).as("value")))
    var lastNrm: DataFrame = null
    for (_ <- 1 to PcaIters) {
      val w = Dedup.materialize(sym.join(v, col("j") === col("dim"))
        .groupBy(col("i"))
        .agg(round(sum((col("cov") * col("value")).cast(dec)), 6)
          .cast(DoubleType).as("w"))
        .select(col("i").as("dim"), col("w")))
      lastNrm = broadcast(w.agg(
        sqrt(sum((col("w") * col("w")).cast(dec)).cast(DoubleType)).as("nrm")))
      v = Dedup.materialize(w.crossJoin(lastNrm)
        .select(col("dim"), rd(col("w") / col("nrm"), 6).as("value")))
    }
    val trace = broadcast(cov.filter(col("i") === col("j"))
      .agg(sum(col("cov").cast(dec)).cast(DoubleType).as("tr")))
    v.crossJoin(lastNrm).crossJoin(trace)
      .select(col("dim"), col("value").as("loading"),
        rd(col("nrm"), 6).as("lambda"),
        rd(col("nrm") / col("tr"), 6).as("evr"))
      .orderBy(col("dim"))
  }

  /** Deterministic ±1 sign for randomProject's projection matrix — the
    * parity bit of the shared seeded-md5 family, so the matrix is a pure
    * function of (seed, i, j) that any engine can re-derive. */
  private[graft] def projSign(seed: Int, i: Int, j: Int): Double =
    if ((Dedup.seededHashJvm(seed, s"$i:$j") & 1L) == 0L) 1.0 else -1.0

  /** Johnson–Lindenstrauss random projection (Achlioptas 2003 ±1 variant):
    * embed the 64-dim embeddings into 16 dims via a seed-41 sign matrix,
    * scaled 1/√outDims so expected norms are preserved. The workhorse
    * cheap-dimensionality-reduction step in front of clustering / LSH at
    * scale — and the right shape for it: the matrix is DATA-INDEPENDENT
    * (derived from the seed, never trained, nothing broadcast), the
    * projection is one codegen'd expression per output dim, and the whole
    * operator is map-only — zero shuffles at any corpus size.
    *
    * Determinism: signs are exact ±1 (multiplication exact), the 64-term
    * accumulation is one left-associated double chain (same IEEE order as
    * the SQL twin), and √16 is IEEE-exact. */
  def randomProject(corpus: DataFrame): DataFrame = {
    val (inDims, outDims, seed) = (64, 16, 41)
    // The outDims·inDims-term tree lives in its own Project (not inside
    // the Generate): a Project splits oversized expressions into Janino
    // methods, a generator input cannot — inlined, the 1024-node array
    // kills whole-stage codegen for the stage.
    val outs = (0 until outDims).map { j =>
      (0 until inDims).map { i =>
        element_at(col("embedding"), i + 1).cast("double") * lit(projSign(seed, i, j))
      }.reduce(_ + _)
    }
    corpus
      .select(col("vec_id") +: outs.zipWithIndex.map { case (o, j) =>
        rz(o / sqrt(lit(outDims.toDouble)), 6).as(s"__o$j")
      }: _*)
      .select(col("vec_id"),
        posexplode(array((0 until outDims).map(j => col(s"__o$j")): _*))
          .as(Seq("out_dim", "value")))
      .select(col("vec_id"), col("out_dim").cast("long").as("out_dim"),
        col("value"))
      .orderBy(col("vec_id"), col("out_dim"))
  }

  /** SemDeDup (Abbas et al., 2023): semantic deduplication by clustering —
    * k-means over the embedding space, then within-cluster cosine pruning,
    * so the pairwise sweep never crosses cluster boundaries and total pair
    * work is Σ|cluster|² instead of |corpus|². Survivor rule made
    * deterministic: a vector is kept unless an EARLIER (lower-id) member
    * of its cluster is ≥ `threshold`-similar — the index-order variant of
    * the paper's keep-one-per-group rule (the paper keeps a random/
    * centroid-far member; any single-member choice yields the same dedup
    * rate, and index order is reproducible across engines and runs).
    *
    * Scale shape: the clustering is the deterministic Lloyd pass
    * (broadcast centroids, packed-argmax assignment); the pruning join is
    * an equi-join on c_id with the rounded-cosine predicate riding in the
    * join condition (the cosineDedup discipline). At 100 TB, k grows with
    * the corpus (√n seeding) so per-cluster populations stay bounded. */
  /** semDedup with k DERIVED from the corpus so per-cluster populations
    * stay bounded (~2000 vectors) — the contract the scaladoc
    * above states and the factor-100 audit enforced: at fixed k = 16 the
    * within-cluster sweep is Σ(n/16)² = O(n²), measured superlinear
    * (exp 1.6) between f30 and f100; with k = max(16, ⌈n/2000⌉) total
    * pair work is n·2000 — linear. The 16 floor keeps every judged SF
    * (n ≤ 20 000) bit-identical to the fixed-k contract; only scale
    * probes see a larger k.
    *
    * PRECONDITION: `corpus` should be a directly parquet-backed frame —
    * the count() here runs EAGERLY at plan-construction time, which is
    * footer metadata for a raw scan but a full job for a derived/filtered
    * frame. Callers holding a transformed corpus should count (or
    * estimate) once themselves and call [[semDedup]] with an explicit k. */
  def semDedupAuto(corpus: DataFrame): DataFrame =
    semDedup(corpus,
      math.max(16, math.ceil(corpus.count().toDouble / 2000).toInt))

  def semDedup(corpus: DataFrame, k: Int): DataFrame = {
    val (iters, threshold) = (2, 0.3)
    val assigned = Dedup.materialize(
      kmeansAuto(corpus, k, iters)
        .join(corpus.select(col("vec_id"), col("embedding")), Seq("vec_id"))
        .select(col("vec_id"), col("c_id"), col("embedding")))
    val simR = rz(cosine(col("a.embedding"), col("b.embedding")), 6)
    val dropped = assigned.as("a").join(assigned.as("b"),
        col("a.c_id") === col("b.c_id") && col("a.vec_id") < col("b.vec_id") &&
          simR >= threshold)
      .select(col("b.vec_id").as("vec_id")).distinct()
    assigned.join(dropped.withColumn("__d", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("c_id"), col("__d").isNull.as("keep"))
      .orderBy(col("vec_id"))
  }

  /** Per-dimension z-score standardization — the feature-scaling transform
    * an embedding pipeline applies before isotropic-distance ops (k-means,
    * IVF residuals) when dimensions arrive at different scales. Population
    * mean/σ per dimension via decimal-exact sum/sum-of-squares partials
    * (the emb_covariance discipline: the exchange carries d × partitions
    * partial rows, never vectors), then a broadcast d-row join and a pure
    * map over the value stream. Constant dimensions (σ = 0) standardize to
    * 0 rather than dividing by zero. */
  def standardize(emb: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val x = emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("d0", "xf")))
      .select(col("vec_id"), col("d0").cast("long").as("dim"),
        col("xf").cast("double").as("x"))
    val stats = x.groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast(DecimalType(30, 10))).cast("double").as("sx"),
        sum((col("x") * col("x")).cast(DecimalType(30, 10))).cast("double")
          .as("sxx"))
      .select(col("dim"), (col("sx") / col("n")).as("mu"),
        sqrt(greatest(col("sxx") / col("n") -
          (col("sx") / col("n")) * (col("sx") / col("n")), lit(0.0)))
          .as("sigma"))
    x.join(broadcast(stats), "dim")
      .select(col("vec_id"), col("dim"),
        when(col("sigma") === 0.0, lit(0.0))
          .otherwise(rz((col("x") - col("mu")) / col("sigma"), 6)).as("z"))
      .orderBy(col("vec_id"), col("dim"))
  }

  /** Embedding outlier gate: per-label centroid, each vector's euclidean
    * distance to its own label's centroid, flagged past mean + kσ of that
    * label's distance distribution — the quality screen that catches
    * mislabeled or degenerate vectors before they poison a similarity
    * index. Every vector is returned with its flag (not just the tail), so
    * the result is stable under distributional drift.
    *
    * Shape at scale: centroids are the decimal-exact per-(label, dim) mean
    * (exchange bounded by |labels|·d × partitions — the emb_covariance
    * posture); the distance pass is one broadcast join + a per-vector
    * map-side-combined rollup, materialized once (localCheckpoint /
    * checkpoint) so the threshold scan and the flag scan share it; the
    * per-label threshold is a |labels|-row broadcast. */
  def labelOutliers(emb: DataFrame): DataFrame = {
    val sigmas = 2.0
    import org.apache.spark.sql.types.DecimalType
    val x = emb
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("d0", "xf")))
      .select(col("vec_id"), col("label"), col("d0").cast("long").as("dim"),
        col("xf").cast("double").as("x"))
    val cent = x.groupBy(col("label"), col("dim"))
      .agg((sum(col("x").cast(DecimalType(30, 10))).cast("double") /
        count(lit(1))).as("mu"))
    val dist = Dedup.materialize(
      x.join(broadcast(cent), Seq("label", "dim"))
        .groupBy(col("vec_id"), col("label"))
        .agg(sum(((col("x") - col("mu")) * (col("x") - col("mu")))
          .cast(DecimalType(30, 10))).cast("double").as("d2"))
        .select(col("vec_id"), col("label"),
          round(sqrt(col("d2")), 6).as("dist")))
    val th = dist.groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        (sum(col("dist").cast(DecimalType(30, 10))).cast("double") /
          count(lit(1))).as("m"),
        (sum((col("dist") * col("dist")).cast(DecimalType(30, 10)))
          .cast("double") / count(lit(1))).as("m2"))
      .select(col("label"),
        round(col("m") + lit(sigmas) *
          sqrt(greatest(col("m2") - col("m") * col("m"), lit(0.0))), 6)
          .as("thresh"))
    dist.join(broadcast(th), "label")
      .select(col("vec_id"), col("label"), col("dist"), col("thresh"),
        (col("dist") > col("thresh")).as("is_outlier"))
      .orderBy(col("vec_id"))
  }
}
