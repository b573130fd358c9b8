package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.queries.topK

/** Deterministic sampling for training-data pipelines.
  *
  * `sample(fraction)` is useless for reproducible corpus construction: the
  * kept set changes with partitioning and retries. Hash-based sampling is
  * the standard fix — a row is kept iff hash(id) mod M falls under the
  * stratum's rate, so the decision is a pure function of the row (stable
  * across runs, cluster layouts, and engines) and needs NO shuffle: the
  * filter evaluates map-side and pushes work to zero for dropped rows.
  */
object Sampling {

  private val Buckets = 10000L

  /** Per-row sampling bucket in [0, 10000): md5-derived so the DuckDB
    * oracle reproduces it exactly (same family as Dedup.seededHash). */
  def bucket(idCol: Column, seed: Int): Column =
    pmod(Dedup.seededHash(seed, idCol), lit(Buckets))

  /** Stratified deterministic sample: keep `rates(stratum)` (a fraction in
    * [0,1]) of each stratum, `defaultRate` for strata not in the map. Rates
    * are exact at 1/10000 granularity. One map-side filter — no shuffle,
    * no state; rebalancing a 100 TB corpus by language costs one scan. */
  def stratifiedByHash(df: DataFrame, strataCol: String, idCol: String,
                       rates: Map[String, Double],
                       defaultRate: Double): DataFrame = {
    // math.round, not .toLong: 0.0057 * 10000 is 56.999… in IEEE double and
    // truncation would shave a bucket off the promised 1/10000 granularity
    def cutoffOf(rate: Double): Long = math.round(rate * Buckets)
    val cutoff = rates.foldLeft(lit(cutoffOf(defaultRate))) {
      case (acc, (stratum, rate)) =>
        when(col(strataCol) === stratum, lit(cutoffOf(rate))).otherwise(acc)
    }
    df.filter(bucket(col(idCol), 13) < cutoff)
  }

  /** Fixed-SIZE deterministic sample: the k rows with the smallest
    * (hash, id) per stratum — the reservoir-sampling contract (exactly
    * min(k, |stratum|) rows, uniform under the hash family) made
    * deterministic and engine-reproducible: the kept set is a pure
    * function of the data, stable across runs, partitionings, and engines.
    *
    * Cost is the per-stratum rank. At 100 TB the standard two-phase cut
    * applies: a loose map-side rate prefilter (stratifiedByHash at
    * ~4k/|stratum|) shrinks each stratum to O(k) candidates before the
    * exact rank, so the window never sorts the raw corpus. Kept separate
    * so this operator's contract stays exact. */
  def topKByHash(df: DataFrame, strataCol: String, idCol: String,
                 k: Int): DataFrame =
    topK(df, Seq(col(strataCol)),
      Seq(Dedup.seededHash(31, col(idCol)), col(idCol)), k, "rk")

  /** Deterministic train/val/test assignment — the split a training corpus
    * must make exactly once and never drift on: each row's subset is a pure
    * function of its id (hash bucket vs cumulative cut points), so re-runs,
    * repartitions, engines, and later incremental batches all agree, and a
    * document can never migrate between train and eval. `cuts` are
    * cumulative upper bounds in hash-bucket space (1/10000 granularity),
    * last cut must be 10000. Map-only: adds one column, no shuffle. */
  def hashSplit(df: DataFrame, idCol: String,
                cuts: Seq[(String, Int)] =
                  Seq("train" -> 9800, "val" -> 9900, "test" -> 10000),
                seed: Int = 41): DataFrame = {
    require(cuts.nonEmpty && cuts.last._2 == Buckets &&
      cuts.map(_._2) == cuts.map(_._2).sorted,
      s"cuts must be ascending cumulative bounds ending at $Buckets")
    val b = bucket(col(idCol), seed)
    val subset = cuts.init.foldRight(lit(cuts.last._1): Column) {
      case ((name, cut), els) => when(b < cut, lit(name)).otherwise(els)
    }
    df.withColumn("subset", subset)
  }

  /** Temperature-scaled mixture weights (α = 0.5) — the multilingual /
    * multi-source rebalancing rule (sample stratum s with probability
    * ∝ n_s^α): w_s = √n_s / Σ√n_t, plus an integer document quota against
    * a total budget. α is FIXED at 0.5 because IEEE sqrt is correctly
    * rounded — both engines produce the identical double — where pow(x, α)
    * carries no such guarantee; quotas use floor (exact), not round
    * (HALF_UP vs banker's disagreement at ties). Each √n is cast to
    * DECIMAL(30,10) before the normalizer sum so partial-aggregation order
    * can't move the result.
    *
    * Shape at scale: one partial-agg count per stratum (|strata| rows) and
    * a broadcast one-row normalizer — the corpus is scanned once and never
    * shuffled. */
  def temperatureWeights(df: DataFrame, strataCol: String,
                         budget: Long = 10000L): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val counts = df.groupBy(col(strataCol)).agg(count(lit(1)).as("n_docs"))
    val z = counts.agg(
      sum(sqrt(col("n_docs").cast("double")).cast(DecimalType(30, 10)))
        .as("__z"))
    val weight = sqrt(col("n_docs").cast("double")) / col("__z").cast("double")
    counts.crossJoin(broadcast(z))
      .select(col(strataCol), col("n_docs"),
        round(weight, 6).as("weight"),
        floor(weight * budget).cast("long").as("quota"))
      .orderBy(col(strataCol))
  }

  /** Source repeat-factors — the "how many epochs of each source" side of
    * data mixing, the OVERSAMPLING complement of temperatureWeights'
    * subsampling quotas (the data-constrained regime of Muennighoff et
    * al. 2023: when a source's α = 0.5 share of the token budget exceeds
    * its inventory, it repeats across epochs rather than shrinking the
    * run). Per source: token inventory, temperature weight over TOKEN
    * counts (same IEEE-sqrt / DECIMAL-normalizer discipline as
    * temperatureWeights), the budget share, and repeat_factor =
    * min(share / inventory, maxEpochs) — > 1 means repeat, < 1 means
    * subsample; effective_tokens caps at the integer maxEpochs × inventory
    * so the cap path stays in exact integer arithmetic.
    *
    * Shape at scale: one partial-agg (count, sum) per source and a
    * broadcast one-row normalizer — the corpus is scanned once, never
    * shuffled; output is |sources| rows. */
  def repeatFactors(df: DataFrame, strataCol: String,
                    tokenBudget: Long): DataFrame = {
    val nTok = size(split(col("text"), "\\s+")).cast("long")
    repeatFactorsFromCounts(
      df.groupBy(col(strataCol))
        .agg(count(lit(1)).as("n_docs"), sum(nTok).as("n_tokens")),
      strataCol, tokenBudget)
  }

  /** [[repeatFactors]] over an ALREADY-AGGREGATED (strata, n_docs,
    * n_tokens) census — the form a composed pipeline uses when the token
    * counts are staged (tp4 rides the curation manifest's counts; calling
    * the docs-frame form there would re-scan the corpus for numbers the
    * manifest already carries). Identical arithmetic row for row. */
  def repeatFactorsFromCounts(counts: DataFrame, strataCol: String,
                              tokenBudget: Long): DataFrame = {
    val maxEpochs = 4
    import org.apache.spark.sql.types.DecimalType
    val z = counts.agg(
      sum(sqrt(col("n_tokens").cast("double")).cast(DecimalType(30, 10)))
        .as("__z"))
    val weight = sqrt(col("n_tokens").cast("double")) / col("__z").cast("double")
    val target = floor(weight * tokenBudget).cast("long")
    val rf = least(target.cast("double") / col("n_tokens").cast("double"),
      lit(maxEpochs.toDouble))
    counts.crossJoin(broadcast(z))
      .select(col(strataCol), col("n_docs"), col("n_tokens"),
        round(weight, 6).as("weight"),
        target.as("target_tokens"),
        round(rf, 6).as("repeat_factor"),
        least(target, col("n_tokens") * maxEpochs).as("effective_tokens"))
      .orderBy(col(strataCol))
  }

  /** Materialize a temperature mix: keep exactly min(quota_s, n_s)
    * documents per stratum, where quota_s comes from temperatureWeights —
    * the step that turns the α = 0.5 mixing weights into an actual
    * resampled corpus. Selection is the deterministic reservoir rule
    * (smallest (hash, id) first), so the kept set is a pure function of
    * the data: re-runs, engines, and incremental batches agree.
    *
    * Shape at scale: the quota table is |strata| rows and broadcasts; the
    * per-stratum rank is topKByHash capped at the budget (a literal bound,
    * so WindowGroupLimit trims each stratum to O(budget) candidates before
    * the sort); the two-phase prefilter cut applies on top when even the
    * budget-sized heap per stratum is too much. */
  def temperatureSample(df: DataFrame, strataCol: String, idCol: String,
                        budget: Long = 10000L): DataFrame = {
    val quotas = temperatureWeights(df, strataCol, budget)
      .select(col(strataCol), col("quota"))
    // Every quota is floor(weight·budget) ≤ budget, so ranking past the
    // budget can never survive the quota filter — cap k there. The cap is
    // a LITERAL bound, which is what lets Catalyst insert a
    // WindowGroupLimit below the sort (each stratum is cut to its top
    // budget+heap candidates map-side before the exact rank), instead of
    // the full-stratum rank Int.MaxValue forced.
    topKByHash(df, strataCol, idCol,
        k = math.min(budget, Int.MaxValue.toLong).toInt)
      .join(broadcast(quotas), strataCol)
      .filter(col("rk") <= col("quota"))
  }

  /** Domain-mix resampling: downsample every stratum (source/domain/lang)
    * toward an EQUAL share of the corpus — the "don't let one crawl
    * dominate the mixture" pass of a training-data pipeline. A stratum
    * with more than total/k rows is hash-sampled down to ≈ total/k; smaller
    * strata pass through whole (rate capped at 1).
    *
    * The keep decision is exact integer arithmetic end to end:
    * keep ⟺ bucket/10⁴ < total/(k·actual) ⟺ bucket·k·actual < total·10⁴ —
    * no floating division, no rounding, so no engine can disagree on a
    * boundary row. Cost: one count aggregate per stratum (bounded rows,
    * broadcast back) + a map-side filter over the corpus; the corpus
    * itself never shuffles. */
  def proportionalMix(df: DataFrame, strataCol: String,
                      idCol: String): DataFrame = {
    val counts = df.groupBy(col(strataCol)).agg(count(lit(1)).as("__actual"))
    val totals = counts.agg(sum(col("__actual")).as("__total"),
      count(lit(1)).as("__k"))
    df.join(broadcast(counts), strataCol)
      .crossJoin(broadcast(totals))
      .filter(bucket(col(idCol), 17) * col("__k") * col("__actual") <
        col("__total") * lit(Buckets))
      .drop("__actual", "__total", "__k")
  }

  /** DSIR's selection step (Xie et al., NeurIPS 2023): sample k documents
    * without replacement with probability ∝ exp(importance weight) via the
    * Gumbel top-k trick — key = weight + Gumbel noise, keep the k largest.
    * Made deterministic and engine-reproducible: the noise is
    * −ln(−ln(u)) with u = (hashBucket(id)+0.5)/10⁴ — a pure function of
    * the document id under the shared seeded-md5 family, so the selected
    * set is stable across runs, partitionings, and engines.
    *
    * Scale shape: the key is map-side arithmetic over the (already
    * doc-bounded) weight table and the cut is a distributed top-k
    * (TakeOrdered — per-partition heads, never a global sort); the final
    * rank numbers only k rows. Ordering ties break on doc_id after 6-dp
    * rounding. Expects the dsirWeights output schema
    * (doc_id, n_feats, dsir_weight). */
  def dsirGumbelTopK(weights: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val u = (bucket(col("doc_id"), 47).cast("double") + 0.5) / Buckets
    val keyed = weights
      .withColumn("key", round(col("dsir_weight") - log(-log(u)), 6))
      .orderBy(col("key").desc, col("doc_id"))
      .limit(k)
    keyed.select(col("doc_id"), col("dsir_weight"), col("key"),
        row_number().over(Window.orderBy(col("key").desc, col("doc_id")))
          .cast("long").as("rank"))
      .orderBy(col("rank"))
  }

  /** 5-fold cross-validation assignment over doc_id + balance audit:
    * deterministic hash-bucketed folds (the sp4_split family — reproducible across runs
    * and engines, any row's fold computable in isolation) and the per-
    * (fold × stratum) composition a modeler checks before trusting CV
    * variance. Shares are integer parts-per-million — fold sizes are
    * small round integers, where round(double) lands on .5 ties.
    *
    * Shape at scale: fold assignment is a pure map; the audit is one
    * partial-aggregated groupBy over |folds|·|strata| keys plus a
    * broadcast of the |folds|-row totals. */
  def kfold(df: DataFrame, strataCol: String): DataFrame = {
    val folded = df.select(
      (bucket(col("doc_id"), 53) % 5).cast("long").as("fold"),
      col(strataCol).as("stratum"))
    val cells = folded.groupBy(col("fold"), col("stratum"))
      .agg(count(lit(1)).as("n"))
    val totals = folded.groupBy(col("fold")).agg(count(lit(1)).as("fold_n"))
    cells.join(broadcast(totals), "fold")
      .select(col("fold"), col("stratum"), col("n"), col("fold_n"),
        expr("(n * 1000000) DIV fold_n").as("share_ppm"))
      .orderBy(col("fold"), col("stratum"))
  }

  /** Neyman (optimal) stratified allocation (Neyman 1934; Cochran,
    * Sampling Techniques §5.5): distribute a fixed labeling/eval budget
    * across strata proportionally to N_h·σ_h — strata that are LARGE and
    * internALLY VARIED get the samples; a huge-but-uniform stratum needs
    * few. The allocation a proportional sampler (sp1) can't justify once
    * per-stratum variances differ — the design step before any of the
    * samplers in this file runs.
    *
    * Determinism: σ_h comes from decimal-exact sum/sum-of-squares partials
    * (population σ, the emb_covariance discipline), rounded at 6 dp; the
    * weight N_h·σ_h is then quantized to integer CENTS, and both the
    * allocation share (ppm) and the per-stratum budget are FLOOR DIVISIONS
    * of exact integers — no float threshold anywhere past the one rounded
    * σ. Shape at scale: one partial-aggregated rollup to |strata| rows,
    * then a one-row broadcast total; the corpus is read once. */
  def neymanAllocation(df: DataFrame, strataCol: String, valueCol: String,
                       budget: Long = 10000L): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val d = DecimalType(30, 10)
    val x = col(valueCol).cast(DoubleType)
    // materialize: the census feeds both the weight rows and the total —
    // one corpus scan, not two
    val stats = Dedup.materialize(df.groupBy(col(strataCol).as("stratum"))
      .agg(count(lit(1)).as("n_rows"),
        sum(x.cast(d)).cast(DoubleType).as("sx"),
        sum((x * x).cast(d)).cast(DoubleType).as("sxx"))
      .select(col("stratum"), col("n_rows"),
        round(sqrt(greatest(
          col("sxx") / col("n_rows") -
            (col("sx") / col("n_rows")) * (col("sx") / col("n_rows")),
          lit(0.0))), 6).as("sigma"))
      .select(col("stratum"), col("n_rows"), col("sigma"),
        // quantize the N_h·σ_h weight in DECIMAL space (the rd discipline:
        // double->DECIMAL(30,10) cannot tie, decimal half-up is identical
        // in both engines — round(double) is not)
        expr("CAST(round(CAST(CAST(n_rows AS DOUBLE) * sigma " +
          "AS DECIMAL(30,10)), 2) * 100 AS BIGINT)").as("weight_cents")))
    val tot = stats.agg(sum(col("weight_cents")).as("total_cents"))
    // Floor division under-fills by up to |strata|−1 units; the leftover
    // is dealt by LARGEST REMAINDER (rank on the exact integer modulus,
    // stratum tie-break — deterministic in both engines) — ranked ONLY
    // over strata with headroom (alloc0 < N_h), so no remainder unit is
    // granted to an already-capped stratum and then discarded by the cap.
    // The result is then CAPPED at N_h (textbook Neyman: a stratum cannot
    // yield more rows than it has). Cap-induced shortfall beyond one
    // remainder unit per stratum is NOT re-redistributed — that is the
    // documented single-pass behavior (full Neyman iterates
    // cap→reallocate to a fixpoint; run the operator again on the uncapped
    // strata to iterate externally). The window runs over |strata| rows,
    // never the corpus.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("elig"))
      .orderBy(col("rem").desc, col("stratum"))
    val floored = stats.crossJoin(broadcast(tot))
      .select(col("stratum"), col("n_rows"), col("sigma"),
        col("weight_cents"),
        expr("(weight_cents * 1000000) DIV total_cents").as("alloc_ppm"),
        expr(s"($budget * weight_cents) DIV total_cents").as("alloc0"),
        expr(s"($budget * weight_cents) % total_cents").as("rem"))
    val leftover = floored.agg((lit(budget) - sum(col("alloc0"))).as("leftover"))
    floored.withColumn("elig", col("alloc0") < col("n_rows"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .crossJoin(broadcast(leftover))
      .select(col("stratum"), col("n_rows"), col("sigma"),
        col("weight_cents"), col("alloc_ppm"),
        least(col("alloc0") +
          when(col("elig") && col("rn") <= col("leftover"), 1L)
            .otherwise(0L), col("n_rows")).as("n_alloc"))
      .orderBy(col("stratum"))
  }
}
