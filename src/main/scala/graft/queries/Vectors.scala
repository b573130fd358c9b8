package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.{Multimodal, Similarity}

/** Similarity search + multimodal queries (SURVEY.md §2.9) over the
  * embeddings/documents tables. Cosine oracles mirror Spark's sequential
  * left-to-right double fold with DuckDB `list_reduce` (fold init 0.0 vs
  * first-element seeding agree exactly for +), so the rounded values are
  * bit-identical.
  */
object Vectors extends QueryPack {

  /** The embeddings corpus (as `table` reads it) and its bounded
    * judged-query workload: ~64 deterministic query vectors at every
    * corpus size (Similarity.queryStride). Keeping the workload
    * corpus-proportional made every exhaustive-scan query O(n^2) in the
    * factor-30 audit; a real query stream is independent of index size.
    * The stride's corpus count comes from the file footers (tableCounted):
    * no Spark job. */
  private def corpusAndQueries(s: org.apache.spark.sql.SparkSession,
                               dir: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val (e, n) = tableCounted(s, dir, "embeddings")
    (e, e.filter(col("vec_id") % Similarity.queryStride(n) === 0))
  }


  /** The IVF centroid spacing of the embeddings corpus
    * (Similarity.autoCentroidEvery), from its footer row count: no job. */
  private def autoEvery(s: org.apache.spark.sql.SparkSession, dir: String): Int =
    Similarity.autoCentroidEvery(tableRows(s, dir, "embeddings"))

  val queries: Map[String, QFn] = Map(
    // Exact brute-force top-k: bounded query set (~64 strided vec_ids)
    // broadcast against the full corpus.
    "sim_brute_topk" -> ((s, dir) => {
      val (e, q) = corpusAndQueries(s, dir)
      Similarity.bruteForceTopK(e, q, k = 5)
    }),

    // Approximate top-k via deterministic axis-sign LSH buckets.
    "sim_lsh_topk" -> ((s, dir) => {
      val (e, q) = corpusAndQueries(s, dir)
      Similarity.signLshTopK(e, q, k = 5, signBits = 8)
    }),

    // Maximum-inner-product retrieval through the MIPS→NN reduction —
    // ranking by raw dot product over the sign-bucket candidate walk.
    "sim_mips_topk" -> ((s, dir) => {
      val (e, q) = corpusAndQueries(s, dir)
      Similarity.mipsTopK(e, q, k = 5)
    }),

    // Approximate top-k via IVF cells (deterministic centroid subset,
    // nprobe=2) — the scale path when the query side is also large. The
    // centroid spacing is DERIVED (⌈√n⌉, so m ≈ √n at any corpus size);
    // the oracle mirrors the derivation with a count subquery.
    "sim_ivf_topk" -> ((s, dir) => {
      val (e, q) = corpusAndQueries(s, dir)
      Similarity.ivfTopK(e, q, k = 5, autoEvery(s, dir))
    }),

    // Product-quantization ADC top-k (Jegou et al. 2011): codes are 8
    // bytes per vector instead of 256 bytes of floats — the memory-bound
    // exhaustive-scan path; deterministic codebook, exact per-query LUT.
    // Codebook + codes come from the per-SF staged index (train once,
    // query many — the shape a real vector store has anyway).
    "sim_pq_topk" -> ((s, dir) => {
      val (_, q) = corpusAndQueries(s, dir)
      Similarity.pqTopKFrom(stagedPq(s, dir).pq, q, k = 5)
    }),

    // IVF-PQ: nprobe cells per query, candidates scored from 8-byte
    // packed codes — the staged index carries (vec_id, c_id, code), never
    // the embedding (the 100 TB memory-bound answer).
    "sim_ivfpq_topk" -> ((s, dir) => {
      val (_, q) = corpusAndQueries(s, dir)
      Similarity.ivfPqTopKFrom(stagedPq(s, dir), q, k = 5, nprobe = 2)
    }),

    // The same two-stage serving over the SUBLINEAR stage 1: IVF-PQ
    // shortlist (nprobe cells, 8-byte codes — cost tracks cell size, not
    // the corpus) re-ranked with true vectors. This is the end-to-end
    // 100 TB query path: index memory 16 bytes/vector, per-query work
    // nprobe·cell + 50 exact fetches.
    "sim_ivfpq_rerank" -> ((s, dir) => {
      val (e, q) = corpusAndQueries(s, dir)
      val shortlist = Similarity.ivfPqTopKFrom(stagedPq(s, dir), q,
          k = 50, nprobe = 2)
        .select(col("q_id"), col("vec_id"))
      Similarity.rerankExact(shortlist, e, q, k = 5)
    }),

    // Two-stage serving: PQ-ADC shortlist (50 per query, the ~10k rule of
    // thumb) re-ranked with TRUE vectors fetched by id — quantization
    // error decides which rows get fetched, never the final order. The
    // shortlist broadcasts into the corpus scan (keyed fetch, corpus
    // never shuffles); the re-rank window runs over <= 64·50 rows.
    "sim_pq_rerank" -> ((s, dir) => {
      val (e, q) = corpusAndQueries(s, dir)
      val shortlist = Similarity.pqTopKFrom(stagedPq(s, dir).pq, q, k = 50)
        .select(col("q_id"), col("vec_id"))
      Similarity.rerankExact(shortlist, e, q, k = 5)
    }),

    // Recall@5 of the PQ-ADC ranking against the exact brute-force
    // ranking — the sim_lsh_recall audit harness pointed at PQ. Rides the
    // same staged index as sim_pq_topk instead of re-training it.
    "sim_pq_recall" -> ((s, dir) => {
      val (e, q) = corpusAndQueries(s, dir)
      Similarity.recall(Similarity.bruteForceTopK(e, q, k = 5),
          Similarity.pqTopKFrom(stagedPq(s, dir).pq, q, k = 5), "")
        .orderBy(col("q_id"))
    }),

    // OPQ-lite recall audit: recall@5 of PQ-ADC over the variance-
    // balanced dimension permutation (Ge et al. 2013's rotation family,
    // restricted to its deterministic permutation member) against the
    // exact ranking — measured side by side with sim_pq_recall so the
    // rotation's effect on the SAME index budget is a number, not a hope.
    "sim_opq_recall" -> ((s, dir) => {
      val (e, q) = corpusAndQueries(s, dir)
      val opq = stagedOpq(s, dir)
      Similarity.recall(Similarity.bruteForceTopK(e, q, k = 5),
          Similarity.pqTopKFrom(opq.pq,
            Similarity.permuteVectors(q, opq.perm), k = 5), "")
        .orderBy(col("q_id"))
    }),

    // Lloyd k-means (k = 16, 2 assignment rounds) over the corpus — the
    // clustering step semantic-dedup / diversity-balancing pipelines run
    // first. Deterministic end-to-end: IVF seeding, 6-dp-rounded cosine
    // argmax, decimal-exact centroid means (ops.Similarity.kmeansAssign).
    "emb_kmeans" -> ((s, dir) =>
      Similarity.kmeansAuto(table(s, dir, "embeddings"), k = 16, iters = 2)),

    // SemDeDup (Abbas et al. 2023): semantic dedup by k-means clustering +
    // within-cluster cosine pruning with a deterministic lower-id survivor
    // rule — pair work bounded by cluster populations, never |corpus|².
    // k derives from the corpus (max(16, ⌈n/2000⌉), mirrored in the
    // oracle): at every judged SF that is exactly k = 16, while scale
    // probes keep cluster size — and so total pair work per row — bounded
    // (the factor-100 audit caught fixed-k going quadratic).
    "dd_semdedup" -> ((s, dir) =>
      Similarity.semDedupAuto(table(s, dir, "embeddings"))),

    // ANN evaluation: recall@5 of the sign-LSH path against the exact
    // brute-force ranking, per query — the "measure the approximation,
    // don't guess" harness a pipeline must run before trusting an ANN
    // index at scale. Composes the two paths above; both sides ship
    // (q_id, vec_id) sets and the recall is one bounded join + rollup.
    "sim_lsh_recall" -> ((s, dir) => {
      val (e, q) = corpusAndQueries(s, dir)
      Similarity.recall(Similarity.bruteForceTopK(e, q, k = 5),
          Similarity.signLshTopK(e, q, k = 5, signBits = 8), "")
        .orderBy(col("q_id"))
    }),

    // Recall@5 of the IVF path (nprobe=2) against the exact brute-force
    // ranking — completes the recall-audit family (LSH/PQ/OPQ and now
    // IVF). At scale nprobe is THE knob traded against recall; this row
    // is the measured side of that trade, same harness as sim_lsh_recall.
    "sim_ivf_recall" -> ((s, dir) => {
      val (e, q) = corpusAndQueries(s, dir)
      Similarity.recall(Similarity.bruteForceTopK(e, q, k = 5),
          Similarity.ivfTopK(e, q, k = 5, autoEvery(s, dir)), "")
        .orderBy(col("q_id"))
    }),

    // Filtered ANN serving audit: top-k under a metadata predicate (the
    // production shape "nearest neighbors WHERE label ∈ …" — every RAG /
    // curation retrieval filters by source, lang, or license). Two
    // postures measured side by side against the exact filtered
    // brute-force ranking, per query, on the SAME standing IVF index and
    // routing (nprobe = 2, the sim_ivf_recall audit's setting):
    //   in-probe (recall_probe): the predicate applies to probed-cell
    //     members BEFORE the top-k cut — the posture when the metadata
    //     column rides the index rows (zero extra fetches at 100 TB: the
    //     label is one more bucketed index column). Given the routing,
    //     this is the best achievable: its candidate set is every probed
    //     member satisfying the predicate.
    //   over-fetch post-filter (recall_shortlist): rank first, keep a
    //     k·4 shortlist, THEN fetch metadata and filter — the posture
    //     when metadata lives outside the index (one bounded join of
    //     |queries|·4k rows, never the corpus). Recall ≤ in-probe by
    //     construction (OpsSpec pins the dominance): predicate-passing
    //     hits can fall off the unfiltered shortlist.
    // The gap between the two columns is the measured price of keeping
    // metadata out of the index; the routing ceiling itself is
    // sim_ivf_recall's number. Predicate label % 5 = 2 (~20% slice) —
    // selective enough that the shortlist posture visibly loses hits.
    "sim_filtered_topk" -> ((s, dir) => {
      val (e, q) = corpusAndQueries(s, dir)
      val pred = col("label") % 5 === 2
      val labels = e.select(col("vec_id"), col("label"))
      val brute = Similarity.bruteForceTopK(e.filter(pred), q, k = 5)
      val cand = Similarity.ivfCandidates(e, q, autoEvery(s, dir))
      val inProbe = Similarity.simTopK(cand.join(labels, "vec_id").filter(pred), 5)
      val postFilter = Similarity.simTopK(Similarity.simTopK(cand, 20).drop("rank")
        .join(labels, "vec_id").filter(pred), 5)
      Similarity.recallLegs(brute,
          Seq("probe" -> inProbe, "shortlist" -> postFilter))
        .orderBy(col("q_id"))
    }),

    // IVFADC recall audit: recall@5 of the RESIDUAL-encoded IVF-PQ path
    // (codes quantize x − centroid(x), scoring reconstructs around the
    // cell centroid) against the exact ranking — measured on the same
    // 16-byte/vector budget, nprobe and query workload as sim_ivf... so
    // the residual refinement's effect is a number next to the raw-code
    // baseline (sim_ivfpq_topk via sim_pq_recall's harness).
    "sim_ivfpq_res_recall" -> ((s, dir) => {
      val (e, q) = corpusAndQueries(s, dir)
      Similarity.recall(Similarity.bruteForceTopK(e, q, k = 5),
          Similarity.ivfPqResTopKFrom(stagedResPq(s, dir), q, k = 5), "")
        .orderBy(col("q_id"))
    }),

    // Trained-sub-quantizer recall audit: recall@5 of flat PQ-ADC over the
    // Lloyd-refined codebook (2 deterministic rounds) vs the exact
    // ranking — measured side by side with sim_pq_recall so the training
    // win at the identical 8-byte budget is a number (0.175 → 0.248 at
    // sf0.01): the quantizer-quality lever the residual audit shows this
    // corpus does NOT get from IVFADC residuals.
    "sim_pq_ref_recall" -> ((s, dir) => {
      val (e, q) = corpusAndQueries(s, dir)
      Similarity.recall(Similarity.bruteForceTopK(e, q, k = 5),
          Similarity.pqTopKFrom(stagedRefPq(s, dir).pq, q, k = 5), "")
        .orderBy(col("q_id"))
    }),

    // The trained sub-quantizers COMPOSED into the scale path: IVF-PQ
    // shortlist (nprobe=2, 50 wide) over the Lloyd-refined codebook +
    // codes, re-ranked with true vectors, recall@5 vs exact — measured on
    // the identical 16-byte/vector budget and query workload as
    // sim_ivfpq_rerank. MEASURED at sf0.01: 0.267 — equal to the raw-seed
    // re-ranked baseline, and equal to the nprobe=2 ROUTING CEILING (the
    // fraction of true top-5 lying inside the probed cells, verified
    // independently: 0.267). Reading: the refined shortlist + exact
    // re-rank already recovers EVERY reachable neighbor, so quantizer
    // quality is no longer the binding constraint on this path — the
    // flat-ADC gain (0.175 → 0.248) is absorbed by the re-rank, and
    // further recall must come from nprobe/cell coverage, not codes.
    // Cells/centroids are shared with stage:pq — only codebook/codes swap.
    "sim_ivfpq_ref_recall" -> ((s, dir) => {
      val (e, q) = corpusAndQueries(s, dir)
      val shortlist = Similarity.ivfPqTopKFrom(stagedRefPq(s, dir), q,
          k = 50, nprobe = 2)
        .select(col("q_id"), col("vec_id"))
      Similarity.recall(Similarity.bruteForceTopK(e, q, k = 5),
          Similarity.rerankExact(shortlist, e, q, k = 5), "")
        .orderBy(col("q_id"))
    }),

    // nprobe coverage audit — the MEASURED side of the one knob the
    // sim_ivfpq_ref_recall result says still binds recall: for each
    // nprobe ∈ {1,2,4,8}, what fraction of the true top-5 lies inside the
    // first-nprobe probed cells (the hard recall ceiling of ANY re-ranked
    // IVF path at that setting — code quality cannot recover a neighbor
    // whose cell is never probed). 4 output rows regardless of corpus
    // size; the brute ranking is the same bounded-query harness every
    // recall audit rides.
    "sim_ivf_nprobe_audit" -> ((s, dir) => {
      val (e, q) = corpusAndQueries(s, dir)
      val pq = stagedPq(s, dir)
      val brute = Similarity.bruteForceTopK(e, q, k = 5)
        .select(col("q_id"), col("vec_id"))
      val probes = Similarity.queryCellRanks(pq.cent, q, maxProbe = 8)
      val hitRank = joinPacked(brute.join(pq.cells, Seq("vec_id")), probes,
          Seq("q_id", "c_id"), "left")
        .select(col("q_id"), col("vec_id"),
          coalesce(col("c_rank"), lit(999L)).as("cr"))
      hitRank
        .select(col("cr"), explode(lit(Array(1L, 2L, 4L, 8L))).as("nprobe"))
        .groupBy(col("nprobe"))
        .agg(sum(when(col("cr") <= col("nprobe"), 1L).otherwise(0L))
            .as("n_reachable"),
          count(lit(1)).as("n_true"))
        .select(col("nprobe"), col("n_reachable"), col("n_true"),
          round(col("n_reachable").cast("double") / col("n_true"), 6)
            .as("coverage"))
        .orderBy(col("nprobe"))
    }),

    // Streaming two-stage ANN ingest — the serving twin of
    // dd_stream_neardup: query vectors ARRIVE (one file per micro-batch),
    // are PQ-LUT-encoded and cell-routed map-only in-row, shortlisted via
    // one stream-static join against the standing staged (vec_id, c_id,
    // code) index, and the lone stateful operator is the per-query
    // shortlist rollup — state is one row per arrived query, independent
    // of corpus size (pinned in StreamingSpec). The drained shortlist
    // equals batch ivfPqTopKFrom(k=50) row for row, and the exact re-rank
    // runs over it unchanged — so the whole query equals sim_ivfpq_rerank
    // (same oracle SQL, the dd_bloom_confirmed proven-equal convention).
    "sim_stream_ann" -> ((s, dir) => {
      import graft.streaming.StreamOps
      val (e, q) = corpusAndQueries(s, dir)
      val pq = stagedPq(s, dir)
      val stride = Similarity.queryStride(tableRows(s, dir, "embeddings"))
      val sf = dir.replaceAll("[^A-Za-z0-9.]", "_")
      val stream = StreamOps.readEventStream(s, StreamStage.embStream(s, dir))
        .filter(col("vec_id") % stride === 0)
      val sl = Similarity.ivfPqStreamShortlist(stream, pq)
      val drained = StreamOps.drain(Seq((sl,
        s"sim_stream_ann$sf".replace(".", "_"), StreamOps.Memory("complete"))),
        shufflePartitions = Some(8)).head
      val shortRows = drained
        .select(col("q_id"), explode(col("shortlist")).as("sle"))
        .select(col("q_id"), col("sle.vec_id").as("vec_id"))
      Similarity.rerankExact(shortRows, e, q, k = 5)
    }),

    // The EVICTION posture of the ANN serving stream — sim_stream_ann's
    // complete-mode rollup holds every query ever arrived; an unbounded
    // serving stream needs the dd_stream_dedup_evict shape instead:
    // queries arrive on a synthetic ingest clock (time-ordered
    // micro-batches + flush sentinel), shortlists roll up per (ingestion
    // epoch, query) under a 45-minute watermark, each epoch is EMITTED
    // once when the watermark passes and its state (rows AND collect_list
    // candidate buffers) evicted — state is bounded by the epoch horizon,
    // never total arrived queries (StreamingSpec pins the per-batch state
    // sequence). The watermark is applied at the SOURCE, before the
    // stride filter, so the flush sentinel advances event time and the
    // last real epoch closes. Each query's candidates are map-side within
    // its own micro-batch, so the drained rows equal the complete-mode
    // twin's — and the whole query equals batch sim_ivfpq_rerank (same
    // oracle SQL, the dd_bloom_confirmed proven-equal convention).
    "sim_stream_ann_evict" -> ((s, dir) => {
      import graft.streaming.StreamOps
      val (e, q) = corpusAndQueries(s, dir)
      val pq = stagedPq(s, dir)
      val stride = Similarity.queryStride(tableRows(s, dir, "embeddings"))
      val sf = dir.replaceAll("[^A-Za-z0-9.]", "_")
      val stream = StreamOps.readEventStream(s, StreamStage.embBatches(s, dir))
        .withWatermark("ingest_ts", "45 minutes")
        .filter(col("vec_id") % stride === 0)
      val sl = Similarity.ivfPqStreamShortlistEpoch(stream, pq)
      val drained = StreamOps.drain(Seq((sl,
        s"sim_stream_ann_evict$sf".replace(".", "_"),
        StreamOps.Memory("append"))),
        shufflePartitions = Some(8)).head
      // q_id >= 0 drops the flush sentinel defensively (its window is
      // structurally never emitted — the dd_stream_dedup_evict keep_id
      // convention)
      val shortRows = drained.filter(col("q_id") >= 0)
        .select(col("q_id"), explode(col("shortlist")).as("sle"))
        .select(col("q_id"), col("sle.vec_id").as("vec_id"))
      Similarity.rerankExact(shortRows, e, q, k = 5)
    }),

    // INDEX-SIDE streaming ANN ingest — the other half of the live
    // service (sim_stream_ann covers arriving queries; this covers
    // arriving CORPUS vectors): each vector arriving on the micro-batch
    // stream is IVF-routed + PQ-encoded entirely within its own row under
    // the FROZEN staged codebook/centroids and APPENDED to the standing
    // (vec_id, c_id, cp) index — zero stateful operators, no watermark,
    // nothing to evict (StreamingSpec pins the all-zero state sequence),
    // so the strongest possible state-boundedness posture. The drained
    // index equals the batch encode (stage:pq's cells ⨝ codes) of the
    // same corpus row for row regardless of micro-batching — same oracle
    // text as the batch index CTEs (the dd_bloom_confirmed proven-equal
    // convention).
    "sim_stream_index_ingest" -> ((s, dir) => {
      import graft.streaming.StreamOps
      val pq = stagedPq(s, dir)
      val sf = dir.replaceAll("[^A-Za-z0-9.]", "_")
      val stream = StreamOps.readEventStream(s, StreamStage.embStream(s, dir))
      val enc = Similarity.ivfPqStreamEncode(stream, pq)
      StreamOps.drain(Seq((enc,
        s"sim_stream_index_ingest$sf".replace(".", "_"),
        StreamOps.Memory("append")))).head
        .orderBy(col("vec_id"))
    }),

    // Streamed-index COMPACTION, judged — the maintenance half of the
    // ingest path (append-forever is not an operable index): the ingest's
    // per-micro-batch parquet appends (up to |shuffle partitions| small
    // files per batch, the real accretion) merge into 4 c_id-range-aligned
    // internally-sorted files, and the compacted index must equal the
    // batch (cells ⨝ codes) build ROW FOR ROW — same oracle text as
    // sim_stream_index_ingest (the proven-equal convention): compaction
    // moves bytes, never values. StreamingSpec pins the file-count
    // reduction and the three-way row equality (appended ≡ compacted ≡
    // batch). At 100 TB this is the nightly pass that keeps probe cost
    // per cell at one contiguous range scan instead of |batches| seeks.
    "sim_index_compact" -> ((s, dir) => {
      val st = stagedIvfAppend(s, dir)
      readParquet(s, s"$st/compacted")
        .select(col("vec_id"), col("c_id"), col("cp"))
        .orderBy(col("vec_id"))
    }),

    // IVF CELL RE-SPLIT / REBALANCE — the cell-population third of live-
    // index maintenance, judged (sim_index_compact keeps the FILES
    // scan-friendly, sim_index_drift watches the CODEBOOK; this restores
    // the m ≈ √n CELL contract that frozen-cell streamed ingest decays:
    // sim_stream_index_ingest routes arrivals into frozen cells forever,
    // so populations grow without bound and every frontier number quietly
    // loses its basis). Any cell of the streamed-and-compacted index
    // whose population exceeds the contract's nominal √n splits into
    // ⌈n_c/√n⌉ sub-cells seeded deterministically from its own members
    // (strided by vec_id — the IVF seeding convention applied in-cell),
    // members re-route among their own sub-seeds via the native packed
    // argmax, untouched cells pass through bit-identical, and PQ codes
    // ride along unchanged (plain-PQ codes are cell-independent; OpsSpec
    // pins untouched-row equality, the population spread, and that the
    // rebalanced index still serves: sub-centroids are corpus vectors, so
    // the serving centroid table is corpus ⨝ distinct(c_id)). At the
    // judged SFs roughly half the cells sit above √n (max 64 vs 45 at
    // sf0.1) — the splits are real work, not a vacuous pass: sf0.01
    // measures 22 cells → 33, max population 36 → 30 (Voronoi re-routing
    // balances as well as the cell's geometry allows — the residual
    // above-cap mass is the documented Lloyd trade, not a bug).
    "sim_index_resplit" -> ((s, dir) => {
      val st = stagedIvfAppend(s, dir)
      val idx = readParquet(s, s"$st/compacted")
      val e = table(s, dir, "embeddings")
      val cap = autoEvery(s, dir).toLong
      Similarity.resplitCells(idx.select(col("vec_id"), col("c_id")), e, cap)
        .join(idx.select(col("vec_id"), col("cp")), "vec_id")
        .select(col("vec_id"), col("c_id"), col("cp"))
        .orderBy(col("vec_id"))
    }),

    // Quantizer-DRIFT audit — the measured trigger behind the frozen-
    // quantizer contract (ivfPqStreamEncode routes/encodes arriving
    // vectors under codebooks retrained offline and versioned; this row
    // says WHEN that retrain is due): recall@5 of flat ADC over the
    // deployed Lloyd-refined codebook, side by side on the NATIVE corpus
    // (the sim_pq_ref_recall harness) and on a deterministically SHIFTED
    // arriving distribution — every dimension translated by +0.1, one
    // mean-|x| toward the all-ones direction (a native codegen'd
    // transform; the embedding-model-update shape: arriving vectors
    // concentrate in a cone the frozen codewords never tiled) — with the
    // drifted corpus re-encoded under the SAME frozen codebook and judged
    // against its own exact brute ranking. A deployment alarms when the
    // native/drift gap crosses its SLO and retrains + reindexes. Bounded
    // workload: the same ~64 strided queries on both sides; the drift
    // transform is one compiled map pass. MEASURED at sf0.01: mean recall
    // 0.248 native → 0.124 drifted — ONE mean-magnitude of translation
    // costs the deployed codebook half its recall (a diagonal 1.5× scale,
    // by contrast, measured recall-NEUTRAL, 0.254: uniform stretch
    // distorts every codeword-vector distance alike; see
    // VectorExpressions.drift for why translation is the honest probe).
    "sim_index_drift" -> ((s, dir) => {
      import graft.functions.VectorExpressions.vecDrift
      val e = table(s, dir, "embeddings")
      val ref = stagedRefPq(s, dir).pq
      val stride = Similarity.queryStride(tableRows(s, dir, "embeddings"))
      def recallOf(corpus: org.apache.spark.sql.DataFrame,
                   index: Similarity.Pq,
                   tag: String): org.apache.spark.sql.DataFrame = {
        val q = corpus.filter(col("vec_id") % stride === 0)
        // NOT materialized (r16 measured both ways): the baseline feeds
        // the hits join and the per-query k census, but both consumers
        // sit in ONE executed plan, so ReuseExchange already computes the
        // expensive sub-window corpus scan once; a localCheckpoint here
        // only added an eager barrier + unknown-stats join planning
        // (4.81 s → 6.05 s at sf0.1)
        Similarity.recall(Similarity.bruteForceTopK(corpus, q, k = 5),
          Similarity.pqTopKFrom(index, q, k = 5), tag)
      }
      val native = recallOf(e, ref, "native")
      val drifted = e.select(col("vec_id"),
        vecDrift(col("embedding"), bias = 0.1).as("embedding"))
      val drift = recallOf(drifted, Similarity.Pq(ref.codebook,
        Similarity.pqEncodeFrom(drifted, ref.codebook)), "drift")
      native.join(drift, "q_id").orderBy(col("q_id"))
    }),

    // DRIFT RETRAIN-RECOVERY — the judged remedy for the trigger
    // sim_index_drift measures (detect → retrain → recover, closed):
    // the same three-way harness on the same translated distribution,
    // side by side — (native) the deployed Lloyd-refined codebook on its
    // own corpus, (drift) that codebook FROZEN under the +0.1/dim
    // translation (the alarm condition: recall halves), and (retrained)
    // sub-codebooks retrained ON the drifted distribution under the
    // IDENTICAL budget and procedure (8 subspaces × 16 codes = 8 bytes,
    // strided seeds + 2 Lloyd rounds — pqIndexFramesRefined verbatim),
    // scored against the drifted corpus's own exact brute ranking. This
    // is the "versioned offline retrain" the frozen-quantizer contract
    // (ivfPqStreamEncode) promises: the row shows what the retrain BUYS
    // BACK, so a deployment can judge retrain cadence against its recall
    // SLO. MEASURED at sf0.01: mean recall@5 0.248 native → 0.124 frozen
    // → 0.200 retrained — the translation costs half the recall and the
    // same-budget retrain buys back ~61% of the loss (not all: the
    // translated corpus is farther from the origin, so cosine
    // neighborhoods are tighter than 8 bytes can separate — recovering
    // the rest is a budget decision, not a training one, and that
    // residual is exactly what this row lets a deployment see before
    // committing to one). Bounded workload: the same ~64 strided queries
    // per leg; the train passes are the stage:refpq shape over the
    // drifted corpus.
    "sim_index_retrain" -> ((s, dir) => {
      import graft.functions.VectorExpressions.vecDrift
      val e = table(s, dir, "embeddings")
      val ref = stagedRefPq(s, dir).pq
      val stride = Similarity.queryStride(tableRows(s, dir, "embeddings"))
      // brute baselines deliberately NOT materialized (r16 measured both
      // ways): the frozen and retrained legs contain IDENTICAL drifted-
      // brute subtrees and each leg consumes its baseline twice (hits
      // join + k census), but all of it sits in ONE executed plan, so
      // ReuseExchange computes each distinct corpus scan once already; a
      // localCheckpoint per baseline measured 9.2 s → 14.1 s at sf0.1
      // (eager barriers + unknown-stats join planning), so the original
      // single-plan shape is kept.
      def recallOf(corpus: org.apache.spark.sql.DataFrame,
                   index: Similarity.Pq,
                   tag: String): org.apache.spark.sql.DataFrame = {
        val q = corpus.filter(col("vec_id") % stride === 0)
        Similarity.recall(Similarity.bruteForceTopK(corpus, q, k = 5),
          Similarity.pqTopKFrom(index, q, k = 5), tag)
      }
      // r17 (guide §2.6 overlap independent jobs): the NATIVE leg shares
      // nothing with the drifted chain, yet it used to sit unevaluated in
      // the final join plan while the drifted checkpoint + seed/Lloyd
      // training jobs ran serially at construction time — the final job
      // then paid the native brute+ADC on top. Its whole recall table now
      // materializes on its own thread, back-filling the executors the
      // training chain's small jobs leave idle; rows are untouched (same
      // leg, same checkpoint semantics as every materialize).
      val nativeGet = graft.ops.Dedup.materializeAsync(
        recallOf(e, ref, "native"))
      // materialized: the drifted corpus feeds its brute baseline, the
      // frozen re-encode, THREE retrain passes (seed + 2 Lloyd rounds),
      // the retrain encode, and both legs' query sides
      val drifted = graft.ops.Dedup.materialize(e.select(col("vec_id"),
        vecDrift(col("embedding"), bias = 0.1).as("embedding")))
      val frozen = recallOf(drifted, Similarity.Pq(ref.codebook,
        Similarity.pqEncodeFrom(drifted, ref.codebook)), "drift")
      // frozen and retrained stay in ONE plan: their identical drifted-
      // brute subtrees are deduplicated at the Exchange (the r16 measured
      // lesson — materializing the baselines lost 9.2 → 14.1 s)
      val retrained = recallOf(drifted,
        Similarity.pqIndexFramesRefined(drifted), "retrained")
      nativeGet().join(frozen, "q_id").join(retrained, "q_id")
        .orderBy(col("q_id"))
    }),

    // The recall/cost FRONTIER the nprobe knob trades along — the
    // coverage audit (sim_ivf_nprobe_audit) measures the routing ceiling;
    // this measures what each setting actually buys END-TO-END (IVF-PQ
    // 50-wide shortlist + exact re-rank, the serving path) and what it
    // costs (probed-corpus fraction = the share of index rows the ADC
    // join touches). One row per nprobe ∈ {1,2,4,8}, any corpus size.
    // Measured on the REFINED codebook/codes (stage:refpq — the index the
    // engine actually deploys; sim_ivfpq_ref_recall showed the Lloyd
    // rounds buy flat-ADC quality, and the frontier is exactly where
    // shortlist survival, hence code quality, binds); cells/centroids are
    // shared with stage:pq, so the routing cost column is unchanged.
    // MEASURED at sf0.01 (refined): recall 0.165/0.267/0.349/0.527 at
    // probed fraction 0.047/0.092/0.185/0.363, vs coverage ceilings
    // 0.165/0.267/0.362/0.622. Reading: at nprobe ≤ 2 the re-rank sits
    // EXACTLY on the routing ceiling (every reachable neighbor
    // recovered); at nprobe ≥ 4 the 50-wide shortlist becomes the
    // binding constraint — but the refined codes lose LESS of the ceiling
    // than the raw seeds did (0.349 vs 0.333 at nprobe=4, 0.527 vs 0.502
    // at nprobe=8: better codes rank true neighbors higher, so fewer are
    // pushed out of the 50 ADC slots before the exact re-rank sees them).
    // Serving default stays nprobe=2 — the largest setting still ON the
    // ceiling, at 9% of the corpus scanned; a recall-bound deployment
    // must raise shortlistK alongside nprobe, not nprobe alone.
    "sim_ivfpq_frontier" -> ((s, dir) => {
      val (e, q) = corpusAndQueries(s, dir)
      val ref = stagedRefPq(s, dir)
      // materialized: the brute baseline is consumed by all four hit
      // counts (and is the expensive corpus-scan half of the audit).
      // r17 §2.6: it shares nothing with the ADC candidate scan, so it
      // materializes on its own thread while the cand/scoredU checkpoints
      // run — two independent jobs overlapped instead of serialized.
      val bruteGet = graft.ops.Dedup.materializeAsync(
        Similarity.bruteForceTopK(e, q, k = 5)
          .select(col("q_id"), col("vec_id")))
      val nQ = q.agg(count(lit(1)).as("n_q"))
      val nC = e.agg(count(lit(1)).as("n_corpus"))
      val cellSizes = ref.cells.groupBy(col("c_id"))
        .agg(count(lit(1)).as("csz"))
      val probed = Similarity.queryCellRanks(ref.cent, q, maxProbe = 8)
        .join(cellSizes, Seq("c_id"))
        .select(col("c_rank"), col("csz"),
          explode(lit(Array(1L, 2L, 4L, 8L))).as("nprobe"))
        .groupBy(col("nprobe"))
        .agg(sum(when(col("c_rank") <= col("nprobe"), col("csz"))
          .otherwise(0L)).as("probed_rows"))
      // ONE ADC scan serves all four nprobe legs (r16, guide §2.4): sim is
      // nprobe-independent and each vec_id lives in exactly one cell, so
      // the nprobe=np shortlist is the (sim desc, vec_id) top-50 of the
      // maxProbe=8 candidate set restricted to c_rank ≤ np — the scan that
      // used to run 4× (probed fractions 0.047+0.092+0.185+0.363 of
      // corpus×queries) now runs once at 0.363. Likewise the exact re-rank
      // fetches + scores the UNION of the four shortlists once (≤ 200·|q|
      // rows; a c_rank≤1 candidate can out-rank its np=8 rank, so the
      // union is taken, not the np=8 set) and each leg's top-5 is a window
      // over the scored rows.
      val cand = graft.ops.Dedup.materialize(
        Similarity.ivfPqAdcCandidates(ref, q, maxProbe = 8))
      def shortlistAt(np: Int) = Similarity.simTopK(cand.filter(col("c_rank") <= np), 50)
        .select(col("q_id"), col("vec_id"))
      val union = Seq(1, 2, 4, 8).map(shortlistAt).reduce(_ unionByName _)
        .distinct()
      val scoredU = graft.ops.Dedup.materialize(
        Similarity.exactSims(union, e, q))
      val brute = bruteGet()
      val nTrue = brute.agg(count(lit(1)).as("n_true"))
      val hitRows = Seq(1, 2, 4, 8).map { np =>
        val approx = Similarity.simTopK(joinPacked(scoredU, shortlistAt(np),
            Seq("q_id", "vec_id"), "inner"), 5)
          .select(col("q_id"), col("vec_id"))
        joinPacked(brute, approx, Seq("q_id", "vec_id"), "inner")
          .agg(count(lit(1)).as("n_hits"))
          .select(lit(np.toLong).as("nprobe"), col("n_hits"))
      }.reduce(_ unionByName _)
      hitRows.join(probed, Seq("nprobe"))
        .crossJoin(broadcast(nTrue)).crossJoin(broadcast(nQ))
        .crossJoin(broadcast(nC))
        .select(col("nprobe"), col("n_true"), col("n_hits"),
          rd(col("n_hits").cast("double") / col("n_true"), 6).as("recall"),
          col("probed_rows"),
          rd(col("probed_rows").cast("double")
            / (col("n_q") * col("n_corpus")), 6).as("probed_frac"))
        .orderBy(col("nprobe"))
    }),

    // The OTHER axis of the serving trade — sim_ivfpq_frontier showed
    // that at nprobe ≥ 4 the shortlist width (not cell coverage) binds
    // end-to-end recall; this measures what WIDENING the shortlist buys
    // at fixed nprobe=8 (coverage ceiling 0.622), on the same REFINED
    // index the nprobe frontier serves (stage:refpq — the k-frontier's
    // binding regime is exactly where code quality matters most). One
    // row per shortlistK ∈ {50, 100, 200}: re-ranked recall@5 plus the
    // re-rank fetch cost (n_fetch = shortlist rows actually re-ranked).
    // MEASURED at sf0.01 (refined): recall 0.527/0.606/0.622 — K=200
    // still reaches the routing ceiling exactly, and the refined codes
    // get there CHEAPER: more of the budget arrives at K=50 (0.527 vs
    // the raw seeds' 0.502) and K=100 sits within 2.6% of the ceiling
    // (0.606 vs 0.600), so a deployment that can't afford K=200's fetch
    // volume keeps more recall at every smaller K. The two judged tables
    // still split the budget into the same two knobs — nprobe buys
    // reachability, shortlistK buys survival — with defaults re-confirmed
    // on the deployable index: nprobe=2/K=50 for the 9%-scan tier,
    // nprobe=8/K=200 to serve the full routing ceiling.
    "sim_ivfpq_k_frontier" -> ((s, dir) => {
      val (e, q) = corpusAndQueries(s, dir)
      // r17 §2.6: the brute baseline shares nothing with the ADC ranking,
      // so it materializes on its own thread while the ranked/scored200
      // checkpoints run.
      val bruteGet = graft.ops.Dedup.materializeAsync(
        Similarity.bruteForceTopK(e, q, k = 5)
          .select(col("q_id"), col("vec_id")))
      // ONE ADC scan serves all three shortlist widths (r16, guide §2.4):
      // at fixed nprobe=8 the k=kk shortlist is exactly the ADC-rank ≤ kk
      // prefix of the k=200 ranking, so the scan that used to run 3× runs
      // once; the exact re-rank fetches + scores the k=200 superset once
      // and each width's top-5 is a window over the scored rows restricted
      // to its ADC-rank prefix. n_fetch stays the shortlist row count.
      val ranked = graft.ops.Dedup.materialize(
        Similarity.ivfPqTopKFrom(stagedRefPq(s, dir), q, k = 200, nprobe = 8)
          .select(col("q_id"), col("vec_id"), col("rank")))
      val scored200 = graft.ops.Dedup.materialize(
        joinPacked(Similarity.exactSims(ranked, e, q), ranked,
          Seq("q_id", "vec_id"), "inner"))
      val brute = bruteGet()
      val nTrue = brute.agg(count(lit(1)).as("n_true"))
      val hitRows = Seq(50, 100, 200).map { kk =>
        val approx = Similarity.simTopK(scored200.filter(col("rank") <= kk), 5)
          .select(col("q_id"), col("vec_id"))
        joinPacked(brute, approx, Seq("q_id", "vec_id"), "inner")
          .agg(count(lit(1)).as("n_hits"))
          .crossJoin(broadcast(ranked.filter(col("rank") <= kk)
            .agg(count(lit(1)).as("n_fetch"))))
          .select(lit(kk.toLong).as("shortlist_k"), col("n_hits"),
            col("n_fetch"))
      }.reduce(_ unionByName _)
      hitRows.crossJoin(broadcast(nTrue))
        .select(col("shortlist_k"), col("n_true"), col("n_hits"),
          rd(col("n_hits").cast("double") / col("n_true"), 6).as("recall"),
          col("n_fetch"))
        .orderBy(col("shortlist_k"))
    }),

    // Embedding-cosine near-dup pairs, blocked by label.
    "sim_cosine_dedup" -> ((s, dir) =>
      Similarity.cosineDedup(table(s, dir, "embeddings"))),

    // Symmetric int8 quantization of the embedding column (training-data
    // compression): one codegen'd pass per vector, q = round(x·127/max|x|).
    // Judged flattened to scalar rows (vec_id, dim, q) — the harness
    // compare hashes scalar columns.
    "emb_quantize" -> ((s, dir) => {
      import graft.functions.VectorExpressions.{vecAbsMax, vecQuantize}
      table(s, dir, "embeddings")
        .select(col("vec_id"),
          round(vecAbsMax(col("embedding")), 6).as("max_abs"),
          posexplode(vecQuantize(col("embedding"))).as(Seq("dim", "q")))
        .select(col("vec_id"), col("max_abs"), col("dim").cast("long").as("dim"),
          col("q"))
        .orderBy(col("vec_id"), col("dim"))
    }),

    // Embedding near-dup clustering END-TO-END: kNN-graph edges above the
    // similarity threshold feed the same O(log n) large-star/small-star
    // connected-components machinery as text dedup — the full "cluster
    // your embedding space" pipeline in two composed operators. The edge
    // graph comes from the shared per-SF stage (sim_knn_graph builds the
    // identical graph); the marginal cost here is the CC fixpoint.
    "sim_dup_clusters" -> ((s, dir) => {
      val edges = stagedKnn(s, dir)
        .filter(col("sim") >= 0.3)
        .select(col("vec_id").as("doc_a"), col("n_id").as("doc_b"))
      graft.ops.Dedup.duplicateClusters(edges)
    }),

    // ANN-graph construction: every vector's top-3 cosine neighbors within
    // its own BOUNDED IVF sub-cell (√n-derived centroids, populations
    // capped at 64 — the SemDeDup bounded-cluster discipline, so a hub
    // cell can never own a quadratic grid) — the query-set-IS-the-corpus
    // case where no broadcast side exists by definition. Shares the staged
    // edge graph with sim_dup_clusters.
    "sim_knn_graph" -> ((s, dir) =>
      stagedKnn(s, dir).orderBy(col("vec_id"), col("rank"))),

    // Per-dimension distribution profile of the QUANTIZED embeddings — the
    // calibration check a pipeline runs before shipping an int8 index
    // (a dimension pinned at ±127 or all-zero means the symmetric scale is
    // wrong for it). Integer-exact end to end: counts, min/max, zero
    // counts, and an exact-integer-sum mean. One explode + one partial-agg
    // groupBy over |dims| keys; no shuffle sees vector-level data twice.
    "emb_dim_stats" -> ((s, dir) => {
      import graft.functions.VectorExpressions.vecQuantize
      table(s, dir, "embeddings")
        .select(posexplode(vecQuantize(col("embedding"))).as(Seq("dim", "q")))
        .groupBy(col("dim").cast("long").as("dim"))
        .agg(count(lit(1)).as("n"),
          min(col("q")).as("min_q"), max(col("q")).as("max_q"),
          sum(when(col("q") === 0L, 1L).otherwise(0L)).as("n_zero"),
          round(sum(col("q")).cast("double") / count(lit(1)), 6).as("mean_q"))
        .orderBy(col("dim"))
    }),

    // Per-dimension z-score standardization: decimal-exact sum/sumsq
    // partials -> broadcast d-row stats -> pure map over the value stream.
    "emb_standardize" -> ((s, dir) =>
      Similarity.standardize(table(s, dir, "embeddings"))),

    // Centroid-distance outlier gate: every vector flagged against its own
    // label's mean + 2-sigma distance threshold.
    "emb_outliers" -> ((s, dir) =>
      Similarity.labelOutliers(table(s, dir, "embeddings"))),

    // Norm-distribution profile per label — the sanity gate before any
    // cosine machinery (a label whose norms collapse to ~0 or spread
    // wildly poisons similarity scores): decimal-exact mean norm,
    // IEEE-deterministic min/max. One codegen dot product per vector,
    // one partial-agg rollup.
    "emb_norm_profile" -> ((s, dir) => {
      import graft.functions.VectorExpressions.dotf
      import graft.queries.davg
      val nrm = sqrt(dotf(col("embedding"), col("embedding")))
      table(s, dir, "embeddings")
        .select(col("label"), round(nrm, 6).as("nrm"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          min(col("nrm")).as("min_norm"), max(col("nrm")).as("max_norm"),
          davg(col("nrm")).as("avg_norm"))
        .orderBy(col("label"))
    }),

    // Distributed XᵀX: upper-triangle covariance matrix of the embedding
    // corpus (the PCA/whitening prep pass) — map-side Gram partials bound
    // the exchange to d(d+1)/2 cells × partitions at any corpus size.
    "emb_covariance" -> ((s, dir) =>
      stagedCov(s, dir).orderBy(col("dim_i"), col("dim_j"))),

    // Top principal component by 8-round power iteration over the
    // covariance cells — loading per dim, eigenvalue estimate, explained-
    // variance share; everything after the Gram pass is d-bounded.
    "emb_pca_power" -> ((s, dir) =>
      Similarity.pcaPowerFromCov(stagedCov(s, dir))),

    // Johnson–Lindenstrauss ±1 random projection to 16 dims (seeded sign
    // matrix, data-independent, map-only — zero shuffles). Judged
    // flattened to (vec_id, out_dim, value) scalar rows.
    "emb_rand_proj" -> ((s, dir) =>
      Similarity.randomProject(table(s, dir, "embeddings"))),

    // WebDataset-style export plan: assets packed into 64 KiB shards per
    // format, each with its shard id + byte offset — per-group prefix
    // sums, no global sort.
    "mm_shard_manifest" -> ((s, dir) =>
      graft.ops.Packing.shardManifest(
        Multimodal.decodeMetaFromDocs(table(s, dir, "documents")),
        bytesCol = "n_bytes", groupCol = "format")),

    // Multimodal metadata decode: text bytes wrapped in VALID PNG/JPEG
    // containers, then genuinely header-parsed back (Multimodal
    // .HeaderDecoder). Synthesis is deterministic, so it IS
    // oracle-checkable without the oracle parsing bytes.
    "mm_decode_meta" -> ((s, dir) =>
      Multimodal.decodeMetaFromDocs(table(s, dir, "documents"))),

    // Frame sampling: per-asset rows fan out to per-frame rows, no shuffle.
    "mm_frame_sample" -> ((s, dir) =>
      Multimodal.frameSample(table(s, dir, "documents"), stride = 4)),

    // Resize planning over decoded metadata (aspect-preserving bound).
    "mm_resize_plan" -> ((s, dir) =>
      Multimodal.resizePlan(
        Multimodal.decodeMetaFromDocs(table(s, dir, "documents")))),

    // Perceptual-hash near-dup pairs (aHash/PDQ shape): 64 block-mean
    // bits in 4 bands, banded candidate join, bit_count(xor) verify.
    "mm_phash_dedup" -> ((s, dir) =>
      Multimodal.phashDedup(table(s, dir, "documents"), maxHamming = 12)),

    // The PDQ-width variant of the same MIH design: 256 block-mean bits
    // in 16 subindex words, exact recall to hamming 31 (2·16−1), the
    // verify cut scaled proportionally (12/64 → 48/256). Word width stays
    // 16 — a longer hash adds subindices, never wider probes.
    "mm_phash_wide" -> ((s, dir) =>
      Multimodal.phashDedup(table(s, dir, "documents"), maxHamming = 48,
        bits = 256)),

    // The phash near-dup gate AS A STREAM — image/asset dedup the way a
    // crawl ingest actually runs it: each ARRIVING asset (the doc_id % 5
    // = 0 slice, one file per micro-batch) is hashed IN-ROW by the native
    // codegen'd twin of the batch block-mean arithmetic
    // (StringExpressions.phashWords — the batch build's per-character
    // explode + two groupBys would be stateful operators in a stream;
    // in-row it is map-only, the sim_stream_index_ingest lesson), its 4
    // subindex words expand to the 68 radius-1 MIH probe keys (two
    // generators, still map-only), and ONE stream-static join against
    // the standing index's rep-level subindex words (stage:phash —
    // canonicalized: distinct hash values only, so a boilerplate-asset
    // flood in the corpus cannot quadratically multiply probe
    // collisions) yields candidates; the exact bit_count(xor) ≤ 12
    // verify runs in-row against the rep's words joined statically.
    // ZERO stateful operators — state [0,0,0,0] like the index-ingest
    // row; multiplicity (a pair colliding in several subindices) is
    // deduped post-drain, where the drained gate rows are output-bounded.
    // Matched member COUNTS ride the rep row (cnt), and the group's min
    // member IS its uid, so the judged rollup (n_matches, first_match
    // per arriving doc) never touches the corpus again.
    "mm_stream_phash" -> ((s, dir) => {
      import graft.streaming.StreamOps
      val sf = dir.replaceAll("[^A-Za-z0-9.]", "_")
      val (reps, uwords) = stagedPhashIndex(s, dir)
      val uw = uwords.select(col("uid"), col("j"), col("band").as("key"))
      val stream = StreamOps.readEventStream(s, StreamStage.docStream(s, dir))
        .filter(col("doc_id") % 5 === 0 && length(col("text")) > 0)
        .select(col("doc_id").as("new_doc"),
          graft.functions.StringExpressions.phashWords(col("text"), 64)
            .as("aw"))
      val probes = stream
        .select(col("new_doc"), col("aw"),
          posexplode(col("aw")).as(Seq("j", "band")))
        .select(col("new_doc"), col("aw"), col("j"), col("band"),
          explode(sequence(lit(0), lit(16))).as("f"))
        .select(col("new_doc"), col("aw"), col("j"),
          when(col("f") === 0, col("band"))
            .otherwise(expr("band ^ shiftleft(1L, CAST(f - 1 AS INT))"))
            .as("key"))
      val verified = joinPacked(probes, uw, Seq("j", "key"), "inner")
        .join(reps, Seq("uid"))
        .withColumn("hamming", expr(
          "CAST(bit_count(aw[0] ^ b0) + bit_count(aw[1] ^ b1) + " +
            "bit_count(aw[2] ^ b2) + bit_count(aw[3] ^ b3) AS BIGINT)"))
        .filter(col("hamming") <= 12)
        .select(col("new_doc"), col("uid"), col("cnt"))
      StreamOps.drain(Seq((verified,
          s"mm_stream_phash$sf".replace(".", "_"), StreamOps.Memory("append"))))
        .head
        .distinct()
        .groupBy(col("new_doc"))
        .agg(sum(col("cnt")).as("n_matches"),
          min(col("uid")).as("first_match"))
        .orderBy(col("new_doc"))
    })
  )

  /** Standing phash MIH index over the corpus slice the streaming ingest
    * gate probes (doc_id % 5 != 0 — the % 5 = 0 slice plays the arriving
    * batch, the dd_incremental_lsh convention), CANONICALIZED: one rep
    * row per distinct 64-bit hash value (uid = min member doc_id, cnt =
    * member count — everything the gate's rollup needs: matched members
    * count through cnt, and a group's min member IS its uid) plus the
    * rep-level 16-bit subindex words the MIH probe join keys on. The
    * index carries 4 longs + 2 longs per DISTINCT hash — never the text,
    * never per-member rows. Returns (reps, uwords). */
  private[queries] def stagedPhashIndex(s: org.apache.spark.sql.SparkSession,
                                        dir: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val staged = tmpStage(dir, "phash_v1")
    ensureStaged(staged, "uwords.parquet/_SUCCESS") {
      val bcols = (0 until 4).map(j => col(s"b$j"))
      Multimodal.phashTable(
          table(s, dir, "documents").filter(col("doc_id") % 5 =!= 0),
          bits = 64)
        .groupBy(bcols: _*)
        .agg(min(col("doc_id")).as("uid"), count(lit(1)).as("cnt"))
        .write.mode("overwrite").parquet(s"$staged/reps.parquet")
      readParquet(s, s"$staged/reps.parquet")
        .select(col("uid"), posexplode(array(bcols: _*)).as(Seq("j", "band")))
        .write.mode("overwrite").parquet(s"$staged/uwords.parquet")
    }
    (readParquet(s, s"$staged/reps.parquet"),
      readParquet(s, s"$staged/uwords.parquet"))
  }

  /** Streamed-index append log + its compaction, staged once per SF: the
    * SAME frozen-quantizer ingest as sim_stream_index_ingest, drained
    * through the parquet FILE SINK (one append of up to |shuffle
    * partitions| files per micro-batch — the real small-file accretion an
    * unbounded ingest suffers), then compacted into 4 c_id-range-aligned
    * sorted files (Similarity.compactIndex). Both layouts persist so the
    * judged row reads the compacted index and StreamingSpec can pin
    * file-count reduction + row equality against the batch build. */
  private[queries] def stagedIvfAppend(s: org.apache.spark.sql.SparkSession,
                                       dir: String): String = {
    val staged = tmpStage(dir, "ivfappend_v1")
    ensureStaged(staged, "compacted/_SUCCESS") {
      import graft.streaming.StreamOps
      val stream = StreamOps.readEventStream(s, StreamStage.embStream(s, dir))
      val enc = Similarity.ivfPqStreamEncode(stream, stagedPq(s, dir))
      // the drain rebuilds the append log: a partially-built one (a
      // failed prior build) is never appended onto by a fresh checkpoint
      val appended = StreamOps.drain(Seq((enc, "sim_ivf_append",
        StreamOps.Files(s"$staged/appended")))).head
      Similarity.compactIndex(appended)
        .write.mode("overwrite").parquet(s"$staged/compacted")
    }
    staged
  }

  /** Covariance-cell stage: the corpus-sized Gram pass runs once per SF;
    * the covariance query and the PCA power iteration both ride it (the
    * stagedClusters convention — tag bumps with any change to
    * covarianceMatrix). */
  private[queries] def stagedCov(s: org.apache.spark.sql.SparkSession,
                        dir: String): org.apache.spark.sql.DataFrame = {
    val staged = tmpStage(dir, "embcov_v1")
    ensureStaged(staged, "_SUCCESS") {
      Similarity.covarianceMatrix(table(s, dir, "embeddings"))
        .write.mode("overwrite").parquet(staged)
    }
    readParquet(s, staged)
  }

  /** PQ/IVF index stage — the train-once/apply-many contract applied to
    * the vector index (the stagedBpe convention): the quantizer training
    * and the full-corpus route + encode run ONCE per SF; sim_pq_topk,
    * sim_pq_recall, sim_ivfpq_topk and every other PQ-family row query the
    * staged index. The standing index is exactly what ships at 100 TB:
    * codebook (≤ 8·16 rows), 8-byte codes + 8-byte cell id per vector — no
    * embeddings. Cost (Similarity.pqIvfIndex): one corpus read and
    * rebalance (its schema from the footer, no job), two bounded collect
    * jobs over it (n and d; the seed and centroid rows), one route +
    * encode pass whose blocks both halves are written from, and one
    * single-file write per bounded artifact — 7 Spark jobs at any SF
    * (PlanSpec pins the count).
    *
    * The PQ stages' file layout is known here and nowhere else: each
    * builder returns its index opened through readParquet, one lazy frame
    * per file, so a row pays the footer read only for the files it uses. */
  private[queries] def stagedPq(s: org.apache.spark.sql.SparkSession,
                                dir: String): Similarity.PqIvf = {
    val staged = tmpStage(dir, Similarity.PqStageTag)
    ensureStaged(staged, "cent.parquet/_SUCCESS") {
      val (codebook, cent, encoded) = Similarity.pqIvfEncoded(
        table(s, dir, "embeddings"), subspaces = 8)
      writeOneFile(codebook, s"$staged/codebook.parquet")
      // the route + encode pass runs once; both halves read its blocks
      val enc = encoded.localCheckpoint(eager = false)
      enc.select(col("vec_id"), col("cp"))
        .write.mode("overwrite").parquet(s"$staged/codes.parquet")
      enc.select(col("vec_id"), col("c_id"))
        .write.mode("overwrite").parquet(s"$staged/cells.parquet")
      // cent last: its _SUCCESS is the stage's completion marker
      writeOneFile(cent, s"$staged/cent.parquet")
    }
    Similarity.PqIvf(
      Similarity.Pq(readParquet(s, s"$staged/codebook.parquet"),
        readParquet(s, s"$staged/codes.parquet")),
      readParquet(s, s"$staged/cells.parquet"),
      readParquet(s, s"$staged/cent.parquet"))
  }

  /** A bounded, locally built frame as ONE parquet file (a local frame
    * otherwise splits into defaultParallelism files). */
  private def writeOneFile(df: org.apache.spark.sql.DataFrame,
                           path: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)

  /** stage:pq's cells and centroids under another codebook and codes
    * (the residual and refined stages share the IVF route and swap only
    * the PQ half). stage:pq is opened, or built, on first use. */
  private def onPqCells(s: org.apache.spark.sql.SparkSession, dir: String,
                        pq: Similarity.Pq): Similarity.PqIvf = {
    lazy val route = stagedPq(s, dir)
    Similarity.PqIvf(pq, route.cells, route.cent)
  }

  /** IVFADC residual index stage (Jégou et al. 2011 §IV): residuals
    * x − centroid(cell(x)) over the STAGED IVF assignment (no second
    * coarse pass), then the standard PQ train/encode over the residual
    * corpus. Same 16-byte/vector standing index as stage:pq — cells and
    * centroids are SHARED with it, only the codebook/codes differ. */
  private[queries] def stagedResPq(s: org.apache.spark.sql.SparkSession,
                                   dir: String): Similarity.PqIvf = {
    val staged = tmpStage(dir, Similarity.ResPqStageTag)
    ensureStaged(staged, "rescodes.parquet/_SUCCESS") {
      val pq = stagedPq(s, dir)
      val res = Similarity.ivfResiduals(table(s, dir, "embeddings"),
        pq.cells, pq.cent)
      val ix = Similarity.pqIvfIndex(res)
      writeOneFile(ix.codebook, s"$staged/rescodebook.parquet")
      ix.codes.write.mode("overwrite").parquet(s"$staged/rescodes.parquet")
    }
    onPqCells(s, dir, Similarity.Pq(
      readParquet(s, s"$staged/rescodebook.parquet"),
      readParquet(s, s"$staged/rescodes.parquet")))
  }

  /** Lloyd-refined PQ index stage: the strided seed codebook plus two
    * deterministic refinement rounds (Similarity.pqIndexFramesRefined) —
    * the trained-sub-quantizer index at the same 8-byte budget, served
    * over stage:pq's cells and centroids. */
  private[queries] def stagedRefPq(s: org.apache.spark.sql.SparkSession,
                                   dir: String): Similarity.PqIvf = {
    val staged = tmpStage(dir, Similarity.RefPqStageTag)
    ensureStaged(staged, "refcodes.parquet/_SUCCESS") {
      val ix = Similarity.pqIndexFramesRefined(table(s, dir, "embeddings"))
      writeOneFile(ix.codebook, s"$staged/refcodebook.parquet")
      ix.codes.write.mode("overwrite").parquet(s"$staged/refcodes.parquet")
    }
    onPqCells(s, dir, Similarity.Pq(
      readParquet(s, s"$staged/refcodebook.parquet"),
      readParquet(s, s"$staged/refcodes.parquet")))
  }

  /** A staged OPQ index: the PQ index over permuted vectors, and the
    * permutation the query side applies first (perm(newPos) =
    * originalDim), collected on first use. */
  private[queries] final class Opq(val pq: Similarity.Pq,
                                   permOf: => Seq[Int]) {
    lazy val perm: Seq[Int] = permOf
  }

  /** OPQ-lite index stage: the variance-balanced dimension permutation is
    * read off the STAGED covariance diagonal (stage:cov pays the Gram
    * pass), then the standard PQ train/encode runs over the permuted
    * corpus — codebook + codes land beside a (pos, dim) permutation table
    * so the query side permutes its vectors identically. */
  private[queries] def stagedOpq(s: org.apache.spark.sql.SparkSession,
                                 dir: String): Opq = {
    val staged = tmpStage(dir, Similarity.OpqStageTag)
    ensureStaged(staged, "codes.parquet/_SUCCESS") {
      val perm = Similarity.opqPermutation(stagedCov(s, dir))
      import s.implicits._
      perm.zipWithIndex
        .map { case (dim, pos) => (pos.toLong, dim.toLong) }
        .toDF("pos", "dim")
        .coalesce(1).write.mode("overwrite").parquet(s"$staged/perm.parquet")
      val ix = Similarity.pqIvfIndex(
        Similarity.permuteVectors(table(s, dir, "embeddings"), perm))
      writeOneFile(ix.codebook, s"$staged/codebook.parquet")
      ix.codes.write.mode("overwrite").parquet(s"$staged/codes.parquet")
    }
    new Opq(
      Similarity.Pq(readParquet(s, s"$staged/codebook.parquet"),
        readParquet(s, s"$staged/codes.parquet")),
      readParquet(s, s"$staged/perm.parquet").orderBy(col("pos"))
        .select(col("dim")).collect().map(_.getLong(0).toInt).toSeq)
  }

  /** kNN edge stage — the cell-bounded graph build (IVF assignment +
    * per-cell self-join + per-vector ranking) dominates both
    * sim_knn_graph and sim_dup_clusters and is identical between them, so
    * it runs once per SF (the stagedPairs convention on the embedding
    * side — the text side already stages exactly this pair/cluster
    * split). */
  private[queries] def stagedKnn(s: org.apache.spark.sql.SparkSession,
                                 dir: String): org.apache.spark.sql.DataFrame = {
    val staged = tmpStage(dir, Similarity.KnnStageTag)
    ensureStaged(staged, "_SUCCESS") {
      Similarity.knnGraph(table(s, dir, "embeddings"), k = 3, autoEvery(s, dir))
        .write.mode("overwrite").parquet(staged)
    }
    readParquet(s, staged)
  }

  /** DuckDB twin of ops.Similarity.cosine — sequential double fold. */
  private def dot(a: String, b: String): String =
    s"list_reduce(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)), (acc,v) -> acc+v)"
  private def norm2(a: String): String =
    s"list_reduce(list_transform($a, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), (acc,v) -> acc+v)"
  // `+ 0` normalizes -0.0 -> +0.0 (the queries.rz twin; see package.scala).
  private def cos(a: String, b: String): String =
    s"(round(${dot(a, b)} / sqrt(${norm2(a)}) / sqrt(${norm2(b)}), 6) + 0)"

  /** DuckDB twin of ops.Similarity.signBucket (8 bits). */
  private val bucket8: String =
    (0 until 8).map(i => s"CASE WHEN embedding[${i + 1}] > 0 THEN ${1L << i} ELSE 0 END")
      .mkString("CAST(", " + ", " AS BIGINT)")

  /** The deterministic Lloyd-pass CTE chain (seed → assign → decimal-exact
    * means → final assign), shared by the emb_kmeans and dd_semdedup
    * oracles — one SQL twin of Similarity.kmeansAuto(iters=2),
    * parameterized over the seed-spacing derivation: emb_kmeans pins
    * k = 16 (its contract), dd_semdedup derives k = max(16, ⌈n/2000⌉)
    * (bounded cluster populations — identical at every judged SF). */
  private def kmeansCtesFor(kSql: String): String =
    s"""ce AS (
      |  SELECT CAST(ceil(count(*) / ($kSql)) AS BIGINT) AS every FROM embeddings),
      |c0 AS (
      |  SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings
      |  WHERE vec_id % (SELECT every FROM ce) = 0),
      |a1 AS (
      |  SELECT vec_id, embedding, c_id FROM (
      |    SELECT v.vec_id, v.embedding, c.c_id,
      |      row_number() OVER (PARTITION BY v.vec_id
      |        ORDER BY ${cos("v.embedding", "c.c_emb")} DESC, c.c_id) AS rn
      |    FROM embeddings v CROSS JOIN c0 c) t WHERE rn = 1),
      |m AS (
      |  SELECT c_id, CAST(unnest(range(len(embedding))) AS INTEGER) AS dim,
      |    unnest(embedding) AS v
      |  FROM a1),
      |cm AS (
      |  SELECT c_id, dim,
      |    round(CAST(sum(CAST(v AS DECIMAL(30,10))) AS DOUBLE) / count(*), 6) + 0 AS cv
      |  FROM m GROUP BY 1, 2),
      |c1 AS (
      |  SELECT c_id, list(CAST(cv AS REAL) ORDER BY dim) AS c_emb
      |  FROM cm GROUP BY c_id),
      |a2 AS (
      |  SELECT vec_id, c_id, sim FROM (
      |    SELECT v.vec_id, c.c_id, ${cos("v.embedding", "c.c_emb")} AS sim,
      |      row_number() OVER (PARTITION BY v.vec_id
      |        ORDER BY ${cos("v.embedding", "c.c_emb")} DESC, c.c_id) AS rn
      |    FROM embeddings v CROSS JOIN c1 c) t WHERE rn = 1)""".stripMargin

  private lazy val kmeansCtes: String = kmeansCtesFor("16.0")
  private lazy val kmeansCtesSemDedup: String =
    kmeansCtesFor("greatest(16.0, ceil(count(*) / 2000.0))")

  /** DuckDB twin of Similarity.randomProject's seeded ±1 chain — generated
    * from the SAME projSign derivation the Spark side multiplies by, so
    * the two engines share one matrix by construction. */
  private lazy val randProjOracle: String = {
    val exprs = (0 until 16).map { j =>
      val chain = (0 until 64).map { i =>
        val s = if (Similarity.projSign(41, i, j) > 0) "1.0" else "-1.0"
        s"CAST(embedding[${i + 1}] AS DOUBLE) * $s"
      }.mkString(" + ")
      s"round(($chain) / sqrt(16.0), 6) + 0"
    }
    s"""SELECT vec_id, CAST(unnest(range(16)) AS BIGINT) AS out_dim,
      |  unnest([${exprs.mkString(",\n")}]) AS value
      |FROM embeddings ORDER BY vec_id, out_dim""".stripMargin
  }


  /** The bounded kNN-edge CTEs (IVF assignment → cellCap=64 sub-cell split
    * → within-(c_id, sub) scoring) — the SQL twin of Similarity.knnGraph,
    * shared by sim_knn_graph and sim_dup_clusters so the graph derivation
    * cannot drift between them. DuckDB `//` is integer floor division —
    * the Spark side's floor((rn−1)/cap) on non-negative operands. */
  private lazy val knnScoredCtes: String =
    s"""ce AS (
      |  SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS every FROM embeddings),
      |cent AS (
      |  SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings
      |  WHERE vec_id % (SELECT every FROM ce) = 0),
      |ca AS (
      |  SELECT vec_id, embedding, c_id FROM (
      |    SELECT v.vec_id, v.embedding, c.c_id,
      |      row_number() OVER (PARTITION BY v.vec_id
      |        ORDER BY ${cos("v.embedding", "c.c_emb")} DESC, c.c_id) AS rn
      |    FROM embeddings v CROSS JOIN cent c) t WHERE rn = 1),
      |ca2 AS (
      |  SELECT vec_id, embedding, c_id,
      |    CAST((row_number() OVER (PARTITION BY c_id ORDER BY vec_id) - 1) // 64 AS BIGINT) AS sub
      |  FROM ca),
      |scored AS (
      |  SELECT a.vec_id, b.vec_id AS n_id,
      |    ${cos("a.embedding", "b.embedding")} AS sim
      |  FROM ca2 a JOIN ca2 b ON a.c_id = b.c_id AND a.sub = b.sub
      |    AND a.vec_id != b.vec_id)""".stripMargin

  /** DuckDB twin of Similarity.pqIvfIndex's PQ half scored by
    * Similarity.pqTopKFrom — the full PQ chain (derived codebook,
    * packed-min encoding with the 10^12 bias, per-query LUT, ascending-m
    * ADC folds) as a reusable CTE block ending in `pq`
    * (q_id, vec_id, sim, rank <= 5). Parameterized over the source
    * relation so the OPQ oracle can run the identical chain over the
    * permuted view. */
  private lazy val pqCtes: String = pqCtesOn("embeddings")

  /** The judged query workload (Similarity.queryStride): every
    * ⌈n/64⌉-th vector is a query. */
  private lazy val qeCte: String =
    "qe AS (SELECT greatest(1, CAST(ceil(count(*) / 64.0) AS BIGINT)) AS qevery FROM embeddings)"

  /** Brute-force top-5 CTEs (bq/bscored/b) — the exact baseline every
    * recall oracle scores against. `where` filters the scored (e, bq)
    * pairs. Assumes `qe` is in the WITH list. */
  private def bruteCtesWhere(where: String): String =
    s"""bq AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id % (SELECT qevery FROM qe) = 0),
      |bscored AS (
      |  SELECT bq.q_id, e.vec_id, ${cos("bq.q_emb", "e.embedding")} AS sim
      |  FROM embeddings e CROSS JOIN bq$where),
      |b AS (
      |  SELECT q_id, vec_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
      |    FROM bscored) t WHERE rank <= 5)""".stripMargin

  private lazy val bruteBase: String =
    bruteCtesWhere(" WHERE e.vec_id != bq.q_id")
  private lazy val bruteCtes: String = s"$qeCte,\n$bruteBase"

  /** Per-query hits (⟨p⟩h) of the `approx` (q_id, vec_id) list against
    * the `brute` baseline, and the baseline's list sizes (⟨p⟩kq) — the
    * SQL twin of Similarity.recall, with recallCols/recallSelect. */
  private def recallCtes(approx: String, brute: String, p: String): String =
    s"""${p}h AS (SELECT $brute.q_id, count(*) AS n_hits FROM $brute JOIN $approx USING (q_id, vec_id) GROUP BY 1),
      |${p}kq AS (SELECT q_id, count(*) AS k FROM $brute GROUP BY 1)""".stripMargin

  /** One leg's n_hits⟨sfx⟩ and recall⟨sfx⟩ columns over ⟨p⟩h/⟨p⟩kq. */
  private def recallCols(p: String, sfx: String): String =
    s"""CAST(coalesce(${p}h.n_hits, 0) AS BIGINT) AS n_hits$sfx,
      |  round(CAST(coalesce(${p}h.n_hits, 0) AS DOUBLE) / ${p}kq.k, 6) AS recall$sfx""".stripMargin

  /** The single-leg recall table over ⟨p⟩h/⟨p⟩kq, ordered by query. */
  private def recallSelect(p: String): String =
    s"""SELECT ${p}kq.q_id, ${recallCols(p, "")}
      |FROM ${p}kq LEFT JOIN ${p}h USING (q_id) ORDER BY q_id""".stripMargin

  /** The recall oracle's tail: `approx` scored against the baseline `b`. */
  private def recallOracleTail(approx: String): String =
    s"${recallCtes(approx, "b", "")}\n${recallSelect("")}"

  /** Lloyd-refined PQ index CTEs — seed codebook (⟨p⟩cb0), two refinement
    * rounds (⟨p⟩cb1/⟨p⟩cb2), encode (⟨p⟩packed), query LUTs
    * (⟨p⟩q/⟨p⟩lut/⟨p⟩rn/⟨p⟩s) — the SQL twin of
    * Similarity.pqIndexFramesRefined, parameterized over the source
    * relation and a CTE-name prefix so the NATIVE index (embeddings, "f")
    * and the drift-RETRAINED index (the drifted view, "g") ride one
    * text. Assumes `qe` is already in the WITH list. */
  private def refPqCtesOn(src: String, p: String): String = {
    def sl(v: String, m: String) =
      s"list_slice($v, CAST($m*8+1 AS INT), CAST($m*8+8 AS INT))"
    val rounds = (1 to 2).map { t =>
      s"""${p}asg$t AS (
        |  SELECT v.vec_id, c.m,
        |    min((CAST(round((c.cn2 - 2 * ${dot(sl("v.embedding", "c.m"), "c.c_sub")}) * 1000000) AS BIGINT)
        |         + 1000000000000) * 256 + c.code) AS pk
        |  FROM $src v CROSS JOIN ${p}cb${t - 1} c GROUP BY 1, 2),
        |${p}xp$t AS (
        |  SELECT a.m, a.pk % 256 AS code,
        |    CAST(unnest(range(8)) AS BIGINT) AS dim,
        |    CAST(unnest(${sl("v.embedding", "a.m")}) AS DOUBLE) AS x
        |  FROM ${p}asg$t a JOIN $src v USING (vec_id)),
        |${p}mean$t AS (
        |  SELECT m, code, dim,
        |    round(CAST(sum(CAST(x AS DECIMAL(30,10))) AS DOUBLE) / count(*), 6) + 0 AS mv
        |  FROM ${p}xp$t GROUP BY 1, 2, 3),
        |${p}ml$t AS (SELECT m, code, list(CAST(mv AS REAL) ORDER BY dim) AS c_sub2
        |  FROM ${p}mean$t GROUP BY 1, 2),
        |${p}cb$t AS MATERIALIZED (
        |  SELECT s.m, s.code, coalesce(l.c_sub2, s.c_sub) AS c_sub,
        |    ${norm2("coalesce(l.c_sub2, s.c_sub)")} AS cn2
        |  FROM ${p}cb${t - 1} s LEFT JOIN ${p}ml$t l ON s.m = l.m AND s.code = l.code)"""
        .stripMargin
    }
    s"""${p}ce AS (SELECT greatest(1, CAST(ceil(count(*) / 16.0) AS BIGINT)) AS every FROM $src),
      |${p}sd AS (SELECT embedding AS c_emb,
      |    CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS code
      |  FROM $src WHERE vec_id % (SELECT every FROM ${p}ce) = 0),
      |${p}s AS (SELECT CAST(count(*) AS BIGINT) AS s FROM ${p}sd),
      |${p}cb0 AS (SELECT mm.m, code,
      |    ${sl("c_emb", "mm.m")} AS c_sub,
      |    ${norm2(sl("c_emb", "mm.m"))} AS cn2
      |  FROM ${p}sd CROSS JOIN (SELECT unnest(range(0, 8)) AS m) mm),
      |${rounds.mkString(",\n")},
      |${p}enc AS (
      |  SELECT v.vec_id, c.m,
      |    min((CAST(round((c.cn2 - 2 * ${dot(sl("v.embedding", "c.m"), "c.c_sub")}) * 1000000) AS BIGINT)
      |         + 1000000000000) * 256 + c.code) AS pk
      |  FROM $src v CROSS JOIN ${p}cb2 c GROUP BY 1, 2),
      |${p}packed AS (SELECT vec_id,
      |    CAST(sum((pk % 256) * (CAST(1 AS BIGINT) << CAST(8 * m AS INT))) AS BIGINT) AS cp
      |  FROM ${p}enc GROUP BY 1),
      |${p}q AS (SELECT vec_id AS q_id, embedding AS q_emb, sqrt(${norm2("embedding")}) AS q_nrm
      |  FROM $src WHERE vec_id % (SELECT qevery FROM qe) = 0),
      |${p}lut AS (
      |  SELECT q_id, q_nrm, list(dv ORDER BY idx) AS lut FROM (
      |    SELECT q.q_id, q.q_nrm, c.m * sc.s + c.code AS idx,
      |      ${dot(sl("q.q_emb", "c.m"), "c.c_sub")} AS dv
      |    FROM ${p}q q CROSS JOIN ${p}cb2 c CROSS JOIN ${p}s sc) t
      |  GROUP BY q_id, q_nrm),
      |${p}rn AS (SELECT list(cn2 ORDER BY m * s + code) AS rn2 FROM ${p}cb2 CROSS JOIN ${p}s)""".stripMargin
  }

  private lazy val refPqCtes: String = refPqCtesOn("embeddings", "f")

  /** Flat-ADC scoring + top-5 + hit/denominator CTEs against a brute
    * baseline, parameterized over the (packed, lut, rn, s) index CTEs,
    * the brute CTE, and an output prefix — emits ⟨p⟩scored/⟨p⟩5/⟨p⟩h/
    * ⟨p⟩kq. One text for the native, frozen-drift, and retrained legs. */
  private def adcRecallLeg(packed: String, lut: String, rn: String,
                           sT: String, brute: String, p: String): String =
    s"""${p}scored AS (
      |  SELECT l.q_id, p.vec_id,
      |    round(
      |      list_reduce(list_transform(range(0, 8),
      |        m -> l.lut[CAST(m * sc.s + ((p.cp >> CAST(8 * m AS INT)) % 256) + 1 AS INT)]), (a, b) -> a + b)
      |      / l.q_nrm
      |      / sqrt(list_reduce(list_transform(range(0, 8),
      |        m -> r.rn2[CAST(m * sc.s + ((p.cp >> CAST(8 * m AS INT)) % 256) + 1 AS INT)]), (a, b) -> a + b)), 6) + 0 AS sim
      |  FROM $packed p CROSS JOIN $lut l CROSS JOIN $rn r CROSS JOIN $sT sc
      |  WHERE p.vec_id <> l.q_id),
      |${p}5 AS (
      |  SELECT q_id, vec_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
      |    FROM ${p}scored) t WHERE rank <= 5),
      |${recallCtes(s"${p}5", brute, p)}""".stripMargin

  /** The batch (cells ⨝ codes) index as SQL — what every streamed form of
    * the standing index (per-row ingest, compacted append log) must equal
    * row for row. */
  private lazy val batchIndexOracle: String =
    s"""WITH $pqCtes,
      |$ivfRouteCtes
      |SELECT p.vec_id, ica.c_id, p.cp
      |FROM pqpacked p JOIN ica USING (vec_id)
      |ORDER BY p.vec_id""".stripMargin

  /** sim_index_resplit: the rebalanced assignment restated in SQL — the
    * batch route (ivfRouteCtes), populations against the √n cap, the
    * in-cell strided seed rule, and the same round-6-cosine/c_id-asc
    * re-route arithmetic as every probe (the ivfRouteId tie order). */
  private lazy val indexResplitOracle: String =
    s"""WITH $pqCtes,
      |$ivfRouteCtes,
      |rcap AS (SELECT (SELECT every FROM ice) AS cap),
      |rp AS (SELECT c_id, count(*) AS n FROM ica GROUP BY c_id),
      |rov AS (SELECT c_id, n FROM rp WHERE n > (SELECT cap FROM rcap)),
      |rmem AS (
      |  SELECT ica.vec_id, ica.c_id,
      |    row_number() OVER (PARTITION BY ica.c_id ORDER BY ica.vec_id) - 1 AS rk
      |  FROM ica JOIN rov USING (c_id)),
      |rstr AS (
      |  SELECT c_id,
      |    CAST(ceil(CAST(n AS DOUBLE) /
      |      ceil(CAST(n AS DOUBLE) / (SELECT cap FROM rcap))) AS BIGINT) AS stride
      |  FROM rov),
      |rseed AS (
      |  SELECT m.c_id, m.vec_id AS s_id, e.embedding AS s_emb
      |  FROM rmem m JOIN rstr USING (c_id)
      |  JOIN embeddings e ON e.vec_id = m.vec_id
      |  WHERE m.rk % stride = 0),
      |rass AS (
      |  SELECT vec_id, s_id AS c_id FROM (
      |    SELECT m.vec_id, s.s_id,
      |      row_number() OVER (PARTITION BY m.vec_id
      |        ORDER BY ${cos("e.embedding", "s.s_emb")} DESC, s.s_id) AS rn
      |    FROM rmem m
      |    JOIN embeddings e ON e.vec_id = m.vec_id
      |    JOIN rseed s ON s.c_id = m.c_id) t WHERE rn = 1),
      |rnew AS (
      |  SELECT vec_id, c_id FROM ica
      |  WHERE c_id NOT IN (SELECT c_id FROM rov)
      |  UNION ALL
      |  SELECT vec_id, c_id FROM rass)
      |SELECT p.vec_id, rnew.c_id, p.cp
      |FROM pqpacked p JOIN rnew USING (vec_id)
      |ORDER BY p.vec_id""".stripMargin

  /** The drifted-distribution CTEs shared by sim_index_drift and
    * sim_index_retrain: the +0.1/dim translation (demb — the
    * FloatVecDrift twin), the drifted brute baseline (dbq/dbs/db), and
    * the FROZEN-codebook leg (encode under fcb2: denc/dpacked, drifted
    * query LUTs over fcb2: dfq/dlut). Assumes qe + refPqCtes precede. */
  private lazy val driftCtes: String = {
    def sl(v: String, m: String) =
      s"list_slice($v, CAST($m*8+1 AS INT), CAST($m*8+8 AS INT))"
    s"""demb AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x ->
      |      CAST(CAST(x AS DOUBLE) + 0.1 AS REAL)) AS embedding
      |  FROM embeddings),
      |dbq AS (SELECT vec_id AS q_id, embedding AS q_emb FROM demb WHERE vec_id % (SELECT qevery FROM qe) = 0),
      |dbs AS (
      |  SELECT dbq.q_id, e.vec_id, ${cos("dbq.q_emb", "e.embedding")} AS sim
      |  FROM demb e CROSS JOIN dbq WHERE e.vec_id != dbq.q_id),
      |db AS (
      |  SELECT q_id, vec_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
      |    FROM dbs) t WHERE rank <= 5),
      |denc AS (
      |  SELECT v.vec_id, c.m,
      |    min((CAST(round((c.cn2 - 2 * ${dot(sl("v.embedding", "c.m"), "c.c_sub")}) * 1000000) AS BIGINT)
      |         + 1000000000000) * 256 + c.code) AS pk
      |  FROM demb v CROSS JOIN fcb2 c GROUP BY 1, 2),
      |dpacked AS (SELECT vec_id,
      |    CAST(sum((pk % 256) * (CAST(1 AS BIGINT) << CAST(8 * m AS INT))) AS BIGINT) AS cp
      |  FROM denc GROUP BY 1),
      |dfq AS (SELECT vec_id AS q_id, embedding AS q_emb, sqrt(${norm2("embedding")}) AS q_nrm
      |  FROM demb WHERE vec_id % (SELECT qevery FROM qe) = 0),
      |dlut AS (
      |  SELECT q_id, q_nrm, list(dv ORDER BY idx) AS lut FROM (
      |    SELECT q.q_id, q.q_nrm, c.m * sc.s + c.code AS idx,
      |      ${dot(sl("q.q_emb", "c.m"), "c.c_sub")} AS dv
      |    FROM dfq q CROSS JOIN fcb2 c CROSS JOIN fs sc) t
      |  GROUP BY q_id, q_nrm),
      |${adcRecallLeg("dpacked", "dlut", "frn", "fs", "db", "d")}""".stripMargin
  }

  /** sim_index_drift: the refined-codebook flat-ADC recall harness run
    * twice — natively (bruteCtes + refPqCtes + the adcRecallLeg scoring)
    * and over the DRIFTED corpus (+0.1 per dimension, the FloatVecDrift
    * twin) re-encoded under the SAME frozen fcb2 and judged against its
    * own drifted brute ranking. */
  private lazy val indexDriftOracle: String =
    s"""WITH $bruteCtes,
      |$refPqCtes,
      |${adcRecallLeg("fpacked", "flut", "frn", "fs", "b", "f")},
      |$driftCtes
      |SELECT fkq.q_id,
      |  ${recallCols("f", "_native")},
      |  ${recallCols("d", "_drift")}
      |FROM fkq JOIN dkq USING (q_id)
      |LEFT JOIN fh USING (q_id) LEFT JOIN dh USING (q_id)
      |ORDER BY q_id""".stripMargin

  /** sim_index_retrain: the drift oracle's two legs PLUS the retrained
    * leg — the same refined-PQ training text (refPqCtesOn) instantiated
    * over the DRIFTED corpus under the identical 8-byte budget, scored
    * against the drifted brute baseline. */
  private lazy val indexRetrainOracle: String =
    s"""WITH $bruteCtes,
      |$refPqCtes,
      |${adcRecallLeg("fpacked", "flut", "frn", "fs", "b", "f")},
      |$driftCtes,
      |${refPqCtesOn("demb", "g")},
      |${adcRecallLeg("gpacked", "glut", "grn", "gs", "db", "g")}
      |SELECT fkq.q_id,
      |  ${recallCols("f", "_native")},
      |  ${recallCols("d", "_drift")},
      |  ${recallCols("g", "_retrained")}
      |FROM fkq JOIN dkq USING (q_id) JOIN gkq USING (q_id)
      |LEFT JOIN fh USING (q_id) LEFT JOIN dh USING (q_id)
      |LEFT JOIN gh USING (q_id)
      |ORDER BY q_id""".stripMargin

  /** DuckDB twin of Similarity.pqIndexFramesRefined + the flat-ADC recall
    * audit: strided seed codebook, `iters` Lloyd rounds (packed-min
    * reassignment — the encode argmin — then decimal-exact 6-dp means cast
    * to REAL, empty codewords keeping their previous position), encode,
    * per-query LUT, flat scoring, recall@5 vs brute. */
  private lazy val refPqRecallOracle: String =
    s"""WITH $bruteCtes,
      |$refPqCtes,
      |${adcRecallLeg("fpacked", "flut", "frn", "fs", "b", "f")}
      |${recallSelect("f")}""".stripMargin

  /** The IVF route CTEs alone (centroids, corpus/probe assignment) —
    * index-payload-agnostic, so the raw-code and refined-code oracles
    * share one routing text. Assumes `qe` is in the WITH list. */
  private lazy val ivfRouteCtes: String =
    s"""ice AS (
      |  SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS every FROM embeddings),
      |icent AS (
      |  SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings
      |  WHERE vec_id % (SELECT every FROM ice) = 0),
      |ica AS (
      |  SELECT vec_id, c_id FROM (
      |    SELECT v.vec_id, c.c_id,
      |      row_number() OVER (PARTITION BY v.vec_id
      |        ORDER BY ${cos("v.embedding", "c.c_emb")} DESC, c.c_id) AS rn
      |    FROM embeddings v CROSS JOIN icent c) t WHERE rn = 1),
      |iqp AS (
      |  SELECT q_id, c_id FROM (
      |    SELECT v.vec_id AS q_id, c.c_id,
      |      row_number() OVER (PARTITION BY v.vec_id
      |        ORDER BY ${cos("v.embedding", "c.c_emb")} DESC, c.c_id) AS rn
      |    FROM embeddings v CROSS JOIN icent c WHERE v.vec_id % (SELECT qevery FROM qe) = 0) t WHERE rn <= 2)""".stripMargin

  /** ADC scoring over the probed cells, parameterized by the index CTE
    * names — `$name` scores whichever (packed, lut, rn, s) quadruple it is
    * pointed at, so raw and refined indexes ride one scoring text. */
  private def ivfAdcScored(name: String, packed: String, lut: String,
                           rn: String, sTab: String, probe: String = "iqp",
                           extraWhere: String = ""): String =
    s"""$name AS (
      |  SELECT l.q_id, p.vec_id,
      |    round(
      |      list_reduce(list_transform(range(0, 8),
      |        m -> l.lut[CAST(m * sc.s + ((p.cp >> CAST(8 * m AS INT)) % 256) + 1 AS INT)]), (a, b) -> a + b)
      |      / l.q_nrm
      |      / sqrt(list_reduce(list_transform(range(0, 8),
      |        m -> r.rn2[CAST(m * sc.s + ((p.cp >> CAST(8 * m AS INT)) % 256) + 1 AS INT)]), (a, b) -> a + b)), 6) + 0 AS sim
      |  FROM $probe
      |    JOIN ica USING (c_id)
      |    JOIN $packed p ON ica.vec_id = p.vec_id
      |    JOIN $lut l ON $probe.q_id = l.q_id
      |    CROSS JOIN $rn r CROSS JOIN $sTab sc
      |  WHERE p.vec_id <> l.q_id$extraWhere)""".stripMargin

  /** The IVF-PQ scoring CTEs (centroids, corpus/probe assignment, ADC
    * scoring over probed cells) shared by sim_ivfpq_topk and
    * sim_ivfpq_rerank — one text so the two oracles cannot drift. Assumes
    * $pqCtes is already in the WITH list (uses qe/pqpacked/pqlut/pqrn/pqs). */
  private lazy val ivfPqCtes: String =
    s"""$ivfRouteCtes,
      |${ivfAdcScored("iscored", "pqpacked", "pqlut", "pqrn", "pqs")}""".stripMargin

  /** The two-stage serving oracle (IVF-PQ 50-wide shortlist → exact
    * re-rank) — shared VERBATIM by sim_ivfpq_rerank and sim_stream_ann:
    * the streaming ingest is proven equal to the batch path, so one text
    * keeps the contract single-sourced. */
  private lazy val ivfPqRerankOracle: String =
    s"""WITH $pqCtes,
      |$ivfPqCtes,
      |isl AS (
      |  SELECT q_id, vec_id FROM (
      |    SELECT q_id, vec_id,
      |      row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS r
      |    FROM iscored) t WHERE r <= 50),
      |irx AS (
      |  SELECT isl.q_id, isl.vec_id,
      |    ${cos("q.q_emb", "e.embedding")} AS sim
      |  FROM isl JOIN pqq q USING (q_id)
      |           JOIN embeddings e ON isl.vec_id = e.vec_id)
      |SELECT q_id, vec_id, sim, rank FROM (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id
      |    ORDER BY sim DESC, vec_id) AS BIGINT) AS rank
      |  FROM irx) t
      |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  /** Per-query centroid ranking to depth 8 (q_id, c_id, c_rank) — the SQL
    * twin of Similarity.queryCellRanks(maxProbe = 8), shared by the nprobe
    * coverage audit and the frontier so the routing text cannot drift.
    * Assumes qe + icent are in the WITH list. */
  private lazy val iqp8Cte: String =
    s"""iqp8 AS (
      |  SELECT q_id, c_id, rn AS c_rank FROM (
      |    SELECT v.vec_id AS q_id, c.c_id,
      |      row_number() OVER (PARTITION BY v.vec_id
      |        ORDER BY ${cos("v.embedding", "c.c_emb")} DESC, c.c_id) AS rn
      |    FROM embeddings v CROSS JOIN icent c WHERE v.vec_id % (SELECT qevery FROM qe) = 0) t WHERE rn <= 8)""".stripMargin

  /** sim_ivfpq_frontier: per nprobe ∈ {1,2,4,8}, the end-to-end re-ranked
    * recall@5 of the IVF-PQ serving path AND its probed-corpus fraction —
    * the measured recall/cost frontier behind the serving default, on the
    * REFINED (deployable) codebook/codes. Reuses the brute/refined/route
    * CTEs; the ADC scoring runs once per nprobe over the depth-8 route
    * table filtered to that setting. Routing (hence probed_rows) is
    * code-agnostic and shared with the raw-seed index. */
  private lazy val ivfPqFrontierOracle: String = {
    val perNp = Seq(1, 2, 4, 8).map { np =>
      s"""${ivfAdcScored(s"fs$np", "fpacked", "flut", "frn", "fs",
             probe = "iqp8", extraWhere = s" AND iqp8.c_rank <= $np")},
        |fsl$np AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT q_id, vec_id,
        |      row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS r
        |    FROM fs$np) t WHERE r <= 50),
        |frx$np AS (
        |  SELECT fsl$np.q_id, fsl$np.vec_id, ${cos("q.q_emb", "e.embedding")} AS sim
        |  FROM fsl$np JOIN fq q USING (q_id)
        |              JOIN embeddings e ON fsl$np.vec_id = e.vec_id),
        |fr5$np AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
        |    FROM frx$np) t WHERE rank <= 5),
        |fh$np AS (SELECT CAST($np AS BIGINT) AS nprobe, CAST(count(*) AS BIGINT) AS n_hits
        |  FROM b JOIN fr5$np USING (q_id, vec_id))""".stripMargin
    }.mkString(",\n")
    s"""WITH $bruteCtes,
      |$refPqCtes,
      |$ivfRouteCtes,
      |$iqp8Cte,
      |$perNp,
      |fcsz AS (SELECT c_id, CAST(count(*) AS BIGINT) AS csz FROM ica GROUP BY 1),
      |fnpv AS (SELECT CAST(unnest([1, 2, 4, 8]) AS BIGINT) AS nprobe),
      |fpr AS (
      |  SELECT fnpv.nprobe,
      |    CAST(sum(CASE WHEN q.c_rank <= fnpv.nprobe THEN s.csz ELSE 0 END) AS BIGINT) AS probed_rows
      |  FROM iqp8 q JOIN fcsz s USING (c_id) CROSS JOIN fnpv GROUP BY 1),
      |fhh AS (SELECT * FROM fh1 UNION ALL SELECT * FROM fh2
      |        UNION ALL SELECT * FROM fh4 UNION ALL SELECT * FROM fh8),
      |fbt AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM b),
      |ftq AS (SELECT CAST(count(*) AS BIGINT) AS n_q FROM fq),
      |ftn AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM embeddings)
      |SELECT fhh.nprobe, fbt.n_true, fhh.n_hits,
      |  CAST(round(CAST(CAST(fhh.n_hits AS DOUBLE) / fbt.n_true AS DECIMAL(30,10)), 6) AS DOUBLE) AS recall,
      |  fpr.probed_rows,
      |  CAST(round(CAST(CAST(fpr.probed_rows AS DOUBLE) / (ftq.n_q * ftn.n_corpus) AS DECIMAL(30,10)), 6) AS DOUBLE) AS probed_frac
      |FROM fhh JOIN fpr USING (nprobe)
      |  CROSS JOIN fbt CROSS JOIN ftq CROSS JOIN ftn
      |ORDER BY nprobe""".stripMargin
  }

  /** sim_ivfpq_k_frontier: the shortlist-width axis at fixed nprobe=8 —
    * ONE ADC-scored CTE (refined codebook/codes) over the depth-8 probes,
    * three row_number slices (K = 50/100/200), each re-ranked exactly and
    * hit-counted vs brute. */
  private lazy val ivfPqKFrontierOracle: String = {
    val perK = Seq(50, 100, 200).map { kk =>
      s"""ksl$kk AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT q_id, vec_id,
        |      row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS r
        |    FROM ks8) t WHERE r <= $kk),
        |kfc$kk AS (SELECT CAST(count(*) AS BIGINT) AS n_fetch FROM ksl$kk),
        |krx$kk AS (
        |  SELECT ksl$kk.q_id, ksl$kk.vec_id, ${cos("q.q_emb", "e.embedding")} AS sim
        |  FROM ksl$kk JOIN fq q USING (q_id)
        |              JOIN embeddings e ON ksl$kk.vec_id = e.vec_id),
        |kr5$kk AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
        |    FROM krx$kk) t WHERE rank <= 5),
        |kh$kk AS (
        |  SELECT CAST($kk AS BIGINT) AS shortlist_k,
        |    CAST(count(*) AS BIGINT) AS n_hits
        |  FROM b JOIN kr5$kk USING (q_id, vec_id)),
        |khh$kk AS (SELECT shortlist_k, n_hits, n_fetch
        |  FROM kh$kk CROSS JOIN kfc$kk)""".stripMargin
    }.mkString(",\n")
    s"""WITH $bruteCtes,
      |$refPqCtes,
      |$ivfRouteCtes,
      |$iqp8Cte,
      |${ivfAdcScored("ks8", "fpacked", "flut", "frn", "fs",
           probe = "iqp8", extraWhere = " AND iqp8.c_rank <= 8")},
      |$perK,
      |kall AS (SELECT * FROM khh50 UNION ALL SELECT * FROM khh100
      |         UNION ALL SELECT * FROM khh200),
      |kbt AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM b)
      |SELECT kall.shortlist_k, kbt.n_true, kall.n_hits,
      |  CAST(round(CAST(CAST(kall.n_hits AS DOUBLE) / kbt.n_true AS DECIMAL(30,10)), 6) AS DOUBLE) AS recall,
      |  kall.n_fetch
      |FROM kall CROSS JOIN kbt
      |ORDER BY shortlist_k""".stripMargin
  }

  /** sim_ivfpq_ref_recall: the refined index routed through IVF, 50-wide
    * shortlist, exact re-rank, recall@5 vs brute — the SQL twin of the
    * Spark composition (refCtes supplies fpacked/flut/frn/fs). */
  private lazy val ivfPqRefRecallOracle: String =
    s"""WITH $bruteCtes,
      |$refPqCtes,
      |$ivfRouteCtes,
      |${ivfAdcScored("riscored", "fpacked", "flut", "frn", "fs")},
      |risl AS (
      |  SELECT q_id, vec_id FROM (
      |    SELECT q_id, vec_id,
      |      row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS r
      |    FROM riscored) t WHERE r <= 50),
      |rirx AS (
      |  SELECT risl.q_id, risl.vec_id,
      |    ${cos("q.q_emb", "e.embedding")} AS sim
      |  FROM risl JOIN fq q USING (q_id)
      |            JOIN embeddings e ON risl.vec_id = e.vec_id),
      |rf5 AS (
      |  SELECT q_id, vec_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
      |    FROM rirx) t WHERE rank <= 5),
      |${recallOracleTail("rf5")}""".stripMargin
  /** The MIH perceptual-hash oracle, width-parameterized exactly like
    * Multimodal.phashDedup: `bits` block-mean bits in bits/16 subindex
    * words, radius-1 probe enumeration per word, bit_count(xor) verify.
    * One generator keeps the 64-bit and 256-bit (PDQ-width) oracles from
    * drifting apart. */
  private def phashOracle(bits: Int, maxHamming: Int): String = {
    val nWords = bits / 16
    s"""WITH u AS (
      |  SELECT doc_id, len(text) AS L, text,
      |    unnest(range(1, len(text) + 1)) AS i
      |  FROM documents),
      |cs AS MATERIALIZED (
      |  SELECT doc_id, ((i - 1) * $bits) // L AS k,
      |    CAST(sum(ord(text[i])) AS BIGINT) AS s, count(*) AS n
      |  FROM u GROUP BY 1, 2),
      |tot AS (
      |  SELECT doc_id, CAST(sum(s) AS BIGINT) AS total,
      |    CAST(sum(n) AS BIGINT) AS lt
      |  FROM cs GROUP BY 1),
      |words0 AS (
      |  SELECT cs.doc_id, CAST(k // 16 AS BIGINT) AS j,
      |    CAST(sum((CASE WHEN s * lt > total * n THEN 1 ELSE 0 END)
      |             * (CAST(1 AS BIGINT) << CAST(k % 16 AS INT))) AS BIGINT) AS band
      |  FROM cs JOIN tot USING (doc_id) GROUP BY 1, 2),
      |words AS MATERIALIZED (
      |  -- densified over j in [0, nWords): a doc shorter than $nWords chars
      |  -- populates no block in some subindex word; that word is all-zero
      |  -- bits, not absent (mirrors the Spark pivot's coalesce-to-0)
      |  SELECT d.doc_id, jj.j, CAST(coalesce(w.band, 0) AS BIGINT) AS band
      |  FROM (SELECT DISTINCT doc_id FROM words0) d
      |  CROSS JOIN (SELECT unnest(range(0, $nWords)) AS j) jj
      |  LEFT JOIN words0 w ON w.doc_id = d.doc_id AND w.j = jj.j),
      |ph AS MATERIALIZED (
      |  SELECT doc_id, list(band ORDER BY j) AS bl
      |  FROM words GROUP BY doc_id),
      |probes AS (
      |  SELECT doc_id, j,
      |    xor(band, CASE WHEN f = 0 THEN 0
      |              ELSE (CAST(1 AS BIGINT) << CAST(f - 1 AS INT)) END) AS key
      |  FROM words, (SELECT unnest(range(0, 17)) AS f)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM probes a JOIN words b
      |    ON a.j = b.j AND a.key = b.band AND a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b, CAST(list_sum(list_transform(range(1, ${nWords + 1}),
      |    t -> bit_count(xor(x.bl[CAST(t AS INT)], y.bl[CAST(t AS INT)])))) AS BIGINT) AS hamming
      |FROM cand JOIN ph x ON cand.doc_a = x.doc_id
      |          JOIN ph y ON cand.doc_b = y.doc_id
      |WHERE list_sum(list_transform(range(1, ${nWords + 1}),
      |    t -> bit_count(xor(x.bl[CAST(t AS INT)], y.bl[CAST(t AS INT)])))) <= $maxHamming
      |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** The streaming phash ingest gate restated over the batch tables:
    * phashOracle's hash-table CTEs verbatim, with the candidate join
    * directed arriving (doc_id % 5 = 0) → standing (doc_id % 5 != 0)
    * instead of the dedup's doc_a < doc_b self-join, and the final
    * per-arrival rollup (n_matches, first_match). Empty docs drop out of
    * `u` naturally (range(1,1) is empty) — the Spark side's length > 0
    * filter mirrors that. */
  private def phashStreamOracle(bits: Int, maxHamming: Int): String = {
    val nWords = bits / 16
    s"""WITH u AS (
      |  SELECT doc_id, len(text) AS L, text,
      |    unnest(range(1, len(text) + 1)) AS i
      |  FROM documents),
      |cs AS MATERIALIZED (
      |  SELECT doc_id, ((i - 1) * $bits) // L AS k,
      |    CAST(sum(ord(text[i])) AS BIGINT) AS s, count(*) AS n
      |  FROM u GROUP BY 1, 2),
      |tot AS (
      |  SELECT doc_id, CAST(sum(s) AS BIGINT) AS total,
      |    CAST(sum(n) AS BIGINT) AS lt
      |  FROM cs GROUP BY 1),
      |words0 AS (
      |  SELECT cs.doc_id, CAST(k // 16 AS BIGINT) AS j,
      |    CAST(sum((CASE WHEN s * lt > total * n THEN 1 ELSE 0 END)
      |             * (CAST(1 AS BIGINT) << CAST(k % 16 AS INT))) AS BIGINT) AS band
      |  FROM cs JOIN tot USING (doc_id) GROUP BY 1, 2),
      |words AS MATERIALIZED (
      |  SELECT d.doc_id, jj.j, CAST(coalesce(w.band, 0) AS BIGINT) AS band
      |  FROM (SELECT DISTINCT doc_id FROM words0) d
      |  CROSS JOIN (SELECT unnest(range(0, $nWords)) AS j) jj
      |  LEFT JOIN words0 w ON w.doc_id = d.doc_id AND w.j = jj.j),
      |ph AS MATERIALIZED (
      |  SELECT doc_id, list(band ORDER BY j) AS bl
      |  FROM words GROUP BY doc_id),
      |probes AS (
      |  SELECT doc_id, j,
      |    xor(band, CASE WHEN f = 0 THEN 0
      |              ELSE (CAST(1 AS BIGINT) << CAST(f - 1 AS INT)) END) AS key
      |  FROM words, (SELECT unnest(range(0, 17)) AS f)
      |  WHERE doc_id % 5 = 0),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS new_doc, b.doc_id AS dup_of
      |  FROM probes a JOIN words b
      |    ON a.j = b.j AND a.key = b.band AND b.doc_id % 5 != 0),
      |ver AS (
      |  SELECT new_doc, dup_of
      |  FROM cand JOIN ph x ON cand.new_doc = x.doc_id
      |            JOIN ph y ON cand.dup_of = y.doc_id
      |  WHERE list_sum(list_transform(range(1, ${nWords + 1}),
      |      t -> bit_count(xor(x.bl[CAST(t AS INT)], y.bl[CAST(t AS INT)])))) <= $maxHamming)
      |SELECT new_doc, CAST(count(*) AS BIGINT) AS n_matches,
      |  min(dup_of) AS first_match
      |FROM ver GROUP BY 1 ORDER BY 1""".stripMargin
  }

  private def pqCtesOn(tbl: String): String = {
    def sl(v: String, m: String) =
      s"list_slice($v, CAST($m*8+1 AS INT), CAST($m*8+8 AS INT))"
    s"""$qeCte,
      |pqce AS (SELECT greatest(1, CAST(ceil(count(*) / 16.0) AS BIGINT)) AS every FROM $tbl),
      |pqsd AS (SELECT embedding AS c_emb,
      |    CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS code
      |  FROM $tbl WHERE vec_id % (SELECT every FROM pqce) = 0),
      |pqs AS (SELECT CAST(count(*) AS BIGINT) AS s FROM pqsd),
      |pqcb AS (SELECT mm.m, code, ${sl("c_emb", "mm.m")} AS c_sub
      |  FROM pqsd CROSS JOIN (SELECT unnest(range(0, 8)) AS m) mm),
      |pqcb2 AS (SELECT m, code, c_sub, ${norm2("c_sub")} AS cn2 FROM pqcb),
      |pqenc AS (
      |  SELECT v.vec_id, c.m,
      |    min((CAST(round((c.cn2 - 2 * ${dot(sl("v.embedding", "c.m"), "c.c_sub")}) * 1000000) AS BIGINT)
      |         + 1000000000000) * 256 + c.code) AS pk
      |  FROM $tbl v CROSS JOIN pqcb2 c
      |  GROUP BY 1, 2),
      |pqpacked AS (SELECT vec_id,
      |    CAST(sum((pk % 256) * (CAST(1 AS BIGINT) << CAST(8 * m AS INT))) AS BIGINT) AS cp
      |  FROM pqenc GROUP BY 1),
      |pqq AS (SELECT vec_id AS q_id, embedding AS q_emb, sqrt(${norm2("embedding")}) AS q_nrm
      |  FROM $tbl WHERE vec_id % (SELECT qevery FROM qe) = 0),
      |pqlut AS (
      |  SELECT q_id, q_nrm, list(dv ORDER BY idx) AS lut FROM (
      |    SELECT q.q_id, q.q_nrm, c.m * sc.s + c.code AS idx,
      |      ${dot(sl("q.q_emb", "c.m"), "c.c_sub")} AS dv
      |    FROM pqq q CROSS JOIN pqcb2 c CROSS JOIN pqs sc) t
      |  GROUP BY q_id, q_nrm),
      |pqrn AS (SELECT list(cn2 ORDER BY m * s + code) AS rn2 FROM pqcb2 CROSS JOIN pqs),
      |pqscored AS (
      |  SELECT l.q_id, p.vec_id,
      |    round(
      |      list_reduce(list_transform(range(0, 8),
      |        m -> l.lut[CAST(m * sc.s + ((p.cp >> CAST(8 * m AS INT)) % 256) + 1 AS INT)]), (a, b) -> a + b)
      |      / l.q_nrm
      |      / sqrt(list_reduce(list_transform(range(0, 8),
      |        m -> r.rn2[CAST(m * sc.s + ((p.cp >> CAST(8 * m AS INT)) % 256) + 1 AS INT)]), (a, b) -> a + b)), 6) + 0 AS sim
      |  FROM pqpacked p CROSS JOIN pqlut l CROSS JOIN pqrn r CROSS JOIN pqs sc
      |  WHERE p.vec_id <> l.q_id),
      |pq AS (
      |  SELECT q_id, vec_id, sim, rank FROM (
      |    SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS BIGINT) AS rank
      |    FROM pqscored) t
      |  WHERE rank <= 5)""".stripMargin
  }


  /** Unrolled-CTE twin of Similarity.pcaPowerFromCov: the emb_covariance chain,
    * symmetrized, then 8 (multiply, norm, normalize) CTE triples — every
    * intermediate 6-dp rounded with the -0.0 normalization. */
  private lazy val pcaPowerOracle: String = {
    val iters = 8
    val base = """pe AS (
      |  SELECT vec_id, CAST(unnest(range(len(embedding))) AS BIGINT) AS i,
      |    CAST(unnest(embedding) AS DOUBLE) AS x
      |  FROM embeddings),
      |pp AS (
      |  SELECT a.i AS i, b.i AS j, a.x AS xd, b.x AS yd
      |  FROM pe a JOIN pe b ON a.vec_id = b.vec_id AND a.i <= b.i),
      |pcov AS MATERIALIZED (
      |  SELECT i, j,
      |    round(CAST(sum(CAST(xd*yd AS DECIMAL(30,10))) AS DOUBLE) / count(*)
      |      - CAST(sum(CAST(xd AS DECIMAL(30,10))) AS DOUBLE) / count(*)
      |        * (CAST(sum(CAST(yd AS DECIMAL(30,10))) AS DOUBLE) / count(*)), 6) + 0 AS cov
      |  FROM pp GROUP BY i, j),
      |psym AS MATERIALIZED (SELECT i, j, cov FROM pcov
      |         UNION ALL SELECT j AS i, i AS j, cov FROM pcov WHERE i <> j),
      |pd AS (SELECT max(j) + 1 AS d FROM pcov),
      |pv0 AS (SELECT DISTINCT i AS dim,
      |          CAST(round(CAST(1 / sqrt((SELECT d FROM pd)) AS DECIMAL(30,10)), 6) AS DOUBLE) AS value FROM pcov)""".stripMargin
    val per = (1 to iters).map { r =>
      s"""pw$r AS MATERIALIZED (
        |  SELECT s.i AS dim,
        |    CAST(round(sum(CAST(s.cov * v.value AS DECIMAL(30,10))), 6) AS DOUBLE) + 0 AS w
        |  FROM psym s JOIN pv${r - 1} v ON s.j = v.dim GROUP BY s.i),
        |pn$r AS MATERIALIZED (SELECT sqrt(CAST(sum(CAST(w * w AS DECIMAL(30,10))) AS DOUBLE)) AS nrm FROM pw$r),
        |pv$r AS MATERIALIZED (SELECT dim, CAST(round(CAST(w / (SELECT nrm FROM pn$r) AS DECIMAL(30,10)), 6) AS DOUBLE) AS value FROM pw$r)""".stripMargin
    }
    s"""WITH $base,
      |${per.mkString(",\n")},
      |ptr AS (SELECT CAST(sum(CAST(cov AS DECIMAL(30,10))) AS DOUBLE) AS tr FROM pcov WHERE i = j)
      |SELECT dim, value AS loading,
      |  CAST(round(CAST((SELECT nrm FROM pn$iters) AS DECIMAL(30,10)), 6) AS DOUBLE) AS lambda,
      |  CAST(round(CAST((SELECT nrm FROM pn$iters) / (SELECT tr FROM ptr) AS DECIMAL(30,10)), 6) AS DOUBLE) AS evr
      |FROM pv$iters ORDER BY dim""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    // Same decimal(30,10) accumulation and the same fixed expression tree
    // (sxy/n - sx/n * (sy/n)) as the Spark side — exact sums, one IEEE
    // assembly, 6-dp round.
    "emb_covariance" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(unnest(range(len(embedding))) AS BIGINT) AS i,
        |    CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |p AS (
        |  SELECT a.i AS dim_i, b.i AS dim_j, a.x AS xd, b.x AS yd
        |  FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i)
        |SELECT dim_i, dim_j, CAST(count(*) AS BIGINT) AS n,
        |  round(CAST(sum(CAST(xd*yd AS DECIMAL(30,10))) AS DOUBLE) / count(*)
        |    - CAST(sum(CAST(xd AS DECIMAL(30,10))) AS DOUBLE) / count(*)
        |      * (CAST(sum(CAST(yd AS DECIMAL(30,10))) AS DOUBLE) / count(*)), 6) + 0 AS cov
        |FROM p GROUP BY dim_i, dim_j ORDER BY dim_i, dim_j""".stripMargin,

    "emb_rand_proj" -> randProjOracle,
    "emb_pca_power" -> pcaPowerOracle,

    "sim_brute_topk" ->
      s"""WITH $qeCte,
        |q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id % (SELECT qevery FROM qe) = 0),
        |scored AS (
        |  SELECT q.q_id, e.vec_id, ${cos("q.q_emb", "e.embedding")} AS sim
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id != q.q_id)
        |SELECT q_id, vec_id, sim, rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
        |  FROM scored) t
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,

    "sim_lsh_topk" ->
      s"""WITH $qeCte,
        |b AS (SELECT vec_id, embedding, $bucket8 AS bucket FROM embeddings),
        |q AS (SELECT vec_id AS q_id, embedding AS q_emb, bucket FROM b WHERE vec_id % (SELECT qevery FROM qe) = 0),
        |scored AS (
        |  SELECT q.q_id, e.vec_id, ${cos("q.q_emb", "e.embedding")} AS sim
        |  FROM b e JOIN q USING (bucket) WHERE e.vec_id != q.q_id)
        |SELECT q_id, vec_id, sim, rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
        |  FROM scored) t
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,

    // Same sign buckets, raw dot-product ranking (the MIPS order).
    "sim_mips_topk" ->
      s"""WITH $qeCte,
        |b AS (SELECT vec_id, embedding, $bucket8 AS bucket FROM embeddings),
        |q AS (SELECT vec_id AS q_id, embedding AS q_emb, bucket FROM b WHERE vec_id % (SELECT qevery FROM qe) = 0),
        |scored AS (
        |  SELECT q.q_id, e.vec_id, (round(${dot("q.q_emb", "e.embedding")}, 6) + 0) AS ip
        |  FROM b e JOIN q USING (bucket) WHERE e.vec_id != q.q_id)
        |SELECT q_id, vec_id, ip, rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY ip DESC, vec_id) AS rank
        |  FROM scored) t
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,

    "sim_ivf_topk" ->
      s"""WITH $qeCte,
        |ce AS (
        |  SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS every FROM embeddings),
        |cent AS (
        |  SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings
        |  WHERE vec_id % (SELECT every FROM ce) = 0),
        |ca AS (
        |  SELECT vec_id, embedding, c_id FROM (
        |    SELECT v.vec_id, v.embedding, c.c_id,
        |      row_number() OVER (PARTITION BY v.vec_id
        |        ORDER BY ${cos("v.embedding", "c.c_emb")} DESC, c.c_id) AS rn
        |    FROM embeddings v CROSS JOIN cent c) t WHERE rn = 1),
        |qp AS (
        |  SELECT q_id, q_emb, c_id FROM (
        |    SELECT v.vec_id AS q_id, v.embedding AS q_emb, c.c_id,
        |      row_number() OVER (PARTITION BY v.vec_id
        |        ORDER BY ${cos("v.embedding", "c.c_emb")} DESC, c.c_id) AS rn
        |    FROM embeddings v CROSS JOIN cent c WHERE v.vec_id % (SELECT qevery FROM qe) = 0) t WHERE rn <= 2),
        |scored AS (
        |  SELECT qp.q_id, ca.vec_id, ${cos("qp.q_emb", "ca.embedding")} AS sim
        |  FROM qp JOIN ca USING (c_id) WHERE ca.vec_id != qp.q_id)
        |SELECT q_id, vec_id, sim, rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
        |  FROM scored) t
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,

    // Two Lloyd rounds re-derived: IVF seeds (every = ceil(n/16)), argmax
    // assignment (6-dp cosine, smallest-c_id tie-break), decimal-exact
    // per-dim means rounded 6 dp and cast to REAL (the float Spark's
    // second round folds over), then the final assignment.
    "emb_kmeans" ->
      s"""WITH $kmeansCtes
        |SELECT vec_id, c_id, sim FROM a2 ORDER BY vec_id""".stripMargin,

    // Same kmeans CTE machinery as emb_kmeans but with the semdedup seed
    // spacing (k = max(16, ceil(n/2000)) — identical at judged SFs), then
    // the within-cluster lower-id pruning sweep with the same 6-dp cosine.
    "dd_semdedup" ->
      s"""WITH $kmeansCtesSemDedup,
        |a2v AS (
        |  SELECT a2.vec_id, a2.c_id, e.embedding
        |  FROM a2 JOIN embeddings e USING (vec_id)),
        |drp AS (
        |  SELECT DISTINCT b.vec_id
        |  FROM a2v a JOIN a2v b
        |    ON a.c_id = b.c_id AND a.vec_id < b.vec_id
        |   AND ${cos("a.embedding", "b.embedding")} >= 0.3)
        |SELECT a2.vec_id, a2.c_id, (d.vec_id IS NULL) AS keep
        |FROM a2 LEFT JOIN drp d ON a2.vec_id = d.vec_id
        |ORDER BY a2.vec_id""".stripMargin,

    // Both rankings rebuilt with the same CTE machinery as their own
    // oracles, intersected per query; left join keeps 0-hit queries.
    "sim_pq_topk" ->
      s"""WITH $pqCtes
        |SELECT q_id, vec_id, sim, rank FROM pq ORDER BY q_id, rank""".stripMargin,

    "sim_ivfpq_topk" ->
      s"""WITH $pqCtes,
        |$ivfPqCtes
        |SELECT q_id, vec_id, sim, rank FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS BIGINT) AS rank
        |  FROM iscored) t
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,

    // The iscored CTE re-ranked at shortlist width 50 with exact cosine —
    // the sublinear serving path end-to-end (nprobe cells, packed codes,
    // then true vectors for 50 rows per query).
    "sim_ivfpq_rerank" -> ivfPqRerankOracle,

    // The pqscored CTE re-ranked at shortlist width 50, then exact cosine
    // over the fetched true vectors (pqq carries q_emb; 6-dp rz parity).
    "sim_pq_rerank" ->
      s"""WITH $pqCtes,
        |rsl AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT q_id, vec_id,
        |      row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS r
        |    FROM pqscored) t WHERE r <= 50),
        |rrx AS (
        |  SELECT rsl.q_id, rsl.vec_id,
        |    ${cos("q.q_emb", "e.embedding")} AS sim
        |  FROM rsl JOIN pqq q USING (q_id)
        |           JOIN embeddings e ON rsl.vec_id = e.vec_id)
        |SELECT q_id, vec_id, sim, rank FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id
        |    ORDER BY sim DESC, vec_id) AS BIGINT) AS rank
        |  FROM rrx) t
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,

    "sim_pq_recall" ->
      s"""WITH $pqCtes,
        |$bruteBase,
        |${recallOracleTail("pq")}""".stripMargin,

    // Same recall harness over the OPQ-permuted PQ chain: the variance
    // ranking reuses the emb_covariance diagonal discipline (decimal
    // sums, 6-dp rz round), the permutation is dealt round-robin by
    // variance rank, and the whole PQ CTE block runs over the permuted
    // view — brute-force ranking stays on the raw vectors (cosine is
    // permutation-invariant).
    "sim_opq_recall" ->
      s"""WITH oe AS (
        |  SELECT vec_id, CAST(unnest(range(len(embedding))) AS BIGINT) AS i,
        |    CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |ovv AS (
        |  SELECT i AS dim,
        |    round(CAST(sum(CAST(x*x AS DECIMAL(30,10))) AS DOUBLE) / count(*)
        |      - CAST(sum(CAST(x AS DECIMAL(30,10))) AS DOUBLE) / count(*)
        |        * (CAST(sum(CAST(x AS DECIMAL(30,10))) AS DOUBLE) / count(*)), 6) + 0 AS v
        |  FROM oe GROUP BY 1),
        |ork AS (SELECT dim, row_number() OVER (ORDER BY v DESC, dim) - 1 AS r FROM ovv),
        |opos AS (SELECT dim,
        |    (r % 8) * ((SELECT count(*) FROM ovv) // 8) + (r // 8) AS p
        |  FROM ork),
        |operm AS (SELECT list(CAST(dim + 1 AS INT) ORDER BY p) AS pl FROM opos),
        |pembeddings AS (
        |  SELECT vec_id, list_select(embedding, (SELECT pl FROM operm)) AS embedding
        |  FROM embeddings),
        |${pqCtesOn("pembeddings")},
        |$bruteBase,
        |${recallOracleTail("pq")}""".stripMargin,

    "sim_lsh_recall" ->
      s"""WITH $bruteCtes,
        |lb AS (SELECT vec_id, embedding, $bucket8 AS bucket FROM embeddings),
        |lq AS (SELECT vec_id AS q_id, embedding AS q_emb, bucket FROM lb WHERE vec_id % (SELECT qevery FROM qe) = 0),
        |lscored AS (
        |  SELECT lq.q_id, e.vec_id, ${cos("lq.q_emb", "e.embedding")} AS sim
        |  FROM lb e JOIN lq USING (bucket) WHERE e.vec_id != lq.q_id),
        |l AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
        |    FROM lscored) t WHERE rank <= 5),
        |${recallOracleTail("l")}""".stripMargin,

    // Brute-force CTEs from sim_lsh_recall + the IVF assignment/probe
    // CTEs from sim_ivf_topk, joined by the same hits/k rollup.
    "sim_ivf_recall" ->
      s"""WITH $bruteCtes,
        |ce AS (
        |  SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS every FROM embeddings),
        |cent AS (
        |  SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings
        |  WHERE vec_id % (SELECT every FROM ce) = 0),
        |ca AS (
        |  SELECT vec_id, embedding, c_id FROM (
        |    SELECT v.vec_id, v.embedding, c.c_id,
        |      row_number() OVER (PARTITION BY v.vec_id
        |        ORDER BY ${cos("v.embedding", "c.c_emb")} DESC, c.c_id) AS rn
        |    FROM embeddings v CROSS JOIN cent c) t WHERE rn = 1),
        |qp AS (
        |  SELECT q_id, q_emb, c_id FROM (
        |    SELECT v.vec_id AS q_id, v.embedding AS q_emb, c.c_id,
        |      row_number() OVER (PARTITION BY v.vec_id
        |        ORDER BY ${cos("v.embedding", "c.c_emb")} DESC, c.c_id) AS rn
        |    FROM embeddings v CROSS JOIN cent c WHERE v.vec_id % (SELECT qevery FROM qe) = 0) t WHERE rn <= 2),
        |iscored AS (
        |  SELECT qp.q_id, ca.vec_id, ${cos("qp.q_emb", "ca.embedding")} AS sim
        |  FROM qp JOIN ca USING (c_id) WHERE ca.vec_id != qp.q_id),
        |l AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
        |    FROM iscored) t WHERE rank <= 5),
        |${recallOracleTail("l")}""".stripMargin,

    // sim_ivf_recall's brute + assignment/probe CTEs with (a) the label
    // predicate pushed into the exact side, (b) the candidate set carrying
    // label so both filtered postures restate over ONE iscored text.
    "sim_filtered_topk" ->
      s"""WITH $qeCte,
        |${bruteCtesWhere("\n  WHERE e.vec_id != bq.q_id AND e.label % 5 = 2")},
        |ce AS (
        |  SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS every FROM embeddings),
        |cent AS (
        |  SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings
        |  WHERE vec_id % (SELECT every FROM ce) = 0),
        |ca AS (
        |  SELECT vec_id, embedding, label, c_id FROM (
        |    SELECT v.vec_id, v.embedding, v.label, c.c_id,
        |      row_number() OVER (PARTITION BY v.vec_id
        |        ORDER BY ${cos("v.embedding", "c.c_emb")} DESC, c.c_id) AS rn
        |    FROM embeddings v CROSS JOIN cent c) t WHERE rn = 1),
        |qp AS (
        |  SELECT q_id, q_emb, c_id FROM (
        |    SELECT v.vec_id AS q_id, v.embedding AS q_emb, c.c_id,
        |      row_number() OVER (PARTITION BY v.vec_id
        |        ORDER BY ${cos("v.embedding", "c.c_emb")} DESC, c.c_id) AS rn
        |    FROM embeddings v CROSS JOIN cent c WHERE v.vec_id % (SELECT qevery FROM qe) = 0) t WHERE rn <= 2),
        |iscored AS (
        |  SELECT qp.q_id, ca.vec_id, ca.label, ${cos("qp.q_emb", "ca.embedding")} AS sim
        |  FROM qp JOIN ca USING (c_id) WHERE ca.vec_id != qp.q_id),
        |ip AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
        |    FROM iscored WHERE label % 5 = 2) t WHERE rank <= 5),
        |sl AS (
        |  SELECT q_id, vec_id, label, sim FROM (
        |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
        |    FROM iscored) t WHERE rank <= 20),
        |pf AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
        |    FROM sl WHERE label % 5 = 2) t WHERE rank <= 5),
        |hp AS (SELECT b.q_id, count(*) AS n FROM b JOIN ip USING (q_id, vec_id) GROUP BY 1),
        |hs AS (SELECT b.q_id, count(*) AS n FROM b JOIN pf USING (q_id, vec_id) GROUP BY 1),
        |kq AS (SELECT q_id, count(*) AS k FROM b GROUP BY 1)
        |SELECT kq.q_id, CAST(kq.k AS BIGINT) AS k,
        |  CAST(coalesce(hp.n, 0) AS BIGINT) AS n_hits_probe,
        |  round(CAST(coalesce(hp.n, 0) AS DOUBLE) / kq.k, 6) AS recall_probe,
        |  CAST(coalesce(hs.n, 0) AS BIGINT) AS n_hits_shortlist,
        |  round(CAST(coalesce(hs.n, 0) AS DOUBLE) / kq.k, 6) AS recall_shortlist
        |FROM kq LEFT JOIN hp USING (q_id) LEFT JOIN hs USING (q_id)
        |ORDER BY q_id""".stripMargin,

    "sim_pq_ref_recall" -> refPqRecallOracle,
    "sim_ivfpq_ref_recall" -> ivfPqRefRecallOracle,
    // proven-equal convention: the streaming ingest drain + re-rank equals
    // the batch two-stage serving path row for row, so it shares
    // sim_ivfpq_rerank's oracle text verbatim
    "sim_stream_ann" -> ivfPqRerankOracle,
    // proven-equal eviction twin: per-epoch append-mode drain equals the
    // complete-mode drain equals the batch path (one oracle text)
    "sim_stream_ann_evict" -> ivfPqRerankOracle,

    "sim_ivfpq_frontier" -> ivfPqFrontierOracle,
    "sim_ivfpq_k_frontier" -> ivfPqKFrontierOracle,
    // the streamed index must equal the batch encode exactly — the same
    // pq/route CTEs every batch index consumer verifies against
    "sim_stream_index_ingest" -> batchIndexOracle,
    // compaction moves bytes, never values: the compacted append-log
    // must STILL equal the batch index row for row (one shared text)
    "sim_index_compact" -> batchIndexOracle,
    "sim_index_resplit" -> indexResplitOracle,

    "sim_index_drift" -> indexDriftOracle,
    "sim_index_retrain" -> indexRetrainOracle,

    "sim_ivf_nprobe_audit" ->
      s"""WITH $bruteCtes,
        |$ivfRouteCtes,
        |$iqp8Cte,
        |hr AS (
        |  SELECT b.q_id, b.vec_id, coalesce(i.c_rank, 999) AS cr
        |  FROM b JOIN ica ON b.vec_id = ica.vec_id
        |         LEFT JOIN iqp8 i ON i.q_id = b.q_id AND i.c_id = ica.c_id),
        |np AS (SELECT unnest([1, 2, 4, 8]) AS nprobe)
        |SELECT CAST(np.nprobe AS BIGINT) AS nprobe,
        |  CAST(sum(CASE WHEN hr.cr <= np.nprobe THEN 1 ELSE 0 END) AS BIGINT) AS n_reachable,
        |  CAST(count(*) AS BIGINT) AS n_true,
        |  round(CAST(sum(CASE WHEN hr.cr <= np.nprobe THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS coverage
        |FROM hr CROSS JOIN np GROUP BY 1 ORDER BY 1""".stripMargin,

    // The full IVFADC chain re-derived: coarse centroids + assignment,
    // exact REAL residuals, residual codebook (IVF seeding over residual
    // rows), packed-min encode, then scoring decomposed as
    // (q·c + Σ LUT) / ‖q‖ / sqrt(‖c‖² + Σ (2⟨c,r̂⟩+‖r̂‖²)) — every fold
    // ascending-m, every rounded value through `+ 0`.
    "sim_ivfpq_res_recall" ->
      s"""WITH $bruteCtes,
        |ice AS (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS every FROM embeddings),
        |icent AS (
        |  SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings
        |  WHERE vec_id % (SELECT every FROM ice) = 0),
        |ica AS (
        |  SELECT vec_id, c_id FROM (
        |    SELECT v.vec_id, c.c_id,
        |      row_number() OVER (PARTITION BY v.vec_id
        |        ORDER BY ${cos("v.embedding", "c.c_emb")} DESC, c.c_id) AS rn
        |    FROM embeddings v CROSS JOIN icent c) t WHERE rn = 1),
        |res AS MATERIALIZED (
        |  SELECT v.vec_id,
        |    list_transform(list_zip(v.embedding, c.c_emb), p -> p[1] - p[2]) AS r
        |  FROM embeddings v JOIN ica a ON v.vec_id = a.vec_id
        |    JOIN icent c ON a.c_id = c.c_id),
        |rce AS (SELECT greatest(1, CAST(ceil(count(*) / 16.0) AS BIGINT)) AS every FROM embeddings),
        |rcd AS (SELECT r AS c_emb, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS code
        |  FROM res WHERE vec_id % (SELECT every FROM rce) = 0),
        |rs AS (SELECT CAST(count(*) AS BIGINT) AS s FROM rcd),
        |rcb AS (SELECT mm.m, code,
        |    list_slice(c_emb, CAST(mm.m*8+1 AS INT), CAST(mm.m*8+8 AS INT)) AS c_sub
        |  FROM rcd CROSS JOIN (SELECT unnest(range(0, 8)) AS m) mm),
        |rcb2 AS (SELECT m, code, c_sub, ${norm2("c_sub")} AS cn2 FROM rcb),
        |renc AS (
        |  SELECT v.vec_id, c.m,
        |    min((CAST(round((c.cn2 - 2 * ${dot("list_slice(v.r, CAST(c.m*8+1 AS INT), CAST(c.m*8+8 AS INT))", "c.c_sub")}) * 1000000) AS BIGINT)
        |         + 1000000000000) * 256 + c.code) AS pk
        |  FROM res v CROSS JOIN rcb2 c
        |  GROUP BY 1, 2),
        |rpacked AS (SELECT vec_id,
        |    CAST(sum((pk % 256) * (CAST(1 AS BIGINT) << CAST(8 * m AS INT))) AS BIGINT) AS cp
        |  FROM renc GROUP BY 1),
        |rq AS (SELECT vec_id AS q_id, embedding AS q_emb, sqrt(${norm2("embedding")}) AS q_nrm
        |  FROM embeddings WHERE vec_id % (SELECT qevery FROM qe) = 0),
        |rlut AS (
        |  SELECT q_id, q_nrm, list(dv ORDER BY idx) AS lut FROM (
        |    SELECT q.q_id, q.q_nrm, c.m * sc.s + c.code AS idx,
        |      ${dot("list_slice(q.q_emb, CAST(c.m*8+1 AS INT), CAST(c.m*8+8 AS INT))", "c.c_sub")} AS dv
        |    FROM rq q CROSS JOIN rcb2 c CROSS JOIN rs sc) t
        |  GROUP BY q_id, q_nrm),
        |ccl AS (
        |  SELECT c_id, cn2c, list(cx ORDER BY idx) AS cxl FROM (
        |    SELECT c.c_id, ${norm2("c.c_emb")} AS cn2c, bb.m * sc.s + bb.code AS idx,
        |      2.0 * ${dot("list_slice(c.c_emb, CAST(bb.m*8+1 AS INT), CAST(bb.m*8+8 AS INT))", "bb.c_sub")} + bb.cn2 AS cx
        |    FROM icent c CROSS JOIN rcb2 bb CROSS JOIN rs sc) t
        |  GROUP BY c_id, cn2c),
        |iqp AS (
        |  SELECT q_id, c_id FROM (
        |    SELECT v.vec_id AS q_id, c.c_id,
        |      row_number() OVER (PARTITION BY v.vec_id
        |        ORDER BY ${cos("v.embedding", "c.c_emb")} DESC, c.c_id) AS rn
        |    FROM embeddings v CROSS JOIN icent c WHERE v.vec_id % (SELECT qevery FROM qe) = 0) t WHERE rn <= 2),
        |iqc AS (
        |  SELECT q.q_id, c.c_id, ${dot("q.q_emb", "c.c_emb")} AS qc
        |  FROM rq q JOIN iqp ON q.q_id = iqp.q_id JOIN icent c ON iqp.c_id = c.c_id),
        |rscored AS (
        |  SELECT l.q_id, p.vec_id,
        |    round(
        |      (qc.qc + list_reduce(list_transform(range(0, 8),
        |        m -> l.lut[CAST(m * sc.s + ((p.cp >> CAST(8 * m AS INT)) % 256) + 1 AS INT)]), (a, b) -> a + b))
        |      / l.q_nrm
        |      / sqrt(cc.cn2c + list_reduce(list_transform(range(0, 8),
        |        m -> cc.cxl[CAST(m * sc.s + ((p.cp >> CAST(8 * m AS INT)) % 256) + 1 AS INT)]), (a, b) -> a + b)), 6) + 0 AS sim
        |  FROM iqp
        |    JOIN ica USING (c_id)
        |    JOIN rpacked p ON ica.vec_id = p.vec_id
        |    JOIN rlut l ON iqp.q_id = l.q_id
        |    JOIN iqc qc ON iqp.q_id = qc.q_id AND iqp.c_id = qc.c_id
        |    JOIN ccl cc ON iqp.c_id = cc.c_id
        |    CROSS JOIN rs sc
        |  WHERE p.vec_id <> l.q_id),
        |l2 AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
        |    FROM rscored) t WHERE rank <= 5),
        |${recallOracleTail("l2")}""".stripMargin,

    "sim_cosine_dedup" ->
      s"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  ${cos("a.embedding", "b.embedding")} AS sim
        |FROM embeddings a JOIN embeddings b
        |  ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE ${cos("a.embedding", "b.embedding")} >= 0.3
        |ORDER BY vec_a, vec_b""".stripMargin,

    // Scale factored as x * (127/mx) — NOT (x*127)/mx — to match the Spark
    // helper's float op order bit-for-bit before rounding.
    "emb_quantize" ->
      """WITH m AS (
        |  SELECT vec_id, embedding,
        |    list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'max') AS mx
        |  FROM embeddings),
        |qv AS (
        |  SELECT vec_id, round(mx, 6) AS max_abs,
        |    CASE WHEN mx = 0
        |      THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
        |      ELSE list_transform(embedding,
        |        x -> CAST(round(CAST(x AS DOUBLE) * (127.0 / mx)) AS BIGINT)) END AS q
        |  FROM m)
        |SELECT vec_id, max_abs,
        |  unnest(range(len(q))) AS dim, unnest(q) AS q
        |FROM qv ORDER BY vec_id, dim""".stripMargin,

    // Centroid/distance/threshold all through the decimal-partial
    // discipline; dist is 6-dp-rounded BEFORE the threshold stats so the
    // materialized Spark intermediate and the CTE see identical inputs.
    "emb_outliers" ->
      """WITH u AS (
        |  SELECT vec_id, label, embedding, unnest(range(1, len(embedding) + 1)) AS i
        |  FROM embeddings),
        |v AS (SELECT vec_id, label, CAST(i - 1 AS BIGINT) AS dim,
        |        CAST(embedding[i] AS DOUBLE) AS x
        |      FROM u),
        |c AS (SELECT label, dim,
        |        CAST(sum(CAST(x AS DECIMAL(30,10))) AS DOUBLE) / count(*) AS mu
        |      FROM v GROUP BY label, dim),
        |d AS (SELECT vec_id, v.label,
        |        round(sqrt(CAST(sum(CAST((x - mu) * (x - mu) AS DECIMAL(30,10))) AS DOUBLE)), 6) AS dist
        |      FROM v JOIN c ON v.label = c.label AND v.dim = c.dim
        |      GROUP BY vec_id, v.label),
        |t AS (SELECT label,
        |        CAST(sum(CAST(dist AS DECIMAL(30,10))) AS DOUBLE) / count(*) AS m,
        |        CAST(sum(CAST(dist * dist AS DECIMAL(30,10))) AS DOUBLE) / count(*) AS m2
        |      FROM d GROUP BY label),
        |tt AS (SELECT label,
        |         round(m + CAST(2 AS DOUBLE) * sqrt(greatest(m2 - m * m, CAST(0 AS DOUBLE))), 6) AS thresh
        |       FROM t)
        |SELECT vec_id, d.label, dist, thresh, (dist > thresh) AS is_outlier
        |FROM d JOIN tt ON d.label = tt.label
        |ORDER BY vec_id""".stripMargin,

    // Decimal-exact sum/sumsq per dimension, population sigma, z rounded
    // at 6 dp; constant dimensions pin to 0 on both engines.
    "emb_standardize" ->
      """WITH u AS (
        |  SELECT vec_id, embedding, unnest(range(1, len(embedding) + 1)) AS i
        |  FROM embeddings),
        |v AS (SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim,
        |        CAST(embedding[i] AS DOUBLE) AS x
        |      FROM u),
        |st AS (
        |  SELECT dim, count(*) AS n,
        |    CAST(sum(CAST(x AS DECIMAL(30,10))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(x * x AS DECIMAL(30,10))) AS DOUBLE) AS sxx
        |  FROM v GROUP BY dim),
        |sg AS (
        |  SELECT dim, sx / n AS mu,
        |    sqrt(greatest(sxx / n - (sx / n) * (sx / n), CAST(0 AS DOUBLE))) AS sigma
        |  FROM st)
        |SELECT v.vec_id, v.dim,
        |  CASE WHEN sigma = 0 THEN CAST(0 AS DOUBLE)
        |       ELSE round((x - mu) / sigma, 6) + 0 END AS z
        |FROM v JOIN sg USING (dim)
        |ORDER BY vec_id, dim""".stripMargin,

    // sim_knn_graph's CTEs + the recursive min-label closure (the
    // dd_dup_clusters pattern): the iterative Spark contraction and the
    // SQL transitive closure share the unique min-reachable-id fixpoint.
    "sim_dup_clusters" ->
      s"""WITH RECURSIVE $knnScoredCtes,
        |knn AS (
        |  SELECT vec_id, n_id FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY vec_id ORDER BY sim DESC, n_id) AS rank
        |    FROM scored) t
        |  WHERE rank <= 3 AND sim >= 0.3),
        |edges AS (
        |  SELECT vec_id AS src, n_id AS dst FROM knn
        |  UNION SELECT n_id, vec_id FROM knn),
        |reach AS (
        |  SELECT src AS id, src AS r FROM edges
        |  UNION
        |  SELECT e.src, x.r FROM edges e JOIN reach x ON x.id = e.dst),
        |lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
        |SELECT id AS doc_id, cluster_id,
        |  CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_members
        |FROM lab ORDER BY doc_id""".stripMargin,

    // sim_ivf_topk's cell-assignment CTE, sub-cell-capped and self-joined
    // within (c_id, sub) — the SQL twin of Similarity.knnGraph(cellCap=64).
    "sim_knn_graph" ->
      s"""WITH $knnScoredCtes
        |SELECT vec_id, n_id, sim, rank FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY vec_id ORDER BY sim DESC, n_id) AS rank
        |  FROM scored) t
        |WHERE rank <= 3 ORDER BY vec_id, rank""".stripMargin,

    // Same quantization CTE as emb_quantize (scale factored x·(127/mx)),
    // rolled up per dimension with integer-exact aggregates.
    "emb_dim_stats" ->
      """WITH m AS (
        |  SELECT vec_id, embedding,
        |    list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'max') AS mx
        |  FROM embeddings),
        |qv AS (
        |  SELECT vec_id,
        |    CASE WHEN mx = 0
        |      THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
        |      ELSE list_transform(embedding,
        |        x -> CAST(round(CAST(x AS DOUBLE) * (127.0 / mx)) AS BIGINT)) END AS q
        |  FROM m),
        |e AS (
        |  SELECT CAST(unnest(range(len(q))) AS BIGINT) AS dim, unnest(q) AS q
        |  FROM qv)
        |SELECT dim, count(*) AS n, min(q) AS min_q, max(q) AS max_q,
        |  CAST(sum(CASE WHEN q = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        |  round(CAST(sum(q) AS DOUBLE) / count(*), 6) AS mean_q
        |FROM e GROUP BY dim ORDER BY dim""".stripMargin,

    // The same sequential-fold dot product as every cosine oracle; the
    // norm is rounded per vector BEFORE aggregation on both sides.
    "emb_norm_profile" ->
      s"""WITH n AS (
        |  SELECT label, round(sqrt(${norm2("embedding")}), 6) AS nrm
        |  FROM embeddings)
        |SELECT label, count(*) AS n, min(nrm) AS min_norm,
        |  max(nrm) AS max_norm,
        |  round(CAST(sum(CAST(nrm AS DECIMAL(30,10))) AS DOUBLE) / count(*), 6) AS avg_norm
        |FROM n GROUP BY label ORDER BY label""".stripMargin,

    // decodeMeta's container arithmetic (n_bytes = text bytes + 33-byte
    // PNG / 39-byte JFIF header) + per-format running totals; floor
    // division via the exact (x - mod) / width pattern on both sides.
    "mm_phash_dedup" -> phashOracle(bits = 64, maxHamming = 12),
    "mm_phash_wide" -> phashOracle(bits = 256, maxHamming = 48),
    "mm_stream_phash" -> phashStreamOracle(bits = 64, maxHamming = 12),

    "mm_shard_manifest" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CAST(octet_length(encode(text))
        |      + CASE WHEN doc_id % 3 = 0 THEN 33 ELSE 39 END AS BIGINT) AS n_bytes,
        |    CASE WHEN doc_id % 3 = 0 THEN 'png' ELSE 'jpeg' END AS grp
        |  FROM documents WHERE text IS NOT NULL),
        |s AS (
        |  SELECT doc_id, grp, n_bytes,
        |    CAST(sum(n_bytes) OVER (PARTITION BY grp ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_b
        |  FROM m)
        |SELECT doc_id, grp, n_bytes,
        |  CAST(((end_b - n_bytes) - (end_b - n_bytes) % 65536) / 65536 AS BIGINT) AS shard_id,
        |  (end_b - n_bytes) % 65536 AS shard_offset
        |FROM s ORDER BY doc_id""".stripMargin,

    "mm_frame_sample" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CAST(octet_length(encode(text)) // 16 + 1 AS BIGINT) AS n_frames
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(unnest(generate_series(0, n_frames - 1, 4)) AS BIGINT) AS frame_idx,
        |  CAST(unnest(generate_series(0, n_frames - 1, 4)) * 16 AS BIGINT) AS offset_bytes,
        |  md5(doc_id || ':' || unnest(generate_series(0, n_frames - 1, 4))) AS frame_key
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin,

    "mm_resize_plan" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CAST(64 + octet_length(encode(text)) % 577 AS BIGINT) AS width,
        |    CAST(64 + (octet_length(encode(text)) * 31) % 417 AS BIGINT) AS height
        |  FROM documents WHERE text IS NOT NULL),
        |s AS (
        |  SELECT doc_id, width, height,
        |    least(256.0 / width, 256.0 / height, 1.0) AS scale
        |  FROM m)
        |SELECT doc_id, width, height,
        |  CAST(floor(width * scale) AS BIGINT) AS out_w,
        |  CAST(floor(height * scale) AS BIGINT) AS out_h
        |FROM s ORDER BY doc_id""".stripMargin,

    // synthesizePayload's deterministic container build, restated over
    // UTF-8 byte length: dimensions derive from the BODY length, n_bytes
    // adds the real header size (33-byte PNG sig+IHDR / 39-byte JFIF
    // SOI+APP0+SOF0). The Spark side parses these values back out of the
    // actual bytes.
    "mm_decode_meta" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text))
        |    + CASE WHEN doc_id % 3 = 0 THEN 33 ELSE 39 END AS BIGINT) AS n_bytes,
        |  CAST(64 + octet_length(encode(text)) % 577 AS BIGINT) AS width,
        |  CAST(64 + (octet_length(encode(text)) * 31) % 417 AS BIGINT) AS height,
        |  CAST(3 AS BIGINT) AS channels,
        |  CASE WHEN doc_id % 3 = 0 THEN 'png' ELSE 'jpeg' END AS format
        |FROM documents WHERE text IS NOT NULL ORDER BY doc_id""".stripMargin
  )
}
