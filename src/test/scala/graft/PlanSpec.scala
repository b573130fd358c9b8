package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan discipline (SURVEY.md §4, the 100 TB contract): predicates
  * and projections must reach the parquet scan, bounded dimensions must
  * broadcast, and hot paths must stay inside whole-stage codegen. These
  * assertions pin the *plan shape*, so a regression (lost pushdown, a join
  * falling back to shuffle, an interpreted lambda creeping in) fails fast —
  * at sf0.001 the data is tiny but the plan is the same one a 1000-executor
  * cluster would run. */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("formatted"))

  test("q6: all four predicates push into the parquet scan") {
    val p = plan("q6_filter_agg")
    assert(p.contains("PushedFilters"))
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    for (c <- Seq("l_shipdate", "l_discount", "l_quantity"))
      assert(pushed.contains(c), s"missing pushed filter on $c\n$pushed")
  }

  test("q6: scan reads only the referenced columns") {
    val p = plan("q6_filter_agg")
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(readSchema.contains("l_extendedprice") &&
      !readSchema.contains("l_orderkey"), readSchema)
  }

  test("star join broadcasts every dimension") {
    val p = plan("q2_star_join")
    assert(p.split("BroadcastHashJoin").length - 1 >= 3, p.take(800))
    // the fact side never becomes a broadcast build side
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("grouped aggregation is partial (map-side) before the exchange") {
    val p = plan("q1_agg")
    assert(p.split("HashAggregate").length - 1 >= 2, p.take(800))
  }

  test("left lookup join broadcasts the dim side") {
    assert(plan("j1_left_lookup").contains("BroadcastHashJoin"))
  }

  test("similarity ops contain no interpreted higher-order lambdas") {
    for (q <- Seq("sim_brute_topk", "sim_cosine_dedup", "dd_ngram_jaccard")) {
      val p = plan(q)
      assert(!p.contains("LambdaFunction") && !p.contains("zip_with"),
        s"$q fell back to interpreted HOFs")
    }
  }

  test("dedup joins are equi-joins on blocking keys, never cartesian") {
    for (q <- Seq("dd_minhash_lsh", "dd_simhash", "dd_ngram_jaccard")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q degenerated to cartesian")
    }
  }

  test("banded dedup self-joins are chunked over materialized signatures") {
    for (q <- Seq("dd_minhash_lsh", "dd_simhash")) {
      val p = plan(q)
      // chunk keys in the join condition: a giant (band, bh) bucket spreads
      // over chunks² tasks instead of pinning one
      assert(p.contains("__ck"), s"$q lost its chunked self-join")
      // the signature build must feed the join as a materialized scan —
      // a localCheckpoint (ExistingRDD) or the staged signature parquet —
      // not as a duplicated aggregation lineage executing once per side
      assert(p.contains("ExistingRDD") || p.contains("LogicalRDD") ||
        p.contains("mhsig"),
        s"$q signature table is not materialized before the self-join")
    }
  }

  test("pii scrub is a pure map-side pass (no join, no aggregate)") {
    val p = plan("tx_pii_scrub")
    assert(!p.contains("Join") && !p.contains("HashAggregate"), p.take(600))
  }

  test("chunk dedup joins on the chunk hash with partial aggregation") {
    val p = plan("dd_chunk_dedup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
    // the first-occurrence min() collapses map-side: one row per DISTINCT
    // chunk crosses the wire, not one per occurrence
    assert(p.split("HashAggregate").length - 1 >= 2,
      "first-occurrence aggregation is not a partial HashAggregate")
    // formatted explain puts equi-join keys on "Left/Right keys" detail lines
    val keyLines = p.linesIterator.filter(_.contains("keys")).mkString("\n")
    assert(keyLines.contains("ch#"), s"join not keyed on chunk hash:\n$keyLines")
  }

  test("source profile broadcasts the corpus count; aggregation is partial") {
    val p = plan("tx_source_profile")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "one-row corpus count lost its broadcast")
    assert(!p.contains("CartesianProduct"))
    assert(p.split("HashAggregate").length - 1 >= 2, p.take(600))
  }

  test("rollup expands partially before the exchange") {
    val p = plan("r1_rollup")
    assert(p.contains("Expand"), "rollup lost its Expand node")
    assert(p.split("HashAggregate").length - 1 >= 2)
  }

  test("ivf centroid assignment is a broadcast product, not a shuffle") {
    val p = plan("sim_ivf_topk")
    // m centroids broadcast against the corpus: BroadcastNestedLoopJoin is
    // the intended shape for the crossJoin; a shuffled CartesianProduct is not
    assert(p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("pq+ivf index: route and encode are one native in-row pass; no Exchange") {
    // The encode pass lives in the STAGE build (Similarity.pqIvfIndex), so
    // the pin points at the builder's plan — the shape that runs at
    // 100 TB. Both quantizers reach the pass as literals: the
    // per-(vector, subspace) argmin and the per-vector route fold INSIDE
    // the row (pq_packed_cp, ivf_route_id) with no join, no broadcast and
    // no aggregate over a |corpus|·S stream. The pass reads the
    // checkpointed projection, so even `table`'s rebalance shuffle is
    // behind it: the plan has no Exchange at all.
    val e = graft.queries.table(spark, dir, "embeddings")
    val (_, _, encoded) = graft.ops.Similarity.pqIvfEncoded(e, subspaces = 8)
    val p = encoded.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("pq_packed_cp"),
      "PQ encode lost the native packed-argmin fold")
    assert(!p.contains("CartesianProduct") && !p.contains("hashpartitioning"),
      p)
    assert(!p.contains("Exchange"),
      "the route + encode pass re-grew an exchange — it must stay " +
        "map-only:\n" + p)
    // the route runs in the SAME projection as the encode: one pass
    val projects = p.split("\n\n").filter(_.contains("Project"))
    assert(projects.exists(b => b.contains("pq_packed_cp") &&
        b.contains("ivf_route_id")),
      "IVF route and PQ encode are not one projection:\n" + p)
  }

  test("pq+ivf index build runs the same few Spark jobs at every SF") {
    // The whole stage:pq build — n and d, the seed + centroid collect, the
    // one route + encode pass and the four artifact writes — is a fixed
    // number of jobs: none of them grows with the corpus, and opening the
    // corpus runs none (its schema comes from the footer).
    def buildJobs(sf: String): Int = withTableCopy(sf, "embeddings") { d =>
      sparkJobs(graft.queries.Stages.all.toMap.apply("stage:pq")(spark, d))
    }
    val (small, large) = (buildJobs("sf0.001"), buildJobs("sf0.01"))
    assert(small == large && small == 7,
      s"stage:pq ran $small jobs at sf0.001 and $large at sf0.01")
  }

  test("sim_pq_topk over a built stage: the staged reads, the corpus count " +
    "and the LUT build run no job of their own") {
    // Opening the staged codebook and codes reads their footers, the query
    // stride's corpus count sums footer row groups, and the per-query LUT
    // is built in-row from the collected codebook. What is left is the
    // codebook collect, the query broadcast (behind the corpus rebalance)
    // and the ADC scan with its window, sort and result write: 7 jobs.
    def rowJobs(sf: String): Int = withTableCopy(sf, "embeddings") { d =>
      graft.queries.Stages.all.toMap.apply("stage:pq")(spark, d)
      val out = java.nio.file.Files.createTempDirectory("graft_pqtopk")
      try sparkJobs(SparkEntry.queries("sim_pq_topk")(spark, d)
        .write.mode("overwrite").parquet(out.resolve("r").toString))
      finally scala.util.Using.resource(java.nio.file.Files.walk(out))(
        _.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => java.nio.file.Files.delete(f)))
    }
    val (small, large) = (rowJobs("sf0.001"), rowJobs("sf0.01"))
    assert(small == large && small == 7,
      s"sim_pq_topk ran $small jobs at sf0.001 and $large at sf0.01")
  }

  test("pq ADC query scan rides broadcast LUTs over staged codes; no cartesian") {
    // the QUERY side of the staged split: codes scan × the broadcast
    // per-query LUT product (the rn2 table folds from a literal), ranked
    // by the bounded per-query window
    val p = plan("sim_pq_topk")
    assert(p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("pq rerank: shortlist and queries broadcast into the corpus fetch; " +
    "the corpus never shuffles for the re-rank") {
    val p = plan("sim_pq_rerank")
    // stage 1 is sim_pq_topk's plan (BNLJ over broadcast LUTs); stage 2's
    // fetch-by-id and query attach must both be broadcast hash joins —
    // a sort-merge join here would shuffle the corpus for a ~64x50-row
    // shortlist
    assert(p.split("BroadcastHashJoin").length - 1 >= 2, p.take(800))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("ivfpq rerank: the exact stage broadcasts shortlist and queries; " +
    "no cartesian anywhere") {
    val p = plan("sim_ivfpq_rerank")
    // stage 1 is sim_ivfpq_topk's plan (bounded BNLJ centroid products,
    // cell equi-joins); stage 2's fetch-by-id and query attach broadcast
    assert(p.split("BroadcastHashJoin").length - 1 >= 2, p.take(800))
    assert(!p.contains("CartesianProduct"))
  }

  test("ivf corpus assignment partial-aggregates; no window over scored rows") {
    val p = plan("sim_ivf_topk")
    // The |corpus|·m argmax must collapse map-side (a packed-BIGINT max()
    // inside a partial HashAggregate) — a row_number window there would
    // exchange every scored row, and a struct-buffered max_by would fall
    // back to SortAggregate (local sort of all scored rows). Only two
    // Window nodes may remain: the bounded query-probe ranking and the
    // final per-query top-k.
    assert(p.split("HashAggregate").length - 1 >= 2,
      "corpus assignment aggregation is not a partial HashAggregate")
    assert(!p.contains("SortAggregate"),
      "corpus assignment fell back to SortAggregate (non-primitive buffer)")
    // formatted explain names each node twice (tree + details): 2 Window
    // nodes (query probes + final top-k) = 4 mentions; a third would mean
    // the corpus assignment regressed to a window
    assert(p.split("\\bWindow\\b").length - 1 <= 4,
      s"unexpected extra Window node — corpus assignment regressed to a window\n${p.take(800)}")
  }

  test("kmeans rounds broadcast centroids; assignment argmax never windows") {
    val p = plan("emb_kmeans")
    // every centroid table (seeds and updated means) broadcasts against
    // the corpus; a shuffled CartesianProduct would be the scale-killer
    assert(p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    // both assignment rounds are packed-BIGINT max() partial aggregates —
    // a row_number window would exchange every |corpus|·k scored row
    assert(p.split("\\bWindow\\b").length - 1 == 0,
      "kmeans assignment regressed to a corpus-row window")
    assert(!p.contains("SortAggregate"),
      "kmeans aggregation fell back to SortAggregate")
  }

  test("full-outer reconciliation prunes scans and aggregates before the join") {
    val p = plan("j8_full_outer")
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    // each side needs exactly its time column — a scan dragging the wide
    // row through a corpus-sized full-outer would be the scale bug
    assert(readSchema.contains("o_orderdate") &&
      !readSchema.contains("o_totalprice"), readSchema)
    assert(!readSchema.contains("event_type") &&
      !readSchema.contains("user_id"), readSchema)
    // counts collapse to |days| rows per side before any join
    assert(p.split("HashAggregate").length - 1 >= 4,
      "daily counts are not partial-aggregated before the full-outer join")
  }

  test("daily anomaly broadcasts per-type moments over the daily table") {
    val p = plan("ev_anomaly")
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"))
    assert(p.contains("HashAggregate"))
  }

  test("hll sketch aggregates partially before its single exchange") {
    val p = plan("ev_hll_sketch")
    assert(p.split("HashAggregate").length - 1 >= 2, p.take(600))
  }

  test("unpivot expands without a shuffle before the sort") {
    val p = plan("uv1_unpivot")
    assert(p.contains("Expand"), "unpivot lost its Expand node")
  }

  test("as-of join is union-and-carry: a window, never a join") {
    for (q <- Seq("aj1_asof", "aj2_asof_forward")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q regressed to a join formulation")
      assert(p.contains("Window"), s"$q lost its carry window")
    }
  }

  test("exact-substr kernel: gram stream hashes in-row; counting stays a " +
      "window; only canonical metadata joins") {
    import spark.implicits._
    import org.apache.spark.sql.functions.length
    // r17: spanArrays branches on measured exact-duplicate mass (raw
    // per-doc sweep when dup mass < 5%, canonicalize-then-expand when
    // duplicate-dense) — pin BOTH branch shapes on corpora that force
    // each branch deterministically.
    def planOf(docs: org.apache.spark.sql.DataFrame): String =
      graft.ops.Dedup.spanArrays(docs, minLen = 25)
        .queryExecution.explainString(ExplainMode.fromString("formatted"))
    def checkCommon(p: String, tag: String): Unit = {
      // occurrence counting is the single corpus-wide stage: a window over
      // the gram hash — never a groupBy-then-join-back second pass
      assert(p.contains("Window"), s"$tag: lost the partition-only counting window")
      // the substring never leaves the row that hashed it: no plan column
      // carries the gram text through an exchange
      val exchanges = p.linesIterator.filter(_.contains("Arguments: hashpartitioning"))
        .mkString("\n")
      assert(exchanges.contains("gh1"), s"$tag: exchange not keyed on gram hash:\n$exchanges")
      // never a join keyed on the gram hash (the groupBy-then-join-back
      // counting regression this test exists to stop). r16 ADVICE: in
      // formatted explain, join keys live on the 'Left keys'/'Right keys'
      // detail lines, not on lines containing the word 'Join' — scan those.
      val keyLines = p.linesIterator.filter(l =>
        l.contains("Left keys") || l.contains("Right keys") ||
          l.contains("Join condition")).mkString("\n")
      assert(!keyLines.contains("gh1") && !keyLines.contains("gh2"),
        s"$tag: occurrence counting regressed to a gram-hash join:\n$keyLines")
    }
    // range-derived corpora (NOT LocalRelation: ConvertToLocalRelation
    // would constant-fold the fingerprint projection into the scan and
    // hide xxhash64 from the plan text)
    import org.apache.spark.sql.functions.{col, concat, lit}
    def corpus(n: Int, distinct: Int): org.apache.spark.sql.DataFrame =
      spark.range(n).select(
        col("id").as("doc_id"),
        concat(lit("doc "), (col("id") % distinct).cast("string"),
          lit(" body " + ("abcdefghij" * 6)),
          (col("id") % distinct).cast("string")).as("text"))
    // all-distinct corpus (dup mass 0) -> the raw sweep: no fingerprint
    // groupBy, no membership/rep joins
    val pRaw = planOf(corpus(40, 40))
    checkCommon(pRaw, "raw")
    assert(!pRaw.contains("xxhash64(2,") && !pRaw.contains("xxhash64(2 "),
      "distinct corpus still pays the canonical text fingerprint")
    // duplicate-dense corpus (every text x4 -> dup mass 0.75) -> the
    // canonical form: fingerprint present, sweep runs over reps only
    val dup = corpus(160, 40)
    val pCanon = planOf(dup)
    checkCommon(pCanon, "canonical")
    assert(pCanon.contains("xxhash64(2,") || pCanon.contains("xxhash64(2 "),
      "duplicate-dense corpus lost the canonical text fingerprint — raw " +
        "per-doc gram sweep multiplies the counting window by the " +
        "exact-dup replication factor")
    // the branch is output-invisible: raw and canonical produce identical
    // rows on the SAME corpus (the shared-oracle claim, pinned here)
    val viaCanon = graft.ops.Dedup.spanArrays(dup, minLen = 25)
      .orderBy($"doc_id").collect().map(_.toSeq).toSeq
    val viaRaw = graft.ops.Dedup.spanArraysRaw(
        dup.filter(length($"text") >= 25), minLen = 25)
      .orderBy($"doc_id").collect().map(_.toSeq).toSeq
    assert(viaCanon.nonEmpty && viaCanon == viaRaw,
      s"canonical expansion diverged from the raw per-doc sweep: " +
        s"${viaCanon.take(1)} vs ${viaRaw.take(1)}")
  }

  test("split leakage: eval bands broadcast; train side never self-joins") {
    val p = plan("dd_split_leakage")
    assert(p.contains("BroadcastHashJoin"), "eval band buckets lost their broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("decontaminate joins on gram hashes, never gram strings or cartesian") {
    val p = plan("dd_decontaminate")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // the equi-join key is the 8-byte hash column, so the shuffle/broadcast
    // carries longs, not n-gram strings
    val joinLines = p.linesIterator.filter(l =>
      l.contains("HashJoin") || l.contains("SortMergeJoin")).mkString("\n")
    assert(joinLines.contains("gh"), s"join not keyed on gram hash:\n$joinLines")
  }

  test("domain mix broadcasts the per-stratum counts; corpus never shuffles") {
    val p = plan("sp2_domain_mix")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "stratum counts lost their broadcast")
    assert(!p.contains("SortMergeJoin"),
      "corpus side shuffled to meet the bounded counts table")
  }

  test("scd2 history meets updates only via key equi-joins") {
    // Static estimates keep these as SMJ; AQE converts the bounded update
    // side to broadcast at runtime. The invariant worth pinning is that no
    // join degenerates to a nested loop / cartesian (attr comparison must
    // ride the key equi-join, not become the join condition itself).
    val p = plan("etl_scd2")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "scd2 join degenerated to a non-equi join")
  }

  test("histogram sketch aggregates partially before its single exchange") {
    val p = plan("ev_histogram")
    assert(p.split("HashAggregate").length - 1 >= 2, p.take(600))
  }

  test("range join stays an equi-join on (key, bucket), never a nested loop") {
    val p = plan("rj1_range_join")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "range join degenerated to a per-key nested loop")
  }

  test("interval overlap join stays an equi-join on (key, bucket), " +
    "never a nested loop") {
    val p = plan("rj2_overlap_join")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "overlap join degenerated to a per-key nested loop")
  }

  test("stratified sampling is a pure map-side filter (no agg, no join)") {
    val p = plan("sp1_stratified")
    assert(!p.contains("Join") && !p.contains("HashAggregate"), p.take(600))
  }

  test("dense surrogate keys: no global window, no single-partition exchange") {
    val cust = queries.table(spark, dir, "customer")
    // layout stage: distribution comes from RANGE partitioning over the
    // key order — the stage a global row_number would collapse to one task
    val d = cust.select("c_custkey", "c_name", "c_mktsegment").distinct()
      .repartitionByRange(8, org.apache.spark.sql.functions.col("c_custkey"))
    val layout = d.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(layout.contains("rangepartitioning") || layout.contains("RangePartitioning"),
      layout.take(600))
    // judged path end-to-end: the final remap plan must carry no Window
    // and no SinglePartition exchange anywhere (buildDim's row_number form
    // would show both)
    val p = plan("etl_dense_keys")
    assert(!p.contains("Window"), "dense path regressed to a window\n" + p.take(900))
    assert(!p.contains("SinglePartition"),
      "dense path collapsed to one partition\n" + p.take(900))
  }

  test("bucketed join is co-located: no shuffle feeds the join itself") {
    val p = plan("etl_bucketed_join")
    // both sides bucketed by the join key -> the SMJ reads bucketed scans
    // directly; the only shuffles are the aggregation and final sort.
    // (BroadcastExchange contains the substring "Exchange", so count
    // shuffles as the difference.)
    val shuffles = (p.split("\\bExchange\\b").length - 1) -
      (p.split("BroadcastExchange").length - 1)
    assert(p.contains("SortMergeJoin"), "bucketed join lost its SMJ shape")
    // formatted explain names each node twice: 2 shuffle nodes = 4 mentions
    assert(shuffles <= 4,
      s"unexpected shuffle feeding the bucketed join ($shuffles mentions)\n${p.take(900)}")
  }

  test("decontamination queries read the SHARED staged gram table") {
    // all three queries must scan the one staged (doc_id, gh) parquet —
    // a plan that re-derives grams from documents pays the explode + md5
    // again and the stage sharing silently regressed
    for (q <- Seq("dd_decontaminate", "dd_bloom_decontaminate",
                  "dd_bloom_confirmed")) {
      val p = plan(q)
      assert(p.contains(graft.ops.Dedup.GramStageTag),
        s"$q does not scan the staged gram table")
      assert(!p.contains("md5"), s"$q recomputes gram hashes from text")
    }
  }

  test("incremental lsh: batch buckets broadcast; corpus bands arrive " +
       "from the bucketed table") {
    val p = plan("dd_incremental_lsh")
    assert(p.contains("BroadcastHashJoin"),
      "batch band buckets lost their broadcast")
    assert(p.contains("corpus_bands"),
      "corpus side no longer reads the staged bucketed band table")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"))
  }

  test("incremental lsh SMJ fallback: bucketed corpus side joins with no " +
       "exchange of its own") {
    // When the batch outgrows broadcast, the join falls back to sort-merge;
    // the corpus band table is bucketed on the join key, so ONLY the batch
    // side exchanges. Shuffle nodes in the whole plan: batch-side
    // bucketing, pair distinct, per-doc agg, final sort = 4 (formatted
    // explain names each node twice = 8 mentions); a 5th would mean the
    // corpus side shuffled and the bucketed layout stopped being used.
    import org.apache.spark.sql.functions.col
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val batch = graft.ops.Dedup.minHashSignatures(
        queries.table(spark, dir, "documents")
          .filter(col("doc_id") % 5 === 0))
      val p = graft.ops.Dedup.incrementalLshFromBuckets(batch,
          graft.queries.TextOps.stagedCorpusBands(spark, dir),
          broadcastBatch = false)
        .queryExecution.explainString(ExplainMode.fromString("formatted"))
      assert(p.contains("SortMergeJoin"), "fallback did not plan an SMJ")
      assert(p.contains("Bucketed: true"),
        "corpus band scan lost its bucketed layout")
      // Structural check on the SMJ's corpus branch: in the formatted tree
      // the batch branch's lines all carry the ":" continuation prefix,
      // the corpus branch's (printed last, between the join node and its
      // scan) carry none — so the corpus subtree is exactly the non-":"
      // lines in that window, and must contain no Exchange. (A global
      // shuffle count would be fragile: the batch side legitimately
      // shuffles for its signature build and bucketing.)
      val tree = p.split("\n\n")(0).linesIterator.toSeq
      val smj = tree.indexWhere(_.contains("SortMergeJoin"))
      val scan = tree.indexWhere(_.contains("graft_corpus_bands"))
      assert(smj >= 0 && scan > smj, s"unexpected tree shape\n${tree.mkString("\n")}")
      val corpusBranch = tree.slice(smj + 1, scan + 1).filterNot(_.contains(":"))
      assert(corpusBranch.forall(!_.contains("Exchange")),
        s"corpus side shuffled to meet the batch:\n${corpusBranch.mkString("\n")}")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("gopher rules and hash split are pure map-side passes") {
    for (q <- Seq("tx_gopher_rules", "sp4_split")) {
      val p = plan(q)
      assert(!p.contains("Join") && !p.contains("HashAggregate"),
        s"$q is no longer map-only\n${p.take(600)}")
    }
  }

  test("sequence packing: one per-shard window, no join, no global sort " +
       "before the prefix sum") {
    val p = plan("tp1_sequence_pack")
    assert(!p.contains("Join"))
    // formatted explain names each node twice: exactly one Window node
    assert(p.split("\\bWindow\\b").length - 1 <= 2,
      s"extra window crept into sequence packing\n${p.take(600)}")
    // the prefix sum partitions by shard — hashpartitioning, not a global
    // range partitioning of the corpus
    val details = p.linesIterator.filter(_.contains("Arguments")).mkString("\n")
    assert(p.contains("hashpartitioning"),
      s"per-shard window lost its hash partitioning\n$details")
  }

  test("retention aggregates partially; only (user, week) pairs shuffle") {
    val p = plan("ev_retention")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
    assert(p.split("HashAggregate").length - 1 >= 2,
      "retention lost map-side partial aggregation")
  }

  test("bigram logprob joins on bigram keys, never cartesian") {
    val p = plan("tx_bigram_logprob")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
    // formatted explain puts equi-join keys on "Left/Right keys" detail lines
    val keyLines = p.linesIterator.filter(_.contains("keys")).mkString("\n")
    assert(keyLines.contains("w1#"), s"join not keyed on bigram prefix:\n$keyLines")
  }

  test("lsh recall composes the two rankings without a cartesian blow-up") {
    val p = plan("sim_lsh_recall")
    // brute force's =!= join is an intended broadcast nested loop of a
    // BOUNDED query set; an unbounded CartesianProduct is not
    assert(!p.contains("CartesianProduct"), p.take(600))
  }

  test("q5: dims broadcast; no cartesian; fact aggregation is partial") {
    val p = plan("q5_region_revenue")
    assert(p.split("BroadcastHashJoin").length - 1 >= 3, p.take(800))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
    assert(p.split("HashAggregate").length - 1 >= 2)
  }

  test("spike + entropy: event-level data only shuffles through partial aggs") {
    for (q <- Seq("ev_spike", "ev_entropy")) {
      val p = plan(q)
      assert(p.split("HashAggregate").length - 1 >= 2, s"$q lost partial agg")
      assert(!p.contains("Join"), s"$q grew a join over event rows")
    }
    // the spike window runs over (type, bucket) counts, not raw events:
    // exactly one Window node (counted via its details-section header,
    // "(n) Window", which appears once per node)
    assert(plan("ev_spike").linesIterator
      .count(_.matches("\\(\\d+\\) Window\\s*")) == 1)
  }

  test("containment: equi-joins on the gram hash, never cartesian") {
    val p = plan("dd_containment")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
    val keyLines = p.linesIterator.filter(_.contains("keys")).mkString("\n")
    assert(keyLines.contains("gh#"), s"pair join not keyed on gram hash:\n$keyLines")
  }

  test("temperature weights broadcast the one-row normalizer") {
    val p = plan("sp5_temperature")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "normalizer lost its broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("corr + dim stats: one partial-aggregated pass, no interpreted lambdas") {
    for (q <- Seq("st2_corr", "emb_dim_stats")) {
      val p = plan(q)
      assert(p.split("HashAggregate").length - 1 >= 2, s"$q lost partial agg")
      assert(!p.contains("LambdaFunction"), s"$q fell back to interpreted HOFs")
    }
  }

  test("q7: both nation-filtered dims broadcast; no cartesian") {
    val p = plan("q7_trade_flow")
    assert(p.split("BroadcastHashJoin").length - 1 >= 3, p.take(800))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
    assert(p.split("HashAggregate").length - 1 >= 2)
  }

  test("windowed topk ranks over counts, not raw events") {
    val p = plan("ev_windowed_topk")
    // partial-agg count below; the single Window above it sorts per-window
    // type counts only
    assert(p.split("HashAggregate").length - 1 >= 2)
    assert(p.linesIterator.count(_.matches("\\(\\d+\\) Window\\s*")) == 1)
    assert(!p.contains("Join"))
  }

  test("quota sample broadcasts the quota table; rank is per-stratum") {
    val p = plan("sp6_quota_sample")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "quota table lost its broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("as-of tolerance keeps the union-and-carry shape: a window, no join") {
    val p = plan("aj3_asof_tolerance")
    assert(!p.contains("Join"), "tolerance variant grew a join")
    assert(p.contains("Window"))
  }

  test("dq profile + expectations: one scan each, partial-aggregated, no join") {
    for (q <- Seq("dq1_profile", "dq2_expectations")) {
      val p = plan(q)
      assert(p.linesIterator.count(_.matches("\\(\\d+\\) Scan parquet\\s*.*")) == 1,
        s"$q scans more than once")
      assert(p.split("HashAggregate").length - 1 >= 2, s"$q lost partial agg")
      assert(!p.contains("Join"), s"$q grew a join")
    }
    // multi-column exact distinct goes through ONE Expand, not per-column scans
    assert(plan("dq1_profile").contains("Expand"))
  }

  test("dq referential: equi-joins only, parent key sets deduped before the join") {
    val p = plan("dq3_referential")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("knn graph: packed-argmax assignment, no unbounded cartesian") {
    // the graph build now lives in the STAGE (stagedKnn), so the pin
    // points at the builder's plan — the shape that runs at 100 TB
    val e = graft.queries.table(spark, dir, "embeddings")
    val p = graft.ops.Similarity.knnGraphAuto(e, k = 3).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    // the centroid product is the intended bounded BNLJ (as in sim_ivf);
    // the cell self-join must be an equi-join on c_id
    assert(!p.contains("CartesianProduct"), p.take(600))
    assert(p.split("HashAggregate").length - 1 >= 2, "assignment lost partial agg")
  }

  test("phash dedup: band table materializes before the fan-out — one " +
    "documents scan, three consumers ride the barrier") {
    val p = plan("mm_phash_dedup")
    // the per-character explode + two groupBys must run ONCE; the pivoted
    // hash table and both self-join sides consume the checkpointed bands
    val scans = p.linesIterator.count(l =>
      l.contains("Location") && l.contains("documents.parquet"))
    assert(scans <= 1, s"documents scanned $scans times — bands lineage " +
      "is being re-executed per consumer")
    assert(!p.contains("CartesianProduct"))
  }

  test("q2 min-cost: part fan-out broadcasts into supplier; min joins back, no window") {
    val p = plan("q2_min_cost")
    // the filtered 4-per-part fan-out and the part-bounded min table are
    // the broadcast sides; supplier (the corpus-sized side) never shuffles
    assert(p.split("BroadcastHashJoin").length - 1 >= 3, p.take(800))
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"))
    // the correlated min is aggregate-then-join — a rank window here would
    // sort every offer row
    assert(!p.contains("\nWindow") && !p.contains("(Window"),
      "q2 min-cost regressed to a rank window")
  }

  test("histogram quantiles: windows run over bins, events only feed the count agg") {
    val p = plan("st3_hist_quantile")
    assert(!p.contains("CartesianProduct"))
    assert(p.split("HashAggregate").length - 1 >= 2, "histogram lost partial agg")
  }

  test("rolling 30d: one range-frame window, no join") {
    val p = plan("w5_rolling_30d")
    assert(p.linesIterator.count(_.matches("\\(\\d+\\) Window\\s*")) == 1)
    assert(!p.contains("Join"))
    assert(p.contains("RangeFrame"), "frame degraded from RANGE to ROWS")
  }

  test("incremental agg: partial-agg merge, no join, no rescan of the base") {
    val p = plan("etl_incremental_agg")
    assert(!p.contains("Join"))
    assert(p.split("HashAggregate").length - 1 >= 2)
  }

  test("cooccurrence: user-keyed equi self-join over distinct pairs, no cartesian") {
    val p = plan("ev_cooccur")
    assert(!p.contains("CartesianProduct"))
    assert(p.split("HashAggregate").length - 1 >= 2)
  }

  test("curriculum: map-side quartile against broadcast cuts, no global window") {
    val p = plan("tp2_curriculum")
    assert(!p.contains("CartesianProduct"))
    assert(!p.linesIterator.exists(_.matches("\\(\\d+\\) Window\\s*")),
      "curriculum grew a global window — stage must be a broadcast-cut compare")
  }

  test("q10: returnflag filter pushes to the scan; dims broadcast; top-k bounded") {
    val p = plan("q10_returned_items")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("l_returnflag"), s"filter not pushed:\n$pushed")
    assert(p.split("BroadcastHashJoin").length - 1 >= 2)
    assert(p.contains("TakeOrderedAndProject"), "top-20 lost its bounded sort")
  }

  test("transitions: per-user lag window, then vocabulary-sized rollups") {
    val p = plan("ev_transitions")
    // the same lag window appears once per aggregate branch (counts +
    // totals, deduplicated by AQE stage reuse at runtime) — what must NOT
    // appear is any window over the post-aggregate pair stream
    assert(p.linesIterator.count(_.matches("\\(\\d+\\) Window\\s*")) <= 2)
    assert(!p.contains("CartesianProduct"))
    assert(p.split("HashAggregate").length - 1 >= 2)
  }

  test("embedding dup clusters: knn edges feed CC without a cartesian") {
    val p = plan("sim_dup_clusters")
    assert(!p.contains("CartesianProduct"), p.take(600))
  }

  test("partitioned write reads back with PARTITION pruning, not a file filter") {
    val p = plan("etl_partitioned_write")
    val pf = p.linesIterator.filter(_.contains("PartitionFilters")).mkString
    assert(pf.contains("lang"), s"lang filter did not prune partitions:\n$pf")
  }

  test("shard manifest: per-group prefix sums only — no join, no global sort") {
    val p = plan("mm_shard_manifest")
    assert(!p.contains("Join"))
    assert(p.linesIterator.count(_.matches("\\(\\d+\\) Window\\s*")) == 1)
  }

  test("shipping delay: one equi-join, partial-aggregated day buckets") {
    val p = plan("q12_shipping_delay")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
    assert(p.split("HashAggregate").length - 1 >= 2)
  }

  test("schema evolution: merged read aggregates without a join") {
    val p = plan("etl_schema_evolution")
    assert(!p.contains("Join"))
    assert(p.split("HashAggregate").length - 1 >= 2)
  }

  test("user features: one partial-agg pass plus the broadcast watermark") {
    val p = plan("ev_user_features")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "corpus watermark lost its broadcast")
    assert(!p.contains("CartesianProduct"))
    assert(p.split("HashAggregate").length - 1 >= 2)
  }

  test("fact-side scans stay columnar (vectorized parquet batches)") {
    for (q <- Seq("q1_agg", "q2_star_join", "p1_projection")) {
      val p = plan(q)
      assert(p.contains("Batched: true"), s"$q lost vectorized scan")
    }
  }

  test("fuzzy JW: blocked equi-join, native expression, never cartesian") {
    val p = plan("dd_fuzzy_jw")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "vocabulary self-join lost its blocking keys")
    assert(p.contains("jaro_winkler"), "JW not evaluated by the native expression")
  }

  test("dsir: score table broadcasts; per-doc rollup partially aggregates") {
    // the weight pass now lives in the STAGE (stagedDsir), so the pin
    // points at the builder's plan — the shape that runs at 100 TB
    val docs = graft.queries.table(spark, dir, "documents")
    val p = graft.ops.TextAnalysis.dsirWeights(docs,
        target = org.apache.spark.sql.functions.col("lang") === "en")
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("BroadcastHashJoin"), "bucket score table lost its broadcast")
    assert(!p.contains("CartesianProduct"))
    assert(p.split("HashAggregate").length - 1 >= 2)
  }

  test("psi drift: one broadcast bounds row, no global window") {
    val p = plan("dq5_psi_drift")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      "bounds row lost its broadcast")
    assert(!p.contains("Window"), "PSI must not sort the stream globally")
  }

  test("semdedup: pruning is an equi-join on cluster id, never cartesian") {
    val p = plan("dd_semdedup")
    assert(!p.contains("CartesianProduct"),
      "within-cluster sweep lost its c_id equi-key")
  }

  test("chunk overlap: pure per-row fan-out — no join, no aggregation") {
    val p = plan("tx_chunk_overlap")
    assert(!p.contains("Join") && !p.contains("HashAggregate"),
      "chunking must stay a map over the scan")
  }

  test("covariance: map-side Gram partials, no join, bounded exchange") {
    // the judged query rides the staged cell table; the plan contract
    // belongs to the stage BUILDER, so assert on the operator directly
    val p = graft.ops.Similarity
      .covarianceMatrix(graft.queries.table(spark, dir, "embeddings"))
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("Join"), "X^T X must not self-join the corpus")
    // partial + final HashAggregate around the (dim_i, dim_j) exchange —
    // the exchange carries d(d+1)/2 × partitions partial rows, never a
    // row per (vector × pair)
    assert(p.split("HashAggregate").length - 1 >= 2, p.take(600))
    assert(!p.contains("SortAggregate"),
      "decimal Gram partials fell back to SortAggregate")
  }

  test("random projection: map-only until the final sort — no join, no agg") {
    val p = plan("emb_rand_proj")
    assert(!p.contains("Join") && !p.contains("HashAggregate"),
      "the seeded matrix is data-independent; nothing may shuffle or join")
    // codegen-safety structure: the generator must explode PRECOMPUTED
    // projection columns — a Project splits the 1024-term chains into
    // Janino methods, a generator input cannot (inlined, the stage loses
    // whole-stage codegen to a CompileException fallback)
    assert(p.contains("posexplode(array(__o0"),
      "projection chains inlined into the Generate")
  }

  test("source jaccard: corpus joins only the broadcast source index") {
    val p = plan("tx_src_jaccard")
    assert(p.contains("BroadcastHashJoin"), "source index lost its broadcast")
    assert(!p.contains("CartesianProduct"),
      "pairwise work must ride the mask census, not a corpus cartesian")
  }

  test("ngram novelty: one gram window + one doc rollup, no join") {
    val p = plan("tx_ngram_novelty")
    assert(!p.contains("Join"),
      "document frequency must be a window over the gram, not a join-back")
    assert(p.split(" Window").length - 1 >= 1, p.take(600))
  }

  test("dsir gumbel selection: a distributed top-k, never a global sort") {
    val p = plan("sp10_dsir_sample")
    assert(p.contains("TakeOrderedAndProject"),
      "the k-cut must be TakeOrdered (per-partition heads), not Sort+Limit")
  }

  test("classifier score: map-side partial agg, no join, codegen'd hash") {
    val p = plan("tx_classifier_score")
    assert(!p.contains("Join"), "the weight table is hash-derived in-row")
    assert(p.split("HashAggregate").length - 1 >= 2, p.take(600))
    assert(!p.contains("LambdaFunction"),
      "token hashing fell back to an interpreted HOF")
  }

  test("ppl buckets: cuts ride one broadcast row, no global window") {
    val p = plan("tx_ppl_buckets")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      "tercile cut row lost its broadcast")
    assert(!p.contains("Window"),
      "bucketing must compare against cuts, not rank the corpus")
  }

  test("term lookup: IN-list filter cuts the stream; census broadcasts") {
    val p = plan("ix1_term_lookup")
    assert(p.contains("BroadcastHashJoin"),
      "the |terms|-row census lost its broadcast")
    assert(!p.contains("CartesianProduct"))
    // the literal IN-list must filter the exploded token stream before
    // the aggregation exchange (map-side), not after
    assert(p.contains("Filter"), p.take(600))
  }

  test("winsorize: per-group caps broadcast; no window") {
    val p = plan("st6_winsorize")
    assert(p.contains("BroadcastHashJoin"), "cap rows lost their broadcast")
    assert(!p.contains("Window"))
  }

  test("dedup weights: one doc-keyed left join, no window, no cartesian") {
    val p = plan("dd_dedup_weights")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"))
  }

  test("pagerank: iterations are id-keyed equi-joins, never cartesian") {
    val p = plan("gr1_pagerank")
    assert(!p.contains("CartesianProduct"),
      "an iteration join lost its node-id key")
    assert(!p.contains("SortAggregate"),
      "decimal contribution partials fell back to SortAggregate")
  }

  test("kwic: pure per-row fan-out + filter — no join, no aggregation") {
    val p = plan("ix2_kwic")
    assert(!p.contains("Join") && !p.contains("HashAggregate"),
      "context slicing must read the token array already in the row")
  }

  test("standardize: d-row stats broadcast; decimal partials stay hashed") {
    val p = plan("emb_standardize")
    assert(p.contains("BroadcastHashJoin"), "per-dim stats lost their broadcast")
    assert(p.split("HashAggregate").length - 1 >= 2, p.take(600))
    assert(!p.contains("SortAggregate"))
    assert(!p.contains("Window"))
  }

  test("url canonical dedup: a map + one hash-agg — no join, no window") {
    val p = plan("dd_url_canonical")
    assert(!p.contains("Join") && !p.contains("Window"),
      "canonicalization must stay in-row; dedup is the exact-dedup shape")
    assert(p.split("HashAggregate").length - 1 >= 2, p.take(600))
  }

  test("label outliers: centroids and thresholds broadcast; no window") {
    val p = plan("emb_outliers")
    assert(p.contains("BroadcastHashJoin"),
      "the |labels|-bounded sides lost their broadcast")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"))
  }

  test("reconcile: orderkey-keyed join, both rollups partially aggregated") {
    val p = plan("dq7_reconcile")
    assert(!p.contains("CartesianProduct") && !p.contains("Window"))
    assert(p.split("HashAggregate").length - 1 >= 2, p.take(600))
  }

  test("lexical diversity: in-row kernel — no join, no aggregation") {
    val p = plan("tx_lexical_diversity")
    assert(!p.contains("Join") && !p.contains("HashAggregate"),
      "types/hapax must come off the in-row sorted runs")
  }

  test("kfold: map-side fold assignment; fold totals broadcast") {
    val p = plan("sp11_kfold")
    assert(p.contains("BroadcastHashJoin"), "fold totals lost their broadcast")
    assert(!p.contains("Window"))
  }

  test("asof nearest: ONE exchange feeds both directional windows") {
    val p = plan("aj5_asof_nearest")
    assert(!p.contains("Join"), "nearest must not compose-and-join back/fwd")
    // two Window operators, exactly one hash-partitioned shuffle between
    // the union and the windows
    assert(p.split(" Window").length - 1 >= 2, p.take(800))
    val exchanges = p.linesIterator.count(l =>
      l.contains("Arguments: hashpartitioning"))
    assert(exchanges == 1, s"expected 1 keyed exchange, saw $exchanges\n" +
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  test("hll error audit: sketch side broadcast onto the exact side") {
    val p = plan("ev_hll_error")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct") && !p.contains("Window"))
  }

  test("cms error audit: depth-x-width sketch broadcast onto the probes") {
    val p = plan("ev_cms_error")
    assert(p.contains("BroadcastHashJoin"), "the 4x64 sketch lost its broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("Window"))
  }

  test("percent rank: two-level ranking — row sort keyed by (status, price " +
      "bucket), never status alone") {
    val p = plan("w7_percent_rank")
    assert(!p.contains("CartesianProduct"))
    // the full-table window must partition by (status, bkt) — hundreds of
    // bounded sorts — with the bucket census riding back as a broadcast;
    // a status-only exchange on the ROW side would be the 3-giant-
    // partitions shape this rewrite exists to remove (the census's own
    // status-only window sorts ≤ #buckets rows, and its exchange sits
    // above a HashAggregate, not the raw scan)
    val exch = p.linesIterator
      .filter(_.contains("Arguments: hashpartitioning")).toList
    assert(exch.exists(_.contains("bkt")),
      s"row ranking must partition by (status, bkt): $exch")
    assert(p.contains("BroadcastHashJoin"),
      "the bucket-offset census must broadcast onto the rows")
  }

  test("q18: HAVING aggregate drives the joins; top-k is TakeOrdered") {
    val p = plan("q18_large_orders")
    assert(p.contains("TakeOrderedAndProject"),
      "the 100-row cut must be TakeOrdered, not Sort+Limit")
    assert(!p.contains("CartesianProduct"))
    assert(p.split("HashAggregate").length - 1 >= 2, p.take(600))
  }

  test("q4: EXISTS collapses lineitem via partial max BEFORE the join") {
    val p = plan("q4_order_priority")
    // two aggregate pairs: the per-order max collapse and the priority
    // rollup — the lineitem side must aggregate, not semi-join row-level
    assert(p.split("HashAggregate").length - 1 >= 4, p.take(600))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q13: zero-order customers survive the left outer join") {
    val p = plan("q13_custdist")
    assert(p.contains("LeftOuter"), p.take(600))
    assert(!p.contains("CartesianProduct"))
    // orders' status filter is pushed into its scan, not post-join (a
    // post-join filter would silently turn the join inner)
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("o_orderstatus"), pushed)
  }

  test("q16: complaint suppliers leave via a broadcast ANTI join") {
    val p = plan("q16_supplier_cnt")
    assert(p.contains("LeftAnti"), p.take(600))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q19: disjunctive predicate pushes into the part scan; no shuffle " +
    "before the single-row agg") {
    val p = plan("q19_disjunctive")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("Or("), s"OR filter not pushed:\n$pushed")
    assert(p.contains("BroadcastHashJoin"))
    val keyed = p.linesIterator.count(_.contains("Arguments: hashpartitioning"))
    assert(keyed == 0, s"expected no keyed exchange, saw $keyed")
  }

  test("q22: recent-order date filter pushes into the orders scan") {
    val p = plan("q22_dormant")
    assert(p.contains("LeftAnti"), p.take(600))
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("o_orderdate"), pushed)
    assert(!p.contains("CartesianProduct"))
  }

  test("st7: contingency margins broadcast; the statistic is one row") {
    val p = plan("st7_chi2")
    assert(p.split("BroadcastExchange").length - 1 >= 3, p.take(800))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("Window"))
  }

  test("ev_cpd: every window is keyed by event_type (no global sort)") {
    val p = plan("ev_cpd_cusum")
    assert(!p.contains("CartesianProduct"))
    // both windows (cumsum + argmax rank) partition by event_type
    assert(!p.contains("partitionSpec=[]"), "global window crept in")
  }

  test("kn continuation: bigram types aggregate map-side; top-k is " +
    "TakeOrdered") {
    val p = plan("tx_kn_continuation")
    assert(p.contains("TakeOrderedAndProject"), p.take(600))
    assert(!p.contains("CartesianProduct"))
    // distinct over (w1,w2) must partial-aggregate before its exchange
    assert(p.split("HashAggregate").length - 1 >= 2, p.take(600))
  }

  test("benford: digit extraction map-side; 9-key rollup + broadcast total") {
    val p = plan("dq8_benford")
    assert(!p.contains("CartesianProduct") && !p.contains("Window"))
    // the Benford table and the one-row total both broadcast
    assert(p.split("BroadcastExchange").length - 1 >= 2, p.take(800))
  }

  test("zipf fit: ranking window runs over the TakeOrdered head, " +
    "not the vocabulary") {
    val p = plan("tx_zipf_fit")
    assert(p.contains("TakeOrderedAndProject"),
      "top-100 must cut BEFORE the ranking window")
    assert(!p.contains("CartesianProduct"))
  }

  test("mips: queries broadcast; candidates bucket-bounded, never " +
    "cartesian") {
    val p = plan("sim_mips_topk")
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("degree hist: two bounded rollups over the staged pair table, " +
    "no window") {
    val p = plan("gr2_degree_hist")
    assert(!p.contains("CartesianProduct") && !p.contains("Window"))
    assert(p.split("HashAggregate").length - 1 >= 4, p.take(600))
  }

  test("cdc chunks: in-row chunking — exchanges only at the hash groupBy " +
    "and the doc rollup") {
    val p = plan("dd_cdc_chunks")
    assert(!p.contains("CartesianProduct") && !p.contains("Window"))
    val keyed = p.linesIterator.count(_.contains("Arguments: hashpartitioning"))
    assert(keyed <= 3, s"CDC should shuffle on ch/doc_id only, saw $keyed")
  }

  test("q8: market membership and supplier flag ride broadcasts; the " +
    "region filter pushes into its scan") {
    val p = plan("q8_market_share")
    assert(p.split("BroadcastHashJoin").length - 1 >= 3, p.take(800))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("r_name"), pushed)
  }

  test("q9: part prefix filter pushes; part/supplier/nation broadcast — " +
    "the only keyed exchange is lineitem⋈orders") {
    val p = plan("q9_product_profit")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("StringStartsWith(p_name,red"), pushed)
    assert(p.split("BroadcastHashJoin").length - 1 >= 2, p.take(800))
    assert(!p.contains("CartesianProduct"))
  }

  test("q15: the quarter filter pushes into the lineitem scan; the max " +
    "joins back as ONE broadcast row, never a window") {
    val p = plan("q15_top_supplier")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("l_shipdate"), pushed)
    assert(!p.contains("Window"), "rank-window formulation crept in")
    // the max row joins back as a broadcast nested loop (1-row build),
    // never an unbounded cartesian
    assert(!p.contains("CartesianProduct"), p.take(600))
  }

  test("q17: both the average side and the probe side cut to the brand " +
    "via broadcast BEFORE any exchange; per-part averages broadcast back") {
    val p = plan("q17_small_quantity")
    assert(p.split("BroadcastHashJoin").length - 1 >= 3, p.take(800))
    assert(!p.contains("CartesianProduct") && !p.contains("Window"))
  }

  test("q20: share threshold joins a part-bounded broadcast; one corpus " +
    "exchange (the part,supp agg)") {
    val p = plan("q20_share_suppliers")
    assert(p.split("BroadcastHashJoin").length - 1 >= 3, p.take(800))
    assert(!p.contains("CartesianProduct") && !p.contains("Window"))
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("StringStartsWith(p_name,red"), pushed)
  }

  test("q21: the EXISTS/NOT-EXISTS pair collapses into ONE per-order " +
    "aggregate — no self-join of lineitem, no window") {
    val p = plan("q21_waiting_supplier")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"))
    // lineitem is scanned ONCE (the spec's formulation scans it 3x);
    // each scan node prints one InMemoryFileIndex Location line
    val scans = p.linesIterator.count(l =>
      l.contains("Location") && l.contains("lineitem.parquet"))
    assert(scans == 1, s"lineitem scanned $scans times")
  }

  test("st8: the moment pass runs over the calendar-bounded daily series") {
    val p = plan("st8_autocorr")
    assert(!p.contains("CartesianProduct"))
    // the lead() window orders the ~2.4k-row series, not the order log:
    // it must sit ABOVE the daily aggregate in the plan
    assert(p.contains("Window"), "lead() window missing")
    assert(p.split("HashAggregate").length - 1 >= 2, p.take(600))
  }

  test("bm25: term filter cuts the token stream before any exchange; " +
    "df and corpus stats broadcast; top-100 is TakeOrdered") {
    val p = plan("ix3_bm25")
    assert(p.contains("TakeOrderedAndProject"), p.take(600))
    assert(p.split("BroadcastExchange").length - 1 >= 2, p.take(800))
    // the 1-row corpus-stats cross join broadcasts (BNLJ), never a
    // full cartesian
    assert(!p.contains("CartesianProduct"), p.take(600))
    assert(!p.contains("Window"))
  }

  test("q11: the nation's supplier set broadcasts before the one corpus " +
    "exchange; the total is ONE broadcast row") {
    val p = plan("q11_important_parts")
    assert(p.split("BroadcastHashJoin").length - 1 >= 2, p.take(800))
    assert(!p.contains("CartesianProduct") && !p.contains("Window"))
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("n_name"), pushed)
  }

  test("q14: the month range pushes into the lineitem scan; the part dim " +
    "broadcasts; one row out") {
    val p = plan("q14_promo_effect")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("l_shipdate"), pushed)
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("CartesianProduct") && !p.contains("Window"))
  }

  test("st9: ranks run over the value census (one keyed exchange off the " +
    "corpus), never per-row; the returnflag filter pushes") {
    val p = plan("st9_mannwhitney")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("l_returnflag"), pushed)
    assert(p.contains("Window"), "cumulative-rank window missing")
    // exactly one corpus-keyed exchange: the value-census hash agg; the
    // ~50-row window repartitions to a single partition after it
    val keyed = p.linesIterator.count(_.contains("Arguments: hashpartitioning"))
    assert(keyed <= 1, s"expected <=1 keyed exchange, saw $keyed")
  }

  test("gr3: triangle join rides the staged pair table — no shingle " +
    "recompute; oriented self-joins are hash joins, not cartesian") {
    val p = plan("gr3_triangles")
    assert(!p.contains("CartesianProduct"), p.take(600))
    assert(!p.contains("regexp_replace"), "pair stage recomputed from raw text")
    assert(p.split("SortMergeJoin").length - 1 +
      (p.split("BroadcastHashJoin").length - 1) +
      (p.split("ShuffledHashJoin").length - 1) >= 3, p.take(800))
  }

  test("st10: the corpus collapses to the (x,y) census in ONE scan; the " +
    "concordance pairs ride a broadcast of the census itself") {
    val p = plan("st10_kendall_tau")
    // the census is materialized (lineage barrier): its four consumers
    // must NOT re-scan the corpus — the downstream plan reads the
    // checkpointed census, so zero parquet scans survive
    val scans = p.linesIterator.count(l =>
      l.contains("Location") && l.contains("lineitem.parquet"))
    assert(scans == 0, s"lineitem scanned $scans times (n must come off the census)")
    // the upper-triangle inequality join is a broadcast nested loop over
    // the <=550-row census, never a corpus cartesian
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(600))
    assert(!p.contains("CartesianProduct") && !p.contains("Window"))
  }

  test("tp3: the manifest derivation rides ONLY staged inputs + the " +
    "checkpointed signal base — zero documents scans survive downstream") {
    // the pin targets the stage BUILDER's plan (the judged tp3 row now
    // reads the staged manifest parquet; the derivation is where the
    // zero-rescan discipline lives)
    val p = graft.queries.TextOps.manifestFrame(spark, dir).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    // every per-doc signal (quality, Gopher keep, split, source, tokens)
    // was computed in curationSignals' ONE scan and checkpointed; the
    // dedup / contamination gates arrive as staged parquet — so the
    // corpus itself must never appear in the composed plan
    val scans = p.linesIterator.count(l =>
      l.contains("Location") && l.contains("documents.parquet"))
    assert(scans == 0, s"documents scanned $scans times downstream of the base")
    // the source-weight table is |sources| rows and must broadcast
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    assert(!p.contains("CartesianProduct"))
  }

  test("tp4: the packed export rides ONLY the staged manifest — zero " +
    "documents scans anywhere; repeat factors broadcast; no global sort " +
    "below the final presentation order") {
    val p = plan("tp4_training_export")
    // the token census, the gates, the split — everything tp4 needs —
    // rode curationSignals' one scan INTO the staged manifest; the export
    // itself must never touch the corpus
    val scans = p.linesIterator.count(l =>
      l.contains("Location") && l.contains("documents.parquet"))
    assert(scans == 0, s"documents scanned $scans times in the export plan")
    // the |sources|-row repeat-factor table must broadcast into the kept set
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    assert(!p.contains("CartesianProduct"))
  }

  test("st11: events collapse to the daily census in ONE pass; the trend " +
    "window and seasonal join ride the materialized census, not events") {
    val p = plan("st11_seasonal_decompose")
    // the daily rollup is materialized; the detrended frame too — so the
    // downstream plan (window + seasonal agg + join) reads checkpoints,
    // and zero event scans survive
    val scans = p.linesIterator.count(l =>
      l.contains("Location") && l.contains("events.parquet"))
    assert(scans == 0, s"events scanned $scans times downstream of the census")
    // the trend window sits INSIDE the materialize boundary (it ran once,
    // against the daily census) — downstream there must be no Window at
    // all, just the broadcast of the 7-row seasonal table
    assert(!p.contains("Window"), "a window leaked past the census barrier")
    assert(p.contains("BroadcastHashJoin"), "7-row seasonal table must broadcast")
  }

  test("dq9: three keyed exchanges only — the (quasi, sensitive) distinct " +
    "pre-rollup, the quasi rollup, the bounded size census; no join, " +
    "no window") {
    val p = plan("dq9_k_anonymity")
    assert(!p.contains("Join") && !p.contains("Window"), p.take(600))
    val keyed = p.linesIterator.count(_.contains("Arguments: hashpartitioning"))
    assert(keyed <= 3, s"expected <=3 keyed exchanges, saw $keyed")
  }

  test("sp12: one rollup to strata rows; the total is a broadcast row; " +
    "no second corpus pass") {
    val p = plan("sp12_neyman")
    // the strata census is materialized — weight rows and the total both
    // ride it, so no orders scan survives in the downstream plan
    val scans = p.linesIterator.count(l =>
      l.contains("Location") && l.contains("orders.parquet"))
    assert(scans == 0, s"orders scanned $scans times")
    assert(!p.contains("CartesianProduct"))
    // exactly one Window — the largest-remainder rank over the |strata|-row
    // census (bounded), never a corpus-row window (formatted explain names
    // each node twice: tree + details)
    assert(p.split("\\bWindow\\b").length - 1 <= 2,
      "unexpected extra Window node beyond the strata-rank")
  }

  test("ix4: phrase windows are in-row (map-only corpus pass); the only " +
    "exchange is the phrase-bounded census") {
    val p = plan("ix4_phrase")
    assert(!p.contains("CartesianProduct") && !p.contains("Window"))
    // no posting-list self-join: the corpus is scanned once
    val scans = p.linesIterator.count(l =>
      l.contains("Location") && l.contains("documents.parquet"))
    assert(scans == 1, s"documents scanned $scans times")
  }
}
