package graft.queries

import graft.ops.{Dedup, TextAnalysis}

/** Text analysis + deduplication queries (SURVEY.md §2.9) over documents.
  * MinHash-LSH and SimHash hash with Dedup.seededHash (md5-derived 60-bit),
  * which DuckDB reproduces exactly — so even the randomized-algorithm
  * queries are hash-checked, with the band/bucket SQL generated from the
  * same parameters as the Spark plan.
  */
object TextOps extends QueryPack {

  /** Duplicate-clustering stage shared by dd_dup_clusters and
    * dd_survivors: the CC fixpoint dominates both queries' cost, so it is
    * computed once per SF and staged to parquet (the event-stream staging
    * convention: `_SUCCESS`-marked dir keyed by SF, reused verbatim on the
    * next call in this or any later process). The inputs are immutable
    * testdata, so the staged result can go stale only when the
    * pair-generation/clustering CODE changes — the stage tag lives next to
    * that code (Dedup.ClusterStageTag) and must be bumped with any such
    * change; Verify/Bench additionally wipe all stages at startup. */
  private[queries] def stagedClusters(s: org.apache.spark.sql.SparkSession,
                             dir: String): org.apache.spark.sql.DataFrame = {
    val staged = tmpStage(dir, graft.ops.Dedup.ClusterStageTag)
    ensureStaged(staged, "_SUCCESS") {
      val (canon, members) = stagedCanonPairs(s, dir)
      Dedup.duplicateClustersFromCanonical(canon, members)
        .write.mode("overwrite").parquet(staged)
    }
    readParquet(s, staged)
  }

  /** Near-dup pair stage in CANONICAL form — (canonical rep pairs,
    * exact-dup membership), the ngramJaccardCanonical(0.5) factorization
    * all six pair consumers share. Staging the factorization instead of
    * the expanded member-pair table is the round-12 scale fix: on a
    * duplicate-dense corpus the expanded table grows with the SQUARE of
    * group sizes (the f100 audit measured the old stage at decade
    * exponent 2.48 / 405.8 s), while the canonical build only ever feeds
    * distinct token sets to candidate generation; expansion is
    * output-bounded and deferred to the queries whose judged contract
    * actually demands member pairs. Tag: Dedup.PairStageTag (bumped with
    * any change to the factorization — see its scaladoc for the rule). */
  private[queries] def stagedCanonPairs(s: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val staged = tmpStage(dir, graft.ops.Dedup.PairStageTag)
    ensureStaged(staged, "members.parquet/_SUCCESS") {
      val (canon, members) = Dedup.ngramJaccardCanonical(
        table(s, dir, "documents"), threshold = 0.5)
      canon.write.mode("overwrite").parquet(s"$staged/canon.parquet")
      // members last: its _SUCCESS is the stage marker, so a crash between
      // the two writes re-runs both
      members.write.mode("overwrite").parquet(s"$staged/members.parquet")
    }
    (readParquet(s, s"$staged/canon.parquet"),
      readParquet(s, s"$staged/members.parquet"))
  }

  /** Quotient-graph stage shared by the three graph consumers
    * (gr1_pagerank, gr2_degree_hist, gr3_triangles): the quotient edge
    * list + participating membership derived once from the canonical pair
    * factorization (Graph.quotientFrames) and staged to parquet — before
    * this stage each consumer re-ran the membership restriction and the
    * two rep-joins per query (the stagedBpe train-once/apply-many
    * convention applied to the graph substrate). Tag:
    * Graph.QuotientStageTag. */
  private[queries] def stagedQuotient(s: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val staged = tmpStage(dir, graft.ops.Graph.QuotientStageTag)
    ensureStaged(staged, "members.parquet/_SUCCESS") {
      val (canon, membership) = stagedCanonPairs(s, dir)
      val (qfwd, members) = graft.ops.Graph.quotientFrames(canon, membership)
      qfwd.write.mode("overwrite").parquet(s"$staged/qfwd.parquet")
      // members last: its _SUCCESS is the stage marker (the
      // stagedCanonPairs crash-safety convention)
      members.write.mode("overwrite").parquet(s"$staged/members.parquet")
    }
    (readParquet(s, s"$staged/qfwd.parquet"),
      readParquet(s, s"$staged/members.parquet"))
  }

  /** The member-level pair table, lazily expanded from [[stagedCanonPairs]]
    * — kept for consumers whose CONTRACT is member pairs
    * (dd_ngram_jaccard). Graph/cluster consumers take the factorization
    * directly and never pay the expansion. */
  private[queries] def stagedPairs(s: org.apache.spark.sql.SparkSession,
                          dir: String): org.apache.spark.sql.DataFrame = {
    val (canon, members) = stagedCanonPairs(s, dir)
    Dedup.expandCanonicalPairs(canon, members)
  }

  /** BPE train stage — the 5-round merge loop runs once per SF; the
    * merge table and the trained vocabulary land side by side so the
    * merge-table query and the encode query both ride it (train once,
    * apply many — the shape a real tokenizer pipeline has anyway). */
  private[queries] def stagedBpe(s: org.apache.spark.sql.SparkSession,
                        dir: String): String = {
    val staged = tmpStage(dir, graft.ops.TextAnalysis.BpeStageTag)
    ensureStaged(staged, "vocab.parquet/_SUCCESS") {
      val (merges, vocab) =
        TextAnalysis.bpeTrainFrames(table(s, dir, "documents"), 5)
      merges.write.mode("overwrite").parquet(s"$staged/merges.parquet")
      vocab.write.mode("overwrite").parquet(s"$staged/vocab.parquet")
    }
    staged
  }

  /** DSIR importance-weight stage — the corpus-sized hashed n-gram pass
    * (two gram explodes + bucket score join) dominates BOTH consumers
    * (tx_dsir_weights, the audit view, and sp10_dsir_sample, the Gumbel
    * top-k selection) and is identical between them; a real data-mix
    * pipeline scores the corpus once and samples from the standing weight
    * table many times. Tag: TextAnalysis.DsirStageTag. */
  private[queries] def stagedDsir(s: org.apache.spark.sql.SparkSession,
                                  dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val staged = tmpStage(dir, TextAnalysis.DsirStageTag)
    ensureStaged(staged, "_SUCCESS") {
      TextAnalysis.dsirWeights(table(s, dir, "documents"),
          target = col("lang") === "en")
        .write.mode("overwrite").parquet(staged)
    }
    readParquet(s, staged)
  }

  /** MinHash signature stage shared by dd_minhash_lsh and
    * dd_minhash_verified — same convention as stagedClusters: the signature
    * build (shingle explode + md5 + 16-way min aggregation) dominates both
    * queries, is identical between them, and depends only on the immutable
    * corpus, so it is computed once per SF and staged to parquet. The stage
    * tag lives next to the signature code (Dedup.MinHashStageTag). */
  private[queries] def stagedMinHashSigs(s: org.apache.spark.sql.SparkSession,
                                dir: String): org.apache.spark.sql.DataFrame = {
    val staged = tmpStage(dir, graft.ops.Dedup.MinHashStageTag)
    ensureStaged(staged, "_SUCCESS") {
      Dedup.minHashSignatures(table(s, dir, "documents"))
        .write.mode("overwrite").parquet(staged)
    }
    readParquet(s, staged)
  }

  /** Per-doc duplicated-span arrays (ExactSubstr kernel, minLen=25) —
    * the stage shared by the audit (dd_exact_substr) and the transform
    * (dd_substr_redact): the corpus-wide gram sweep dominates both and is
    * identical between them. Tag: Dedup.SpanStageTag. */
  private[queries] def stagedSpanArrays(s: org.apache.spark.sql.SparkSession,
                               dir: String): org.apache.spark.sql.DataFrame = {
    val staged = tmpStage(dir, graft.ops.Dedup.SpanStageTag)
    ensureStaged(staged, "_SUCCESS") {
      Dedup.spanArrays(table(s, dir, "documents"), minLen = 25)
        .write.mode("overwrite").parquet(staged)
    }
    readParquet(s, staged)
  }

  /** Distinct (doc_id, gh) 4-gram hash table over the whole documents
    * corpus — the stage shared by all three decontamination queries
    * (dd_decontaminate, dd_bloom_decontaminate, dd_bloom_confirmed): the
    * gram explode + md5 dominates each of them and is identical across
    * them, so it is computed once per SF. Both the corpus (% 11 != 0) and
    * benchmark (% 11 = 0) slices are filters over this one table. Stage
    * tag lives next to the gram code (Dedup.GramStageTag). */
  private[queries] def stagedGramHashes(s: org.apache.spark.sql.SparkSession,
                               dir: String): org.apache.spark.sql.DataFrame = {
    val staged = tmpStage(dir, graft.ops.Dedup.GramStageTag)
    ensureStaged(staged, "_SUCCESS") {
      Dedup.gramHashes(table(s, dir, "documents"), Dedup.BloomGramLen).distinct()
        .write.mode("overwrite").parquet(staged)
    }
    readParquet(s, staged)
  }

  /** Bloom bitmap WORD TABLE for the benchmark slice, staged per SF — the
    * "build the filter once, screen every corpus slice with it" shape:
    * both Bloom queries collect the same <= 1024-row table instead of each
    * re-aggregating the benchmark grams. Tag: Dedup.BloomStageTag. */
  private[queries] def stagedBloomBitmap(s: org.apache.spark.sql.SparkSession,
                                dir: String): Array[Long] = {
    import org.apache.spark.sql.functions.col
    val staged = tmpStage(dir, graft.ops.Dedup.BloomStageTag)
    ensureStaged(staged, "_SUCCESS") {
      Dedup.bloomBitmapWords(
          stagedGramHashes(s, dir).filter(col("doc_id") % 11 === 0))
        .write.mode("overwrite").parquet(staged)
    }
    Dedup.bitmapFromWords(readParquet(s, staged))
  }

  /** Corpus band buckets staged as a BUCKETED table — the storage layout
    * incremental LSH documents for 100 TB: (doc_id, band, bh) rows written
    * `bucketBy(8, band, bh)` so the corpus arrives pre-partitioned on its
    * join key and never shuffles, even when the batch outgrows broadcast
    * and the join falls back to sort-merge (PlanSpec pins that shape).
    * Bucketed metadata lives in the session catalog; when the files
    * survive from an earlier process (the parquet stage convention) the
    * bucket spec is re-registered over them with CREATE TABLE ... CLUSTERED
    * BY ... LOCATION — bucket ids ride the file names, so the layout is
    * process-independent. */
  private[graft] def stagedCorpusBands(
      s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val loc = tmpStage(dir, graft.ops.Dedup.BandStageTag)
    val tbl = ("graft_corpus_bands" + dir.replaceAll("[^A-Za-z0-9]", "_"))
      .toLowerCase
    if (!s.catalog.tableExists(tbl)) {
      if (java.nio.file.Files.exists(
          java.nio.file.Paths.get(s"$loc/_SUCCESS"))) {
        val schema = readParquet(s, loc).schema.toDDL
        s.sql(s"CREATE TABLE $tbl ($schema) USING PARQUET " +
          "CLUSTERED BY (band, bh) SORTED BY (band, bh) INTO 8 BUCKETS " +
          s"LOCATION '$loc'")
        graft.queries.logStage(loc, false)
      } else {
        Dedup.bandBuckets(
            stagedMinHashSigs(s, dir).filter(col("doc_id") % 5 =!= 0))
          .write.mode("overwrite")
          .bucketBy(8, "band", "bh").sortBy("band", "bh")
          .option("path", loc).saveAsTable(tbl)
        graft.queries.logStage(loc, true)
      }
    } else graft.queries.logStage(loc, false)
    s.table(tbl)
  }

  /** DuckDB twin of Dedup.seededHash. */
  private def mh(seed: Int, v: String): String =
    s"CAST(('0x' || substr(md5($seed || ':' || $v), 1, 15)) AS BIGINT)"

  /** Shared shingle/token CTEs (3-gram shingles, index-exploded like the
    * Spark side; short docs collapse to one whole-doc shingle). */
  private val shingleCtes =
    """t AS (
      |  SELECT doc_id,
      |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
      |  FROM documents),
      |lng AS (
      |  SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i
      |  FROM t WHERE len(toks) >= 3),
      |sh AS (
      |  SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS s FROM lng
      |  UNION ALL
      |  SELECT doc_id, array_to_string(toks, ' ') FROM t WHERE len(toks) < 3)""".stripMargin

  /** DuckDB twin of Dedup.minHashSignatures' affine family: one md5 base
    * hash split into 30-bit halves, hᵢ = (aᵢ·hi + bᵢ·lo + cᵢ) mod 2⁶¹−1 —
    * all operands < 2⁶¹, exact BIGINT math in both engines. */
  private val sigCtes: String = {
    val minAggs = (0 until 16).map { i =>
      val (a, b, c) = (graft.ops.Dedup.minHashA(i), graft.ops.Dedup.minHashB(i),
        graft.ops.Dedup.minHashC(i))
      s"min(($a*hhi + $b*hlo + $c) % ${graft.ops.Dedup.MinHashP}) AS h$i"
    }.mkString(", ")
    s"""$shingleCtes,
      |hashed AS (
      |  SELECT doc_id, ${mh(0, "s")} >> 30 AS hhi,
      |    ${mh(0, "s")} & 1073741823 AS hlo
      |  FROM sh),
      |sig AS (SELECT doc_id, $minAggs FROM hashed GROUP BY doc_id)""".stripMargin
  }

  private val minhashOracle: String = {
    val bandSelects = (0 until 4).map { b =>
      val bh = (0 until 4).map(r => s"h${b * 4 + r}").mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, $bh AS bh FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH $sigCtes,
      |banded AS (
      |  $bandSelects)
      |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |FROM banded a JOIN banded b
      |  ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
      |ORDER BY doc_a, doc_b""".stripMargin
  }

  private val minhashVerifiedOracle: String = {
    val bandSelects = (0 until 4).map { b =>
      val bh = (0 until 4).map(r => s"h${b * 4 + r}").mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, $bh AS bh FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    val agree = (0 until 16)
      .map(i => s"(CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH $sigCtes,
      |banded AS (
      |  $bandSelects),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM banded a JOIN banded b
      |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b,
      |  round(CAST($agree AS DOUBLE) / 16, 6) AS est_jaccard
      |FROM cand
      |JOIN sig sa ON cand.doc_a = sa.doc_id
      |JOIN sig sb ON cand.doc_b = sb.doc_id
      |WHERE round(CAST($agree AS DOUBLE) / 16, 6) >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Estimate-vs-exact audit: the verified oracle's candidate + agreement
    * CTEs, joined to the exact distinct-shingle Jaccard (same shingleCtes,
    * deduplicated — the signature min is dup-insensitive but the Jaccard
    * denominator needs true set sizes). */
  private val minhashEstOracle: String = {
    val bandSelects = (0 until 4).map { b =>
      val bh = (0 until 4).map(r => s"h${b * 4 + r}").mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, $bh AS bh FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    val agree = (0 until 16)
      .map(i => s"(CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH $sigCtes,
      |banded AS (
      |  $bandSelects),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM banded a JOIN banded b
      |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
      |est AS (
      |  SELECT doc_a, doc_b, round(CAST($agree AS DOUBLE) / 16, 6) AS est_jaccard
      |  FROM cand
      |  JOIN sig sa ON cand.doc_a = sa.doc_id
      |  JOIN sig sb ON cand.doc_b = sb.doc_id),
      |shd AS (SELECT DISTINCT doc_id, s FROM sh),
      |sz AS (SELECT doc_id, count(*) AS ns FROM shd GROUP BY doc_id),
      |shr AS (
      |  SELECT c.doc_a, c.doc_b, count(*) AS n_shared
      |  FROM cand c
      |  JOIN shd x ON x.doc_id = c.doc_a
      |  JOIN shd y ON y.doc_id = c.doc_b AND y.s = x.s
      |  GROUP BY 1, 2),
      |ex AS (
      |  SELECT e.doc_a, e.doc_b, e.est_jaccard,
      |    round(CAST(coalesce(r.n_shared, 0) AS DOUBLE) /
      |      (za.ns + zb.ns - coalesce(r.n_shared, 0)), 6) AS exact_jaccard
      |  FROM est e
      |  LEFT JOIN shr r ON e.doc_a = r.doc_a AND e.doc_b = r.doc_b
      |  JOIN sz za ON za.doc_id = e.doc_a
      |  JOIN sz zb ON zb.doc_id = e.doc_b)
      |SELECT doc_a, doc_b, est_jaccard, exact_jaccard,
      |  round(abs(est_jaccard - exact_jaccard), 6) AS abs_err
      |FROM ex ORDER BY doc_a, doc_b""".stripMargin
  }

  private val simhashOracle: String = {
    val bits = graft.ops.Dedup.SimHashBits
    val votes = (0 until bits)
      .map(j => s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS v$j")
      .mkString(", ")
    val fp = (0 until bits)
      .map(j => s"(CASE WHEN v$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END)")
      .mkString(" + ")
    val bandSelects = (0 until 4).map { b =>
      s"SELECT doc_id, simhash, $b AS band, (simhash >> ${b * 15}) & 32767 AS bh FROM sigs"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH t AS (
      |  SELECT doc_id,
      |    string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
      |  FROM documents),
      |tok AS (SELECT doc_id, unnest(list_distinct(toks)) AS tok FROM t),
      |hashed AS (SELECT doc_id, ${mh(0, "tok")} AS h FROM tok),
      |v AS (SELECT doc_id, $votes FROM hashed GROUP BY doc_id),
      |sigs AS (SELECT doc_id, $fp AS simhash FROM v),
      |banded AS (
      |  $bandSelects)
      |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
      |FROM banded a JOIN banded b
      |  ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
      |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Banded-signature oracle for the batch-vs-corpus join: the same sigCtes
    * as dd_minhash_lsh, split by the doc_id % 5 batch rule instead of
    * self-joined — band/bh arithmetic is BIGINT-exact in both engines. */
  private val incrementalLshOracle: String = {
    val bandSelects = (0 until 4).map { b =>
      val bh = (0 until 4).map(r => s"h${b * 4 + r}").mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, $bh AS bh FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH $sigCtes,
      |banded AS (
      |  $bandSelects),
      |m AS (
      |  SELECT DISTINCT a.doc_id AS new_doc, c.doc_id AS dup_of
      |  FROM banded a JOIN banded c ON a.band = c.band AND a.bh = c.bh
      |  WHERE a.doc_id % 5 = 0 AND c.doc_id % 5 != 0)
      |SELECT new_doc, count(*) AS n_matches, min(dup_of) AS first_match
      |FROM m GROUP BY new_doc ORDER BY new_doc""".stripMargin
  }

  /** Leakage twin: the same banded CTEs, split by sp4's seed-41 boundary
    * and confirmed by the minhashVerified agreement rule. */
  private val splitLeakageOracle: String = {
    val bandSelects = (0 until 4).map { b =>
      val bh = (0 until 4).map(r => s"h${b * 4 + r}").mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, $bh AS bh FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    val agree = (0 until 16)
      .map(i => s"(CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    val evalSide = s"${mh(41, "CAST(a.doc_id AS VARCHAR)")} % 10000 >= 9800"
    val trainSide = s"${mh(41, "CAST(c.doc_id AS VARCHAR)")} % 10000 < 9800"
    s"""WITH $sigCtes,
      |banded AS (
      |  $bandSelects),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS eval_doc, c.doc_id AS train_doc
      |  FROM banded a JOIN banded c ON a.band = c.band AND a.bh = c.bh
      |  WHERE $evalSide AND $trainSide),
      |v AS (
      |  SELECT eval_doc, train_doc,
      |    round(CAST(($agree) AS DOUBLE) / 16, 6) AS est
      |  FROM cand JOIN sig sa ON cand.eval_doc = sa.doc_id
      |            JOIN sig sb ON cand.train_doc = sb.doc_id)
      |SELECT eval_doc, count(*) AS n_leaks, max(est) AS max_est,
      |  min(train_doc) AS first_leak
      |FROM v WHERE est >= 0.5
      |GROUP BY eval_doc ORDER BY eval_doc""".stripMargin
  }

  /** Shared 4-gram-hash CTEs of the decontamination queries (seed 23, the
    * same normalize/split/slice shape as Dedup.gramHashes), ending with
    * `d` (distinct corpus (doc_id, gh)) and `b` (distinct benchmark gh).
    * Name-parameterized so the manifest oracle (whose WITH list already
    * holds the cluster CTEs' `t`/`b`) can ride the identical arithmetic
    * under clash-free names — one text, zero drift. */
  private def gramCtesNamed(t: String, g: String, d: String,
                            b: String): String =
    s"""$t AS (
      |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
      |  FROM documents),
      |$g AS (
      |  SELECT doc_id, ${mh(23, "array_to_string(toks[i:i+3], ' ')")} AS gh
      |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 2)) AS i
      |        FROM $t WHERE len(toks) >= 4) z),
      |$d AS (SELECT DISTINCT doc_id, gh FROM $g WHERE doc_id % 11 != 0),
      |$b AS (SELECT DISTINCT gh FROM $g WHERE doc_id % 11 = 0)""".stripMargin

  private val gramCtes: String = gramCtesNamed("t", "g", "d", "b")

  // 4-gram hash overlap vs the doc_id % 11 = 0 benchmark slice. Also the
  // oracle of dd_bloom_confirmed: Bloom probes admit false positives but
  // never false negatives, so bitmap-prefilter + exact-confirm returns
  // exactly the exact join's rows.
  private val decontaminateOracle: String =
    s"""WITH $gramCtes
      |SELECT d.doc_id, count(*) AS n_shared
      |FROM d JOIN b ON d.gh = b.gh
      |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin

  /** Bloom twin: a probe hits iff ALL THREE positions (disjoint 16-bit
    * slices of the 60-bit gram hash, mod 2¹⁶ — identical arithmetic to
    * Dedup.bloomHit) are set in the bitmap, and a bit is
    * set iff SOME benchmark gram produced that position — so bit membership
    * IS membership in the distinct benchmark position set, and the oracle
    * needs no word packing (DuckDB BIGINT `1 << 63` overflows; set
    * semantics sidestep shift parity entirely). */
  private val bloomOracle: String =
    s"""WITH $gramCtes,
      |bpos AS (
      |  SELECT DISTINCT pos FROM (
      |    SELECT unnest([gh % 65536, (gh >> 16) % 65536, (gh >> 32) % 65536]) AS pos
      |    FROM b) z),
      |dp AS (
      |  SELECT doc_id, gh,
      |    unnest([gh % 65536, (gh >> 16) % 65536, (gh >> 32) % 65536]) AS pos
      |  FROM d),
      |ph AS (
      |  SELECT dp.doc_id, dp.gh, bool_and(bpos.pos IS NOT NULL) AS hit
      |  FROM dp LEFT JOIN bpos ON dp.pos = bpos.pos
      |  GROUP BY dp.doc_id, dp.gh)
      |SELECT doc_id, count(*) AS n_grams,
      |  CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
      |  (sum(CASE WHEN hit THEN 1 ELSE 0 END) > 0) AS contaminated
      |FROM ph GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Shared recursive-closure cluster CTEs (same edge set as
    * dd_ngram_jaccard; min-reachable-id labeling is a unique fixpoint, so
    * the iterative Spark contraction and the SQL closure agree exactly).
    * Ends with `lab(id, cluster_id)`. */
  private val clusterCtes: String =
    """t AS (
      |  SELECT doc_id, lang,
      |    list_distinct(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS toks,
      |    CAST(len(string_split_regex(text, '\s+')) // 10 AS BIGINT) AS bucket
      |  FROM documents),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM t a JOIN t b
      |    ON a.lang = b.lang AND a.bucket = b.bucket AND a.doc_id < b.doc_id
      |  WHERE round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
      |        (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))), 6) >= 0.5),
      |edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM pairs
      |  UNION SELECT doc_b, doc_a FROM pairs),
      |reach AS (
      |  SELECT src AS id, src AS r FROM edges
      |  UNION
      |  SELECT e.src, x.r FROM edges e JOIN reach x ON x.id = e.dst),
      |lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)""".stripMargin

  /** Shared per-doc quality CTEs (the tx_quality composite), ending with
    * `q(doc_id, quality)`. */
  private def qualityCtes: String =
    s"""qd AS (
      |  SELECT doc_id, string_split_regex(text, '\\s+') AS qtoks
      |  FROM documents),
      |qm AS (
      |  SELECT doc_id, CAST(len(qtoks) AS BIGINT) AS n_tokens,
      |    round(CAST(len(list_filter(qtoks, x -> x IN ($stop))) AS DOUBLE) / len(qtoks), 6) AS stopword_ratio
      |  FROM qd),
      |q AS (
      |  SELECT doc_id,
      |    round(least(stopword_ratio * 4.0, 1.0) * 0.5 +
      |          least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.5, 6) AS quality
      |  FROM qm)""".stripMargin

  /** The bloom-prefiltered + exactly-confirmed contamination table
    * (doc_id, n_shared) — shared by the judged dd_bloom_confirmed row and
    * the curation manifest, so the gate the manifest applies IS the gate
    * the standalone query proves. */
  private def bloomConfirmed(s: org.apache.spark.sql.SparkSession,
                             dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val g = stagedGramHashes(s, dir)
    val corpus = g.filter(col("doc_id") % 11 =!= 0)
    val flagged = Dedup.bloomProbe(corpus, stagedBloomBitmap(s, dir))
      .filter(col("contaminated")).select(col("doc_id"))
    Dedup.decontaminateFromGrams(
      corpus.join(broadcast(flagged), "doc_id"),
      g.filter(col("doc_id") % 11 === 0))
  }

  /** The composed curation-manifest derivation (tp3's body): per document,
    * keep/drop + the FIRST gate that cut it (exact_dup via the canonical
    * token-set groups > near_dup via the staged cluster survivors >
    * contaminated via the bloom-confirmed probe > low_quality via the
    * Gopher gate), plus the sp5 source mixture weight, the sp4
    * train/val/test split, and the token count (the packing input — free
    * on the same scan). Composition, not recomputation: the dedup stages
    * arrive as staged parquet (stage:pairs' membership, stage:clusters,
    * stage:grams/bloom), and ALL per-doc signals ride ONE corpus scan
    * (TextAnalysis.curationSignals + the map-only hash split),
    * checkpointed so the source-count normalizer and every gate join
    * downstream touch the corpus ZERO further times (PlanSpec pins no
    * documents scan downstream of the base). Null-source docs keep a null
    * weight (no mixture stratum), and a doc whose quality gate cannot
    * evaluate (null text) is cut as low_quality — a curation run drops
    * what it cannot score. Exposed (rather than inlined in the stage
    * builder) so PlanSpec pins the derivation's plan directly. */
  private[graft] def manifestFrame(s: org.apache.spark.sql.SparkSession,
                                   dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val docs = table(s, dir, "documents")
    val base = Dedup.materialize(
      graft.ops.Sampling.hashSplit(
        TextAnalysis.curationSignals(docs, carry = Seq("source"),
          carryTokens = true),
        idCol = "doc_id"))
    val members = stagedCanonPairs(s, dir)._2
    val surv = Dedup.survivors(stagedClusters(s, dir),
      base.select(col("doc_id"), col("quality")))
    val contam = bloomConfirmed(s, dir)
      .select(col("doc_id"), lit(true).as("is_contam"))
    val w = graft.ops.Sampling.temperatureWeights(base, strataCol = "source")
      .select(col("source"), col("weight"))
    val reason = when(col("rep") =!= col("doc_id"), "exact_dup")
      .when(col("survivor_id").isNotNull &&
        col("survivor_id") =!= col("doc_id"), "near_dup")
      .when(col("is_contam").isNotNull, "contaminated")
      .when(!coalesce(col("keep"), lit(false)), "low_quality")
      .otherwise("keep")
    base
      .join(members.select(col("doc_id"), col("rep")), "doc_id")
      .join(surv.select(col("doc_id"), col("survivor_id")),
        Seq("doc_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .withColumn("reason", reason)
      .join(broadcast(w), Seq("source"), "left")
      .select(col("doc_id"), (col("reason") === "keep").as("keep"),
        col("reason"), col("source"), col("subset"), col("weight"),
        col("n_tokens"))
  }

  /** Curation-manifest stage — the lifecycle's terminal per-doc artifact,
    * built once per SF (the stagedClusters convention) so its consumers
    * (tp3's judged projection, tp4's packed export) ride parquet instead
    * of re-paying the gate composition. */
  private[queries] def stagedManifest(s: org.apache.spark.sql.SparkSession,
                                      dir: String): org.apache.spark.sql.DataFrame = {
    val staged = tmpStage(dir, "manifest_v1")
    ensureStaged(staged, "_SUCCESS") {
      manifestFrame(s, dir).write.mode("overwrite").parquet(staged)
    }
    readParquet(s, staged)
  }

  val queries: Map[String, QFn] = Map(
    "tx_token_stats" -> ((s, dir) => TextAnalysis.tokenStats(table(s, dir, "documents"))),
    "tx_quality"     -> ((s, dir) => TextAnalysis.qualityScore(table(s, dir, "documents"))),
    "tx_langid"      -> ((s, dir) => TextAnalysis.languageId(table(s, dir, "documents"))),
    "tx_fingerprint" -> ((s, dir) => TextAnalysis.fingerprint(table(s, dir, "documents"))),

    "dd_exact"         -> ((s, dir) => Dedup.exact(table(s, dir, "documents"))),
    // Exact dedup ONLINE: the same fingerprint aggregation as dd_exact but
    // run as a streaming aggregation over the document stream (file source,
    // one file per micro-batch) and drained in complete mode — min/count
    // are order-insensitive, so the drained table equals the batch result
    // no matter how the corpus is batched. State is one row per distinct
    // fingerprint; a 100 TB ingest would run update mode + downstream
    // upsert instead of complete, with identical per-key semantics.
    "dd_stream_dedup" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import graft.streaming.StreamOps
      val sf = dir.replaceAll("[^A-Za-z0-9.]", "_")
      val stream = StreamOps.readEventStream(s, StreamStage.docStream(s, dir))
      val agg = stream.groupBy(md5(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      StreamOps.drain(Seq((agg,
        s"dd_stream_dedup$sf".replace(".", "_"), StreamOps.Memory("complete"))),
        shufflePartitions = Some(8)).head
        .orderBy(col("keep_id"))
    }),
    // The 100 TB posture dd_stream_dedup's own comment names, judged: the
    // dedup gate keyed on (ingestion epoch, fingerprint) in APPEND mode,
    // where the watermark EVICTS an epoch's fingerprint state once it can
    // no longer receive arrivals — state is bounded by the dedup horizon
    // (watermark + epoch width), never the corpus, which is the only way a
    // fingerprint ingest gate survives unbounded input. Epochs come from a
    // deterministic synthetic ingest clock (StreamStage.docBatches: one doc
    // per minute, time-ordered micro-batches, flush sentinel) so the full
    // drain equals a plain batch GROUP BY (epoch, fp) — duplicates in
    // DIFFERENT epochs are deliberately counted per epoch: that is the
    // horizon contract, exact global dedup stays dd_stream_dedup/upsert's
    // job. The flush row's own window is never passed by the watermark and
    // is structurally absent; the keep_id filter is defensive. The
    // eviction itself is pinned in StreamingSpec via per-batch state-store
    // row counts (bounded, vs complete mode's full-key-space growth).
    "dd_stream_dedup_evict" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import graft.streaming.StreamOps
      val sf = dir.replaceAll("[^A-Za-z0-9.]", "_")
      val stream = StreamOps.readEventStream(s, StreamStage.docBatches(s, dir))
      val agg = stream
        .withWatermark("ingest_ts", "45 minutes")
        .groupBy(window(col("ingest_ts"), "60 minutes"),
          md5(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .select(col("window.start").as("win_start"), col("fp"),
          col("keep_id"), col("n_copies"))
      StreamOps.drain(Seq((agg,
        s"dd_stream_evict$sf".replace(".", "_"), StreamOps.Memory("append"))),
        shufflePartitions = Some(8)).head
        .filter(col("keep_id") >= 0)
        .withColumn("win_start", col("win_start").cast("timestamp_ntz"))
        .orderBy(col("keep_id"))
    }),
    "dd_ngram_jaccard" -> ((s, dir) =>
      // rides the shared pair stage; re-sorted because parquet round-trip
      // drops the range-partitioned order
      stagedPairs(s, dir).orderBy("doc_a", "doc_b")),
    // The canonical factorization AS a judged artifact: exact-dup
    // token-set membership (doc_id, rep = group min, r = group size) —
    // the table every pair/cluster/graph consumer rides, and the first
    // thing a 100 TB dedup pipeline materializes (collapse exact dups
    // BEFORE any quadratic-in-co-membership work). Group key is
    // (lang, raw-token bucket, sha2-256 of the sorted distinct token set);
    // null-lang / null-text docs stay singletons by construction.
    "dd_canon_groups" -> ((s, dir) =>
      stagedCanonPairs(s, dir)._2
        .orderBy(org.apache.spark.sql.functions.col("doc_id"))),
    "dd_minhash_lsh"   -> ((s, dir) =>
      Dedup.minHashPairsFromSignatures(stagedMinHashSigs(s, dir))),
    "dd_minhash_verified" -> ((s, dir) =>
      Dedup.minHashVerifiedFromSignatures(stagedMinHashSigs(s, dir),
        minEst = 0.5)),
    // Approximation audit: estimate vs exact Jaccard (+abs error) for
    // every LSH candidate — run before trusting a (hashes, bands) config.
    "dd_minhash_est" -> ((s, dir) =>
      Dedup.minHashEstQuality(table(s, dir, "documents"),
        stagedMinHashSigs(s, dir))),
    "dd_simhash"       -> ((s, dir) => Dedup.simHash(table(s, dir, "documents"))),
    "dd_dup_clusters"  -> ((s, dir) => stagedClusters(s, dir)
      .orderBy(org.apache.spark.sql.functions.col("doc_id"))),
    "dd_edit_distance" -> ((s, dir) =>
      Dedup.editDistance(table(s, dir, "documents"), maxDist = 10)),
    // Cluster -> survivor: keep the best-quality member per duplicate
    // cluster (map-side packed argmax, no per-cluster window). Shares the
    // staged clustering with dd_dup_clusters rather than re-running the
    // ~equal-cost CC fixpoint from scratch.
    "dd_survivors" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      Dedup.survivors(
        stagedClusters(s, dir),
        TextAnalysis.qualityScore(docs)
          .select(org.apache.spark.sql.functions.col("doc_id"),
            org.apache.spark.sql.functions.col("quality")))
    }),
    // TF-IDF: top-3 terms per document, ranked on the 6-dp-rounded score.
    "tx_tfidf" -> ((s, dir) =>
      TextAnalysis.tfIdf(table(s, dir, "documents"))),
    // Quantile-threshold filter: documents STRICTLY above their language's
    // median quality (corpus curation cut). The cut point is the LOWER
    // median — an actual data element (the ⌈n/2⌉-th smallest quality),
    // selected by integer rank — not an interpolated percentile: the
    // midpoint of two adjacent 6-dp values can land on an exact …5
    // boundary that Spark's round() (decimal HALF_UP) and DuckDB's
    // (binary-double) resolve differently, a data-dependent parity flake.
    // Rank selection involves no arithmetic on quality at all, so the
    // comparison is between two identically-computed doubles in both
    // engines. (At 100 TB the per-lang rank pass becomes a skewed sort —
    // a production cut swaps in approx_percentile, whose t-digest sketch
    // is mergeable map-side; exact rank is kept here for the oracle.)
    "tx_quality_filter" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val docs = table(s, dir, "documents")
      val q = TextAnalysis.qualityScore(docs).select(col("doc_id"), col("quality"))
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      val wl = Window.partitionBy(col("lang"))
      val med = q
        .withColumn("rn", row_number().over(wl.orderBy(col("quality"))))
        .withColumn("n", count(lit(1)).over(wl))
        .filter(col("rn") === expr("(n + 1) div 2"))
        .select(col("lang"), col("quality").as("med"))
      q.join(broadcast(med), "lang")
        .filter(col("quality") > col("med"))
        .select(col("doc_id"), col("lang"), col("quality"), col("med"))
        .orderBy(col("doc_id"))
    }),
    // Deterministic stratified sampling: hash-bucketed per-language rates,
    // a pure map-side filter (reproducible across runs and engines).
    "sp1_stratified" -> ((s, dir) =>
      graft.ops.Sampling.stratifiedByHash(table(s, dir, "documents"),
        strataCol = "lang", idCol = "doc_id",
        rates = Map("en" -> 0.25, "zh" -> 0.6), defaultRate = 0.8)
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("lang"))
        .orderBy(org.apache.spark.sql.functions.col("doc_id"))),
    // Gopher/C4-style repetition signals (boilerplate detectors).
    "tx_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionStats(table(s, dir, "documents"))),
    // Benchmark decontamination: corpus docs sharing any 4-gram with the
    // held-out benchmark slice (doc_id % 11 == 0 stands in for an eval
    // set). Gram hashes come from the shared staged table — the explode +
    // md5 is paid once per SF across all three decontamination queries.
    "dd_decontaminate" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val g = stagedGramHashes(s, dir)
      Dedup.decontaminateFromGrams(g.filter(col("doc_id") % 11 =!= 0),
        g.filter(col("doc_id") % 11 === 0))
    }),
    // Same benchmark slice through the BLOOM path: the benchmark grams
    // compress to a broadcast bitmap and the corpus probes it map-side —
    // zero shuffle of either side until the per-doc count. Over the shared
    // gram stage its marginal cost is exactly the operator's promise: one
    // bounded bitmap build plus a map-side probe.
    "dd_bloom_decontaminate" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      Dedup.bloomProbe(
        stagedGramHashes(s, dir).filter(col("doc_id") % 11 =!= 0),
        stagedBloomBitmap(s, dir))
    }),
    // The composition the Bloom doc promises: the bitmap's conservative
    // superset (no false negatives) prefilters the corpus, the exact join
    // confirms — so the result EQUALS dd_decontaminate (same oracle SQL),
    // while at 100 TB only flagged docs' grams ever reach the exact join.
    "dd_bloom_confirmed" -> ((s, dir) => bloomConfirmed(s, dir)),
    // Ingestion-time dedup: the doc_id % 5 = 0 slice plays the incoming
    // batch, the rest the indexed corpus; signatures come from the shared
    // staged table, the corpus bands from the BUCKETED band table (the
    // on-disk layout the operator documents), and the batch's band buckets
    // broadcast — the corpus is never shuffled, never self-joined.
    "dd_incremental_lsh" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val sigs = stagedMinHashSigs(s, dir)
      Dedup.incrementalLshFromBuckets(sigs.filter(col("doc_id") % 5 === 0),
        stagedCorpusBands(s, dir))
    }),
    // The same ingest gate AS A STREAM — the posture a 100 TB pipeline
    // actually runs it in (new documents are gated at arrival, not by a
    // nightly batch-vs-corpus join). The incoming slice arrives one file
    // per micro-batch; signatures + band keys are MAP-ONLY per document
    // (Dedup.minHashSignaturesMapOnly — higher-order functions, no
    // explode, no state), each micro-batch stream-static joins the
    // standing bucketed corpus band table, and the single stateful
    // operator is the per-doc match rollup (collect_set dedups band
    // collisions exactly like the batch DISTINCT). Drained result equals
    // dd_incremental_lsh row for row — same oracle SQL, the
    // dd_bloom_confirmed proven-equal convention.
    "dd_stream_neardup" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import graft.streaming.StreamOps
      val sf = dir.replaceAll("[^A-Za-z0-9.]", "_")
      val staged = StreamStage.docStream(s, dir)
      val corpus = stagedCorpusBands(s, dir)
      val stream = StreamOps.readEventStream(s, staged)
        .filter(col("doc_id") % 5 === 0)
      val bands = Dedup.bandBuckets(Dedup.minHashSignaturesMapOnly(stream))
        .select(col("doc_id").as("new_doc"), col("band"), col("bh"))
      val matches = bands.join(corpus, Seq("band", "bh"))
        .select(col("new_doc"), col("doc_id").as("dup_of"))
      val agg = matches.groupBy(col("new_doc"))
        .agg(collect_set(col("dup_of")).as("ms"))
      StreamOps.drain(Seq((agg,
        s"dd_stream_neardup$sf".replace(".", "_"), StreamOps.Memory("complete"))),
        shufflePartitions = Some(8)).head
        .select(col("new_doc"), size(col("ms")).cast("long").as("n_matches"),
          array_min(col("ms")).as("first_match"))
        .orderBy(col("new_doc"))
    }),
    // Split-leakage audit: sp4's seed-41 98/1/1 boundary, eval side's band
    // buckets broadcast against the train side (signatures from the shared
    // staged table — split for free), confirmed by full-signature
    // agreement — eval contamination that exact decontamination misses.
    "dd_split_leakage" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val sigs = stagedMinHashSigs(s, dir)
      val b = graft.ops.Sampling.bucket(col("doc_id"), seed = 41)
      Dedup.splitLeakage(sigs.filter(b >= 9800), sigs.filter(b < 9800))
    }),
    // Classifier evaluation: the language-ID confusion matrix against the
    // labeled lang column — the harness that tells you the n-gram
    // heuristic's per-language error surface before you trust it to
    // route a corpus. |langs|² output regardless of corpus size.
    "tx_lang_confusion" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val pred = TextAnalysis.languageId(table(s, dir, "documents"))
        .select(col("doc_id"), col("pred_lang"))
      table(s, dir, "documents").select(col("doc_id"), col("lang"))
        .join(pred, "doc_id")
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("pred_lang"))
    }),
    // Phrase census: top-10 bigrams per language by frequency — the
    // vocabulary audit a tokenizer build starts from. The top-k cut runs
    // over the vocab-sized count table, never corpus rows.
    "tx_ngram_freq" -> ((s, dir) =>
      TextAnalysis.ngramFreq(table(s, dir, "documents"))),
    // Per-cluster curation dashboard: size, quality spread, source
    // diversity for every duplicate cluster — the review cut before
    // survivor selection drops data. Shares the staged clustering; the
    // marginal cost is two doc-keyed joins and a |clusters|-row rollup.
    "dd_cluster_stats" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val docs = table(s, dir, "documents")
      val q = TextAnalysis.qualityScore(docs)
        .select(col("doc_id"), col("quality"))
      stagedClusters(s, dir).select(col("doc_id"), col("cluster_id"))
        .join(q, "doc_id")
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("quality")).as("min_q"), max(col("quality")).as("max_q"),
          davg(col("quality")).as("avg_q"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy(col("cluster_id"))
    }),
    // Doc-in-doc containment (|shared| / min(|G_a|,|G_b|)) over the shared
    // staged gram table — the asymmetric-size near-dup cut Jaccard blocking
    // can't see; stop-grams (df > 64) and singletons cut before pairing.
    // Canonical classes for the containment fan-out come from a MAP-SIDE
    // text fingerprint over the same normalize-lower stream gramHashes
    // tokenizes (text-identical ⟹ gram-set-identical — sound; the token-
    // SET canon groups are not, word order moves grams): one map-only
    // documents pass + a |docs|-row window, so a replica flood collapses
    // to one gram profile per class before the hash self-join for free.
    // Null-text docs key on their own id (no grams, no pairs — the
    // grouping is irrelevant, the solo key just keeps fp non-null).
    "dd_containment" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val fp = when(col("text").isNull,
          concat(lit("solo:"), col("doc_id").cast("string")))
        .otherwise(sha2(graft.etl.functions.normalizeText(lower(col("text"))), 256))
      val wf = Window.partitionBy(col("fp"))
      val members = table(s, dir, "documents")
        .select(col("doc_id"), fp.as("fp"))
        .select(col("doc_id"),
          min(col("doc_id")).over(wf).as("rep"),
          count(lit(1)).over(wf).as("r"))
      Dedup.gramContainment(stagedGramHashes(s, dir), members, maxDf = 64,
        threshold = 0.6)
    }),
    // Temperature-scaled (α = 0.5) source mixture weights + integer quotas
    // against a 10k-document budget — the multilingual rebalancing rule.
    "sp5_temperature" -> ((s, dir) =>
      graft.ops.Sampling.temperatureWeights(table(s, dir, "documents"),
        strataCol = "source", budget = 10000L)),
    // Epoch/repeat-factor mixing against a 500k-token budget: the
    // oversampling side of the recipe — at sf0.01 every source caps at
    // maxEpochs (data-constrained), at sf0.1 the same budget lands the
    // uncapped repeat regime.
    "sp8_repeat_factors" -> ((s, dir) =>
      graft.ops.Sampling.repeatFactors(table(s, dir, "documents"),
        strataCol = "source", tokenBudget = 500000L)),
    // Materialized temperature mix: the sp5 quotas applied — exactly
    // min(quota, |source|) docs kept per source by the deterministic
    // reservoir rule.
    "sp6_quota_sample" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      graft.ops.Sampling.temperatureSample(table(s, dir, "documents"),
        strataCol = "source", idCol = "doc_id", budget = 200L)
        .select(col("doc_id"), col("source"), col("rk"), col("quota"))
        .orderBy(col("doc_id"))
    }),
    // Quality-weighted sampling: P(keep) = quality/2, decided by an
    // exact-integer rule — the 6-dp quality score scales to an integer
    // (round(q·10⁶) is exact) and the doc's seeded hash mod 2·10⁶
    // compares against it, so inclusion is deterministic, proportional
    // to the score, and engine-reproducible. Pure map-side filter: the
    // quality pass is per-row, no shuffle anywhere.
    "sp7_weighted" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      TextAnalysis.qualityScore(table(s, dir, "documents"))
        .select(col("doc_id"), col("quality"))
        .filter(Dedup.seededHash(53, col("doc_id").cast("string")) % 2000000L
          < round(col("quality") * 1000000.0, 0).cast("long"))
        .orderBy(col("doc_id"))
    }),
    // Decontamination AT INGEST: the benchmark bitmap broadcasts into the
    // stream and each arriving document probes it entirely WITHIN ITS OWN
    // ROW (bloomProbeInRow: distinct gram hashes + bit tests as
    // higher-order functions) — a stateless map-side projection with no
    // shuffle, no state store, and no per-micro-batch state commit; the
    // sink carries one row per document. This is the
    // screen-before-you-store shape a 100 TB ingest runs. Must equal the
    // batch Bloom probe exactly (same oracle) no matter how the corpus
    // was micro-batched.
    "dd_stream_decontaminate" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import graft.streaming.StreamOps
      val sf = dir.replaceAll("[^A-Za-z0-9.]", "_")
      val staged = StreamStage.docStream(s, dir)
      val bm = stagedBloomBitmap(s, dir)
      val stream = StreamOps.readEventStream(s, staged)
        .filter(col("doc_id") % 11 =!= 0)
      StreamOps.drain(Seq((Dedup.bloomProbeInRow(stream, bm),
        s"dd_stream_decon$sf".replace(".", "_"), StreamOps.Memory("append"))))
        .head
        .withColumn("contaminated", col("n_hits") > 0L)
        .orderBy(col("doc_id"))
    }),
    // Domain-mix resampling: every source capped at an equal corpus share,
    // exact-integer keep rule (no float rounding anywhere).
    "sp2_domain_mix" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      graft.ops.Sampling.proportionalMix(table(s, dir, "documents"),
        strataCol = "source", idCol = "doc_id")
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),
    // Fixed-size deterministic sample: exactly min(k, |stratum|) docs per
    // language, selected by smallest (hash, doc_id) — the reservoir
    // contract, reproducible across runs and engines.
    "sp3_reservoir" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      graft.ops.Sampling.topKByHash(table(s, dir, "documents"),
        strataCol = "lang", idCol = "doc_id", k = 20)
        .select(col("doc_id"), col("lang"), col("rk"))
        .orderBy(col("doc_id"))
    }),
    // CCNet-style unigram LM quality signal: avg -ln p(token) under the
    // corpus's own unigram distribution.
    "tx_unigram_logprob" -> ((s, dir) =>
      TextAnalysis.unigramLogProb(table(s, dir, "documents"))),
    // PII scrub over deterministically-derived contact strings: the
    // synthetic corpus carries no emails/IPs/phones, so each doc gets a
    // doc_id-derived contact line appended before scrubbing — the operator
    // (and its cross-engine regex parity) is what's under test, and every
    // row exercises all three patterns.
    "tx_pii_scrub" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val docs = table(s, dir, "documents")
      val withPii = docs.select(col("doc_id"),
        concat_ws(" ", col("text"),
          concat(lit("user"), col("doc_id").cast("string"),
            lit("@example.com")),
          concat(lit("from 10.0."), (col("doc_id") % 256).cast("string"),
            lit("."), (col("doc_id") % 100).cast("string")),
          concat(lit("tel +1-555-"),
            lpad((col("doc_id") % 10000).cast("string"), 7, "0"))).as("text"))
      TextAnalysis.piiScrub(withPii)
    }),
    // C4-style chunk-level exact dedup: per-doc retention stats under
    // global first-occurrence survivorship.
    "dd_chunk_dedup" -> ((s, dir) =>
      Dedup.chunkDedup(table(s, dir, "documents"))),
    // ExactSubstr span dedup (Lee et al. 2022): maximal character spans
    // whose length-25 substrings recur anywhere in the corpus — the
    // cut-the-span (not drop-the-doc) granularity the doc/chunk passes
    // above can't express.
    "dd_exact_substr" -> ((s, dir) =>
      Dedup.duplicatedSpansFrom(stagedSpanArrays(s, dir))),
    // The ExactSubstr TRANSFORM: the spans cut out of every document —
    // fingerprint + lengths judged (the cleaned corpus itself is the
    // operator's output; the query projects its stable summary).
    "dd_substr_redact" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      Dedup.redactFromSpans(table(s, dir, "documents"),
          stagedSpanArrays(s, dir))
        .select(col("doc_id"), col("n_spans"), col("n_cut"),
          length(col("clean_text")).cast("long").as("clean_len"),
          md5(col("clean_text")).as("clean_fp"))
        .orderBy(col("doc_id"))
    }),
    // Per-source curation dashboard: doc counts, token volume, quality
    // aggregates, corpus share — the monitoring cut a multi-source corpus
    // pipeline reviews before changing its mix.
    "tx_source_profile" -> ((s, dir) =>
      TextAnalysis.sourceProfile(table(s, dir, "documents"))),
    // Gopher-rule gate: per-rule booleans + keep, integer-exact thresholds.
    "tx_gopher_rules" -> ((s, dir) =>
      TextAnalysis.gopherRules(table(s, dir, "documents"))),
    // Bigram LM quality signal: avg -ln P(w_i | w_{i-1}) under the corpus's
    // own bigram table (catches in-vocabulary word salad unigrams miss).
    "tx_bigram_logprob" -> ((s, dir) =>
      TextAnalysis.bigramLogProb(table(s, dir, "documents"))),
    // Deterministic train/val/test split: subset is a pure function of
    // doc_id (98/1/1 hash cut), so later batches can never migrate a
    // document across the train/eval boundary.
    "sp4_split" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      graft.ops.Sampling.hashSplit(table(s, dir, "documents"), idCol = "doc_id")
        .select(col("doc_id"), col("lang"), col("subset"))
        .orderBy(col("doc_id"))
    }),
    // Curriculum assignment: quality quartile + deterministic shard. The
    // quartile is a MAP-SIDE comparison against three broadcast percentile
    // cuts (strictly-greater rule) — not a global ntile window, which
    // would sort the whole corpus on one partition; the shard is a pure
    // doc_id hash, so assignment survives re-runs and engine changes.
    "tp2_curriculum" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val q = TextAnalysis.qualityScore(table(s, dir, "documents"))
        .select(col("doc_id"), col("quality"))
      val cuts = q.agg(
        round(expr("percentile(quality, 0.25)"), 6).as("p25"),
        round(expr("percentile(quality, 0.5)"), 6).as("p50"),
        round(expr("percentile(quality, 0.75)"), 6).as("p75"))
      q.crossJoin(broadcast(cuts))
        .select(col("doc_id"), col("quality"),
          (lit(1L) +
            when(col("quality") > col("p25"), 1L).otherwise(0L) +
            when(col("quality") > col("p50"), 1L).otherwise(0L) +
            when(col("quality") > col("p75"), 1L).otherwise(0L)).as("stage"),
          pmod(graft.ops.Dedup.seededHash(47, col("doc_id")), lit(8L))
            .as("shard"))
        .orderBy(col("doc_id"))
    }),
    // The END-TO-END curation manifest — the one artifact a 100 TB run
    // actually ships: per document, keep/drop + the FIRST gate that cut it
    // (exact_dup via the canonical token-set groups > near_dup via the
    // staged cluster survivors > contaminated via the bloom-confirmed
    // probe > low_quality via the Gopher gate), plus the sp5 source
    // mixture weight and the sp4 train/val/test split. Composition, not
    // recomputation: the dedup stages arrive as staged parquet
    // (stage:pairs' membership, stage:clusters, stage:grams/bloom), and
    // ALL per-doc signals (quality, Gopher keep, split, source) ride ONE
    // corpus scan (TextAnalysis.curationSignals + the map-only hash
    // split), checkpointed so the source-count normalizer and every gate
    // join downstream touch the corpus ZERO further times (PlanSpec pins
    // no documents scan in the final plan). Null-source docs keep a null
    // weight (no mixture stratum), and a doc whose quality gate cannot
    // evaluate (null text) is cut as low_quality — a curation run drops
    // what it cannot score.
    "tp3_corpus_manifest" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      stagedManifest(s, dir)
        .select(col("doc_id"), col("keep"), col("reason"), col("source"),
          col("subset"), col("weight"))
        .orderBy(col("doc_id"))
    }),

    // The PACKED TRAINING EXPORT — the artifact a training run actually
    // mounts, composed end to end on top of the staged curation manifest
    // with ZERO corpus re-scans (PlanSpec pins no documents scan): the
    // manifest's kept train-split docs × sp8's repeat factors (derived
    // from the manifest's OWN token census — the counts rode
    // curationSignals' one scan) → integer epoch materialization →
    // tp1-style per-source sequence packing onto 2048-token windows.
    // Fractional repeat factors materialize by the sp7 exact-integer rule:
    // floor(rf) full epochs, plus one more iff the doc's seeded hash (seed
    // 61) mod 10⁶ lands under the fractional part — deterministic,
    // proportional, engine-reproducible (rf is recomputed from the exact
    // integer pair (target_tokens, n_tokens), never the rounded report
    // column). Docs without a source have no mixture stratum and are not
    // exported (inner join, mirrored in the oracle). Packing is
    // epoch-major per source — each epoch is a full curriculum pass —
    // and the per-(source) prefix sum never sorts globally (the tp1
    // shape). Output: one row per mounted copy with its training window
    // assignment (seq_id, seq_offset).
    "tp4_training_export" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val m = stagedManifest(s, dir)
      val kept = m.filter(col("keep") && col("subset") === "train" &&
        col("source").isNotNull)
      val rf = graft.ops.Sampling.repeatFactorsFromCounts(
        kept.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens")),
        strataCol = "source", tokenBudget = 500000L)
      val rfExact = least(
        col("target_tokens").cast("double") / col("src_tokens").cast("double"),
        lit(4.0))
      val copies = kept
        .join(broadcast(rf.select(col("source"), col("target_tokens"),
          col("n_tokens").as("src_tokens"))), "source")
        .select(col("doc_id"), col("source"), col("n_tokens"),
          (floor(rfExact).cast("long") +
            when(Dedup.seededHash(61, col("doc_id").cast("string")) % 1000000L
                   < (rfExact - floor(rfExact)) * 1000000.0, 1L)
              .otherwise(0L)).as("n_copies"))
        .filter(col("n_copies") >= 1L)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          explode(sequence(lit(0L), col("n_copies") - 1)).as("epoch"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("epoch"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val ctx = lit(2048L)
      val start = col("end_tok") - col("n_tokens")
      copies
        .withColumn("end_tok", sum(col("n_tokens")).over(w))
        // start - pmod(start, ctx) is exactly divisible -> exact double div
        .select(col("doc_id"), col("epoch"), col("source"), col("n_tokens"),
          ((start - pmod(start, ctx)) / ctx).cast("long").as("seq_id"),
          pmod(start, ctx).as("seq_offset"))
        .orderBy(col("doc_id"), col("epoch"))
    }),
    // STREAMING CURATION INGEST — the serving posture of the curation
    // manifest (tp3 is the nightly batch; this is the gate a live pipeline
    // runs as documents ARRIVE): the doc_id % 5 == 0 slice arrives on the
    // synthetic ingest clock and each document is gated at ingest against
    // the STANDING corpus (the % 5 != 0 docs) with the same first-cut
    // precedence as tp3, restricted to the ingest-decidable gates —
    //   exact_dup: the doc's canonical token-set key (Dedup.canonFpOf —
    //     the dd_canon_groups key, identical arithmetic) is already a
    //     standing canonical group (broadcast stream-static membership
    //     join), OR an earlier arrival in the SAME 60-min ingest epoch
    //     carried the key (the dd_stream_dedup_evict horizon gate, keyed
    //     on the canonical fp instead of md5(text));
    //   contaminated: the benchmark Bloom bitmap screens every arriving
    //     doc IN-ROW (bloomGramProbePacked — one codegen'd loop, zero
    //     state), and only the flagged few reach the exact gram join for
    //     confirmation (the dd_bloom_confirmed screen-then-confirm
    //     composition, here applied to the drained gate rows);
    //   low_quality: the map-side Gopher gate (curationSignals — one
    //     projection, the tp3 signal arithmetic verbatim).
    // near_dup is deliberately NOT an ingest gate: cluster survivorship
    // needs the corpus-wide pair stage (its ingest analog, LSH-vs-standing
    // -bands, is judged separately as dd_stream_neardup). Two streaming
    // legs, each in its honest posture: the per-doc gate leg is STATELESS
    // (append, no watermark, all-zero state — the dd_stream_decontaminate
    // shape), the horizon-dedup leg is the watermarked eviction aggregate
    // (state bounded by the 60-min epoch + 45-min delay horizon, NEVER
    // the corpus — StreamingSpec pins both sequences); the judged row
    // composes the two drains. Deterministic regardless of micro-batching
    // (shared-CTE oracle restates every gate over the batch tables). At
    // 100 TB: the standing key set is a bucketed table instead of a
    // broadcast, the Bloom bitmap broadcasts unchanged, and state still
    // costs one row per distinct arriving key per horizon.
    "tp5_stream_curate" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import graft.streaming.StreamOps
      val sf = dir.replaceAll("[^A-Za-z0-9.]", "_")
      val staged = StreamStage.curateBatches(s, dir)
      val docs = table(s, dir, "documents")
      val standing = docs.filter(col("doc_id") % 5 =!= 0)
        .select(col("lang"), Dedup.canonBucket.as("bucket"),
          Dedup.canonFpOf(Dedup.canonToks).as("fp"))
        .filter(!col("fp").startsWith("solo:"))
        .distinct()
        .withColumn("ex_standing", lit(true))
      val bm = stagedBloomBitmap(s, dir)
      val toksNorm = split(
        graft.etl.functions.normalizeText(lower(col("text"))), " ")
      val bloomPacked = graft.functions.StringExpressions
        .bloomGramProbePacked(toksNorm, typedlit(bm.toSeq),
          Dedup.BloomGramLen, 1 << 16, seed = 23)
      // gate leg: stateless map-side signals + broadcast membership join
      val stream = StreamOps.readEventStream(s, staged)
      val gated = graft.ops.Sampling.hashSplit(
          graft.ops.TextAnalysis.curationSignals(stream,
            carry = Seq("lang", "text")), idCol = "doc_id")
        .withColumn("bucket", Dedup.canonBucket)
        .withColumn("fp", Dedup.canonFpOf(Dedup.canonToks))
        .withColumn("bloom_hits",
          when(col("doc_id") % 11 =!= 0 && size(toksNorm) >= 4,
            bloomPacked.bitwiseAND(lit(0xffffffffL))).otherwise(0L))
        .join(broadcast(standing), Seq("lang", "bucket", "fp"), "left")
        .select(col("doc_id"), col("lang"), col("bucket"), col("fp"),
          coalesce(col("ex_standing"), lit(false)).as("ex_standing"),
          col("bloom_hits"), col("keep").as("gopher_keep"), col("subset"))
      // dedup leg: the eviction-posture horizon gate on the canonical key
      val dedup = StreamOps.readEventStream(s, staged)
        .withWatermark("ingest_ts", "45 minutes")
        .withColumn("bucket", Dedup.canonBucket)
        .withColumn("fp", Dedup.canonFpOf(Dedup.canonToks))
        .groupBy(window(col("ingest_ts"), "60 minutes"),
          col("lang"), col("bucket"), col("fp"))
        .agg(min(col("doc_id")).as("keep_id"))
        .select(col("window.start").as("win_start"), col("lang"),
          col("bucket"), col("fp"), col("keep_id"))
      // the two legs are independent until composed — drained
      // CONCURRENTLY (r16, guide §2.6) so the composed row pays the
      // micro-batch engine's fixed costs once end-to-end, not twice;
      // rows and per-leg state sequences are unchanged (batch order is
      // per-query). shufflePartitions=8 is the STATEFUL dedup leg's state-
      // store sizing; the gate leg is stateless map-only (projection +
      // broadcast join, zero exchanges), so the shared value cannot
      // change its rows.
      val Seq(gateRaw, dedupRaw) = StreamOps.drain(Seq(
        (gated, s"tp5_gate$sf".replace(".", "_"), StreamOps.Memory("append")),
        (dedup, s"tp5_dedup$sf".replace(".", "_"), StreamOps.Memory("append"))),
        shufflePartitions = Some(8))
      val gateRows = gateRaw.filter(col("doc_id") >= 0)
      val dedupRows = dedupRaw
        .filter(col("keep_id") >= 0)
        .select(unix_micros(col("win_start")).as("ep_us"), col("lang"),
          col("bucket"), col("fp"), col("keep_id"))
      // exact confirmation for the Bloom-flagged few (batch composition
      // over the drained gate rows — the dd_bloom_confirmed shape)
      val flagged = gateRows.filter(col("bloom_hits") > 0)
        .select(col("doc_id"))
      val g = stagedGramHashes(s, dir)
      val confirmed = Dedup.decontaminateFromGrams(
          g.join(broadcast(flagged), "doc_id"),
          g.filter(col("doc_id") % 11 === 0))
        .select(col("doc_id"), lit(true).as("is_contam"))
      val epUs = (lit(1577836800L) + expr("doc_id DIV 60") * 3600L) *
        1000000L
      val reason = when(col("ex_standing") ||
          coalesce(col("keep_id"), col("doc_id")) < col("doc_id"),
          "exact_dup")
        .when(col("is_contam").isNotNull, "contaminated")
        .when(!coalesce(col("gopher_keep"), lit(false)), "low_quality")
        .otherwise("keep")
      gateRows
        .withColumn("ep_us", epUs)
        .join(dedupRows, Seq("ep_us", "lang", "bucket", "fp"), "left")
        .join(confirmed, Seq("doc_id"), "left")
        .withColumn("reason", reason)
        .select(col("doc_id"), (col("reason") === "keep").as("keep"),
          col("reason"), col("subset"))
        .orderBy(col("doc_id"))
    }),
    // Sequence packing: per-shard prefix sums map documents onto fixed
    // 2048-token training windows (seq_id, seq_offset) with no global sort.
    "tp1_sequence_pack" -> ((s, dir) =>
      graft.ops.Packing.sequencePack(table(s, dir, "documents"),
        ctxTokens = 2048)),
    // Streaming exact dedup in UPDATE mode with a downstream keyed upsert —
    // the unbounded-ingest shape (complete mode rewrites the whole result
    // every micro-batch; update emits only touched keys and the merge keeps
    // the store current). Must converge to the identical batch dedup.
    "dd_stream_upsert" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import graft.streaming.StreamOps
      val sf = dir.replaceAll("[^A-Za-z0-9.]", "_")
      val staged = StreamStage.docStream(s, dir)
      // 2 files per trigger over the 4 staged files = 2 micro-batches:
      // still a genuine multi-batch convergence test (update-mode rows
      // from batch 0 must be superseded by batch 1's re-emitted keys),
      // at half the fixed per-batch cost (state-store commits plus a
      // full read-merge-swap of the upsert target per batch).
      val stream = StreamOps.readEventStream(s, staged, maxFilesPerTrigger = 2)
      val agg = stream.groupBy(md5(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      // The drain owns the checkpoint, so it rebuilds the target from
      // batch 0 every call: an upsert target left by older code could
      // leak stale keys (upsert only replaces keys the stream re-emits).
      // A production caller passes a durable Upsert checkpoint instead.
      StreamOps.drain(Seq((agg, s"dd_stream_upsert$sf".replace(".", "_"),
        StreamOps.Upsert(tmpStage(dir, "ddupsert"), Seq("fp")))),
        shufflePartitions = Some(4)).head
        .orderBy(col("keep_id"))
    }),
    // DSIR importance weights (Xie et al., NeurIPS 2023): every document's
    // hashed unigram+bigram profile scored against the English slice of
    // the corpus as the selection target — the data-mix reweighting step
    // of a pretraining pipeline. Feature space fixed at 4096 buckets, so
    // the distribution estimates and the broadcast score table are
    // corpus-size-independent.
    "tx_dsir_weights" -> ((s, dir) =>
      stagedDsir(s, dir)
        .orderBy(org.apache.spark.sql.functions.col("doc_id"))),
    // First BPE merge iteration (Sennrich et al. 2016): adjacent char-pair
    // census over the word vocabulary, weighted by corpus frequency — the
    // tokenizer-induction step.
    "tx_bpe_merges" -> ((s, dir) =>
      TextAnalysis.bpeMergeCensus(table(s, dir, "documents"))),
    // The full BPE training loop, 5 merge rounds (Sennrich et al. 2016
    // §3): per round, most-frequent adjacent symbol pair over the
    // evolving vocabulary, merged left-to-right non-overlapping.
    "tx_bpe_merges_n" -> ((s, dir) =>
      readParquet(s, s"${stagedBpe(s, dir)}/merges.parquet")
        .orderBy("round")),
    // The tokenizer-APPLY side: per-doc BPE token counts + compression
    // under the 5 trained merges (one vocab join + per-doc rollup).
    "tx_bpe_encode" -> ((s, dir) =>
      TextAnalysis.bpeEncodeWith(table(s, dir, "documents"),
        readParquet(s, s"${stagedBpe(s, dir)}/vocab.parquet"))),
    // Vocabulary typo/variant detection: blocked Jaro-Winkler self-join on
    // the distinct word vocabulary (native codegen'd JW expression,
    // DuckDB-exact semantics incl. the 0.7 boost threshold and integer
    // transposition halving). The synthetic corpus draws from a small
    // clean word list (no typos), so the judged threshold sits at 0.5 to
    // exercise the full kernel — a real corpus would run the 0.9 default.
    "dd_fuzzy_jw" -> ((s, dir) =>
      graft.ops.Fuzzy.vocabJaroWinkler(table(s, dir, "documents"),
        minSim = 0.5)),
    // RAG / long-context chunking: 64-token windows, 16-token overlap,
    // chunk content fingerprinted — a pure per-row fan-out, zero shuffles.
    "tx_chunk_overlap" -> ((s, dir) =>
      graft.ops.Packing.chunkOverlap(table(s, dir, "documents"),
        chunkTokens = 64, overlap = 16)),

    // Per-doc n-gram novelty: fraction of a doc's distinct shingles seen
    // in no other document — corpus-wide document frequency via ONE
    // partition-only window over the shingle (the ExactSubstr posture).
    "tx_ngram_novelty" -> ((s, dir) =>
      TextAnalysis.ngramNovelty(table(s, dir, "documents"))),

    // Exact source-pair shingle Jaccard: the corpus-composition overlap
    // matrix — sources collapse to a bitmask per distinct shingle, all
    // pairwise counts ride a tiny mask census (never a pairwise pass
    // over corpus-sized data).
    "tx_src_jaccard" -> ((s, dir) =>
      TextAnalysis.sourcePairJaccard(table(s, dir, "documents"))),

    // DSIR selection: Gumbel top-k over the judged importance weights —
    // deterministic hash-derived noise, distributed TakeOrdered cut over
    // the shared staged weight table (tx_dsir_weights builds/audits it);
    // the marginal cost here is exactly the selection.
    "sp10_dsir_sample" -> ((s, dir) =>
      graft.ops.Sampling.dsirGumbelTopK(stagedDsir(s, dir), k = 200)),

    // Model-based quality gate: hashed-unigram linear classifier with a
    // deterministic weight table — the scoring/threshold kernel judged
    // end-to-end; learned weights drop in as a broadcast join.
    "tx_classifier_score" -> ((s, dir) =>
      TextAnalysis.classifierScore(table(s, dir, "documents"))),
    // CCNet head/middle/tail terciles over the corpus's own unigram-LM
    // score; cut points ride one broadcast row.
    "tx_ppl_buckets" -> ((s, dir) =>
      TextAnalysis.perplexityBuckets(table(s, dir, "documents"))),
    // Corpus search: per-term posting stats (df, tf, first/last doc) for
    // an ad-hoc query vocabulary, incl. an absent term's zero row.
    "ix1_term_lookup" -> ((s, dir) =>
      TextAnalysis.termLookup(table(s, dir, "documents"),
        Seq("table", "scan", "merge", "vector", "zz_absent"))),
    // Soft dedup over the shared staged clustering: weight 1/|cluster|
    // per member, singletons keep 1 — removal-free duplicate handling.
    "dd_dedup_weights" -> ((s, dir) =>
      Dedup.dedupWeights(stagedClusters(s, dir), table(s, dir, "documents"))),

    // Iterative graph scoring beyond connected components: 3 PageRank
    // rounds over the near-dup pair graph rank the hub documents of
    // boilerplate neighborhoods (natural cluster representatives).
    // Rides the canonical factorization: each iteration joins QUOTIENT
    // edges only (exact-dup twins provably carry identical mass), the
    // member-level 2|E|-row contribution join never exists. Same oracle
    // (the member-level unrolled-CTE PageRank).
    "gr1_pagerank" -> ((s, dir) => {
      val (qfwd, members) = stagedQuotient(s, dir)
      graft.ops.Graph.pageRankFromQuotient(qfwd, members)
    }),
    // Corpus search, snippet half: every occurrence of a query term with
    // its ±2-token context — the evidence view next to ix1's stats.
    "ix2_kwic" -> ((s, dir) =>
      TextAnalysis.kwic(table(s, dir, "documents"),
        Seq("vector", "merge", "zz_absent"))),

    // BM25 retrieval over the same tokenization ix1/ix2 index: top-100
    // docs for a 4-term query, per-term scores rounded into DECIMAL(20,6)
    // so the per-doc sum is exact (the langid lam discipline).
    "ix3_bm25" -> ((s, dir) =>
      TextAnalysis.bm25(table(s, dir, "documents"),
        Seq("table", "scan", "merge", "vector"))),

    // Exact phrase search (adjacency-constrained retrieval): in-row
    // sliding-window counts, |phrases|-bounded census, zero rows for the
    // absent phrase — the contamination-audit grain ix1's single terms
    // can't give.
    "ix4_phrase" -> ((s, dir) =>
      TextAnalysis.phraseSearch(table(s, dir, "documents"),
        Seq("stream column", "window join", "big order scan",
          "zz absent phrase"))),

    // Triangle census of the near-dup pair graph: per-node triangle count
    // + local clustering in ppm — the TWIN-COLLAPSE census (weighted
    // quotient wedge join + closed-form expansion; bit-identical to the
    // member-level census, pinned in OpsSpec). Since round 12 it takes the
    // staged canonical factorization directly: the twin classes ARE the
    // exact-dup token-set groups the pair stage already computed, so
    // neither the member-level edge list nor a per-node adjacency key is
    // ever built. On a duplicate-dense crawl graph the quotient shrinks
    // the wedge join r̄³-fold: the factor-100 audit's direct census
    // exhausted 76 GB of spill on the 104M-edge pair graph. Same oracle
    // (the direct SQL census).
    "gr3_triangles" -> ((s, dir) => {
      val (qfwd, members) = stagedQuotient(s, dir)
      graft.ops.Graph.trianglesFromQuotient(qfwd, members)
    }),

    // Vocabulary richness: TTR + hapax share in integer ppm, the in-row
    // sorted-run kernel (zero shuffles).
    "tx_lexical_diversity" -> ((s, dir) =>
      TextAnalysis.lexicalDiversity(table(s, dir, "documents"))),

    // K-fold CV assignment + per-(fold x lang) composition audit in ppm.
    "sp11_kfold" -> ((s, dir) =>
      graft.ops.Sampling.kfold(table(s, dir, "documents"),
        strataCol = "lang")),

    // URL canonicalization dedup over deterministically-derived crawl URLs
    // (the tx_pii_scrub convention: the harness corpus carries no URLs, so
    // each doc gets one with case noise, a default port, tracking params,
    // a fragment, and a trailing slash — every rule in the canonicalizer
    // fires on every row).
    "dd_url_canonical" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val urls = table(s, dir, "documents").select(col("doc_id"),
        concat(lit("HTTPS://WWW."), col("source"),
          lit(".Example.COM:443/Data/Page/?utm_source=feed&b="),
          (col("doc_id") % 5).cast("string"),
          lit("&a="), (col("doc_id") % 4).cast("string"),
          lit("&utm_campaign=c"), col("doc_id").cast("string"),
          lit("#top")).as("url"))
      graft.ops.Url.canonicalDedup(urls)
    }),

    // Kneser-Ney continuation counts — the LM-smoothing statistic that
    // scores a word by how many DISTINCT left contexts it follows (not how
    // often it occurs): P_cont(w) = |{u : c(u,w)>0}| / |bigram types|.
    // The bigram TYPE table collapses the corpus stream map-side (the
    // bigramLogProb kernel), the distinct is vocabulary-bounded (Heaps'
    // law), and everything after it is integer — counts and ppm shares.
    "tx_kn_continuation" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val types = TextAnalysis.docGramCounts(
          table(s, dir, "documents"), 2, Nil)
        .select(substring_index(col("g"), " ", 1).as("w1"),
          substring_index(col("g"), " ", -1).as("w2"))
        .distinct()
      val total = types.agg(count(lit(1)).as("n_bigram_types"))
      types.groupBy(col("w2")).agg(count(lit(1)).as("cont"))
        .crossJoin(broadcast(total))
        .select(col("w2").as("token"), col("cont"),
          col("n_bigram_types"),
          expr("(cont * 1000000L) DIV n_bigram_types").as("p_cont_ppm"))
        .orderBy(col("cont").desc, col("token"))
        .limit(50)
    }),

    // Zipf's-law fit over the head of the frequency table: log-log least
    // squares of count vs rank on the top-100 tokens — the corpus-health
    // statistic (a natural corpus slopes ≈ −1; template/boilerplate floods
    // flatten it). The vocabulary rollup partial-aggregates map-side; the
    // ranking window runs over the 100-row TakeOrdered head, not the
    // vocabulary; the regression moments use the st2/st4 decimal-sum
    // discipline (each ln term quantized to DECIMAL(30,10), summed
    // exactly, one operand order on both engines).
    "tx_zipf_fit" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.{DecimalType, DoubleType}
      val toks = table(s, dir, "documents")
        .select(explode(split(
          graft.etl.functions.normalizeText(lower(col("text"))), " "))
          .as("term"))
      val top = toks.groupBy(col("term")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("term")).limit(100)
      val r = top.withColumn("rank",
        row_number().over(Window.orderBy(col("c").desc, col("term"))))
      val x = log(col("rank").cast("double"))
      val y = log(col("c").cast("double"))
      val m = r.agg(count(lit(1)).as("n_top"),
        sum(x.cast(DecimalType(30, 10))).cast(DoubleType).as("sx"),
        sum(y.cast(DecimalType(30, 10))).cast(DoubleType).as("sy"),
        sum((x * y).cast(DecimalType(30, 10))).cast(DoubleType).as("sxy"),
        sum((x * x).cast(DecimalType(30, 10))).cast(DoubleType).as("sxx"),
        sum((y * y).cast(DecimalType(30, 10))).cast(DoubleType).as("syy"))
      val nD = col("n_top").cast("double")
      val cov = nD * col("sxy") - col("sx") * col("sy")
      val varx = nD * col("sxx") - col("sx") * col("sx")
      val vary = nD * col("syy") - col("sy") * col("sy")
      m.select(col("n_top"),
        rz(cov / varx, 6).as("slope"),
        rz((col("sy") - cov / varx * col("sx")) / nD, 6).as("intercept"),
        rz(cov * cov / (varx * vary), 6).as("r2"))
    }),

    // Degree distribution of the near-dup pair graph — the structural
    // audit read next to gr1's PageRank: how many documents sit in
    // how-connected neighborhoods (a fat tail = boilerplate hubs). Closed
    // form over the canonical factorization: every member of class g has
    // degree (r_g − 1) + Σ r_h, so the census never touches a member-level
    // edge row. Isolated documents have no pair row and no degree-0 bar,
    // by design. Same oracle (the member-level groupBy census).
    "gr2_degree_hist" -> ((s, dir) => {
      val (qfwd, members) = stagedQuotient(s, dir)
      graft.ops.Graph.degreeHistFromQuotient(qfwd, members)
    }),

    // Content-defined chunking dedup (LBFS/FastCDC family): boundaries
    // where the 4-token rolling context hashes ≡ 0 (mod 16), so chunk
    // edges survive early-document edits — the shift-invariance
    // fixed-stride chunking (dd_chunk_dedup) lacks. First-occurrence
    // survivorship per content chunk, per-doc retention stats.
    "dd_cdc_chunks" -> ((s, dir) =>
      Dedup.cdcChunkDedup(table(s, dir, "documents")))
  )

  private val stop = "'the','a','of','and','to','in','is'"

  /** DuckDB twin of TextAnalysis.dsirWeights (unigram+bigram hashed
    * features, bucket log-likelihood-ratio score table, per-doc weight) —
    * shared by the tx_dsir_weights and sp10_dsir_sample oracles so the
    * selection step provably reads the judged weights. */
  private lazy val dsirCtes: String =
    s"""t AS (
      |  SELECT doc_id, (lang = 'en') AS tgt,
      |    string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
      |  FROM documents),
      |u AS (SELECT doc_id, tgt, unnest(toks) AS g FROM t),
      |b2 AS (SELECT doc_id, tgt, toks[i] || ' ' || toks[i+1] AS g
      |       FROM (SELECT doc_id, tgt, toks, unnest(range(1, len(toks))) AS i
      |             FROM t WHERE len(toks) >= 2) z),
      |gr AS (SELECT doc_id, tgt, ${mh(29, "g")} % 4096 AS b, count(*) AS c
      |       FROM (SELECT * FROM u UNION ALL SELECT * FROM b2) q GROUP BY 1, 2, 3),
      |raw AS (SELECT b, CAST(sum(c) AS BIGINT) AS cr FROM gr GROUP BY b),
      |tg AS (SELECT b, CAST(sum(c) AS BIGINT) AS ct FROM gr WHERE tgt GROUP BY b),
      |tot AS (SELECT (SELECT CAST(sum(cr) AS BIGINT) FROM raw) AS tr,
      |               (SELECT CAST(sum(ct) AS BIGINT) FROM tg) AS tt),
      |lam AS (SELECT b,
      |    CAST(round(ln((coalesce(ct, 0) + 1) / CAST(tt + 4096 AS DOUBLE))
      |             - ln((cr + 1) / CAST(tr + 4096 AS DOUBLE)), 6) AS DECIMAL(20,6)) AS lam
      |  FROM raw LEFT JOIN tg USING (b) CROSS JOIN tot),
      |dsirw AS (
      |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_feats,
      |    round(CAST(sum(lam * c) AS DOUBLE), 6) AS dsir_weight
      |  FROM gr JOIN lam USING (b)
      |  GROUP BY doc_id)""".stripMargin


  /** Unrolled-CTE DuckDB twin of TextAnalysis.bpeTrainFrames: one
    * (pairs -> best -> merged-vocab) CTE triple per round, with the SAME
    * double-separator merge rewrite (chr(1) separator, plain left-to-right
    * replace), so both engines run the identical algorithm. */
  private lazy val bpeRoundsOracle: String = {
    val rounds = 5
    val census = """v0 AS MATERIALIZED (
      |  SELECT w, CAST(count(*) AS BIGINT) AS wc,
      |    array_to_string(list_transform(range(1, len(w) + 1), i -> w[i]), chr(1)) AS rep
      |  FROM (
      |    SELECT unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS w
      |    FROM documents) t
      |  WHERE len(w) >= 2 AND regexp_matches(w, '^[a-z0-9]+$')
      |  GROUP BY w)""".stripMargin
    val per = (1 to rounds).map { r =>
      s"""p$r AS MATERIALIZED (
        |  SELECT syms[i] AS l, syms[i + 1] AS r, CAST(sum(wc) AS BIGINT) AS n
        |  FROM (SELECT wc, syms, unnest(range(1, len(syms))) AS i
        |        FROM (SELECT wc, string_split(rep, chr(1)) AS syms FROM v${r - 1}) z) u
        |  GROUP BY 1, 2),
        |b$r AS MATERIALIZED (SELECT l, r, n FROM p$r ORDER BY n DESC, l, r LIMIT 1),
        |v$r AS MATERIALIZED (
        |  SELECT w, wc, trim(replace(replace(
        |      chr(1) || replace(rep, chr(1), chr(1) || chr(1)) || chr(1),
        |      chr(1) || b.l || chr(1) || chr(1) || b.r || chr(1),
        |      chr(1) || b.l || b.r || chr(1)),
        |    chr(1) || chr(1), chr(1)), chr(1)) AS rep
        |  FROM v${r - 1} CROSS JOIN b$r b)""".stripMargin
    }
    val rows = (1 to rounds).map { r =>
      s"SELECT CAST($r AS BIGINT) AS round, l AS sym_l, r AS sym_r, l || r AS merged, n FROM b$r"
    }
    s"""WITH $census,
      |${per.mkString(",\n")}
      |SELECT * FROM (${rows.mkString(" UNION ALL ")})
      |ORDER BY round""".stripMargin
  }

  /** Encode twin: the same unrolled chain (w carried through), final
    * vocabulary v5 joined back to the exploded word stream. */
  private lazy val bpeEncodeOracle: String = {
    val rounds = 5
    val prefix = bpeRoundsOracle
    // reuse the chain by regenerating it: take everything up to the final
    // SELECT (the WITH block), then attach the encode rollup.
    val withBlock = prefix.substring(0, prefix.lastIndexOf("SELECT * FROM"))
    s"""${withBlock.trim.stripSuffix(",")}
      |, enc AS (
      |  SELECT w, CAST(len(string_split(rep, chr(1))) AS BIGINT) AS n_syms
      |  FROM v$rounds),
      |dw AS (
      |  SELECT doc_id, w FROM (
      |    SELECT doc_id,
      |      unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS w
      |    FROM documents) t
      |  WHERE len(w) >= 2 AND regexp_matches(w, '^[a-z0-9]+$$'))
      |SELECT doc_id, count(*) AS n_words,
      |  CAST(sum(n_syms) AS BIGINT) AS n_bpe_tokens,
      |  CAST(sum(len(w)) AS BIGINT) AS n_chars,
      |  (CAST(sum(n_syms) AS BIGINT) * 1000000) // count(*) AS tokens_per_word_ppm
      |FROM dw JOIN enc USING (w)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** The canonical exact-dup group-key CTE pair (the dd_canon_groups /
    * Dedup.canonFpOf key), name-parameterized like gramCtesNamed so the
    * manifest chain and the streaming curation-ingest oracle ride ONE
    * text: `$t` carries the sorted-distinct token set + bucket, `$k` the
    * per-doc (lang, bucket, fp) canonical key. */
  private def canonCtesNamed(t: String, k: String): String =
    s"""$t AS (
      |  SELECT doc_id, lang,
      |    list_sort(list_distinct(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))) AS toks,
      |    CAST(len(string_split_regex(text, '\\s+')) // 10 AS BIGINT) AS bucket
      |  FROM documents),
      |$k AS (
      |  SELECT doc_id, lang, bucket,
      |    CASE WHEN lang IS NOT NULL AND len(toks) > 0
      |         THEN sha256(array_to_string(toks, ' '))
      |         ELSE 'solo:' || CAST(doc_id AS VARCHAR) END AS fp
      |  FROM $t)""".stripMargin

  /** The Gopher-gate CTE (tx_gopher_rules' integer-exact thresholds),
    * name-parameterized for the same one-text sharing. */
  private def gopherCteNamed(name: String): String =
    s"""$name AS (
      |  SELECT doc_id,
      |    ((n_tokens >= 50 AND n_tokens <= 100000)
      |     AND (sum_len >= n_tokens * 3 AND sum_len <= n_tokens * 10)
      |     AND (n_alpha * 5 >= n_tokens * 4)
      |     AND (n_sym * 10 <= len)
      |     AND (n_stop >= 2)) AS keep
      |  FROM (
      |    SELECT doc_id, CAST(length(text) AS BIGINT) AS len,
      |      CAST(len(toks) AS BIGINT) AS n_tokens,
      |      CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS BIGINT) AS sum_len,
      |      CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
      |      CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS BIGINT) AS n_sym,
      |      CAST(len(list_distinct(list_filter(toks, x -> x IN ($stop)))) AS BIGINT) AS n_stop
      |    FROM (SELECT doc_id, text, string_split_regex(text, '\\s+') AS toks
      |          FROM documents) z) z2)""".stripMargin

  /** tp5_stream_curate: every ingest gate restated over the batch tables —
    * the canonical-key standing membership + the intra-epoch (doc_id//60,
    * the 60-min ingest-clock window) first-arrival rule, the exact 4-gram
    * contamination join (Bloom screen + exact confirm ≡ the exact join:
    * no false negatives), the Gopher gate, and sp4's seed-41 split — with
    * the SAME CTE texts as the tp3/tp4 manifest chain (canonCtesNamed /
    * gramCtesNamed / gopherCteNamed), so the streamed gates provably apply
    * the batch lifecycle's arithmetic. */
  private lazy val streamCurateOracle: String =
    s"""WITH ${canonCtesNamed("ct5", "ck5")},
      |st5 AS (
      |  SELECT DISTINCT lang, bucket, fp FROM ck5
      |  WHERE doc_id % 5 != 0 AND fp NOT LIKE 'solo:%'),
      |ar5 AS (
      |  SELECT doc_id, lang, bucket, fp,
      |    min(doc_id) OVER (PARTITION BY lang, bucket, fp, doc_id // 60)
      |      AS ep_keep
      |  FROM ck5 WHERE doc_id % 5 = 0),
      |${gramCtesNamed("tg5", "gg5", "dg5", "bg5")},
      |con5 AS (
      |  SELECT dg5.doc_id FROM dg5 JOIN bg5 ON dg5.gh = bg5.gh
      |  WHERE dg5.doc_id % 5 = 0 GROUP BY dg5.doc_id),
      |${gopherCteNamed("gr5")},
      |fin5 AS (
      |  SELECT a.doc_id,
      |    CASE WHEN st5.fp IS NOT NULL OR a.ep_keep < a.doc_id THEN 'exact_dup'
      |         WHEN con5.doc_id IS NOT NULL THEN 'contaminated'
      |         WHEN NOT coalesce(gr5.keep, false) THEN 'low_quality'
      |         ELSE 'keep' END AS reason,
      |    CASE WHEN ${mh(41, "CAST(a.doc_id AS VARCHAR)")} % 10000 < 9800 THEN 'train'
      |         WHEN ${mh(41, "CAST(a.doc_id AS VARCHAR)")} % 10000 < 9900 THEN 'val'
      |         ELSE 'test' END AS subset
      |  FROM ar5 a
      |  LEFT JOIN st5 ON a.lang = st5.lang AND a.bucket = st5.bucket
      |    AND a.fp = st5.fp
      |  LEFT JOIN con5 ON a.doc_id = con5.doc_id
      |  LEFT JOIN gr5 ON a.doc_id = gr5.doc_id)
      |SELECT doc_id, (reason = 'keep') AS keep, reason, subset
      |FROM fin5 ORDER BY doc_id""".stripMargin

  /** tp3_corpus_manifest: the full curation lifecycle as ONE SQL — the
    * recursive cluster closure + survivor argmax (the dd_survivors text),
    * the canonical token-set groups (the dd_canon_groups text), the
    * exact 4-gram contamination join (the dd_decontaminate text under
    * clash-free names), the Gopher gate (tx_gopher_rules), sp5's
    * temperature weights and sp4's seed-41 split — composed with the
    * same first-cut precedence CASE as the Spark side. Must keep the
    * literal `lab AS (...)` CTE (tools/cc_oracle.py splits there for the
    * sf1 union-find closure; everything else sits AFTER lab). */
  private lazy val manifestOracle: String =
    s"""WITH RECURSIVE $manifestCtes
      |SELECT mr.doc_id, (mr.reason = 'keep') AS keep, mr.reason, mr.source,
      |  mr.subset, mw.weight
      |FROM mr LEFT JOIN mw ON mr.source = mw.source
      |ORDER BY mr.doc_id""".stripMargin

  /** tp4_training_export: the manifest CTEs + the packed-export tail —
    * kept train docs, sp8 repeat factors over the kept census (same
    * sqrt/DECIMAL normalizer as sp8_repeat_factors), exact-integer epoch
    * materialization (seed-61 hash under the fractional part, rf
    * recomputed from the exact integer pair), epoch-major per-source
    * prefix-sum packing onto 2048-token windows (the tp1 arithmetic). */
  private lazy val trainingExportOracle: String =
    s"""WITH RECURSIVE $manifestCtes,
      |mtk AS (
      |  SELECT doc_id, CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |xk AS (
      |  SELECT mr.doc_id, mr.source, mtk.n_tokens
      |  FROM mr JOIN mtk USING (doc_id)
      |  WHERE mr.reason = 'keep' AND mr.subset = 'train'
      |    AND mr.source IS NOT NULL),
      |xc AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS src_tokens
      |  FROM xk GROUP BY source),
      |xz AS (SELECT sum(CAST(sqrt(CAST(src_tokens AS DOUBLE)) AS DECIMAL(30,10))) AS z FROM xc),
      |xt AS (
      |  SELECT source, src_tokens,
      |    CAST(floor(sqrt(CAST(src_tokens AS DOUBLE)) / CAST(xz.z AS DOUBLE) * 500000) AS BIGINT) AS target_tokens
      |  FROM xc CROSS JOIN xz),
      |xr AS (
      |  SELECT source,
      |    least(CAST(target_tokens AS DOUBLE) / CAST(src_tokens AS DOUBLE), 4.0) AS rf
      |  FROM xt),
      |xn AS (
      |  SELECT k.doc_id, k.source, k.n_tokens,
      |    CAST(floor(rf) AS BIGINT) +
      |      (CASE WHEN CAST(${mh(61, "CAST(k.doc_id AS VARCHAR)")} % 1000000 AS DOUBLE)
      |                 < (rf - floor(rf)) * 1000000 THEN 1 ELSE 0 END) AS n_copies
      |  FROM xk k JOIN xr USING (source)),
      |xe AS (
      |  SELECT doc_id, source, n_tokens,
      |    CAST(unnest(range(n_copies)) AS BIGINT) AS epoch
      |  FROM xn WHERE n_copies >= 1),
      |xp AS (
      |  SELECT doc_id, epoch, source, n_tokens,
      |    sum(n_tokens) OVER (PARTITION BY source ORDER BY epoch, doc_id
      |      ROWS UNBOUNDED PRECEDING) AS end_tok
      |  FROM xe)
      |SELECT doc_id, epoch, source, n_tokens,
      |  CAST((end_tok - n_tokens) // 2048 AS BIGINT) AS seq_id,
      |  CAST((end_tok - n_tokens) % 2048 AS BIGINT) AS seq_offset
      |FROM xp ORDER BY doc_id, epoch""".stripMargin

  /** The shared curation-manifest CTE chain, ending in `mr` (per-doc
    * first-cut reason + subset + source) and `mw` (sp5 source weights) —
    * one text for tp3 and tp4 so the lifecycle's gates cannot drift
    * between the manifest and the export built on it. Must keep the
    * literal `lab AS (...)` CTE (tools/cc_oracle.py splits there for the
    * sf1 union-find closure; everything else sits AFTER lab). */
  private lazy val manifestCtes: String =
    s"""$clusterCtes,
      |$qualityCtes,
      |mj AS (
      |  SELECT lab.id AS doc_id, lab.cluster_id, q.quality
      |  FROM lab JOIN q ON lab.id = q.doc_id),
      |msv AS (
      |  SELECT cluster_id, doc_id AS survivor_id FROM (
      |    SELECT cluster_id, doc_id,
      |      row_number() OVER (PARTITION BY cluster_id
      |        ORDER BY quality DESC, doc_id) AS rn
      |    FROM mj) z WHERE rn = 1),
      |mns AS (SELECT mj.doc_id, msv.survivor_id
      |  FROM mj JOIN msv USING (cluster_id)),
      |${canonCtesNamed("mct", "mck")},
      |mcg AS (
      |  SELECT doc_id, min(doc_id) OVER (PARTITION BY lang, bucket, fp) AS rep
      |  FROM mck),
      |${gramCtesNamed("mgt", "mgg", "mgd", "mgb")},
      |mcon AS (SELECT DISTINCT mgd.doc_id FROM mgd JOIN mgb ON mgd.gh = mgb.gh),
      |${gopherCteNamed("mgr")},
      |mwc AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
      |mwz AS (SELECT sum(CAST(sqrt(CAST(n_docs AS DOUBLE)) AS DECIMAL(30,10))) AS z FROM mwc),
      |mw AS (SELECT source,
      |    round(sqrt(CAST(n_docs AS DOUBLE)) / CAST(mwz.z AS DOUBLE), 6) AS weight
      |  FROM mwc CROSS JOIN mwz),
      |mr AS (
      |  SELECT d.doc_id, d.source,
      |    CASE WHEN ${mh(41, "CAST(d.doc_id AS VARCHAR)")} % 10000 < 9800 THEN 'train'
      |         WHEN ${mh(41, "CAST(d.doc_id AS VARCHAR)")} % 10000 < 9900 THEN 'val'
      |         ELSE 'test' END AS subset,
      |    CASE WHEN mcg.rep != d.doc_id THEN 'exact_dup'
      |         WHEN mns.survivor_id IS NOT NULL AND mns.survivor_id != d.doc_id THEN 'near_dup'
      |         WHEN mcon.doc_id IS NOT NULL THEN 'contaminated'
      |         WHEN NOT coalesce(mgr.keep, false) THEN 'low_quality'
      |         ELSE 'keep' END AS reason
      |  FROM documents d
      |  JOIN mcg USING (doc_id)
      |  LEFT JOIN mns USING (doc_id)
      |  LEFT JOIN mcon USING (doc_id)
      |  JOIN mgr USING (doc_id))""".stripMargin

  val oracle: Map[String, String] = Map(
    "tp3_corpus_manifest" -> manifestOracle,
    "tp4_training_export" -> trainingExportOracle,
    "tp5_stream_curate" -> streamCurateOracle,
    "dd_minhash_lsh" -> minhashOracle,
    "dd_minhash_verified" -> minhashVerifiedOracle,
    "dd_minhash_est" -> minhashEstOracle,
    "dd_simhash" -> simhashOracle,

    "dd_edit_distance" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    substr(regexp_replace(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '[^\x00-\x7F]', '', 'g'), 1, 40) AS pfx,
        |    CAST(len(string_split_regex(text, '\s+')) // 10 AS BIGINT) AS bucket
        |  FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(levenshtein(a.pfx, b.pfx) AS INTEGER) AS dist
        |FROM t a JOIN t b
        |  ON a.lang = b.lang AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.pfx, b.pfx) <= 10
        |ORDER BY doc_a, doc_b""".stripMargin,

    "tx_token_stats" ->
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS len,
        |  CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "tx_quality" ->
      s"""WITH t AS (
        |  SELECT doc_id, text, string_split_regex(text, '\\s+') AS toks,
        |    CAST(length(text) AS BIGINT) AS len
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, len,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    round(CAST(len AS DOUBLE) / len(toks), 6) AS mean_tok_len,
        |    round(CAST(len(list_filter(toks, x -> x IN ($stop))) AS DOUBLE) / len(toks), 6) AS stopword_ratio,
        |    round(CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) / len, 6) AS alpha_ratio
        |  FROM t)
        |SELECT doc_id, len, n_tokens, mean_tok_len, stopword_ratio, alpha_ratio,
        |  round(least(stopword_ratio * 4.0, 1.0) * 0.5 +
        |        least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.5, 6) AS quality
        |FROM m ORDER BY doc_id""".stripMargin,

    "tx_langid" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(toks, x -> x IN ('der','die','das','und','nicht'))) AS BIGINT) AS s_de,
        |    CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','is'))) AS BIGINT) AS s_en,
        |    CAST(len(list_filter(toks, x -> x IN ('el','la','de','que','y'))) AS BIGINT) AS s_es,
        |    CAST(len(list_filter(toks, x -> x IN ('le','la','et','les','des'))) AS BIGINT) AS s_fr,
        |    CAST(len(list_filter(toks, x -> x IN ('的','是','不','了','在'))) AS BIGINT) AS s_zh
        |  FROM t)
        |SELECT doc_id, s_de, s_en, s_es, s_fr, s_zh,
        |  CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN '??'
        |       WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
        |       WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
        |       WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
        |       WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
        |       ELSE 'zh' END AS pred_lang
        |FROM s ORDER BY doc_id""".stripMargin,

    "tx_fingerprint" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks,
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
        |  FROM documents)
        |SELECT doc_id, md5(norm) AS fp_doc,
        |  CASE WHEN len(toks) >= 5 THEN
        |    list_aggregate(list_transform(range(1, len(toks) - 3),
        |      i -> md5(array_to_string(toks[i:i+4], ' '))), 'min')
        |  ELSE md5(norm) END AS fp_shingle
        |FROM t ORDER BY doc_id""".stripMargin,

    "dd_exact" ->
      """SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin,

    // The streaming path must converge to the identical batch dedup.
    "dd_stream_dedup" ->
      """SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin,

    // The horizon-dedup gate restated as a batch GROUP BY over the same
    // synthetic ingest clock (2020-01-01 + doc_id minutes, 60-min epochs;
    // 1577836800 is hour-aligned so the epoch start is a pure doc_id
    // expression). Append-mode emission + eviction must not change one row.
    "dd_stream_dedup_evict" ->
      """SELECT make_timestamp((1577836800 + (doc_id // 60) * 3600) * 1000000) AS win_start,
        |  md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents
        |GROUP BY 1, 2 ORDER BY keep_id""".stripMargin,

    // Same edge set as dd_ngram_jaccard; closure via recursive CTE. The
    // min-reachable-id labeling is a unique fixpoint, so the iterative
    // Spark propagation and the SQL transitive closure agree exactly.
    "dd_dup_clusters" ->
      s"""WITH RECURSIVE $clusterCtes
        |SELECT id AS doc_id, cluster_id,
        |  CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_members
        |FROM lab ORDER BY doc_id""".stripMargin,

    // Clusters (recursive closure, as dd_dup_clusters) + tx_quality's score,
    // argmax per cluster by (quality DESC, doc_id).
    "dd_survivors" ->
      s"""WITH RECURSIVE $clusterCtes,
        |$qualityCtes,
        |j AS (
        |  SELECT lab.id AS doc_id, lab.cluster_id, q.quality
        |  FROM lab JOIN q ON lab.id = q.doc_id),
        |s AS (
        |  SELECT cluster_id, doc_id AS survivor_id FROM (
        |    SELECT cluster_id, doc_id,
        |      row_number() OVER (PARTITION BY cluster_id
        |        ORDER BY quality DESC, doc_id) AS rn
        |    FROM j) z WHERE rn = 1)
        |SELECT j.doc_id, j.cluster_id, s.survivor_id,
        |  (j.doc_id = s.survivor_id) AS is_survivor
        |FROM j JOIN s ON j.cluster_id = s.cluster_id
        |ORDER BY j.doc_id""".stripMargin,

    // Score factored exactly like the Spark side:
    // (tc/n_terms) * (ln((N+1)/(df+1)) + 1), rounded to 6 dp before ranking.
    "tx_tfidf" ->
      """WITH tm AS (
        |  SELECT doc_id,
        |    unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tc FROM tm GROUP BY 1, 2),
        |tot AS (SELECT doc_id, count(*) AS n_terms FROM tm GROUP BY 1),
        |dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tm GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |    round((CAST(tc AS DOUBLE) / n_terms) *
        |          (ln(CAST(n_docs + 1 AS DOUBLE) / (df + 1)) + 1.0), 6) AS tfidf
        |  FROM tf
        |  JOIN tot ON tf.doc_id = tot.doc_id
        |  JOIN dfq ON tf.term = dfq.term
        |  CROSS JOIN n)
        |SELECT doc_id, term, tfidf, rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf DESC, term) AS rank
        |  FROM scored) z
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    "tx_quality_filter" ->
      s"""WITH $qualityCtes,
        |ql AS (
        |  SELECT q.doc_id, d.lang, q.quality
        |  FROM q JOIN documents d ON q.doc_id = d.doc_id),
        |med AS (
        |  SELECT lang, quality AS med FROM (
        |    SELECT lang, quality,
        |      row_number() OVER (PARTITION BY lang ORDER BY quality) AS rn,
        |      count(*) OVER (PARTITION BY lang) AS n
        |    FROM ql) z
        |  WHERE rn = (n + 1) // 2)
        |SELECT ql.doc_id, ql.lang, ql.quality, med.med
        |FROM ql JOIN med ON ql.lang = med.lang
        |WHERE ql.quality > med.med
        |ORDER BY ql.doc_id""".stripMargin,

    // Same md5 bucket arithmetic as Sampling.bucket (seed 13, mod 10000).
    "sp1_stratified" ->
      s"""SELECT doc_id, lang FROM documents
        |WHERE ${mh(13, "CAST(doc_id AS VARCHAR)")} % 10000 <
        |  CASE WHEN lang = 'en' THEN 2500
        |       WHEN lang = 'zh' THEN 6000 ELSE 8000 END
        |ORDER BY doc_id""".stripMargin,

    // same tokenize/bucket CTE text as dd_ngram_jaccard; the CASE mirrors
    // ngramJaccardCanonical's singleton guard (null lang / null toks);
    // note an EMPTY text tokenizes to [''] (len 1) in both engines and
    // legitimately groups with other empty texts — J([''],['']) = 1
    "dd_canon_groups" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    list_sort(list_distinct(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '))) AS toks,
        |    CAST(len(string_split_regex(text, '\s+')) // 10 AS BIGINT) AS bucket
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, lang, bucket,
        |    CASE WHEN lang IS NOT NULL AND len(toks) > 0
        |         THEN sha256(array_to_string(toks, ' '))
        |         ELSE 'solo:' || CAST(doc_id AS VARCHAR) END AS fp
        |  FROM t)
        |SELECT doc_id,
        |  min(doc_id) OVER (PARTITION BY lang, bucket, fp) AS rep,
        |  count(*) OVER (PARTITION BY lang, bucket, fp) AS r
        |FROM k ORDER BY doc_id""".stripMargin,

    "dd_ngram_jaccard" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    list_distinct(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS toks,
        |    CAST(len(string_split_regex(text, '\s+')) // 10 AS BIGINT) AS bucket
        |  FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |        (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))), 6) AS jaccard
        |FROM t a JOIN t b
        |  ON a.lang = b.lang AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        |WHERE round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |        (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))), 6) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,

    // 2-gram repetition signals; sum(c) is HUGEINT in DuckDB -> cast BIGINT.
    "tx_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS g
        |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
        |        FROM t WHERE len(toks) >= 2) z),
        |pg AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY doc_id, g),
        |st AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS total_grams,
        |         count(*) AS distinct_grams, max(c) AS top_gram_count
        |       FROM pg GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(st.total_grams, 0) AS total_grams,
        |  coalesce(st.distinct_grams, 0) AS distinct_grams,
        |  coalesce(st.top_gram_count, 0) AS top_gram_count,
        |  coalesce(round(CAST(st.top_gram_count AS DOUBLE) / st.total_grams, 6), 0.0) AS top_gram_share,
        |  coalesce(round(1.0 - CAST(st.distinct_grams AS DOUBLE) / st.total_grams, 6), 0.0) AS rep_ratio
        |FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "dd_decontaminate" -> decontaminateOracle,
    "dd_bloom_decontaminate" -> bloomOracle,
    "dd_bloom_confirmed" -> decontaminateOracle,
    "dd_incremental_lsh" -> incrementalLshOracle,
    // proven-equal streaming twin (the dd_bloom_confirmed convention)
    "dd_stream_neardup" -> incrementalLshOracle,
    "dd_split_leakage" -> splitLeakageOracle,

    // Same 4-gram/seed-23 hashing as the decontamination CTEs, over the
    // whole corpus; df cut (2..64) before pairing; the rounded containment
    // is what the threshold compares (Spark filters the rounded column).
    "dd_containment" ->
      s"""WITH t AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT DISTINCT doc_id, ${mh(23, "array_to_string(toks[i:i+3], ' ')")} AS gh
        |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 2)) AS i
        |        FROM t WHERE len(toks) >= 4) z),
        |dfc AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2 AND count(*) <= 64),
        |k AS (SELECT g.doc_id, g.gh FROM g JOIN dfc USING (gh)),
        |sz AS (SELECT doc_id, count(*) AS ng FROM k GROUP BY doc_id),
        |p AS (
        |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_shared
        |  FROM k x JOIN k y ON x.gh = y.gh AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, n_shared,
        |  round(CAST(n_shared AS DOUBLE) / least(sa.ng, sb.ng), 6) AS containment
        |FROM p JOIN sz sa ON p.doc_a = sa.doc_id
        |       JOIN sz sb ON p.doc_b = sb.doc_id
        |WHERE round(CAST(n_shared AS DOUBLE) / least(sa.ng, sb.ng), 6) >= 0.6
        |ORDER BY doc_a, doc_b""".stripMargin,

    // tx_langid's scoring CTEs + a join back to the label, rolled up.
    "tx_lang_confusion" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(toks, x -> x IN ('der','die','das','und','nicht'))) AS BIGINT) AS s_de,
        |    CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','is'))) AS BIGINT) AS s_en,
        |    CAST(len(list_filter(toks, x -> x IN ('el','la','de','que','y'))) AS BIGINT) AS s_es,
        |    CAST(len(list_filter(toks, x -> x IN ('le','la','et','les','des'))) AS BIGINT) AS s_fr,
        |    CAST(len(list_filter(toks, x -> x IN ('的','是','不','了','在'))) AS BIGINT) AS s_zh
        |  FROM t),
        |p AS (
        |  SELECT doc_id,
        |    CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN '??'
        |         WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
        |         WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
        |         WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
        |         WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
        |         ELSE 'zh' END AS pred_lang
        |  FROM s)
        |SELECT d.lang, p.pred_lang, count(*) AS n
        |FROM documents d JOIN p USING (doc_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Same normalize-lower-split tokenization as tx_bigram_logprob's
    // oracle; ranking ties break on the bigram's binary string order.
    "tx_ngram_freq" ->
      """WITH t AS (
        |  SELECT lang,
        |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents),
        |p AS (
        |  SELECT lang, toks[i] || ' ' || toks[i+1] AS bigram
        |  FROM (SELECT lang, toks, unnest(range(1, len(toks))) AS i
        |        FROM t WHERE len(toks) >= 2) z),
        |c AS (SELECT lang, bigram, count(*) AS n FROM p GROUP BY 1, 2)
        |SELECT lang, bigram, n, rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY lang
        |    ORDER BY n DESC, bigram) AS rank FROM c) r
        |WHERE rank <= 10 ORDER BY lang, rank""".stripMargin,

    // clusterCtes' recursive closure + qualityCtes, joined per cluster.
    "dd_cluster_stats" ->
      s"""WITH RECURSIVE $clusterCtes,
        |$qualityCtes
        |SELECT lab.cluster_id, count(*) AS n_docs,
        |  min(q.quality) AS min_q, max(q.quality) AS max_q,
        |  round(CAST(sum(CAST(q.quality AS DECIMAL(30,10))) AS DOUBLE) / count(*), 6) AS avg_q,
        |  count(DISTINCT d.source) AS n_sources
        |FROM lab
        |JOIN q ON lab.id = q.doc_id
        |JOIN documents d ON lab.id = d.doc_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // qualityCtes + quantile_cont cuts (the st1 percentile-parity
    // precedent) + the seed-47 shard hash.
    "tp2_curriculum" ->
      s"""WITH $qualityCtes,
        |cuts AS (
        |  SELECT round(quantile_cont(quality, 0.25), 6) AS p25,
        |    round(quantile_cont(quality, 0.5), 6) AS p50,
        |    round(quantile_cont(quality, 0.75), 6) AS p75
        |  FROM q)
        |SELECT doc_id, quality,
        |  CAST(1 + (CASE WHEN quality > p25 THEN 1 ELSE 0 END) +
        |      (CASE WHEN quality > p50 THEN 1 ELSE 0 END) +
        |      (CASE WHEN quality > p75 THEN 1 ELSE 0 END) AS BIGINT) AS stage,
        |  ${mh(47, "CAST(doc_id AS VARCHAR)")} % 8 AS shard
        |FROM q CROSS JOIN cuts ORDER BY doc_id""".stripMargin,

    // sp5's quota derivation + sp3's seed-31 reservoir rank, joined.
    "sp6_quota_sample" ->
      s"""WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
        |z AS (SELECT sum(CAST(sqrt(CAST(n_docs AS DOUBLE)) AS DECIMAL(30,10))) AS z FROM c),
        |q AS (
        |  SELECT source,
        |    CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) / CAST(z.z AS DOUBLE) * 200) AS BIGINT) AS quota
        |  FROM c CROSS JOIN z),
        |r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY ${mh(31, "CAST(doc_id AS VARCHAR)")}, doc_id) AS rk
        |  FROM documents)
        |SELECT r.doc_id, r.source, r.rk, q.quota
        |FROM r JOIN q USING (source)
        |WHERE r.rk <= q.quota ORDER BY r.doc_id""".stripMargin,

    // The streaming Bloom probe must converge to the batch probe exactly.
    "dd_stream_decontaminate" -> bloomOracle,

    // √n is IEEE-correctly-rounded (identical doubles in both engines);
    // the normalizer sums DECIMAL(30,10)-cast terms; quotas use floor.
    "sp5_temperature" ->
      """WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
        |z AS (SELECT sum(CAST(sqrt(CAST(n_docs AS DOUBLE)) AS DECIMAL(30,10))) AS z FROM c)
        |SELECT source, n_docs,
        |  round(sqrt(CAST(n_docs AS DOUBLE)) / CAST(z.z AS DOUBLE), 6) AS weight,
        |  CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) / CAST(z.z AS DOUBLE) * 10000) AS BIGINT) AS quota
        |FROM c CROSS JOIN z ORDER BY source""".stripMargin,

    // Same sqrt/DECIMAL-normalizer discipline over TOKEN counts; the
    // double ops (divide, least, round) produce identical values in both
    // engines; the cap path is exact integer arithmetic.
    "sp8_repeat_factors" ->
      """WITH c AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(len(string_split_regex(text, '\s+'))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |z AS (SELECT sum(CAST(sqrt(CAST(n_tokens AS DOUBLE)) AS DECIMAL(30,10))) AS z FROM c),
        |t AS (
        |  SELECT source, n_docs, n_tokens,
        |    sqrt(CAST(n_tokens AS DOUBLE)) / CAST(z.z AS DOUBLE) AS w,
        |    CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) / CAST(z.z AS DOUBLE) * 500000) AS BIGINT) AS target_tokens
        |  FROM c CROSS JOIN z)
        |SELECT source, n_docs, n_tokens, round(w, 6) AS weight, target_tokens,
        |  round(least(CAST(target_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE), 4.0), 6) AS repeat_factor,
        |  least(target_tokens, n_tokens * 4) AS effective_tokens
        |FROM t ORDER BY source""".stripMargin,

    // Same (hash, doc_id) rank, same seed-31 hash family.
    "sp3_reservoir" ->
      s"""SELECT doc_id, lang, rk FROM (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY ${mh(31, "CAST(doc_id AS VARCHAR)")}, doc_id) AS rk
        |  FROM documents) z
        |WHERE rk <= 20 ORDER BY doc_id""".stripMargin,

    // Same factoring as the Spark side: per-term -ln(c/total) cast to
    // DECIMAL(30,10) before the order-independent sum, double divide,
    // round 6 (the dsum/davg discipline).
    "tx_unigram_logprob" ->
      """WITH tm AS (
        |  SELECT doc_id,
        |    unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
        |  FROM documents),
        |f AS (SELECT term, count(*) AS c FROM tm GROUP BY term),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM f)
        |SELECT doc_id, count(*) AS n_tokens,
        |  round(CAST(sum(CAST(-ln(CAST(c AS DOUBLE) / n_total) AS DECIMAL(30,10))) AS DOUBLE) / count(*), 6) AS avg_nll
        |FROM tm JOIN f USING(term) CROSS JOIN tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Same derived contact line, same three conservative (Java-regex ∩ RE2)
    // patterns, applied email -> IP -> phone with 'g'.
    "tx_pii_scrub" -> {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val ip = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
      val phone = "\\+[0-9][0-9-]{6,}[0-9]"
      s"""WITH p AS (
        |  SELECT doc_id,
        |    text || ' user' || doc_id || '@example.com from 10.0.' ||
        |    (doc_id % 256) || '.' || (doc_id % 100) || ' tel +1-555-' ||
        |    lpad(CAST(doc_id % 10000 AS VARCHAR), 7, '0') AS raw
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, raw,
        |    regexp_replace(regexp_replace(regexp_replace(raw,
        |      '$email', '<EMAIL>', 'g'),
        |      '$ip', '<IP>', 'g'),
        |      '$phone', '<PHONE>', 'g') AS scrubbed
        |  FROM p)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(raw, '$email')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(raw, '$ip')) AS BIGINT) AS n_ips,
        |  CAST(len(regexp_extract_all(raw, '$phone')) AS BIGINT) AS n_phones,
        |  md5(scrubbed) AS scrub_fp,
        |  CAST(length(raw) - length(scrubbed) AS BIGINT) AS len_delta
        |FROM s ORDER BY doc_id""".stripMargin
    },

    // Chunk grid + global first occurrence by packed (doc_id, position).
    "dd_chunk_dedup" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, i, md5(array_to_string(toks[i:i+7], ' ')) AS ch
        |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1, 8)) AS i
        |        FROM t) z),
        |f AS (SELECT ch, min(doc_id * 1048576 + i) AS first_pk
        |      FROM c GROUP BY ch)
        |SELECT c.doc_id, count(*) AS n_chunks,
        |  CAST(sum(CASE WHEN c.doc_id * 1048576 + c.i = f.first_pk
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  round(CAST(sum(CASE WHEN c.doc_id * 1048576 + c.i = f.first_pk
        |                      THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
        |    AS kept_ratio
        |FROM c JOIN f ON c.ch = f.ch
        |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin,

    // Corpus-wide duplicated L-gram positions, lag-merged into maximal
    // spans (break when the gap exceeds L); end-exclusive offsets.
    "dd_exact_substr" ->
      """WITH g AS (
        |  SELECT doc_id, unnest(generate_series(1, length(text) - 25 + 1)) AS i,
        |         text
        |  FROM documents WHERE length(text) >= 25),
        |g2 AS (
        |  SELECT doc_id, i, substr(text, CAST(i AS INT), 25) AS gr FROM g),
        |pos AS (
        |  SELECT doc_id, i FROM (
        |    SELECT doc_id, i, count(*) OVER (PARTITION BY gr) AS c FROM g2)
        |  WHERE c >= 2),
        |flag AS (
        |  SELECT doc_id, i,
        |    CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) <= 25
        |         THEN 0 ELSE 1 END AS brk
        |  FROM pos),
        |sp AS (
        |  SELECT doc_id, i,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS sid
        |  FROM flag)
        |SELECT doc_id, min(i) AS span_start, max(i) + 25 AS span_end,
        |  max(i) + 25 - min(i) AS span_len
        |FROM sp GROUP BY doc_id, sid
        |ORDER BY doc_id, span_start""".stripMargin,

    // Same span CTEs; per doc, stitch the gaps between spans (lag of the
    // previous span end) plus the tail, left-joined so span-free docs pass
    // through verbatim.
    "dd_substr_redact" ->
      """WITH g AS (
        |  SELECT doc_id, unnest(generate_series(1, length(text) - 25 + 1)) AS i,
        |         text
        |  FROM documents WHERE length(text) >= 25),
        |g2 AS (
        |  SELECT doc_id, i, substr(text, CAST(i AS INT), 25) AS gr FROM g),
        |pos AS (
        |  SELECT doc_id, i FROM (
        |    SELECT doc_id, i, count(*) OVER (PARTITION BY gr) AS c FROM g2)
        |  WHERE c >= 2),
        |flag AS (
        |  SELECT doc_id, i,
        |    CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) <= 25
        |         THEN 0 ELSE 1 END AS brk
        |  FROM pos),
        |sp AS (
        |  SELECT doc_id, i,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS sid
        |  FROM flag),
        |spans AS (
        |  SELECT doc_id, min(i) AS s, max(i) + 25 AS e
        |  FROM sp GROUP BY doc_id, sid),
        |w AS (
        |  SELECT doc_id, s, e,
        |    lag(e, 1, CAST(1 AS BIGINT)) OVER (PARTITION BY doc_id ORDER BY s) AS pe
        |  FROM spans),
        |hd AS (
        |  SELECT w.doc_id,
        |    string_agg(substr(d.text, CAST(w.pe AS INT), CAST(w.s - w.pe AS INT)),
        |               '' ORDER BY w.s) AS head,
        |    max(w.e) AS laste, count(*) AS n_spans,
        |    CAST(sum(w.e - w.s) AS BIGINT) AS n_cut
        |  FROM w JOIN documents d ON w.doc_id = d.doc_id
        |  GROUP BY w.doc_id),
        |r AS (
        |  SELECT d.doc_id,
        |    CASE WHEN h.doc_id IS NULL THEN d.text
        |         ELSE h.head || substr(d.text, CAST(h.laste AS INT)) END AS clean,
        |    COALESCE(h.n_spans, 0) AS n_spans,
        |    COALESCE(h.n_cut, 0) AS n_cut
        |  FROM documents d LEFT JOIN hd h ON d.doc_id = h.doc_id)
        |SELECT doc_id, n_spans, n_cut,
        |  CAST(length(clean) AS BIGINT) AS clean_len, md5(clean) AS clean_fp
        |FROM r ORDER BY doc_id""".stripMargin,

    // tx_quality's score joined to source; decimal-exact mean (davg twin).
    "tx_source_profile" ->
      s"""WITH t AS (
        |  SELECT doc_id, source, string_split_regex(text, '\\s+') AS toks
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS n_tokens,
        |    round(CAST(len(list_filter(toks, x -> x IN ($stop))) AS DOUBLE) / len(toks), 6) AS stopword_ratio
        |  FROM t),
        |q AS (
        |  SELECT doc_id, source, n_tokens,
        |    round(least(stopword_ratio * 4.0, 1.0) * 0.5 +
        |          least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.5, 6) AS quality
        |  FROM m),
        |tot AS (SELECT count(*) AS n_total FROM documents)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  round(CAST(sum(CAST(quality AS DECIMAL(30,10))) AS DOUBLE) / count(*), 6) AS avg_quality,
        |  min(quality) AS min_quality, max(quality) AS max_quality,
        |  round(CAST(count(*) AS DOUBLE) / (SELECT n_total FROM tot), 6) AS corpus_share
        |FROM q GROUP BY source ORDER BY source""".stripMargin,

    // Same integer-exact rule thresholds: no division anywhere, so a
    // boundary document cannot flip between engines.
    "tx_gopher_rules" ->
      s"""WITH t AS (
        |  SELECT doc_id, text, string_split_regex(text, '\\s+') AS toks,
        |    CAST(length(text) AS BIGINT) AS len
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, len,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS BIGINT) AS sum_len,
        |    CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
        |    CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS BIGINT) AS n_sym,
        |    CAST(len(list_distinct(list_filter(toks, x -> x IN ($stop)))) AS BIGINT) AS n_stop
        |  FROM t)
        |SELECT doc_id, n_tokens,
        |  (n_tokens >= 50 AND n_tokens <= 100000) AS r_tokens,
        |  (sum_len >= n_tokens * 3 AND sum_len <= n_tokens * 10) AS r_word_len,
        |  (n_alpha * 5 >= n_tokens * 4) AS r_alpha,
        |  (n_sym * 10 <= len) AS r_symbol,
        |  (n_stop >= 2) AS r_stop,
        |  ((n_tokens >= 50 AND n_tokens <= 100000)
        |   AND (sum_len >= n_tokens * 3 AND sum_len <= n_tokens * 10)
        |   AND (n_alpha * 5 >= n_tokens * 4)
        |   AND (n_sym * 10 <= len)
        |   AND (n_stop >= 2)) AS keep
        |FROM m ORDER BY doc_id""".stripMargin,

    // Same factoring as the Spark side: bigram counts, per-prefix rollup
    // from the bigram table, per-term -ln p through DECIMAL(30,10) before
    // the order-independent sum (the tx_unigram_logprob discipline).
    "tx_bigram_logprob" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
        |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
        |        FROM t WHERE len(toks) >= 2) z),
        |bg AS (SELECT w1, w2, count(*) AS cb FROM p GROUP BY 1, 2),
        |cx AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS cp FROM bg GROUP BY 1)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(CAST(sum(CAST(-ln(CAST(cb AS DOUBLE) / cp) AS DECIMAL(30,10))) AS DOUBLE) / count(*), 6) AS avg_nll
        |FROM p JOIN bg USING (w1, w2) JOIN cx USING (w1)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Same seed-41 hash family, same cumulative 98/1/1 cut points.
    "sp4_split" ->
      s"""SELECT doc_id, lang,
        |  CASE WHEN ${mh(41, "CAST(doc_id AS VARCHAR)")} % 10000 < 9800 THEN 'train'
        |       WHEN ${mh(41, "CAST(doc_id AS VARCHAR)")} % 10000 < 9900 THEN 'val'
        |       ELSE 'test' END AS subset
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Same per-shard prefix sum over (shard, doc_id) order; // and % are
    // exact integer ops in both engines.
    "tp1_sequence_pack" ->
      """WITH t AS (
        |  SELECT doc_id, lang AS shard,
        |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, shard, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens AS start_tok
        |  FROM t)
        |SELECT doc_id, shard, n_tokens,
        |  CAST(start_tok // 2048 AS BIGINT) AS seq_id,
        |  CAST(start_tok % 2048 AS BIGINT) AS seq_offset
        |FROM c ORDER BY doc_id""".stripMargin,

    // Same quality CTEs as tx_quality; identical integer keep rule.
    "sp7_weighted" ->
      s"""WITH $qualityCtes
        |SELECT doc_id, quality FROM q
        |WHERE ${mh(53, "CAST(doc_id AS VARCHAR)")} % 2000000
        |  < CAST(round(quality * 1000000.0, 0) AS BIGINT)
        |ORDER BY doc_id""".stripMargin,

    // The update-mode upsert drain must converge to the identical batch
    // dedup, no matter how the corpus was micro-batched.
    "dd_stream_upsert" ->
      """SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin,

    // keep <=> bucket*k*actual < total*10000 — the same exact-integer rule
    // as Sampling.proportionalMix (seed 17), no float division anywhere.
    "sp2_domain_mix" ->
      s"""WITH c AS (SELECT source, count(*) AS actual FROM documents GROUP BY source),
        |t AS (SELECT CAST(sum(actual) AS BIGINT) AS total, count(*) AS k FROM c)
        |SELECT d.doc_id, d.source
        |FROM documents d JOIN c ON d.source = c.source CROSS JOIN t
        |WHERE (${mh(17, "CAST(d.doc_id AS VARCHAR)")} % 10000) * t.k * c.actual
        |      < t.total * 10000
        |ORDER BY d.doc_id""".stripMargin,

    // Same seed-29 bucket hash, same add-one smoothing, same 6-dp-rounded
    // per-bucket log-ratio summed in DECIMAL (order-independent).
    "tx_dsir_weights" ->
      s"""WITH $dsirCtes
        |SELECT doc_id, n_feats, dsir_weight FROM dsirw ORDER BY doc_id""".stripMargin,

    // Same weight CTEs as tx_dsir_weights, then the deterministic Gumbel
    // key (hash-bucket uniform, -ln(-ln(u))) and the top-200 cut with the
    // same (key DESC, doc_id) total order as the Spark TakeOrdered.
    "sp10_dsir_sample" ->
      s"""WITH $dsirCtes,
        |k AS (
        |  SELECT doc_id, dsir_weight,
        |    round(dsir_weight - ln(-ln((${mh(47, "doc_id")} % 10000 + 0.5) / 10000)), 6) AS key
        |  FROM dsirw)
        |SELECT doc_id, dsir_weight, key,
        |  CAST(row_number() OVER (ORDER BY key DESC, doc_id) AS BIGINT) AS rank
        |FROM k ORDER BY key DESC, doc_id LIMIT 200""".stripMargin,

    // Same md5 weight family inside the lambda; integer weight sum,
    // fixed-point floor-divided mean, integer gate — no float rounding
    // anywhere.
    "tx_classifier_score" ->
      s"""WITH t AS (
        |  SELECT doc_id,
        |    string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CAST(list_aggregate(list_transform(toks,
        |      t -> ${mh(31, "t")} % 2001), 'sum') AS BIGINT) AS wsum
        |  FROM t)
        |SELECT doc_id, n_tokens,
        |  CAST(((wsum * 1000000) // n_tokens) - 1000000000 AS DOUBLE) / 1000000000 AS clf_score,
        |  (wsum > n_tokens * 1000) AS keep
        |FROM w ORDER BY doc_id""".stripMargin,

    // tx_unigram_logprob's score CTEs + tercile cuts; fractions as DOUBLE
    // division (a bare 1.0/3 is decimal division at engine-specific scale).
    "tx_ppl_buckets" ->
      """WITH tm AS (
        |  SELECT doc_id,
        |    unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
        |  FROM documents),
        |f AS (SELECT term, count(*) AS c FROM tm GROUP BY term),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM f),
        |sc AS (
        |  SELECT doc_id,
        |    round(CAST(sum(CAST(-ln(CAST(c AS DOUBLE) / n_total) AS DECIMAL(30,10))) AS DOUBLE) / count(*), 6) AS avg_nll
        |  FROM tm JOIN f USING(term) CROSS JOIN tot
        |  GROUP BY doc_id),
        |cuts AS (
        |  SELECT round(quantile_cont(avg_nll, CAST(1 AS DOUBLE)/3), 6) AS cut_head,
        |    round(quantile_cont(avg_nll, CAST(2 AS DOUBLE)/3), 6) AS cut_middle
        |  FROM sc)
        |SELECT doc_id, avg_nll,
        |  CASE WHEN avg_nll <= cut_head THEN 'head'
        |       WHEN avg_nll <= cut_middle THEN 'middle'
        |       ELSE 'tail' END AS bucket,
        |  cut_head, cut_middle
        |FROM sc CROSS JOIN cuts ORDER BY doc_id""".stripMargin,

    // Posting stats filtered to the query vocabulary BEFORE any grouping;
    // the outer term frame keeps absent terms as zero rows.
    "ix1_term_lookup" ->
      """WITH tm AS (
        |  SELECT doc_id,
        |    unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
        |  FROM documents),
        |c AS (
        |  SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
        |    count(*) AS tf, min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |  FROM tm
        |  WHERE term IN ('table', 'scan', 'merge', 'vector', 'zz_absent')
        |  GROUP BY term),
        |q AS (SELECT unnest(['table', 'scan', 'merge', 'vector', 'zz_absent']) AS term)
        |SELECT q.term, coalesce(df, 0) AS df, coalesce(tf, 0) AS tf,
        |  coalesce(first_doc, -1) AS first_doc, coalesce(last_doc, -1) AS last_doc
        |FROM q LEFT JOIN c USING (term) ORDER BY term""".stripMargin,

    // Identical constant folding ((k1+1)=2.2, (1-b)=0.25) and operand
    // order as the Spark side; per-term scores round into DECIMAL(20,6)
    // before the per-doc sum.
    "ix3_bm25" ->
      """WITH da AS (
        |  SELECT doc_id,
        |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS arr
        |  FROM documents),
        |st AS (
        |  SELECT count(*) AS n_docs,
        |    round(CAST(sum(len(arr)) AS DOUBLE) / count(*), 6) AS avgdl
        |  FROM da),
        |tm AS (SELECT doc_id, len(arr) AS dl, unnest(arr) AS term FROM da),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
        |  FROM tm WHERE term IN ('table', 'scan', 'merge', 'vector')
        |  GROUP BY 1, 2),
        |dfx AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |        FROM tf GROUP BY 1)
        |SELECT doc_id,
        |  CAST(sum(CAST(round(CAST(
        |    ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0) *
        |    (CAST(tf AS DOUBLE) * 2.2) /
        |    (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
        |    AS DECIMAL(30,10)), 6) AS DECIMAL(20,6))) AS DOUBLE) AS bm25,
        |  count(*) AS n_terms
        |FROM tf JOIN dfx USING (term) CROSS JOIN st
        |GROUP BY doc_id
        |ORDER BY bm25 DESC, doc_id
        |LIMIT 100""".stripMargin,

    // Three unrolled fixed-point PageRank iterations over clusterCtes'
    // edge set: integer micro-mass, floor division, integer damping — no
    // float rounding anywhere, so no .5-boundary for the engines to
    // disagree on. The reported pagerank is an exact double (micro-mass
    // < 2^53 over a constant denominator).
    "gr1_pagerank" -> {
      def iter(prev: String): String =
        s"""SELECT d.src AS id, d.outdeg,
           |    ((1000000000000 * 15 // 100) // nn.n_nodes) +
           |      (sum(p.m // p.outdeg) * 85) // 100 AS m
           |  FROM edges e JOIN $prev p ON e.src = p.id
           |  JOIN deg d ON e.dst = d.src CROSS JOIN nn
           |  GROUP BY d.src, d.outdeg, nn.n_nodes""".stripMargin
      s"""WITH RECURSIVE $clusterCtes,
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
        |        FROM edges GROUP BY src),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg),
        |p0 AS (SELECT src AS id, outdeg, 1000000000000 // n_nodes AS m
        |       FROM deg CROSS JOIN nn),
        |p1 AS (${iter("p0")}),
        |p2 AS (${iter("p1")}),
        |p3 AS (${iter("p2")})
        |SELECT id AS doc_id, outdeg AS degree, CAST(m AS BIGINT) AS pr_micro,
        |  CAST(m AS DOUBLE) / 1000000000000 AS pagerank
        |FROM p3 ORDER BY pr_micro DESC, doc_id""".stripMargin
    },

    // Per-term counts via unnest+group (the oracle need not be in-row);
    // ratios as integer ppm floor divisions.
    "tx_lexical_diversity" ->
      """WITH tm AS (
        |  SELECT doc_id,
        |    unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
        |  FROM documents),
        |tc AS (SELECT doc_id, term, count(*) AS c FROM tm GROUP BY doc_id, term)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  count(*) AS n_types,
        |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        |  (count(*) * 1000000) // CAST(sum(c) AS BIGINT) AS ttr_ppm,
        |  (CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) * 1000000) // count(*) AS hapax_ppm
        |FROM tc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Same seeded bucket family as sp4_split; shares as ppm floor
    // divisions against the broadcast fold totals.
    "sp11_kfold" ->
      s"""WITH f AS (
        |  SELECT ${mh(53, "CAST(doc_id AS VARCHAR)")} % 10000 % 5 AS fold,
        |    lang AS stratum
        |  FROM documents),
        |cells AS (SELECT fold, stratum, count(*) AS n FROM f GROUP BY fold, stratum),
        |tot AS (SELECT fold, count(*) AS fold_n FROM f GROUP BY fold)
        |SELECT cells.fold, stratum, n, fold_n, (n * 1000000) // fold_n AS share_ppm
        |FROM cells JOIN tot ON cells.fold = tot.fold
        |ORDER BY cells.fold, stratum""".stripMargin,

    // Same synthesized URLs, same rule set: RE2 twins of the Java regexes,
    // list_filter/list_sort for the parameter fold (ASCII-only strings, so
    // binary collation agrees across engines).
    "dd_url_canonical" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    'HTTPS://WWW.' || source || '.Example.COM:443/Data/Page/?utm_source=feed&b=' ||
        |    (doc_id % 5) || '&a=' || (doc_id % 4) || '&utm_campaign=c' || doc_id || '#top' AS url
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, url,
        |    array_to_string(list_sort(list_filter(
        |      string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
        |      x -> x <> '' AND NOT regexp_matches(x, '^(utm_[^=]*|fbclid|gclid)='))), '&') AS q
        |  FROM u),
        |c AS (
        |  SELECT doc_id, url,
        |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) || '://' ||
        |    CASE lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
        |      WHEN 'http' THEN regexp_replace(lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), ':80$', '')
        |      WHEN 'https' THEN regexp_replace(lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), ':443$', '')
        |      ELSE lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) END ||
        |    regexp_replace(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1), '/$', '') ||
        |    CASE WHEN q = '' THEN '' ELSE '?' || q END AS canon_url
        |  FROM p)
        |SELECT canon_url, min(doc_id) AS keep_id, count(*) AS n_copies,
        |  CAST(count(DISTINCT url) AS BIGINT) AS n_variants
        |FROM c GROUP BY canon_url ORDER BY keep_id""".stripMargin,

    // Position-indexed token stream, sliced in-row for the context window
    // (1-based inclusive slicing on both engines).
    "ix2_kwic" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents),
        |u AS (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM t)
        |SELECT toks[i] AS term, doc_id, CAST(i AS BIGINT) AS pos,
        |  array_to_string(toks[greatest(i - 2, 1):least(i + 2, len(toks))], ' ') AS context
        |FROM u
        |WHERE toks[i] IN ('vector', 'merge', 'zz_absent')
        |ORDER BY term, doc_id, pos""".stripMargin,

    // Clusters (recursive closure, as dd_dup_clusters); weight = 1/|cluster|
    // as DOUBLE division, singletons fall out of the left joins.
    "dd_dedup_weights" ->
      s"""WITH RECURSIVE $clusterCtes,
        |cs AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n
        |       FROM lab GROUP BY cluster_id)
        |SELECT d.doc_id,
        |  coalesce(lab.cluster_id, d.doc_id) AS cluster_id,
        |  coalesce(cs.n, 1) AS n_members,
        |  round(CAST(1 AS DOUBLE) / coalesce(cs.n, 1), 6) AS weight
        |FROM documents d
        |LEFT JOIN lab ON d.doc_id = lab.id
        |LEFT JOIN cs ON lab.cluster_id = cs.cluster_id
        |ORDER BY d.doc_id""".stripMargin,

    // Distinct per-doc shingles (the shingleCtes stream deduplicated),
    // document frequency as a window count, per-doc rollup.
    "tx_ngram_novelty" ->
      s"""WITH $shingleCtes,
        |d AS (SELECT DISTINCT doc_id, s FROM sh),
        |f AS (SELECT doc_id, count(*) OVER (PARTITION BY s) AS df FROM d)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
        |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
        |  round(CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 6) AS novelty
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Source-keyed twin of the shingle stream; exact distinct-set Jaccard
    // per source pair, zero-overlap pairs kept by the outer pair frame.
    "tx_src_jaccard" ->
      """WITH t AS (
        |  SELECT source,
        |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents),
        |lng AS (
        |  SELECT source, toks, unnest(range(1, len(toks) - 1)) AS i
        |  FROM t WHERE len(toks) >= 3),
        |sh AS (
        |  SELECT source, array_to_string(toks[i:i+2], ' ') AS s FROM lng
        |  UNION ALL
        |  SELECT source, array_to_string(toks, ' ') FROM t WHERE len(toks) < 3),
        |d AS (SELECT DISTINCT source, s FROM sh),
        |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS sz FROM d GROUP BY source),
        |ix AS (
        |  SELECT a.source AS src_a, b.source AS src_b,
        |    CAST(count(*) AS BIGINT) AS n_inter
        |  FROM d a JOIN d b ON a.s = b.s AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT pa.source AS src_a, pb.source AS src_b,
        |  coalesce(ix.n_inter, CAST(0 AS BIGINT)) AS n_inter,
        |  sa.sz + sb.sz - coalesce(ix.n_inter, CAST(0 AS BIGINT)) AS n_union,
        |  round(CAST(coalesce(ix.n_inter, CAST(0 AS BIGINT)) AS DOUBLE)
        |    / (sa.sz + sb.sz - coalesce(ix.n_inter, CAST(0 AS BIGINT))), 6) AS jaccard
        |FROM (SELECT DISTINCT source FROM documents) pa
        |JOIN (SELECT DISTINCT source FROM documents) pb ON pa.source < pb.source
        |LEFT JOIN ix ON ix.src_a = pa.source AND ix.src_b = pb.source
        |JOIN sz sa ON sa.source = pa.source
        |JOIN sz sb ON sb.source = pb.source
        |ORDER BY src_a, src_b""".stripMargin,

    // Same census tokenization, same >=2-char cut, same (n desc, pair)
    // total order.
    "tx_bpe_merges_n" -> bpeRoundsOracle,
    "tx_bpe_encode" -> bpeEncodeOracle,

    "tx_bpe_merges" ->
      """WITH tm AS (
        |  SELECT unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS w
        |  FROM documents),
        |c AS (SELECT w, count(*) AS wc FROM tm WHERE len(w) >= 2 GROUP BY w),
        |p AS (SELECT substr(w, i, 2) AS pair, CAST(sum(wc) AS BIGINT) AS n
        |      FROM (SELECT w, wc, unnest(range(1, len(w))) AS i FROM c) z
        |      GROUP BY 1)
        |SELECT pair, n, CAST(row_number() OVER (ORDER BY n DESC, pair) AS BIGINT) AS rank
        |FROM p ORDER BY n DESC, pair LIMIT 50""".stripMargin,

    // DuckDB's jaro_winkler_similarity IS the pinned semantics
    // (StringExpressions.JaroWinkler matches it byte-for-byte); same
    // (first-char, length) blocking with the cross-length probe and the
    // threshold on the ROUNDED similarity in both engines.
    "dd_fuzzy_jw" ->
      """WITH tm AS (
        |  SELECT unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS w
        |  FROM documents),
        |v AS (SELECT w, count(*) AS c FROM tm
        |      WHERE regexp_matches(w, '^[a-z]+$') GROUP BY w)
        |SELECT a.w AS w1, b.w AS w2,
        |       round(jaro_winkler_similarity(a.w, b.w), 4) AS sim,
        |       a.c AS c1, b.c AS c2
        |FROM v a JOIN v b
        |  ON substr(a.w, 1, 1) = substr(b.w, 1, 1)
        | AND len(b.w) - len(a.w) IN (0, 1)
        | AND (len(a.w) <> len(b.w) OR a.w < b.w)
        | AND round(jaro_winkler_similarity(a.w, b.w), 4) >= 0.5
        |ORDER BY w1, w2""".stripMargin,

    // Same normalize-then-split tokenization (case preserved), same
    // 1-based stride-48 starts, same end-clamped 64-token slices.
    "tx_chunk_overlap" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, len(toks) AS n, CAST(i AS BIGINT) AS start_tok,
        |    toks[i : least(i + 63, len(toks))] AS chunk
        |  FROM (SELECT doc_id, toks,
        |          unnest(range(1, greatest(len(toks), 1) + 1, 48)) AS i
        |        FROM t) z)
        |SELECT doc_id,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start_tok) - 1 AS BIGINT) AS chunk_idx,
        |  start_tok, CAST(least(64, n - start_tok + 1) AS BIGINT) AS n_chunk_tokens,
        |  md5(array_to_string(chunk, ' ')) AS chunk_fp
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    // Same lower+collapse tokenization as the bigram LM; DISTINCT bigram
    // types, integer continuation counts, floor-division ppm.
    "tx_kn_continuation" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents),
        |p AS (
        |  SELECT toks[i] AS w1, toks[i+1] AS w2
        |  FROM (SELECT toks, unnest(range(1, len(toks))) AS i
        |        FROM t WHERE len(toks) >= 2) z),
        |bg AS (SELECT DISTINCT w1, w2 FROM p),
        |b AS (SELECT count(*) AS n_bigram_types FROM bg),
        |c AS (SELECT w2, count(*) AS cont FROM bg GROUP BY 1)
        |SELECT w2 AS token, cont, n_bigram_types,
        |  (cont * 1000000) // n_bigram_types AS p_cont_ppm
        |FROM c CROSS JOIN b
        |ORDER BY cont DESC, token LIMIT 50""".stripMargin,

    // Same top-100 head (count desc, token tie-break), same ln terms
    // quantized to DECIMAL(30,10), same st4 operand order.
    "tx_zipf_fit" ->
      """WITH t AS (
        |  SELECT string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents),
        |w AS (SELECT unnest(toks) AS term FROM t),
        |f AS (SELECT term, count(*) AS c FROM w GROUP BY 1),
        |top AS (SELECT term, c FROM f ORDER BY c DESC, term LIMIT 100),
        |r AS (SELECT c, row_number() OVER (ORDER BY c DESC, term) AS rnk FROM top),
        |s AS (SELECT count(*) AS n_top,
        |  CAST(sum(CAST(ln(CAST(rnk AS DOUBLE)) AS DECIMAL(30,10))) AS DOUBLE) AS sx,
        |  CAST(sum(CAST(ln(CAST(c AS DOUBLE)) AS DECIMAL(30,10))) AS DOUBLE) AS sy,
        |  CAST(sum(CAST(ln(CAST(rnk AS DOUBLE)) * ln(CAST(c AS DOUBLE)) AS DECIMAL(30,10))) AS DOUBLE) AS sxy,
        |  CAST(sum(CAST(ln(CAST(rnk AS DOUBLE)) * ln(CAST(rnk AS DOUBLE)) AS DECIMAL(30,10))) AS DOUBLE) AS sxx,
        |  CAST(sum(CAST(ln(CAST(c AS DOUBLE)) * ln(CAST(c AS DOUBLE)) AS DECIMAL(30,10))) AS DOUBLE) AS syy
        |  FROM r)
        |SELECT n_top,
        |  round((CAST(n_top AS DOUBLE) * sxy - sx * sy) /
        |        (CAST(n_top AS DOUBLE) * sxx - sx * sx), 6) + 0 AS slope,
        |  round((sy - (CAST(n_top AS DOUBLE) * sxy - sx * sy) /
        |        (CAST(n_top AS DOUBLE) * sxx - sx * sx) * sx) / CAST(n_top AS DOUBLE), 6) + 0
        |    AS intercept,
        |  round((CAST(n_top AS DOUBLE) * sxy - sx * sy) * (CAST(n_top AS DOUBLE) * sxy - sx * sy) /
        |        ((CAST(n_top AS DOUBLE) * sxx - sx * sx) * (CAST(n_top AS DOUBLE) * syy - sy * sy)), 6) + 0
        |    AS r2
        |FROM s""".stripMargin,

    // Same symmetric edge set as gr1's CTEs; degree = per-node edge count.
    "gr2_degree_hist" ->
      s"""WITH RECURSIVE $clusterCtes,
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS degree
        |        FROM edges GROUP BY src)
        |SELECT degree, count(*) AS n_nodes
        |FROM deg GROUP BY degree ORDER BY degree""".stripMargin,

    // Same degree-ordered orientation as the Spark side: each undirected
    // pair oriented low-(degree,id) -> high, wedges enumerated at the
    // lowest corner only, closing edge probed in the oriented table —
    // every triangle found exactly once. lcc in integer ppm (// floor).
    "gr3_triangles" ->
      s"""WITH RECURSIVE $clusterCtes,
        |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS degree
        |        FROM edges GROUP BY src),
        |o AS (
        |  SELECT CASE WHEN ds.degree < dd.degree
        |                OR (ds.degree = dd.degree AND p.doc_a < p.doc_b)
        |              THEN p.doc_a ELSE p.doc_b END AS lo,
        |         CASE WHEN ds.degree < dd.degree
        |                OR (ds.degree = dd.degree AND p.doc_a < p.doc_b)
        |              THEN p.doc_b ELSE p.doc_a END AS hi,
        |         CASE WHEN ds.degree < dd.degree
        |                OR (ds.degree = dd.degree AND p.doc_a < p.doc_b)
        |              THEN dd.degree ELSE ds.degree END AS dhi
        |  FROM pairs p
        |  JOIN deg ds ON p.doc_a = ds.node
        |  JOIN deg dd ON p.doc_b = dd.node),
        |w AS (
        |  SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
        |  FROM o e1 JOIN o e2 ON e1.lo = e2.lo
        |   AND (e1.dhi < e2.dhi OR (e1.dhi = e2.dhi AND e1.hi < e2.hi))),
        |tri AS (SELECT a, b, c FROM w JOIN o ON w.b = o.lo AND w.c = o.hi),
        |corners AS (SELECT unnest([a, b, c]) AS node FROM tri),
        |tc AS (SELECT node, CAST(count(*) AS BIGINT) AS n_tri
        |       FROM corners GROUP BY node)
        |SELECT deg.node AS doc_id, degree,
        |  CAST(coalesce(n_tri, 0) AS BIGINT) AS n_triangles,
        |  CASE WHEN degree > 1
        |       THEN (coalesce(n_tri, 0) * 2000000) // (degree * (degree - 1))
        |       ELSE 0 END AS lcc_ppm
        |FROM deg LEFT JOIN tc ON deg.node = tc.node
        |ORDER BY doc_id""".stripMargin,

    // Same tokenization, same in-row window counting (overlaps counted);
    // per-phrase census with zero/-1 rows for the absent phrase.
    "ix4_phrase" ->
      """WITH tm AS (
        |  SELECT doc_id,
        |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents),
        |ph AS (SELECT * FROM (VALUES ('stream column', 2), ('window join', 2),
        |       ('big order scan', 3), ('zz absent phrase', 3)) v(phrase, n)),
        |m AS (
        |  SELECT doc_id, phrase,
        |    CAST(len([i FOR i IN range(1, len(toks) - n + 2)
        |              IF array_to_string(toks[i:i+n-1], ' ') = phrase]) AS BIGINT) AS n_occ
        |  FROM tm CROSS JOIN ph
        |  WHERE len(toks) >= n),
        |c AS (
        |  SELECT phrase,
        |    CAST(count(CASE WHEN n_occ > 0 THEN 1 END) AS BIGINT) AS n_docs,
        |    CAST(sum(n_occ) AS BIGINT) AS n_occ,
        |    min(CASE WHEN n_occ > 0 THEN doc_id END) AS first_doc,
        |    max(CASE WHEN n_occ > 0 THEN doc_id END) AS last_doc
        |  FROM m GROUP BY phrase)
        |SELECT ph.phrase,
        |  CAST(coalesce(n_docs, 0) AS BIGINT) AS n_docs,
        |  CAST(coalesce(c.n_occ, 0) AS BIGINT) AS n_occ,
        |  CAST(coalesce(first_doc, -1) AS BIGINT) AS first_doc,
        |  CAST(coalesce(last_doc, -1) AS BIGINT) AS last_doc
        |FROM ph LEFT JOIN c ON ph.phrase = c.phrase
        |ORDER BY ph.phrase""".stripMargin,

    // Same seed-59 window hash deciding the boundaries, same doc-end
    // append, same packed first-occurrence survivorship as dd_chunk_dedup.
    "dd_cdc_chunks" ->
      s"""WITH t AS (
        |  SELECT doc_id,
        |    string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents),
        |z AS (SELECT doc_id, toks, len(toks) AS n FROM t),
        |e AS (
        |  SELECT doc_id, toks, n,
        |    list_concat(
        |      [i FOR i IN range(4, n + 1)
        |       IF i < n AND ${mh(59, "array_to_string(toks[i-3:i], ' ')")} % 16 = 0],
        |      [n]) AS ends
        |  FROM z),
        |s AS (
        |  SELECT doc_id, toks, ends,
        |    list_concat([1], [e + 1 FOR e IN ends[1:len(ends)-1]]) AS starts
        |  FROM e),
        |u AS (SELECT doc_id, toks, starts, ends,
        |        unnest(range(1, len(ends) + 1)) AS j FROM s),
        |ck AS (
        |  SELECT doc_id, CAST(starts[j] AS BIGINT) AS start_tok,
        |    CAST(ends[j] - starts[j] + 1 AS BIGINT) AS n_chunk_toks,
        |    md5(array_to_string(toks[starts[j]:ends[j]], ' ')) AS ch
        |  FROM u),
        |f AS (SELECT ch, min(doc_id * 1048576 + start_tok) AS first_pk
        |      FROM ck GROUP BY ch)
        |SELECT ck.doc_id, count(*) AS n_chunks,
        |  CAST(sum(CASE WHEN ck.doc_id * 1048576 + ck.start_tok = f.first_pk
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(n_chunk_toks) AS BIGINT) AS n_toks,
        |  round(CAST(sum(CASE WHEN ck.doc_id * 1048576 + ck.start_tok = f.first_pk
        |                      THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
        |    AS kept_ratio
        |FROM ck JOIN f ON ck.ch = f.ch
        |GROUP BY ck.doc_id ORDER BY ck.doc_id""".stripMargin
  )
}
