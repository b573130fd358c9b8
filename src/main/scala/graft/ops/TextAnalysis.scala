package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.etl.{functions => F}
import graft.queries.topK

/** Text-analysis operators for large-scale training-data pipelines: token
  * counting, quality scoring, language ID, document fingerprinting. All
  * pure column expressions (codegen'd, no UDFs) — they scale linearly with
  * no shuffle at all; every operator is a map over the documents scan.
  *
  * The reference stubs its NLP column (`Sentimiento = ""`, main.py:392,
  * "pendiente de análisis NLP futuro" README.md:62) — this is that surface,
  * made real.
  */
object TextAnalysis {

  /** Whitespace tokens of the raw text. */
  def tokens(c: Column): Column = split(c, "\\s+")

  /** Token counting: whitespace tokenization + a BPE-ish regex segmentation
    * (letter runs / digit runs / single other chars). */
  def tokenStats(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      length(col("text")).cast("long").as("len"),
      size(tokens(col("text"))).cast("long").as("ws_tokens"),
      size(regexp_extract_all(col("text"),
        lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))).cast("long")
        .as("bpe_tokens"))
      .orderBy(col("doc_id"))

  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is")

  /** TF-IDF: top-3 terms per document by
    * (tc/n_terms) · (ln((N+1)/(df+1)) + 1), rounded to 6 dp BEFORE ranking
    * so the ordering is engine-stable. Two aggregations over the exploded
    * term list (both partial/map-side) + one broadcast of the one-row corpus
    * count; the per-doc ranking window partitions on doc_id with at most
    * |distinct terms per doc| rows — bounded by document length, safe at any
    * corpus size. */
  def tfIdf(docs: DataFrame): DataFrame = {
    val k = 3
    val terms = docs.select(col("doc_id"),
      explode(split(F.normalizeText(lower(col("text"))), " ")).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tc"))
    val tot = terms.groupBy(col("doc_id")).agg(count(lit(1)).as("n_terms"))
    val docFreq = terms.select(col("doc_id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(tot, "doc_id").join(docFreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf", round(
        (col("tc").cast("double") / col("n_terms")) *
          (log((col("n_docs") + 1).cast("double") / (col("df") + 1)) + 1.0), 6))
    topK(scored, Seq(col("doc_id")), Seq(col("tfidf").desc, col("term")), k, "rank")
      .select(col("doc_id"), col("term"), col("tfidf"), col("rank"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** Quality scoring: length, mean token length, stopword ratio, alpha
    * ratio, composite score. Ratios are single double divisions (exact
    * cross-engine). */
  def qualityScore(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("double")
    val stopHits = size(filter(toks, t => t.isin(stopwords: _*))).cast("double")
    val alpha = size(regexp_extract_all(col("text"), lit("[A-Za-z]"), lit(0)))
      .cast("double")
    docs.select(
        col("doc_id"),
        length(col("text")).cast("long").as("len"),
        size(toks).cast("long").as("n_tokens"),
        round(length(col("text")).cast("double") / nTok, 6).as("mean_tok_len"),
        round(stopHits / nTok, 6).as("stopword_ratio"),
        round(alpha / length(col("text")).cast("double"), 6).as("alpha_ratio"))
      // /100 (not a power of two): n/200 is a 3-digit decimal, so the
      // composite never lands on an exact .5 ulp at the 6th decimal where
      // Spark's and DuckDB's double-rounding could disagree.
      .withColumn("quality",
        round(least(col("stopword_ratio") * 4.0, lit(1.0)) * 0.5 +
              least(col("n_tokens").cast("double") / 100.0, lit(1.0)) * 0.5, 6))
      .orderBy(col("doc_id"))
  }

  /** The per-document curation signals the end-to-end manifest rides
    * (the [[qualityScore]] composite + the [[gopherRules]] keep verdict),
    * computed in ONE map-side projection so the whole per-doc signal set
    * costs a single corpus scan — at 100 TB the difference between this
    * and joining the two standalone ops is a full extra pass over the
    * corpus. Same token/stopword helpers and identical arithmetic as the
    * standalone ops (OpsSpec pins value equality against both), `carry`
    * lists document columns to ride along; `carryTokens` additionally
    * emits the whitespace token count (the packing/repeat-factor input —
    * free here, a second corpus pass anywhere else). Unordered — callers
    * sort. */
  def curationSignals(docs: DataFrame, carry: Seq[String] = Nil,
                      carryTokens: Boolean = false): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("long")
    val stopHits = size(filter(toks, t => t.isin(stopwords: _*))).cast("double")
    val quality = round(
      least(round(stopHits / nTok.cast("double"), 6) * 4.0, lit(1.0)) * 0.5 +
        least(nTok.cast("double") / 100.0, lit(1.0)) * 0.5, 6)
    val sumTokLen = aggregate(toks, lit(0L), (acc, t) => acc + length(t))
    val nAlphaTok = size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("long")
    val nSym = size(regexp_extract_all(col("text"),
      lit("[^A-Za-z0-9\\s]"), lit(0))).cast("long")
    val nStop = size(array_intersect(toks, typedlit(stopwords))).cast("long")
    val keep = (nTok >= GopherMinTokens && nTok <= GopherMaxTokens) &&
      (sumTokLen >= nTok * 3 && sumTokLen <= nTok * 10) &&
      (nAlphaTok * 5 >= nTok * 4) &&
      (nSym * 10 <= length(col("text")).cast("long")) &&
      (nStop >= 2)
    val tokCols = if (carryTokens) Seq(nTok.as("n_tokens")) else Nil
    docs.select(col("doc_id") +: carry.map(col) ++: tokCols :+
      quality.as("quality") :+ keep.as("keep"): _*)
  }

  /** Repetition signals over word n-grams — the Gopher/C4-style boilerplate
    * detectors a corpus-curation pass cuts on: `top_gram_share` (share of
    * the single most repeated n-gram) and `rep_ratio` (fraction of n-gram
    * slots occupied by repeats). Machine-generated/boilerplate text scores
    * high on both; clean prose stays low.
    *
    * Shape at scale: one explode + two partial-aggregated groupBys keyed by
    * doc_id (the second over the per-(doc, gram) counts) and a left join
    * back to the doc list for the <n-token degenerate rows — cost is linear
    * in corpus tokens, shuffles bounded by per-doc distinct-gram counts.
    * Ratios divide two exact integers and round once, so the values are
    * engine-exact. */
  def repetitionStats(docs: DataFrame): DataFrame = {
    val n = 2
    // A document's n-grams all derive from its one `text` cell, so the
    // per-doc rollup never needs to cross rows: sort the gram array and
    // count distinct values / the longest equal run WITHIN the row. Zero
    // shuffles, zero joins — the whole operator is a map over the scan
    // (the explode + two-shuffle formulation measured 6.3x on 10x data at
    // sf1; this one is embarrassingly parallel at any corpus size).
    val toksC = split(F.normalizeText(lower(col("text"))), " ")
    val sortedGrams = array_sort(transform(
      sequence(lit(1), size(col("__toks")) - (n - 1)),
      i => concat_ws(" ", slice(col("__toks"), i, lit(n)))))
    val g = col("__g")
    val total = size(g).cast("long")
    // boundary positions: 1-based indexes where a new distinct gram starts
    // in the sorted array; run lengths are gaps between consecutive
    // boundaries (with a sentinel end at |g|+1), so
    // distinct = |bounds|, top count = max gap.
    val bounds = org.apache.spark.sql.functions.filter(
      sequence(lit(1), size(g)),
      i => i === 1 || element_at(g, i) =!= element_at(g, i - 1))
    val stats = when(total > 0, struct(
        size(bounds).cast("long").as("d"),
        array_max(zip_with(
          concat(slice(bounds, lit(2), size(bounds)), array(size(g) + 1)),
          bounds, (b, a) => b - a)).cast("long").as("t")))
      .otherwise(struct(lit(0L).as("d"), lit(0L).as("t")))
    docs
      .select(col("doc_id"), toksC.as("__toks"))
      .select(col("doc_id"),
        when(size(col("__toks")) >= n, sortedGrams)
          .otherwise(array().cast("array<string>")).as("__g"))
      .select(col("doc_id"), total.as("total_grams"), stats.as("__st"))
      .select(col("doc_id"), col("total_grams"),
        col("__st.d").as("distinct_grams"),
        col("__st.t").as("top_gram_count"),
        coalesce(round(col("__st.t").cast("double")
          / nullif(col("total_grams"), lit(0L)), 6), lit(0.0))
          .as("top_gram_share"),
        coalesce(round(lit(1.0) - col("__st.d").cast("double")
          / nullif(col("total_grams"), lit(0L)), 6), lit(0.0)).as("rep_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Language profiles for the n-gram/marker-word heuristic. Kept tiny and
    * deterministic; real pipelines would load larger profiles the same way. */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "nicht"),
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "zh" -> Seq("的", "是", "不", "了", "在"))

  /** Language ID: marker-word hit count per language, argmax with
    * alphabetical tie-break (deterministic). */
  def languageId(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val scored = langProfiles.foldLeft(docs.select(col("doc_id"), col("text"))) {
      case (df, (lang, markers)) =>
        df.withColumn(s"s_$lang",
          size(filter(toks, t => t.isin(markers: _*))).cast("long"))
    }
    val best = greatest(langProfiles.map { case (l, _) => col(s"s_$l") }: _*)
    val argmax = langProfiles.foldRight(lit("??")) { case ((lang, _), els) =>
      when(col(s"s_$lang") === best, lit(lang)).otherwise(els)
    }
    // zero hits in every profile -> unknown, not first-alphabetical
    val pred = when(best === 0, lit("??")).otherwise(argmax)
    // foldRight gives first-alphabetical-wins (on real ties) because
    // profiles are sorted.
    scored.select((col("doc_id") +:
        langProfiles.map { case (l, _) => col(s"s_$l") }) :+
        pred.as("pred_lang"): _*)
      .orderBy(col("doc_id"))
  }

  /** Unigram language-model score — the CCNet-style quality signal: the
    * average negative log-likelihood of each document's tokens under the
    * corpus's own unigram distribution. High avg_nll = the document is
    * "surprising" relative to the corpus (OCR noise, gibberish); very low
    * = degenerate/boilerplate. A production pipeline scores against a
    * trusted reference corpus (e.g. Wikipedia) and cuts both tails.
    *
    * Per-term −ln p terms are summed under the dsum decimal discipline
    * (order-independent, so partial aggregation can't change the value);
    * ln itself is IEEE double in both engines, with any 1-ulp divergence
    * quantized away by the 10-dp decimal cast (same contract as tx_tfidf).
    *
    * Shape at scale: explode + partial-agg term counts (shuffle bounded by
    * the distinct vocabulary, not corpus tokens), broadcast of the one-row
    * total, a term-keyed equi-join, one partial-agg rollup per doc. */
  def unigramLogProb(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val terms = docs.select(col("doc_id"),
      explode(split(F.normalizeText(lower(col("text"))), " ")).as("term"))
    val freq = terms.groupBy(col("term")).agg(count(lit(1)).as("c"))
    val tot = freq.agg(sum(col("c")).as("n_total"))
    val nll = -log(col("c").cast("double") / col("n_total"))
    terms.join(freq, "term").crossJoin(broadcast(tot))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(nll.cast(DecimalType(30, 10))).cast("double") /
          count(lit(1)), 6).as("avg_nll"))
      .orderBy(col("doc_id"))
  }

  /** Per-source curation profile — the dashboard cut a multi-source corpus
    * pipeline reviews before changing its sampling mix: document count,
    * token volume, quality aggregates (decimal-exact mean, so the value is
    * independent of partial-aggregation order), and each source's share of
    * the corpus.
    *
    * Shape at scale: the per-doc quality pass is map-only; the profile is
    * one partial-aggregated groupBy over |sources| keys plus a broadcast of
    * the one-row corpus count. The doc_id join between quality and source
    * disappears on a real deployment (quality is computed with source in
    * flight); it exists here only because qualityScore's projection is
    * pinned by its own oracle. */
  def sourceProfile(docs: DataFrame): DataFrame = {
    import graft.queries.davg
    val q = qualityScore(docs)
      .select(col("doc_id"), col("n_tokens"), col("quality"))
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
    val tot = docs.agg(count(lit(1)).as("n_total"))
    q.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        davg(col("quality")).as("avg_quality"),
        min(col("quality")).as("min_quality"),
        max(col("quality")).as("max_quality"))
      .crossJoin(broadcast(tot))
      .withColumn("corpus_share",
        round(col("n_docs").cast("double") / col("n_total"), 6))
      .drop("n_total")
      .orderBy(col("source"))
  }

  /** PII patterns, deliberately conservative: pure-ASCII classes, bounded
    * quantifiers, no backreferences/lookaround — the subset where Java's
    * regex (Spark) and RE2 (DuckDB, Go tooling) agree match-for-match, so
    * the scrub is reproducible across engines. No `\b`/`\d` shorthands:
    * explicit classes leave nothing to dialect defaults. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
  val PhoneRe = "\\+[0-9][0-9-]{6,}[0-9]"

  /** PII scrub — the redaction pass a training corpus needs before anything
    * ships: emails, IPv4 literals, and international-format phone numbers
    * are replaced with typed placeholder tokens, with per-document match
    * counts so curation can drop PII-dense documents outright.
    *
    * Counts are independent leftmost matches of each pattern against the
    * RAW text; the scrub then applies email → IP → phone sequentially (an
    * email is scrubbed before its digits can look like anything else).
    * Emitted as counts + md5 of the scrubbed text + the length delta —
    * everything needed to verify the scrub without materializing scrubbed
    * text in the result. Map-only (regex per row, no shuffle): linear scan
    * at any corpus size, stays inside whole-stage codegen. */
  def piiScrub(docs: DataFrame): DataFrame = {
    val raw = col("text")
    val scrubbed =
      regexp_replace(
        regexp_replace(
          regexp_replace(raw, EmailRe, "<EMAIL>"),
          Ipv4Re, "<IP>"),
        PhoneRe, "<PHONE>")
    docs.select(
        col("doc_id"),
        size(regexp_extract_all(raw, lit(EmailRe), lit(0))).cast("long")
          .as("n_emails"),
        size(regexp_extract_all(raw, lit(Ipv4Re), lit(0))).cast("long")
          .as("n_ips"),
        size(regexp_extract_all(raw, lit(PhoneRe), lit(0))).cast("long")
          .as("n_phones"),
        md5(scrubbed).as("scrub_fp"),
        (length(raw) - length(scrubbed)).cast("long").as("len_delta"))
      .orderBy(col("doc_id"))
  }

  /** The Gopher r_tokens bounds, shared by [[gopherRules]] and
    * [[curationSignals]]. */
  private val GopherMinTokens = 50
  private val GopherMaxTokens = 100000

  /** Gopher-style rule gate — the multi-rule document filter (Rae et al.,
    * "Scaling Language Models: Methods, Analysis & Insights from Training
    * Gopher", appendix A1.1) re-expressed with INTEGER-exact thresholds so
    * no engine can disagree on a boundary document:
    *   r_tokens   — token count within [50, 100000]
    *   r_word_len — mean token length in [3, 10] chars,
    *                tested as 3·n ≤ Σlen(tok) ≤ 10·n (no division)
    *   r_alpha    — ≥ 80% of tokens contain a letter: 5·n_alpha ≥ 4·n
    *   r_symbol   — symbol chars ≤ 10% of text: 10·n_sym ≤ len(text)
    *   r_stop     — ≥ 2 distinct stopwords present
    * `keep` is the conjunction; the per-rule booleans are emitted so
    * curation can see WHY a document was cut, not just that it was.
    * Map-only (pure column expressions): linear scan, zero shuffle. */
  def gopherRules(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("long")
    val sumTokLen = aggregate(toks, lit(0L), (acc, t) => acc + length(t))
    val nAlphaTok = size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("long")
    val nSym = size(regexp_extract_all(col("text"),
      lit("[^A-Za-z0-9\\s]"), lit(0))).cast("long")
    val nStop = size(array_intersect(toks, typedlit(stopwords))).cast("long")
    docs.select(
        col("doc_id"), nTok.as("n_tokens"),
        (nTok >= GopherMinTokens && nTok <= GopherMaxTokens).as("r_tokens"),
        (sumTokLen >= nTok * 3 && sumTokLen <= nTok * 10).as("r_word_len"),
        (nAlphaTok * 5 >= nTok * 4).as("r_alpha"),
        (nSym * 10 <= length(col("text")).cast("long")).as("r_symbol"),
        (nStop >= 2).as("r_stop"))
      .withColumn("keep",
        col("r_tokens") && col("r_word_len") && col("r_alpha") &&
          col("r_symbol") && col("r_stop"))
      .orderBy(col("doc_id"))
  }

  /** The collapsed per-document gram stream: one row per DISTINCT n-gram
    * per document with its in-doc count, computed INSIDE each row (sort
    * the gram array, read distinct values + run lengths off the sorted
    * order — the same zero-shuffle kernel as repetitionStats) and only
    * then exploded. Consumers downstream see a stream already shrunk by
    * the in-doc repetition factor, and because no filter sits between the
    * scan and the explode, the tokenize regex runs exactly once per pass
    * (a filter(size(toks) >= n) gets pushed below the projection and
    * re-evaluates the split — measured as 2x tokenize per pass; shorter
    * docs explode an empty array instead, which drops the row for free
    * and keeps the excluded-doc contract). Carried columns (`carry`) ride
    * alongside doc_id. */
  private[graft] def docGramCounts(docs: DataFrame, n: Int,
                                   carry: Seq[String]): DataFrame = {
    val keep = col("doc_id") +: carry.map(col)
    val sortedGrams = array_sort(transform(
      sequence(lit(1), size(col("__toks")) - (n - 1)),
      i => concat_ws(" ", slice(col("__toks"), i, lit(n)))))
    val g = col("__g")
    val bounds = org.apache.spark.sql.functions.filter(
      sequence(lit(1), size(g)),
      i => i === 1 || element_at(g, i) =!= element_at(g, i - 1))
    val runs = zip_with(
      concat(slice(bounds, lit(2), size(bounds)), array(size(g) + 1)),
      bounds, (b, a) => b - a)
    // guard on |g| > 0: sequence(1, 0) is DESCENDING in Spark, so the
    // boundary scan over an empty gram array would visit index 0 and trip
    // ANSI element_at — the when() short-circuits it (If evaluates only
    // the taken branch).
    val gramCounts = when(size(g) > 0,
        zip_with(transform(bounds, i => element_at(g, i)), runs,
          (gr, c) => struct(gr.as("g"), c.as("c"))))
      .otherwise(array().cast("array<struct<g:string,c:int>>"))
    docs
      .select(keep :+
        split(F.normalizeText(lower(col("text"))), " ").as("__toks"): _*)
      .select(keep :+
        (when(size(col("__toks")) >= n, sortedGrams)
          .otherwise(array().cast("array<string>")).as("__g")): _*)
      .select(keep :+ explode(gramCounts).as("gc"): _*)
      .select(keep :+ col("gc.g").as("g") :+
        col("gc.c").cast("long").as("c"): _*)
  }

  /** Bigram vocabularies up to this many rows broadcast into the score
    * join; larger ones take the shuffle join. */
  private val BroadcastVocabMax = 2000000L

  /** Bigram language-model score — unigramLogProb's sharper sibling: the
    * average −ln P(wᵢ | wᵢ₋₁) with P = c(wᵢ₋₁wᵢ)/c(wᵢ₋₁·), both counts from
    * the corpus's own bigram table. Word-salad text that fools a unigram
    * model (common words, impossible order) scores high here. Documents
    * shorter than 2 tokens carry no bigram and are excluded.
    *
    * Same determinism contract as unigramLogProb: per-bigram −ln p cast to
    * DECIMAL(30,10) before the order-independent sum, so partial
    * aggregation cannot change the value and a 1-ulp ln divergence
    * quantizes away.
    *
    * Shape at scale: one explode into (doc, w₁, w₂); bigram counts and
    * their per-prefix rollup are partial-aggregated (shuffles bounded by
    * the bigram vocabulary, not corpus tokens). The per-prefix totals are
    * folded into the bigram table FIRST (a vocab-sized ⋈ vocab-sized join
    * — the w₁-keyed stream there is bounded by the vocabulary, so a hot
    * prefix like "the" skews a vocab row set, not the corpus), and the
    * pair stream then meets ONE score table keyed on the full bigram —
    * well-hashed keys, a single big-stream join instead of two, and no
    * corpus-sized stream ever shuffles on the skewed prefix alone. */
  def bigramLogProb(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // Tokens are space-free (normalizeText collapses all whitespace), so
    // the "w1 w2" gram splits back unambiguously.
    val dpc = docGramCounts(docs, 2, Nil)
      .select(col("doc_id"),
        substring_index(col("g"), " ", 1).as("w1"),
        substring_index(col("g"), " ", -1).as("w2"),
        col("c"))
    // Bigram counts roll up from the collapsed stream (map-side combine
    // bounds the shuffle by vocabulary x partitions, never corpus
    // tokens); materialized once — ctx, the score join, AND the one-row
    // vocabulary probe below all derive from it.
    val bg = Dedup.materialize(
      dpc.groupBy(col("w1"), col("w2")).agg(sum(col("c")).as("cb")))
    val ctx = bg.groupBy(col("w1")).agg(sum(col("cb")).as("cp"))
    val scores = bg.join(ctx, Seq("w1"))
      .select(col("w1"), col("w2"),
        (-log(col("cb").cast("double") / col("cp"))).as("nll"))
    // Size-adaptive score join (same class of bounded driver probe as the
    // ngramJaccardCanonical block census): a natural-language bigram vocabulary is
    // sublinear in the corpus (Heaps' law) and broadcastable far beyond
    // this library's test scales — then the corpus stream never shuffles
    // at all, and the per-doc rollup collapses map-side because the
    // stream is still doc-contiguous from the scan. Past the bound, fall
    // back to the hash-keyed shuffle join (the designed 100 TB path for a
    // vocabulary that outgrows executor memory).
    val scored =
      if (bg.count() <= BroadcastVocabMax)
        dpc.join(broadcast(scores), Seq("w1", "w2"))
      else dpc.join(scores, Seq("w1", "w2"))
    // sum(c * nll-as-decimal) == adding the quantized nll c times: exact,
    // order-independent, same determinism contract as before. Operand
    // precisions are kept narrow (20,10)x(10,0) -> (31,10) so the product
    // stays under Spark's 38-digit cap with scale 10 intact — a (30,10)
    // operand would overflow precision and silently shrink the scale,
    // rounding the products (observed as 1e-6 drift vs the oracle).
    scored.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"),
        round(sum(col("nll").cast(DecimalType(20, 10)) *
            col("c").cast(DecimalType(10, 0)))
          .cast("double") / sum(col("c")), 6).as("avg_nll"))
      .orderBy(col("doc_id"))
  }

  /** Document fingerprinting: md5 of the normalized text, plus a rolling
    * shingle fingerprint (min md5 over word 5-grams — stable under content
    * reordering of surrounding docs, position-independent).
    *
    * Shingles are generated by explode + min-aggregate rather than a
    * `transform(sequence(...))` lambda: the higher-order function evaluates
    * md5 per element in the interpreter, while the exploded form keeps
    * slice/concat/md5 inside whole-stage codegen with map-side partial
    * aggregation (the shuffle carries one (doc_id, min) row per partition). */
  def fingerprint(docs: DataFrame): DataFrame = {
    val norm = F.normalizeText(lower(col("text")))
    val base = docs.select(col("doc_id"), md5(norm).as("fp_doc"),
      split(norm, " ").as("toks"))
    val shingleMin = base
      .filter(size(col("toks")) >= 5)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(1), size(col("toks")) - 4)).as("i"))
      .select(col("doc_id"),
        md5(concat_ws(" ", slice(col("toks"), col("i"), lit(5)))).as("sh"))
      .groupBy(col("doc_id")).agg(min(col("sh")).as("fp_sh"))
    base.join(shingleMin, Seq("doc_id"), "left")
      .select(col("doc_id"), col("fp_doc"),
        coalesce(col("fp_sh"), col("fp_doc")).as("fp_shingle"))
      .orderBy(col("doc_id"))
  }

  /** Per-language top-N bigram frequency table — the phrase census a
    * tokenizer build or stopword audit starts from. One corpus explode
    * into (lang, bigram) collapses map-side into the vocab-sized count
    * table; the top-N cut runs in TWO phases so no task ever sorts a whole
    * language's vocabulary: phase 1 ranks within (lang, bigram-hash slice)
    * — 64 slices × |langs| partitions sort vocab/64 rows each — and keeps
    * each slice's local top-N, a provable superset of the global top-N
    * (dropping a row ranked > N inside its slice cannot evict a global
    * top-N row under the same (n desc, bigram) order); phase 2 ranks the
    * ≤ 64·N survivors per language. Without the pre-cut the final window
    * partitions by lang ALONE — ~10 single-threaded sorts of the full
    * vocabulary, measured 8× on 10× data at sf1 as the vocabulary grew
    * linearly. Tie-break on the bigram string (binary UTF-8 order in both
    * engines) keeps both phases total-order deterministic. */
  def ngramFreq(docs: DataFrame): DataFrame = {
    val (topN, slices) = (10, 64)
    // per-doc collapsed gram counts (docGramCounts): the explode emits one
    // row per distinct gram per doc, and the vocab rollup sums the in-doc
    // counts — same totals, smaller stream, single tokenize pass.
    val counts = docGramCounts(docs, 2, Seq("lang"))
      .groupBy(col("lang"), col("g").as("bigram"))
      .agg(sum(col("c")).as("n"))
    val slice = pmod(xxhash64(col("bigram")), lit(slices.toLong))
    val byCount = Seq(col("n").desc, col("bigram"))
    val pre = topK(counts, Seq(col("lang"), slice), byCount, topN, "lr").drop("lr")
    topK(pre, Seq(col("lang")), byCount, topN, "rank")
      .orderBy(col("lang"), col("rank"))
  }

  /** DSIR importance weights (Xie et al., "Data Selection for Language
    * Models via Importance Resampling", NeurIPS 2023): score every document
    * by how much its hashed-n-gram profile looks like a TARGET slice of the
    * corpus versus the corpus as a whole —
    * w(doc) = Σ_features log(p_target(b) / p_raw(b)), features = word
    * unigrams + bigrams hashed into `buckets` buckets, both distributions
    * add-one smoothed. Resampling docs ∝ exp(w) reproduces the paper's
    * selection; the weight itself is the judged output.
    *
    * Scale shape: the feature space is FIXED at `buckets` — both
    * distribution estimates are map-side-combined aggregates bounded by
    * buckets × partitions regardless of corpus size, the log-ratio table is
    * `buckets` rows broadcast, and the per-doc rollup collapses map-side
    * because the gram stream stays doc-contiguous from the scan. Nothing in
    * the plan grows super-linearly with the corpus; this is exactly the
    * posture that lets DSIR run at web-corpus scale in the paper.
    *
    * Determinism: per-bucket log-ratio is rounded to 6 dp, then the per-doc
    * sum runs in DECIMAL (exact, order-independent — the
    * tx_unigram_logprob discipline). */
  def dsirWeights(docs: DataFrame, target: Column,
                  buckets: Int = 4096): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // r16 (guide §2.3/§2.4): the bucketed gram table feeds THREE consumers
    // (raw bucket census, target bucket census, per-doc rollup), and
    // docGramCounts is map-only — unmaterialized, each consumer re-ran the
    // full tokenize + in-row sort + explode + seededHash over the corpus,
    // twice (unigrams + bigrams): six corpus passes for one logical scan.
    // Collapse per (doc, bucket) first (map-side partial agg — the gram
    // stream is doc-contiguous from the scan), then checkpoint the narrow
    // (doc_id, __t, b, c) rows once; every downstream aggregate is a sum,
    // so pre-summing per (doc_id, b) is exact. Measured at sf0.1:
    // stage:dsir 7.0–7.8 s → ~3.4 s (and the f30 cut drops ∝ the five
    // removed corpus passes).
    def bucketCounts(n: Int) =
      docGramCounts(docs.withColumn("__t", target), n, Seq("__t"))
        .select(col("doc_id"), col("__t"),
          pmod(Dedup.seededHash(29, col("g")), lit(buckets.toLong)).as("b"),
          col("c"))
    val grams = Dedup.materialize(
      bucketCounts(1).unionByName(bucketCounts(2))
        .groupBy(col("doc_id"), col("__t"), col("b"))
        .agg(sum(col("c")).as("c")))
    // Corpus-wide and target-slice bucket counts: two aggregates over the
    // same bounded key space, joined into one buckets-row score table.
    val raw = grams.groupBy(col("b")).agg(sum(col("c")).as("cr"))
    val tgt = grams.filter(col("__t")).groupBy(col("b"))
      .agg(sum(col("c")).as("ct"))
    val totals = raw.agg(sum(col("cr")).as("tr")).crossJoin(
      tgt.agg(sum(col("ct")).as("tt")))
    val lambda = raw.join(tgt, Seq("b"), "left")
      .crossJoin(broadcast(totals))
      .select(col("b"),
        round(
          log((coalesce(col("ct"), lit(0L)) + 1).cast("double") /
              (col("tt") + buckets)) -
          log((col("cr") + 1).cast("double") / (col("tr") + buckets)), 6)
          .cast(DecimalType(20, 6)).as("lam"))
    grams.join(broadcast(lambda), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_feats"),
        round(sum(col("lam") * col("c").cast(DecimalType(10, 0)))
          .cast("double"), 6).as("dsir_weight"))
      .orderBy(col("doc_id"))
  }

  /** First-iteration BPE merge census (Sennrich et al. 2016): the
    * byte-pair frequency table a tokenizer build derives its first merge
    * from — every adjacent character pair inside each vocabulary word,
    * weighted by the word's corpus frequency, ranked by total count.
    *
    * Scale shape: pair generation runs over the DISTINCT word vocabulary
    * (Heaps-sublinear), not the corpus stream; the word census collapses
    * map-side; the pair rollup is bounded by |alphabet|² keys. The only
    * full-corpus pass is the census scan. */
  def bpeMergeCensus(docs: DataFrame): DataFrame = {
    val topN = 50
    val census = docs
      .select(explode(split(F.normalizeText(lower(col("text"))), " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
    val pairs = census
      .select(col("wc"),
        explode(transform(sequence(lit(1), length(col("w")) - 1),
          i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair")).agg(sum(col("wc")).as("n"))
    // |alphabet|² rows at most — one tiny final rank.
    topK(pairs, Nil, Seq(col("n").desc, col("pair")), topN, "rank")
      .orderBy(col("rank"))
  }

  /** N-round BPE merge loop (Sennrich et al. 2016 §3) — the actual
    * tokenizer-training iteration, not just the first-merge census: each
    * round counts adjacent symbol pairs over the evolving vocabulary
    * (weighted by word frequency), picks the most frequent pair
    * (count desc, then lexicographic — deterministic), and merges it
    * left-to-right non-overlapping in every word. Output: one row per
    * round with the merged pair and its count.
    *
    * Scale shape: the ONLY corpus-sized pass is the word census; every
    * round after that transforms the distinct-word vocabulary
    * (Heaps-sublinear) — a bounded pair rollup plus a map-only string
    * rewrite, re-materialized per round so plans stay flat. The per-round
    * argmax is a 1-row TakeOrdered collect (the IVF probe class). The
    * vocabulary is pre-tokenized to alphanumeric words (standard BPE
    * practice), which also guarantees the \u0001 symbol separator can
    * never collide with text.
    *
    * The merge rewrite is the double-separator trick, shared verbatim
    * with the DuckDB oracle so both engines run the identical algorithm:
    * symbols joined by SEP, separators doubled, the pattern
    * `SEP l SEP SEP r SEP` replaced (plain left-to-right non-overlapping
    * replace — exactly BPE's merge order), doubles collapsed, ends
    * trimmed. "aaa" under merge (a,a) → "aa·a", not "a·aa".
    *
    * Returns the loop's two tables — (merges, final vocab (w, wc, rep))
    * — so callers can stage them once per SF and fan both the merge-table
    * query and the encode query off the staged result. */
  def bpeTrainFrames(docs: DataFrame, rounds: Int): (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (merges, vocab) = bpeTrain(docs, rounds)
    (merges.toDF("round", "sym_l", "sym_r", "merged", "n"), vocab)
  }

  /** Apply the trained merges back to the corpus: every qualifying word
    * carries the segmentation its vocabulary row ended the merge loop
    * with, so encoding is one join of the (Heaps-sublinear) vocabulary
    * (w, wc, rep) from [[bpeTrainFrames]] against the exploded word stream
    * plus a per-doc rollup — the tokenizer-APPLY side of the train loop,
    * reporting per-document BPE token counts and the chars-per-token
    * compression the tokenizer actually achieves on its own training
    * corpus. Train once, encode any table. */
  def bpeEncodeWith(docs: DataFrame, vocabRep: DataFrame): DataFrame = {
    val vocab = vocabRep
      .select(col("w"),
        size(split(col("rep"), java.util.regex.Pattern.quote(BpeSep)))
          .cast("long").as("n_syms"))
    docs
      .select(col("doc_id"),
        explode(split(F.normalizeText(lower(col("text"))), " ")).as("w"))
      .filter(length(col("w")) >= 2 && col("w").rlike("^[a-z0-9]+$"))
      .join(vocab, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_syms")).as("n_bpe_tokens"),
        sum(length(col("w")).cast("long")).as("n_chars"))
      .select(col("doc_id"), col("n_words"), col("n_bpe_tokens"),
        col("n_chars"),
        expr("n_bpe_tokens * 1000000 DIV n_words").as("tokens_per_word_ppm"))
      .orderBy(col("doc_id"))
  }

  /** The \u0001 symbol separator of the BPE loop — guaranteed collision-
    * free because the vocabulary is pre-tokenized to [a-z0-9]+ words. */
  private val BpeSep = "\u0001"

  /** Fingerprints the 5-round train loop (census filter, merge rule,
    * separator discipline) for the per-SF BPE stage. */
  val BpeStageTag = "bpe5_v1"

  /** Fingerprints dsirWeights(target = lang='en', 4096 buckets) for the
    * per-SF DSIR weight stage — bump with any change to dsirWeights. */
  val DsirStageTag = "dsiren4096_v1"

  /** The shared train loop: returns (merge rows, final vocabulary
    * (w, wc, rep)). Stops early when no pair remains (fully merged). */
  private def bpeTrain(docs: DataFrame, rounds: Int)
      : (Seq[(Long, String, String, String, Long)], DataFrame) = {
    val sep = BpeSep
    val vocab0 = Dedup.materialize(docs
      .select(explode(split(F.normalizeText(lower(col("text"))), " ")).as("w"))
      .filter(length(col("w")) >= 2 && col("w").rlike("^[a-z0-9]+$"))
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
      .select(col("w"), col("wc"),
        concat_ws(sep, transform(sequence(lit(1), length(col("w"))),
          i => col("w").substr(i, lit(1)))).as("rep")))
    val out = collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    var cur = vocab0
    var r = 1
    var dry = false
    while (r <= rounds && !dry) {
      val counts = cur
        .select(col("wc"), split(col("rep"), java.util.regex.Pattern.quote(sep)).as("syms"))
        .filter(size(col("syms")) >= 2)
        .select(col("wc"),
          explode(transform(sequence(lit(1), size(col("syms")) - 1), i =>
            struct(element_at(col("syms"), i).as("l"),
              element_at(col("syms"), i + 1).as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("wc")).as("n"))
      val best = counts.orderBy(col("n").desc, col("l"), col("r")).limit(1).collect()
      if (best.isEmpty) dry = true
      else {
        val (l, rr, n) = (best(0).getAs[String]("l"), best(0).getAs[String]("r"),
          best(0).getAs[Long]("n"))
        out += ((r.toLong, l, rr, l + rr, n))
        cur = Dedup.materialize(cur.select(col("w"), col("wc"),
          trim(
            replace(
              replace(
                concat(lit(sep), replace(col("rep"), lit(sep), lit(sep + sep)), lit(sep)),
                lit(sep + l + sep + sep + rr + sep), lit(sep + l + rr + sep)),
              lit(sep + sep), lit(sep)),
            sep).as("rep")))
      }
      r += 1
    }
    (out.toSeq, cur)
  }

  /** Per-document n-gram novelty: the fraction of a document's distinct
    * word shingles that occur in NO other document — the complement of the
    * boilerplate/duplication signal, used to rank documents by how much
    * genuinely new text they contribute to a corpus (the ExactSubstr
    * family's per-doc rollup, at shingle granularity).
    *
    * Scale shape (the ExactSubstr posture): corpus-wide shingle document
    * frequency is a partition-only window over the shingle — ONE shuffle,
    * no join-back (shingles are mostly unique, so a groupBy's partial
    * aggregate would barely shrink the stream) — followed by one doc-keyed
    * rollup. Shingles are distinct within a doc (Dedup.shingles), so the
    * window count IS the document frequency. */
  def ngramNovelty(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = docs.select(col("doc_id"),
      explode(Dedup.shingles(col("text"))).as("g"))
    g.withColumn("df", count(lit(1)).over(Window.partitionBy(col("g"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"),
        round(sum(when(col("df") === 1, 1L).otherwise(0L)).cast("double") /
          count(lit(1)), 6).as("novelty"))
      .orderBy(col("doc_id"))
  }

  /** Exact pairwise shingle-set Jaccard between SOURCES — the
    * corpus-composition overlap matrix a data-mixing decision reads
    * (two crawls sharing 40% of their shingles should not both be
    * upweighted). Exact, not MinHash-estimated: source count is a bounded
    * dimension, so exactness is affordable at any corpus size.
    *
    * Scale shape: the only corpus-bounded shuffle is the distinct
    * (source, shingle) stream; sources then collapse into ONE bitmask row
    * per distinct shingle (bit_or over a broadcast-ranked source index),
    * and the mask census — at most min(2^|sources|, |shingles|) rows,
    * in practice a handful — carries all pairwise intersection counts
    * through a tiny in-row bit expansion. Nothing pairwise ever touches
    * corpus-sized data; adding a source adds a bit, not a pass. */
  def sourcePairJaccard(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Dense source index: a bounded dim table; the 1-partition window
    // ranks |sources| rows, never data.
    val srcIdx = docs.select(col("source")).distinct()
      .select(col("source"),
        (row_number().over(Window.orderBy(col("source"))) - 1).as("sidx"))
    val masks = docs
      .select(col("source"), explode(Dedup.shingles(col("text"))).as("g"))
      .distinct()
      .join(broadcast(srcIdx), Seq("source"))
      .groupBy(col("g"))
      .agg(bit_or(expr("shiftleft(CAST(1 AS BIGINT), sidx)")).as("mask"))
    val census = masks.groupBy(col("mask")).agg(count(lit(1)).as("n_grams"))
      .withColumn("bs", expr(
        "filter(sequence(0, 62), i -> shiftright(mask, i) % 2 = 1)"))
    val inter = census
      .select(col("n_grams"), col("bs"), explode(col("bs")).as("ia"))
      .select(col("n_grams"), col("ia"), explode(col("bs")).as("ib"))
      .filter(col("ia") < col("ib"))
      .groupBy(col("ia"), col("ib")).agg(sum(col("n_grams")).as("n_inter"))
    val sizes = census
      .select(col("n_grams"), explode(col("bs")).as("ia"))
      .groupBy(col("ia")).agg(sum(col("n_grams")).as("sz"))
    // Full a<b pair frame over the source dim (zero-overlap pairs kept).
    val a = srcIdx.select(col("source").as("src_a"), col("sidx").as("ia"))
    val b = srcIdx.select(col("source").as("src_b"), col("sidx").as("ib"))
    a.join(b, col("ia") < col("ib"))
      .join(inter, Seq("ia", "ib"), "left")
      .join(sizes.select(col("ia"), col("sz").as("sa")), Seq("ia"))
      .join(sizes.select(col("ia").as("ib"), col("sz").as("sb")), Seq("ib"))
      .select(col("src_a"), col("src_b"),
        coalesce(col("n_inter"), lit(0L)).as("n_inter"),
        (col("sa") + col("sb") - coalesce(col("n_inter"), lit(0L))).as("n_union"),
        round(coalesce(col("n_inter"), lit(0L)).cast("double") /
          (col("sa") + col("sb") - coalesce(col("n_inter"), lit(0L))), 6)
          .as("jaccard"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Hashed-feature linear classifier score — the model-based quality gate
    * from public LLM data pipelines (GPT-3's WebText-similarity filter,
    * LLaMA's reference classifier; Brown et al. 2020 §A): each unigram
    * hashes to a feature bucket, the document score is the mean bucket
    * weight, and documents with positive score pass the gate.
    *
    * The judged weight table is DETERMINISTIC — w(t) = h(t) mod 2001 ∈
    * [0, 2000] with 1000 the neutral midpoint, h the shared md5 seededHash
    * family — so the cross-engine hash/score/threshold kernel is pinned
    * exactly; a real deployment swaps the hash-derived weight for a
    * broadcast join against learned weights (same plan shape: the score
    * table is vocabulary-sized, the per-doc rollup unchanged).
    *
    * Shape at scale: integer weights are exact, so the per-doc sum partial-
    * aggregates map-side (token stream collapses to one row per document
    * per partition before the exchange); the hash is the codegen'd
    * md5Hash60 — no interpreted lambda in the hot loop. One bounded
    * shuffle. The score is FIXED-POINT end to end — the mean weight in
    * integer micro-units (floor division on positive operands, where
    * Spark's DIV and DuckDB's // agree), centered and rendered as an exact
    * double — and the gate compares integers, so there is no float
    * rounding boundary anywhere (round(wsum/(1000n), 6) with these small
    * round denominators DOES land on .5 ties at corpus scale). */
  def classifierScore(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(split(F.normalizeText(lower(col("text"))), " ")).as("term"))
    toks
      .select(col("doc_id"), (Dedup.seededHash(31, col("term")) % 2001).as("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("w")).as("wsum"))
      .select(col("doc_id"), col("n_tokens"),
        ((expr("(wsum * 1000000) DIV n_tokens") - 1000000000L).cast("double") /
          lit(1000000000L)).as("clf_score"),
        (col("wsum") > col("n_tokens") * 1000L).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): documents are
    * scored by the corpus's own unigram LM (unigramLogProb — lower avg
    * negative log-likelihood = more typical text) and split into
    * head / middle / tail terciles; CCNet trains on head+middle and
    * audits tail. Cut points ride one broadcast row (the tp2_curriculum
    * posture); assignment is a map-side comparison against the 6-dp-rounded
    * cuts, on the same 6-dp-rounded scores both engines compute.
    *
    * At 100 TB the exact percentile over per-doc scores becomes
    * approx_percentile (mergeable t-digest) — same one-row broadcast, cuts
    * within sketch error; exact is kept here for the oracle (the
    * tx_quality_filter stance). */
  def perplexityBuckets(docs: DataFrame): DataFrame = {
    val scored = unigramLogProb(docs)
    // tercile fractions as DOUBLE division on both engines — a bare 1.0/3
    // literal is DECIMAL division in both Spark and DuckDB, each at its
    // own scale, which would feed the two quantile calls different
    // fractions
    val cuts = scored.agg(
      round(expr("percentile(avg_nll, cast(1 as double)/3)"), 6).as("cut_head"),
      round(expr("percentile(avg_nll, cast(2 as double)/3)"), 6).as("cut_middle"))
    scored.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("avg_nll"),
        when(col("avg_nll") <= col("cut_head"), lit("head"))
          .when(col("avg_nll") <= col("cut_middle"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"),
        col("cut_head"), col("cut_middle"))
      .orderBy(col("doc_id"))
  }

  /** Lexical diversity — vocabulary-richness signals next to the
    * repetition detectors: type-token ratio and hapax-legomenon share
    * (fraction of a doc's vocabulary used exactly once; template/boiler-
    * plate text has low TTR and low hapax share, word-salad spam has
    * both ≈ 1). Ratios are reported in integer parts-per-million (floor
    * division on positive operands) — TTR denominators are small round
    * integers, exactly the shape that lands round(double) on .5 ties.
    *
    * Shape at scale: the repetitionStats kernel — sort the token array
    * INSIDE the row, read distinct types and run lengths off the sorted
    * order. Zero shuffles, zero joins; a pure map over the scan. */
  def lexicalDiversity(docs: DataFrame): DataFrame = {
    val g = col("__g")
    val bounds = org.apache.spark.sql.functions.filter(
      sequence(lit(1), size(g)),
      i => i === 1 || element_at(g, i) =!= element_at(g, i - 1))
    val gaps = zip_with(
      concat(slice(bounds, lit(2), size(bounds)), array(size(g) + 1)),
      bounds, (b, a) => b - a)
    docs
      .select(col("doc_id"),
        array_sort(split(F.normalizeText(lower(col("text"))), " ")).as("__g"))
      .select(col("doc_id"), size(g).cast("long").as("n_tokens"),
        size(bounds).cast("long").as("n_types"),
        size(org.apache.spark.sql.functions.filter(gaps, x => x === 1))
          .cast("long").as("n_hapax"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"), col("n_hapax"),
        expr("(n_types * 1000000) DIV n_tokens").as("ttr_ppm"),
        expr("(n_hapax * 1000000) DIV n_types").as("hapax_ppm"))
      .orderBy(col("doc_id"))
  }

  /** Keyword-in-context — the snippet half of corpus search ([[termLookup]]
    * is the stats half): every occurrence of a query term with its ±window
    * surrounding tokens, the evidence view an attribution or contamination
    * review actually reads.
    *
    * Shape at scale: same posture as termLookup — the IN-list filter runs
    * against the exploded token stream map-side, the context slice reads
    * the token array already in the row (no join back to the text), and
    * nothing aggregates: output rows = total occurrences of the query
    * terms, the quantity the caller asked to see. Pagination is the
    * caller's cut (ORDER BY term, doc, pos is the stable page key). */
  def kwic(docs: DataFrame, terms: Seq[String]): DataFrame = {
    val window = 2
    val start = greatest(col("pos0") + 1 - window, lit(1))
    val stop = least(col("pos0") + 1 + window, size(col("toks")))
    docs
      .select(col("doc_id"),
        split(F.normalizeText(lower(col("text"))), " ").as("toks"))
      .select(col("doc_id"), col("toks"),
        posexplode(col("toks")).as(Seq("pos0", "term")))
      .filter(col("term").isin(terms: _*))
      .select(col("term"), col("doc_id"),
        (col("pos0") + 1).cast("long").as("pos"),
        concat_ws(" ", slice(col("toks"), start, stop - start + 1))
          .as("context"))
      .orderBy(col("term"), col("doc_id"), col("pos"))
  }

  /** Inverted-index term lookup — the corpus-search primitive behind
    * membership/attribution audits ("how many documents contain X, and
    * where"; cf. WIMBD, Elazar et al. 2024): per query term, document
    * frequency, collection frequency, and the first/last containing
    * document. Terms absent from the corpus report zeros (−1 doc ids) —
    * a search must distinguish "not found" from "not indexed".
    *
    * Shape at scale: the literal IN-list filter runs map-side against the
    * token stream BEFORE any exchange, so the shuffle carries only
    * matching (term, doc) rows — cost follows the query terms' posting
    * sizes, not the corpus; the final frame is |terms| rows joined against
    * the tiny census. A standing search service would stage the full
    * inverted index once (term-bucketed parquet) and equi-join it; this
    * operator is the ad-hoc scan-time form. */
  def termLookup(docs: DataFrame, terms: Seq[String]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val termDim = terms.toDF("term")
    val census = docs
      .select(col("doc_id"),
        explode(split(F.normalizeText(lower(col("text"))), " ")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"), count(lit(1)).as("tf"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
    termDim.join(broadcast(census), Seq("term"), "left")
      .select(col("term"),
        coalesce(col("df"), lit(0L)).as("df"),
        coalesce(col("tf"), lit(0L)).as("tf"),
        coalesce(col("first_doc"), lit(-1L)).as("first_doc"),
        coalesce(col("last_doc"), lit(-1L)).as("last_doc"))
      .orderBy(col("term"))
  }

  /** BM25 ranking (Robertson et al., Okapi TREC-3 '94) for a fixed query
    * term set over the inverted-index tokenization — the retrieval scorer
    * an LLM-data search/curation stack runs after ix1's posting lookup.
    * idf is the standard `ln((N − df + ½)/(df + ½) + 1)` (Lucene's
    * non-negative variant); tf saturates at k1, length-normalized by b.
    *
    * Scale shape: the token stream is filtered to the query terms BEFORE
    * any exchange (the ix1 discipline — an IN-list over a handful of
    * terms cuts the corpus stream map-side); document length is computed
    * in-row off the same split (no second corpus pass); df is
    * term-bounded and broadcast; each per-(doc,term) score rounds at 6 dp
    * into DECIMAL(20,6) so the per-doc sum is exact and order-independent
    * (the tx_langid lam discipline); the top-k leaves via TakeOrdered.
    * Every arithmetic step keeps ONE operand order — the DuckDB twin is
    * written with the identical shape. */
  def bm25(docs: DataFrame, terms: Seq[String]): DataFrame = {
    val topK = 100
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    // Terms pass through the SAME normalization as the document stream
    // (lower + whitespace-collapse) — an uppercase or padded term could
    // otherwise never match a normalized token.
    val normTerms = terms.map(normalizeQueryToken).filter(_.nonEmpty).distinct
    val arr = split(F.normalizeText(lower(col("text"))), " ")
    val withArr = docs.select(col("doc_id"), arr.as("arr"))
    // corpus stats: one bounded row (exact integer length sum)
    val stats = withArr
      .agg(count(lit(1)).as("n_docs"),
        sum(size(col("arr")).cast("long")).as("sl"))
      .select(col("n_docs"),
        round(col("sl").cast(DoubleType) / col("n_docs"), 6).as("avgdl"))
    val tf = withArr
      .select(col("doc_id"), size(col("arr")).cast("long").as("dl"),
        explode(col("arr")).as("term"))
      .filter(col("term").isin(normTerms: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    val df_ = tf.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val nd = col("n_docs").cast(DoubleType)
    val tfd = col("tf").cast(DoubleType)
    val dld = col("dl").cast(DoubleType)
    // k1 = 1.2, b = 0.75; (k1+1) and (1−b) pre-folded as exact double
    // literals so both engines evaluate the same constants
    val score = log((nd - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
      (tfd * lit(2.2)) /
      (tfd + lit(1.2) * (lit(0.25) + lit(0.75) * dld / col("avgdl")))
    tf.join(broadcast(df_), Seq("term"))
      .crossJoin(broadcast(stats))
      .groupBy(col("doc_id"))
      // per-(doc,term) scores round in DECIMAL space (the rd discipline —
      // round(double) is shortest-repr HALF_UP in Spark vs binary in
      // DuckDB; a score landing on an exact 5e-7 boundary would diverge)
      .agg(sum(round(score.cast(DecimalType(30, 10)), 6)
          .cast(DecimalType(20, 6))).as("sc"),
        count(lit(1)).as("n_terms"))
      .select(col("doc_id"), col("sc").cast(DoubleType).as("bm25"),
        col("n_terms"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(topK)
  }

  /** Exact phrase search over the ix1/ix2/ix3 tokenization — the
    * adjacency-constrained retrieval a contamination/attribution audit
    * needs when single-term postings are too coarse ("how many documents
    * contain this exact benchmark prompt"). Per query phrase: containing-
    * document count, total occurrence count (overlaps counted — "a a a"
    * contains "a a" twice), and the first/last containing document; absent
    * phrases report zeros/−1 (the ix1 zero-row contract).
    *
    * Shape at scale: occurrence counting is IN-ROW — each document slides
    * an n-token window over its own token array (`transform` + `slice`,
    * whole-stage-codegen'd, no UDF), so the corpus pass is map-only and
    * the only exchange is the |phrases|-bounded census rollup. This is the
    * right distribution for ad-hoc phrase queries: a positional-postings
    * self-join (term₁ pos p ⋈ term₂ pos p+1) would shuffle posting lists
    * corpus-wide to answer the same question; a standing search service
    * amortizes that by staging the positional index ONCE term-bucketed,
    * which is this operator's `stagedPairs`-style evolution path. */
  /** JVM-side twin of F.normalizeText + lower for caller-supplied query
    * terms/phrases: lowercase, collapse all whitespace runs to one space,
    * trim — so query text and document text meet in the same space. */
  private def normalizeQueryToken(s: String): String =
    s.toLowerCase.split("\\s+").filter(_.nonEmpty).mkString(" ")

  def phraseSearch(docs: DataFrame, phrases: Seq[String]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // Phrases pass through the SAME normalization as the document stream
    // (lower + whitespace-collapse): an uppercase or double-spaced phrase
    // could otherwise never match, and splitting a doubled space would
    // inject empty tokens that corrupt the window length. Reported rows
    // carry the normalized phrase. Every comparison below is built from
    // Column APIs with BOUND literals — caller text is never interpolated
    // into a parsed expression string, so a quote/backslash/lambda
    // metacharacter in a phrase is just data, not syntax.
    val normPhrases = phrases.map(normalizeQueryToken)
      .filter(_.nonEmpty).distinct
    val arr = split(F.normalizeText(lower(col("text"))), " ")
    val perPhrase = normPhrases.map { p =>
      val n = p.split(" ").length
      val windows = transform(
        sequence(lit(1), size(col("__arr")) - lit(n - 1)),
        i => concat_ws(" ", slice(col("__arr"), i, lit(n))))
      val cnt = when(size(col("__arr")) >= n,
          size(filter(windows, w => w === lit(p))))
        .otherwise(0).cast("long")
      struct(lit(p).as("phrase"), cnt.as("n_occ"))
    }
    val matches = docs.select(col("doc_id"), arr.as("__arr"))
      .select(col("doc_id"), explode(array(perPhrase: _*)).as("m"))
      .select(col("doc_id"), col("m.phrase").as("phrase"),
        col("m.n_occ").as("n_occ"))
      .filter(col("n_occ") > 0)
    val census = matches.groupBy(col("phrase"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_occ")).as("n_occ"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
    normPhrases.toDF("phrase").join(broadcast(census), Seq("phrase"), "left")
      .select(col("phrase"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_occ"), lit(0L)).as("n_occ"),
        coalesce(col("first_doc"), lit(-1L)).as("first_doc"),
        coalesce(col("last_doc"), lit(-1L)).as("last_doc"))
      .orderBy(col("phrase"))
  }
}
