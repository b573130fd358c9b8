package graft

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, EventWindows, Fuzzy, Multimodal, Packing, Quality, Similarity, TextAnalysis}

/** Extended operator surface (SURVEY.md §2.9): dedup recall against the
  * exact-Jaccard oracle, similarity ranking, window/session semantics,
  * multimodal plumbing. */
class OpsSpec extends SparkSpec {
  import spark.implicits._
  import OpsSpec.jaccardPairs

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank", "en"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank", "en"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog near the river shore", "en"), // near dup of 1
    (4L, "completely different text about astronomy and the moons of jupiter", "en"),
    (5L, "el rapido zorro marron salta sobre el perro perezoso junto al rio", "es")
  ).toDF("doc_id", "text", "lang")

  test("exact dedup groups identical texts, keeps min doc_id") {
    val got = rows(Dedup.exact(docs))
    assert(got.length == 4)
    val dup = got.find(_.getAs[Long]("n_copies") == 2L).get
    assert(dup.getAs[Long]("keep_id") == 1L)
  }

  test("minhash LSH finds exact + near dups, skips unrelated") {
    val pairs = rows(Dedup.minHashPairsFromSignatures(
        Dedup.minHashSignatures(docs).localCheckpoint()))
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))      // identical -> all bands collide
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L))) // near dup
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("simhash: identical docs at hamming 0; threshold honored") {
    // Short docs shift many bits per token swap, so near-dup recall is only
    // guaranteed by the 4-band pigeonhole for hamming <= 3; assert that
    // contract: the exact dup always surfaces, and every returned pair
    // respects maxHamming.
    val got = rows(Dedup.simHash(docs, maxHamming = 16))
    val h = got.map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Int]("hamming"))).toMap
    assert(h((1L, 2L)) == 0)
    assert(h.values.forall(_ <= 16))
    // A 1-token-in-40 change keeps most vote sums away from zero: the pair
    // must survive banding + a loose threshold.
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val near = Seq((10L, base, "en"), (11L, base.replace("tok7", "tok7x"), "en"))
      .toDF("doc_id", "text", "lang")
    val nh = rows(Dedup.simHash(near, maxHamming = 24))
      .map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Int]("hamming"))).toMap
    assert(nh((10L, 11L)) == 4) // deterministic: seededHash is md5-derived
  }

  test("chunk dedup: repeated chunks kept only at first (doc_id, pos)") {
    // 8-token chunks; doc 1 = A B, doc 2 = A C (A repeats), doc 3 = B
    val a = (1 to 8).map(i => s"a$i").mkString(" ")
    val b = (1 to 8).map(i => s"b$i").mkString(" ")
    val c = (1 to 8).map(i => s"c$i").mkString(" ")
    val in = Seq((1L, s"$a $b"), (2L, s"$a $c"), (3L, b))
      .toDF("doc_id", "text")
    val got = rows(Dedup.chunkDedup(in))
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_chunks"), r.getAs[Long]("n_kept"))).toMap
    assert(got(1L) == (2L, 2L)) // first occurrence of both A and B
    assert(got(2L) == (2L, 1L)) // A is a repeat, C is fresh
    assert(got(3L) == (1L, 0L)) // B already seen in doc 1
  }

  test("cdc chunks: boundaries are content-defined — a prefix edit " +
    "re-frames nothing past the first boundary") {
    // The CDC property under test: prepend tokens to a document and the
    // chunk set differs ONLY in the region up to the first content
    // boundary after the edit; every later chunk hash is identical.
    // Fixed-stride chunking (chunkDedup) loses ALL alignment on the same
    // edit — asserted as the contrast.
    val body = (1 to 120).map(i => s"tok${i * 7 % 101}").mkString(" ")
    val orig = Seq((1L, body)).toDF("doc_id", "text")
    val edited = Seq((1L, s"inserted words here $body")).toDF("doc_id", "text")
    def hashes(df: org.apache.spark.sql.DataFrame): Seq[String] =
      rows(Dedup.cdcChunks(df)).map(_.getAs[String]("ch"))
    val (h0, h1) = (hashes(orig), hashes(edited))
    val shared = h0.toSet.intersect(h1.toSet).size
    // all but the head chunk(s) re-align after the insertion
    assert(shared >= h0.size - 2,
      s"CDC lost alignment: ${h0.size} orig chunks, only $shared survive the edit")
    // the doc end is always a boundary and chunks tile the token stream
    val toks = rows(Dedup.cdcChunks(orig)
      .agg(org.apache.spark.sql.functions.sum("n_chunk_toks"))).head.getLong(0)
    assert(toks == 120L, s"chunks must tile all 120 tokens, got $toks")
  }

  test("exact-substr spans: shared runs merge to maximal spans; unique text silent") {
    // minLen=10. Doc 1 and 2 share a 30-char run mid-text at different
    // offsets; doc 3 repeats a 12-char run within itself; doc 4 is unique.
    val shared = "XXXXXXXXXXYYYYYYYYYYZZZZZZZZZZ" // 30 chars
    val in = Seq(
      (1L, s"aaaaa${shared}bbbbb"),                 // span at [6, 36)
      (2L, s"cccccccccc${shared}dd"),               // span at [11, 41)
      (3L, "qqqqWWWWWWWWWWWWrrrrWWWWWWWWWWWWssss"), // self-repeat, 12 chars
      (4L, "a completely unique string with no repeats anywhere at all")
    ).toDF("doc_id", "text")
    val got = rows(Dedup.duplicatedSpansFrom(Dedup.spanArrays(in, minLen = 10)))
      .map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("span_start"), r.getAs[Long]("span_end")))
    // every duplicated run surfaces as ONE merged span, 1-based inclusive
    // start / exclusive end, and the unique doc contributes nothing
    assert(got.count(_._1 == 1L) == 1)
    assert(got.count(_._1 == 2L) == 1)
    assert(!got.exists(_._1 == 4L))
    val s1 = got.find(_._1 == 1L).get
    assert(s1._2 == 6L && s1._3 == 36L)
    val s2 = got.find(_._1 == 2L).get
    assert(s2._2 == 11L && s2._3 == 41L)
    // the self-repeat in doc 3 covers both W-runs (positions are counted
    // corpus-wide, within-doc repeats included)
    val s3 = got.filter(_._1 == 3L)
    assert(s3.nonEmpty)
    assert(s3.forall { case (_, s, e) => e - s >= 10L })
  }

  test("exact-substr spans: exact-duplicate texts collapse to one sweep row " +
      "and every copy inherits full-document spans") {
    // minLen=10. Docs 1-3 are byte-identical (r=3): every position is
    // corpus-duplicated, so each copy's span array is the whole document
    // — the case the r16 canonicalize-then-expand rewrite answers without
    // sweeping the copies. Doc 4 is unique but shares a 20-char run with
    // the triplet: its positions must count the triplet's full weight
    // (1 + 3 ≥ 2), exactly as the raw per-position census would.
    val t = "headerAAAAABBBBBCCCCCDDDDDfooter" // 32 chars
    val in = Seq(
      (1L, t), (2L, t), (3L, t),
      (4L, s"zzzz${t.substring(6, 26)}qqqq"), // run at 1-based [5, 25)
      (5L, "another entirely unique filler string with nothing shared")
    ).toDF("doc_id", "text")
    val got = rows(Dedup.spanArrays(in, minLen = 10))
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("spans")
          .map(s => (s.getAs[Long]("s"), s.getAs[Long]("e"))).toSeq).toMap
    for (d <- Seq(1L, 2L, 3L))
      assert(got(d) == Seq((1L, 33L)), s"doc $d spans: ${got.get(d)}")
    assert(got(4L) == Seq((5L, 25L)), s"doc 4 spans: ${got.get(4L)}")
    assert(!got.contains(5L), "unique doc must stay silent")
  }

  test("exact-substr redact: spans cut, gaps stitched, span-free docs verbatim") {
    val shared = "XXXXXXXXXXYYYYYYYYYYZZZZZZZZZZ" // 30 chars
    val unique = "a completely unique string with no repeats anywhere at all"
    val in = Seq(
      (1L, s"aaaaa${shared}bbbbb"),
      (2L, s"cccccccccc${shared}dd"),
      (3L, unique)
    ).toDF("doc_id", "text")
    val got = rows(Dedup.redactFromSpans(in, Dedup.spanArrays(in, minLen = 10)))
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("clean_text"), r.getAs[Long]("n_spans"),
          r.getAs[Long]("n_cut"))).toMap
    assert(got(1L) == (("aaaaabbbbb", 1L, 30L)))
    assert(got(2L) == (("ccccccccccdd", 1L, 30L)))
    assert(got(3L) == ((unique, 0L, 0L))) // untouched, via the left join
  }

  test("split leakage: eval near-dup of train confirmed, unrelated eval silent") {
    // doc 1/2 identical (all bands collide, est 1.0), doc 4 unrelated.
    // Put 2 and 4 on the eval side, 1/3/5 on the train side explicitly —
    // the operator takes pre-split signature slices.
    val sig = Dedup.minHashSignatures(docs).localCheckpoint()
    val evalSig = sig.filter($"doc_id".isin(2L, 4L))
    val trainSig = sig.filter(!$"doc_id".isin(2L, 4L))
    val got = rows(Dedup.splitLeakage(evalSig, trainSig))
      .map(r => r.getAs[Long]("eval_doc") ->
        (r.getAs[Long]("n_leaks"), r.getAs[Double]("max_est"),
          r.getAs[Long]("first_leak"))).toMap
    assert(got.contains(2L))
    assert(got(2L)._2 == 1.0) // identical text -> full signature agreement
    assert(got(2L)._3 == 1L)
    assert(!got.contains(4L)) // unrelated eval doc never flagged
  }

  test("pii scrub: counts and placeholders for email, ip, phone") {
    val in = Seq(
      (1L, "write to alice.smith+x@sub.example.org or 192.168.0.1 tel +1-555-0100"),
      (2L, "no pii here at all")
    ).toDF("doc_id", "text")
    val got = rows(TextAnalysis.piiScrub(in))
    val r1 = got.find(_.getAs[Long]("doc_id") == 1L).get
    assert(r1.getAs[Long]("n_emails") == 1L)
    assert(r1.getAs[Long]("n_ips") == 1L)
    assert(r1.getAs[Long]("n_phones") == 1L)
    val expected = "write to <EMAIL> or <IP> tel <PHONE>"
    assert(r1.getAs[String]("scrub_fp") ==
      java.security.MessageDigest.getInstance("MD5")
        .digest(expected.getBytes("UTF-8")).map("%02x".format(_)).mkString)
    val r2 = got.find(_.getAs[Long]("doc_id") == 2L).get
    assert(r2.getAs[Long]("n_emails") == 0L && r2.getAs[Long]("len_delta") == 0L)
  }

  test("duplicate clusters: min-label connected components over pair edges") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L), (7L, 9L))
      .toDF("doc_a", "doc_b")
    val got = rows(Dedup.duplicateClusters(pairs))
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"),
        r.getAs[Long]("n_members")))
    assert(got == Seq(
      (1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),       // chain 1-2-3
      (5L, 5L, 2L), (6L, 5L, 2L),                     // pair 5-6
      (7L, 7L, 3L), (8L, 7L, 3L), (9L, 7L, 3L)))      // star 7-9-8
  }

  test("duplicate clusters: identical output under a reliable checkpoint dir") {
    // Dedup.materialize switches from localCheckpoint to reliable
    // checkpoint() when the context has a checkpoint dir — the cluster
    // path. Exercise it end to end and pin output equality both ways.
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L), (7L, 9L))
      .toDF("doc_a", "doc_b")
    val plain = rows(Dedup.duplicateClusters(pairs))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ckpt_test").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      assert(spark.sparkContext.getCheckpointDir.isDefined)
      val ckpt = rows(Dedup.duplicateClusters(pairs))
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(ckpt == plain)
    } finally {
      // a SparkContext cannot UNset its checkpoint dir; point later
      // localCheckpoint users at the same (still valid) location and
      // leave cleanup to the tmpdir
      ()
    }
  }

  test("ngram jaccard: identical = 1.0, near dup high, cross-lang blocked") {
    val got = rows(jaccardPairs(docs, threshold = 0.4))
    val j = got.map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(j((1L, 2L)) == 1.0)
    assert(j((1L, 3L)) > 0.7 && j((1L, 3L)) < 1.0)
    assert(!j.keySet.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("ngram jaccard: prefix branch (gridMax=0) ≡ grid branch result set") {
    // default gridMax routes every tiny test block through the pair grid;
    // gridMax=0 forces every block through the PPJoin prefix filter — the
    // two branches must produce the identical verified pair set
    val grid = rows(jaccardPairs(docs, threshold = 0.4))
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val pfx = rows(jaccardPairs(docs, threshold = 0.4, gridMax = 0))
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pfx == grid)
    assert(grid.nonEmpty)
    intercept[IllegalArgumentException] {
      Dedup.ngramJaccardCanonical(docs, threshold = 0.0)
    }
  }

  test("edit distance: PassJoin branch (gridMax=0) ≡ grid branch result set") {
    // extra docs exercise every PassJoin lane: 6/7 are shorter than
    // maxDist+1 chars (no surviving-segment guarantee -> both-short grid),
    // 8 is a one-substitution neighbor of 1 in the same block
    val extra = Seq(
      (6L, "tiny doc", "en"),
      (7L, "tiny dog", "en"),
      (8L, "the quick brown fox jumps over the lazy dogs near the river bank", "en")
    ).toDF("doc_id", "text", "lang")
    val all = docs.unionByName(extra)
    val grid = rows(Dedup.editDistance(all))
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val seg = rows(Dedup.editDistance(all, gridMax = 0))
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(seg == grid)
    assert(grid.nonEmpty)
    assert(grid.exists(t => t._1 == 6L && t._2 == 7L)) // both-short pair kept
    intercept[IllegalArgumentException] { Dedup.editDistance(all, maxDist = 0) }
  }

  private lazy val vecs = Seq(
    (1L, Array(1f, 0f, 0f, 0f), 0),
    (2L, Array(0.9f, -0.1f, 0f, 0f), 0),  // close to 1, same sign-orthant
    (3L, Array(0f, 1f, 0f, 0f), 0),       // orthogonal to 1
    (4L, Array(-1f, 0f, 0f, 0f), 1)       // opposite of 1
  ).toDF("vec_id", "embedding", "label")

  test("cosine: identity 1, orthogonal 0, opposite -1") {
    val self = vecs.select(round(Similarity.cosine($"embedding", $"embedding"), 6).as("c"))
    assert(rows(self).forall(_.getDouble(0) == 1.0))
    val q = Seq((1L, Array(1f, 0f, 0f, 0f))).toDF("q_id", "q_emb")
    val c = vecs.crossJoin(q)
      .select($"vec_id", round(Similarity.cosine($"q_emb", $"embedding"), 6).as("c"))
    val m = rows(c).map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(m(3L) == 0.0 && m(4L) == -1.0 && m(2L) > 0.99 && m(2L) < 1.0)
  }

  test("brute-force top-k ranks by similarity desc with id tie-break") {
    val out = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" === 1L), k = 2)
    val got = rows(out).map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("rank")))
    assert(got == Seq((2L, 1L), (3L, 2L)))
  }

  test("sign-LSH top-k only sees same-bucket candidates") {
    val out = Similarity.signLshTopK(vecs, vecs.filter($"vec_id" === 1L),
      k = 3, signBits = 4)
    val cands = rows(out).map(_.getAs[Long]("vec_id")).toSet
    assert(cands.contains(2L))    // same orthant
    assert(!cands.contains(4L))   // opposite orthant -> different bucket
  }

  test("native expressions compute through the Column API") {
    import graft.functions.VectorExpressions.{dotf, sortedIntersectCount}
    val one = spark.range(1)
    val dot = rows(one.select(dotf(typedLit(Seq(1.0f, 2.0f)),
      typedLit(Seq(3.0f, 4.0f))))).head.getDouble(0)
    assert(dot == 11.0)
    val ic = rows(one.select(sortedIntersectCount(typedLit(Seq("a", "b", "c")),
      typedLit(Seq("b", "c", "d"))))).head.getInt(0)
    assert(ic == 2)
  }

  test("ivf top-k probes only assigned cells; exact on a probed cell") {
    val out = Similarity.ivfTopK(vecs, vecs.filter($"vec_id" === 1L), k = 3,
      centroidEvery = 2, nprobe = 1)
    val got = rows(out).map(_.getAs[Long]("vec_id"))
    assert(got.nonEmpty && !got.contains(1L))
    // candidates all share the query's nearest centroid cell
    assert(got.forall(v => Seq(2L, 3L, 4L).contains(v)))
  }

  test("approximate ANN paths reach measurable recall@5 on real embeddings") {
    val e = graft.queries.table(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.filter($"vec_id" % 20 === 0)  // bounded query set
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      rows(df).map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    val exact = pairs(Similarity.bruteForceTopK(e, q, k = 5))
    val lsh = pairs(Similarity.signLshTopK(e, q, k = 5, signBits = 4))
    val ivf = pairs(Similarity.ivfTopK(e, q, k = 5, centroidEvery = 10, nprobe = 4))
    val ivfAuto = pairs(Similarity.ivfTopKAuto(e, q, k = 5, nprobe = 4))
    val lshRecall = (lsh & exact).size.toDouble / exact.size
    val ivfRecall = (ivf & exact).size.toDouble / exact.size
    val autoRecall = (ivfAuto & exact).size.toDouble / exact.size
    // Approximate results must be true subsets of the candidate space and
    // recover a meaningful share of the exact neighbours on random-ish data.
    assert(lsh.forall { case (a, b) => a != b })
    assert(lshRecall > 0.05, s"sign-LSH recall@5 collapsed: $lshRecall")
    assert(ivfRecall > 0.15, s"IVF recall@5 collapsed: $ivfRecall")
    assert(autoRecall > 0.15, s"auto-m IVF recall@5 collapsed: $autoRecall")
    info(f"recall@5 — signLSH(4 bits): $lshRecall%.2f, IVF(nprobe=4): $ivfRecall%.2f, IVF(auto m): $autoRecall%.2f")
  }

  test("filtered search: in-probe filtering dominates over-fetch post-" +
      "filtering per query; results honor the predicate") {
    val e = graft.queries.table(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.filter($"vec_id" % 20 === 0)
    val pred = $"label" % 5 === 2
    val labels = e.select($"vec_id", $"label")
    val cand = Similarity.ivfCandidates(e, q, centroidEvery = 10, nprobe = 4)
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy($"q_id").orderBy($"sim".desc, $"vec_id")
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      rows(df).map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    val inProbe = cand.join(labels, "vec_id").filter(pred)
      .withColumn("rank", row_number().over(wq)).filter($"rank" <= 5)
      .select($"q_id", $"vec_id")
    val postFilter = cand
      .withColumn("rank", row_number().over(wq)).filter($"rank" <= 20)
      .drop("rank").join(labels, "vec_id").filter(pred)
      .withColumn("rank", row_number().over(wq)).filter($"rank" <= 5)
      .select($"q_id", $"vec_id")
    val exact = pairs(Similarity.bruteForceTopK(e.filter(pred), q, k = 5))
    val ip = pairs(inProbe); val pf = pairs(postFilter)
    // every returned id satisfies the predicate
    val okIds = rows(labels.filter(pred)).map(_.getLong(0)).toSet
    assert((ip ++ pf).forall { case (_, v) => okIds(v) })
    // the post-filter shortlist can only LOSE predicate-passing hits
    // relative to filtering inside the probe — per query, not just
    // in aggregate (its k results are a subset of in-probe's candidates)
    val byQ = (ip ++ pf).groupBy(_._1).keySet
    for (qid <- byQ) {
      val hitsIp = (ip & exact).count(_._1 == qid)
      val hitsPf = (pf & exact).count(_._1 == qid)
      assert(hitsPf <= hitsIp,
        s"q $qid: post-filter found $hitsPf exact hits, in-probe $hitsIp")
    }
    val ipRecall = (ip & exact).size.toDouble / exact.size
    assert(ipRecall > 0.15, s"filtered in-probe recall collapsed: $ipRecall")
    info(f"filtered recall@5 — in-probe: $ipRecall%.2f, over-fetch: ${(pf & exact).size.toDouble / exact.size}%.2f")
  }

  test("ivf auto centroid spacing keeps m ~ sqrt(n) at any scale") {
    import graft.ops.Similarity.autoCentroidEvery
    // spacing ⌈√n⌉ ⇒ m = n/spacing ≈ √n, so a 100× corpus grows the
    // broadcast centroid set 10×, not 100×
    for (n <- Seq(100L, 10000L, 1000000L, 4000000000L)) {
      val every = autoCentroidEvery(n)
      val m = n.toDouble / every
      assert(every >= math.sqrt(n.toDouble) && every < math.sqrt(n.toDouble) + 1)
      assert(m <= math.sqrt(n.toDouble) + 1, s"n=$n gives m=$m")
    }
    assert(autoCentroidEvery(0) == 1 && autoCentroidEvery(1) == 1)
  }

  test("repetition stats: boilerplate scores high, clean prose low, short docs zero") {
    val docs = Seq(
      (1L, "spam spam spam spam spam spam", "en"),          // one 2-gram repeated
      (2L, "every word here is completely different okay", "en"),
      (3L, "one", "en"))                                    // < n tokens
      .toDF("doc_id", "text", "lang")
    val got = rows(TextAnalysis.repetitionStats(docs))
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("total_grams"), r.getAs[Long]("distinct_grams"),
         r.getAs[Double]("top_gram_share"), r.getAs[Double]("rep_ratio"))).toMap
    assert(got(1L) == ((5L, 1L, 1.0, 0.8)))   // 5 slots, all "spam spam"
    assert(got(2L)._2 == got(2L)._1 && got(2L)._4 == 0.0) // all distinct
    assert(got(3L) == ((0L, 0L, 0.0, 0.0)))   // degenerate row survives
  }

  test("decontaminate flags only docs sharing an n-gram with the benchmark") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "en"),   // shares the 5-gram
      (2L, "totally clean text with no overlap at all", "en"),
      (3L, "alpha beta gamma delta epsilon", "en"))        // exactly one shared gram
      .toDF("doc_id", "text", "lang")
    val bench = Seq((100L, "alpha beta gamma delta epsilon", "en"))
      .toDF("doc_id", "text", "lang")
    val got = rows(Dedup.decontaminateFromGrams(
        Dedup.gramHashes(corpus, 5).distinct(), Dedup.gramHashes(bench, 5).distinct()))
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_shared")))
    assert(got == Seq((1L, 1L), (3L, 1L)))
  }

  test("incrementalLsh flags batch-vs-corpus collisions, never corpus-corpus") {
    val all = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),   // batch
      (1L, "the quick brown fox jumps over the lazy dog"),   // corpus dup of 0
      (2L, "totally different text with many unique tokens here"),
      (3L, "the quick brown fox jumps over the lazy dog"),   // corpus dup of 0
      (5L, "another unrelated document entirely about spark engines")) // batch
      .toDF("doc_id", "text")
    val sigs = Dedup.minHashSignatures(all)
    val got = rows(Dedup.incrementalLshFromBuckets(sigs.filter($"doc_id" % 5 === 0),
      Dedup.bandBuckets(sigs.filter($"doc_id" % 5 =!= 0))))
      .map(r => (r.getAs[Long]("new_doc"), r.getAs[Long]("n_matches"),
        r.getAs[Long]("first_match")))
    // doc 0 collides with BOTH corpus dups (n_matches counts distinct
    // corpus docs); doc 5 is clean; the 1-3 corpus-corpus dup never appears
    assert(got == Seq((0L, 2L, 1L)))
  }

  test("bandBuckets rejects a table without the 16 signature columns") {
    val sigs = Dedup.minHashSignatures(Seq((0L, "a b c d")).toDF("doc_id", "text"))
    intercept[IllegalArgumentException] { Dedup.bandBuckets(sigs.select($"doc_id")) }
    intercept[IllegalArgumentException] {
      Dedup.bandBuckets(sigs.select($"doc_id" +: (0 until 8).map(i => col(s"h$i")): _*))
    }
  }

  test("proportionalMix caps every stratum near an equal share, deterministically") {
    val df = ((1 to 900).map(i => (i.toLong, "big")) ++
              (1001 to 1050).map(i => (i.toLong, "small")))
      .toDF("doc_id", "source")
    import graft.ops.Sampling
    val out = Sampling.proportionalMix(df, "source", "doc_id")
    val by = rows(out.groupBy($"source").count())
      .map(r => r.getString(0) -> r.getAs[Long]("count")).toMap
    // equal share target = 950/2 = 475: the big stratum samples down toward
    // it (hash granularity gives a few % slack), the small one passes whole
    assert(by("small") == 50L)
    assert(by("big") < 600L && by("big") > 350L, s"big kept ${by("big")}")
    // deterministic: same rows kept on re-run
    val again = rows(Sampling.proportionalMix(df, "source", "doc_id")
      .orderBy($"doc_id")).map(_.getAs[Long]("doc_id"))
    assert(again == rows(out.orderBy($"doc_id")).map(_.getAs[Long]("doc_id")))
  }

  test("hll sketch estimates distinct users within tolerance and merges") {
    import graft.ops.Sketch
    val events = graft.queries.table(spark, "/root/testdata/sf0.001", "events")
    val exact = events.select($"user_id").distinct().count().toDouble
    val sketch = Sketch.hllSketch(events, $"user_id")
    val est = SketchReference.estimate(sketch)
    assert(math.abs(est - exact) / exact < 0.25,
      s"estimate $est vs exact $exact drifts beyond 25%")
    // mergeability: sketch(A) merge sketch(B) == sketch(A union B)
    val a = events.filter($"event_id" % 2 === 0)
    val b = events.filter($"event_id" % 2 =!= 0)
    val merged = Sketch.merge(Seq(
      Sketch.hllSketch(a, $"user_id"), Sketch.hllSketch(b, $"user_id")))
    val whole = Sketch.hllSketch(events, $"user_id")
    assert(rows(merged.select($"bucket", $"max_rho")) ==
      rows(whole.select($"bucket", $"max_rho")))
  }

  test("profileApprox: per-column sketch estimates track exact distincts") {
    import graft.ops.{Quality, Sketch}
    val li = graft.queries.table(spark, "/root/testdata/sf0.001", "lineitem")
    val cols = Seq("l_orderkey", "l_returnflag", "l_shipdate")
    val prof = Quality.profileApprox(li, cols).cache()
    for (c <- cols) {
      val exact = li.select(col(c)).na.drop().distinct().count().toDouble
      val est = SketchReference.estimate(
        prof.filter($"col_name" === c).select($"bucket", $"max_rho"))
      assert(math.abs(est - exact) / exact < 0.3,
        s"$c: estimate $est vs exact $exact drifts beyond 30%")
      // each column's slice IS that column's hllSketch — same cells
      assert(rows(prof.filter($"col_name" === c)
          .select($"bucket", $"max_rho", $"n_items")) ==
        rows(Sketch.hllSketch(li.filter(col(c).isNotNull), col(c))
          .select($"bucket", $"max_rho", $"n_items")))
    }
    prof.unpersist()
  }

  test("salted join equals the plain join; salted agg equals plain agg") {
    import graft.ops.Skew
    val big = Seq((1L, "a", 10.0), (1L, "b", 20.0), (2L, "c", 30.0),
      (3L, "d", 40.0)).toDF("k", "tag", "v")
    val small = Seq((1L, "one"), (2L, "two")).toDF("k", "name")
    val plain = big.join(small, Seq("k"), "inner")
      .select($"k", $"tag", $"name").orderBy($"k", $"tag")
    val salted = Skew.saltedJoin(big, small, "k", salt = 4)
      .select($"k", $"tag", $"name").orderBy($"k", $"tag")
    assert(rows(salted) == rows(plain))
    val leftPlain = big.join(small, Seq("k"), "left")
      .select($"k", $"tag", $"name").orderBy($"k", $"tag")
    val leftSalted = Skew.saltedJoin(big, small, "k", salt = 4, how = "left")
      .select($"k", $"tag", $"name").orderBy($"k", $"tag")
    assert(rows(leftSalted) == rows(leftPlain))

    val agg = Skew.twoPhaseAgg(big, Seq("k"), salt = 4,
      partial = Seq(sum($"v").as("ps"), count(lit(1)).as("pc")),
      merge = Seq(sum($"ps").as("total"), sum($"pc").as("n")))
      .orderBy($"k")
    assert(rows(agg).map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))) ==
      Seq((1L, 30.0, 2L), (2L, 30.0, 1L), (3L, 40.0, 1L)))
  }

  test("text analysis: token counts, quality bounds, langid, fingerprint") {
    val ts = rows(TextAnalysis.tokenStats(docs)).map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Long]("ws_tokens")).toMap
    assert(ts(1L) == 13L)
    val q = rows(TextAnalysis.qualityScore(docs))
    assert(q.forall { r =>
      val v = r.getAs[Double]("quality"); v >= 0.0 && v <= 1.0 })
    val lid = rows(TextAnalysis.languageId(docs)).map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[String]("pred_lang")).toMap
    assert(lid(1L) == "en" && lid(5L) == "es")
    val unknown = rows(TextAnalysis.languageId(
      Seq((9L, "12345 67890", "xx")).toDF("doc_id", "text", "lang")))
    assert(unknown.head.getAs[String]("pred_lang") == "??")
    val fp = rows(TextAnalysis.fingerprint(docs)).map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[String]("fp_doc")).toMap
    assert(fp(1L) == fp(2L) && fp(1L) != fp(3L))
  }

  test("gopher rules: clean doc keeps; short doc and symbol floods flagged") {
    val clean = "the and " + (1 to 58).map(i => s"word$i").mkString(" ")
    val symbols = "the and " + (1 to 58).map(_ => "@@@@@").mkString(" ")
    val in = Seq((1L, clean), (2L, "short text here"), (3L, symbols))
      .toDF("doc_id", "text")
    val got = rows(TextAnalysis.gopherRules(in))
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got(1L).getAs[Boolean]("keep"))
    assert(!got(2L).getAs[Boolean]("r_tokens") && !got(2L).getAs[Boolean]("keep"))
    assert(!got(3L).getAs[Boolean]("r_alpha") && !got(3L).getAs[Boolean]("r_symbol"))
  }

  test("bigram logprob: corpus-conditional probabilities, exact rounding") {
    // corpus bigrams: (x,y):2 (y,x):1 (x,z):1; prefix totals: x:3, y:1
    val in = Seq((1L, "x y x y"), (2L, "x z"), (3L, "solo"))
      .toDF("doc_id", "text")
    val got = rows(TextAnalysis.bigramLogProb(in))
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Double]("avg_nll"))).toMap
    // doc 1: (-ln(2/3) + -ln(1/1) + -ln(2/3)) / 3
    assert(got(1L) == ((3L, 0.27031)))
    // doc 2: -ln(1/3)
    assert(got(2L) == ((1L, 1.098612)))
    assert(!got.contains(3L)) // single-token doc has no bigram
  }

  test("hash split: total partition, ~98/1/1, pure function of the id") {
    import graft.ops.{Dedup, Sampling}
    val in = (1L to 1000L).toDF("doc_id")
    val got = rows(Sampling.hashSplit(in, "doc_id"))
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("subset")).toMap
    assert(got.size == 1000)
    val byName = got.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(byName("train") > 900 && byName.values.sum == 1000)
    // the assignment is the documented pure function of the id hash
    for (id <- Seq(1L, 500L, 999L)) {
      val b = Dedup.seededHashJvm(41, id.toString) % 10000L
      val expect = if (b < 9800) "train" else if (b < 9900) "val" else "test"
      assert(got(id) == expect, s"id $id bucket $b")
    }
  }

  test("sequence pack: per-shard prefix sums assign windows and offsets") {
    val in = Seq(
      (1L, (1 to 5).map(i => s"t$i").mkString(" "), "en"), // start 0
      (2L, "a b c", "en"),                                 // start 5
      (3L, "x y", "de")                                    // start 0, own shard
    ).toDF("doc_id", "text", "lang")
    val got = rows(graft.ops.Packing.sequencePack(in, ctxTokens = 4))
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("seq_id"), r.getAs[Long]("seq_offset"))).toMap
    assert(got(1L) == ((0L, 0L)))
    assert(got(2L) == ((1L, 1L))) // starts at token 5 = window 1, offset 1
    assert(got(3L) == ((0L, 0L))) // shards pack independently
  }

  test("retention: epoch-week cohorts, offsets count returning users") {
    val week = 604800L * 1000L // ms
    def ts(wk: Long, off: Long) = new java.sql.Timestamp(wk * week + off)
    val ev = Seq(
      (100L, ts(2800, 1000L)), (100L, ts(2801, 5000L)), // cohort 2800, returns
      (200L, ts(2800, 2000L)),                          // cohort 2800, one week
      (300L, ts(2801, 0L)), (300L, ts(2803, 9L))        // cohort 2801, skips one
    ).toDF("user_id", "ts")
    val got = rows(EventWindows.retention(ev))
      .map(r => (r.getAs[Long]("cohort_wk"), r.getAs[Long]("week_offset")) ->
        (r.getAs[Long]("n_active"), r.getAs[Long]("cohort_users"),
          r.getAs[Double]("retention"))).toMap
    assert(got((2800L, 0L)) == ((2L, 2L, 1.0)))
    assert(got((2800L, 1L)) == ((1L, 2L, 0.5)))
    assert(got((2801L, 0L)) == ((1L, 1L, 1.0)))
    assert(got((2801L, 2L)) == ((1L, 1L, 1.0)))
    assert(!got.contains((2801L, 1L)))
  }

  private lazy val events = Seq(
    // user 100: two sessions split by a 45-min gap
    (1L, "2024-01-01 10:00:00", 100L, "click", 1.0),
    (2L, "2024-01-01 10:10:00", 100L, "view", 2.0),
    (3L, "2024-01-01 10:55:00", 100L, "click", 3.0),
    // user 200: one session
    (4L, "2024-01-01 10:05:00", 200L, "view", 4.0)
  ).toDF("event_id", "ts_s", "user_id", "event_type", "value")
    .withColumn("ts", $"ts_s".cast("timestamp")).drop("ts_s")

  test("sessionize splits on gap > threshold, aggregates per session") {
    val got = rows(EventWindows.sessionize(events))
    assert(got.length == 3)
    val u100 = got.filter(_.getAs[Long]("user_id") == 100L)
    assert(u100.map(_.getAs[Long]("n_events")).toSeq == Seq(2L, 1L))
    assert(u100.head.getAs[Long]("dur_us") == 600L * 1000000L)
  }

  test("tumbling windows are epoch-aligned; counts and sums correct") {
    val got = rows(EventWindows.tumbling(events, sizeMin = 15))
    val m = got.map(r => (r.getAs[java.sql.Timestamp]("win_start").toString,
      r.getAs[String]("event_type")) -> r.getAs[Long]("n")).toMap
    assert(m(("2024-01-01 10:00:00.0", "click")) == 1L)
    assert(m(("2024-01-01 10:45:00.0", "click")) == 1L)
  }

  test("sliding windows assign each event to size/slide windows") {
    val got = rows(EventWindows.sliding(events))
    val n = got.map(_.getAs[Long]("n")).sum
    assert(n == events.count() * 2)  // every event in exactly 2 windows
  }

  test("as-of backward join: <= visibility, largest-seq tie-break, null on no match") {
    import graft.ops.AsOf
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq(
      (101L, 1L, t("2024-01-01 10:00:00")),  // exact-ts right row visible
      (102L, 1L, t("2024-01-01 12:00:00")),  // latest earlier right row
      (103L, 2L, t("2024-01-01 09:00:00")))  // user 2 has no right rows
      .toDF("event_id", "user_id", "ts")
    val right = Seq(
      (11L, 1L, t("2024-01-01 09:00:00")),
      (12L, 1L, t("2024-01-01 10:00:00")),
      (13L, 1L, t("2024-01-01 10:00:00")),   // same instant as 12: seq 13 wins
      (14L, 1L, t("2024-01-01 13:00:00")))   // after every left row: invisible
      .toDF("event_id", "user_id", "ts")
    val got = rows(AsOf.backward(left, right, by = Seq("user_id"),
      leftTime = "ts", rightTime = "ts", rightSeq = "event_id",
      rightCols = Seq("event_id"), prefix = "m_").orderBy("event_id"))
      .map(r => (r.getAs[Long]("event_id"), Option(r.getAs[java.lang.Long]("m_event_id"))))
    assert(got == Seq((101L, Some(13L)), (102L, Some(13L)), (103L, None)))
  }

  test("range join: inclusive bounds, bucket-spanning ranges, no duplicate matches") {
    import graft.ops.RangeJoin
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val points = Seq(
      (1L, 10L, t("2024-01-01 10:00:00")),  // on the start bound
      (1L, 11L, t("2024-01-01 10:59:00")),  // interior
      (1L, 12L, t("2024-01-01 11:00:00")),  // on the end bound
      (1L, 13L, t("2024-01-01 11:00:01")),  // just outside
      (2L, 14L, t("2024-01-01 10:30:00")))  // other key
      .toDF("k", "pid", "pt")
    // one-hour range spans many 5-minute buckets: the point must still
    // match exactly once
    val ranges = Seq((1L, 100L, t("2024-01-01 10:00:00"), t("2024-01-01 11:00:00")))
      .toDF("k", "rid", "s", "e")
    val got = rows(RangeJoin.pointsInRanges(points, ranges, Seq("k"),
      "pt", "s", "e", bucketWidthSec = 300).orderBy("pid"))
      .map(_.getAs[Long]("pid"))
    assert(got == Seq(10L, 11L, 12L))
  }

  test("interval overlap pairs: multi-bucket overlaps count once, touching " +
    "endpoints count, excludeEqual drops same-group pairs") {
    import graft.ops.RangeJoin
    val iv = Seq(
      // long interval spanning many width-5 buckets; 20..60 vs 55..80
      // overlap in two shared buckets — must emit ONE pair (overlap 5)
      (1L, 1L, 10L, 20L, 60L),
      (1L, 2L, 20L, 55L, 80L),
      // touching endpoints: [55, 80] meets [80, 95] with overlap 0
      (1L, 3L, 30L, 80L, 95L),
      // disjoint
      (1L, 4L, 40L, 200L, 210L),
      // overlaps id=1 but same group 10 → dropped by excludeEqual
      (1L, 5L, 10L, 30L, 40L),
      // other key: never pairs across keys
      (2L, 6L, 50L, 20L, 60L))
      .toDF("k", "id", "grp", "s", "e")
    val got = rows(RangeJoin.intervalOverlapPairs(iv, Seq("k"), "id",
      "s", "e", bucketWidth = 5L, excludeEqual = Some("grp"))
      .orderBy("id_a", "id_b"))
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("overlap")))
    assert(got == Seq((1L, 2L, 5L), (2L, 3L, 0L)), s"got $got")
  }

  test("kAnonymity: size census, min l-diversity, and l=1 leak count") {
    val d = Seq(
      // class (a,1): 3 rows, 2 sensitive values
      ("a", 1, 10L), ("a", 1, 10L), ("a", 1, 20L),
      // class (a,2): 1 row -> k=1 re-identification, l=1 leak
      ("a", 2, 30L),
      // class (b,1): 3 rows, all same sensitive -> l=1 leak at size 3
      ("b", 1, 40L), ("b", 1, 40L), ("b", 1, 40L))
      .toDF("seg", "nat", "sens")
    val got = rows(graft.ops.Quality.kAnonymity(d, Seq("seg", "nat"), "sens"))
      .map(r => (r.getAs[Long]("class_size"), r.getAs[Long]("n_classes"),
        r.getAs[Long]("n_rows"), r.getAs[Long]("min_l_div"),
        r.getAs[Long]("classes_l1")))
    assert(got == Seq((1L, 1L, 1L, 1L, 1L), (3L, 2L, 6L, 1L, 1L)), s"$got")
  }

  test("zValue: interleaves bits (known Morton values) and orders cells " +
    "so z-range files are rectangles") {
    import graft.ops.Layout
    val d = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (7L, 7L),
      (5L, 3L)).toDF("x", "y")
    val got = rows(d.select(col("x"), col("y"),
      Layout.zValue(col("x"), col("y"), bits = 4).as("z")))
      .map(r => (r.getAs[Long]("x"), r.getAs[Long]("y")) -> r.getAs[Long]("z"))
      .toMap
    // hand-computed Morton codes: x bits even positions, y bits odd
    assert(got((0L, 0L)) == 0L)
    assert(got((1L, 0L)) == 1L)
    assert(got((0L, 1L)) == 2L)
    assert(got((1L, 1L)) == 3L)
    assert(got((7L, 7L)) == 63L)
    assert(got((5L, 3L)) == 27L)  // x=101,y=011 -> 011011
    intercept[IllegalArgumentException] {
      d.select(Layout.zValue(col("x"), col("y"), bits = 32))
    }
  }

  test("z-order pruning: both dimensions prune under z layout; only the " +
    "sort dimension prunes under linear layout") {
    import graft.ops.Layout
    // 32x32 grid of points; z cells of 4096 z-values = 64x64 rectangles
    // would be 1 file, so shift 4 -> files are 4-z-value cells (2x2)
    val pts = (for (x <- 0L until 32L; y <- 0L until 32L) yield (x, y))
      .toDF("x", "y")
    val z = Layout.zValue(col("x"), col("y"), bits = 6)
    val zStats = Layout.fileRangeStats(pts, shiftright(z, 4), col("x"), col("y"))
    val lin = Layout.fileRangeStats(pts, shiftright(col("y"), 2), col("x"), col("y"))
    def scannedFiles(stats: org.apache.spark.sql.DataFrame,
                     mn: String, mx: String): Long =
      rows(stats.agg(sum(when(Layout.scanned(col(mn), col(mx), 8L, 11L), 1L)
        .otherwise(0L)).as("s"))).head.getAs[Long]("s")
    val zTotal = zStats.count()
    // z layout: an x-band [8,11] covers 4 of 16 columns of 4x4 cells
    assert(scannedFiles(zStats, "min_x", "max_x") < zTotal / 2,
      "x-band failed to prune z-layout files")
    assert(scannedFiles(zStats, "min_y", "max_y") < zTotal / 2,
      "y-band failed to prune z-layout files")
    // linear layout: y-band prunes, x-band opens EVERY file
    val lTotal = lin.count()
    assert(scannedFiles(lin, "min_y", "max_y") == 1L)
    assert(scannedFiles(lin, "min_x", "max_x") == lTotal,
      "x-band should scan every linear file")
  }

  test("tfidf: repeated corpus-wide terms score below distinctive terms") {
    val d = Seq(
      (1L, "apple apple banana shared", "en"),
      (2L, "cherry shared other words", "en"),
      (3L, "shared words words words", "en")).toDF("doc_id", "text", "lang")
    val got = rows(TextAnalysis.tfIdf(d, k = 2))
    val top1 = got.filter(_.getAs[Long]("rank") == 1L)
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("term")).toMap
    assert(top1(1L) == "apple")   // tf 2/4 and df 1 beats everything
    assert(top1(3L) == "words")   // tf 3/4 dominates despite df 2
    // 'shared' (df 3) never outranks a doc-distinctive term
    assert(!got.exists(r => r.getAs[String]("term") == "shared" &&
      r.getAs[Long]("rank") == 1L))
  }

  test("stratified hash sampling: deterministic, rate-respecting, 0/1 exact") {
    import graft.ops.Sampling
    val docs = (1L to 400L).map(i => (i, if (i % 2 == 0) "en" else "zh"))
      .toDF("doc_id", "lang")
    val all = Sampling.stratifiedByHash(docs, "lang", "doc_id",
      rates = Map("en" -> 1.0), defaultRate = 0.0)
    assert(rows(all).forall(_.getString(1) == "en"))  // zh fully dropped
    assert(all.count() == 200)                        // en fully kept
    val half = Sampling.stratifiedByHash(docs, "lang", "doc_id",
      rates = Map("en" -> 0.5), defaultRate = 0.5)
    val n = half.count()
    assert(n > 120 && n < 280, s"rate 0.5 kept $n of 400")
    // determinism: same rows regardless of partitioning
    val again = Sampling.stratifiedByHash(docs.repartition(7), "lang", "doc_id",
      rates = Map("en" -> 0.5), defaultRate = 0.5)
    assert(rows(half.orderBy("doc_id")).map(_.getLong(0)) ==
      rows(again.orderBy("doc_id")).map(_.getLong(0)))
  }

  test("survivors: per-cluster best quality wins, ties to smallest doc_id") {
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (9L, 7L))
      .toDF("doc_id", "cluster_id")
    val quality = Seq((1L, 0.4), (2L, 0.9), (3L, 0.9), (7L, 0.5), (9L, 0.5))
      .toDF("doc_id", "quality")
    val got = rows(Dedup.survivors(clusters, quality))
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("survivor_id"),
        r.getAs[Boolean]("is_survivor")))
    assert(got == Seq(
      (1L, 2L, false), (2L, 2L, true), (3L, 2L, false),  // 0.9 tie -> id 2
      (7L, 7L, true), (9L, 7L, false)))                  // 0.5 tie -> id 7
  }

  test("int8 quantization: symmetric scale, half-away-from-zero, zero vector") {
    import graft.functions.VectorExpressions.{vecAbsMax, vecQuantize}
    val df = Seq(
      (1L, Array(2.0f, -4.0f, 1.0f)),        // scale 127/4
      (2L, Array(0.0f, 0.0f, 0.0f)))         // all-zero -> zeros
      .toDF("vec_id", "embedding")
    val got = rows(df.select($"vec_id", vecAbsMax($"embedding").as("mx"),
      vecQuantize($"embedding").as("q")).orderBy("vec_id"))
    assert(got(0).getAs[Double]("mx") == 4.0)
    assert(got(0).getSeq[Long](2) == Seq(64L, -127L, 32L)) // 63.5 -> 64, 31.75 -> 32
    assert(got(1).getSeq[Long](2) == Seq(0L, 0L, 0L))
    // negative midpoint rounds away from zero (Math.round would give -63)
    val neg = rows(Seq((1L, Array(-2.0f, 4.0f))).toDF("v", "embedding")
      .select(vecQuantize($"embedding").as("q"))).head.getSeq[Long](0)
    assert(neg == Seq(-64L, 127L))
  }

  test("histogram sketch: exact bins, merge adds, quantile within bin width") {
    import graft.ops.Sketch
    val vals = (1 to 1000).map(_ / 100.0)  // 0.01 .. 10.00, uniform
    val df = vals.toDF("v")
    val h = Sketch.histogram(df, $"v", width = 0.5)
    val bins = rows(h).map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bins.values.sum == 1000L)
    assert(bins(0L) == 49L)   // 0.01..0.49
    assert(bins(1L) == 50L)   // 0.50..0.99
    // quantile estimate within one bin width of the true quantile
    val q50 = SketchReference.histogramQuantile(h, width = 0.5, q = 0.5)
    assert(math.abs(q50 - 5.0) <= 0.5, s"q50=$q50")
    val q90 = SketchReference.histogramQuantile(h, width = 0.5, q = 0.9)
    assert(math.abs(q90 - 9.0) <= 0.5, s"q90=$q90")
    // merge = histogram of the union: bin counts add
    val (a, b) = (vals.take(400), vals.drop(400))
    val merged = Sketch.histogram(a.toDF("v"), $"v", 0.5)
      .unionByName(Sketch.histogram(b.toDF("v"), $"v", 0.5))
      .groupBy($"bin").agg(sum($"cnt").as("cnt"))
    assert(rows(merged).map(r => r.getLong(0) -> r.getLong(1)).toMap == bins)
  }

  test("cms sketch: estimate bounds true count above; merge = sketch of union") {
    import graft.ops.Sketch
    val events = graft.queries.table(spark, "/root/testdata/sf0.001", "events")
    val sketch = Sketch.cmsSketch(events, $"event_type")
    val exact = events.filter($"event_type" === "click").count()
    val est = SketchReference.cmsEstimate(sketch, "click")
    assert(est >= exact, s"CMS under-counted: $est < $exact") // never undercounts
    assert(est <= exact + events.count() / 8, s"overcount beyond eps bound: $est vs $exact")
    val a = events.filter($"event_id" % 2 === 0)
    val b = events.filter($"event_id" % 2 =!= 0)
    // merge: cells add
    val merged = Sketch.cmsSketch(a, $"event_type")
      .unionByName(Sketch.cmsSketch(b, $"event_type"))
      .groupBy($"row", $"bucket").agg(sum($"cnt").as("cnt"))
      .orderBy($"row", $"bucket")
    assert(rows(merged).map(r => (r.getInt(0), r.getInt(1), r.getLong(2))) ==
      rows(sketch).map(r => (r.getInt(0), r.getInt(1), r.getLong(2))))
  }

  test("multimodal decode: synthesized containers parse back via real header walk") {
    import Multimodal.{MediaRow, HeaderDecoder}
    val d = Seq((1L, "abc"), (3L, "xy")).toDF("doc_id", "text")
    val got = rows(Multimodal.decodeMetaFromDocs(d))
    // body bytes + real header size (39 JFIF / 33 PNG)
    assert(got.map(_.getAs[Long]("n_bytes")).toSeq == Seq(3L + 39L, 2L + 33L))
    assert(got.map(_.getAs[String]("format")).toSeq == Seq("jpeg", "png"))
    assert(got.forall(_.getAs[Long]("channels") == 3L))
    // dimensions come from the body length, parsed back out of the bytes
    assert(got.map(r => (r.getAs[Long]("width"), r.getAs[Long]("height"))).toSeq ==
      Seq((64L + 3 % 577, 64L + 3 * 31 % 417), (64L + 2 % 577, 64L + 2 * 31 % 417)))
  }

  test("header decoder: parses hand-built PNG/JPEG, degrades on corrupt input") {
    import Multimodal.{MediaRow, HeaderDecoder}
    // valid PNG via the synthesizer, then corrupt its CRC -> unknown
    val png = Multimodal.synthesizePayload(0L, Array.fill(10)('a'.toByte))
    val pm = HeaderDecoder.decodeOne(MediaRow(7L, png))
    assert((pm.format, pm.width, pm.height, pm.channels) == ("png", 74L, 64L + 310L, 3L))
    val bad = png.clone(); bad(30) = (bad(30) ^ 0x55).toByte
    assert(HeaderDecoder.decodeOne(MediaRow(7L, bad)).format == "unknown")
    // SOF2 (progressive) frame header is recognized like SOF0
    val jpg = Multimodal.synthesizePayload(1L, Array.fill(5)('b'.toByte))
    val sofAt = 20 // SOI(2) + APP0(18): marker byte of the SOF segment
    assert((jpg(sofAt) & 0xFF) == 0xFF && (jpg(sofAt + 1) & 0xFF) == 0xC0)
    val prog = jpg.clone(); prog(sofAt + 1) = 0xC2.toByte
    val jm = HeaderDecoder.decodeOne(MediaRow(1L, prog))
    assert((jm.format, jm.width, jm.height) == ("jpeg", 69L, 64L + 5 * 31 % 417))
    // DHT (C4) must NOT be mistaken for a frame header: splice one in
    // before SOF0 and verify the walk skips it by its length field
    val dht = Array(0xFF, 0xC4, 0x00, 0x04, 0x00, 0x01).map(_.toByte)
    val spliced = jpg.take(20) ++ dht ++ jpg.drop(20)
    val sm = HeaderDecoder.decodeOne(MediaRow(1L, spliced))
    assert((sm.format, sm.width) == ("jpeg", 69L))
    // truncated / non-media buffers degrade, never throw
    assert(HeaderDecoder.decodeOne(MediaRow(1L, Array[Byte]())).format == "unknown")
    assert(HeaderDecoder.decodeOne(MediaRow(1L, "plain text".getBytes)).format == "unknown")
    assert(HeaderDecoder.decodeOne(
      MediaRow(1L, Array(0xFF, 0xD8, 0xFF).map(_.toByte))).format == "jpeg")
  }

  test("decoder seam: a custom decoder (the old stub) swaps in unchanged") {
    // FakeDecoder now lives here: it proves the Decoder trait still admits
    // a non-parsing implementation (e.g. a future JNI codec) — pipeline
    // plumbing identical, only the per-row extraction differs.
    object FakeDecoder extends Multimodal.Decoder {
      def decode(rows: Iterator[Multimodal.MediaRow]): Iterator[Multimodal.MediaMeta] =
        rows.map(r => Multimodal.MediaMeta(r.doc_id, r.payload.length.toLong,
          64L + r.payload.length % 577L, 64L + (r.payload.length * 31L) % 417L,
          3L, if (r.doc_id % 3 == 0) "png" else "jpeg"))
    }
    val media = Seq((3L, "abcd".getBytes)).toDF("doc_id", "payload")
    val got = rows(Multimodal.decodeMeta(media, FakeDecoder))
    assert(got.map(r => (r.getAs[Long]("n_bytes"), r.getAs[String]("format"))).toSeq ==
      Seq((4L, "png")))
  }

  test("spikes: 2x-trailing-average rule, full-history guard, per type") {
    // type A: four quiet hours then a 3x burst -> spike; type B never has
    // 4 prior buckets -> no verdict rows at all
    val rows_ = (0 until 4).map(h => (h.toLong, f"2024-01-01 0$h:30:00", 1L, "A", 0.0)) ++
      Seq((10L, "2024-01-01 04:10:00", 1L, "A", 0.0),
          (11L, "2024-01-01 04:20:00", 1L, "A", 0.0),
          (12L, "2024-01-01 04:40:00", 1L, "A", 0.0),
          (20L, "2024-01-01 00:00:00", 2L, "B", 0.0))
    val ev = rows_.toDF("event_id", "ts_s", "user_id", "event_type", "value")
      .withColumn("ts", $"ts_s".cast("timestamp")).drop("ts_s")
    val got = rows(EventWindows.spikes(ev))
    assert(got.length == 1)                       // only A's 5th bucket judged
    val r = got.head
    assert(r.getAs[String]("event_type") == "A" && r.getAs[Long]("n") == 3L &&
      r.getAs[Long]("trail_n") == 4L && r.getAs[Boolean]("spike")) // 3*4 > 4*2
    // exactly at 2x the average is NOT a spike: counts 1,1,1,1 then 2
    val flat = ((0 until 4).map(h => (h.toLong, f"2024-01-01 0$h:00:00")) ++
      Seq((8L, "2024-01-01 04:00:00"), (9L, "2024-01-01 04:30:00")))
      .map { case (id, t) => (id, t, 1L, "A", 0.0) }
      .toDF("event_id", "ts_s", "user_id", "event_type", "value")
      .withColumn("ts", $"ts_s".cast("timestamp")).drop("ts_s")
    assert(!rows(EventWindows.spikes(flat)).head.getAs[Boolean]("spike"))
  }

  test("typeEntropy: uniform spread maxes, single type zeroes") {
    val ev = Seq(
      (1L, "2024-01-01 10:00:00", 1L, "a", 0.0),
      (2L, "2024-01-01 10:01:00", 1L, "b", 0.0),
      (3L, "2024-01-01 10:02:00", 2L, "a", 0.0),
      (4L, "2024-01-01 10:03:00", 2L, "a", 0.0))
      .toDF("event_id", "ts_s", "user_id", "event_type", "value")
      .withColumn("ts", $"ts_s".cast("timestamp")).drop("ts_s")
    val got = rows(EventWindows.typeEntropy(ev))
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Double]("entropy")).toMap
    assert(math.abs(got(1L) - math.log(2.0)) < 1e-6) // two types, 1 each
    assert(got(2L) == 0.0)                           // one type only
  }

  test("temperatureWeights: sqrt flattening, weights sum to ~1, floor quotas") {
    val d = (1 to 90).map(i => (i.toLong, "big")) ++ (91 to 100).map(i => (i.toLong, "small"))
    val got = rows(graft.ops.Sampling.temperatureWeights(
      d.toDF("doc_id", "source"), "source", budget = 1000L))
    val w = got.map(r => r.getAs[String]("source") ->
      (r.getAs[Double]("weight"), r.getAs[Long]("quota"))).toMap
    // raw share 90% flattens to sqrt(90)/(sqrt(90)+sqrt(10)) = 75%
    assert(math.abs(w("big")._1 - 0.75) < 1e-6)
    assert(math.abs(w("big")._1 + w("small")._1 - 1.0) < 1e-5)
    // floor never over-allocates: the exact ratios sit a hair under .75/.25
    // (the normalizer's 10-dp decimal rounding), so quotas land at 749/249
    assert(w("big")._2 == 749L && w("small")._2 == 249L)
    assert(got.map(_.getAs[Long]("quota")).sum <= 1000L)
  }

  test("repeatFactors: scarce source repeats up to the cap, rich source subsamples") {
    // 10-token docs: "rich" holds 900 tokens, "scarce" 100. Budget 2000
    // with sqrt flattening gives scarce a 500-token share over a 100-token
    // inventory -> raw factor 5, capped at 4 epochs; rich's 1500-token
    // share over 900 -> ~1.66, uncapped.
    val ten = (1 to 10).map(i => s"t$i").mkString(" ")
    val d = ((1 to 90).map(i => (i.toLong, ten, "rich")) ++
      (91 to 100).map(i => (i.toLong, ten, "scarce")))
      .toDF("doc_id", "text", "source")
    val got = rows(graft.ops.Sampling.repeatFactors(d, "source",
        tokenBudget = 2000L))
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("target_tokens"),
          r.getAs[Double]("repeat_factor"), r.getAs[Long]("effective_tokens")))
      .toMap
    val (rn, rt, rf, re) = got("rich")
    val (sn, st, sf, se) = got("scarce")
    assert(rn == 900L && sn == 100L)
    // sqrt(900)/sqrt(100) are exact doubles: the 75%/25% split is exact
    assert(rt == 1500L && st == 500L)
    assert(sf == 4.0 && se == 400L)   // capped: 4 epochs of the inventory
    assert(rf > 1.6 && rf < 1.7 && re == 1500L) // oversampled, uncapped
  }

  test("gramContainment: quote-in-page caught, stop-grams cut, df=1 can't pair") {
    val quote = (1 to 12).map(i => s"q$i").mkString(" ")
    val page = quote + " " + (1 to 40).map(i => s"p$i").mkString(" ")
    val other = (1 to 30).map(i => s"z$i").mkString(" ")
    val d = Seq((1L, quote), (2L, page), (3L, other)).toDF("doc_id", "text")
    def singletons(docs: org.apache.spark.sql.DataFrame) =
      docs.select($"doc_id", $"doc_id".as("rep"), lit(1L).as("r"))
    val grams = Dedup.gramHashes(d, n = 4).distinct()
    val got = rows(Dedup.gramContainment(grams, singletons(d), maxDf = 64,
      threshold = 0.6))
    assert(got.length == 1)
    val r = got.head
    // every kept gram of the quote is inside the page: containment = 1
    assert(r.getAs[Long]("doc_a") == 1L && r.getAs[Long]("doc_b") == 2L &&
      r.getAs[Double]("containment") == 1.0)
    // a gram shared by EVERY doc is boilerplate: with maxDf = 2 nothing
    // clears the cut between quote and page if all their shared grams
    // appear in 3 docs
    val boiler = "common one two three"
    val d2 = Seq((1L, s"$boiler a b"), (2L, s"$boiler c d"), (3L, s"$boiler e f"))
      .toDF("doc_id", "text")
    val g2 = Dedup.gramHashes(d2, n = 4).distinct()
    assert(rows(Dedup.gramContainment(g2, singletons(d2), maxDf = 2,
      threshold = 0.1)).isEmpty)
  }

  test("gramContainment over duplicate classes equals the direct self-join") {
    def words(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    val quote = words("q", 12)
    val dup = words("a", 20)
    val boiler = words("b", 8)
    val d = Seq[(Long, String)](
      (1L, quote), (4L, quote),                      // quote class, r = 2
      (2L, quote + " " + words("p", 40)),            // page holding it
      (10L, dup), (11L, dup), (12L, dup),            // exact dups, r = 4 ...
      (13L, dup.toUpperCase.replace(" ", "   ")),    // ... after normalizing
      // five copies: every gram has df 5 > maxDf, so the class keeps no
      // gram and pairs with nobody, not even within itself
      (20L, boiler), (21L, boiler), (22L, boiler), (23L, boiler), (24L, boiler),
      // a cross pair sharing 3 of min(17, 30) kept grams: below threshold
      (30L, words("c", 20)), (32L, words("c", 20)),
      (31L, words("c", 6) + " " + words("d", 30)), (33L, words("d", 30)),
      (40L, null)                                    // no text, no grams
    ).toDF("doc_id", "text")
    // the dd_containment membership: classes of identical normalized text
    val fp = when($"text".isNull, concat(lit("solo:"), $"doc_id".cast("string")))
      .otherwise(sha2(graft.etl.functions.normalizeText(lower($"text")), 256))
    val wf = org.apache.spark.sql.expressions.Window.partitionBy($"fp")
    val members = d.select($"doc_id", fp.as("fp"))
      .select($"doc_id", min($"doc_id").over(wf).as("rep"),
        count(lit(1)).over(wf).as("r"))
    assert(rows(members.filter($"r" >= 2).groupBy($"rep").count()).length == 4)
    val grams = Dedup.gramHashes(d, n = 4).distinct()
    def pairs(df: org.apache.spark.sql.DataFrame) =
      rows(df).map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("n_shared"), r.getAs[Double]("containment")))
    val got = pairs(Dedup.gramContainment(grams, members, maxDf = 4,
      threshold = 0.6))
    assert(got == pairs(ContainmentReference.direct(grams, maxDf = 4,
      threshold = 0.6)))
    val ids = got.map(p => (p._1, p._2)).toSet
    assert(Set((1L, 2L), (1L, 4L), (2L, 4L), (10L, 13L), (30L, 32L), (31L, 33L))
      .subsetOf(ids), s"missing pairs: $got")
    assert(!got.exists(p => p._1 >= 20L && p._1 <= 24L), "cut class paired")
    assert(!ids.contains((30L, 31L)) && !ids.contains((31L, 32L)),
      "below-threshold pair kept")
  }

  test("backwardWithin: fresh match carried, stale match nulled, staleness exact") {
    import graft.ops.AsOf
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq(
      (101L, 1L, t("2024-01-01 10:00:00")),  // right row 10 min before: fresh
      (102L, 1L, t("2024-01-01 12:00:00")),  // latest right is 2h10m old: stale
      (103L, 2L, t("2024-01-01 09:00:00")))  // no right rows at all
      .toDF("event_id", "user_id", "ts")
    val right = Seq((11L, 1L, t("2024-01-01 09:50:00")))
      .toDF("event_id", "user_id", "ts")
    val got = rows(AsOf.backwardWithin(left, right, by = Seq("user_id"),
      leftTime = "ts", rightTime = "ts", rightSeq = "event_id",
      rightCols = Seq("event_id"), prefix = "m_")
      .orderBy("event_id"))
      .map(r => (r.getAs[Long]("event_id"),
        Option(r.getAs[java.lang.Long]("m_event_id")),
        Option(r.getAs[java.lang.Long]("m_staleness_us"))))
    assert(got == Seq(
      (101L, Some(11L), Some(600L * 1000000L)),
      (102L, None, None),
      (103L, None, None)))
  }

  test("windowedTopK: per-window count ranking, deterministic tie-break, k cut") {
    val ev = (1 to 3).map(i => (i.toLong, "2024-01-01 10:0%d:00".format(i), 1L, "a", 0.0)) ++
      (4 to 5).map(i => (i.toLong, "2024-01-01 10:0%d:00".format(i), 1L, "b", 0.0)) ++
      Seq((6L, "2024-01-01 10:06:00", 1L, "c", 0.0),
          (7L, "2024-01-01 10:07:00", 1L, "d", 0.0))
    val df = ev.toDF("event_id", "ts_s", "user_id", "event_type", "value")
      .withColumn("ts", $"ts_s".cast("timestamp")).drop("ts_s")
    val got = rows(graft.ops.EventWindows.windowedTopK(df))
    assert(got.map(r => (r.getAs[String]("event_type"), r.getAs[Long]("rk"))) ==
      Seq(("a", 1L), ("b", 2L), ("c", 3L)))  // c beats d on the name tie
  }

  test("temperatureSample: quota per stratum honored, small strata kept whole") {
    val d = (1 to 96).map(i => (i.toLong, "big")) ++ (97 to 100).map(i => (i.toLong, "small"))
    val got = rows(graft.ops.Sampling.temperatureSample(
      d.toDF("doc_id", "source"), "source", "doc_id", budget = 20L))
    val bySrc = got.groupBy(_.getAs[String]("source")).view.mapValues(_.length).toMap
    // sqrt weights: big ~ 9.8/11.8 -> quota 16, small -> quota 3
    assert(bySrc("big") == 16 && bySrc("small") == 3)
    // kept set is the reservoir prefix: ranks are exactly 1..quota
    assert(got.filter(_.getAs[String]("source") == "big")
      .map(_.getAs[Long]("rk")).sorted == (1L to 16L))
  }

  test("quality profile: nulls, distincts, min/max/mean per column from one pass") {
    val d = Seq[(java.lang.Long, java.lang.Double)](
      (1L, 2.0), (2L, 2.0), (3L, 4.0), (4L, null))
      .toDF("id", "v")
    val got = rows(graft.ops.Quality.profile(d, Seq("id", "v")))
      .map(r => r.getAs[String]("col_name") -> r).toMap
    val v = got("v")
    assert(v.getAs[Long]("n_rows") == 4L && v.getAs[Long]("n_null") == 1L &&
      v.getAs[Long]("n_distinct") == 2L && v.getAs[Double]("min_v") == 2.0 &&
      v.getAs[Double]("max_v") == 4.0)
    assert(math.abs(v.getAs[Double]("mean_v") - 8.0 / 3) < 1e-6)
    assert(got("id").getAs[Long]("n_distinct") == 4L)
  }

  test("quality expectations: null predicate is a violation, pass iff zero") {
    val d = Seq[(java.lang.Long, java.lang.Double)](
      (1L, 0.5), (2L, 1.5), (3L, null)).toDF("id", "v")
    val got = rows(graft.ops.Quality.expectations(d, Seq(
      "v_low" -> ($"v" <= 1.0),       // 1.5 violates; null v violates
      "id_pos" -> ($"id" > 0))))
      .map(r => r.getAs[String]("rule") ->
        (r.getAs[Long]("n_violations"), r.getAs[Boolean]("pass"))).toMap
    assert(got("v_low") == (2L, false))
    assert(got("id_pos") == (0L, true))
  }

  test("refCheck: orphans counted, null fk is an orphan, dup parents don't fan out") {
    val child = Seq[java.lang.Long](1L, 1L, 2L, null).toDF("fk")
    val parent = Seq(1L, 1L, 3L).toDF("pk")  // pk 1 twice: must not double rows
    val got = rows(graft.ops.Quality.refCheck("c->p", child, "fk", parent, "pk")).head
    assert(got.getAs[Long]("n_child") == 4L)
    assert(got.getAs[Long]("n_orphans") == 2L)  // fk=2 and fk=null
    assert(!got.getAs[Boolean]("ok"))
  }

  test("histogramQuantiles: interpolation inside the containing bin, q=1 lands last") {
    import graft.ops.Sketch
    // values 0..9 at width 1: bins 0..9, one count each
    val hist = Sketch.histogram((0 until 10).map(_.toDouble).toDF("v"), $"v", 1.0)
    val got = rows(Sketch.histogramQuantiles(hist, 1.0, Seq(0.5, 1.0)))
      .map(r => r.getAs[Double]("q") -> r.getAs[Double]("est")).toMap
    // target 5.0 falls in bin 4 (cum 5 >= 5 > prev 4): est = 4 + (5-4)/1 = 5
    assert(got(0.5) == 5.0)
    assert(got(1.0) == 10.0)  // top of the last bin
    // matches the driver-side helper bin-for-bin
    assert(got(0.5) == SketchReference.histogramQuantile(hist, 1.0, 0.5))
  }

  test("knnGraph: exact duplicates are mutual rank-1 neighbors in their cell") {
    // 8 vectors, ids 0..7; ids 1 and 2 identical; every vec_id % every == 0
    // forms the centroid set
    val e = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)), (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f)), (3L, Array(0.0f, 1.0f, 0.0f)),
      (4L, Array(0.0f, 0.9f, 0.1f)), (5L, Array(0.0f, 0.0f, 1.0f)),
      (6L, Array(0.1f, 0.0f, 0.9f)), (7L, Array(0.5f, 0.5f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = rows(graft.ops.Similarity.knnGraph(e, k = 1, centroidEvery = 3))
      .map(r => r.getAs[Long]("vec_id") -> (r.getAs[Long]("n_id"), r.getAs[Double]("sim")))
      .toMap
    assert(got(1L) == (2L, 1.0) && got(2L) == (1L, 1.0))
    // every vector with a cell-mate gets some neighbor; sims within [-1, 1]
    assert(got.values.forall { case (_, s) => s >= -1.0 && s <= 1.0 })
  }

  test("minhash est audit: identical docs estimate 1 with zero error") {
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 1
      (3L, "completely different text about unrelated things entirely"))
      .toDF("doc_id", "text")
    val sig = Dedup.materialize(Dedup.minHashSignatures(d))
    val got = rows(Dedup.minHashEstQuality(d, sig))
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        (r.getAs[Double]("est_jaccard"), r.getAs[Double]("exact_jaccard"),
          r.getAs[Double]("abs_err"))).toMap
    // identical texts: every min-hash agrees, every shingle shared
    assert(got((1L, 2L)) == ((1.0, 1.0, 0.0)))
    // doc 3 shares no band with 1/2 -> never a candidate
    assert(got.keySet == Set((1L, 2L)))
  }

  test("kmeans: one assignment per vector, bounded clusters, Lloyd improves") {
    val e = graft.queries.table(spark, "/root/testdata/sf0.001", "embeddings")
    val n = e.count()
    def meanSim(iters: Int): Double = {
      val out = rows(graft.ops.Similarity.kmeansAuto(e, k = 4, iters = iters))
      assert(out.length == n)                              // total assignment
      assert(out.map(_.getAs[Long]("vec_id")).distinct.length == n)
      assert(out.map(_.getAs[Long]("c_id")).distinct.length <= 4)
      assert(out.forall { r =>
        val s = r.getAs[Double]("sim"); s >= -1.0 && s <= 1.0 })
      out.map(_.getAs[Double]("sim")).sum / n
    }
    // centroid update = per-dim mean; cosine-to-mean ranks like cosine-to-
    // normalized-mean, so the spherical-k-means monotonicity argument
    // applies (6-dp rounding gets epsilon slack)
    assert(meanSim(2) >= meanSim(1) - 1e-4)
  }

  test("daily anomaly: spike day flagged by z-score, quiet days pass") {
    val dayMs = 86400L * 1000L
    // type A: nine 1-event days, then an 11-event day -> z ≈ 2.85
    val ev = ((0 until 9).map(d => (d.toLong, new java.sql.Timestamp(d * dayMs), "A")) ++
      (0 until 11).map(i => (100L + i, new java.sql.Timestamp(9 * dayMs + i), "A")) ++
      Seq((900L, new java.sql.Timestamp(0L), "B")))   // 1 day only: no spread
      .toDF("event_id", "ts", "event_type")
    val got = rows(EventWindows.dailyAnomaly(ev))
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[String]("event_type") == "A" && r.getAs[Long]("day") == 9L
      && r.getAs[Long]("n") == 11L && r.getAs[Double]("z") > 2.8
      && r.getAs[Double]("z") < 2.9)
  }

  test("ngram freq: vocab counts per language, count-desc bigram-asc order") {
    val d = Seq((1L, "a b a b", "en"), (2L, "a b c", "en"), (3L, "solo", "es"))
      .toDF("doc_id", "text", "lang")
    val got = rows(TextAnalysis.ngramFreq(d))
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("bigram"),
        r.getAs[Long]("n"), r.getAs[Long]("rank")))
    // doc 3 has one token -> no bigram; ties (n=1) break on bigram string
    assert(got == Seq(("en", "a b", 3L, 1L), ("en", "b a", 1L, 2L),
      ("en", "b c", 1L, 3L)))
  }

  test("jaroWinkler kernel matches DuckDB's semantics on the variant-distinguishing cases") {
    import graft.functions.StringExpressions.{jaroWinkler => jw}
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    def j(a: String, b: String): Double = jw(u(a), u(b))
    // values probed from duckdb jaro_winkler_similarity (rapidfuzz family)
    assert(j("martha", "marhta") == 0.9611111111111111)
    assert(j("DIXON", "DICKSONX") == 0.8133333333333332)
    // integer transposition halving: classic half-count would give 0.9375
    assert(j("abcxxxxx", "bcaxxxxx") == 0.9583333333333334)
    // boost threshold is strict: jaro 2/3 with prefix 4 keeps the raw jaro
    assert(j("abcdefgh", "abcdxxxx") == 0.6666666666666666)
    assert(j("prefix", "prefzz") == 0.8666666666666666)
    // window clamps at 0 for short strings; empties are 0, not 1
    assert(j("abc", "acb") == 0.5555555555555555)
    assert(j("ab", "ba") == 0.0 && j("", "") == 0.0 && j("a", "") == 0.0)
    assert(j("abcd", "abcd") == 1.0 && j("a", "a") == 1.0)
    assert(j("a", "ab") == 0.8500000000000001)
  }

  test("vocabJaroWinkler: typo pair found once, blocking bounds the candidates") {
    val d = Seq(
      (1L, "hello world hello"), (2L, "helo world"), (3L, "zebra Zebra77 quartz"))
      .toDF("doc_id", "text")
    val got = rows(Fuzzy.vocabJaroWinkler(d, minSim = 0.9))
      .map(r => (r.getAs[String]("w1"), r.getAs[String]("w2"),
        r.getAs[Long]("c1"), r.getAs[Long]("c2")))
    // helo/hello: same first char, len diff 1, jw = 0.96 -> one emission,
    // counts ride along (hello appears twice). Zebra77 fails the ASCII
    // filter; zebra/quartz different blocks; world/hello different blocks.
    assert(got == Seq(("helo", "hello", 1L, 2L)))
  }

  test("dsirWeights: target-like docs score higher; n_feats counts grams") {
    val d = Seq(
      (1L, "alpha beta alpha", "en"),   // target slice
      (2L, "alpha beta gamma", "en"),   // target slice
      (3L, "delta epsilon", "fr"),      // raw-only vocabulary
      (4L, "alpha beta", "fr"))         // raw doc made of target-ish grams
      .toDF("doc_id", "text", "lang")
    val got = rows(TextAnalysis.dsirWeights(d, target = col("lang") === "en",
        buckets = 64))
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_feats"), r.getAs[Double]("dsir_weight"))).toMap
    // unigrams + bigrams: doc 1 has 3 + 2 = 5 features
    assert(got(1L)._1 == 5L && got(3L)._1 == 3L)
    // target-vocabulary docs must outscore the never-in-target doc (the
    // absolute sign is smoothing-dominated at toy scale, so only the
    // ordering — what resampling consumes — is asserted)
    assert(got(4L)._2 > got(3L)._2 && got(1L)._2 > got(3L)._2)
  }

  test("bpeMergeCensus: pair counts weighted by word frequency, rank order") {
    val d = Seq((1L, "abc abc ab"), (2L, "abc xy")).toDF("doc_id", "text")
    val got = rows(TextAnalysis.bpeMergeCensus(d, topN = 10))
      .map(r => (r.getAs[String]("pair"), r.getAs[Long]("n"), r.getAs[Long]("rank")))
    // words: abc x3, ab x1, xy x1 -> ab: 3+1=4, bc: 3, xy: 1
    assert(got == Seq(("ab", 4L, 1L), ("bc", 3L, 2L), ("xy", 1L, 3L)))
  }

  test("psiDrift: symmetric halves score 0, drifted type scores positive") {
    import java.sql.Timestamp
    def ts(h: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    // 'stable': identical value distribution in both halves -> psi == 0.
    // 'drift': values move from the bottom decile to the top decile.
    val ev = (Seq.tabulate(8)(i => (ts(i), "stable", (i % 4) * 1.0)) ++
      Seq.tabulate(8)(i => (ts(16 + i), "stable", (i % 4) * 1.0)) ++
      Seq.tabulate(8)(i => (ts(i), "drift", 0.0)) ++
      Seq.tabulate(8)(i => (ts(16 + i), "drift", 3.0)))
      .toDF("ts", "event_type", "value")
    val got = rows(Quality.psiDrift(ev, bins = 4))
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n_early"), r.getAs[Long]("n_late"),
          r.getAs[Double]("psi"))).toMap
    assert(got("stable") == ((8L, 8L, 0.0)))
    assert(got("drift")._3 > 1.0)   // full-decile shift is way past the 0.2 bar
  }

  test("semDedup: duplicate dropped by lower-id rule, dissimilar vectors kept") {
    val e = Seq(
      (0L, Array(1f, 0f, 0f), 0),
      (1L, Array(1f, 0f, 0f), 0),    // exact dup of 0 -> dropped
      (2L, Array(0f, 1f, 0f), 0),    // orthogonal -> kept
      (3L, Array(-1f, 0f, 0f), 0))   // anti-parallel -> kept
      .toDF("vec_id", "embedding", "label")
    // k=1 puts everything in one cluster so the pruning sweep sees all pairs
    val got = rows(Similarity.semDedup(e, k = 1))
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("keep")).toMap
    assert(got == Map(0L -> true, 1L -> false, 2L -> true, 3L -> true))
  }

  test("chunkOverlap: stride/overlap bookkeeping and end clamp") {
    val d = Seq((1L, (1 to 10).map("t" + _).mkString(" "))).toDF("doc_id", "text")
    val got = rows(Packing.chunkOverlap(d, chunkTokens = 4, overlap = 2))
      .map(r => (r.getAs[Long]("chunk_idx"), r.getAs[Long]("start_tok"),
        r.getAs[Long]("n_chunk_tokens"), r.getAs[String]("chunk_fp")))
    assert(got.map(c => (c._1, c._2, c._3)) ==
      Seq((0L, 1L, 4L), (1L, 3L, 4L), (2L, 5L, 4L), (3L, 7L, 4L), (4L, 9L, 2L)))
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest("t1 t2 t3 t4".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got.head._4 == md5)
  }

  test("ksDrift: identical halves score 0, disjoint supports score 1") {
    import java.sql.Timestamp
    def ts(h: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    val ev = (Seq.tabulate(8)(i => (ts(i), "stable", (i % 4) * 1.0)) ++
      Seq.tabulate(8)(i => (ts(16 + i), "stable", (i % 4) * 1.0)) ++
      Seq.tabulate(8)(i => (ts(i), "drift", 0.0)) ++
      Seq.tabulate(8)(i => (ts(16 + i), "drift", 3.0)))
      .toDF("ts", "event_type", "value")
    val got = rows(Quality.ksDrift(ev, bins = 16))
      .map(r => r.getAs[String]("event_type") -> r.getAs[Double]("ks")).toMap
    assert(got("stable") == 0.0)
    assert(got("drift") == 1.0)
  }

  test("multimodal frame sample strides over fake frames; resize preserves ratio") {
    val d = Seq((1L, "x" * 100)).toDF("doc_id", "text")   // 100 bytes -> 7 frames
    val frames = rows(Multimodal.frameSample(d, stride = 2))
    assert(frames.map(_.getAs[Long]("frame_idx")).toSeq == Seq(0L, 2L, 4L, 6L))
    assert(frames.map(_.getAs[Long]("offset_bytes")).toSeq == Seq(0L, 32L, 64L, 96L))
    val meta = Seq((1L, 512L, 128L), (2L, 100L, 50L)).toDF("doc_id", "width", "height")
    val plan = rows(Multimodal.resizePlan(meta))
      .map(r => r.getAs[Long]("doc_id") -> (r.getAs[Long]("out_w"), r.getAs[Long]("out_h"))).toMap
    assert(plan(1L) == (256L, 64L))   // scaled down by 2, ratio kept
    assert(plan(2L) == (100L, 50L))   // under the bound -> untouched
  }

  test("covarianceMatrix: hand-checked 2-dim corpus, upper triangle only") {
    val e = Seq((1L, Seq(1.0f, 2.0f)), (2L, Seq(3.0f, 6.0f)), (3L, Seq(5.0f, 4.0f)))
      .toDF("vec_id", "embedding")
    val got = rows(Similarity.covarianceMatrix(e))
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("cov")).toMap
    // means: x=(3,4); var(x)=((−2)²+0²+2²)/3, var(y)=((−2)²+2²+0²)/3,
    // cov(x,y)=((−2)(−2)+0·2+2·0)/3
    assert(got.keySet == Set((0L, 0L), (0L, 1L), (1L, 1L)))
    assert(math.abs(got((0L, 0L)) - 8.0 / 3) < 1e-6)
    assert(math.abs(got((1L, 1L)) - 8.0 / 3) < 1e-6)
    assert(math.abs(got((0L, 1L)) - 4.0 / 3) < 1e-6)
  }

  test("randomProject: norm-preserving in expectation, sign matrix fixed by seed") {
    val e = Seq((1L, (0 until 64).map(i => if (i == 7) 1.0f else 0.0f)))
      .toDF("vec_id", "embedding")
    val got = rows(Similarity.randomProject(e))
    assert(got.length == 16)
    // a one-hot input reads out row 7 of the sign matrix / 4 exactly
    got.foreach { r =>
      val j = r.getAs[Long]("out_dim").toInt
      val want = Similarity.projSign(41, 7, j) / 4.0
      assert(math.abs(r.getAs[Double]("value") - want) < 1e-9, s"dim $j")
    }
  }

  test("ngramNovelty: shared shingles lower novelty; unique doc scores 1") {
    val got = rows(TextAnalysis.ngramNovelty(docs))
      .map(r => r.getLong(0) -> r.getAs[Double]("novelty")).toMap
    assert(got(1L) == 0.0)   // exact dup of 2 -> nothing unique
    assert(got(2L) == 0.0)
    assert(got(4L) == 1.0)   // no shingle shared with anyone
    assert(got(3L) > 0 && got(3L) < 1)   // near dup: tail shingles unique
  }

  test("sourcePairJaccard: identical sources hit 1, disjoint hit 0") {
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon", "s1"),
      (2L, "alpha beta gamma delta epsilon", "s2"),   // same shingles as s1
      (3L, "zeta eta theta iota kappa", "s3")         // disjoint
    ).toDF("doc_id", "text", "source")
    val got = rows(TextAnalysis.sourcePairJaccard(d))
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n_inter"), r.getAs[Long]("n_union"),
          r.getAs[Double]("jaccard"))).toMap
    assert(got.size == 3)   // full pair frame incl. zero-overlap pairs
    assert(got(("s1", "s2"))._3 == 1.0)
    assert(got(("s1", "s3")) == ((0L, 6L, 0.0)))
    assert(got(("s2", "s3")) == ((0L, 6L, 0.0)))
  }

  test("dsirGumbelTopK: k rows, rank follows the JVM-recomputed key order") {
    val weights = Seq((1L, 10L, 5.0), (2L, 10L, -5.0), (3L, 10L, 4.9), (4L, 10L, 4.8))
    val w = weights.toDF("doc_id", "n_feats", "dsir_weight")
    val got = rows(graft.ops.Sampling.dsirGumbelTopK(w, k = 3))
    assert(got.length == 3)
    assert(got.map(_.getAs[Long]("rank")).toSeq == Seq(1L, 2L, 3L))
    // recompute the deterministic keys host-side from the shared hash
    // family and check the selected ids + order exactly
    def key(id: Long, wt: Double): Double = {
      val b = java.lang.Math.floorMod(Dedup.seededHashJvm(47, id.toString), 10000L)
      val u = (b.toDouble + 0.5) / 10000L
      BigDecimal(wt - math.log(-math.log(u)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val want = weights.map { case (id, _, wt) => (id, key(id, wt)) }
      .sortBy { case (id, k) => (-k, id) }.take(3)
    assert(got.map(r => (r.getLong(0), r.getAs[Double]("key"))) == want)
  }

  test("classifierScore: host-recomputed hash weights, fixed-point score") {
    val d = Seq((1L, "alpha beta"), (2L, "alpha")).toDF("doc_id", "text")
    val got = rows(TextAnalysis.classifierScore(d))
      .map(r => r.getLong(0) -> (r.getAs[Long]("n_tokens"),
        r.getAs[Double]("clf_score"), r.getAs[Boolean]("keep"))).toMap
    def w(t: String): Long = Dedup.seededHashJvm(31, t) % 2001
    def score(wsum: Long, n: Long): Double =
      (wsum * 1000000L / n - 1000000000L).toDouble / 1000000000L
    val s1 = w("alpha") + w("beta")
    assert(got(1L) == ((2L, score(s1, 2), s1 > 2000)))
    assert(got(2L) == ((1L, score(w("alpha"), 1), w("alpha") > 1000)))
  }

  test("perplexityBuckets: bucket order follows avg_nll, one shared cut row") {
    // three cost tiers: all-common docs, mixed, singleton-rare docs
    val d = (1 to 9).map { i =>
      val t = if (i <= 3) "common common common"
              else if (i <= 6) s"common mid$i"
              else s"rare$i"
      (i.toLong, t)
    }.toDF("doc_id", "text")
    val got = rows(TextAnalysis.perplexityBuckets(d))
    assert(got.length == 9)
    val byB = got.groupBy(_.getAs[String]("bucket")).view
      .mapValues(_.map(_.getAs[Double]("avg_nll"))).toMap
    assert(byB.contains("head") && byB.contains("tail"))
    // equal scores can never straddle a <=-cut, so buckets are ordered
    for { h <- byB.get("head"); m <- byB.get("middle") } assert(h.max < m.min)
    for { m <- byB.get("middle"); t <- byB.get("tail") } assert(m.max < t.min)
    val cuts = got.map(r =>
      (r.getAs[Double]("cut_head"), r.getAs[Double]("cut_middle"))).distinct
    assert(cuts.length == 1 && cuts.head._1 <= cuts.head._2)
  }

  test("termLookup: posting stats for present terms, zero row for absent") {
    val d = Seq((1L, "foo bar foo"), (2L, "bar baz")).toDF("doc_id", "text")
    val got = rows(TextAnalysis.termLookup(d, Seq("foo", "bar", "nope")))
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got.size == 3)
    assert(got("foo") == ((1L, 2L, 1L, 1L)))
    assert(got("bar") == ((2L, 2L, 1L, 2L)))
    assert(got("nope") == ((0L, 0L, -1L, -1L)))
  }

  test("pageRank: host-recomputed integer fixed point on a path graph") {
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val got = rows(GraphReference.pageRank(pairs))
      .map(r => r.getLong(0) -> (r.getAs[Long]("degree"),
        r.getAs[Long]("pr_micro"), r.getAs[Double]("pagerank"))).toMap
    // replicate the integer arithmetic exactly: micro-mass, floor
    // division, integer damping
    val M = graft.ops.Graph.MassScale
    val deg = Map(1L -> 1L, 2L -> 2L, 3L -> 1L)
    val nbrs = Map(1L -> Seq(2L), 2L -> Seq(1L, 3L), 3L -> Seq(2L))
    val base = (M * 15 / 100) / 3
    var m = Map(1L -> M / 3, 2L -> M / 3, 3L -> M / 3)
    for (_ <- 1 to 3) {
      m = m.keys.map { v =>
        val s = nbrs(v).map(u => m(u) / deg(u)).sum
        v -> (base + (s * 85) / 100)
      }.toMap
    }
    for (v <- Seq(1L, 2L, 3L))
      assert(got(v) == ((deg(v), m(v), m(v).toDouble / M)), s"node $v")
    assert(got(2L)._3 > got(1L)._3, "the hub must outrank the leaves")
  }

  test("neymanAllocation: budget follows N_h*sigma_h; zero-variance " +
    "stratum gets zero; allocation caps at N_h") {
    val df = Seq(("A", 0.0), ("A", 2.0), ("B", 5.0), ("B", 5.0),
      ("C", 0.0), ("C", 6.0)).toDF("g", "v")
    val got = rows(graft.ops.Sampling.neymanAllocation(df, "g", "v"))
      .map(r => r.getString(0) -> (r.getAs[Long]("n_rows"),
        r.getAs[Double]("sigma"), r.getAs[Long]("weight_cents"),
        r.getAs[Long]("alloc_ppm"), r.getAs[Long]("n_alloc"))).toMap
    // sigma: A = 1 (pop. sd of {0,2}), B = 0, C = 3; weights 200/0/600.
    // The 10000 budget wants 2500/0/7500 — but a 2-row stratum can only
    // yield 2 rows, so both allocations CAP at N_h.
    assert(got("A") == ((2L, 1.0, 200L, 250000L, 2L)))
    assert(got("B") == ((2L, 0.0, 0L, 0L, 0L)))
    assert(got("C") == ((2L, 3.0, 600L, 750000L, 2L)))
  }

  test("neymanAllocation: floored remainder dealt by largest remainder — " +
    "allocations sum to the budget") {
    val df = Seq(("A", 0.0), ("A", 2.0), ("B", 5.0), ("B", 5.0),
      ("C", 0.0), ("C", 6.0)).toDF("g", "v")
    // weights 200/0/600, total 800, budget 3: floors 0/0/2 (leftover 1),
    // remainders 600/0/200 — A takes the extra unit
    val got = rows(graft.ops.Sampling.neymanAllocation(df, "g", "v",
        budget = 3))
      .map(r => r.getString(0) -> r.getAs[Long]("n_alloc")).toMap
    assert(got == Map("A" -> 1L, "B" -> 0L, "C" -> 2L))
    assert(got.values.sum == 3L, "allocations must exhaust the budget")
  }

  test("neymanAllocation: remainder units rank only among strata with " +
    "headroom — a capped stratum cannot absorb and discard one") {
    // A {0,2}: n=2, sigma 1, weight 200; B {0,6,0,6}: n=4, sigma 3,
    // weight 1200. Budget 9: floors 1/7, leftover 1. B's remainder
    // (1000) outranks A's (400) but B is already over its cap (7 > 4) —
    // the unit must go to A (headroom 1 < 2), not vanish into B's cap.
    val df = Seq(("A", 0.0), ("A", 2.0),
      ("B", 0.0), ("B", 6.0), ("B", 0.0), ("B", 6.0)).toDF("g", "v")
    val got = rows(graft.ops.Sampling.neymanAllocation(df, "g", "v",
        budget = 9))
      .map(r => r.getString(0) -> r.getAs[Long]("n_alloc")).toMap
    assert(got == Map("A" -> 2L, "B" -> 4L),
      s"capped stratum swallowed the remainder unit: $got")
  }

  test("triangles: one triangle + pendant, then K4 — each found once, " +
    "lcc in ppm floors") {
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
      .toDF("doc_a", "doc_b")
    val got = rows(GraphReference.triangles(pairs))
      .map(r => r.getLong(0) -> (r.getAs[Long]("degree"),
        r.getAs[Long]("n_triangles"), r.getAs[Long]("lcc_ppm"))).toMap
    assert(got(1L) == ((2L, 1L, 1000000L)))
    assert(got(2L) == ((2L, 1L, 1000000L)))
    assert(got(3L) == ((3L, 1L, 333333L)))
    assert(got(4L) == ((1L, 0L, 0L)))
    // K4: 4 triangles total, each node in exactly 3 (degree-tie ordering
    // must not double-count or drop wedges)
    val k4 = Seq((10L, 11L), (10L, 12L), (10L, 13L), (11L, 12L),
      (11L, 13L), (12L, 13L)).toDF("doc_a", "doc_b")
    val g4 = rows(GraphReference.triangles(k4))
      .map(r => r.getLong(0) -> (r.getAs[Long]("degree"),
        r.getAs[Long]("n_triangles"), r.getAs[Long]("lcc_ppm"))).toMap
    for (v <- Seq(10L, 11L, 12L, 13L))
      assert(g4(v) == ((3L, 3L, 1000000L)), s"node $v")
  }

  test("trianglesFromQuotient equals the member-level census") {
    import GraphReference.quotientOf
    def table(df: org.apache.spark.sql.DataFrame) =
      rows(df).map(r => (r.getLong(0), r.getAs[Long]("degree"),
        r.getAs[Long]("n_triangles"), r.getAs[Long]("lcc_ppm")))
    def df(es: Seq[(Long, Long)]) = es.toDF("doc_a", "doc_b")
    // the twin-class chain every judged graph row runs, fed by hand
    def viaQuotient(q: (org.apache.spark.sql.DataFrame,
                        org.apache.spark.sql.DataFrame)) = {
      val (qfwd, members) = graft.ops.Graph.quotientFrames(q._1, q._2)
      table(graft.ops.Graph.trianglesFromQuotient(qfwd, members))
    }
    // twin-rich: clone triple {1,2,3} (clique, shared externals), clone
    // pair {4,5} (clique) completely joined to the triple, singleton 6 on
    // 4 AND 5 (so 6 is NOT a twin of the triple: different neighborhood),
    // pendant 7 on 6, plus an untouched far triangle {20,21,22}. Exercises
    // C(r-1,2), (r-1)·S, C2 over neighbor classes, weighted quotient
    // triangles, and the singleton fall-through at once. Node 99 is on no
    // edge: its membership row must be dropped.
    val twinRich = Seq(
      (1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L),
      (1L, 4L), (1L, 5L), (2L, 4L), (2L, 5L), (3L, 4L), (3L, 5L),
      (4L, 6L), (5L, 6L),
      (6L, 7L),
      (20L, 21L), (20L, 22L), (21L, 22L))
    val maximal = Map(2L -> 1L, 3L -> 1L, 5L -> 4L, 21L -> 20L, 22L -> 20L)
    assert(GraphReference.twinClasses(twinRich).filter { case (v, r) => v != r }
      == maximal)
    val direct = table(GraphReference.triangles(df(twinRich)))
    assert(viaQuotient(quotientOf(spark, twinRich, maximal, extra = Seq(99L)))
      == direct)
    // non-maximal partitions: every node a singleton (quotient == graph),
    // and only the far triangle collapsed — the expansion formulas must
    // hold for any partition into clique-classes, not just the maximal one
    assert(viaQuotient(quotientOf(spark, twinRich, Map.empty)) == direct)
    assert(viaQuotient(quotientOf(spark, twinRich,
      Map(21L -> 20L, 22L -> 20L))) == direct)
    // triangle + pendant: only {1, 2} are twins (3 also sees 4); under
    // the all-singleton partition the quotient is the graph itself
    val twinFree = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
    assert(GraphReference.twinClasses(twinFree).filter { case (v, r) => v != r }
      == Map(2L -> 1L))
    val twinFreeDirect = table(GraphReference.triangles(df(twinFree)))
    assert(viaQuotient(quotientOf(spark, twinFree, Map.empty)) == twinFreeDirect)
    assert(viaQuotient(quotientOf(spark, twinFree, Map(2L -> 1L))) ==
      twinFreeDirect)
    // a clone PAIR with no external neighbors (isolated K2) and an
    // isolated K3 of mutual twins: the pure clique terms, with no
    // quotient edge at all
    val cliques = Seq((30L, 31L), (40L, 41L), (40L, 42L), (41L, 42L))
    val cliqueClasses = Map(31L -> 30L, 41L -> 40L, 42L -> 40L)
    assert(GraphReference.twinClasses(cliques).filter { case (v, r) => v != r }
      == cliqueClasses)
    assert(viaQuotient(quotientOf(spark, cliques, cliqueClasses)) ==
      table(GraphReference.triangles(df(cliques))))
    // the real judged input at sf0.001: the near-dup pair graph, under
    // its maximal twin partition and under the all-singleton one
    val staged = rows(graft.queries.TextOps.queries("dd_ngram_jaccard")(
      spark, "/root/testdata/sf0.001").select($"doc_a", $"doc_b"))
      .map(r => (r.getLong(0), r.getLong(1)))
    val stagedDirect = table(GraphReference.triangles(df(staged)))
    assert(viaQuotient(quotientOf(spark, staged,
      GraphReference.twinClasses(staged))) == stagedDirect)
    assert(viaQuotient(quotientOf(spark, staged, Map.empty)) == stagedDirect)
  }

  // ---- canonicalize-then-expand pair factorization (round 12) ----

  /** Exact-dup-rich corpus pinning every canonicalization subtlety:
    * permuted duplicate (same token SET, same bucket → grouped), padded
    * duplicate (same token set, different raw token count → DIFFERENT
    * bucket → never grouped, never paired), cross-lang identical text
    * (lang is part of the group key), an isolated multi-member group in
    * another language, and an empty doc (singleton by construction). */
  private lazy val dupCorpus = {
    val t1 = "the quick brown fox jumps over the lazy dog near the river bank"
    Seq(
      (1L, t1, "en"),
      (2L, t1, "en"),                                          // exact dup
      (3L, "bank river the near dog lazy the over jumps fox brown quick the",
        "en"),                                                 // permuted dup
      (4L, t1 + " the the the the the the the", "en"),         // padded: bucket 2
      (5L, "the quick brown fox jumps over the lazy dog near the river shore",
        "en"),                                                 // near dup
      (6L, "el rapido zorro marron salta sobre el perro perezoso junto al rio",
        "es"),
      (7L, "el rapido zorro marron salta sobre el perro perezoso junto al rio",
        "es"),                                                 // isolated dup pair
      (8L, t1, "es"),                                          // same text, other lang
      (9L, "", "en")                                           // empty
    ).toDF("doc_id", "text", "lang")
  }

  test("ngramJaccardCanonical: groups by (lang, bucket, token set); " +
    "expansion reproduces the member-level contract exactly") {
    val (canon, members) = Dedup.ngramJaccardCanonical(dupCorpus, 0.5)
    val m = rows(members).map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(m(1L) == ((1L, 3L)) && m(2L) == ((1L, 3L)) && m(3L) == ((1L, 3L)),
      s"permuted dup must join the exact-dup group: $m")
    assert(m(4L) == ((4L, 1L)), "padded dup crosses a bucket edge — singleton")
    assert(m(8L) == ((8L, 1L)), "same text in another lang — singleton")
    assert(m(6L) == ((6L, 2L)) && m(7L) == ((6L, 2L)))
    assert(m(9L) == ((9L, 1L)), "empty doc must stay a singleton")
    // canonical pairs: only the rep-level near-dup edge
    assert(rows(canon).map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      == Seq((1L, 5L, 0.833333)))
    // full member-level expansion (dd_ngram_jaccard rides it end to end)
    val got = rows(jaccardPairs(dupCorpus, threshold = 0.5))
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got == Seq(
      (1L, 2L, 1.0), (1L, 3L, 1.0), (1L, 5L, 0.833333),
      (2L, 3L, 1.0), (2L, 5L, 0.833333), (3L, 5L, 0.833333),
      (6L, 7L, 1.0)))
  }

  test("canonical factorization: clusters / pagerank / degree hist / " +
    "triangles from twin classes ≡ the member-level computations") {
    val (canon, members) = Dedup.ngramJaccardCanonical(dupCorpus, 0.5)
    val expanded = Dedup.expandCanonicalPairs(canon, members)
      .select($"doc_a", $"doc_b")
    // clusters: {1,2,3,5} labeled 1 (n=4), isolated dup pair {6,7}
    // labeled 6 (n=2) — the isolated-multi-group branch
    def cl(df: org.apache.spark.sql.DataFrame) =
      rows(df).map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val fromCanon = cl(Dedup.duplicateClustersFromCanonical(canon, members))
    assert(fromCanon == cl(Dedup.duplicateClusters(expanded)))
    assert(fromCanon.contains((6L, 6L, 2L)) && fromCanon.contains((7L, 6L, 2L)),
      s"isolated exact-dup clique must cluster without a canonical pair: $fromCanon")
    // integer PageRank: quotient iteration must match member-level exactly
    def pr(df: org.apache.spark.sql.DataFrame) =
      rows(df).map(r => (r.getLong(0), r.getAs[Long]("degree"),
        r.getAs[Long]("pr_micro"), r.getAs[Double]("pagerank")))
    val (qfwd, qmembers) = graft.ops.Graph.quotientFrames(canon, members)
    assert(pr(graft.ops.Graph.pageRankFromQuotient(qfwd, qmembers)) ==
      pr(GraphReference.pageRank(expanded)))
    // degree histogram, closed form vs member census
    val memberHist = {
      val fwd = expanded.select($"doc_a".as("src"), $"doc_b".as("dst"))
      fwd.union(fwd.select($"dst".as("src"), $"src".as("dst")))
        .groupBy($"src").agg(count(lit(1)).as("degree"))
        .groupBy($"degree").agg(count(lit(1)).as("n_nodes"))
        .orderBy($"degree")
    }
    def hist(df: org.apache.spark.sql.DataFrame) =
      rows(df).map(r => (r.getLong(0), r.getLong(1)))
    assert(hist(graft.ops.Graph.degreeHistFromQuotient(qfwd, qmembers)) ==
      hist(memberHist))
    // triangle census from the pre-factored classes vs the direct census
    def tri(df: org.apache.spark.sql.DataFrame) =
      rows(df).map(r => (r.getLong(0), r.getAs[Long]("degree"),
        r.getAs[Long]("n_triangles"), r.getAs[Long]("lcc_ppm")))
    assert(tri(graft.ops.Graph.trianglesFromQuotient(qfwd, qmembers)) ==
      tri(GraphReference.triangles(expanded)))
  }

  test("phraseSearch: overlapping matches counted, mixed phrase lengths, " +
    "absent phrase reports zeros") {
    val d = Seq((1L, "a a a b"), (2L, "c a a")).toDF("doc_id", "text")
    val got = rows(TextAnalysis.phraseSearch(d,
      Seq("a a", "a a b", "zz yy")))
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    assert(got("a a") == ((2L, 3L, 1L, 2L)), "overlaps: doc1 has 2, doc2 has 1")
    assert(got("a a b") == ((1L, 1L, 1L, 1L)))
    assert(got("zz yy") == ((0L, 0L, -1L, -1L)))
  }

  test("phraseSearch: caller phrases are data, not syntax — quotes, " +
    "backslashes and lambda metacharacters cannot break or change the " +
    "predicate; phrases normalize like the corpus") {
    val d = Seq((1L, "it's  a -> b \\ test"), (2L, "plain row"))
      .toDF("doc_id", "text")
    // raw quote, backslash, arrow, and un-normalized casing/spacing
    val got = rows(TextAnalysis.phraseSearch(d,
      Seq("it's", "a -> b", "\\ test", "IT'S  A", "w = 'x' OR 1=1")))
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got("it's") == ((1L, 1L)))
    assert(got("a -> b") == ((1L, 1L)))
    assert(got("\\ test") == ((1L, 1L)))
    // "IT'S  A" normalizes to "it's a" and matches
    assert(got("it's a") == ((1L, 1L)))
    assert(got("w = 'x' or 1=1") == ((0L, 0L)), "injection text is a phrase")
  }

  test("bm25: terms normalize like the corpus — padded/uppercase terms " +
    "still match") {
    val d = Seq((1L, "Table scan merge"), (2L, "no match here"))
      .toDF("doc_id", "text")
    val got = rows(TextAnalysis.bm25(d, Seq(" TABLE ", "scan")))
      .map(r => r.getLong(0) -> r.getAs[Long]("n_terms")).toMap
    assert(got(1L) == 2L, "normalized terms must hit doc 1 twice")
    assert(!got.contains(2L))
  }

  test("kwic: context windows clamp at document edges") {
    val d = Seq((1L, "a b target c d"), (2L, "target x")).toDF("doc_id", "text")
    val got = rows(TextAnalysis.kwic(d, Seq("target")))
      .map(r => (r.getLong(1), r.getAs[Long]("pos"), r.getAs[String]("context")))
    assert(got == Seq((1L, 3L, "a b target c d"), (2L, 1L, "target x")))
  }

  test("opqPermutation: dims dealt round-robin by variance rank off the " +
    "covariance diagonal; permuteVectors reorders accordingly") {
    // diag variances: dim0=1.0, dim1=4.0, dim2=0.5, dim3=2.0 (off-diag
    // cells must be ignored); 2 subspaces over d=4 → subDim=2.
    // rank desc: dim1, dim3, dim0, dim2 → positions 0,2,1,3 →
    // perm(pos)=originalDim = [1, 0, 3, 2]
    val cov = Seq((0L, 0L, 1.0), (1L, 1L, 4.0), (2L, 2L, 0.5),
      (3L, 3L, 2.0), (0L, 1L, 9.9), (1L, 3L, -9.9))
      .toDF("dim_i", "dim_j", "cov")
    val perm = Similarity.opqPermutation(cov, subspaces = 2)
    assert(perm == Seq(1, 0, 3, 2))
    val e = Seq((1L, Seq(10.0f, 20.0f, 30.0f, 40.0f)))
      .toDF("vec_id", "embedding")
    val got = rows(Similarity.permuteVectors(e, perm))
      .map(_.getSeq[Float](1)).head
    assert(got == Seq(20.0f, 10.0f, 40.0f, 30.0f))
  }

  test("standardize: z-scores per dimension; constant dimension pins to 0") {
    val e = Seq((1L, Seq(0.0f, 2.0f)), (2L, Seq(2.0f, 2.0f)))
      .toDF("vec_id", "embedding")
    val got = rows(Similarity.standardize(e))
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("z")).toMap
    assert(got((1L, 0L)) == -1.0 && got((2L, 0L)) == 1.0)
    assert(got((1L, 1L)) == 0.0 && got((2L, 1L)) == 0.0)
  }

  test("lexicalDiversity: types/hapax off the sorted run lengths, ppm floors") {
    val d = Seq((1L, "a a b c"), (2L, "x x x")).toDF("doc_id", "text")
    val got = rows(TextAnalysis.lexicalDiversity(d))
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getAs[Long]("ttr_ppm"), r.getAs[Long]("hapax_ppm"))).toMap
    assert(got(1L) == ((4L, 3L, 2L, 750000L, 666666L)))
    assert(got(2L) == ((3L, 1L, 0L, 333333L, 0L)))
  }

  test("kfold: every row lands in one fold; shares sum to ~1e6 per fold") {
    val d = (1 to 200).map(i => (i.toLong, if (i % 3 == 0) "en" else "zh"))
      .toDF("doc_id", "lang")
    val got = rows(graft.ops.Sampling.kfold(d, strataCol = "lang"))
    val byFold = got.groupBy(_.getLong(0))
    assert(byFold.keySet.subsetOf((0L until 5L).toSet))
    assert(got.map(_.getAs[Long]("n")).sum == 200L)
    for ((_, rs) <- byFold) {
      val foldN = rs.map(_.getAs[Long]("fold_n")).distinct
      assert(foldN.length == 1 && rs.map(_.getAs[Long]("n")).sum == foldN.head)
      // ppm floors: within |strata| ppm of exactly 1e6
      val s = rs.map(_.getAs[Long]("share_ppm")).sum
      assert(s <= 1000000L && s > 1000000L - rs.length)
    }
  }

  test("asof nearest: picks the closer side, ties and one-sided fall back") {
    import java.sql.Timestamp
    def ts(s: Long) = Timestamp.valueOf(java.time.LocalDateTime.ofEpochSecond(s, 0, java.time.ZoneOffset.UTC))
    val left = Seq((1L, 10L, ts(100)), (2L, 10L, ts(500)), (3L, 20L, ts(50)))
      .toDF("event_id", "user_id", "ts")
    val right = Seq((101L, 10L, ts(90)), (102L, 10L, ts(490)), (103L, 10L, ts(505)),
      (104L, 20L, ts(60)))
      .toDF("event_id", "user_id", "ts")
    val got = rows(graft.ops.AsOf.nearest(left, right, by = Seq("user_id"),
      leftTime = "ts", rightTime = "ts", rightSeq = "event_id",
      rightCols = Seq("event_id"), prefix = "m_"))
      .map(r => r.getLong(0) -> (r.getAs[Long]("m_event_id"),
        r.getAs[String]("m_direction"), r.getAs[Long]("m_delta_us"))).toMap
    assert(got(1L) == ((101L, "back", 10000000L)))   // only back exists... closer back
    assert(got(2L) == ((103L, "fwd", 5000000L)))     // fwd at 5s beats back at 10s
    assert(got(3L) == ((104L, "fwd", 10000000L)))    // nothing behind -> fwd
  }

  test("hllErrorAudit: estimate matches the driver-side estimator") {
    val d = (1 to 300).map(i => ("t", i.toLong)).toDF("k", "v")
    val got = rows(graft.ops.Sketch.hllErrorAudit(d, "k", col("v")))
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[Long]("exact_distinct") == 300L)
    val driverEst = SketchReference.estimate(
      graft.ops.Sketch.hllSketch(d, col("v")))
    assert(math.abs(r.getAs[Double]("hll_est") - driverEst) < 1e-5,
      s"${r.getAs[Double]("hll_est")} vs $driverEst")
    val ppm = r.getAs[Long]("rel_err_ppm")
    assert(math.abs(ppm) < 400000L, s"rel err $ppm ppm out of HLL range")
  }

  test("cmsErrorAudit: overcount non-negative, exact side is the truth") {
    val d = (1 to 140).map(i => "k" + (i % 7)).toDF("k")
    val got = rows(graft.ops.Sketch.cmsErrorAudit(d, col("k")))
    assert(got.length == 7)
    got.foreach { r =>
      assert(r.getAs[Long]("exact_cnt") == 20L)
      assert(r.getAs[Long]("overcount") >= 0L)
      assert(r.getAs[Long]("cms_est") ==
        r.getAs[Long]("exact_cnt") + r.getAs[Long]("overcount"))
    }
  }

  test("url canonicalize: case, port, fragment, tracking, slash, param order") {
    val in = Seq(
      "HTTPS://Example.COM:443/A/b/?z=1&utm_source=x&a=2#frag",
      "http://example.com:80/A/b?a=2&z=1",
      "https://example.com/",
      "https://example.com/p?utm_campaign=only"
    ).toDF("url")
    val got = in.select(graft.ops.Url.canonicalize(col("url")).as("c"))
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq(
      "https://example.com/A/b?a=2&z=1",
      "http://example.com/A/b?a=2&z=1",
      "https://example.com",
      "https://example.com/p"))
  }

  test("url canonicalDedup: variants fold to one group, min id survives") {
    val d = Seq(
      (2L, "https://example.com/x?utm_source=a"),
      (1L, "HTTPS://EXAMPLE.com:443/x"),
      (3L, "https://example.com/y")
    ).toDF("doc_id", "url")
    val got = rows(graft.ops.Url.canonicalDedup(d))
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got("https://example.com/x") == ((1L, 2L, 2L)))
    assert(got("https://example.com/y") == ((3L, 1L, 1L)))
  }

  test("labelOutliers: far vector flagged past mean + 2 sigma; rest kept") {
    val e = ((1 to 9).map(i => (i.toLong, Seq(0.0f, 0.0f), 0)) :+
      ((10L, Seq(10.0f, 0.0f), 0))).toDF("vec_id", "embedding", "label")
    val got = rows(Similarity.labelOutliers(e))
      .map(r => r.getLong(0) ->
        (r.getAs[Double]("dist"), r.getAs[Boolean]("is_outlier"))).toMap
    assert(got.size == 10)
    // mean (1,0): near docs at dist 1, far doc at 9; thresh 1.8+2*2.4=6.6
    assert(got(10L) == ((9.0, true)))
    assert((1 to 9).forall(i => got(i.toLong) == ((1.0, false))))
  }

  test("bpeMergeRounds: known merge sequence on a tiny vocab, early stop") {
    val d = Seq((1L, "abab abab abab abc abc", "en"))
      .toDF("doc_id", "text", "lang")
    val got = rows(TextAnalysis.bpeTrainFrames(d, rounds = 5)._1.orderBy("round"))
      .map(r => (r.getAs[Long]("round"), r.getAs[String]("sym_l"),
        r.getAs[String]("sym_r"), r.getAs[String]("merged"),
        r.getAs[Long]("n")))
    // vocab: abab wc=3, abc wc=2.
    // round 1: (a,b) = 2·3 + 1·2 = 8 beats (b,a)=3, (b,c)=2
    // round 2: abab -> ab|ab gives (ab,ab)=3; abc -> ab|c gives (ab,c)=2
    // round 3: only ab|c remains -> (ab,c)=2
    // round 4: every word is one symbol -> dry, loop stops at 3 rows
    assert(got == Seq(
      (1L, "a", "b", "ab", 8L),
      (2L, "ab", "ab", "abab", 3L),
      (3L, "ab", "c", "abc", 2L)))
  }

  test("bpeEncode: per-doc token counts under the trained merges") {
    val d = Seq((1L, "abab abab abab abc abc", "en"))
      .toDF("doc_id", "text", "lang")
    // rounds=2 merges (a,b) then (ab,ab): abab -> 1 symbol, abc -> ab|c (2)
    val got = rows(TextAnalysis.bpeEncodeWith(d,
        TextAnalysis.bpeTrainFrames(d, rounds = 2)._2))
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_words"),
        r.getAs[Long]("n_bpe_tokens"), r.getAs[Long]("n_chars"),
        r.getAs[Long]("tokens_per_word_ppm")))
    assert(got == Seq((1L, 5L, 3L * 1 + 2L * 2, 3L * 4 + 2L * 3, 1400000L)))
  }

  test("pqTopK: exact when every vector seeds the codebook (n <= k)") {
    // 12 vectors -> every = ceil(12/16) = 1, so the codebook contains every
    // sub-vector and PQ reconstruction is lossless: the ADC ranking must
    // equal brute force (sims agree to fold-order ulps, well under 6 dp).
    // The 4-subspace index pins that the scan takes its subspace count
    // from the codebook, not from a default.
    val e = (0L until 12L).map(i =>
        (i, Array.tabulate(64)(j => math.sin(i * 64.0 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val q = e.filter(col("vec_id") % 4 === 0)
    val brute = rows(Similarity.bruteForceTopK(e, q, k = 3))
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rank")) ->
        (r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toMap
    for (subspaces <- Seq(8, 4)) {
      val ix = Similarity.pqIvfIndex(e, subspaces)
      val pq = rows(Similarity.pqTopKFrom(ix.pq, q, k = 3))
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rank")) ->
          (r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toMap
      assert(pq.keySet == brute.keySet && pq.keySet.size == 9)
      for ((k0, (v, s)) <- pq) {
        assert(brute(k0)._1 == v, s"$subspaces subspaces: rank mismatch at $k0")
        assert(math.abs(brute(k0)._2 - s) <= 1e-6,
          s"$subspaces subspaces: sim drift at $k0")
      }
    }
  }

  test("recall: per-query hits and recall of an approximate ranking, " +
    "tagged legs side by side") {
    // q 1: 3 exact neighbors; q 2: an exact list shorter than k; q 3: no
    // hit in either leg (and no row at all in leg b); q 4 exists only on
    // the approximate side and has no exact list to score against.
    val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L),
      (3L, 30L), (3L, 31L)).toDF("q_id", "vec_id")
    val a = Seq((1L, 10L, 0.9), (1L, 13L, 0.8), (2L, 20L, 0.7),
      (3L, 32L, 0.6), (4L, 40L, 0.5)).toDF("q_id", "vec_id", "sim")
    val b = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 21L))
      .toDF("q_id", "vec_id")
    val plain = Similarity.recall(exact, a, "")
    assert(plain.columns.toSeq == Seq("q_id", "n_hits", "recall"))
    assert(rows(plain.orderBy("q_id")).map(_.toSeq) == Seq(
      Seq(1L, 1L, 0.333333), Seq(2L, 1L, 1.0), Seq(3L, 0L, 0.0)))
    val both = Similarity.recall(exact, a, "a")
      .join(Similarity.recall(exact, b, "b"), "q_id").orderBy("q_id")
    assert(both.columns.toSeq ==
      Seq("q_id", "n_hits_a", "recall_a", "n_hits_b", "recall_b"))
    assert(rows(both).map(_.toSeq) == Seq(
      Seq(1L, 1L, 0.333333, 3L, 1.0),
      Seq(2L, 1L, 1.0, 0L, 0.0),
      Seq(3L, 0L, 0.0, 0L, 0.0)))
  }

  test("the PQ stages' file names appear in src/main only inside the " +
    "stage builders") {
    import java.nio.file.Files
    val names = Seq("codebook.parquet", "codes.parquet", "cells.parquet",
      "cent.parquet", "perm.parquet")
    val builders = Seq("stagedPq", "stagedResPq", "stagedRefPq", "stagedOpq")
    val files = scala.util.Using.resource(
        Files.walk(java.nio.file.Paths.get("src/main/scala"))) { w =>
      import scala.jdk.CollectionConverters._
      w.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    }
    def at(src: String, word: String): Seq[Int] =
      Iterator.iterate(src.indexOf(word))(i => src.indexOf(word, i + 1))
        .takeWhile(_ >= 0).toSeq
    val found = for {
      f <- files
      src = Files.readString(f)
      // a builder's body: its `def` up to the closing brace at member
      // indentation
      bodies = if (f.getFileName.toString != "Vectors.scala") Nil
        else builders.map { b =>
          val from = src.indexOf(s"def $b(")
          assert(from >= 0, s"stage builder $b not found")
          (from, src.indexOf("\n  }\n", from))
        }
      name <- names
      i <- at(src, name)
    } yield (f.getFileName.toString, name,
      bodies.exists { case (a, z) => i > a && i < z })
    assert(names.forall(n => found.exists(x => x._2 == n && x._3)),
      s"a PQ stage file name is missing from the builders: $found")
    val stray = found.filterNot(_._3)
    assert(stray.isEmpty, s"PQ stage file names outside the builders: $stray")
  }

  test("every public member of the ops/etl/queries/streaming objects is " +
    "referenced in src/main outside its own definition") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    // The reference ETL's own surface, each pinned by a test, kept though
    // no judged row calls it.
    val allowed = Map(
      "Staging.scala/append" -> "README K2: append-mode staging (EtlSpec)",
      "Pipeline.scala/sourcesFromConfig" ->
        "the config-driven extract plan, main.py:63-74 (PipelineE2ESpec)",
      "functions.scala/toLongOr" ->
        "SURVEY F3: the -1 integer default (FunctionsSpec)")
    // Comments and string literals blanked; interpolated `$x` and `${...}`
    // kept, since the oracle CTE helpers are referenced only from inside
    // SQL strings.
    def strip(src: String): String = {
      val out = new StringBuilder
      val n = src.length
      var i = 0
      def at(s: String) = src.startsWith(s, i)
      def identChar(c: Char) = c.isLetterOrDigit || c == '_'
      while (i < n) {
        if (at("//")) while (i < n && src(i) != '\n') i += 1
        else if (at("/*")) {
          var depth = 1; i += 2
          while (i < n && depth > 0) {
            if (at("/*")) { depth += 1; i += 2 }
            else if (at("*/")) { depth -= 1; i += 2 }
            else { if (src(i) == '\n') out += '\n'; i += 1 }
          }
        } else if (src(i) == '"') {
          val interp = i > 0 && identChar(src(i - 1))
          val q = if (at("\"\"\"")) "\"\"\"" else "\""
          i += q.length
          out ++= "\"\""
          while (i < n && !at(q)) {
            if (interp && at("$$")) i += 2
            else if (interp && at("${")) {
              var depth = 1; var j = i + 2
              while (j < n && depth > 0) {
                if (src(j) == '{') depth += 1 else if (src(j) == '}') depth -= 1
                j += 1
              }
              out ++= " " + src.substring(i + 2, j - 1) + " "; i = j
            } else if (interp && src(i) == '$' && i + 1 < n &&
                (src(i + 1).isLetter || src(i + 1) == '_')) {
              var j = i + 1
              while (j < n && identChar(src(j))) j += 1
              out ++= " " + src.substring(i + 1, j) + " "; i = j
            } else if (src(i) == '\\' && q == "\"") i += 2
            else { if (src(i) == '\n') out += '\n'; i += 1 }
          }
          i += q.length
          if (q.length == 3) while (i < n && src(i) == '"') i += 1
        } else if (src(i) == '\'' && i + 2 < n && src(i + 1) != '\\' &&
            src(i + 2) == '\'') i += 3
        else if (src(i) == '\'' && i + 3 < n && src(i + 1) == '\\' &&
            src(i + 3) == '\'') i += 4
        else { out += src(i); i += 1 }
      }
      out.toString
    }
    val decl = ("""((?:(?:private|protected)(?:\[\w+\])?|override|final|""" +
      """implicit|sealed|abstract|case|lazy)\s+)*""" +
      """(def|val|var|object|class|trait|type)\s+([A-Za-z_]\w*)""").r
    // (name, modifiers) declared directly in an object body whose
    // enclosing scopes are all objects
    def objectMembers(code: String): Seq[(String, String)] = {
      var scopes = List.empty[Boolean]
      var pendingObject = false
      ("[{}]|" + decl.regex).r.findAllMatchIn(code).flatMap { m =>
        m.matched match {
          case "{" =>
            scopes = (pendingObject && scopes.forall(identity)) :: scopes
            pendingObject = false; None
          case "}" =>
            scopes = scopes.drop(1); pendingObject = false; None
          case _ =>
            val member = scopes.nonEmpty && scopes.forall(identity)
            pendingObject = m.group(2) == "object"
            if (member) Some((m.group(3), Option(m.group(1)).getOrElse("")))
            else None
        }
      }.toSeq
    }
    val files = scala.util.Using.resource(
        Files.walk(Paths.get("src/main/scala"))) { w =>
      w.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    }
    val code = files.map(f => f -> strip(Files.readString(f)))
    val every = code.map(_._2).mkString("\n")
    val tokens = """[A-Za-z_]\w*""".r.findAllIn(every).toSeq
      .groupMapReduce(identity)(_ => 1)(_ + _)
    val decls = decl.findAllMatchIn(every).toSeq
      .groupMapReduce(_.group(3))(_ => 1)(_ + _)
    val surface = Set("ops", "etl", "queries", "streaming")
    val members = for {
      (f, c) <- code
      if surface(f.getParent.getFileName.toString)
      (name, mods) <- objectMembers(c)
      if !"""\b(private|protected)\b(?!\[)""".r.findFirstIn(mods).isDefined &&
        !mods.contains("override")
    } yield (s"${f.getFileName}/$name", name)
    assert(members.exists(_._1 == "Dedup.scala/ngramJaccardCanonical"),
      s"member scan found none of the operators: ${members.take(5)}")
    val unused = members.filter { case (key, name) =>
      tokens.getOrElse(name, 0) <= decls.getOrElse(name, 0) && !allowed.contains(key)
    }.map(_._1)
    assert(unused.isEmpty, s"public members only tests call: $unused")
    val stale = allowed.keySet -- members.map(_._1)
    assert(stale.isEmpty, s"allow-listed members that are gone: $stale")
  }

  test("rerankExact: full shortlist reproduces brute force; a pruned " +
    "shortlist ranks only fetched candidates") {
    val e = (0L until 12L).map(i =>
        (i, Array.tabulate(64)(j => math.sin(i * 64.0 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val q = e.filter(col("vec_id") % 4 === 0)
    // shortlist = every (q, candidate) pair -> re-rank IS brute force
    val full = q.select(col("vec_id").as("q_id"))
      .crossJoin(e.select(col("vec_id")))
      .filter(col("q_id") =!= col("vec_id"))
    val rr = rows(Similarity.rerankExact(full, e, q, k = 3))
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rank")) ->
        (r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toMap
    val brute = rows(Similarity.bruteForceTopK(e, q, k = 3))
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rank")) ->
        (r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toMap
    assert(rr == brute, s"full-shortlist re-rank diverged:\n$rr\nvs\n$brute")
    // pruning vec 1 from q 0's shortlist: it must never be ranked for q 0
    val pruned = full.filter(!(col("q_id") === 0L && col("vec_id") === 1L))
    val got = rows(Similarity.rerankExact(pruned, e, q, k = 3))
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id")))
    assert(!got.contains((0L, 1L)), "pruned candidate leaked into the re-rank")
    assert(got.count(_._1 == 0L) == 3, "q 0 lost rows beyond the pruned one")
  }

  test("phashDedup: identical planes pair at hamming 0, all pairs under cut") {
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank", "en"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank", "en"),
      (3L, "completely different text about astronomy and the moons of jupiter", "en"))
      .toDF("doc_id", "text", "lang")
    val got = rows(graft.ops.Multimodal.phashDedup(d, maxHamming = 4))
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("hamming")))
    assert(got.contains((1L, 2L, 0L)), s"exact dup not found in $got")
    assert(got.forall(_._3 <= 4L))
  }

  test("phashDedup canonicalize-then-expand: a replica group emits every " +
    "intra pair at 0 and every member reaches near-dup neighbors") {
    // 1,2,3 are byte-identical (one hash group, rep = 1); 4 is a near dup
    // of the group (few flipped blocks); 5 is far. The rep-level MIH pair
    // (1,4) must expand to (1,4),(2,4),(3,4) with the SAME hamming, the
    // group owes its three intra pairs at 0, and 5 pairs with nothing.
    val base = "the quick brown fox jumps over the lazy dog near the river bank"
    val near = "the quick brown fox jumps over the hazy dog near the river bank"
    val d = Seq(
      (1L, base, "en"), (2L, base, "en"), (3L, base, "en"),
      (4L, near, "en"),
      (5L, "completely different text about astronomy and moons of jupiter", "en"))
      .toDF("doc_id", "text", "lang")
    val got = rows(graft.ops.Multimodal.phashDedup(d, maxHamming = 12))
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("hamming")))
    val intra = got.filter(p => p._1 <= 3 && p._2 <= 3)
    assert(intra.toSet == Set((1L, 2L, 0L), (1L, 3L, 0L), (2L, 3L, 0L)),
      s"intra pairs wrong: $got")
    val cross = got.filter(_._2 == 4L)
    if (cross.nonEmpty) {
      // expansion must be all-or-nothing across the group, same distance
      assert(cross.map(_._1).toSet == Set(1L, 2L, 3L),
        s"cross pairs missed a member: $got")
      assert(cross.map(_._3).toSet.size == 1, s"hamming differs: $got")
    }
    assert(got.forall(p => p._1 != 5L && p._2 != 5L), s"far doc paired: $got")
    assert(got == got.sorted, s"output not ordered: $got")
  }

  test("phashDedup at PDQ width: 256-bit hashes pair exact dups at 0 and " +
    "respect the scaled cut") {
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank", "en"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank", "en"),
      (3L, "completely different text about astronomy and the moons of jupiter", "en"))
      .toDF("doc_id", "text", "lang")
    val got = rows(graft.ops.Multimodal.phashDedup(d, maxHamming = 16,
      bits = 256))
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("hamming")))
    assert(got.contains((1L, 2L, 0L)), s"exact dup not found in $got")
    assert(got.forall(_._3 <= 16L))
    // a non-multiple-of-16 width is a caller error, not silent truncation
    intercept[IllegalArgumentException] {
      graft.ops.Multimodal.phashDedup(d, maxHamming = 4, bits = 100)
    }
  }

  test("phashDedup: docs shorter than nWords chars still pair — empty " +
    "subindex words densify to 0, they do not NULL the doc out") {
    // "hi" is 2 chars: at bits=256 its 16 blocks land in only 2 of the 16
    // subindex words. The other 14 words are all-zero-bits, NOT absent —
    // a NULL there silently drops the doc from the membership join and
    // the MIH probe join, hiding even exact duplicates.
    val d = Seq((1L, "hi", "en"), (2L, "hi", "en"),
      (3L, "completely different text about astronomy and moons", "en"))
      .toDF("doc_id", "text", "lang")
    val got = rows(graft.ops.Multimodal.phashDedup(d, maxHamming = 16,
      bits = 256))
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("hamming")))
    assert(got.contains((1L, 2L, 0L)),
      s"short-doc exact dup dropped (NULL band words?): $got")
  }

  /** `body`'s result and the hint warnings Spark's HintErrorLogger logged
    * on this thread while it ran. A broadcast hint on a non-join plan first
    * checks that the capture sees them. */
  private def hintWarnings[T](body: => T): (T, Seq[String]) = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val thread = Thread.currentThread().getName
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("hint-warnings", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(ev: LogEvent): Unit =
        if (ev.getThreadName == thread)
          seen.add(ev.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getLogger(
      "org.apache.spark.sql.catalyst.analysis.HintErrorLogger")
      .asInstanceOf[Logger]
    val level = logger.getLevel
    logger.setLevel(Level.WARN)
    logger.addAppender(appender)
    try {
      broadcast(spark.range(3).toDF("x")).agg(max($"x")).collect()
      assert(!seen.isEmpty, "the HintErrorLogger capture saw no warning")
      seen.clear()
      val out = body
      (out, seen.toArray(Array.empty[String]).toSeq)
    } finally {
      logger.removeAppender(appender)
      logger.setLevel(level)
      appender.stop()
    }
  }

  test("pqIndexFramesRefined: Lloyd rounds keep codes dense and do not " +
    "raise quantization distortion vs the strided seed codebook") {
    import org.apache.spark.sql.DataFrame
    val e = graft.queries.table(spark, "/root/testdata/sf0.001", "embeddings")
    val seed = graft.ops.Similarity.pqIvfIndex(e)
    val (cb0, codes0) = (seed.codebook, seed.codes)
    // the Lloyd rounds carry no hint Spark drops: HintErrorLogger warns on
    // this thread for none of them (nor for the encode over the result)
    val (refined, dropped) = hintWarnings {
      val ix = graft.ops.Similarity.pqIndexFramesRefined(e)
      ix.codes.collect()
      ix
    }
    assert(dropped.isEmpty, s"Spark dropped hints: $dropped")
    val (cb2, codes2) = (refined.codebook, refined.codes)
    // the ADC LUT is positional: refinement must preserve the (m, code)
    // key set exactly (empty codewords keep their previous position)
    val k0 = rows(cb0.select($"m", $"code")).map(r => (r.getLong(0), r.getLong(1))).toSet
    val k2 = rows(cb2.select($"m", $"code")).map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(k0 == k2, "refinement changed the codebook key set")
    // total quantization distortion sum ||x_sub - c_sub||^2 over all
    // (vector, subspace): k-means iterations cannot increase it (up to the
    // 6-dp mean rounding — hence the epsilon)
    def distortion(cb: DataFrame, codes: DataFrame): Double =
      e.join(codes, "vec_id")
        .select(col("embedding"), col("cp"),
          explode(sequence(lit(0L), lit(7L))).as("m"))
        .select(col("m"),
          expr("slice(embedding, CAST(m*8+1 AS INT), 8)").as("v_sub"),
          expr("shiftright(cp, CAST(8*m AS INT)) % 256").as("code"))
        .join(cb, Seq("m", "code"))
        .select(expr(
          """aggregate(zip_with(v_sub, c_sub,
            |  (a, b) -> (CAST(a AS DOUBLE) - CAST(b AS DOUBLE)) *
            |            (CAST(a AS DOUBLE) - CAST(b AS DOUBLE))),
            |  CAST(0 AS DOUBLE), (acc, x) -> acc + x)""".stripMargin).as("d2"))
        .agg(org.apache.spark.sql.functions.sum($"d2")).head().getDouble(0)
    val d0 = distortion(cb0, codes0)
    val d2 = distortion(cb2, codes2)
    assert(d2 <= d0 * 1.001 + 1e-6,
      s"refined distortion $d2 exceeds seed distortion $d0")
    assert(d2 < d0, s"refinement changed nothing: $d2 vs $d0")
  }

  test("pcaPower: recovers the dominant axis of an anisotropic cloud") {
    // 64-dim vectors: dim 0 carries variance ~100x any other dim, so the
    // top component must align with axis 0 and evr must dominate.
    val e = (0L until 40L).map { i =>
      (i, Array.tabulate(64) { j =>
        if (j == 0) (if (i % 2 == 0) 10.0f else -10.0f)
        else math.sin(i * 64.0 + j).toFloat * 0.1f
      })
    }.toDF("vec_id", "embedding")
    val got = rows(Similarity.pcaPowerFromCov(Similarity.covarianceMatrix(e)))
      .map(r => r.getAs[Long]("dim") ->
        (r.getAs[Double]("loading"), r.getAs[Double]("lambda"),
          r.getAs[Double]("evr"))).toMap
    assert(got.size == 64)
    val (l0, lambda, evr) = got(0L)
    assert(math.abs(math.abs(l0) - 1.0) < 0.01, s"axis-0 loading $l0")
    assert((1L until 64L).forall(d => math.abs(got(d)._1) < 0.05),
      "off-axis loading leaked")
    assert(lambda > 90.0 && evr > 0.95, s"lambda=$lambda evr=$evr")
  }

  test("ivfPqTopK: lossless codes reduce to plain IVF ranking (n <= k)") {
    val e = (0L until 12L).map(i =>
        (i, Array.tabulate(64)(j => math.sin(i * 64.0 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val q = e.filter(col("vec_id") % 4 === 0)
    val every = Similarity.autoCentroidEvery(12L)
    val ivf = rows(Similarity.ivfTopK(e, q, k = 3, every, nprobe = 2))
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rank")) ->
        (r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toMap
    // every vector seeds the codebook -> ADC reconstruction is lossless,
    // so the probed candidates AND their ranking match plain IVF, at the
    // default 8 subspaces and at 4
    for (subspaces <- Seq(8, 4)) {
      val ivfpq = rows(Similarity.ivfPqTopKFrom(
          Similarity.pqIvfIndex(e, subspaces), q, k = 3, nprobe = 2))
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rank")) ->
          (r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toMap
      assert(ivfpq.keySet == ivf.keySet)
      for ((k0, (v, s)) <- ivfpq) {
        assert(ivf(k0)._1 == v, s"$subspaces subspaces: rank mismatch at $k0")
        assert(math.abs(ivf(k0)._2 - s) <= 1e-6,
          s"$subspaces subspaces: sim drift at $k0")
      }
    }
  }

  test("curationSignals ≡ qualityScore ⋈ gopherRules on the real corpus " +
    "(the one-scan projection cannot drift from the standalone gates)") {
    import graft.ops.TextAnalysis
    val docs = graft.queries.table(spark, "/root/testdata/sf0.001", "documents")
    val got = rows(TextAnalysis.curationSignals(docs).orderBy($"doc_id"))
      .map(r => (r.getLong(0), r.getAs[java.lang.Double]("quality"),
        r.getAs[java.lang.Boolean]("keep")))
    val want = rows(TextAnalysis.qualityScore(docs)
        .select($"doc_id", $"quality")
        .join(TextAnalysis.gopherRules(docs).select($"doc_id", $"keep"),
          "doc_id")
        .orderBy($"doc_id"))
      .map(r => (r.getLong(0), r.getAs[java.lang.Double]("quality"),
        r.getAs[java.lang.Boolean]("keep")))
    assert(got.nonEmpty && got == want,
      s"signal drift: got ${got.take(3)} want ${want.take(3)}")
  }

  test("dedupWeights: members share 1/n, singletons keep weight 1") {
    val ids = Seq(1L, 2L, 3L, 4L).toDF("doc_id")
    val clusters = Seq((1L, 1L, 2L), (2L, 1L, 2L))
      .toDF("doc_id", "cluster_id", "n_members")
    val got = rows(Dedup.dedupWeights(clusters, ids))
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getAs[Double]("weight"))).toMap
    assert(got(1L) == ((1L, 2L, 0.5)))
    assert(got(2L) == ((1L, 2L, 0.5)))
    assert(got(3L) == ((3L, 1L, 1.0)))
    assert(got(4L) == ((4L, 1L, 1.0)))
  }

  test("resplitCells: untouched cells pass through bit-identical, split " +
    "cells land on member-seeded sub-cells, and the index still serves") {
    val dir = "/root/testdata/sf0.001"
    val e = graft.queries.table(spark, dir, "embeddings")
    val cells = Similarity.pqIvfIndex(e).cells
    val idx = cells.select($"vec_id", $"c_id")
    val cap = Similarity.autoCentroidEvery(e.count()).toLong
    val out = Similarity.resplitCells(idx, e, cap)
    val before = rows(idx).map(r => r.getLong(0) -> r.getLong(1)).toMap
    val after = rows(out).map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after.keySet == before.keySet,
      "re-split must keep exactly one row per vector")
    val pops = before.groupBy(_._2).view.mapValues(_.size).toMap
    val overCells = pops.filter(_._2 > cap).keySet
    assert(overCells.nonEmpty, s"no cell above cap=$cap — vacuous test")
    // 1. rows of non-split cells are untouched
    val untouched = before.filter { case (_, c) => !overCells(c) }
    assert(untouched.forall { case (v, c) => after(v) == c },
      "a non-split cell's row changed")
    // 2. every split-cell member lands on a sub-seed that was a MEMBER of
    //    its own original cell (new ids = member vec_ids, globally fresh
    //    except where a sub-seed id coincides with its own old cell id)
    val moved = before.filter { case (_, c) => overCells(c) }
    assert(moved.forall { case (v, c) => before(after(v)) == c },
      "a member re-routed to a seed outside its own cell")
    // 3. the offenders genuinely split (more cells than before) and the
    //    max split-cell population dropped
    val afterPops = moved.keys.groupBy(after).view.mapValues(_.size)
    assert(afterPops.size > overCells.size,
      "split produced no additional cells")
    assert(afterPops.values.max < moved.groupBy(_._2).values.map(_.size).max,
      "split did not reduce the worst population")
    // 4. serving path: every new centroid is a corpus vector, so
    //    corpus ⨝ distinct(c_id) reconstructs the full centroid table
    val newIds = after.values.toSet
    val corpusIds = rows(e.select($"vec_id")).map(_.getLong(0)).toSet
    assert(newIds.subsetOf(corpusIds),
      "a rebalanced cell id is not a corpus vector")
  }
}

object OpsSpec {
  /** The member-level n-gram Jaccard pair table as dd_ngram_jaccard
    * composes it: the canonical factorization, expanded, sorted. */
  def jaccardPairs(d: org.apache.spark.sql.DataFrame, threshold: Double,
                   gridMax: Int = 256): org.apache.spark.sql.DataFrame = {
    val (canon, members) = Dedup.ngramJaccardCanonical(d, threshold, gridMax)
    Dedup.expandCanonicalPairs(canon, members).orderBy("doc_a", "doc_b")
  }
}
