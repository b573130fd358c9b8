package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.etl.{functions => F}

/** Coercion-law property tests (SURVEY.md §5.2.3). ScalaCheck generates the
  * inputs; each law is checked in ONE Spark round-trip over a generated
  * column (a Spark job per sample would be prohibitively slow). */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int = 300): Seq[A] =
    Gen.listOfN(n, g).apply(Gen.Parameters.default, Seed(42L)).get

  test("normalize_text is idempotent and trims to single spaces") {
    val ws = Gen.oneOf(" ", "\t", "\n", "  ", "a", "b", "Zü", "ñ", "0")
    val strs = samples(Gen.listOf(ws).map(_.mkString), 500)
    val df = strs.toDF("s").select(
      F.normalizeText($"s").as("once"),
      F.normalizeText(F.normalizeText($"s")).as("twice"))
    rows(df).foreach { r =>
      val once = r.getString(0)
      assert(once == r.getString(1), s"not idempotent on ${r}")
      assert(!once.contains("  ") && once == once.trim)
      assert(!once.exists(c => c == '\t' || c == '\n'))
    }
  }

  test("toDoubleOr round-trips valid doubles, defaults the rest") {
    val ds = samples(Gen.chooseNum(-1e12, 1e12), 300)
    val df = ds.map(_.toString).toDF("s")
      .select($"s", F.toDoubleOr($"s", -999.0).as("d"))
    rows(df).foreach { r =>
      assert(r.getDouble(1) == r.getString(0).toDouble)
    }
    val junk = samples(Gen.alphaStr.suchThat(s => s.nonEmpty), 100)
    val jdf = junk.toDF("s").select(F.toDoubleOr($"s", -999.0).as("d"))
    rows(jdf).foreach(r => assert(r.getDouble(0) == -999.0))
  }

  test("businessKey zfill round-trips the numeric id for any width") {
    val ids = samples(Gen.chooseNum(0L, 99999999L), 300)
    val df = ids.toDF("id")
      .select($"id", F.businessKey("C", $"id", 3).as("bk"))
    rows(df).foreach { r =>
      assert(r.getString(1).head == 'C')
      assert(r.getString(1).drop(1).toLong == r.getLong(0))
      assert(r.getString(1).length >= 4) // prefix + at least width 3
    }
  }

  test("fechaKey round-trips dates and pins the sentinel") {
    val days = samples(Gen.chooseNum(-20000, 20000), 400)
    val df = days.toDF("d")
      .select(date_add(lit("2000-01-01").cast("date"), $"d").cast("timestamp").as("ts"))
      .select($"ts", F.fechaKey($"ts").as("k"))
    rows(df).foreach { r =>
      val expect = r.getTimestamp(0).toLocalDateTime.toLocalDate
        .format(java.time.format.DateTimeFormatter.BASIC_ISO_DATE).toLong
      assert(r.getLong(1) == expect)
    }
    assert(rows(Seq(1).toDF("x")
      .select(F.fechaKey(lit(null).cast("timestamp")).as("k")))
      .head.getLong(0) == -1L)
  }

  test("moduloRemap lands in [1, max] and is identity on in-range ids") {
    // includes ids <= 0: pmod semantics must still land in range
    val cases = samples(Gen.zip(Gen.chooseNum(-100000L, 100000L), Gen.chooseNum(1L, 500L)), 300)
    val df = cases.toDF("id", "max")
      .select($"id", $"max", F.moduloRemap($"id", $"max").as("k"))
    rows(df).foreach { r =>
      val (id, max, k) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(k >= 1 && k <= max, s"$id % $max -> $k out of range")
      if (id >= 1 && id <= max) assert(k == id)
    }
  }

  test("blocking boundary: bucket-straddling near-dups are dropped by blocked " +
       "variants, recovered by MinHash (the pinned recall contract)") {
    import graft.ops.Dedup
    // 9 vs 10 whitespace tokens: Jaccard 9/10 = 0.9 >= 0.5, but the raw
    // token counts land in buckets 0 and 1 (bucketTokens = 10)
    val base = (1 to 9).map(i => s"alpha$i").mkString(" ")
    val straddle = Seq(
      (1L, base, "en"),
      (2L, base + " alpha10", "en"),
      // same-bucket control pair: both 9 tokens, 8/10 overlap
      (3L, (1 to 8).map(i => s"beta$i").mkString(" ") + " gammaX", "en"),
      (4L, (1 to 8).map(i => s"beta$i").mkString(" ") + " gammaY", "en"))
      .toDF("doc_id", "text", "lang")
    val blocked = rows(OpsSpec.jaccardPairs(straddle, threshold = 0.5))
      .map(r => (r.getLong(0), r.getLong(1)))
    // boundary pair (1,2) lost, same-bucket pair (3,4) found
    assert(!blocked.contains((1L, 2L)), "contract changed: boundary pair now emitted")
    assert(blocked.contains((3L, 4L)))
    // the unblocked MinHash path recovers the boundary pair (deterministic
    // seeded hashes — not a flaky probabilistic assertion)
    val mh = rows(Dedup.minHashVerifiedFromSignatures(
        Dedup.minHashSignatures(straddle).localCheckpoint(), minEst = 0.3))
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(mh.contains((1L, 2L)), "MinHash no longer recovers the boundary pair")
  }

  test("ngramJaccard ≡ brute-force same-block set-Jaccard on randomized " +
    "dup-rich corpora (canonicalize-then-expand is contract-invisible)") {
    import graft.ops.Dedup
    // 6-token vocabulary → exact-duplicate token SETS arise constantly
    // (the regime the round-12 canonicalization exists for); raw lengths
    // 1..14 straddle the bucketTokens=10 edge; two langs exercise the
    // lang half of the block key. The reference is computed by a plain
    // crossJoin + array_intersect — no shared code with the candidate
    // generation machinery under test.
    val tokG = Gen.oneOf("ga", "gb", "gc", "gd", "ge", "gf")
    val docG = for {
      n <- Gen.chooseNum(1, 14)
      ts <- Gen.listOfN(n, tokG)
      lang <- Gen.oneOf("en", "es")
    } yield (ts.mkString(" "), lang)
    val corpus = samples(docG, 60).zipWithIndex
      .map { case ((t, l), i) => (i.toLong, t, l) }
      .toDF("doc_id", "text", "lang")
    val got = rows(OpsSpec.jaccardPairs(corpus, threshold = 0.5))
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val prep = corpus.select($"doc_id", $"lang",
      array_sort(array_distinct(split(F.normalizeText(lower($"text")), " ")))
        .as("toks"),
      floor(size(split($"text", "\\s+")).cast("double") / 10.0).cast("long")
        .as("bucket"))
    val inter = size(array_intersect($"a.toks", $"b.toks"))
    val want = prep.as("a").crossJoin(prep.as("b"))
      .filter($"a.lang" === $"b.lang" && $"a.bucket" === $"b.bucket" &&
        $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        round(inter.cast("double") /
          (size($"a.toks") + size($"b.toks") - inter).cast("double"), 6)
          .as("j"))
      .filter($"j" >= 0.5)
      .orderBy($"doc_a", $"doc_b")
    val wantRows = rows(want)
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty, "generator produced no qualifying pairs — weaken it")
    assert(got == wantRows,
      s"pair-set divergence: got ${got.size}, want ${wantRows.size}")
  }

  test("minHashVerified: est_jaccard is signature agreement; exact dups score 1.0") {
    import graft.ops.Dedup
    val docs = Seq(
      (1L, "one two three four five six seven eight", "en"),
      (2L, "one two three four five six seven eight", "en"),   // exact dup
      (3L, "totally different words in every position here", "en"))
      .toDF("doc_id", "text", "lang")
    val got = rows(Dedup.minHashVerifiedFromSignatures(
        Dedup.minHashSignatures(docs).localCheckpoint(), minEst = 0.5))
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got == Seq((1L, 2L, 1.0)))
  }

  test("bloom decontamination: zero false negatives; FP rate tracks " +
       "(1-e^(-kn/m))^k") {
    import graft.ops.Dedup
    // Disjoint token vocabularies -> the gram sets share NOTHING: every
    // Bloom hit on this corpus is a false positive by construction.
    def mk(tag: String, n: Int) = (0 until n).map(i =>
      (i.toLong, (0 until 14).map(j => s"$tag${i}x$j").mkString(" ")))
    val bench = mk("b", 200).toDF("doc_id", "text")   // 200·11 distinct grams
    val corpus = mk("c", 1000).toDF("doc_id", "text") // 1000·11 probe grams
    val mBits = 1 << 12 // small filter so the FP rate is macroscopic
    val benchGrams = Dedup.gramHashes(bench, 4).distinct()
    val bitmap = Dedup.bitmapFromWords(
      Dedup.bloomBitmapWords(benchGrams, mBits), mBits)
    val res = Dedup.bloomProbe(Dedup.gramHashes(corpus, 4).distinct(), bitmap)
      .agg(sum($"n_grams"), sum($"n_hits")).first()
    val (grams, hits) = (res.getLong(0), res.getLong(1))
    assert(grams == 11000L)
    // exact join on the same inputs: zero contamination, confirming every
    // bloom hit above is a false positive (the documented superset contract)
    assert(Dedup.decontaminateFromGrams(
      Dedup.gramHashes(corpus, 4).distinct(), benchGrams).count() == 0L)
    val nBench = Dedup.gramHashes(bench, 4).select($"gh").distinct().count()
    val fill = 1.0 - math.exp(-3.0 * nBench / mBits)
    val theo = math.pow(fill, 3)
    val rate = hits.toDouble / grams
    // deterministic seeded hashes: this is a fixed number, bounded loosely
    // so only a real break in the position/bitmap math can move it
    assert(math.abs(rate - theo) < 0.08,
      s"FP rate $rate drifted from theoretical $theo (fill $fill)")
    // Zero false negatives: re-feed the benchmark texts as the corpus —
    // every gram is genuinely shared, so every probe must hit.
    val echo = bench.select(($"doc_id" + 10000L).as("doc_id"), $"text")
    rows(Dedup.bloomProbe(Dedup.gramHashes(echo, 4).distinct(), bitmap))
      .foreach { r =>
        assert(r.getAs[Long]("n_hits") == r.getAs[Long]("n_grams") &&
          r.getAs[Boolean]("contaminated"), s"false negative on $r")
      }
  }

  test("star-contraction connected components match union-find on random graphs") {
    import graft.ops.Dedup
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 4) {
      val n = 30 + trial * 20
      val edges = (1 to n).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
      }.filter { case (a, b) => a != b }
      // driver-side union-find reference
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = parent.keys.map(k => k -> find(k)).toMap
      // min-label canonicalization: find() roots at the component min
      // because unions always point the larger root at the smaller
      val got = rows(Dedup.duplicateClusters(edges.toDF("doc_a", "doc_b")))
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
      assert(got == want, s"trial $trial: CC mismatch on ${edges.length} edges")
    }
  }

  test("exact-substr spans match the brute-force duplicated-window reference " +
    "on random corpora") {
    import graft.ops.Dedup
    val rnd = new scala.util.Random(19)
    val L = 6
    for (trial <- 1 to 4) {
      // small alphabet + shared motifs force real cross- and in-doc repeats
      def word() = ("abc" (rnd.nextInt(3))).toString * (1 + rnd.nextInt(3))
      val docs = (1 to 12).map { id =>
        (id.toLong, (1 to (8 + rnd.nextInt(20))).map(_ => word()).mkString)
      }
      // reference: every length-L window that occurs >= 2 times corpus-wide
      // marks its start position; sorted positions merge when gap <= L
      val wins = docs.flatMap { case (id, t) =>
        (0 to t.length - L).map(i => (t.substring(i, i + L), id, i + 1L))
      }
      val dupKeys = wins.groupBy(_._1).filter(_._2.size >= 2).keySet
      val want = wins.filter(w => dupKeys(w._1))
        .groupBy(_._2).view.mapValues { ps =>
          val sorted = ps.map(_._3).sorted
          sorted.foldLeft(List.empty[(Long, Long)]) {
            case ((s, e) :: tail, p) if p <= e => (s, p + L) :: tail
            case (acc, p) => (p, p + L) :: acc
          }.reverse
        }.toMap
      val got = rows(Dedup.duplicatedSpansFrom(Dedup.spanArrays(
          docs.toDF("doc_id", "text"), minLen = L)))
        .groupBy(_.getAs[Long]("doc_id")).view.mapValues(_.map(r =>
          (r.getAs[Long]("span_start"), r.getAs[Long]("span_end"))).toList)
        .toMap
      assert(got == want, s"trial $trial: span mismatch")
      // and the transform is consistent: cutting `want` by hand equals
      // the operator's cleaned text
      val cleanWant = docs.map { case (id, t) =>
        val spans = want.getOrElse(id, Nil)
        val kept = new StringBuilder
        var cur = 1L
        spans.foreach { case (s, e) =>
          kept ++= t.substring(cur.toInt - 1, s.toInt - 1); cur = e }
        kept ++= t.substring(cur.toInt - 1)
        id -> kept.toString
      }.toMap
      val cleanGot = rows(Dedup.redactFromSpans(docs.toDF("doc_id", "text"),
          Dedup.spanArrays(docs.toDF("doc_id", "text"), L)))
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("clean_text"))
        .toMap
      assert(cleanGot == cleanWant, s"trial $trial: redact mismatch")
    }
  }

  test("as-of join matches the brute-force per-row argmax on random events") {
    import graft.ops.AsOf
    val rnd = new scala.util.Random(7)
    def ts(m: Long) = new java.sql.Timestamp(1700000000000L + m * 60000L)
    val left = (1 to 60).map(i =>
      (i.toLong, (rnd.nextInt(5) + 1).toLong, ts(rnd.nextInt(500).toLong)))
    val right = (1 to 120).map(i =>
      (1000L + i, (rnd.nextInt(5) + 1).toLong, ts(rnd.nextInt(500).toLong)))
    val want = left.map { case (id, u, t) =>
      val cands = right.filter(r => r._2 == u && !r._3.after(t))
      id -> (if (cands.isEmpty) None
             else Some(cands.maxBy(r => (r._3.getTime, r._1))._1))
    }.toMap
    val got = rows(AsOf.backward(
      left.toDF("event_id", "user_id", "ts"),
      right.toDF("event_id", "user_id", "ts"),
      by = Seq("user_id"), leftTime = "ts", rightTime = "ts",
      rightSeq = "event_id", rightCols = Seq("event_id"), prefix = "m_"))
      .map(r => r.getAs[Long]("event_id") ->
        Option(r.getAs[java.lang.Long]("m_event_id")).map(_.toLong)).toMap
    assert(got == want)
  }

  test("forward as-of matches the brute-force per-row argmin on random events") {
    import graft.ops.AsOf
    val rnd = new scala.util.Random(19)
    def ts(m: Long) = new java.sql.Timestamp(1700000000000L + m * 60000L)
    val left = (1 to 60).map(i =>
      (i.toLong, (rnd.nextInt(5) + 1).toLong, ts(rnd.nextInt(500).toLong)))
    val right = (1 to 120).map(i =>
      (1000L + i, (rnd.nextInt(5) + 1).toLong, ts(rnd.nextInt(500).toLong)))
    // earliest right row at-or-after; same-instant ties to the SMALLEST id
    val want = left.map { case (id, u, t) =>
      val cands = right.filter(r => r._2 == u && !r._3.before(t))
      id -> (if (cands.isEmpty) None
             else Some(cands.minBy(r => (r._3.getTime, r._1))._1))
    }.toMap
    val got = rows(AsOf.forward(
      left.toDF("event_id", "user_id", "ts"),
      right.toDF("event_id", "user_id", "ts"),
      by = Seq("user_id"), leftTime = "ts", rightTime = "ts",
      rightSeq = "event_id", rightCols = Seq("event_id"), prefix = "m_"))
      .map(r => r.getAs[Long]("event_id") ->
        Option(r.getAs[java.lang.Long]("m_event_id")).map(_.toLong)).toMap
    assert(got == want)
  }

  test("range join matches brute-force containment on random points/ranges") {
    import graft.ops.RangeJoin
    val rnd = new scala.util.Random(11)
    def ts(m: Long) = new java.sql.Timestamp(1700000000000L + m * 60000L)
    val points = (1 to 80).map(i =>
      (i.toLong, (rnd.nextInt(4) + 1).toLong, ts(rnd.nextInt(600).toLong)))
    val ranges = (1 to 30).map { i =>
      val s = rnd.nextInt(600).toLong
      (100L + i, (rnd.nextInt(4) + 1).toLong, ts(s), ts(s + rnd.nextInt(90)))
    }
    val want = (for {
      (pid, pk, pt) <- points
      (rid, rk, s, e) <- ranges
      if pk == rk && !pt.before(s) && !pt.after(e)
    } yield (pid, rid)).toSet
    // width much smaller than spans AND width larger than spans both agree
    for (width <- Seq(300L, 7200L)) {
      val got = rows(RangeJoin.pointsInRanges(
        points.toDF("pid", "k", "pt"), ranges.toDF("rid", "k", "s", "e"),
        Seq("k"), "pt", "s", "e", bucketWidthSec = width))
        .map(r => (r.getAs[Long]("pid"), r.getAs[Long]("rid"))).toSet
      assert(got == want, s"width=$width")
    }
  }

  test("boilerplate flood: LSH and SimHash emit the full pair set, chunked") {
    // The adversarial corpus for banded candidate generation: many IDENTICAL
    // docs share every band, so one (band, bh) bucket holds them all and an
    // unchunked self-join would compute the whole |bucket|² grid in a single
    // task. With chunking the pair grid spreads over chunks² tasks; the
    // emitted pair set must be exactly C(n,2) either way (+ nothing from the
    // lone distinct doc). n = 300 keeps the quadratic OUTPUT (44 850 pairs)
    // test-sized; the plan shape is identical at 10⁶.
    val n = 300
    val flood = ((1 to n).map(i =>
        (i.toLong, "the same boilerplate sentence repeated verbatim everywhere", "en")) :+
        (9999L, "entirely unrelated content about volcanoes and glaciers", "en"))
      .toDF("doc_id", "text", "lang")
    val expected = n.toLong * (n - 1) / 2
    import graft.ops.Dedup
    val lsh = Dedup.minHashPairsFromSignatures(
      Dedup.minHashSignatures(flood).localCheckpoint())
    assert(lsh.count() == expected)
    val sh = Dedup.simHash(flood).filter(col("hamming") === 0)
    assert(sh.count() == expected)
    // chunking must not duplicate or drop pairs: spot-check distinctness
    assert(lsh.distinct().count() == expected)
  }

  test("kmeans assignment is the exact argmax over seed centroids") {
    import graft.ops.Similarity
    import graft.functions.VectorExpressions.dotf
    val e = graft.queries.table(spark, "/root/testdata/sf0.001", "embeddings")
    val every = math.max(1L, math.ceil(e.count() / 4.0)).toInt
    // one assignment round against the seeds -> recompute every cosine
    // brute-force and assert the packed-argmax picked max-sim with
    // smallest-c_id tie-break
    val got = rows(Similarity.kmeansAssign(e, every, iters = 1))
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("c_id"), r.getAs[Double]("sim"))).toMap
    val cent = e.filter(col("vec_id") % every === 0)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    val all = rows(e.crossJoin(cent).select(col("vec_id"), col("c_id"),
      round(dotf(col("embedding"), col("c_emb"))
        / sqrt(dotf(col("embedding"), col("embedding")))
        / sqrt(dotf(col("c_emb"), col("c_emb"))), 6).as("sim")))
      .groupBy(_.getAs[Long]("vec_id"))
    for ((vid, cands) <- all) {
      val best = cands.map(r => (r.getAs[Double]("sim"), r.getAs[Long]("c_id")))
        .minBy { case (s, c) => (-s, c) }
      assert(got(vid) == ((best._2, best._1)),
        s"vec $vid: packed argmax ${got(vid)} != brute-force $best")
    }
  }

  test("rz normalizes the sign of zero after round (the -0.0 hash hazard)") {
    // Spark's Round(BigDecimal) emits +0.0 on a negative epsilon where
    // DuckDB's round preserves -0.0 — equal by value, different bytes, so
    // any hashed artifact must route signed rounds through queries.rz
    // (Spark) / `round(x, s) + 0` (oracle). Pin the contract: rz of a
    // negative epsilon is bit-identical to +0.0, and rz is a no-op
    // (bit-level) on every other value either engine can produce.
    import java.lang.Double.doubleToRawLongBits
    val df = Seq(-1e-9, 1e-9, -0.0, 0.0, -0.5000004, 1.25, -3.75)
      .toDF("x")
      .select($"x", graft.queries.rz($"x", 6).as("z"))
    for (r <- rows(df)) {
      val (x, z) = (r.getDouble(0), r.getDouble(1))
      assert(doubleToRawLongBits(z) != doubleToRawLongBits(-0.0),
        s"rz($x) must never emit -0.0")
      // value identical to a plain 6-dp round
      assert(z == BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble, s"rz($x) changed the rounded value")
    }
  }

  test("rd rounds in decimal space: binary-vs-shortest-repr boundaries agree") {
    // 2305185995.365 is not exactly representable: its double sits just
    // BELOW the .365 boundary (…36499999…), so a binary-value round gives
    // .36 while Spark's round(double) — which rounds the shortest decimal
    // repr "….365" — gives .37 (the round-9 sf1 q5/q7/pt1 cent flips).
    // rd() routes through DECIMAL(30,10) first: the 10-dp decimalization
    // is identical in both engines (no tie possible at 1e-11), and the
    // decimal round is exact half-up in both. Pin rd's value on the
    // documented boundary case and on exact values.
    import org.apache.spark.sql.types.Decimal
    val df = Seq(2305185995.365, 1.25, -1.2345675, 0.0049999999).toDF("x")
      .select($"x", graft.queries.rd($"x", 2).as("r2"),
        graft.queries.rd($"x", 6).as("r6"))
    val got = rows(df).map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
    // expected = decimal(30,10) of the double, then HALF_UP at the scale —
    // recomputed host-side through the same BigDecimal path
    for ((x, r2, r6) <- got) {
      def exp(s: Int) = Decimal(x).toBigDecimal
        .setScale(10, BigDecimal.RoundingMode.HALF_UP)
        .setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r2 == exp(2), s"rd($x, 2) = $r2, want ${exp(2)}")
      assert(r6 == exp(6), s"rd($x, 6) = $r6, want ${exp(6)}")
    }
  }

  test("dsum decimal aggregation is partition-order independent") {
    val vals = samples(Gen.chooseNum(-1e6, 1e6), 2000)
    val one = vals.toDF("v").repartition(1)
      .agg(graft.queries.dsum($"v").as("s"))
    val many = vals.toDF("v").repartition(17)
      .agg(graft.queries.dsum($"v").as("s"))
    assert(rows(one).head.getDouble(0) == rows(many).head.getDouble(0))
  }

  test("benford cents extraction: floor after the tie-free decimal cast " +
    "(no rounding branch for either engine to disagree on)") {
    // The dq8 digit pipeline: DECIMAL(30,10) cast (tie-free), *100, floor.
    // 999.995 exercises the half-cent case: floor keeps 99999 (leading 9)
    // in BOTH engines — a round() here would carry to 100000 in Spark's
    // HALF_UP while DuckDB's CAST truncates, flipping the leading digit.
    import org.apache.spark.sql.types.DecimalType
    val df = Seq(999.995, 0.01, 1.0, 99999.99, 123.456).toDF("x")
      .select($"x", floor($"x".cast(DecimalType(30, 10)) * 100)
        .cast("long").as("cents"))
      .select($"x", $"cents",
        expr("cents DIV CAST(pow(10, length(CAST(cents AS STRING)) - 1) AS BIGINT)")
          .as("digit"))
    val got = rows(df).map(r => r.getDouble(0) ->
      (r.getLong(1), r.getLong(2))).toMap
    assert(got(999.995) == (99999L, 9L))
    assert(got(0.01) == (1L, 1L))
    assert(got(1.0) == (100L, 1L))
    assert(got(99999.99) == (9999999L, 9L))
    assert(got(123.456) == (12345L, 1L))
  }

  test("minHashSignaturesMapOnly equals the batch aggregation plan on " +
    "random corpora, including sub-shingle and whitespace-junk texts") {
    // The streaming ingest gate computes signatures with higher-order
    // functions (no explode, no state); any drift from the batch lattice
    // would silently desynchronize dd_stream_neardup from the corpus
    // band index built by the batch path.
    val word = Gen.oneOf("the", "fox", "dog", "a", "ñu", "Tab\tsep", "", " ")
    val txt = Gen.chooseNum(0, 12).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" ")))
    val docs = samples(txt, 200).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val a = graft.ops.Dedup.minHashSignatures(docs)
      .orderBy("doc_id").collect().map(_.toSeq)
    val b = graft.ops.Dedup.minHashSignaturesMapOnly(docs)
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(a.length == b.length, s"row counts differ: ${a.length} vs ${b.length}")
    for ((ra, rb) <- a.zip(b)) assert(ra == rb, s"signature drift: $ra vs $rb")
  }

  test("MIH pigeonhole: every 64-bit pair within hamming 7 is caught by " +
    "a radius-1 probe on one of the 4 16-bit subindex words") {
    // The exact-recall guarantee behind Multimodal.phashDedup's candidate
    // join (Norouzi et al. 2012): distributing <= 7 flipped bits over 4
    // words leaves some word with <= floor(7/4) = 1 flips, so the probe
    // set {word} U {word ^ (1 << b) : b < 16} of the query side MUST hit
    // the exact word of the other side for that j. Checked exhaustively
    // over randomized base hashes and all flip counts 0..7.
    val rnd = new scala.util.Random(42)
    def words(h: Long): Seq[Long] =
      (0 until 4).map(j => (h >>> (16 * j)) & 0xffffL)
    for (_ <- 0 until 300; d <- 0 to 7) {
      val a = rnd.nextLong()
      val flips = rnd.shuffle((0 until 64).toList).take(d)
      val b = flips.foldLeft(a)((h, bit) => h ^ (1L << bit))
      val wa = words(a); val wb = words(b)
      val caught = (0 until 4).exists { j =>
        val probes = wa(j) +: (0 until 16).map(f => wa(j) ^ (1L << f))
        probes.contains(wb(j))
      }
      assert(caught, s"pair at hamming $d missed by all radius-1 probes " +
        s"(a=$a flips=$flips)")
    }
  }

  test("MIH pigeonhole at PDQ width: every 256-bit pair within hamming 31 " +
    "is caught by a radius-1 probe on one of the 16 subindex words") {
    // The same guarantee at the wide width mm_phash_wide ships: <= 31
    // flips over 16 words leaves some word with <= floor(31/16) = 1.
    val rnd = new scala.util.Random(7)
    def words(h: Array[Long]): Seq[Long] =
      (0 until 16).map(j => (h(j / 4) >>> (16 * (j % 4))) & 0xffffL)
    for (_ <- 0 until 120; d <- Seq(0, 1, 7, 15, 16, 30, 31)) {
      val a = Array.fill(4)(rnd.nextLong())
      val flips = rnd.shuffle((0 until 256).toList).take(d)
      val b = a.clone()
      flips.foreach(bit => b(bit / 64) ^= (1L << (bit % 64)))
      val wa = words(a); val wb = words(b)
      val caught = (0 until 16).exists { j =>
        val probes = wa(j) +: (0 until 16).map(f => wa(j) ^ (1L << f))
        probes.contains(wb(j))
      }
      assert(caught, s"pair at hamming $d missed by all radius-1 probes")
    }
  }

  test("simHash ≡ direct banded self-join on randomized dup-rich corpora " +
    "(signature-level canonicalize-then-expand is contract-invisible)") {
    import graft.ops.Dedup
    // Tiny vocabulary + short docs → exact-duplicate TOKEN SETS (hence
    // fingerprints) arise constantly: the twin-collapse regime. The
    // reference recomputes candidates by a plain fingerprint crossJoin
    // restricted to band collisions — no shared code with the canonical
    // path's window/expand machinery.
    val tokG = Gen.oneOf("sa", "sb", "sc", "sd")
    val docG = for {
      n <- Gen.chooseNum(1, 6)
      ts <- Gen.listOfN(n, tokG)
    } yield ts.mkString(" ")
    val corpus = samples(docG, 80).zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en") }
      .toDF("doc_id", "text", "lang")
    val maxH = 20 // loose: exercise cross-class pairs, not just twins
    val got = rows(Dedup.simHash(corpus, maxHamming = maxH))
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val sigs = Dedup.simHashSignatures(corpus).localCheckpoint()
    val bandHit = (0 until 4).map { b =>
      shiftright($"a.simhash", b * 15).bitwiseAND(lit(0x7FFFL)) ===
        shiftright($"b.simhash", b * 15).bitwiseAND(lit(0x7FFFL))
    }.reduce(_ || _)
    val want = rows(sigs.as("a").crossJoin(sigs.as("b"))
        .filter($"a.doc_id" < $"b.doc_id" && bandHit)
        .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
          bit_count($"a.simhash".bitwiseXOR($"b.simhash")).as("hamming"))
        .filter($"hamming" <= maxH)
        .orderBy($"doc_a", $"doc_b"))
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.nonEmpty, "generator produced no qualifying pairs — weaken it")
    assert(got.exists(_._3 == 0) && got.exists(_._3 > 0),
      "corpus must exercise both intra (hamming 0) and cross pairs")
    assert(got == want,
      s"pair-set divergence: got ${got.size}, want ${want.size}")
  }

  test("minHash LSH + verified ≡ direct banded self-join on randomized " +
    "dup-rich corpora (signature-vector twins are contract-invisible)") {
    import graft.ops.Dedup
    val tokG = Gen.oneOf("ma", "mb", "mc", "md", "me")
    val docG = for {
      n <- Gen.chooseNum(1, 8)
      ts <- Gen.listOfN(n, tokG)
    } yield ts.mkString(" ")
    val corpus = samples(docG, 80).zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en") }
      .toDF("doc_id", "text", "lang")
    val sig = Dedup.minHashSignatures(corpus).localCheckpoint()
    // reference: band-collision crossJoin over full signatures
    val bandHit = (0 until 4).map { b =>
      (0 until 4).map(r => col(s"a.h${b * 4 + r}") === col(s"b.h${b * 4 + r}"))
        .reduce(_ && _)
    }.reduce(_ || _)
    val agree = (0 until 16).map { i =>
      when(col(s"a.h$i") === col(s"b.h$i"), 1).otherwise(0)
    }.reduce(_ + _)
    val cand = sig.as("a").crossJoin(sig.as("b"))
      .filter($"a.doc_id" < $"b.doc_id" && bandHit)
    val wantLsh = rows(cand
        .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
        .orderBy($"doc_a", $"doc_b"))
      .map(r => (r.getLong(0), r.getLong(1)))
    val gotLsh = rows(Dedup.minHashPairsFromSignatures(sig))
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(gotLsh.nonEmpty && gotLsh == wantLsh,
      s"LSH pair-set divergence: got ${gotLsh.size}, want ${wantLsh.size}")
    val wantVer = rows(cand
        .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
          round(agree.cast("double") / 16, 6).as("est_jaccard"))
        .filter($"est_jaccard" >= 0.25)
        .orderBy($"doc_a", $"doc_b"))
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val gotVer = rows(Dedup.minHashVerifiedFromSignatures(sig, minEst = 0.25))
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(gotVer.exists(_._3 == 1.0) && gotVer.exists(_._3 < 1.0),
      "corpus must exercise both intra (est 1.0) and cross pairs")
    assert(gotVer == wantVer,
      s"verified pair-set divergence: got ${gotVer.size}, want ${wantVer.size}")
  }

  test("mega twin class: a 300-identical-doc corpus expands to the exact " +
    "pair grid with provable twin stats through both signature families") {
    import graft.ops.Dedup
    // The crawl-corpus worst case the signature window must survive: ONE
    // giant twin class (every doc token-identical) plus a disjoint two-doc
    // class. Expected pair set is closed-form: C(300,2) intra pairs at
    // hamming 0 / est 1.0 inside the mega class, 1 pair in the small
    // class, and cross pairs only if the two signatures band-collide
    // (checked from the signatures themselves, not assumed).
    val m = 300
    val corpus = ((0 until m).map(i => (i.toLong, "mega twin body text", "en")) ++
      Seq((900L, "zq wholly different words", "en"),
          (901L, "zq wholly different words", "en")))
      .toDF("doc_id", "text", "lang")
    val intraExpect = m.toLong * (m - 1) / 2
    // simhash family
    val simPairs = rows(Dedup.simHash(corpus, maxHamming = 3))
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val simIntra = simPairs.filter { case (a, b, _) => a < m && b < m }
    assert(simIntra.size.toLong == intraExpect,
      s"simhash intra grid: ${simIntra.size} != $intraExpect")
    assert(simIntra.forall(_._3 == 0), "twin pairs must carry hamming 0")
    assert(simPairs.count { case (a, b, _) => a >= 900 && b >= 900 } == 1)
    // minhash family (signature-vector twins)
    val sig = Dedup.minHashSignatures(corpus).localCheckpoint()
    val mhPairs = rows(Dedup.minHashPairsFromSignatures(sig))
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(mhPairs.count { case (a, b) => a < m && b < m }.toLong == intraExpect)
    val ver = rows(Dedup.minHashVerifiedFromSignatures(sig, minEst = 0.5))
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(ver.filter { case (a, b, _) => a < m && b < m }.forall(_._3 == 1.0),
      "twin pairs must carry est_jaccard 1.0")
  }

  test("mega twin class: the intra pair grid spreads over the chunk grid — " +
    "no single task materializes the whole C(300,2) expansion") {
    import graft.ops.Dedup
    // expandMemberPairs is unordered by contract (callers sort), so its
    // raw partitioning IS the task layout the grid runs in: the chunked
    // self-join keys on (rep, chunk-pair), and a single mega class must
    // land its C(m,2) pairs across the chunks² cells rather than pinning
    // one hash partition (the hazard the chunking exists to remove —
    // the membership WINDOW may hold the class's O(m) narrow rows in one
    // partition, the O(m²) GRID may not).
    val m = 300
    val members = (0 until m).map(i => (i.toLong, 0L, m.toLong))
      .toDF("doc_id", "rep", "r")
    val canon = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val expanded = Dedup.expandMemberPairs(canon, members, Nil)
    val perPart = expanded.rdd
      .mapPartitions(it => Iterator.single(it.size.toLong), true).collect()
    val total = perPart.sum
    assert(total == m.toLong * (m - 1) / 2, s"grid size $total")
    assert(perPart.count(_ > 0) >= 4,
      s"grid concentrated on ${perPart.count(_ > 0)} task(s)")
    assert(perPart.max < total,
      s"single task held the entire ${total}-pair grid")
  }

  test("knnGraph caps cell populations: a 300-near-twin embedding flood " +
    "splits into bounded sub-cells and never materializes the hub grid") {
    import graft.ops.Similarity
    // The embedding-side mega-twin hazard (the dedup families' 300-twin
    // test transposed): near-identical vectors all route to ONE IVF cell,
    // whose uncapped self-join is a C(300,2) grid. With cellCap = 64 the
    // cell splits into ⌈300/64⌉ = 5 sub-cells in vec_id order, so every
    // edge must stay inside its vector's sub-cell — ids are dense from 0,
    // making the sub-cell id exactly vec_id / 64 — and each sub-grid is
    // ≤ 64² regardless of how many twins flood in.
    val d = 8
    val corpus = (0 until 300).map { i =>
      val v = Array.tabulate(d)(j => 1.0f + 0.1f * j)
      v(d - 1) = v(d - 1) + i * 1e-4f // near-identical, all distinct
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
    // centroidEvery beyond every id → only vec_id 0 seeds → one hub cell
    val g = Similarity.knnGraph(corpus, k = 3, centroidEvery = 1000)
    val edges = rows(g).map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(edges.size == 300 * 3, s"expected 900 edges, got ${edges.size}")
    assert(edges.forall { case (v, n, _) => v / 64 == n / 64 },
      "an edge crossed its sub-cell — the population cap is not binding")
    assert(edges.forall(_._3 >= 0.999), "twin neighbors must score ≈ 1")
  }

  test("queryStride bounds the judged ANN workload at every corpus size") {
    // The service contract: ~64 query vectors regardless of corpus size —
    // a workload proportional to n turns every exhaustive-scan path into
    // O(n^2) exactly where the small-SF bench can't see it.
    import graft.ops.Similarity.queryStride
    assert(queryStride(0L) == 1L && queryStride(1L) == 1L)
    for (n <- Seq(1L, 10L, 63L, 64L, 65L, 1000L, 10000L, 1000000L,
      1000000000L, 100000000000L)) {
      val stride = queryStride(n)
      val count = if (n == 0) 0L else (n + stride - 1) / stride // ids 0,s,2s..<n
      assert(count <= 64L, s"n=$n stride=$stride count=$count > 64")
      if (n >= 64L)
        assert(count >= 33L, s"n=$n stride=$stride count=$count < 33")
    }
  }
}
