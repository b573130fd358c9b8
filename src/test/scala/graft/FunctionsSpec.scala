package graft

import org.apache.spark.sql.functions._
import graft.etl.{functions => F}

/** F1–F11 scalar semantics (SURVEY.md §2.6), edge cases drawn from the
  * reference's dirty fixtures: whitespace runs, unparseable dates, empty
  * strings vs nulls, out-of-range ids. */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("oracle \\s rewrite is class-aware (bare splice inside [...], bracketed outside)") {
    val orig = "regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]') || '\\s+'"
    val rew = SparkEntry.javaWhitespace(orig)
    assert(rew.contains("[^A-Za-z0-9 \\t\\n\\x0b\\f\\r]"), rew)
    assert(rew.contains("'[ \\t\\n\\x0b\\f\\r]+'"), rew)
    assert(!rew.contains("[^A-Za-z0-9["), "r1 bug shape: nested bracket inside class")
    // Live equivalence on a punctuation + vertical-tab corpus: the rewritten
    // class must tokenize exactly like Java's \s did (this is the branch the
    // synthetic corpus never exercised)
    val text = "hello, wörld! 42?."
    def toks(p: String): List[String] = {
      val m = java.util.regex.Pattern
        .compile("[A-Za-z]+|[0-9]+|[^A-Za-z0-9" +
          (if (p == "orig") "\\s" else " \\t\\n\\x0b\\f\\r") + "]")
        .matcher(text)
      val b = List.newBuilder[String]
      while (m.find()) b += m.group()
      b.result()
    }
    assert(toks("orig") == toks("rew"))
    assert(toks("rew").contains(",") && toks("rew").contains("!"))
  }

  test("oracle \\s rewrite skips other escapes and rejects escaped brackets") {
    // \\ then s must NOT be rewritten (it is an escaped backslash + literal
    // s); \d passes through; class state survives an escaped backslash
    val rew = SparkEntry.javaWhitespace("""a \\s b \d [x\s]""")
    assert(rew.contains("""\\s b"""), rew)
    assert(rew.contains("""\d"""), rew)
    assert(rew.endsWith("""[x \t\n\x0b\f\r]"""), rew)
    // escaped brackets would silently corrupt class tracking — rejected
    intercept[IllegalArgumentException] {
      SparkEntry.javaWhitespace("""select regexp('\[')""")
    }
    // every committed oracle satisfies the invariant (fails fast otherwise)
    assert(SparkEntry.oracleSql.nonEmpty)
  }

  test("every judged query has an oracle, and every oracle has a query") {
    // The correctness gate only counts a query as verified when BOTH maps
    // carry it — a queries entry without oracle SQL lands as err:no_oracle
    // in the driver's report (the round-4 regression this test pins shut).
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries without an oracle: ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty, s"oracles without a query: ${(o -- q).toSeq.sorted}")
  }

  test("seededHashJvm is bit-identical to the distributed seededHash") {
    import graft.ops.Dedup
    val vals = Seq("click", "view", "", "tok7x", "a b c", "ünïcode")
    val got = rows(vals.toDF("v")
      .select($"v", Dedup.seededHash(107, $"v").as("h")))
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for (v <- vals)
      assert(Dedup.seededHashJvm(107, v) == got(v), s"mismatch on '$v'")
    // and against the SQL built-in formula the DuckDB oracles run —
    // the contract the native Md5Hash60 expression must never drift from
    val sqlForm = rows(vals.toDF("v").select($"v",
      conv(substring(md5(concat_ws(":", lit(107), $"v")), 1, 15), 16, 10)
        .cast("long").as("h")))
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for (v <- vals)
      assert(sqlForm(v) == got(v), s"SQL-form mismatch on '$v'")
  }

  test("F1 normalize_text collapses runs, trims, casts; idempotent") {
    val df = Seq("  a   b\t\nc  ", "x", "", "   ", "1  2").toDF("s")
      .select(F.normalizeText($"s").as("n"))
    assert(rows(df).map(_.getString(0)) == Seq("a b c", "x", "", "", "1 2"))
    val twice = Seq("  a   b\t\nc  ").toDF("s")
      .select(F.normalizeText(F.normalizeText($"s")).as("n"))
    assert(rows(twice).head.getString(0) == "a b c")
  }

  test("F1 normalize_text on non-string input casts first") {
    val df = Seq(42).toDF("i").select(F.normalizeText($"i").as("n"))
    assert(rows(df).head.getString(0) == "42")
  }

  test("F2 parse_date coerces invalid to null (never throws)") {
    val df = Seq("2024-03-01 10:00:00", "not-a-date", "2024-13-45 00:00:00")
      .toDF("s")
      .select(F.parseDate($"s", Seq("yyyy-MM-dd HH:mm:ss")).as("t"))
    val got = rows(df)
    assert(got.head.get(0) != null)
    assert(got(1).get(0) == null && got(2).get(0) == null)
  }

  test("F2 parse_date multiple formats: first match wins") {
    val df = Seq("01/02/2024", "2024-02-01").toDF("s")
      .select(F.parseDate($"s", Seq("dd/MM/yyyy", "yyyy-MM-dd")).as("t"))
    val got = rows(df).map(_.getAs[java.time.LocalDateTime](0).toLocalDate.toString)
    assert(got == Seq("2024-02-01", "2024-02-01"))
  }

  test("F3 numeric coercion: invalid -> default") {
    val df = Seq("1.5", "abc", null, "2").toDF("s")
      .select(F.toDoubleOr($"s", 0.0).as("d"), F.toLongOr($"s").as("l"))
    assert(rows(df).map(r => (r.getDouble(0), r.getLong(1))) ==
      Seq((1.5, 1L), (0.0, -1L), (0.0, -1L), (2.0, 2L)))
  }

  test("F4 business key zfill pads but never truncates") {
    val df = Seq(1L, 42L, 123456L).toDF("id")
      .select(F.businessKey("C", $"id", 3).as("bk"))
    assert(rows(df).map(_.getString(0)) == Seq("C001", "C042", "C123456"))
  }

  test("F5 fecha_key yyyyMMdd, null -> -1") {
    val df = Seq(Some("2024-03-05 08:00:00"), None).toDF("s")
      .select(F.fechaKey($"s".cast("timestamp")).as("k"))
    assert(rows(df).map(_.getLong(0)) == Seq(20240305L, -1L))
  }

  test("F6 date parts pin English month/day names") {
    val df = Seq("2024-03-05 00:00:00").toDF("s")
      .select($"s".cast("timestamp").as("t"))
    val parts = F.dateParts(col("t")).foldLeft(df) {
      case (d, (n, c)) => d.withColumn(n, c)
    }
    val r = rows(parts).head
    assert(r.getAs[Int]("anio") == 2024 && r.getAs[Int]("mes") == 3 &&
      r.getAs[Int]("dia") == 5 && r.getAs[Int]("trimestre") == 1 &&
      r.getAs[String]("nombre_mes") == "March" &&
      r.getAs[String]("nombre_dia") == "Tuesday")
  }

  test("F7 modulo remap stays in [1, max] over a key sweep") {
    val df = (1L to 100L).toDF("id")
      .select(F.moduloRemap($"id", lit(7L)).as("k"))
    val got = rows(df).map(_.getLong(0))
    assert(got.forall(k => k >= 1 && k <= 7))
    assert(got.take(8) == Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 1L))
  }

  test("F8 truncate trims then cuts at n") {
    val df = Seq("  hello world  ").toDF("s")
      .select(F.truncateText($"s", 8).as("t"))
    assert(rows(df).head.getString(0) == "hello wo")
  }

  test("F9 string sentinel: null -> -1, values stringified") {
    val df = Seq(Some(7L), None).toDF("id")
      .select(F.stringOr($"id").as("s"))
    assert(rows(df).map(_.getString(0)) == Seq("7", "-1"))
  }

  test("F11 date-only cast drops time") {
    val df = Seq("2024-03-05 23:59:59").toDF("s")
      .select(F.toDateOnly($"s".cast("timestamp")).as("d"))
    assert(rows(df).head.getDate(0).toString == "2024-03-05")
  }

  test("P4 normalizeName: strip/lower/spaces->underscore") {
    assert(F.normalizeName("  Fecha  Registro ") == "fecha_registro")
    assert(F.normalizeName("IdCliente") == "idcliente")
    assert(F.normalizeName("a\tb") == "a_b")
  }

  // exact bits: a double or float compares by its IEEE pattern, so
  // -0.0 vs 0.0 or a last-ulp drift fails
  private def bits(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case f: Float => java.lang.Float.floatToRawIntBits(f)
    case xs: scala.collection.Seq[_] => xs.map(bits)
    case other => other
  }
  private def sorted(df: org.apache.spark.sql.DataFrame,
                     key: String*): Seq[Seq[Any]] =
    df.orderBy(key.map(col): _*).collect().map(_.toSeq.map(bits)).toSeq

  test("ivfRouteId / pqPackedCp: the native route+encode folds equal the " +
    "batch index bit for bit on the real corpus") {
    import graft.ops.Similarity
    import graft.functions.VectorExpressions
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val e = graft.queries.table(spark, sfDir(sf), "embeddings")
      // the pre-pqIvfIndex derivation (PqReference): window-strided
      // seeds, filtered centroids, ivfAssign cells, row-stream codes
      val (cb, codes, cells, cent) = PqReference.index(e)
      val s = cb.agg(max($"code")).head().getLong(0) + 1
      val centArr = cent.select(struct($"c_id", $"c_emb", $"c_nrm").as("c"))
        .agg(array_sort(collect_list($"c")).as("cents"))
      val cbArr = cb.select(struct(($"m" * s + $"code").as("idx"), $"m",
          $"c_sub", $"cn2").as("e"))
        .agg(array_sort(collect_list($"e")).as("cbl"))
      val got = e.crossJoin(centArr).crossJoin(cbArr)
        .select($"vec_id",
          VectorExpressions.ivfRouteId($"embedding", $"cents").as("c_id"),
          VectorExpressions.pqPackedCp($"embedding", $"cbl", 8).as("cp"))
        .orderBy($"vec_id").collect().map(_.toSeq).toSeq
      // cp reference: the row-stream form, independent arithmetic
      val want = sorted(cells.join(codes, Seq("vec_id"))
        .select($"vec_id", $"c_id", $"cp"), "vec_id")
      assert(got.nonEmpty && got == want,
        s"$sf: native fold diverged from the reference index: " +
          s"${got.take(3)} vs ${want.take(3)}")
      // the builder's artifacts equal the reference bit for bit
      val ix = Similarity.pqIvfIndex(e)
      assert(sorted(ix.codebook, "m", "code") == sorted(cb, "m", "code"),
        s"$sf: pqIvfIndex codebook (m, code, c_sub, cn2) diverged")
      assert(sorted(ix.cent, "c_id") == sorted(cent, "c_id"),
        s"$sf: pqIvfIndex centroids (c_id, c_emb, c_nrm) diverged")
      assert(sorted(ix.cells.join(ix.codes, "vec_id"), "vec_id") == want,
        s"$sf: pqIvfIndex codes + cells diverged from the reference")
    }
  }

  test("pqLut / cxlTable: the in-row ADC tables equal the crossJoin + " +
    "collect_list derivation bit for bit") {
    import graft.ops.Similarity
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val e = graft.queries.table(spark, sfDir(sf), "embeddings")
      val q = e.filter($"vec_id" % 7 === 0)
      // the flat index and the residual one: cxl is read against the
      // residual codebook in ivfPqResTopKFrom
      val ix = Similarity.pqIvfIndex(e)
      val res = Similarity.pqIvfIndex(Similarity.ivfResiduals(e,
        ix.cells, ix.cent))
      for (cb <- Seq(ix.codebook, res.codebook)) {
        val meta = Similarity.codebookMeta(cb)
        val lut = sorted(Similarity.pqLut(q, meta), "q_id")
        assert(lut.nonEmpty &&
          lut == sorted(PqReference.lut(q, cb, meta.s, meta.subDim), "q_id"),
          s"$sf: in-row LUT diverged from the crossJoin derivation")
        val cxl = sorted(Similarity.cxlTable(ix.cent, meta), "c_id")
        assert(cxl.nonEmpty && cxl == sorted(
          PqReference.cxl(ix.cent, cb, meta.s, meta.subDim), "c_id"),
          s"$sf: in-row cxl diverged from the crossJoin derivation")
      }
    }
  }

  test("pqFoldSum: the native ADC fold equals the higher-order " +
    "aggregate/transform chain value for value on the real index") {
    import graft.ops.Similarity
    val e = graft.queries.table(spark, sfDir("sf0.001"), "embeddings")
    val ix = Similarity.pqIvfIndex(e)
    val s = ix.codebook.agg(max($"code")).head().getLong(0) + 1
    // the reconstructed-norm table every ADC scan folds over
    val rn2 = ix.codebook.select(($"m" * s + $"code").as("idx"), $"cn2")
      .agg(array_sort(collect_list(struct($"idx", $"cn2"))).as("p"))
      .select(transform($"p", x => x.getField("cn2")).as("rn2"))
    val both = ix.codes.crossJoin(rn2)
      .select($"vec_id",
        graft.functions.VectorExpressions.pqFoldSum($"rn2", $"cp", s.toInt)
          .as("native"),
        PqReference.foldHof("rn2", s, 8).as("hof"))
      .collect()
    assert(both.nonEmpty && both.forall(r => r.getDouble(1) == r.getDouble(2)),
      s"native ADC fold diverged from the higher-order chain: " +
        both.filter(r => r.getDouble(1) != r.getDouble(2)).take(3).toSeq)
  }

  test("bloomGramProbe: the packed native fold equals the higher-order " +
    "gram-hash + distinct + bit-test chain value for value on the corpus") {
    import graft.ops.Dedup
    val docs = graft.queries.table(spark, "/root/testdata/sf0.001", "documents")
    val bitmap = Dedup.bitmapFromWords(Dedup.bloomBitmapWords(
      Dedup.gramHashes(docs.filter($"doc_id" % 11 === 0), n = 4)))
    val n = Dedup.BloomGramLen
    val got = Dedup.bloomProbeInRow(docs, bitmap)
      .orderBy($"doc_id").collect().map(_.toSeq).toSeq
    // the pre-r15 higher-order form, rebuilt verbatim as the reference
    val toksC = split(F.normalizeText(lower($"text")), " ")
    val want = docs.filter(size(toksC) >= n)
      .select($"doc_id", toksC.as("__toks"))
      .select($"doc_id",
        array_distinct(transform(
          sequence(lit(1), size($"__toks") - (n - 1)),
          i => Dedup.seededHash(23,
            concat_ws(" ", slice($"__toks", i, lit(n))))))
          .as("__ghs"))
      .select($"doc_id",
        size($"__ghs").cast("long").as("n_grams"),
        size(org.apache.spark.sql.functions.filter($"__ghs",
          g => Dedup.bloomHit(g, bitmap))).cast("long").as("n_hits"))
      .orderBy($"doc_id").collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == want,
      s"native bloom fold diverged: ${got.take(3)} vs ${want.take(3)}")
    assert(got.exists(_.last.asInstanceOf[Long] > 0L),
      "corpus exercised no bloom hits — the pin is vacuous")
  }

  test("phashWords: the in-row native hash equals the batch explode + " +
    "groupBy build word for word on the real corpus") {
    import graft.ops.Multimodal
    import graft.functions.StringExpressions
    val docs = graft.queries.table(spark, "/root/testdata/sf0.001", "documents")
    val got = docs.filter(length($"text") > 0)
      .select($"doc_id",
        StringExpressions.phashWords($"text", 64).as("w"))
      .select($"doc_id", $"w"(0).as("b0"), $"w"(1).as("b1"),
        $"w"(2).as("b2"), $"w"(3).as("b3"))
      .orderBy($"doc_id").collect().map(_.toSeq).toSeq
    // r17: the batch table itself now hashes through the native fold, so
    // the reference is the preserved explode + groupBy build
    val want = PhashReference.table(docs, bits = 64)
      .orderBy($"doc_id").collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == want,
      s"in-row phash diverged from the batch build: ${got.take(2)} vs ${want.take(2)}")
    assert(got == Multimodal.phashTable(docs, bits = 64)
        .orderBy($"doc_id").collect().map(_.toSeq).toSeq,
      "phashTable diverged from the native fold")
    // the wide (PDQ-width) variant pins at 256 bits as well — mm_phash_wide
    // hashes through the same fold at 16 subindex words
    val got256 = Multimodal.phashTable(docs, bits = 256)
      .orderBy($"doc_id").collect().map(_.toSeq).toSeq
    val want256 = PhashReference.table(docs, bits = 256)
      .orderBy($"doc_id").collect().map(_.toSeq).toSeq
    assert(got256.nonEmpty && got256 == want256,
      s"256-bit in-row phash diverged: ${got256.take(1)} vs ${want256.take(1)}")
    assert(got.exists(_.drop(1).exists(_.asInstanceOf[Long] != 0L)),
      "corpus produced only all-zero hashes — the pin is vacuous")
  }

  /** Doubles for the half-up round pins: Gaussian and uniform values over
    * many magnitudes, exact ties k + 0.5 and (k + 0.5)/10⁶ with their
    * neighbours just past the tie margin, tiny negatives and ±0.0,
    * subnormals, NaN and ±Inf, and values either side of the fast path's
    * 4e15/10^s bound at scales 0 and 6. */
  private def roundInputs(): Array[Double] = {
    val r = new scala.util.Random(20261019L)
    val b = Array.newBuilder[Double]
    for (_ <- 0 until 300000)
      b += r.nextGaussian() * math.pow(10, r.nextInt(13) - 6)
    for (_ <- 0 until 300000)
      b += (r.nextDouble() * 2 - 1) * math.pow(10, r.nextInt(25) - 8)
    for (_ <- 0 until 50000) {
      val k = r.nextInt(2000001) - 1000000L
      b += k + 0.5
      b += (k + 0.5) / 1e6
      b += math.nextUp((k + 0.5) / 1e6)
      b += math.nextDown((k + 0.5) / 1e6)
      for (d <- Seq(1e-8, 1e-6, 1e-4)) { b += (k + 0.5 + d) / 1e6; b += (k + 0.5 - d) / 1e6 }
    }
    for (_ <- 0 until 50000) {
      b += -r.nextDouble() * 4e-7
      b += -r.nextDouble() * 0.4
      b += java.lang.Double.MIN_VALUE * r.nextInt(1 << 20) * (if (r.nextBoolean()) 1 else -1)
      b += java.lang.Double.MIN_NORMAL * r.nextDouble() * (if (r.nextBoolean()) 1 else -1)
    }
    for (s <- Seq(0, 6); k <- -20000 to 20000) {
      val c = 4e15 / math.pow(10, s)
      b += c + k * 37 * math.ulp(c)
      b += -(c + k * 37 * math.ulp(c))
    }
    b ++= Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      0.0, -0.0, Double.MaxValue, Double.MinValue, -1e-300,
      java.lang.Double.MIN_VALUE, -java.lang.Double.MIN_VALUE)
    b.result()
  }

  test("HalfUpRound: the raw bits of Spark's round on 10^6 doubles at " +
    "scales 0 and 6, codegen and interpreted") {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference,
      Expression, GenericInternalRow, InterpretedMutableProjection, Literal,
      Round}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateMutableProjection
    import org.apache.spark.sql.types.DoubleType
    import graft.functions.VectorExpressions.{HalfUpRound, halfUpRound}
    import java.lang.Double.doubleToRawLongBits
    val xs = roundInputs()
    assert(xs.length >= 1000000, s"only ${xs.length} inputs")
    val x = BoundReference(0, DoubleType, nullable = false)
    // (ours, Spark's) per scale: columns 0/1 at scale 0, 2/3 at scale 6
    val exprs: Seq[Expression] =
      Seq(0, 6).flatMap(s => Seq(HalfUpRound(x, s), Round(x, Literal(s))))
    val projections = Seq(
      "codegen" -> GenerateMutableProjection.generate(exprs),
      "interpreted" -> new InterpretedMutableProjection(exprs))
    val row = new GenericInternalRow(1)
    for ((mode, p) <- projections) {
      val bad = Seq.newBuilder[String]
      var nBad = 0
      for (v <- xs) {
        row.update(0, v)
        val out = p(row)
        for (i <- Seq(0, 2)) {
          val (got, want) = (out.getDouble(i), out.getDouble(i + 1))
          if (doubleToRawLongBits(got) != doubleToRawLongBits(want)) {
            if (nBad < 5) bad += s"round($v, ${if (i == 0) 0 else 6}) = $got, Spark $want"
            nBad += 1
          }
        }
      }
      assert(nBad == 0, s"$mode: $nBad rounds differ from Spark's: ${bad.result()}")
    }
    // a negative that rounds to zero, and -0.0, give +0.0
    for ((v, s) <- Seq((-0.0, 0), (-0.0, 6), (-0.4, 0), (-4e-7, 6),
        (-1e-300, 6), (-java.lang.Double.MIN_VALUE, 6)))
      assert(doubleToRawLongBits(halfUpRound(v, s)) == 0L,
        s"round($v, $s) is not +0.0")
  }

  test("rz on a DECIMAL column fails at analysis with HalfUpRound's " +
    "input-type error") {
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Seq(BigDecimal("1.25")).toDF("x")
        .select(graft.queries.rz($"x", 1)).collect()
    }
    assert(e.getCondition == "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE",
      e.getMessage)
    assert(e.getMessage.contains("half_up_round"), e.getMessage)
  }

  test("java.math.BigDecimal appears in VectorExpressions only in the " +
    "round's fallback") {
    val src = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths
      .get("src/main/scala/graft/functions/VectorExpressions.scala")), "UTF-8")
    val start = src.indexOf("private def bigDecimalRound(")
    val end = src.indexOf("\n\n", start)
    assert(start >= 0 && end > start, "the BigDecimal fallback is gone")
    val uses = "java\\.math\\.BigDecimal".r.findAllMatchIn(src).map(_.start).toSeq
    assert(uses.nonEmpty && uses.forall(i => i > start && i < end),
      "java.math.BigDecimal is used outside bigDecimalRound: a per-value " +
        "BigDecimal on a kernel path is the cost HalfUpRound removes")
  }
}
