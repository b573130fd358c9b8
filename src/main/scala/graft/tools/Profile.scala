package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries.readParquet

/** Stage-level profiling probes for the scale suspects: times named
  * sub-stages of a query at SPARK_GRAFT_SF_DIR (noop write, same
  * measurement discipline as graft.Bench) so a superlinear total can be
  * attributed to a specific stage instead of guessed at.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.tools.Profile <probe...>
  */
object Profile {
  private var session: SparkSession = _
  /** Same measurement isolation as graft.Bench.timeOne: construction is
    * timed (eager materialize barriers count), and residue (persisted
    * checkpoint blocks, broadcast/shuffle state) is dropped with a blocking
    * unpersist + forced GC after each probe so no probe pays a
    * predecessor's cleanup. */
  private def time(name: String)(df: => DataFrame): Unit = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    val s = (System.nanoTime() - t0) / 1e9
    println(f"[profile] $name%-32s ${s}%8.2f s")
  }
  private def isolate(): Unit = {
    session.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    System.gc()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.queries.wipeStages()
    import graft.ops.{Dedup, TextAnalysis}
    import graft.queries.table

    val probes: Map[String, () => Unit] = Map(
      "minhash_sig" -> (() => time("minhash_sig") {
        Dedup.minHashSignatures(table(spark, sfDir, "documents"))
      }),
      // same-algorithm scale probe: force EVERY block through the prefix
      // branch at both scales, so growth measures the prefix path itself
      // rather than the grid→prefix algorithm migration the size-adaptive
      // split performs between sf0.1 and f30
      "jaccard_prefix_only" -> (() => time("jaccard_prefix_only") {
        Dedup.ngramJaccard(table(spark, sfDir, "documents"), gridMax = 1)
      }),
      // and the pure grid form at the bench default, for the same reason
      "jaccard_judged" -> (() => time("jaccard_judged") {
        Dedup.ngramJaccard(table(spark, sfDir, "documents"))
      }),
      // the exact judged path, stage wiped first — what Bench times
      "substr_query" -> (() => {
        graft.queries.wipeStages()
        time("dd_exact_substr(query fn)")(
          graft.SparkEntry.queries("dd_exact_substr")(spark, sfDir))
      }),
      // attributes the ExactSubstr stage cost: the kernel itself (explode +
      // double-xxhash64 + window) vs the single-row-group repartition the
      // loader inserts at driver SFs vs the parquet stage write
      "substr_stages" -> (() => {
        time("span_kernel(loader table)")(
          Dedup.spanArrays(table(spark, sfDir, "documents"), 25))
        isolate()
        time("span_kernel(raw scan)")(
          Dedup.spanArrays(
            readParquet(spark, s"$sfDir/documents.parquet"), 25))
        isolate()
        val out = graft.queries.tmpStage(sfDir, "profile_spans")
        val t0 = System.nanoTime()
        Dedup.spanArrays(table(spark, sfDir, "documents"), 25)
          .write.mode("overwrite").parquet(out)
        println(f"[profile] span_stage_parquet_write     ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      }),
      "minhash_est_stages" -> (() => {
        var sig: DataFrame = null
        time("sig_build+materialize") {
          sig = Dedup.materialize(
            Dedup.minHashSignatures(table(spark, sfDir, "documents")))
          sig
        }
        time("est=verified(minEst=0)")(
          Dedup.minHashVerifiedFromSignatures(sig, minEst = 0.0))
        isolate()
        time("full_minHashEstQuality")(
          Dedup.minHashEstQuality(table(spark, sfDir, "documents"),
            Dedup.materialize(Dedup.minHashSignatures(
              table(spark, sfDir, "documents")))))
      }),
      "ngram_freq" -> (() => time("ngram_freq") {
        TextAnalysis.ngramFreq(table(spark, sfDir, "documents"), topN = 10)
      }),
      "q12" -> (() => {
        val q = graft.SparkEntry.queries("q12_shipping_delay")
        time("q12_shipping_delay")(q(spark, sfDir))
        q(spark, sfDir).explain("formatted")
      }),
      "jaccard_stages" -> (() => {
        // mirrors the PREFIX-BRANCH half of Dedup.ngramJaccard's candidate
        // pipeline stage by stage. Since round 12 the production path runs
        // this over CANONICAL representatives only (ngramJaccardCanonical
        // collapses exact-dup token sets first); this profile deliberately
        // keeps the raw-corpus form so the canonicalization win is
        // measurable against it.
        import graft.functions.VectorExpressions.{sortedDistinctStrings, sortedIntersectCount}
        import graft.etl.{functions => F}
        val docs = table(spark, sfDir, "documents")
        val threshold = 0.5
        val tSlack = threshold - 1e-6
        val toksC = sortedDistinctStrings(split(F.normalizeText(lower(col("text"))), " "))
        val bucketC = floor(size(split(col("text"), "\\s+")).cast("double") / lit(10)).cast("long")
        var prep: DataFrame = null
        time("prep_tokenize+materialize") {
          prep = Dedup.materialize(docs.select(
            col("doc_id"), col("lang"), toksC.as("toks"), bucketC.as("bucket")))
          prep
        }
        val tokStream = prep.select(col("doc_id"), col("lang"), col("bucket"),
          size(col("toks")).as("n"), explode(col("toks")).as("tok"))
        val dfTab = tokStream.groupBy(col("tok")).agg(count(lit(1)).as("tdf"))
        time("df_table")(dfTab)
        val pfxLen = (col("n") - ceil(lit(tSlack) * col("n")) + lit(1)).cast("int")
        var prefixes: DataFrame = null
        time("prefix_build+materialize") {
          prefixes = Dedup.materialize(tokStream.join(dfTab, "tok")
            .groupBy(col("doc_id"), col("lang"), col("bucket"), col("n"))
            .agg(sort_array(collect_list(struct(col("tdf"), col("tok")))).as("ranked"))
            .select(col("doc_id"), col("lang"), col("bucket"),
              explode(slice(col("ranked"), lit(1), pfxLen)).as("pt"))
            .select(col("doc_id"), col("lang"), col("bucket"), col("pt.tok").as("tok")))
          prefixes
        }
        val (a, b, chunkCond) = graft.ops.Skew.chunkedSelfJoin(prefixes, "doc_id", 4)
        var cand: DataFrame = null
        time("candidates+materialize") {
          cand = Dedup.materialize(a.join(b, col("a.lang") === col("b.lang") &&
              col("a.bucket") === col("b.bucket") &&
              col("a.tok") === col("b.tok") && chunkCond &&
              col("a.doc_id") < col("b.doc_id"))
            .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
            .distinct())
          cand
        }
        val inter = sortedIntersectCount(col("a.toks"), col("b.toks"))
        val jaccard = round(inter.cast("double") /
          (size(col("a.toks")) + size(col("b.toks")) - inter).cast("double"), 6)
        val sizePre =
          least(size(col("a.toks")), size(col("b.toks"))).cast("double") * (1.0 + tSlack) >=
            lit(tSlack) * (size(col("a.toks")) + size(col("b.toks"))).cast("double")
        time("verify_join+sort") {
          cand.join(prep.as("a"), cand("doc_a") === col("a.doc_id"))
            .join(prep.as("b"), cand("doc_b") === col("b.doc_id"))
            .filter(sizePre && jaccard >= threshold)
            .select(col("doc_a"), col("doc_b"), jaccard.as("jaccard"))
            .repartition(col("doc_a"), col("doc_b"))
            .orderBy(col("doc_a"), col("doc_b"))
        }
      }),
      "bigram_stages" -> (() => {
        // mirrors TextAnalysis.bigramLogProb stage by stage
        import org.apache.spark.sql.types.DecimalType
        val docs = table(spark, sfDir, "documents")
        val toksC = split(graft.etl.functions.normalizeText(lower(col("text"))), " ")
        def pairs = docs.filter(size(toksC) >= 2)
          .select(col("doc_id"), toksC.as("toks"),
            explode(sequence(lit(1), size(toksC) - 1)).as("i"))
          .select(col("doc_id"),
            element_at(col("toks"), col("i")).as("w1"),
            element_at(col("toks"), col("i") + 1).as("w2"))
        time("pairs_explode_only")(pairs)
        var bg: DataFrame = null
        time("bg_count+materialize") {
          bg = Dedup.materialize(
            pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb")))
          bg
        }
        val ctx = bg.groupBy(col("w1")).agg(sum(col("cb")).as("cp"))
        var scores: DataFrame = null
        time("ctx+scores+materialize") {
          scores = Dedup.materialize(bg.join(ctx, Seq("w1"))
            .select(col("w1"), col("w2"),
              (-log(col("cb").cast("double") / col("cp"))).as("nll")))
          scores
        }
        time("score_join+rollup") {
          pairs.join(scores, Seq("w1", "w2"))
            .groupBy(col("doc_id"))
            .agg(count(lit(1)).as("n_bigrams"),
              round(sum(col("nll").cast(DecimalType(30, 10))).cast("double") /
                count(lit(1)), 6).as("avg_nll"))
            .orderBy(col("doc_id"))
        }
        isolate()
        time("full_bigramLogProb")(
          TextAnalysis.bigramLogProb(docs))
      }),
      "bigram_new" -> (() => {
        val docs = table(spark, sfDir, "documents")
        var dpc: DataFrame = null
        time("dpc_scan_only") {
          dpc = TextAnalysis.docGramCounts(docs, 2, Nil)
            .select(col("doc_id"),
              substring_index(col("g"), " ", 1).as("w1"),
              substring_index(col("g"), " ", -1).as("w2"), col("c"))
          dpc
        }
        var bg: DataFrame = null
        time("bg_rollup+materialize") {
          bg = Dedup.materialize(
            dpc.groupBy(col("w1"), col("w2")).agg(sum(col("c")).as("cb")))
          bg
        }
        val t0 = System.nanoTime()
        val vocab = bg.count()
        println(f"[profile] vocab_count_probe (${vocab})      ${(System.nanoTime()-t0)/1e9}%8.2f s")
        val ctx = bg.groupBy(col("w1")).agg(sum(col("cb")).as("cp"))
        var scores: DataFrame = null
        time("ctx+scores")(
          { scores = bg.join(ctx, Seq("w1"))
              .select(col("w1"), col("w2"),
                (-log(col("cb").cast("double") / col("cp"))).as("nll"))
            scores })
        import org.apache.spark.sql.types.DecimalType
        time("bcast_join+rollup") {
          dpc.join(broadcast(scores), Seq("w1", "w2"))
            .groupBy(col("doc_id"))
            .agg(sum(col("c")).as("n_bigrams"),
              round(sum(col("nll").cast(DecimalType(20, 10)) *
                  col("c").cast(DecimalType(10, 0)))
                .cast("double") / sum(col("c")), 6).as("avg_nll"))
            .orderBy(col("doc_id"))
        }
        isolate()
        time("full_bigramLogProb_2nd")(TextAnalysis.bigramLogProb(docs))
        time("full_bigramLogProb_3rd")(TextAnalysis.bigramLogProb(docs))
      }),
      "repetition" -> (() => time("repetitionStats") {
        TextAnalysis.repetitionStats(table(spark, sfDir, "documents"))
      }),
      // attributes dd_stream_upsert's wall time: full query (stage-warm)
      // vs the same aggregate drained to a memory sink (no upsert target)
      // vs the two foreachBatch read-merge-swap upserts alone
      "upsert_stages" -> (() => {
        time("dd_stream_upsert(1st/staging)")(
          graft.SparkEntry.queries("dd_stream_upsert")(spark, sfDir))
        isolate()
        time("dd_stream_upsert(warm)")(
          graft.SparkEntry.queries("dd_stream_upsert")(spark, sfDir))
        isolate()
        val stagedPath = graft.queries.tmpStage(sfDir, "docstream")
        val st = readParquet(spark, stagedPath)
        val stream = graft.streaming.StreamOps.readEventStream(
          spark, stagedPath, st, maxFilesPerTrigger = 2)
        val agg = stream.groupBy(md5(col("text")).as("fp"))
          .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        time("memory_drain_2batch")(
          graft.streaming.StreamOps.drain(Seq((agg, "profile_upsert_mem",
            graft.streaming.StreamOps.Memory("complete"))),
            shufflePartitions = Some(4)).head)
        isolate()
        val target = graft.queries.tmpStage(sfDir, "profile_upsert_tgt")
        val batchAgg = st.groupBy(md5(col("text")).as("fp"))
          .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        val t0 = System.nanoTime()
        graft.etl.Staging.upsert(batchAgg, target, Seq("fp"))
        graft.etl.Staging.upsert(batchAgg, target, Seq("fp"))
        println(f"[profile] two_upsert_merges               ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      }),
      // attributes dd_cluster_stats (stage-warm): the quality kernel vs
      // the stage read + 3-way join + rollup
      "cluster_stats_stages" -> (() => {
        val docs = table(spark, sfDir, "documents")
        // build the stage untimed so the probes below are stage-warm
        graft.SparkEntry.queries("dd_dup_clusters")(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        isolate()
        time("qualityScore_only")(TextAnalysis.qualityScore(docs))
        isolate()
        time("dd_cluster_stats(warm1)")(
          graft.SparkEntry.queries("dd_cluster_stats")(spark, sfDir))
        isolate()
        time("dd_cluster_stats(warm2)")(
          graft.SparkEntry.queries("dd_cluster_stats")(spark, sfDir))
      }),
      "cluster_stages" -> (() => {
        val docs = table(spark, sfDir, "documents")
        var pairs: DataFrame = null
        time("ngramJaccard_pairs") {
          pairs = Dedup.materialize(
            Dedup.ngramJaccard(docs, threshold = 0.5)
              .select(col("doc_a"), col("doc_b")))
          pairs
        }
        // no isolate() here: it would unpersist the localCheckpoint'd
        // pairs table out from under the next stage
        time("duplicateClusters")(Dedup.duplicateClusters(pairs))
      })
    )
    session = spark
    val names = if (args.nonEmpty) args.toSeq else probes.keys.toSeq.sorted
    for (n <- names) { probes(n)(); isolate() }
    spark.stop()
  }
}
