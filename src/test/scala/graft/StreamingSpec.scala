package graft

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.ops.EventWindows
import graft.streaming.StreamOps

/** Batch/stream equivalence (SURVEY.md §2.7): the streaming operators must
  * agree with their graft.ops.EventWindows batch twins on the same bounded
  * input. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  /** One memory-sink leg drained, with the per-batch state rows the drain
    * recorded for it. */
  private def drainTracked(df: org.apache.spark.sql.DataFrame, name: String,
                           mode: String, shufflePartitions: Int)
      : (org.apache.spark.sql.DataFrame, Seq[Long]) = {
    val out = StreamOps.drain(Seq((df, name, StreamOps.Memory(mode))),
      Some(shufflePartitions)).head
    (out, StreamOps.stateLogSnapshot(name))
  }

  /** The graft_ckpt_* directories under both roots a drain may use. */
  private def checkpointDirs(): Set[String] =
    Seq("/dev/shm", sys.props("java.io.tmpdir")).flatMap { root =>
      Option(new java.io.File(root).listFiles()).toSeq.flatten
        .filter(_.getName.startsWith("graft_ckpt_")).map(_.getPath)
    }.toSet

  private val eventData = Seq(
    StreamOps.Event(1L, ts("2024-01-01 10:00:00"), 100L, "click", 1.0),
    StreamOps.Event(2L, ts("2024-01-01 10:10:00"), 100L, "view", 2.5),
    StreamOps.Event(3L, ts("2024-01-01 10:55:00"), 100L, "click", 3.0),
    StreamOps.Event(4L, ts("2024-01-01 10:05:00"), 200L, "view", 4.0))

  test("streaming tumbling agg equals the batch twin on a drained stream") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamOps.Event]
    mem.addData(eventData: _*)
    val agg = StreamOps.tumbling(mem.toDF(), sizeMin = 15)
    val q = agg.writeStream.format("memory").queryName("tumble_out")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = rows(spark.table("tumble_out")
      .select($"win_start", $"event_type", $"n", $"total")
      .orderBy($"win_start", $"event_type"))
    val want = rows(EventWindows.tumbling(eventData.toDF(), sizeMin = 15)
      .select($"win_start", $"event_type", $"n", $"total"))
      .map(r => (r.getTimestamp(0).toInstant, r.getString(1), r.getLong(2),
        r.getDouble(3)))
    assert(got.map(r => (r.getTimestamp(0).toInstant, r.getString(1),
      r.getLong(2), r.getDouble(3))) == want)
  }

  test("update-mode drain + keyed upsert converges to the batch aggregate") {
    // Duplicates span micro-batch boundaries, so the second batch must
    // UPDATE keys the first batch already wrote (n_copies grows, keep_id
    // shrinks) — the case where append mode or a blind insert would be
    // wrong, and exactly what the downstream upsert is for.
    val base = java.nio.file.Files.createTempDirectory("drain_upsert").toString
    Seq((5L, "dup"), (6L, "solo")).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$base/in")
    Seq((2L, "dup")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(s"$base/in")
    val in = spark.readStream
      .schema(spark.read.parquet(s"$base/in").schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
    val agg = in.groupBy(md5($"text").as("fp"))
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
    StreamOps.drain(Seq((agg, "upsert_converge",
      StreamOps.Upsert(s"$base/out", Seq("fp"), Some(s"$base/ckpt")))),
      shufflePartitions = Some(2))
    val got = rows(spark.read.parquet(s"$base/out").orderBy($"keep_id"))
      .map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("n_copies")))
    assert(got == Seq((2L, 2L), (6L, 1L)))
  }

  test("drain tracks Files and Upsert legs: each records its per-batch " +
    "state rows, drained concurrently in one call") {
    val base = java.nio.file.Files.createTempDirectory("drain_tracked").toString
    Seq((5L, "dup"), (6L, "solo")).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$base/in")
    Seq((2L, "dup")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(s"$base/in")
    def in = spark.readStream
      .schema(spark.read.parquet(s"$base/in").schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
    val agg = in.groupBy(md5($"text").as("fp"))
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
    StreamOps.clearStateLog()
    val Seq(files, upserted) = StreamOps.drain(Seq(
      (in, "tracked_files", StreamOps.Files(s"$base/files")),
      (agg, "tracked_upsert", StreamOps.Upsert(s"$base/up", Seq("fp")))),
      shufflePartitions = Some(2))
    val state = StreamOps.stateLogSnapshot
    // one entry per committed micro-batch (two input files, one per
    // trigger); the stateless file leg commits zero state rows, the
    // aggregate's state is never empty
    assert(state.get("tracked_files")
      .exists(s => s.nonEmpty && s.forall(_ == 0L)),
      s"file-sink leg untracked: $state")
    assert(state.get("tracked_upsert")
      .exists(s => s.nonEmpty && s.forall(_ > 0L)),
      s"upsert leg untracked: $state")
    assert(files.count() == 3L)
    assert(rows(upserted.orderBy($"keep_id"))
      .map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("n_copies"))) ==
      Seq((2L, 2L), (6L, 1L)))
  }

  test("a leg that fails to start stops every started leg before the " +
    "drain restores the conf and deletes its checkpoints") {
    implicit val sqlCtx = spark.sqlContext
    val blocking = MemoryStream[Int]
    blocking.addData(1)
    // the blocked batch would hold for 30 s: the drain must cancel it,
    // not wait it out, wherever its stop lands relative to the batch job
    val block = udf { (x: Int) =>
      StreamingSpecLatch.release.await(30, java.util.concurrent.TimeUnit.SECONDS)
      x
    }
    val leg1 = blocking.toDF().select(block($"value").as("value"))
    val failing = MemoryStream[Int]
    failing.addData(1)
    // a streaming aggregate without a watermark cannot run in the file
    // sink's append mode: start() throws
    val leg2 = failing.toDF().groupBy($"value").count()
    val out = java.nio.file.Files.createTempDirectory("drain_leak").toString
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val ckptsBefore = checkpointDirs()
    try {
      val t0 = System.nanoTime()
      intercept[org.apache.spark.sql.AnalysisException] {
        StreamOps.drain(Seq(
          (leg1, "leak_leg_blocked", StreamOps.Memory("append")),
          (leg2, "leak_leg_failing", StreamOps.Files(s"$out/files"))),
          shufflePartitions = Some(3))
      }
      val waited = (System.nanoTime() - t0) / 1e9
      assert(waited < 5.0,
        f"the failing drain waited $waited%.1f s for its blocked leg")
      assert(spark.streams.active.isEmpty,
        s"started legs left running: ${spark.streams.active.map(_.name).toSeq}")
      assert(spark.conf.get("spark.sql.shuffle.partitions") == prev)
      assert((checkpointDirs() -- ckptsBefore).isEmpty,
        s"drain left checkpoints behind: ${checkpointDirs() -- ckptsBefore}")
    } finally {
      StreamingSpecLatch.release.countDown()
      spark.streams.active.foreach(_.stop())
    }
  }

  test("src/main drains streams only through StreamOps.drain") {
    // and stages them only through StreamStage
    val main = java.nio.file.Paths.get("src/main/scala")
    val files = scala.util.Using.resource(java.nio.file.Files.walk(main)) { w =>
      import scala.jdk.CollectionConverters._
      w.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    }
    val owners = Map(
      "StreamOps.scala" -> Seq(".writeStream", "graft_ckpt", "/dev/shm"),
      "StreamStage.scala" ->
        Seq("writeMicroBatchFile", "_STAGED", "b0.parquet", "b[01]"))
    assert(owners.keySet.forall(o => files.exists(_.getFileName.toString == o)))
    val stray = for {
      f <- files
      src = java.nio.file.Files.readString(f)
      (owner, words) <- owners if f.getFileName.toString != owner
      word <- words if src.contains(word)
    } yield s"${f.getFileName}: $word"
    assert(stray.isEmpty,
      s"stream drains or stagings outside their module: $stray")
  }

  test("every StreamStage stage keeps its layout and reopens without a " +
    "Spark job") {
    import graft.queries.StreamStage
    import java.nio.file.{Files, Paths}
    def dataFiles(staged: String): Seq[String] =
      Option(new java.io.File(staged).listFiles()).toSeq.flatten
        .map(_.getName).filter(_.endsWith(".parquet")).sorted
    def multiset(df: org.apache.spark.sql.DataFrame): Map[Row, Int] =
      df.collect().toSeq.groupBy(identity).map { case (r, rs) => r -> rs.size }
    // the one table each stage reads
    val source = Map("docstream" -> "documents", "docevict" -> "documents",
      "curatestream" -> "documents", "evstream4" -> "events",
      "evsess" -> "events", "evsessw" -> "events",
      "embstream" -> "embeddings", "embevict" -> "embeddings")
    assert(source.keySet == StreamStage.all.map(_.name).toSet)
    for (sf <- Seq("sf0.001", "sf0.01"); stage <- StreamStage.all) {
      withTableCopy(sf, source(stage.name)) { dir =>
        val staged = stage(spark, dir)
        val what = s"$sf ${stage.name}"
        stage match {
          case c: StreamStage.Coalesced =>
            val want = math.min(StreamStage.CoalescedFiles,
              c.rows(spark, dir).rdd.getNumPartitions)
            assert(dataFiles(staged).size == want,
              s"$what: ${dataFiles(staged)} (want $want files)")
            assert(multiset(spark.read.parquet(staged)) ==
              multiset(c.rows(spark, dir)), s"$what: rows differ")
          case t: StreamStage.Timed =>
            assert(dataFiles(staged) ==
              Seq("b0.parquet", "b1.parquet", "b2.parquet"), what)
            val mtimes = Seq("b0", "b1", "b2").map(b =>
              Files.getLastModifiedTime(Paths.get(s"$staged/$b.parquet"))
                .toMillis)
            assert(mtimes == mtimes.sorted && mtimes.distinct.size == 3,
              s"$what: mtimes not strictly increasing: $mtimes")
            val (rows, flush) = t.declare(spark, dir)
            val range = rows.agg(min(col(t.key)), max(col(t.key))).first()
            val cut = lit(StreamStage.cut(range))
            def batch(b: String) = spark.read.parquet(s"$staged/$b.parquet")
            assert(multiset(batch("b0").unionByName(batch("b1"))) ==
              multiset(rows), s"$what: b0 ∪ b1 is not the source rows")
            assert(batch("b0").filter(col(t.key) > cut).isEmpty &&
              batch("b1").filter(col(t.key) <= cut).isEmpty,
              s"$what: b0/b1 straddle the cut")
            assert(!batch("b0").isEmpty && !batch("b1").isEmpty,
              s"$what: an empty data batch")
            assert(multiset(batch("b2")) == multiset(flush(range)),
              s"$what: b2 is not the flush rows")
        }
        assert(sparkJobs { stage(spark, dir); () } == 0,
          s"$what: reopening a built stage ran Spark jobs")
      }
    }
  }

  test("streaming sessionize closes a session when the gap passes in-stream") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamOps.Event]
    mem.addData(eventData: _*)
    val sess = StreamOps.sessionize(mem.toDS(), gapMin = 30,
      timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout())
    val q = sess.toDF().writeStream.format("memory").queryName("sess_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // Only user 100's first session closes inside the stream (50-min gap);
    // open sessions await timeout and are not emitted by AvailableNow.
    val got = rows(spark.table("sess_out"))
    assert(got.length == 1)
    val s = got.head
    assert(s.getAs[Long]("user_id") == 100L &&
      s.getAs[Long]("session_id") == 1L &&
      s.getAs[Long]("n_events") == 2L &&
      s.getAs[Long]("dur_us") == 600L * 1000000L)
    // The batch twin agrees on that closed session.
    val batch = rows(EventWindows.sessionize(
      eventData.toDF().withColumn("ts", $"ts".cast("timestamp")), gapMin = 30))
      .filter(r => r.getAs[Long]("user_id") == 100L &&
                   r.getAs[Long]("session_id") == 1L)
    assert(batch.head.getAs[Long]("n_events") == 2L)
  }

  test("dd_stream_neardup drains to exactly the batch incremental-LSH gate") {
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.queries.TextOps.queries("dd_stream_neardup")(spark, dir)
      .collect().map(_.toSeq).toSeq
    val batch = graft.queries.TextOps.queries("dd_incremental_lsh")(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty, "gate matched nothing at sf0.001")
    assert(streamed == batch,
      s"stream/batch divergence:\n stream=$streamed\n batch=$batch")
  }

  test("append-mode watermark EVICTS state (bounded by the horizon) while " +
    "complete mode holds the full key space — and both equal the batch agg") {
    // Six time-ordered micro-batches: five data epochs 120 minutes apart
    // (5 keys each, every key duplicated once within its epoch) and a far-
    // future flush. With a 30-min watermark over 60-min windows, an epoch
    // becomes evictable one batch after the next epoch arrives, so append-
    // mode state never holds more than ~2 epochs (10 rows) even though the
    // key space grows to 26 groups — the property that lets a fingerprint
    // ingest gate survive unbounded input. Complete mode over the same
    // stream must instead end holding every group.
    val staged = java.nio.file.Files.createTempDirectory("graft_evict").toString
    def epochBatch(k: Int) =
      (0 until 10).map { i =>
        (k * 100L + i, s"t${i % 5}",
          new Timestamp((k * 120L + i) * 60L * 1000L))
      }.toDF("doc_id", "text", "ingest_ts")
    val base = System.currentTimeMillis() / 1000L
    for (k <- 0 until 5)
      graft.queries.StreamStage.writeMicroBatchFile(epochBatch(k), staged,
        s"b$k", base + 2 * k)
    graft.queries.StreamStage.writeMicroBatchFile(
      Seq((-1L, "__flush__", new Timestamp(100000L * 60L * 1000L)))
        .toDF("doc_id", "text", "ingest_ts"),
      staged, "b5", base + 10)
    def agg(mode: String, name: String) = {
      val stream = StreamOps.readEventStream(spark, staged)
      drainTracked(
        stream.withWatermark("ingest_ts", "30 minutes")
          .groupBy(window($"ingest_ts", "60 minutes"), md5($"text").as("fp"))
          .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
          .select($"window.start".as("win_start"), $"fp",
            $"keep_id", $"n_copies"),
        name, mode, shufflePartitions = 2)
    }
    val (appendDf, appendState) = agg("append", "evict_append")
    val appendRows = rows(appendDf.filter($"keep_id" >= 0)
      .orderBy($"keep_id"))
      .map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("n_copies")))
    // batch truth: 5 epochs x 5 fps, keep_id = epoch base + i, n_copies 2
    val want = (for (k <- 0 until 5; i <- 0 until 5) yield (k * 100L + i, 2L))
      .sorted
    assert(appendRows == want, s"append drain diverged: $appendRows")
    assert(appendState.nonEmpty, "no progress captured")
    assert(appendState.max <= 11,
      s"append state not bounded by the horizon: $appendState")
    assert(appendState.last <= 1,
      s"final watermark did not evict the tail: $appendState")
    val (_, completeState) = agg("complete", "evict_complete")
    assert(completeState.max >= 26,
      s"complete mode should end holding all 26 groups: $completeState")
  }

  test("sim_stream_ann: streaming ANN ingest equals the batch two-stage " +
    "serving path; state holds one row per arrived query, never the corpus") {
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.queries.Vectors.queries("sim_stream_ann")(spark, dir)
      .collect().map(_.toSeq).toSeq
    val batch = graft.queries.Vectors.queries("sim_ivfpq_rerank")(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty, "streaming ANN served nothing at sf0.001")
    assert(streamed == batch,
      s"stream/batch serving divergence:\n stream=${streamed.take(5)}…" +
        s"\n batch=${batch.take(5)}…")
    // State boundedness (the 100 TB claim): drain the shortlist TRACKED —
    // every micro-batch's state-store row count is at most the number of
    // arrived queries (complete-mode groups), while the corpus riding the
    // stream-static side is an order of magnitude larger and never enters
    // state.
    import graft.ops.Similarity
    val e = graft.queries.table(spark, dir, "embeddings")
    val n = e.count()
    val stride = Similarity.queryStride(n)
    val nQ = e.filter($"vec_id" % stride === 0).count()
    assert(n >= nQ * 5, s"corpus ($n) must dwarf the query side ($nQ)")
    val staged = java.nio.file.Files.createTempDirectory("graft_ann").toString
    e.coalesce(4).write.mode("overwrite").parquet(staged)
    val stream = StreamOps.readEventStream(spark, staged)
      .filter($"vec_id" % stride === 0)
    val ix = Similarity.pqIvfIndex(e)
    val sl = Similarity.ivfPqStreamShortlist(stream, ix.codebook, ix.codes,
      ix.cells, ix.cent)
    val (drained, state) = drainTracked(sl,
      "ann_state_pin", "complete", shufflePartitions = 2)
    assert(state.nonEmpty, "no progress captured")
    assert(state.max <= nQ,
      s"ANN ingest state exceeded the arrived-query count ($nQ): $state")
    assert(drained.count() == nQ,
      "every arrived query must hold exactly one shortlist row")
  }

  test("sim_stream_ann_evict: append/watermark ANN serving equals the " +
    "batch path; state is bounded by the epoch horizon and evicts") {
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.queries.Vectors.queries("sim_stream_ann_evict")(spark, dir)
      .collect().map(_.toSeq).toSeq
    val batch = graft.queries.Vectors.queries("sim_ivfpq_rerank")(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty, "eviction-mode ANN served nothing at sf0.001")
    assert(streamed == batch,
      s"evict/batch serving divergence:\n stream=${streamed.take(5)}…" +
        s"\n batch=${batch.take(5)}…")
    // State sequence: two data batches split the query stream in half, so
    // no batch's state may hold anywhere near ALL arrived queries (the
    // complete-mode posture); the flush batch + the final
    // watermark-advance batch must evict down to at most the sentinel's
    // own (never-emitted) group.
    import graft.ops.Similarity
    val e = graft.queries.table(spark, dir, "embeddings")
    val stride = Similarity.queryStride(e.count())
    val nQ = e.filter($"vec_id" % stride === 0).count()
    val staged = graft.queries.StreamStage.embBatches(spark, dir)
    val stream = StreamOps.readEventStream(spark, staged)
      .withWatermark("ingest_ts", "45 minutes")
      .filter($"vec_id" % stride === 0)
    val ix = Similarity.pqIvfIndex(e)
    val sl = Similarity.ivfPqStreamShortlistEpoch(stream, ix.codebook,
      ix.codes, ix.cells, ix.cent)
    val (_, state) = drainTracked(sl,
      "ann_evict_state_pin", "append", shufflePartitions = 2)
    assert(state.nonEmpty, "no progress captured")
    assert(state.max < nQ,
      s"evict state held all $nQ arrived queries — eviction not working: $state")
    // horizon bound: one batch's arrivals (≤ ⌈nQ/2⌉) plus the previous
    // batch's un-evicted tail (45 min of watermark lag ÷ stride minutes
    // per query) plus the sentinel
    val horizon = (nQ + 1) / 2 + math.ceil(45.0 / stride).toLong + 2
    assert(state.max <= horizon,
      s"evict state exceeded the epoch horizon ($horizon): $state")
    assert(state.last <= 1,
      s"final watermark did not evict to at most the sentinel group: $state")
  }

  test("sim_stream_index_ingest: map-only route+encode equals the batch " +
    "index row for row and commits ZERO state-store rows") {
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.queries.Vectors.queries("sim_stream_index_ingest")(spark, dir)
      .collect().map(_.toSeq).toSeq
    import graft.ops.Similarity
    val e = graft.queries.table(spark, dir, "embeddings")
    val ix = Similarity.pqIvfIndex(e)
    val batch = ix.encoded.orderBy($"vec_id").collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty, "index ingest drained nothing at sf0.001")
    assert(streamed == batch,
      s"stream/batch index divergence:\n stream=${streamed.take(5)}…" +
        s"\n batch=${batch.take(5)}…")
    // The zero-state posture (the strongest boundedness claim a stream
    // can make): no stateful operator anywhere in the plan, so every
    // committed micro-batch reports 0 state-store rows — the corpus can
    // arrive forever and the only growth is the appended index itself.
    val staged = java.nio.file.Files.createTempDirectory("graft_ing").toString
    e.coalesce(4).write.mode("overwrite").parquet(staged)
    val stream = StreamOps.readEventStream(spark, staged)
    val enc = Similarity.ivfPqStreamEncode(stream, ix.codebook, ix.cent)
    val (drained, state) = drainTracked(enc,
      "index_ingest_state_pin", "append", shufflePartitions = 2)
    assert(state.nonEmpty, "no progress captured")
    assert(state.forall(_ == 0L),
      s"map-only ingest committed state rows: $state")
    assert(drained.count() == e.count(),
      "every arrived vector must land exactly one index row")
  }

  test("mm_stream_phash: the streaming gate equals an independent batch " +
    "MIH restatement and commits ZERO state-store rows") {
    val dir = "/root/testdata/sf0.001"
    StreamOps.clearStateLog()
    val got = graft.queries.Vectors.queries("mm_stream_phash")(spark, dir)
      .collect().map(_.toSeq).toSeq
    // Independent restatement: an MIH radius-1 candidate (SOME subindex
    // word whose probe key collides) is EXACTLY a pair with per-word
    // hamming ≤ 1 in some word — at sf0.001 the arriving × standing grid
    // is small enough to test that predicate directly, with no probe
    // enumeration and no canonicalization shared with the operator.
    val ph = graft.ops.Multimodal.phashTable(
      graft.queries.table(spark, dir, "documents"), bits = 64)
    val a = ph.filter($"doc_id" % 5 === 0)
      .select($"doc_id".as("new_doc"), $"b0".as("a0"), $"b1".as("a1"),
        $"b2".as("a2"), $"b3".as("a3"))
    val b = ph.filter($"doc_id" % 5 =!= 0)
      .select($"doc_id".as("dup_of"), $"b0", $"b1", $"b2", $"b3")
    val want = a.crossJoin(b)
      .filter(expr(
        "(bit_count(a0 ^ b0) <= 1 OR bit_count(a1 ^ b1) <= 1 OR " +
          "bit_count(a2 ^ b2) <= 1 OR bit_count(a3 ^ b3) <= 1) AND " +
          "(bit_count(a0 ^ b0) + bit_count(a1 ^ b1) + " +
          "bit_count(a2 ^ b2) + bit_count(a3 ^ b3)) <= 12"))
      .groupBy($"new_doc")
      .agg(count(lit(1)).as("n_matches"), min($"dup_of").as("first_match"))
      .orderBy($"new_doc").collect().map(_.toSeq).toSeq
    assert(got.nonEmpty, "phash gate drained no matches at sf0.001")
    assert(got == want,
      s"stream/batch phash-gate divergence:\n stream=${got.take(5)}…" +
        s"\n batch=${want.take(5)}…")
    // zero-state posture: hash + probe expansion are in-row, the index
    // join is stream-static, the rollup is post-drain — nothing stateful
    val state = StreamOps.stateLogSnapshot.collect {
      case (n, s) if n.startsWith("mm_stream_phash") => s
    }.flatten
    assert(state.nonEmpty, "no progress captured for the phash gate drain")
    assert(state.forall(_ == 0L),
      s"phash gate committed state rows: $state")
  }

  test("ev_stream_sessionize_evict: session_window eviction equals the " +
    "batch sessionizer while state stays horizon-bounded and drains to ≤ 1") {
    val dir = "/root/testdata/sf0.001"
    StreamOps.clearStateLog()
    val streamed = graft.queries.Events.queries("ev_stream_sessionize_evict")(
      spark, dir).collect().map(_.toSeq).toSeq
    val batch = graft.queries.Events.queries("ev_sessionize")(spark, dir)
      .select($"user_id", $"session_id", $"n_events",
        $"first_ts", $"last_ts", $"dur_us")
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty, "eviction sessionizer drained nothing")
    assert(streamed == batch,
      s"stream/batch session divergence:\n stream=${streamed.take(5)}…" +
        s"\n batch=${batch.take(5)}…")
    // The eviction pin: emitted sessions LEAVE state. The final commit may
    // hold at most the flush sentinel's open session (never the users),
    // and no commit may snapshot every emitted session the way the
    // NoTimeout posture's full-state commits do.
    val state = StreamOps.stateLogSnapshot
      .collectFirst { case (k, v) if k.contains("sessw") => v }
      .getOrElse(fail("no state log captured for the eviction drain"))
    assert(state.nonEmpty, "no progress captured")
    assert(state.last <= 1,
      s"final watermark did not evict to at most the sentinel: $state")
    assert(state.max < batch.length,
      s"state held every session at once — eviction not working: $state")
  }

  test("sim_index_compact: appended ≡ compacted ≡ batch index, and the " +
    "compaction genuinely collapses the per-micro-batch small files") {
    val dir = "/root/testdata/sf0.001"
    val compacted = graft.queries.Vectors.queries("sim_index_compact")(
      spark, dir).collect().map(_.toSeq).toSeq
    import graft.ops.Similarity
    val e = graft.queries.table(spark, dir, "embeddings")
    val batch = Similarity.pqIvfIndex(e).encoded
      .orderBy($"vec_id").collect().map(_.toSeq).toSeq
    assert(compacted.nonEmpty, "compacted index empty at sf0.001")
    assert(compacted == batch, "compaction changed index CONTENT")
    val st = graft.queries.tmpStage(dir, "ivfappend_v1")
    val appended = spark.read.parquet(s"$st/appended")
      .select($"vec_id", $"c_id", $"cp")
      .orderBy($"vec_id").collect().map(_.toSeq).toSeq
    assert(appended == batch, "append log diverged from the batch index")
    def files(p: String): Int =
      new java.io.File(p).listFiles().count(_.getName.endsWith(".parquet"))
    val (before, after) = (files(s"$st/appended"), files(s"$st/compacted"))
    assert(after < before,
      s"compaction did not reduce files: $before -> $after")
    assert(after <= 4, s"compacted layout wider than its 4-file target: $after")
  }

  test("tp5_stream_curate: the drained ingest gates equal the batch " +
    "restatement; the gate leg commits ZERO state and the dedup leg evicts") {
    val dir = "/root/testdata/sf0.001"
    StreamOps.clearStateLog()
    val streamed = graft.queries.TextOps.queries("tp5_stream_curate")(
      spark, dir).collect().map(_.toSeq).toSeq
    // Batch restatement of every ingest gate (the oracle's derivation in
    // DataFrame form: standing cancanonical-key membership, intra-epoch
    // first-arrival, exact gram contamination, Gopher, seed-41 split).
    import graft.ops.{Dedup, Sampling, TextAnalysis}
    import org.apache.spark.sql.expressions.Window
    val docs = graft.queries.table(spark, dir, "documents")
    val keyed = docs.select($"doc_id", $"lang",
      Dedup.canonBucket.as("bucket"),
      Dedup.canonFpOf(Dedup.canonToks).as("fp"))
    val standing = keyed
      .filter($"doc_id" % 5 =!= 0 && !$"fp".startsWith("solo:"))
      .select($"lang", $"bucket", $"fp").distinct()
      .withColumn("ex_standing", lit(true))
    val w = Window.partitionBy($"lang", $"bucket", $"fp",
      expr("doc_id DIV 60"))
    val g = Dedup.gramHashes(docs, 4).distinct()
    val contam = g.filter($"doc_id" % 11 =!= 0)
      .join(g.filter($"doc_id" % 11 === 0).select($"gh").distinct(), "gh")
      .select($"doc_id").distinct().withColumn("is_contam", lit(true))
    val sig = Sampling.hashSplit(TextAnalysis.curationSignals(docs),
        idCol = "doc_id")
      .select($"doc_id", $"keep".as("gopher_keep"), $"subset")
    val batch = keyed.filter($"doc_id" % 5 === 0)
      .withColumn("ep_keep", min($"doc_id").over(w))
      .join(standing, Seq("lang", "bucket", "fp"), "left")
      .join(contam, Seq("doc_id"), "left")
      .join(sig, Seq("doc_id"))
      .withColumn("reason",
        when(coalesce($"ex_standing", lit(false)) ||
            $"ep_keep" < $"doc_id", "exact_dup")
          .when($"is_contam".isNotNull, "contaminated")
          .when(!coalesce($"gopher_keep", lit(false)), "low_quality")
          .otherwise("keep"))
      .select($"doc_id", ($"reason" === "keep").as("keep"), $"reason",
        $"subset")
      .orderBy($"doc_id")
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty, "curation ingest drained nothing")
    assert(streamed == batch,
      s"stream/batch gate divergence:\n stream=${streamed.take(5)}…" +
        s"\n batch=${batch.take(5)}…")
    // every gate must actually fire at this SF or the equality is vacuous
    assert(streamed.map(_(2)).toSet ==
      Set("exact_dup", "contaminated", "low_quality", "keep"),
      s"gates not all exercised: ${streamed.map(_(2)).toSet}")
    val state = StreamOps.stateLogSnapshot
    val gate = state.collectFirst { case (k, v) if k.contains("tp5_gate") => v }
      .getOrElse(fail("no state log for the gate leg"))
    assert(gate.nonEmpty && gate.forall(_ == 0L),
      s"the stateless gate leg committed state rows: $gate")
    val dd = state.collectFirst { case (k, v) if k.contains("tp5_dedup") => v }
      .getOrElse(fail("no state log for the dedup leg"))
    // Eviction pin: the watermark advances only at micro-batch commits and
    // the staging is two coarse data files, so the in-test bound is "one
    // batch's arrivals + the previous batch's un-evicted 105-min tail" —
    // strictly less than the full key space — and the flush must drain
    // every real group (≤ the sentinel's own). The fine-grained horizon
    // evidence is the f30 StateProbe sequence (the round protocol).
    val nArr = docs.filter($"doc_id" % 5 === 0).count()
    assert(dd.nonEmpty && dd.max < nArr,
      s"dedup-leg state held all $nArr arriving keys — eviction not working: $dd")
    assert(dd.last <= 1,
      s"final watermark did not evict the dedup state: $dd")
  }

  test("file-source stream over the parquet events table drains correctly") {
    val dir = "/root/testdata/sf0.001"
    val batchDf = graft.queries.table(spark, dir, "events")
      .withColumn("ts", $"ts".cast("timestamp"))
    // Stage as µs-timestamp parquet (streaming file source can't take the
    // ns-typed original without the legacy conf set at scan build time).
    val staged = java.nio.file.Files.createTempDirectory("graft_evt").toString
    batchDf.write.mode("overwrite").parquet(staged)
    val stream = StreamOps.readEventStream(spark, staged)
    val agg = StreamOps.tumbling(stream, sizeMin = 60)
    val q = agg.writeStream.format("memory").queryName("file_out")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("file_out").agg(sum($"n")).first().getLong(0)
    assert(streamed == batchDf.count())
  }
}

/** Released by the leaked-leg test's finally; a module, so the blocking
  * UDF reaches it without capturing it in its closure. */
object StreamingSpecLatch {
  val release = new java.util.concurrent.CountDownLatch(1)
}
