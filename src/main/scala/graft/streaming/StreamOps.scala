package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Structured-Streaming surface (SURVEY.md §2.7). The reference is batch-only
  * (python pipeline.py, README.md:131-144); this lifts the same event-window
  * transformations over unbounded input so one codebase serves both: the
  * batch twins live in graft.ops.EventWindows and produce identical results
  * on a bounded input (that equivalence is what OpsStreamSpec asserts).
  *
  * Scale notes: watermarked window aggregates keep state bounded (old windows
  * evicted once the watermark passes); sessionization state is one small
  * struct per active (user) key, dropped on timeout. Both shuffle once on
  * their grouping key — same exchange shape as the batch plan.
  */
object StreamOps {

  /** Memory-sink tables created by drains since this log was last drained.
    * A memory sink holds the COMPLETE drained result in driver memory and
    * survives query termination until its temp view is dropped — harmless
    * in Verify (one process, bounded results) but real residue in a timed
    * bench fleet, where a dozen drained tables sit on the heap while later
    * queries are measured. graft.Bench drains this log and drops the views
    * between timed rows. */
  private val sinkLog = new scala.collection.mutable.ArrayBuffer[String]()
  private def logSink(name: String): Unit =
    sinkLog.synchronized { sinkLog += name }
  private[graft] def drainSinkLog(): Seq[String] =
    sinkLog.synchronized { val r = sinkLog.toList; sinkLog.clear(); r }

  /** Per-drain state-store row sequences (drain name → per-batch totals),
    * recorded by every drainToTable call — the observability hook the
    * scale audits read (graft.tools.StateProbe) to evidence state
    * boundedness at f30/f100 without changing any query's code path. */
  private val stateLog = new scala.collection.mutable.LinkedHashMap[String, Seq[Long]]()
  private[graft] def stateLogSnapshot: Map[String, Seq[Long]] =
    stateLog.synchronized { stateLog.toMap }
  private[graft] def clearStateLog(): Unit =
    stateLog.synchronized { stateLog.clear() }

  /** Tumbling event-time window aggregate over a stream, watermarked.
    * Identical result columns to EventWindows.tumbling once the stream is
    * drained (append mode emits a window when the watermark passes it) —
    * including `total`, which uses the same decimal-exact dsum so the value
    * is independent of partial-aggregation order. */
  def tumbling(events: DataFrame, sizeMin: Int,
               watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), s"$sizeMin minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), graft.queries.dsum(col("value")).as("total"))
      .select(col("window.start").as("win_start"), col("event_type"),
              col("n"), col("total"))

  /** Sliding-window twin of EventWindows.sliding. */
  def sliding(events: DataFrame, sizeMin: Int, slideMin: Int,
              watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), s"$sizeMin minutes", s"$slideMin minutes"),
               col("event_type"))
      .agg(count(lit(1)).as("n"), graft.queries.dsum(col("value")).as("total"))
      .select(col("window.start").as("win_start"), col("event_type"),
              col("n"), col("total"))

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                   event_type: String, value: Double)
  case class SessionState(sessionId: Long, startUs: Long, lastUs: Long,
                          n: Long)
  case class SessionOut(user_id: Long, session_id: Long, n_events: Long,
                        first_ts: Timestamp, last_ts: Timestamp, dur_us: Long)

  /** Streaming sessionization via flatMapGroupsWithState: emits a session
    * when the inactivity gap passes (processing-time timeout closes
    * stragglers; pass NoTimeout for bounded drains — e.g. AvailableNow —
    * where waiting wall-clock minutes for stragglers would never let the
    * query terminate). Batch twin: EventWindows.sessionize. */
  def sessionize(events: Dataset[Event], gapMin: Int,
                 timeout: GroupStateTimeout =
                   GroupStateTimeout.ProcessingTimeTimeout()): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapUs = gapMin.toLong * 60L * 1000000L
    val useTimeout = timeout != GroupStateTimeout.NoTimeout()

    // Full µs precision: getTime alone truncates to ms and would disagree
    // with the batch twin's unix_micros on sub-millisecond gaps.
    def us(t: Timestamp): Long =
      (t.getTime / 1000L) * 1000000L + t.getNanos / 1000L
    def ts(u: Long): Timestamp = {
      val out = new Timestamp(u / 1000000L * 1000L)
      out.setNanos(((u % 1000000L) * 1000L).toInt)
      out
    }

    events.groupByKey(_.user_id).flatMapGroupsWithState[SessionState, SessionOut](
      OutputMode.Append(), timeout) {
      case (userId, rows, state: GroupState[SessionState]) =>
        if (state.hasTimedOut) {
          val s = state.get
          state.remove()
          Iterator(SessionOut(userId, s.sessionId, s.n, ts(s.startUs),
            ts(s.lastUs), s.lastUs - s.startUs))
        } else {
          // Order within the micro-batch (arbitrary arrival order).
          val sorted = rows.toSeq.sortBy(e => (us(e.ts), e.event_id))
          var cur = state.getOption
          val closed = Seq.newBuilder[SessionOut]
          sorted.foreach { e =>
            val t = us(e.ts)
            cur match {
              case Some(s) if t - s.lastUs <= gapUs =>
                cur = Some(s.copy(lastUs = math.max(s.lastUs, t), n = s.n + 1))
              case Some(s) =>
                closed += SessionOut(userId, s.sessionId, s.n, ts(s.startUs),
                  ts(s.lastUs), s.lastUs - s.startUs)
                cur = Some(SessionState(s.sessionId + 1, t, t, 1))
              case None =>
                cur = Some(SessionState(1, t, t, 1))
            }
          }
          cur.foreach { s =>
            state.update(s)
            if (useTimeout) state.setTimeoutDuration(s"$gapMin minutes")
          }
          closed.result().iterator
        }
    }
  }

  /** Streaming sessionization in the EVICTION posture — the built-in
    * session_window aggregate under an event-time watermark, append mode:
    * a session's state row is EMITTED ONCE and EVICTED when the watermark
    * passes its end (last event + gap), so state is bounded by the users
    * active inside the (gap + watermark-delay) horizon — never by |users
    * with an open session ever|, which is what the flatMapGroupsWithState
    * NoTimeout drain ([[sessionize]]) snapshots per commit (measured
    * superlinear at the factor-100 corpus: decade exp 1.49). Deterministic
    * by construction: eviction is EVENT-time (a ProcessingTimeTimeout twin
    * would close sessions on wall-clock, which no oracle can reproduce).
    *
    * Gap boundary parity: the batch twin (EventWindows.sessionize) splits
    * on STRICT `diff > gapUs` — two events exactly gapUs apart share a
    * session — while session_window merges on STRICT `diff < gap`. The
    * +1 µs gap makes the merge condition `diff <= gapUs`, so the session
    * partition is identical to the batch twin's event for event.
    *
    * Emits (user_id, n_events, first_ts, last_ts, dur_us) per closed
    * session — no session_id: ordinals need the user's full history,
    * which is exactly what bounded state must NOT hold; the caller ranks
    * the drained (batch) result by first_ts (disjoint sessions make that
    * ordinal equal the batch twin's). */
  def sessionizeEvict(events: DataFrame, gapMin: Int,
                      watermark: String = "10 minutes"): DataFrame = {
    val gapUs = gapMin.toLong * 60L * 1000000L
    val tsUs = unix_micros(col("ts").cast("timestamp"))
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), s"${gapUs + 1} microseconds"),
               col("user_id"))
      .agg(count(lit(1)).as("n_events"),
           min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"),
           (max(tsUs) - min(tsUs)).as("dur_us"))
      .select(col("user_id"), col("n_events"), col("first_ts"),
              col("last_ts"), col("dur_us"))
  }

  /** readStream twin of queries.table for a parquet directory of events —
    * the file-source entry point a production deployment would start from. */
  def readEventStream(spark: SparkSession, dir: String,
                      schemaFrom: DataFrame,
                      maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(schemaFrom.schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .parquet(dir)

  /** Drain a streaming DataFrame into an in-memory table and return the
    * result (test/dev harness; production would writeStream to a sink).
    * Use "complete" mode for aggregates — "append" withholds every window
    * the final watermark has not passed, silently truncating the drain.
    *
    * `shufflePartitions`: every stateful operator keeps ONE state store per
    * shuffle partition, checkpointed per micro-batch — so a bounded drain
    * with small per-batch volumes pays (partitions × batches × stores) in
    * store maintenance regardless of data size. Stateful drains pass a
    * small value here; a real cluster sizes it to key cardinality instead.
    * The session conf is restored after the drain (streaming queries pin
    * their partition count at start, batch queries read it live). */
  def drainToTable(df: DataFrame, name: String, mode: String,
                   shufflePartitions: Option[Int] = None): DataFrame = {
    val (out, state) = drainToTableTracked(df, name, mode, shufflePartitions)
    stateLog.synchronized { stateLog(name) = state }
    out
  }

  /** Drain several INDEPENDENT streaming legs CONCURRENTLY into memory
    * tables (r16, guide §2.6: actions are sequential only because the
    * driver awaits them sequentially — a composed posture with two drains
    * over the same bounded source was paying the micro-batch engine's
    * fixed costs twice end-to-end; starting both and awaiting both
    * overlaps them, and each leg's result rows and per-batch state
    * sequence are untouched, because batch order is per-query).
    *
    * One shared `shufflePartitions` value is held for the WHOLE drain
    * (set before the first start, restored after the last termination):
    * a per-leg value would race the legs' micro-batch threads, which read
    * the session conf when they pin their state partitioning. Legs whose
    * plans are stateless/map-only are partition-count-independent; pick
    * the value the stateful leg needs. Per-leg state sequences land in
    * the same state log drainToTable feeds. */
  def drainToTablesConcurrent(legs: Seq[(DataFrame, String, String)],
                              shufflePartitions: Option[Int] = None)
      : Seq[DataFrame] = {
    val spark = legs.head._1.sparkSession
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    shufflePartitions.foreach(n =>
      spark.conf.set("spark.sql.shuffle.partitions", n.toString))
    val perBatch =
      new java.util.concurrent.ConcurrentHashMap[(java.util.UUID, Long), Long]()
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit =
        perBatch.put((e.progress.runId, e.progress.batchId),
          e.progress.stateOperators.map(_.numRowsTotal).sum)
      override def onQueryTerminated(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val shm = java.nio.file.Paths.get("/dev/shm")
    var ckpts: List[java.nio.file.Path] = Nil
    try {
      val started = legs.map { case (df, name, mode) =>
        var w = df.writeStream
          .format("memory")
          .queryName(name)
          .outputMode(mode)
          .trigger(Trigger.AvailableNow())
        if (java.nio.file.Files.isDirectory(shm) &&
            java.nio.file.Files.isWritable(shm)) {
          val p = java.nio.file.Files.createTempDirectory(shm, "graft_ckpt_")
          ckpts ::= p
          w = w.option("checkpointLocation", p.toString)
        }
        val q = w.start()
        logSink(name)
        (q, name)
      }
      started.foreach(_._1.awaitTermination())
      // listener events arrive on the async bus thread — wait (bounded)
      // until each query's terminal batch progress has been delivered
      import scala.jdk.CollectionConverters._
      for ((q, name) <- started) {
        val lastBatch = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
        val deadline = System.nanoTime + 10L * 1000 * 1000 * 1000
        while (lastBatch >= 0 && !perBatch.containsKey((q.runId, lastBatch)) &&
               System.nanoTime < deadline) Thread.sleep(10)
        val seq = perBatch.asScala.toSeq
          .collect { case ((rid, batch), n) if rid == q.runId => (batch, n) }
          .sortBy(_._1).map(_._2)
        stateLog.synchronized { stateLog(name) = seq }
      }
    } finally {
      spark.streams.removeListener(listener)
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      ckpts.foreach(deleteRecursively)
    }
    legs.map { case (_, name, _) => spark.table(name) }
  }

  /** drainToTable, additionally returning each committed micro-batch's
    * TOTAL state-store row count (sum over stateful operators, in commit
    * order) — the direct evidence for watermark-eviction claims: a
    * watermarked append-mode aggregate over time-ordered batches must show
    * this sequence staying bounded by the watermark horizon while the
    * emitted result keeps growing; complete-mode state instead tracks the
    * full key space. StreamingSpec pins both postures on it.
    *
    * Progress is collected through a StreamingQueryListener scoped to this
    * query's run id — NOT `q.recentProgress`, whose ring buffer is capped
    * by spark.sql.streaming.numRecentProgressUpdates (default 100) and
    * silently drops the EARLIEST batches of a longer drain, exactly the
    * rows an eviction-boundedness claim needs. Listener delivery is async;
    * the post-termination wait below syncs on the terminal batch id. */
  def drainToTableTracked(df: DataFrame, name: String, mode: String,
                          shufflePartitions: Option[Int] = None)
      : (DataFrame, Seq[Long]) = {
    val spark = df.sparkSession
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    shufflePartitions.foreach(n =>
      spark.conf.set("spark.sql.shuffle.partitions", n.toString))
    // A bounded drain into a MEMORY sink is ephemeral by contract — the
    // checkpoint's crash-recovery durability buys nothing, but its
    // per-micro-batch offset/commit/state fsync chatter is real (~0.4 s
    // per drain measured on the default disk-backed tmpdir). Put it on
    // tmpfs when the host has one; a production writeStream passes a
    // durable checkpointLocation instead (see drainUpsert).
    val shm = java.nio.file.Paths.get("/dev/shm")
    val ckpt =
      if (java.nio.file.Files.isDirectory(shm) &&
          java.nio.file.Files.isWritable(shm))
        Some(java.nio.file.Files.createTempDirectory(shm, "graft_ckpt_"))
      else None
    var stateRows: Seq[Long] = Nil
    try {
      stateRows = runTracked(spark) { () =>
        var w = df.writeStream
          .format("memory")
          .queryName(name)
          .outputMode(mode)
          .trigger(Trigger.AvailableNow())
        ckpt.foreach(p => w = w.option("checkpointLocation", p.toString))
        val q = w.start()
        logSink(name)
        q
      }
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      ckpt.foreach(root => deleteRecursively(root))
    }
    (df.sparkSession.table(name), stateRows)
  }

  private def deleteRecursively(root: java.nio.file.Path): Unit = {
    import scala.util.Using
    try Using.resource(java.nio.file.Files.walk(root)) { s =>
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.toSeq.reverse
        .foreach(p => try java.nio.file.Files.delete(p)
                      catch { case _: Throwable => () })
    } catch { case _: Throwable => () }
  }

  /** Start a streaming query via `start`, await termination, and return
    * the per-committed-micro-batch TOTAL state-store row counts (commit
    * order) — the listener machinery shared by every tracked drain.
    * Progress is buffered UNCONDITIONALLY, keyed by (runId, batchId), and
    * filtered to this query's runId only after termination: the listener
    * bus is async, so batch 0's progress can be delivered before start()
    * has even returned the query handle — a delivery-time filter against
    * a late-assigned runId would drop exactly the earliest batch's state
    * row, the one an eviction-boundedness claim needs. (`recentProgress`
    * is no substitute: its ring buffer caps at
    * spark.sql.streaming.numRecentProgressUpdates and silently drops the
    * EARLIEST batches of a long drain.) */
  private def runTracked(spark: SparkSession)
                        (start: () => StreamingQuery): Seq[Long] = {
    val perBatch =
      new java.util.concurrent.ConcurrentHashMap[(java.util.UUID, Long), Long]()
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit =
        perBatch.put((e.progress.runId, e.progress.batchId),
          e.progress.stateOperators.map(_.numRowsTotal).sum)
      override def onQueryTerminated(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      val q = start()
      q.awaitTermination()
      // listener events arrive on the async bus thread — wait (bounded)
      // until the terminal batch's progress has been delivered
      val lastBatch = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
      val deadline = System.nanoTime + 10L * 1000 * 1000 * 1000
      while (lastBatch >= 0 && !perBatch.containsKey((q.runId, lastBatch)) &&
             System.nanoTime < deadline) Thread.sleep(10)
      import scala.jdk.CollectionConverters._
      perBatch.asScala.toSeq
        .collect { case ((rid, batch), n) if rid == q.runId => (batch, n) }
        .sortBy(_._1).map(_._2)
    } finally spark.streams.removeListener(listener)
  }

  /** Drain a stream through the PARQUET FILE SINK in append mode with the
    * same state tracking as drainToTable — the drain for UNBOUNDED-output
    * postures: a memory sink holds every emitted row in driver memory,
    * which is itself an unbounded-state harness exactly where the
    * operator under test claims bounded state (the f100 eviction
    * sessionizer measured ~2× faster through the file sink). The target
    * and checkpoint are rebuilt per call — the drain IS the measured
    * operator. Returns the read-back result. */
  def drainToParquetTracked(df: DataFrame, path: String, name: String,
                            shufflePartitions: Option[Int] = None): DataFrame = {
    val spark = df.sparkSession
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    shufflePartitions.foreach(n =>
      spark.conf.set("spark.sql.shuffle.partitions", n.toString))
    val hconf = spark.sparkContext.hadoopConfiguration
    val tp = new org.apache.hadoop.fs.Path(path)
    val tfs = tp.getFileSystem(hconf)
    if (tfs.exists(tp)) tfs.delete(tp, true)
    val shm = java.nio.file.Paths.get("/dev/shm")
    val ckpt =
      if (java.nio.file.Files.isDirectory(shm) &&
          java.nio.file.Files.isWritable(shm))
        java.nio.file.Files.createTempDirectory(shm, "graft_ckpt_")
      else java.nio.file.Files.createTempDirectory("graft_ckpt_")
    try {
      val state = runTracked(spark) { () =>
        df.writeStream
          .format("parquet")
          .option("path", path)
          .option("checkpointLocation", ckpt.toString)
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()
      }
      stateLog.synchronized { stateLog(name) = state }
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      deleteRecursively(ckpt)
    }
    // the plain reader: file-sink output is read through _spark_metadata
    spark.read.parquet(path)
  }

  /** Drain a stream through the PARQUET FILE SINK in append mode — the
    * standing-store ingest shape (each micro-batch appends its own files;
    * exactly-once via the sink's _spark_metadata log). This is what a
    * production index ingest actually writes, and it accretes the small
    * files that make compaction (Similarity.compactIndex) a real
    * maintenance operator rather than a hypothetical. Checkpoint lives on
    * tmpfs when available (the drainToTable rationale); a production
    * caller passes a durable path. */
  def drainToParquet(df: DataFrame, path: String,
                     checkpoint: Option[String] = None): Unit = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val ckpt = checkpoint.getOrElse {
      if (java.nio.file.Files.isDirectory(shm) &&
          java.nio.file.Files.isWritable(shm))
        java.nio.file.Files.createTempDirectory(shm, "graft_ckpt_").toString
      else java.nio.file.Files.createTempDirectory("graft_ckpt_").toString
    }
    try {
      val q: StreamingQuery = df.writeStream
        .format("parquet")
        .option("path", path)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally {
      // a self-created checkpoint dies with the drain (the
      // drainToParquetTracked contract); a caller-passed one is the
      // caller's to keep — that's the durable-ingest path
      if (checkpoint.isEmpty)
        deleteRecursively(java.nio.file.Paths.get(ckpt))
    }
  }

  /** Drain a streaming aggregate in UPDATE mode through a per-micro-batch
    * keyed upsert into a parquet table — the shape an unbounded ingest
    * actually runs (complete mode rewrites the whole result every batch;
    * update emits only the keys the batch touched, and the downstream merge
    * keeps the store current). Each emitted row carries the aggregate's
    * CURRENT value for its key, so upserting batches in order leaves the
    * final table equal to the batch aggregation over the same input —
    * regardless of how the input was micro-batched.
    *
    * foreachBatch is bound via an explicit Scala function value: the
    * lambda-form overload is ambiguous against the Java VoidFunction2
    * variant under Scala 2.13. */
  def drainUpsert(df: DataFrame, path: String, checkpoint: String,
                  key: Seq[String],
                  shufflePartitions: Option[Int] = None): Unit = {
    val spark = df.sparkSession
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    shufflePartitions.foreach(n =>
      spark.conf.set("spark.sql.shuffle.partitions", n.toString))
    val merge: (Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (batch, _) => graft.etl.Staging.upsert(batch.toDF(), path, key)
    try {
      val q: StreamingQuery = df.writeStream
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(merge)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }
}
