package graft.streaming

import java.nio.file.{Path, Paths, Files => JFiles}
import java.sql.Timestamp

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent,
  QueryStartedEvent, QueryTerminatedEvent}

import graft.ops.EventWindows

/** Structured-Streaming surface (SURVEY.md §2.7). The reference is batch-only
  * (python pipeline.py, README.md:131-144); this lifts the same event-window
  * transformations over unbounded input so one codebase serves both: the
  * batch twins live in graft.ops.EventWindows and produce identical results
  * on a bounded input (that equivalence is what OpsStreamSpec asserts).
  *
  * Scale notes: watermarked window aggregates keep state bounded (old windows
  * evicted once the watermark passes); sessionization state is one small
  * struct per active (user) key. Both shuffle once on
  * their grouping key — same exchange shape as the batch plan.
  */
object StreamOps {

  /** Memory-sink tables created by drains since this log was last drained.
    * A memory sink holds the COMPLETE drained result in driver memory and
    * survives query termination until its temp view is dropped — residue
    * that piles up over a run of queries, a dozen drained tables on the
    * heap while later queries run. graft.HarnessSession.clearResidue (called by
    * Bench and Verify between queries) drains this log and drops the
    * views. */
  private val sinkLog = new scala.collection.mutable.ArrayBuffer[String]()
  private def logSink(name: String): Unit =
    sinkLog.synchronized { sinkLog += name }
  private[graft] def drainSinkLog(): Seq[String] =
    sinkLog.synchronized { val r = sinkLog.toList; sinkLog.clear(); r }

  /** Per-drain state-store row sequences (leg name → per-batch totals),
    * recorded for every leg of every [[drain]] — the observability hook the
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

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                   event_type: String, value: Double)
  case class SessionState(sessionId: Long, startUs: Long, lastUs: Long,
                          n: Long)
  case class SessionOut(user_id: Long, session_id: Long, n_events: Long,
                        first_ts: Timestamp, last_ts: Timestamp, dur_us: Long)

  /** Streaming sessionization via flatMapGroupsWithState: emits a session
    * when a later event of the same user passes the inactivity gap
    * (EventWindows.SessionGapMin). No state timeout: every caller drains a
    * bounded input (e.g. AvailableNow), where waiting wall-clock minutes
    * for stragglers would never let the query terminate, so sessions
    * still open at the end are not emitted. Batch twin:
    * EventWindows.sessionize. */
  def sessionize(events: Dataset[Event]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapUs = EventWindows.SessionGapMin.toLong * 60L * 1000000L

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
      OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
      case (userId, rows, state: GroupState[SessionState]) =>
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
        cur.foreach(state.update)
        closed.result().iterator
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
  def sessionizeEvict(events: DataFrame): DataFrame = {
    val gapUs = EventWindows.SessionGapMin.toLong * 60L * 1000000L
    val tsUs = unix_micros(col("ts").cast("timestamp"))
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), s"${gapUs + 1} microseconds"),
               col("user_id"))
      .agg(count(lit(1)).as("n_events"),
           min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"),
           (max(tsUs) - min(tsUs)).as("dur_us"))
      .select(col("user_id"), col("n_events"), col("first_ts"),
              col("last_ts"), col("dur_us"))
  }

  /** readStream twin of queries.readParquet: the parquet files at `path`
    * (a directory such as a graft.queries.StreamStage stage, or a glob of
    * files) as a file-source stream, `maxFilesPerTrigger` files per
    * micro-batch — the entry point a production deployment would start
    * from. The schema is the first data file's footer, read on the driver
    * through readParquet (which skips `_`-prefixed markers), so opening
    * the stream runs no Spark job. */
  def readEventStream(spark: SparkSession, path: String,
                      maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(graft.queries.readParquet(spark, path).schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .parquet(path)

  /** Where one drain leg's rows go. */
  sealed trait Sink
  /** Memory-sink table named after the leg; the drain returns
    * `spark.table(name)`. Aggregates drain in "complete" mode unless they
    * are watermarked: "append" withholds every window the final watermark
    * has not passed, silently truncating the drain. */
  final case class Memory(mode: String) extends Sink
  /** Parquet file sink in append mode, the drain for unbounded-output
    * postures and for standing-store ingest: a memory sink holds every
    * emitted row in driver memory, itself an unbounded-state harness
    * exactly where the operator under test claims bounded state (the f100
    * eviction sessionizer measured ~2× faster through the file sink), and
    * each micro-batch appending its own files is the small-file accretion
    * that makes compaction (Similarity.compactIndex) a real operator. The
    * drain returns the read-back through the sink's `_spark_metadata` log. */
  final case class Files(path: String) extends Sink
  /** Update-mode aggregate merged per micro-batch into the parquet table at
    * `path` by a keyed upsert (Staging.upsert): complete mode rewrites the
    * whole result every batch, update emits only the keys the batch
    * touched. Each emitted row carries its key's CURRENT value, so merging
    * batches in order leaves the table equal to the batch aggregation over
    * the same input, however the input was micro-batched. A `checkpoint`
    * the caller keeps is the exactly-once recovery contract: a later drain
    * over the same checkpoint and target resumes after the last committed
    * batch. The drain returns the target. */
  final case class Upsert(path: String, key: Seq[String],
                          checkpoint: Option[String] = None) extends Sink

  /** Drain bounded streams (Trigger.AvailableNow) into their sinks. The
    * legs, each `(df, name, sink)`, start together and are awaited
    * together: a driver that awaited them one after another would pay the
    * micro-batch engine's fixed costs once per leg end to end, while batch
    * order, and with it each leg's rows and state sequence, is per query.
    * Returns one frame per leg, in leg order.
    *
    * Tracked: `stateLog(name)` gets each committed micro-batch's TOTAL
    * state-store row count (sum over stateful operators, commit order),
    * the evidence for watermark-eviction claims (a watermarked append
    * aggregate keeps it bounded by the horizon while its output grows;
    * complete mode tracks the full key space). One StreamingQueryListener
    * buffers progress for every leg keyed by (runId, batchId) and filters
    * by runId only after termination: the listener bus is async, so batch
    * 0 can be delivered before start() returns the handle. Not
    * `recentProgress`: its ring buffer (numRecentProgressUpdates, default
    * 100) drops the EARLIEST batches of a long drain, exactly the rows an
    * eviction claim needs.
    *
    * `shufflePartitions`: every stateful operator keeps one state store
    * per shuffle partition, checkpointed per micro-batch, so a drain with
    * small batches pays (partitions × batches × stores) in store upkeep
    * whatever its data size; stateful drains pass a small value (a real
    * cluster sizes it to key cardinality). One value is held for the whole
    * drain, set before the first start and restored after the last leg
    * stops: a per-leg value would race the legs' micro-batch threads,
    * which read the session conf when they pin their state partitioning.
    * Stateless legs are partition-count-independent; pick the value the
    * stateful leg needs.
    *
    * Checkpoints: a bounded drain owns its checkpoint, on tmpfs when the
    * host has one (its durability buys nothing, its per-batch
    * offset/commit/state fsyncs cost ~0.4 s per drain on a disk-backed
    * tmpdir), deleted afterwards; a path sink's target is rebuilt first,
    * since a fresh checkpoint must never append onto an old target. Only
    * an Upsert `checkpoint` the caller passes is kept, with its target.
    * Every started leg is stopped before the conf is restored or any
    * checkpoint deleted, also when a leg fails to start or fails: a leg
    * still inside a micro-batch is cancelled (see [[stopLeg]]), not
    * waited out. */
  def drain(legs: Seq[(DataFrame, String, Sink)],
            shufflePartitions: Option[Int] = None): Seq[DataFrame] = {
    val spark = legs.head._1.sparkSession
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val perBatch =
      new java.util.concurrent.ConcurrentHashMap[(java.util.UUID, Long), Long]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        perBatch.put((e.progress.runId, e.progress.batchId),
          e.progress.stateOperators.map(_.numRowsTotal).sum)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    val owned = scala.collection.mutable.ArrayBuffer[Path]()
    def ownedCheckpoint(): String = {
      val shm = Paths.get("/dev/shm")
      owned += (
        if (JFiles.isDirectory(shm) && JFiles.isWritable(shm))
          JFiles.createTempDirectory(shm, "graft_ckpt_")
        else JFiles.createTempDirectory("graft_ckpt_"))
      owned.last.toString
    }
    val started = scala.collection.mutable.ArrayBuffer[StreamingQuery]()
    spark.streams.addListener(listener)
    try {
      shufflePartitions.foreach(n =>
        spark.conf.set("spark.sql.shuffle.partitions", n.toString))
      for ((df, name, sink) <- legs) {
        val ckpt = sink match {
          case Upsert(_, _, Some(kept)) => kept
          case Upsert(path, _, None) => rebuild(spark, path); ownedCheckpoint()
          case Files(path) => rebuild(spark, path); ownedCheckpoint()
          case Memory(_) => ownedCheckpoint()
        }
        val w = df.writeStream.queryName(name)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
        started += (sink match {
          case Memory(mode) =>
            val q = w.format("memory").outputMode(mode).start()
            logSink(name)
            q
          case Files(path) =>
            w.format("parquet").option("path", path).outputMode("append").start()
          case Upsert(path, key, _) =>
            // an explicit Scala function value: the lambda overload is
            // ambiguous against the Java VoidFunction2 one under 2.13
            val merge: (Dataset[Row], Long) => Unit =
              (batch, _) => graft.etl.Staging.upsert(batch.toDF(), path, key)
            w.outputMode("update").foreachBatch(merge).start()
        })
      }
      started.foreach(_.awaitTermination())
      import scala.jdk.CollectionConverters._
      for ((q, (_, name, _)) <- started.zip(legs)) {
        // bounded wait until the terminal batch's progress is delivered
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
      val prevStop = spark.conf.getOption(StopTimeout)
      spark.conf.set(StopTimeout, StopStepMs.toString)
      started.foreach(stopLeg(spark, _))
      prevStop match {
        case Some(v) => spark.conf.set(StopTimeout, v)
        case None => spark.conf.unset(StopTimeout)
      }
      spark.streams.removeListener(listener)
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      owned.foreach(deleteRecursively)
    }
    legs.map {
      case (_, name, Memory(_)) => spark.table(name)
      // the plain reader: file-sink output is read through _spark_metadata
      case (_, _, Files(path)) => spark.read.parquet(path)
      case (_, _, Upsert(path, _, _)) => graft.queries.readParquet(spark, path)
    }
  }

  private val StopTimeout = "spark.sql.streaming.stopTimeout"
  private val StopStepMs = 500L

  /** Stop one leg and wait until its stream thread has finished. `stop()`
    * cancels the leg's job group (its runId) once, interrupts the thread
    * and joins it: a batch job submitted after that cancel runs to its
    * end, and with the default stop timeout (0, no limit) the join waits
    * it out, the whole micro-batch. Under the drain's timeout the join
    * gives up after [[StopStepMs]], and the job group is cancelled again
    * every step until the query leaves the session's active set, the
    * thread's last act. (`awaitTermination` cannot tell: once `stop()`
    * has marked the query terminated it reports true while the thread
    * still runs.) */
  private def stopLeg(spark: SparkSession, q: StreamingQuery): Unit = {
    try q.stop() catch { case NonFatal(_) => () }
    while (spark.streams.get(q.id) != null) {
      spark.sparkContext.cancelJobGroup(q.runId.toString)
      try q.awaitTermination(StopStepMs) catch { case NonFatal(_) => () }
    }
  }

  private def rebuild(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  private def deleteRecursively(root: Path): Unit = {
    import scala.util.Using
    try Using.resource(JFiles.walk(root)) { s =>
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.toSeq.reverse
        .foreach(p => try JFiles.delete(p) catch { case _: Throwable => () })
    } catch { case _: Throwable => () }
  }
}
