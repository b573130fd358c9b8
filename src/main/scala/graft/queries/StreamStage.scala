package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Every bounded, replayable micro-batch stream the streaming queries
  * drain, staged once per SF under `tmpStage(dir, name)` and reopened from
  * there with no Spark job. A stage is a parquet directory that
  * `StreamOps.readEventStream` opens (schema from a footer, one file per
  * micro-batch). Two layouts:
  *
  *  - [[Coalesced]]: the rows coalesced to at most 4 files, one
  *    micro-batch each, replayed in part-index order (their mtimes are
  *    set base, +2 s, … by part index, as the timed layout does; left at
  *    write-task completion, the replay order changed from build to
  *    build). The count is capped: each micro-batch pays a state commit
  *    (and, in complete mode, a full result rewrite), so 32 files would
  *    pay 8× the per-batch machinery for no coverage, and the scan's
  *    native layout would make the batch count an accident of the
  *    upstream file count (~32 at the 30× corpus). Documents and
  *    embeddings scan rebalanced to the core count, so they stage as 4
  *    files; the events table is one file with one row group, so its
  *    stage splits the rows into the four quarters of their time range.
  *  - [[Timed]]: three single-file batches `b0`, `b1`, `b2` with strictly
  *    increasing modification times. Spark's file stream source orders
  *    files by (mtime, path), so it replays them in order and state
  *    genuinely carries across micro-batches — the arrival shape a
  *    watermarked ingest assumes. `b0`/`b1` split the rows at the midpoint
  *    of the split key's range (`b0` ≤ cut < `b1`); `b2` holds the flush
  *    rows, which push the final watermark past every real window (or
  *    close every open session) so a bounded append drain emits its tail.
  *    A `_STAGED` marker, written last, says the stage is complete.
  */
object StreamStage {

  sealed trait Stage {
    def name: String
    /** Build the stage unless it is already built; returns its directory.
      * A built stage reopens without a Spark job. */
    def apply(s: SparkSession, dir: String): String
  }

  /** `rows` staged as at most [[CoalescedFiles]] parquet files. */
  final class Coalesced(val name: String)(
      val rows: (SparkSession, String) => DataFrame) extends Stage {
    def apply(s: SparkSession, dir: String): String = {
      val staged = tmpStage(dir, name)
      ensureStaged(staged, "_SUCCESS") {
        rows(s, dir).coalesce(CoalescedFiles).write.mode("overwrite").parquet(staged)
        val parts = new java.io.File(staged).listFiles()
          .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
        val base = System.currentTimeMillis() / 1000L
        for ((f, i) <- parts.zipWithIndex)
          java.nio.file.Files.setLastModifiedTime(f.toPath,
            java.nio.file.attribute.FileTime.fromMillis((base + 2L * i) * 1000L))
      }
      staged
    }
  }

  /** `declare` gives the rows and, from the split key's (min, max) row,
    * the flush rows. */
  final class Timed(val name: String, val key: String)(
      val declare: (SparkSession, String) => (DataFrame, Row => DataFrame))
      extends Stage {
    def apply(s: SparkSession, dir: String): String = {
      val staged = tmpStage(dir, name)
      ensureStaged(staged, Marker) {
        val (rows, flush) = declare(s, dir)
        val range = rows.agg(min(col(key)), max(col(key))).first()
        val at = cut(range)
        val base = System.currentTimeMillis() / 1000L
        writeMicroBatchFile(rows.filter(col(key) <= lit(at)), staged, "b0", base)
        writeMicroBatchFile(rows.filter(col(key) > lit(at)), staged, "b1", base + 2)
        writeMicroBatchFile(flush(range), staged, "b2", base + 4)
        java.nio.file.Files.createFile(java.nio.file.Paths.get(s"$staged/$Marker"))
      }
      staged
    }
  }

  /** The most data files a coalesced stage holds. */
  val CoalescedFiles = 4
  private val Marker = "_STAGED"

  /** The midpoint of a (min, max) split-key row: b0 takes the keys ≤ it. A
    * timestamp key is cut at whole milliseconds. */
  private[graft] def cut(range: Row): Any = (range.get(0), range.get(1)) match {
    case (lo: java.sql.Timestamp, hi: java.sql.Timestamp) =>
      new java.sql.Timestamp((lo.getTime + hi.getTime) / 2)
    case (lo: Long, hi: Long) => (lo + hi) / 2
  }

  /** A timed stage's data batches without its flush batch. */
  def dataBatches(staged: String): String = s"$staged/b[01].parquet"

  // The harness tables carry no ingest time: documents and embeddings get
  // a deterministic synthetic ingest clock, one row per minute of their id
  // from 2020-01-01T00:00:00Z (1577836800 s, divisible by 3600, so epoch
  // windows align to whole hours), an hours-long arrival span over which
  // 60-minute epochs genuinely open and close. Their flush sentinel
  // arrives 2 h past the last real arrival, so the final watermark passes
  // every real window.
  private def ingestClock(id: String) =
    expr(s"timestamp_micros(1577836800000000 + $id * 60000000)").as("ingest_ts")
  private def flushClock(maxId: Long) =
    expr(s"timestamp_micros(${1577836800000000L + maxId * 60000000L + 7200000000L}L)")
      .as("ingest_ts")

  private def events(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "events").withColumn("ts", col("ts").cast("timestamp"))

  private def sessionEvents(s: SparkSession, dir: String): DataFrame =
    events(s, dir).select(col("event_id"), col("ts"), col("user_id"),
      col("event_type"), col("value"))

  /** A flush event for `user` 1 h past the last real event, event_type
    * "__flush" / event_id −1 so every consumer can exclude it. */
  private def flushEvent(range: Row, user: Column): Seq[Column] = Seq(
    lit(-1L).as("event_id"),
    lit(new java.sql.Timestamp(range.getTimestamp(1).getTime + 3600L * 1000L))
      .as("ts"),
    user.as("user_id"), lit("__flush").as("event_type"), lit(0.0).as("value"))

  /** Documents for the streaming dedup drains (dd_stream_dedup, neardup,
    * decontaminate, upsert) and the phash gate. */
  val docStream = new Coalesced("docstream")((s, dir) =>
    table(s, dir, "documents").select(col("doc_id"), col("text")))

  /** Events for every complete-mode event-stream drain, µs timestamps, as
    * four files holding the four equal quarters of the time range in
    * order, so each drain merges state across micro-batches. The split
    * costs one min/max job; a sampled range repartition would move its
    * bounds from build to build. */
  val eventStream = new Coalesced("evstream4")((s, dir) => {
    val ev = events(s, dir)
    val us = unix_micros(col("ts"))
    val range = ev.agg(min(us), max(us)).first()
    val (lo, hi) = (range.getLong(0), range.getLong(1))
    val quarter = ((us - lit(lo)) * CoalescedFiles / lit(hi - lo + 1)).cast("int")
    val keyed = ev.withColumn("__part", quarter)
    val at = keyed.schema.fieldIndex("__part")
    // partition i holds exactly the rows of quarter i: HashPartitioner
    // sends an Int key k in [0, n) to partition k
    val split = keyed.rdd.keyBy(_.getInt(at))
      .partitionBy(new org.apache.spark.HashPartitioner(CoalescedFiles)).values
    s.createDataFrame(split, keyed.schema).drop("__part")
  })

  /** Embeddings for the streaming ANN and index ingests. */
  val embStream = new Coalesced("embstream")((s, dir) =>
    table(s, dir, "embeddings"))

  /** Events split at the middle of their time range, for the stateful
    * event drains (sessionize, append eviction, attribution). The flush
    * batch is one sentinel per user: it closes every user's open session
    * (the flatMapGroupsWithState NoTimeout posture emits only closed
    * sessions) and pushes the watermark past the last real window, while
    * the sentinels' own sessions and windows stay open and are never
    * emitted. */
  val eventBatches = new Timed("evsess", "ts")((s, dir) => {
    val ev = sessionEvents(s, dir)
    (ev, range => ev.select(col("user_id")).distinct()
      .select(flushEvent(range, col("user_id")): _*))
  })

  /** The same two time-halves for the WATERMARKED sessionizer, but the
    * flush batch is ONE global sentinel row (user_id −1), not one per user.
    * A watermarked session_window aggregate needs only the event-time
    * watermark advanced past every real session's end — per-user closes
    * are the flatMapGroupsWithState NoTimeout posture's requirement — and
    * a per-user flush would leave |users| open sentinel sessions in the
    * final state, destroying exactly the boundedness evidence the eviction
    * posture exists to produce (one sentinel ⇒ final state ≤ 1 beyond the
    * horizon stragglers). */
  val eventBatchesOneFlush = new Timed("evsessw", "ts")((s, dir) =>
    (sessionEvents(s, dir),
      range => s.range(1).select(flushEvent(range, lit(-1L)): _*)))

  /** Documents on the ingest clock for the watermark-eviction dedup drain
    * (dd_stream_dedup_evict), split at the id midpoint. */
  val docBatches = new Timed("docevict", "doc_id")((s, dir) => {
    val d = table(s, dir, "documents")
      .select(col("doc_id"), col("text"), ingestClock("doc_id"))
    (d, range => s.range(1).select(lit(-1L).as("doc_id"),
      lit("__flush__").as("text"), flushClock(range.getLong(1))))
  })

  /** Arriving documents for the curation-ingest gate (tp5_stream_curate):
    * the doc_id % 5 == 0 slice (the dd_incremental_lsh batch rule) on the
    * ingest clock. `lang` rides along: the canonical exact-dup key needs
    * it. The sentinel's doc_id is −5 ≡ 0 (mod 5), so a pushed-down arrival
    * filter could never drop it below the watermark node. */
  val curateBatches = new Timed("curatestream", "doc_id")((s, dir) => {
    val d = table(s, dir, "documents")
      .filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("text"), col("lang"), ingestClock("doc_id"))
    (d, range => s.range(1).select(lit(-5L).as("doc_id"),
      lit("__flush__").as("text"), lit(null).cast("string").as("lang"),
      flushClock(range.getLong(1))))
  })

  /** Embeddings on the ingest clock for the watermarked ANN serving stream
    * (sim_stream_ann_evict), split at the id midpoint.
    *
    * The sentinel carries vec_id = −queryStride and the first corpus
    * vector's (real) embedding: the consumer's stride filter is pushed
    * BELOW the EventTimeWatermark node by PushDownPredicates (it does not
    * reference the event-time column), so a sentinel that failed the
    * filter would never reach the watermark exec and the final epochs
    * would stay unemitted — measured as the last 75 minutes of queries
    * missing from the drain. −stride ≡ 0 (mod stride) survives any
    * pushed-down stride filter; the sentinel's own window is structurally
    * never emitted (the watermark stops 45 min short of the maximum event
    * time, which is the sentinel itself), and consumers defensively drop
    * q_id < 0. */
  val embBatches = new Timed("embevict", "vec_id")((s, dir) => {
    val stride =
      graft.ops.Similarity.queryStride(tableRows(s, dir, "embeddings"))
    val e = table(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), col("label"),
        ingestClock("vec_id"))
    (e, range => e.filter(col("vec_id") === range.getLong(0))
      .select(lit(-stride).as("vec_id"), col("embedding"),
        lit(null).cast("int").as("label"), flushClock(range.getLong(1))))
  })

  val all: Seq[Stage] = Seq(docStream, eventStream, embStream, eventBatches,
    eventBatchesOneFlush, docBatches, curateBatches, embBatches)

  /** Write `df` as ONE parquet file `<staged>/<name>.parquet` with an
    * explicit modification time, the [[Timed]] layout's batch file. */
  private[graft] def writeMicroBatchFile(df: DataFrame, staged: String,
                                         name: String, mtimeSec: Long): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import scala.util.Using
    val tmp = s"$staged/_tmp_$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    // Files.list/walk return OPEN directory streams — close them, or
    // each staging leaks descriptors for the life of the JVM
    val part = Using.resource(Files.list(Paths.get(tmp)))(
      _.filter(p => p.getFileName.toString.endsWith(".parquet"))
        .findFirst().get())
    val dest = Paths.get(s"$staged/$name.parquet")
    Files.move(part, dest, StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(dest,
      java.nio.file.attribute.FileTime.fromMillis(mtimeSec * 1000L))
    Using.resource(Files.walk(Paths.get(tmp)))(
      _.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p)))
  }
}
