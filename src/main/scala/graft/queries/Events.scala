package graft.queries

import graft.ops.EventWindows

/** Event-time window queries (SURVEY.md §2.7) over the events table.
  * Oracles express Spark's epoch-aligned windows as explicit epoch-floor
  * arithmetic (unambiguous — no reliance on DuckDB time_bucket origins).
  */
object Events extends QueryPack {

  val queries: Map[String, QFn] = Map(
    "ev_tumbling_window" -> ((s, dir) =>
      EventWindows.tumbling(table(s, dir, "events"), sizeMin = 15)),

    "ev_sliding_window" -> ((s, dir) =>
      EventWindows.sliding(table(s, dir, "events"))),

    "ev_sessionize" -> ((s, dir) =>
      EventWindows.sessionize(table(s, dir, "events"))),

    // Distinct-user sketch: the judged artifact is the exact integer
    // (bucket, max_rho) table — the mergeable HLL form; the float estimate
    // is judged only in ev_hll_error (Sketch.hllErrorAudit).
    "ev_hll_sketch" -> ((s, dir) =>
      graft.ops.Sketch.hllSketch(table(s, dir, "events"),
        org.apache.spark.sql.functions.col("user_id"))),

    // The SAME tumbling aggregate, but through the live Structured
    // Streaming path: events staged as a µs-timestamp parquet directory,
    // consumed by readStream (file source, one file per micro-batch),
    // watermarked, drained with Trigger.AvailableNow into a memory sink.
    // Oracle-identical to ev_tumbling_window — proving the watermark path,
    // not just the batch twin, computes the same windows.
    "ev_stream_tumbling" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import graft.streaming.StreamOps
      val sf = dir.replaceAll("[^A-Za-z0-9.]", "_")
      val stream = StreamOps.readEventStream(s, StreamStage.eventStream(s, dir))
      val drained = StreamOps.drain(Seq((
        StreamOps.tumbling(stream, sizeMin = 15),
        s"ev_stream_tumbling$sf".replace(".", "_"),
        StreamOps.Memory("complete"))),
        // |event_type| keys per window — 8 state stores are plenty
        shufflePartitions = Some(8)).head
      drained
        .withColumn("win_start", col("win_start").cast("timestamp_ntz"))
        .orderBy(col("win_start"), col("event_type"))
    }),

    // The APPEND-MODE posture of the same tumbling aggregate — the one an
    // unbounded 100 TB ingest actually runs: complete mode re-emits the
    // whole result and holds EVERY window's state forever, append emits
    // each window exactly once when the watermark passes it and then
    // EVICTS its state. Judged end to end over the time-ordered
    // micro-batch staging (b0 first half, b1 second half, b2 flush
    // sentinels 1 h past the corpus — mtime-ordered so the file source
    // replays them in order, the arrival shape a watermark assumes): the
    // 10-min watermark trails each batch's max event time, so every
    // closed window is emitted before its state is dropped, no real event
    // is ever late, and the flush batch pushes the final watermark past
    // the last real window (an append drain without it silently withholds
    // the tail — the StreamOps.Memory docstring's warning, handled rather
    // than avoided). The flush rows' own window is never passed by the
    // watermark, so they are structurally absent from the output; the
    // event_type filter is defensive documentation. Result must be
    // IDENTICAL to the complete-mode drain and the batch twin.
    // StreamingSpec pins the eviction itself: per-batch state-store row
    // counts stay bounded by the watermark horizon while emitted rows
    // grow with the corpus.
    "ev_stream_append_eviction" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import graft.streaming.StreamOps
      val sf = dir.replaceAll("[^A-Za-z0-9.]", "_")
      val stream = StreamOps.readEventStream(s, StreamStage.eventBatches(s, dir))
      val drained = StreamOps.drain(Seq((
        StreamOps.tumbling(stream, sizeMin = 15, watermark = "10 minutes"),
        s"ev_stream_append$sf".replace(".", "_"), StreamOps.Memory("append"))),
        shufflePartitions = Some(8)).head
      drained
        .filter(col("event_type") =!= "__flush")
        .withColumn("win_start", col("win_start").cast("timestamp_ntz"))
        .orderBy(col("win_start"), col("event_type"))
    }),

    // Stateful streaming sessionization, judged END TO END: the
    // flatMapGroupsWithState path (custom per-key state, not a windowed
    // aggregate) drains the same events as ev_sessionize and must produce
    // the identical session table. Events stage as THREE time-ordered
    // single-file micro-batches (first half, second half, per-user flush
    // sentinels past the gap) with strictly increasing modification times,
    // so the file source replays them in order and session state genuinely
    // carries ACROSS micro-batches; the flush batch closes every open
    // session (append mode emits only closed sessions), and the flush
    // sessions themselves stay open at drain end, so they are never
    // emitted and need no filter.
    "ev_stream_sessionize" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import graft.streaming.StreamOps
      val sf = dir.replaceAll("[^A-Za-z0-9.]", "_")
      val staged = StreamStage.eventBatches(s, dir)
      import s.implicits._
      val stream = StreamOps.readEventStream(s, staged)
      val out = StreamOps.sessionize(stream.as[StreamOps.Event])
      // Drain parallelism sized from the input (parquet row-count
      // metadata, no scan): the typed flatMapGroupsWithState path is
      // JVM-object work per event, so at corpus scale the drain wants the
      // full core count, while a small drain keeps few partitions so the
      // per-batch state-store maintenance (one store per partition per
      // batch) doesn't dominate — the f100 audit measured the pinned-8
      // drain at decade exp 1.61 (8-way queueing, not the operator);
      // results are partition-count-invariant (sessions are per-user).
      val parts = if (parquetRows(s, staged) > 2000000L) 32 else 8
      val drained = StreamOps.drain(Seq((out.toDF(),
        s"ev_stream_sess$sf".replace(".", "_"), StreamOps.Memory("append"))),
        shufflePartitions = Some(parts)).head
      drained
        .select(col("user_id"), col("session_id"), col("n_events"),
          col("first_ts").cast("timestamp_ntz").as("first_ts"),
          col("last_ts").cast("timestamp_ntz").as("last_ts"),
          col("dur_us"))
        .orderBy(col("user_id"), col("session_id"))
    }),

    // The EVICTION posture of sessionization — the one an unbounded
    // event stream actually runs: the built-in session_window aggregate
    // under a 10-min event-time watermark in append mode, so each session
    // is emitted exactly once when the watermark passes its end and its
    // state row is EVICTED. State is bounded by the (gap + delay) horizon
    // — users active in the trailing 40 minutes — never by |users with an
    // open session| (the NoTimeout drain above snapshots all of those per
    // commit; the f100 audit measured that posture at decade exp 1.49,
    // the only superlinear streaming row of round 14). Cross-batch merge
    // safety is structural: any b0 session a b1 event could extend has
    // last_ts within gap of the batch boundary, which is inside the
    // watermark+gap eviction threshold, so it is still in state when the
    // merging event arrives. The single global flush sentinel (user −1)
    // advances the final watermark past every real session's end; its own
    // session is never emitted (the watermark stops 10 min short of it)
    // and is defensively excluded. session_id is ranked AFTER the drain —
    // per-user ordinals need full history, which bounded state must not
    // hold; sessions are time-disjoint per user, so first_ts rank equals
    // the batch ordinal. Result must be IDENTICAL to ev_sessionize and
    // the NoTimeout drain (shared oracle); StreamingSpec pins the
    // eviction itself (per-batch state bounded, final state ≤ sentinel).
    "ev_stream_sessionize_evict" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      import graft.streaming.StreamOps
      val sf = dir.replaceAll("[^A-Za-z0-9.]", "_")
      val staged = StreamStage.eventBatchesOneFlush(s, dir)
      val stream = StreamOps.readEventStream(s, staged)
      val out = StreamOps.sessionizeEvict(stream)
      val parts = if (parquetRows(s, staged) > 2000000L) 32 else 8
      // PARQUET-sink drain: the eviction posture's whole point is bounded
      // state against unbounded output — a memory sink would accumulate
      // every emitted session in driver memory (at the factor-100 corpus,
      // ~9.5M rows: the sink, not the operator, dominated the first cut's
      // wall time). Same state tracking; target rebuilt per call (the
      // drain is the measured operator).
      val drained = StreamOps.drain(Seq((out,
        s"ev_stream_sessw$sf".replace(".", "_"),
        StreamOps.Files(tmpStage(dir, "evsessw_out")))),
        shufflePartitions = Some(parts)).head
      val w = Window.partitionBy(col("user_id")).orderBy(col("first_ts"))
      drained
        .filter(col("user_id") >= 0)
        .withColumn("session_id", row_number().over(w).cast("long"))
        .select(col("user_id"), col("session_id"), col("n_events"),
          col("first_ts").cast("timestamp_ntz").as("first_ts"),
          col("last_ts").cast("timestamp_ntz").as("last_ts"),
          col("dur_us"))
        .orderBy(col("user_id"), col("session_id"))
    }),

    // Grouped HLL: one mergeable distinct-user sketch per event type — the
    // per-source/per-day shape a 100 TB pipeline stores.
    "ev_hll_by_type" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      graft.ops.Sketch.hllSketchBy(table(s, dir, "events"),
        Seq(col("event_type")), col("user_id"))
    }),

    // The CMS merge LAW, judged — the additive sibling of ev_hll_merge:
    // Spark sketches the two user_id-parity shards separately and SUMS
    // their cell tables; the oracle computes the one-shard sketch
    // directly. Additive cells are why per-day / per-executor CMS tables
    // roll up into exact corpus totals.
    "ev_cms_merge" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      table(s, dir, "events")
        .select((col("user_id") % 2).cast("int").as("shard"),
          explode(graft.ops.Sketch.cmsCells(col("event_type")))
            .as("cell"))
        .select(col("shard"), col("cell.row").as("row"),
          col("cell.bucket").as("bucket"))
        .groupBy(col("shard"), col("row"), col("bucket"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("row"), col("bucket"))
        .agg(sum(col("cnt")).as("cnt"))
        .orderBy(col("row"), col("bucket"))
    }),

    // The HLL merge LAW, judged: Spark merges the per-type sketches
    // (max over cells, counts additive) while the oracle computes the
    // global sketch DIRECTLY from the raw stream — the hash match proves
    // merged == direct, which is the entire reason sketches work across
    // 1000 executors / daily partitions at 100 TB.
    "ev_hll_merge" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      graft.ops.Sketch.hllSketchBy(table(s, dir, "events"),
          Seq(col("event_type")), col("user_id"))
        .groupBy(col("bucket"))
        .agg(max(col("max_rho")).as("max_rho"),
          sum(col("n_items")).as("n_items"))
        .orderBy(col("bucket"))
    }),

    // Count-Min frequency sketch over event types: the judged artifact is
    // the exact integer (row, bucket, cnt) cell table — the mergeable form.
    "ev_cms_sketch" -> ((s, dir) =>
      graft.ops.Sketch.cmsSketch(table(s, dir, "events"),
        org.apache.spark.sql.functions.col("event_type"))),

    // Fixed-bin histogram over event values: the mergeable quantile/
    // distribution sketch; judged artifact is the exact (bin, cnt) table,
    // quantile estimates are st3_hist_quantile (Sketch.histogramQuantiles).
    "ev_histogram" -> ((s, dir) =>
      graft.ops.Sketch.histogram(table(s, dir, "events"),
        org.apache.spark.sql.functions.col("value"), width = 0.5)),

    // Interval join: views inside each purchase's 30-minute attribution
    // window, via the bucketized equi-join (no per-key nested loop).
    "rj1_range_join" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val ev = table(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          (col("ts") - expr("INTERVAL 30 MINUTES")).as("start_ts"),
          col("ts").as("end_ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"),
          col("ts").as("view_ts"))
      val matched = graft.ops.RangeJoin.pointsInRanges(views, purchases,
        key = Seq("user_id"), pointTime = "view_ts",
        startCol = "start_ts", endCol = "end_ts", bucketWidthSec = 1800)
      val counts = matched.groupBy(col("purchase_id"))
        .agg(count(lit(1)).as("n_views"))
      purchases.join(counts, Seq("purchase_id"), "left")
        .select(col("purchase_id"), col("user_id"), col("end_ts").as("ts"),
          coalesce(col("n_views"), lit(0L)).as("n_views"))
        .orderBy(col("purchase_id"))
    }),

    // Interval-overlap self-join: same-part shipments from DIFFERENT
    // suppliers whose transit windows intersect — the concurrency census
    // completing the temporal-join shape family (as-of, containment,
    // overlap). Transit windows are derived deterministically (ship day +
    // 1..14 days keyed off orderkey+linenumber: the schema carries no
    // receipt date). Bucketized equi-join, each pair counted once in
    // max(start)'s bucket — no distinct pass, no per-key nested loop.
    "rj2_overlap_join" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val li = table(s, dir, "lineitem")
        .select(col("l_partkey"),
          (col("l_orderkey") * 10 + col("l_linenumber")).as("ship_id"),
          col("l_suppkey"),
          datediff(col("l_shipdate").cast("date"),
            lit("1970-01-01").cast("date")).cast("long").as("d0"),
          ((col("l_orderkey") + col("l_linenumber")) % 14 + 1).as("transit"))
        .select(col("l_partkey"), col("ship_id"), col("l_suppkey"),
          col("d0"), (col("d0") + col("transit")).as("d1"))
      val pairs = graft.ops.RangeJoin.intervalOverlapPairs(li,
        key = Seq("l_partkey"), idCol = "ship_id",
        startCol = "d0", endCol = "d1", bucketWidth = 16L,
        excludeEqual = Some("l_suppkey"))
      pairs.groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("overlap") + 1).as("sum_overlap_days"),
          max(col("overlap") + 1).as("max_overlap_days"))
        .orderBy(col("l_partkey"))
    }),

    // As-of join: every purchase matched to the user's most recent click at
    // or before it (last-touch attribution) — the union-and-carry
    // formulation, one shuffle, no range-join blow-up.
    "aj1_asof" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val ev = table(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
      graft.ops.AsOf.backward(purchases, clicks, by = Seq("user_id"),
        leftTime = "ts", rightTime = "ts", rightSeq = "event_id",
        rightCols = Seq("ts", "event_id"), prefix = "click_")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("click_ts"), col("click_event_id"))
        .orderBy(col("event_id"))
    }),
    // Nearest-in-time either direction (ties resolve backward): the fourth
    // merge_asof direction — one shuffle, both directional carries as two
    // windows over the same keyed union.
    "aj5_asof_nearest" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val ev = table(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
      graft.ops.AsOf.nearest(purchases, clicks, by = Seq("user_id"),
        leftTime = "ts", rightTime = "ts", rightSeq = "event_id",
        rightCols = Seq("ts", "event_id"), prefix = "click_")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("click_ts"), col("click_event_id"),
          col("click_direction"), col("click_delta_us"))
        .orderBy(col("event_id"))
    }),
    // The estimator error audit: exact distinct users per type vs the
    // distributed HLL estimate — the float estimator itself judged
    // cross-engine (integer harmonic denominator, one IEEE division).
    "ev_hll_error" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      graft.ops.Sketch.hllErrorAudit(table(s, dir, "events"),
        "event_type", col("user_id"))
    }),
    // CMS frequency-estimate audit: exact per-type counts vs the min-cell
    // estimate — all integers, overcount >= 0 is a structural self-check.
    "ev_cms_error" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      graft.ops.Sketch.cmsErrorAudit(table(s, dir, "events"),
        col("event_type"))
    }),

    // Watermarked STREAM-STREAM interval self-join, judged end to end: the
    // views and purchases of the same event stream join on user within the
    // purchase's 30-minute attribution window. Both sides carry a 1-hour
    // watermark and the range condition bounds the join state, so Spark
    // evicts rows the watermark proves can no longer match — the bounded-
    // state shape a 100 TB stream needs (an unconstrained stream join
    // would buffer forever). The staged batches are time-ordered halves,
    // so eviction genuinely happens between micro-batches; the drained
    // pair set must equal the batch interval join exactly.
    "ev_stream_attribution" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import graft.streaming.StreamOps
      val sf = dir.replaceAll("[^A-Za-z0-9.]", "_")
      val staged = StreamStage.eventBatches(s, dir)
      // ONE streaming source feeds both join sides: the two filter
      // branches share the file source's listing and offset tracking, so
      // each micro-batch plans and advances one source, not two.
      // b2 is the sessionize flush batch - every one of its rows is
      // filtered out below, but the file would still cost a micro-batch
      // of planning; read the two real-data batches only.
      val ev = StreamOps.readEventStream(s, StreamStage.dataBatches(staged))
      val purchases = ev
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user"), col("ts").as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      val views = ev
        .filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"),
          col("user_id").as("v_user"), col("ts").as("v_ts"))
        .withWatermark("v_ts", "1 hour")
      val joined = purchases.join(views,
        expr("p_user = v_user AND " +
          "v_ts BETWEEN p_ts - INTERVAL 30 MINUTES AND p_ts"))
        .select(col("purchase_id"), col("view_id"))
      // 4 shuffle partitions: a stream-stream join keeps FOUR state
      // stores per partition, committed per micro-batch - halving the
      // partition count halves that fixed maintenance with key
      // cardinality far below either setting.
      val drained = StreamOps.drain(Seq((joined,
        s"ev_stream_attr$sf".replace(".", "_"), StreamOps.Memory("append"))),
        shufflePartitions = Some(4)).head
      drained.orderBy(col("purchase_id"), col("view_id"))
    }),

    // Forward as-of: every purchase matched to the user's EARLIEST click at
    // or after it ("next touch") — the direction twin of aj1, same
    // union-and-carry shape with the running window reversed.
    "aj2_asof_forward" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val ev = table(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
      graft.ops.AsOf.forward(purchases, clicks, by = Seq("user_id"),
        leftTime = "ts", rightTime = "ts", rightSeq = "event_id",
        rightCols = Seq("ts", "event_id"), prefix = "next_")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("next_ts"), col("next_event_id"))
        .orderBy(col("event_id"))
    }),

    // Ordered conversion funnel: view -> click -> purchase, strictly
    // ordered per user; one bounded agg + join per stage, no event-level
    // window (hot users cost the same as cold ones).
    "ev_funnel" -> ((s, dir) =>
      graft.ops.EventWindows.funnel(table(s, dir, "events"),
        Seq("view", "click", "purchase"))),

    // Weekly cohort retention matrix: epoch-aligned integer weeks, one
    // (user, week) distinct as the only event-level shuffle.
    "ev_retention" -> ((s, dir) =>
      graft.ops.EventWindows.retention(table(s, dir, "events"))),

    // The fixed-bin histogram maintained ONLINE — completes the
    // online-sketch trio (HLL, CMS, histogram): bin counts are
    // order-insensitive, state is |bins| rows bounded by the sketch
    // resolution.
    "ev_stream_histogram" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import graft.streaming.StreamOps
      val sf = dir.replaceAll("[^A-Za-z0-9.]", "_")
      val stream = StreamOps.readEventStream(s, StreamStage.eventStream(s, dir))
      val agg = stream
        .select(floor(col("value") / lit(0.5)).cast("long").as("bin"))
        .filter(col("bin").isNotNull)
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("cnt"))
      StreamOps.drain(Seq((agg, s"ev_stream_hist$sf".replace(".", "_"),
        StreamOps.Memory("complete"))), shufflePartitions = Some(8)).head
        .orderBy(col("bin"))
    }),

    // The CMS maintained ONLINE — same pattern as ev_stream_hll: the cell
    // counts are order-insensitive, state is depth×width rows forever.
    "ev_stream_cms" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import graft.streaming.StreamOps
      val sf = dir.replaceAll("[^A-Za-z0-9.]", "_")
      val stream = StreamOps.readEventStream(s, StreamStage.eventStream(s, dir))
      val agg = stream
        .select(explode(graft.ops.Sketch.cmsCells(col("event_type")))
          .as("cell"))
        .select(col("cell.row").as("row"), col("cell.bucket").as("bucket"))
        .groupBy(col("row"), col("bucket"))
        .agg(count(lit(1)).as("cnt"))
      StreamOps.drain(Seq((agg, s"ev_stream_cms$sf".replace(".", "_"),
        StreamOps.Memory("complete"))), shufflePartitions = Some(8)).head
        .orderBy(col("row"), col("bucket"))
    }),

    // The anomaly monitor maintained ONLINE: the (type, day) count table
    // is a streaming aggregation (state = |types·days| rows, counts are
    // order-insensitive), and the z-flag computation runs over the
    // drained table with EXACTLY the batch code (anomalyFromDaily) — so
    // the alarm converges to ev_anomaly and shares its oracle.
    "ev_stream_anomaly" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import graft.streaming.StreamOps
      val sf = dir.replaceAll("[^A-Za-z0-9.]", "_")
      val stream = StreamOps.readEventStream(s, StreamStage.eventStream(s, dir))
      val dayUs = 24L * 3600L * 1000000L
      val tsUs = unix_micros(col("ts"))
      val day = ((tsUs - pmod(tsUs, lit(dayUs))) / lit(dayUs)).cast("long")
      val agg = stream.select(col("event_type"), day.as("day"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"))
      // materialize: anomalyFromDaily self-joins the daily table (moments
      // vs rows), and two references to the same MemoryPlan view do not
      // deduplicate — a |types·days|-row checkpoint gives the join fresh
      // attribute ids (and costs nothing)
      EventWindows.anomalyFromDaily(
        graft.ops.Dedup.materialize(
          StreamOps.drain(Seq((agg, s"ev_stream_anom$sf".replace(".", "_"),
            StreamOps.Memory("complete"))), shufflePartitions = Some(8)).head))
    }),

    // A/B comparison: Welch's t-statistic on event value between the two
    // user_id-parity arms, per event type — computed from decimal-exact
    // moments (count, Σx, Σx²) so partial-aggregation order can't move
    // the 6-dp result; the per-arm moments are |types|·2 rows, so the
    // t computation costs nothing at any scale.
    "ev_ab_test" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.{DecimalType, DoubleType}
      val d = DecimalType(30, 10)
      val m = table(s, dir, "events")
        .select(col("event_type"),
          (col("user_id") % 2).cast("int").as("arm"), col("value"))
        .groupBy(col("event_type"), col("arm"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(d)).cast(DoubleType).as("sx"),
          sum((col("value") * col("value")).cast(d)).cast(DoubleType).as("sxx"))
      // Guards (mirrored in the oracle): an arm with n = 1 divides by
      // zero in vr, and two zero-variance arms divide by zero in t —
      // Spark yields NULL there but DuckDB's IEEE ops yield ±inf/nan,
      // breaking the hash contract (same shape as anomalyFromDaily's
      // sd > 0 guard).
      val w = m.filter(col("n") >= 2)
        .select(col("event_type"), col("arm"), col("n"),
        (col("sx") / col("n")).as("mean"),
        ((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1))
          .as("vr"))
      val a = w.filter(col("arm") === 0).select(col("event_type"),
        col("n").as("n_a"), col("mean").as("mean_a"), col("vr").as("var_a"))
      val b = w.filter(col("arm") === 1).select(col("event_type"),
        col("n").as("n_b"), col("mean").as("mean_b"), col("vr").as("var_b"))
      a.join(b, "event_type")
        .filter(col("var_a") / col("n_a") + col("var_b") / col("n_b") > 0)
        .select(col("event_type"), col("n_a"), col("n_b"),
          round(col("mean_a"), 6).as("mean_a"),
          round(col("mean_b"), 6).as("mean_b"),
          rz((col("mean_a") - col("mean_b")) /
            sqrt(col("var_a") / col("n_a") + col("var_b") / col("n_b")), 6)
            .as("t_stat"))
        .orderBy(col("event_type"))
    }),

    // Daily-volume anomaly flags: days whose per-type event count sits
    // ≥ 2 sample std-devs from the type's daily mean — integer-exact
    // moments, one corpus-sized shuffle (see ops.EventWindows).
    "ev_anomaly" -> ((s, dir) =>
      EventWindows.dailyAnomaly(table(s, dir, "events"))),

    // Feature-store materialization: one row per user with the behavioral
    // features a model consumes — typed counts, decimal-exact spend, and
    // recency against the corpus watermark. One partial-agg pass over
    // events plus a broadcast one-row watermark; at 100 TB this is the
    // nightly feature-refresh scan.
    "ev_user_features" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val ev = table(s, dir, "events")
      def n(t: String) =
        sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"n_$t")
      ev.groupBy(col("user_id"))
        .agg(n("click"), n("view"), n("purchase"), n("signup"), n("error"),
          count(lit(1)).as("n_events"),
          dsum(col("value")).as("total_value"),
          max(col("ts")).as("last_ts"))
        .crossJoin(broadcast(ev.agg(max(col("ts")).as("corpus_max"))))
        .withColumn("days_since_last",
          datediff(col("corpus_max"), col("last_ts")).cast("long"))
        .drop("corpus_max")
        .orderBy(col("user_id"))
    }),

    // Behavioral Markov transitions: for each user's time-ordered event
    // sequence, count (from_type, to_type) steps and the per-from
    // transition probability. The lag window partitions by user (each
    // partition is one user's events — the natural key); everything after
    // is |types|² rows.
    "ev_transitions" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val steps = table(s, dir, "events")
        .select(col("user_id"), col("event_type").as("to_type"),
          lag(col("event_type"), 1).over(w).as("from_type"))
        .filter(col("from_type").isNotNull)
      val counts = steps.groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
      val totals = counts.groupBy(col("from_type"))
        .agg(sum(col("n")).as("n_from"))
      counts.join(broadcast(totals), "from_type")
        .select(col("from_type"), col("to_type"), col("n"),
          round(col("n").cast("double") / col("n_from"), 6).as("p"))
        .orderBy(col("from_type"), col("to_type"))
    }),

    // The HLL sketch maintained ONLINE: the identical (bucket, rho)
    // expressions as ev_hll_sketch run as a streaming aggregation — max
    // and count are order-insensitive, so any micro-batching converges to
    // the batch sketch exactly (same oracle). State is m rows, constant
    // forever: the distinct-count-at-ingest shape.
    "ev_stream_hll" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import graft.streaming.StreamOps
      val sf = dir.replaceAll("[^A-Za-z0-9.]", "_")
      val stream = StreamOps.readEventStream(s, StreamStage.eventStream(s, dir))
      val (bucket, rho) = graft.ops.Sketch.hllBucketRho(col("user_id"))
      val agg = stream.select(bucket.as("bucket"), rho.as("rho"))
        .groupBy(col("bucket"))
        .agg(max(col("rho")).as("max_rho"), count(lit(1)).as("n_items"))
      StreamOps.drain(Seq((agg, s"ev_stream_hll$sf".replace(".", "_"),
        StreamOps.Memory("complete"))), shufflePartitions = Some(8)).head
        .orderBy(col("bucket"))
    }),

    // Event-type co-occurrence with PMI — which behaviors travel together
    // across users (the market-basket cut of an event stream). The only
    // event-level shuffle is the (user, type) distinct; the self-join is
    // user-keyed with at most |types|² pairs per user, and the output is
    // |types|² rows regardless of corpus size.
    "ev_cooccur" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val ev = table(s, dir, "events")
      val ut = ev.select(col("user_id"), col("event_type")).distinct()
      val tot = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n_t"))
      val users = ev.agg(countDistinct(col("user_id")).as("n_users_total"))
      val pairs = ut.as("x").join(ut.as("y"),
          col("x.user_id") === col("y.user_id") &&
            col("x.event_type") < col("y.event_type"))
        .groupBy(col("x.event_type").as("type_a"),
          col("y.event_type").as("type_b"))
        .agg(count(lit(1)).as("n_both"))
      pairs
        .join(broadcast(tot.select(col("event_type").as("type_a"),
          col("n_t").as("n_a"))), "type_a")
        .join(broadcast(tot.select(col("event_type").as("type_b"),
          col("n_t").as("n_b"))), "type_b")
        .crossJoin(broadcast(users))
        .select(col("type_a"), col("type_b"), col("n_both"), col("n_a"),
          col("n_b"),
          rz(log(col("n_both").cast("double") * col("n_users_total") /
            (col("n_a").cast("double") * col("n_b"))), 6).as("pmi"))
        .orderBy(col("type_a"), col("type_b"))
    }),

    // Distributed quantile estimates from the mergeable fixed-bin
    // histogram (same sketch as ev_histogram): the cumulative window runs
    // over |bins| rows — a constant set by sketch resolution — never the
    // event data; error is bounded by the bin width.
    "st3_hist_quantile" -> ((s, dir) =>
      graft.ops.Sketch.histogramQuantiles(
        graft.ops.Sketch.histogram(table(s, dir, "events"),
          org.apache.spark.sql.functions.col("value"), width = 0.5),
        width = 0.5, qs = Seq(0.5, 0.9, 0.99))),

    // As-of with a staleness bound (feature-store read rule): last click
    // before each purchase, but only within 1 hour — staler matches null
    // out, and the surfaced staleness_us is the feature-lag monitor.
    "aj3_asof_tolerance" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val ev = table(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
      graft.ops.AsOf.backwardWithin(purchases, clicks, by = Seq("user_id"),
        leftTime = "ts", rightTime = "ts", rightSeq = "event_id",
        rightCols = Seq("event_id"), prefix = "click_")
        .orderBy(col("event_id"))
    }),

    // Top-3 trending event types per hour window; the rank sees only the
    // (window, type) counts, never raw events.
    "ev_windowed_topk" -> ((s, dir) =>
      graft.ops.EventWindows.windowedTopK(table(s, dir, "events"))),

    // Traffic-spike detection: hour buckets vs 2× the trailing-4-bucket
    // average, integer-exact rule; only the (type, bucket) count sees
    // event-level data.
    "ev_spike" -> ((s, dir) =>
      graft.ops.EventWindows.spikes(table(s, dir, "events"))),

    // Behavioral diversity: per-user Shannon entropy over event-type
    // counts (bots hammer one type; organic users spread).
    "ev_entropy" -> ((s, dir) =>
      graft.ops.EventWindows.typeEntropy(table(s, dir, "events"))),

    // Semi-structured props: JSON field extraction + aggregation (the
    // API-source JSON surface, S3 family, applied to an event stream).
    "ev_props_json" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      table(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").try_cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(col("k")).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy(col("event_type"))
    }),
    // GROUP-disjoint train/val/test split: the subset is a pure hash of
    // user_id, so every event of a user lands in the same subset — the
    // leakage rule row-level splitting (sp4_split) cannot give. One
    // map-side-combined aggregate; assignment is a map over its output.
    "sp9_group_split" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      graft.ops.Sampling.hashSplit(
        table(s, dir, "events").groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events")),
        idCol = "user_id", seed = 53,
        cuts = Seq("train" -> 8000, "val" -> 9000, "test" -> 10000))
        .select(col("user_id"), col("n_events"), col("subset"))
        .orderBy(col("user_id"))
    }),

    // Change-point detection (CUSUM mean-shift) over per-type hourly
    // traffic: the hour where the cumulative deviation from a flat rate
    // peaks. Entirely integer — dev_k = cum_k·H − k·total is the CUSUM
    // statistic scaled by H (counts per 1/H units), exact in both engines,
    // so the argmax needs no float rounding doctrine. The dense hour grid
    // (missing hours count 0 — exactly what a traffic drop looks like) is
    // rebuilt per type from one aggregated row; every window runs over the
    // GRID (≤ |hours| rows per type), never the event stream.
    "ev_cpd_cusum" -> ((s, dir) =>
      cusumArgmax(hourlyCounts(table(s, dir, "events")))),

    // The SAME change-point statistic with the hourly table produced by
    // the live streaming path: the per-type hour counts drain from a
    // complete-mode streaming aggregation over the staged micro-batches
    // (the ev_stream_tumbling scaffolding), and the grid-bounded CUSUM
    // windows run over the drained result — converging to the identical
    // batch answer, so both share one oracle. The split mirrors a real
    // deployment: counts maintained online, detection on the store.
    "ev_stream_cpd" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import graft.streaming.StreamOps
      val sf = dir.replaceAll("[^A-Za-z0-9.]", "_")
      val stream = StreamOps.readEventStream(s, StreamStage.eventStream(s, dir))
      val hourly = stream
        .select(col("event_type"),
          (unix_micros(col("ts")) / lit(3600000000L)).cast("long").as("h"))
        .groupBy(col("event_type"), col("h"))
        .agg(count(lit(1)).as("cnt"))
      val drained = StreamOps.drain(Seq((hourly,
        s"ev_stream_cpd$sf".replace(".", "_"), StreamOps.Memory("complete"))),
        shufflePartitions = Some(8)).head
      cusumArgmax(drained)
    })
  )

  /** Per-type epoch-hour counts — the CUSUM kernel's input contract. */
  private def hourlyCounts(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    events
      .select(col("event_type"),
        (unix_micros(col("ts").cast("timestamp")) / lit(3600000000L))
          .cast("long").as("h"))
      .groupBy(col("event_type"), col("h")).agg(count(lit(1)).as("cnt"))
  }

  /** CUSUM mean-shift argmax over an hourly count table (ev_cpd_cusum's
    * kernel, shared with the streaming drain): dense per-type hour grid
    * (missing hours count 0), integer deviation dev_k = cum_k·H − k·total
    * (the CUSUM statistic scaled by H — exact in both engines, no float
    * rounding doctrine needed), earliest-hour tie-break. Every window runs
    * over the GRID (≤ |hours| rows per type), never the event stream. */
  private def cusumArgmax(c: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // hour→count rides a per-type map through the grid explode (the map is
    // grid-bounded) — no join back onto the count table, so the kernel is
    // also safe on inputs whose attributes cannot self-join (the streaming
    // memory-sink view resolves to the SAME attribute ids on both sides)
    val bounds = c.groupBy(col("event_type"))
      .agg(min(col("h")).as("mn"), max(col("h")).as("mx"),
        sum(col("cnt")).as("total"),
        map_from_entries(collect_list(struct(col("h"), col("cnt"))))
          .as("byHour"))
    val grid = bounds
      .select(col("event_type"), col("mn"), col("mx"), col("total"),
        col("byHour"), explode(sequence(col("mn"), col("mx"))).as("h"))
      .withColumn("cnt", coalesce(element_at(col("byHour"), col("h")), lit(0L)))
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
    grid
      .withColumn("cum", sum(col("cnt")).over(w))
      .select(col("event_type"), col("h"),
        (col("cum") * (col("mx") - col("mn") + 1L) -
          (col("h") - col("mn") + 1L) * col("total")).as("dev"),
        (col("mx") - col("mn") + 1L).as("n_hours"), col("total"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("event_type"))
          .orderBy(abs(col("dev")).desc, col("h"))))
      .filter(col("rk") === 1)
      .select(col("event_type"), col("h").as("cp_hour"),
        abs(col("dev")).as("max_abs_dev"), col("n_hours"), col("total"))
      .orderBy(col("event_type"))
  }

  /** Integer day key (µs-epoch floor division), BIGINT moments, identical
    * double operand order for mean/sd/z — shared by the batch query and
    * its streaming twin (which converges to the same daily table). */
  private val anomalyOracle: String =
    """WITH d AS (
      |  SELECT event_type, CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
      |    count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |s AS (
      |  SELECT event_type, count(*) AS days,
      |    CAST(sum(n) AS BIGINT) AS sx, CAST(sum(n * n) AS BIGINT) AS sxx
      |  FROM d GROUP BY 1 HAVING count(*) >= 2),
      |w AS (
      |  SELECT event_type, CAST(sx AS DOUBLE) / days AS mean,
      |    sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / days)
      |      / (days - 1)) AS sd
      |  FROM s)
      |SELECT d.event_type, d.day, d.n,
      |  round((CAST(d.n AS DOUBLE) - w.mean) / w.sd, 6) AS z
      |FROM d JOIN w USING (event_type)
      |WHERE w.sd > 0
      |  AND abs(round((CAST(d.n AS DOUBLE) - w.mean) / w.sd, 6)) >= 2.0
      |ORDER BY d.event_type, d.day""".stripMargin

  /** Direct CMS cell table (seeds 100..103), shared by the one-pass
    * sketch and the shard-merge query (additive cells ⇒ identical). */
  private val cmsOracle: String = {
    val rows = (0 until 4).map { i =>
      s"SELECT $i AS row, CAST(CAST(('0x' || substr(md5(${100 + i} || ':' || event_type), 1, 15)) AS BIGINT) % 64 AS INTEGER) AS bucket FROM events"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH cells AS (
      |  $rows)
      |SELECT row, bucket, count(*) AS cnt
      |FROM cells GROUP BY row, bucket ORDER BY row, bucket""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    // Spark tumbling windows align to the epoch: start = floor(t/size)*size.
    "ev_tumbling_window" ->
      """SELECT make_timestamp(CAST(floor(epoch(ts)/900) AS BIGINT)*900*1000000) AS win_start,
        |  event_type, count(*) AS n,
        |  CAST(round(sum(CAST("value" AS DECIMAL(30,10))), 2) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Same windows as ev_tumbling_window — the streaming drain must land on
    // the identical result.
    "ev_stream_tumbling" ->
      """SELECT make_timestamp(CAST(floor(epoch(ts)/900) AS BIGINT)*900*1000000) AS win_start,
        |  event_type, count(*) AS n,
        |  CAST(round(sum(CAST("value" AS DECIMAL(30,10))), 2) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Append mode must land on the very same table: per-window emission +
    // eviction is an execution strategy, not a semantics change.
    "ev_stream_append_eviction" ->
      """SELECT make_timestamp(CAST(floor(epoch(ts)/900) AS BIGINT)*900*1000000) AS win_start,
        |  event_type, count(*) AS n,
        |  CAST(round(sum(CAST("value" AS DECIMAL(30,10))), 2) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Sliding size=30m slide=15m: each event belongs to 2 windows — the two
    // consecutive 900s-aligned starts covering it (k in {0,1} selects the
    // even/odd multiple of 900 congruence class).
    "ev_sliding_window" ->
      """WITH exploded AS (
        |  SELECT make_timestamp(CAST(floor((epoch(ts) - k.k*900)/1800)*1800 + k.k*900 AS BIGINT)*1000000) AS win_start,
        |    event_type, "value"
        |  FROM events CROSS JOIN (SELECT 0 AS k UNION ALL SELECT 1) k)
        |SELECT win_start, event_type, count(*) AS n,
        |  CAST(round(sum(CAST("value" AS DECIMAL(30,10))), 2) AS DOUBLE) AS total
        |FROM exploded GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // 60-bit md5 hash split into 6 bucket bits + 54 rank bits; rho via
    // length(bin(w)) — exact in both engines (neither pads bin()).
    "ev_hll_sketch" ->
      """WITH h AS (
        |  SELECT CAST(('0x' || substr(md5(7 || ':' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM events)
        |SELECT CAST(h & 63 AS INTEGER) AS bucket,
        |  CAST(max(CASE WHEN h >> 6 = 0 THEN 55
        |                ELSE 54 - (length(bin(h >> 6)) - 1) END) AS INTEGER) AS max_rho,
        |  count(*) AS n_items
        |FROM h GROUP BY 1 ORDER BY bucket""".stripMargin,

    // Deliberately the DIRECT global sketch (no per-type split): Spark's
    // merge of the by-type cells must land on the identical cell table.
    "ev_hll_merge" ->
      """WITH h AS (
        |  SELECT CAST(('0x' || substr(md5(7 || ':' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM events)
        |SELECT CAST(h & 63 AS INTEGER) AS bucket,
        |  CAST(max(CASE WHEN h >> 6 = 0 THEN 55
        |                ELSE 54 - (length(bin(h >> 6)) - 1) END) AS INTEGER) AS max_rho,
        |  count(*) AS n_items
        |FROM h GROUP BY 1 ORDER BY bucket""".stripMargin,

    // hllSketch's arithmetic with event_type added to the grouping.
    "ev_hll_by_type" ->
      """WITH h AS (
        |  SELECT event_type,
        |    CAST(('0x' || substr(md5(7 || ':' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM events)
        |SELECT event_type, CAST(h & 63 AS INTEGER) AS bucket,
        |  CAST(max(CASE WHEN h >> 6 = 0 THEN 55
        |                ELSE 54 - (length(bin(h >> 6)) - 1) END) AS INTEGER) AS max_rho,
        |  count(*) AS n_items
        |FROM h GROUP BY event_type, bucket ORDER BY event_type, bucket""".stripMargin,

    // ev_hll_by_type's cells + the estimator: integer harmonic denominator
    // (exact, order-independent), one constant product, one IEEE division,
    // the linear-counting branch — same alpha/rules as Sketch.hllErrorAudit.
    "ev_hll_error" ->
      """WITH h AS (
        |  SELECT event_type,
        |    CAST(('0x' || substr(md5(7 || ':' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM events),
        |cells AS (
        |  SELECT event_type, CAST(h & 63 AS INTEGER) AS bucket,
        |    max(CASE WHEN h >> 6 = 0 THEN 55
        |             ELSE 54 - (length(bin(h >> 6)) - 1) END) AS max_rho
        |  FROM h GROUP BY event_type, bucket),
        |agg AS (
        |  SELECT event_type,
        |    CAST(sum(CAST(1 AS BIGINT) << (55 - max_rho)) AS BIGINT)
        |      + (64 - count(*)) * (CAST(1 AS BIGINT) << 55) AS s_int,
        |    64 - count(*) AS zeros
        |  FROM cells GROUP BY event_type),
        |ex AS (SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
        |       FROM events GROUP BY event_type),
        |es AS (
        |  SELECT event_type,
        |    CAST(0.709 AS DOUBLE) * 4096.0 * 36028797018963968.0 / s_int AS raw,
        |    zeros
        |  FROM agg),
        |em AS (
        |  SELECT event_type,
        |    CAST(round((CASE WHEN raw <= 160.0 AND zeros > 0
        |                     THEN CAST(64 AS DOUBLE) * ln(CAST(64 AS DOUBLE) / zeros)
        |                     ELSE raw END) * 1000000.0, 0)
        |      AS BIGINT) AS est_micro
        |  FROM es)
        |SELECT ex.event_type, exact_distinct,
        |  CAST(est_micro AS DOUBLE) / 1000000 AS hll_est,
        |  (est_micro - exact_distinct * 1000000) // exact_distinct AS rel_err_ppm
        |FROM ex JOIN em ON ex.event_type = em.event_type
        |ORDER BY ex.event_type""".stripMargin,

    // aj1's backward carry and aj2's forward carry as two windows over ONE
    // union; smallest |delta| wins, ties backward.
    "aj5_asof_nearest" ->
      """WITH u AS (
        |  SELECT user_id, ts AS t, 1 AS side, CAST(NULL AS BIGINT) AS seq,
        |         event_id, ts, CAST(NULL AS TIMESTAMP) AS r_ts,
        |         CAST(NULL AS BIGINT) AS r_id
        |  FROM events WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT user_id, ts, 0, event_id, NULL, NULL, ts, event_id
        |  FROM events WHERE event_type = 'click'),
        |w AS (
        |  SELECT *,
        |    last_value(r_ts IGNORE NULLS) OVER ob AS b_ts,
        |    last_value(r_id IGNORE NULLS) OVER ob AS b_id,
        |    last_value(r_ts IGNORE NULLS) OVER ofw AS f_ts,
        |    last_value(r_id IGNORE NULLS) OVER ofw AS f_id
        |  FROM u
        |  WINDOW ob AS (PARTITION BY user_id
        |    ORDER BY t, side, coalesce(seq, 9223372036854775807)
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  ofw AS (PARTITION BY user_id
        |    ORDER BY t DESC, side, coalesce(seq, -9223372036854775807 - 1) DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |p AS (
        |  SELECT event_id, user_id, ts, b_ts, b_id, f_ts, f_id,
        |    (f_ts IS NULL OR (b_ts IS NOT NULL AND
        |      epoch_us(ts) - epoch_us(b_ts) <= epoch_us(f_ts) - epoch_us(ts)))
        |      AS back
        |  FROM w WHERE side = 1)
        |SELECT event_id, user_id, ts,
        |  CASE WHEN back THEN b_ts ELSE f_ts END AS click_ts,
        |  CASE WHEN back THEN b_id ELSE f_id END AS click_event_id,
        |  CASE WHEN (CASE WHEN back THEN b_id ELSE f_id END) IS NULL THEN NULL
        |       WHEN back THEN 'back' ELSE 'fwd' END AS click_direction,
        |  CASE WHEN back THEN epoch_us(ts) - epoch_us(b_ts)
        |       ELSE epoch_us(f_ts) - epoch_us(ts) END AS click_delta_us
        |FROM p ORDER BY event_id""".stripMargin,

    // Same md5-derived 60-bit seeded hash family as the Spark side
    // (seeds 100..103), cells additive.
    "ev_cms_sketch" -> cmsOracle,

    // cmsOracle's cells + per-key min-cell probes; everything integer,
    // truncating // matches Spark's DIV.
    "ev_cms_error" -> {
      val rows = (0 until 4).map { i =>
        s"SELECT $i AS row, CAST(CAST(('0x' || substr(md5(${100 + i} || ':' || event_type), 1, 15)) AS BIGINT) % 64 AS INTEGER) AS bucket FROM events"
      }.mkString("\n  UNION ALL\n  ")
      val probes = (0 until 4).map { i =>
        s"SELECT key, exact_cnt, $i AS row, CAST(CAST(('0x' || substr(md5(${100 + i} || ':' || key), 1, 15)) AS BIGINT) % 64 AS INTEGER) AS bucket FROM ex"
      }.mkString("\n  UNION ALL\n  ")
      s"""WITH raw AS (
        |  $rows),
        |cells AS (SELECT row, bucket, count(*) AS cnt
        |          FROM raw GROUP BY row, bucket),
        |ex AS (SELECT event_type AS key, count(*) AS exact_cnt
        |       FROM events GROUP BY event_type),
        |pr AS (
        |  $probes)
        |SELECT key, exact_cnt, min(cnt) AS cms_est,
        |  min(cnt) - exact_cnt AS overcount,
        |  ((min(cnt) - exact_cnt) * 1000000) // exact_cnt AS err_ppm
        |FROM pr JOIN cells ON pr.row = cells.row AND pr.bucket = cells.bucket
        |GROUP BY key, exact_cnt ORDER BY key""".stripMargin
    },

    // Deliberately the DIRECT one-shard sketch: Spark's sum of the two
    // parity-shard cell tables must land on identical cells.
    "ev_cms_merge" -> cmsOracle,

    // The stream-stream join must emit exactly the batch interval join's
    // pair set.
    "ev_stream_attribution" ->
      """SELECT p.event_id AS purchase_id, v.event_id AS view_id
        |FROM events p JOIN events v ON p.user_id = v.user_id
        |  AND p.event_type = 'purchase' AND v.event_type = 'view'
        |  AND v.ts BETWEEN p.ts - INTERVAL 30 MINUTE AND p.ts
        |ORDER BY purchase_id, view_id""".stripMargin,

    // floor(v / width): IEEE double division + floor — bit-identical in
    // both engines; bins are exact integers.
    "ev_histogram" ->
      """SELECT CAST(floor("value" / 0.5) AS BIGINT) AS bin, count(*) AS cnt
        |FROM events WHERE "value" IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "rj1_range_join" ->
      """WITH p AS (
        |  SELECT event_id AS purchase_id, user_id, ts FROM events
        |  WHERE event_type = 'purchase'),
        |v AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
        |j AS (
        |  SELECT p.purchase_id, count(v.event_id) AS n_views
        |  FROM p LEFT JOIN v ON p.user_id = v.user_id
        |    AND v.ts BETWEEN p.ts - INTERVAL 30 MINUTE AND p.ts
        |  GROUP BY p.purchase_id)
        |SELECT p.purchase_id, p.user_id, p.ts,
        |  CAST(j.n_views AS BIGINT) AS n_views
        |FROM p JOIN j ON p.purchase_id = j.purchase_id
        |ORDER BY p.purchase_id""".stripMargin,

    // Plain overlap self-join in SQL — the bucketization is a Spark
    // physical concern; the oracle states only the overlap predicate.
    "rj2_overlap_join" ->
      """WITH li AS (
        |  SELECT l_partkey, l_orderkey * 10 + l_linenumber AS ship_id,
        |    l_suppkey,
        |    datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS d0,
        |    datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
        |      + (l_orderkey + l_linenumber) % 14 + 1 AS d1
        |  FROM lineitem),
        |p AS (
        |  SELECT a.l_partkey,
        |    least(a.d1, b.d1) - greatest(a.d0, b.d0) + 1 AS overlap_days
        |  FROM li a JOIN li b
        |    ON a.l_partkey = b.l_partkey AND a.ship_id < b.ship_id
        |    AND a.l_suppkey <> b.l_suppkey
        |    AND a.d0 <= b.d1 AND b.d0 <= a.d1)
        |SELECT l_partkey, count(*) AS n_pairs,
        |  CAST(sum(overlap_days) AS BIGINT) AS sum_overlap_days,
        |  CAST(max(overlap_days) AS BIGINT) AS max_overlap_days
        |FROM p GROUP BY l_partkey ORDER BY l_partkey""".stripMargin,

    // Same union-and-carry shape in SQL: right rows sort before left rows
    // at equal timestamps (side 0 < 1), left rows carry the last non-null
    // right payload forward. The two IGNORE-NULLS windows share one
    // ordering, so they pick fields from the same right row.
    "aj1_asof" ->
      """WITH u AS (
        |  SELECT user_id, ts AS t, 1 AS side, CAST(NULL AS BIGINT) AS seq,
        |         event_id, ts, CAST(NULL AS TIMESTAMP) AS r_ts,
        |         CAST(NULL AS BIGINT) AS r_id
        |  FROM events WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT user_id, ts, 0, event_id, NULL, NULL, ts, event_id
        |  FROM events WHERE event_type = 'click'),
        |w AS (
        |  SELECT *,
        |    last_value(r_ts IGNORE NULLS) OVER ord AS click_ts,
        |    last_value(r_id IGNORE NULLS) OVER ord AS click_event_id
        |  FROM u
        |  WINDOW ord AS (PARTITION BY user_id
        |    ORDER BY t, side, coalesce(seq, 9223372036854775807)
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_id, user_id, ts, click_ts, click_event_id
        |FROM w WHERE side = 1 ORDER BY event_id""".stripMargin,

    // aj1 with the running window reversed (t DESC, seq DESC): the carried
    // payload is the nearest FUTURE click, smallest event_id on ties.
    "aj2_asof_forward" ->
      """WITH u AS (
        |  SELECT user_id, ts AS t, 1 AS side, CAST(NULL AS BIGINT) AS seq,
        |         event_id, ts, CAST(NULL AS TIMESTAMP) AS r_ts,
        |         CAST(NULL AS BIGINT) AS r_id
        |  FROM events WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT user_id, ts, 0, event_id, NULL, NULL, ts, event_id
        |  FROM events WHERE event_type = 'click'),
        |w AS (
        |  SELECT *,
        |    last_value(r_ts IGNORE NULLS) OVER ord AS next_ts,
        |    last_value(r_id IGNORE NULLS) OVER ord AS next_event_id
        |  FROM u
        |  WINDOW ord AS (PARTITION BY user_id
        |    ORDER BY t DESC, side, coalesce(seq, -9223372036854775807 - 1) DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_id, user_id, ts, next_ts, next_event_id
        |FROM w WHERE side = 1 ORDER BY event_id""".stripMargin,

    // Stage timestamps chain on strict >; deepest reached stage wins.
    "ev_funnel" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |v AS (SELECT user_id, min(ts) AS t_view FROM events
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts) AS t_click
        |      FROM events e JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.ts > v.t_view
        |      GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS t_purchase
        |      FROM events e JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        |      GROUP BY e.user_id)
        |SELECT u.user_id, v.t_view, c.t_click, p.t_purchase,
        |  CAST(CASE WHEN p.user_id IS NOT NULL THEN 3
        |            WHEN c.user_id IS NOT NULL THEN 2
        |            WHEN v.user_id IS NOT NULL THEN 1
        |            ELSE 0 END AS BIGINT) AS funnel_stage
        |FROM u
        |LEFT JOIN v ON u.user_id = v.user_id
        |LEFT JOIN c ON u.user_id = c.user_id
        |LEFT JOIN p ON u.user_id = p.user_id
        |ORDER BY u.user_id""".stripMargin,

    // Same epoch-week integer arithmetic: // floors like Spark's exact
    // (t - pmod)/week division; counts are over distinct (user, week).
    "ev_retention" ->
      """WITH w AS (
        |  SELECT DISTINCT user_id,
        |    CAST(epoch_us(ts) // 604800000000 AS BIGINT) AS wk
        |  FROM events),
        |c AS (SELECT user_id, min(wk) AS cohort_wk FROM w GROUP BY user_id),
        |s AS (SELECT cohort_wk, count(*) AS cohort_users FROM c GROUP BY cohort_wk),
        |a AS (
        |  SELECT c.cohort_wk, w.wk - c.cohort_wk AS week_offset,
        |    count(*) AS n_active
        |  FROM w JOIN c ON w.user_id = c.user_id GROUP BY 1, 2)
        |SELECT a.cohort_wk, a.week_offset, a.n_active, s.cohort_users,
        |  round(CAST(a.n_active AS DOUBLE) / s.cohort_users, 6) AS retention
        |FROM a JOIN s ON a.cohort_wk = s.cohort_wk
        |ORDER BY a.cohort_wk, a.week_offset""".stripMargin,

    // The streaming histogram must converge to the batch sketch exactly.
    "ev_stream_histogram" ->
      """SELECT CAST(floor("value" / 0.5) AS BIGINT) AS bin, count(*) AS cnt
        |FROM events WHERE "value" IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // The streaming CMS must converge to the batch sketch exactly.
    "ev_stream_cms" -> {
      val rows = (0 until 4).map { i =>
        s"SELECT $i AS row, CAST(CAST(('0x' || substr(md5(${100 + i} || ':' || event_type), 1, 15)) AS BIGINT) % 64 AS INTEGER) AS bucket FROM events"
      }.mkString("\n  UNION ALL\n  ")
      s"""WITH cells AS (
        |  $rows)
        |SELECT row, bucket, count(*) AS cnt
        |FROM cells GROUP BY row, bucket ORDER BY row, bucket""".stripMargin
    },

    // Identical operand order over the same decimal-exact moments:
    // mean = sx/n, var = (sxx − sx·sx/n)/(n−1), t = Δmean/√(va/na+vb/nb).
    "ev_ab_test" ->
      """WITH m AS (
        |  SELECT event_type, CAST(user_id % 2 AS INTEGER) AS arm,
        |    count(*) AS n,
        |    CAST(sum(CAST("value" AS DECIMAL(30,10))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST("value" * "value" AS DECIMAL(30,10))) AS DOUBLE) AS sxx
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT event_type, arm, n, sx / n AS mean,
        |    (sxx - sx * sx / n) / (n - 1) AS vr
        |  FROM m WHERE n >= 2),
        |a AS (SELECT event_type, n AS n_a, mean AS mean_a, vr AS var_a
        |      FROM w WHERE arm = 0),
        |b AS (SELECT event_type, n AS n_b, mean AS mean_b, vr AS var_b
        |      FROM w WHERE arm = 1)
        |SELECT a.event_type, n_a, n_b,
        |  round(mean_a, 6) AS mean_a, round(mean_b, 6) AS mean_b,
        |  round((mean_a - mean_b) / sqrt(var_a / n_a + var_b / n_b), 6) + 0 AS t_stat
        |FROM a JOIN b USING (event_type)
        |WHERE var_a / n_a + var_b / n_b > 0
        |ORDER BY event_type""".stripMargin,

    // Same integer day key (µs-epoch floor division), BIGINT moments,
    // identical double operand order for mean/sd/z.
    "ev_anomaly" -> anomalyOracle,

    // The streaming twin converges to the batch daily table, so the SAME
    // oracle checks it.
    "ev_stream_anomaly" -> anomalyOracle,

    // One pass; typed counts via FILTER-equivalent CASE sums, dsum spend,
    // integer day recency against the corpus max timestamp.
    "ev_user_features" ->
      """WITH f AS (
        |  SELECT user_id,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
        |    CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
        |    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
        |    count(*) AS n_events,
        |    CAST(round(sum(CAST("value" AS DECIMAL(30,10))), 2) AS DOUBLE) AS total_value,
        |    max(ts) AS last_ts
        |  FROM events GROUP BY user_id),
        |m AS (SELECT max(ts) AS corpus_max FROM events)
        |SELECT user_id, n_click, n_view, n_purchase, n_signup, n_error,
        |  n_events, total_value, last_ts,
        |  CAST(date_diff('day', CAST(last_ts AS DATE), CAST(corpus_max AS DATE)) AS BIGINT) AS days_since_last
        |FROM f CROSS JOIN m ORDER BY user_id""".stripMargin,

    // Same (user, ts, event_id)-ordered lag; transition probability is an
    // exact-integer division rounded at 6 dp.
    "ev_transitions" ->
      """WITH s AS (
        |  SELECT lag(event_type) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS from_type,
        |    event_type AS to_type
        |  FROM events),
        |c AS (
        |  SELECT from_type, to_type, count(*) AS n FROM s
        |  WHERE from_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.n,
        |  round(CAST(c.n AS DOUBLE) / t.n_from, 6) AS p
        |FROM c JOIN t ON c.from_type = t.from_type
        |ORDER BY c.from_type, c.to_type""".stripMargin,

    // The streaming sketch must converge to the batch sketch exactly.
    "ev_stream_hll" ->
      """WITH h AS (
        |  SELECT CAST(('0x' || substr(md5(7 || ':' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM events)
        |SELECT CAST(h & 63 AS INTEGER) AS bucket,
        |  CAST(max(CASE WHEN h >> 6 = 0 THEN 55
        |                ELSE 54 - (length(bin(h >> 6)) - 1) END) AS INTEGER) AS max_rho,
        |  count(*) AS n_items
        |FROM h GROUP BY 1 ORDER BY bucket""".stripMargin,

    // PMI over distinct (user, type): identical operand order —
    // ln((n_both·N) / (n_a·n_b)) — so the rounded doubles agree.
    "ev_cooccur" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |tot AS (SELECT event_type, count(*) AS n_t FROM ut GROUP BY 1),
        |u AS (SELECT count(DISTINCT user_id) AS n_users_total FROM events),
        |p AS (
        |  SELECT x.event_type AS type_a, y.event_type AS type_b,
        |    count(*) AS n_both
        |  FROM ut x JOIN ut y
        |    ON x.user_id = y.user_id AND x.event_type < y.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, n_both, a.n_t AS n_a, b.n_t AS n_b,
        |  round(ln(CAST(n_both AS DOUBLE) * n_users_total /
        |    (CAST(a.n_t AS DOUBLE) * b.n_t)), 6) + 0 AS pmi
        |FROM p JOIN tot a ON p.type_a = a.event_type
        |       JOIN tot b ON p.type_b = b.event_type
        |       CROSS JOIN u
        |ORDER BY type_a, type_b""".stripMargin,

    // ev_histogram's bins + a cumulative window + per-q interpolation in
    // the unique containing bin (cum >= target > prev); identical IEEE
    // double arithmetic over exact integer counts.
    "st3_hist_quantile" -> {
      val branches = Seq(0.5, 0.9, 0.99).map { q =>
        s"""SELECT CAST($q AS DOUBLE) AS q,
          |  round((bin + ($q * total - prev) / cnt) * 0.5, 6) AS est
          |FROM p CROSS JOIN t
          |WHERE cum >= $q * total AND prev < $q * total""".stripMargin
      }
      s"""WITH h AS (
        |  SELECT CAST(floor("value" / 0.5) AS BIGINT) AS bin, count(*) AS cnt
        |  FROM events WHERE "value" IS NOT NULL GROUP BY 1),
        |c AS (
        |  SELECT bin, cnt,
        |    sum(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM h),
        |p AS (SELECT bin, cnt, cum, cum - cnt AS prev FROM c),
        |t AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM h)
        |${branches.mkString("\nUNION ALL\n")}
        |ORDER BY q""".stripMargin
    },

    // aj1's union-and-carry window plus the tolerance null-out: a carried
    // match survives only within 3600s; staleness in exact microseconds.
    "aj3_asof_tolerance" ->
      """WITH u AS (
        |  SELECT user_id, ts AS t, 1 AS side, CAST(NULL AS BIGINT) AS seq,
        |         event_id, ts, CAST(NULL AS TIMESTAMP) AS r_ts,
        |         CAST(NULL AS BIGINT) AS r_id
        |  FROM events WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT user_id, ts, 0, event_id, NULL, NULL, ts, event_id
        |  FROM events WHERE event_type = 'click'),
        |w AS (
        |  SELECT *,
        |    last_value(r_ts IGNORE NULLS) OVER ord AS m_ts,
        |    last_value(r_id IGNORE NULLS) OVER ord AS m_id
        |  FROM u
        |  WINDOW ord AS (PARTITION BY user_id
        |    ORDER BY t, side, coalesce(seq, 9223372036854775807)
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |f AS (
        |  SELECT event_id, user_id, ts, m_ts, m_id,
        |    (m_ts IS NOT NULL AND
        |     epoch_us(ts) - epoch_us(m_ts) <= 3600000000) AS fresh
        |  FROM w WHERE side = 1)
        |SELECT event_id, user_id, ts,
        |  CASE WHEN fresh THEN m_id END AS click_event_id,
        |  CASE WHEN fresh THEN m_ts END AS click_ts,
        |  CASE WHEN fresh THEN epoch_us(ts) - epoch_us(m_ts) END
        |    AS click_staleness_us
        |FROM f ORDER BY event_id""".stripMargin,

    // Same epoch-floor hour windows as ev_tumbling_window; rank ties break
    // on event_type so the top-3 cut is engine-deterministic.
    "ev_windowed_topk" ->
      """WITH c AS (
        |  SELECT make_timestamp(CAST(floor(epoch(ts)/3600) AS BIGINT)*3600*1000000) AS win_start,
        |    event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY win_start ORDER BY n DESC, event_type) AS rk
        |  FROM c)
        |SELECT win_start, event_type, n, rk
        |FROM r WHERE rk <= 3 ORDER BY win_start, rk""".stripMargin,

    // Hour buckets by the same epoch-floor integer arithmetic; the trailing
    // frame spans the last 4 OBSERVED buckets (rows, not ranges) and the
    // first 4 buckets of each type emit no verdict; the spike rule is
    // division-free (n·4 > 2·Σ).
    "ev_spike" ->
      """WITH b AS (
        |  SELECT event_type, CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS bk
        |  FROM events),
        |c AS (SELECT event_type, bk, count(*) AS n FROM b GROUP BY 1, 2),
        |w AS (
        |  SELECT event_type, bk, n,
        |    CAST(sum(n) OVER t AS BIGINT) AS trail_n,
        |    count(*) OVER t AS trail_k
        |  FROM c
        |  WINDOW t AS (PARTITION BY event_type ORDER BY bk
        |    ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, bk, n, trail_n, (n * 4 > trail_n * 2) AS spike
        |FROM w WHERE trail_k = 4 ORDER BY event_type, bk""".stripMargin,

    // H = ln N − (Σ c·ln c)/N; each c·ln c is the identical libm double in
    // both engines (the tx_unigram_logprob precedent), DECIMAL(30,10)-cast
    // before the sum so partial-agg order can't move the 6-dp result.
    "ev_entropy" ->
      """WITH c AS (
        |  SELECT user_id, event_type, count(*) AS c
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, CAST(sum(c) AS BIGINT) AS n_events,
        |  count(*) AS n_types,
        |  round(ln(CAST(sum(c) AS DOUBLE)) -
        |    CAST(sum(CAST(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)) AS DECIMAL(30,10))) AS DOUBLE)
        |      / CAST(sum(c) AS DOUBLE), 6) AS entropy
        |FROM c GROUP BY user_id ORDER BY user_id""".stripMargin,

    "ev_props_json" ->
      """SELECT event_type,
        |  count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // Sessionization: session boundary when gap > 30min (strict), per user,
    // ties broken by event_id; session_id = running count of boundaries.
    "ev_sessionize" -> sessionizeOracle,

    // Every streaming sessionization posture must reproduce the batch
    // sessionization exactly — the oracle IS the batch definition: the
    // NoTimeout flatMapGroupsWithState drain and the session_window
    // watermark-eviction twin share ev_sessionize's text verbatim (the
    // dd_bloom_confirmed proven-equal convention).
    "ev_stream_sessionize" -> sessionizeOracle,
    "ev_stream_sessionize_evict" -> sessionizeOracle,

    // Same seed-53 hash family as Sampling.bucket, same cumulative
    // 80/10/10 cut points, applied to the per-user rollup.
    "sp9_group_split" ->
      """WITH u AS (SELECT user_id, count(*) AS n_events
        |           FROM events GROUP BY user_id)
        |SELECT user_id, n_events,
        |  CASE WHEN CAST(('0x' || substr(md5(53 || ':' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10000 < 8000 THEN 'train'
        |       WHEN CAST(('0x' || substr(md5(53 || ':' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10000 < 9000 THEN 'val'
        |       ELSE 'test' END AS subset
        |FROM u ORDER BY user_id""".stripMargin,

    // The streaming drain must land on the identical hourly table, so the
    // batch CUSUM oracle judges it too.
    "ev_stream_cpd" -> cpdOracle,

    // Same integer CUSUM scaled by H; ties break on the earliest hour.
    "ev_cpd_cusum" -> cpdOracle
  )

  /** Integer CUSUM over the dense epoch-hour grid, shared by the batch
    * query and its streaming twin. (lazy: referenced by the `oracle` map
    * val declared above it). */
  /** Batch sessionization as SQL — gap split STRICTLY > 30 min on the
    * per-user (ts, event_id) order; shared by the batch query and both
    * streaming postures (NoTimeout drain, session_window eviction). */
  private lazy val sessionizeOracle: String =
    """WITH marked AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (
      |  SELECT user_id, ts,
      |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      |  FROM marked)
      |SELECT user_id, session_id, count(*) AS n_events,
      |  min(ts) AS first_ts, max(ts) AS last_ts,
      |  max(epoch_us(ts)) - min(epoch_us(ts)) AS dur_us
      |FROM sess GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  private lazy val cpdOracle: String =
      """WITH c AS (
        |  SELECT event_type, CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h,
        |    count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |b AS (
        |  SELECT event_type, min(h) AS mn, max(h) AS mx,
        |    CAST(sum(cnt) AS BIGINT) AS total
        |  FROM c GROUP BY 1),
        |g AS (
        |  SELECT event_type, mn, mx, total,
        |    CAST(unnest(range(mn, mx + 1)) AS BIGINT) AS h
        |  FROM b),
        |d AS (
        |  SELECT g.event_type, g.h, g.mn, g.mx, g.total,
        |    COALESCE(c.cnt, 0) AS cnt
        |  FROM g LEFT JOIN c ON g.event_type = c.event_type AND g.h = c.h),
        |w AS (
        |  SELECT event_type, h, mn, mx, total,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY h) AS BIGINT) AS cum
        |  FROM d),
        |v AS (
        |  SELECT event_type, h,
        |    cum * (mx - mn + 1) - (h - mn + 1) * total AS dev,
        |    mx - mn + 1 AS n_hours, total
        |  FROM w)
        |SELECT event_type, h AS cp_hour,
        |  CAST(abs(dev) AS BIGINT) AS max_abs_dev,
        |  CAST(n_hours AS BIGINT) AS n_hours, total
        |FROM v
        |QUALIFY row_number() OVER (PARTITION BY event_type
        |  ORDER BY abs(dev) DESC, h) = 1
        |ORDER BY event_type""".stripMargin
}
