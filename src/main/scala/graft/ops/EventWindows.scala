package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.queries.dsum

/** Event-time window operators over the harness `events` table (SURVEY.md
  * §2.7). The reference is batch-only; these are written batch-first so the
  * exact same transformations run under Structured Streaming (see
  * graft.streaming.StreamOps, which lifts them over readStream with a
  * watermark).
  *
  * Scale notes: tumbling/sliding aggregate map-side first (partial agg on
  * (window, type)); sessionization shuffles once on user_id — the natural
  * key — and each user's events sort within a partition, never globally.
  */
object EventWindows {

  /** Tumbling event-time window aggregate: count + sum(value) per
    * (window, event_type). */
  def tumbling(events: DataFrame, sizeMin: Int): DataFrame =
    events
      .groupBy(window(col("ts"), s"$sizeMin minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
      .select(col("window.start").as("win_start"), col("event_type"),
              col("n"), col("total"))
      .orderBy(col("win_start"), col("event_type"))

  /** Sliding window (30-minute size, 15-minute slide), same aggregate.
    * Each event lands in size/slide windows. */
  def sliding(events: DataFrame): DataFrame = {
    val (sizeMin, slideMin) = (30, 15)
    events
      .groupBy(window(col("ts"), s"$sizeMin minutes", s"$slideMin minutes"),
               col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
      .select(col("window.start").as("win_start"), col("event_type"),
              col("n"), col("total"))
      .orderBy(col("win_start"), col("event_type"))
  }

  /** The inactivity gap that ends a session, shared by this batch
    * sessionize and its streaming twins (StreamOps.sessionize,
    * sessionizeEvict), which must split sessions identically. */
  private[graft] val SessionGapMin = 30

  /** Batch sessionization: per-user sessions split on inactivity >
    * SessionGapMin.
    * Deterministic tie-break on event_id. The streaming twin keeps the same
    * (user, session) grouping via flatMapGroupsWithState. */
  def sessionize(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val gapUs = SessionGapMin.toLong * 60L * 1000000L
    // ts is TIMESTAMP_NTZ (ns-parquet ingest); unix_micros needs TIMESTAMP —
    // the cast is an identity under the pinned UTC session TZ.
    val tsUs = unix_micros(col("ts").cast("timestamp"))
    events
      .withColumn("prev_us", lag(tsUs, 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
             tsUs - col("prev_us") > gapUs, 1L).otherwise(0L))
      .withColumn("session_id",
        sum(col("new_sess")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
           min(col("ts")).as("first_ts"),
           max(col("ts")).as("last_ts"),
           (max(tsUs) - min(tsUs)).as("dur_us"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** Weekly cohort retention — the product-analytics "did week-N users come
    * back k weeks later" matrix: each user's cohort is the epoch-aligned
    * 7-day week of their first event; a (cohort, offset) cell counts users
    * from that cohort active in cohort+offset. Weeks are integer arithmetic
    * over epoch microseconds (floor to the week multiple) — engine-exact,
    * no calendar/timezone semantics to disagree on.
    *
    * Shape at scale: one distinct over (user, week) — the only shuffle that
    * sees event-level data, and it collapses map-side to each user's active
    * weeks; cohort assignment is a partial-agg min per user; the join back
    * is user-keyed; the final rollup has |weeks|² cells at most. A hot user
    * with millions of events costs the same as one with two. */
  def retention(events: DataFrame): DataFrame = {
    val weekUs = 7L * 24L * 3600L * 1000000L
    val tsUs = unix_micros(col("ts").cast("timestamp"))
    // tsUs - pmod is exactly divisible, so the double division is exact
    val wk = ((tsUs - pmod(tsUs, lit(weekUs))) / lit(weekUs)).cast("long")
    val weeks = events.select(col("user_id"), wk.as("wk")).distinct()
    val cohort = weeks.groupBy(col("user_id"))
      .agg(min(col("wk")).as("cohort_wk"))
    val sizes = cohort.groupBy(col("cohort_wk"))
      .agg(count(lit(1)).as("cohort_users"))
    weeks.join(cohort, "user_id")
      .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("week_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(sizes, "cohort_wk")
      .select(col("cohort_wk"), col("week_offset"), col("n_active"),
        col("cohort_users"),
        round(col("n_active").cast("double") / col("cohort_users"), 6)
          .as("retention"))
      .orderBy(col("cohort_wk"), col("week_offset"))
  }

  /** Traffic-spike detection over epoch-aligned minute buckets: a bucket is
    * a spike when its event count exceeds 2× the average of the `trailing`
    * preceding ACTIVE buckets of the same type — written integer-exact
    * (n > 2·(Σ trailing)/trailing ⟺ n·trailing > 2·Σ, no division), so no
    * engine can disagree on a boundary bucket. Buckets with no events don't exist in the series;
    * the trailing frame therefore spans the last `trailing` OBSERVED
    * buckets (the conservative choice for bursty low-volume types — a
    * quiet gap never dilutes the baseline), and the first `trailing`
    * buckets of each type emit no verdict (trail_k guard).
    *
    * Shape at scale: the only event-level shuffle is the (type, bucket)
    * partial-agg count — everything after runs over |types|·|buckets|
    * rows, and the per-type window sorts those tiny series, never raw
    * events. A hot type with millions of events per bucket costs the same
    * as a cold one. */
  def spikes(events: DataFrame): DataFrame = {
    val (bucketMin, trailing) = (60, 4)
    val bucketUs = bucketMin.toLong * 60L * 1000000L
    val tsUs = unix_micros(col("ts").cast("timestamp"))
    // tsUs - pmod is exactly divisible, so the double division is exact
    val bk = ((tsUs - pmod(tsUs, lit(bucketUs))) / lit(bucketUs)).cast("long")
    val counts = events.groupBy(col("event_type"), bk.as("bk"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("bk"))
      .rowsBetween(-trailing, -1)
    counts
      .withColumn("trail_n", sum(col("n")).over(w))
      .withColumn("trail_k", count(lit(1)).over(w))
      .filter(col("trail_k") === trailing)
      .select(col("event_type"), col("bk"), col("n"), col("trail_n"),
        (col("n") * trailing > col("trail_n") * 2L).as("spike"))
      .orderBy(col("event_type"), col("bk"))
  }

  /** Top-3 event types per hourly tumbling window — the "what's trending right
    * now" rollup. The rank runs over the (window, type) COUNTS, never raw
    * events: the only event-level shuffle is the partial-agg count, and
    * each window's ranking sorts at most |types| rows. Ties break on
    * event_type so the cut is deterministic in any engine. */
  def windowedTopK(events: DataFrame): DataFrame = {
    val (sizeMin, k) = (60, 3)
    val counts = events
      .groupBy(window(col("ts"), s"$sizeMin minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n"))
    val w = Window.partitionBy(col("win_start"))
      .orderBy(col("n").desc, col("event_type"))
    counts.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .orderBy(col("win_start"), col("rk"))
  }

  /** Per-user event-type Shannon entropy — the behavioral-diversity score
    * (bot/script accounts hammer one event type; organic users spread):
    * H = ln N − (Σ c·ln c)/N over the user's per-type counts c. Each
    * c·ln c is a deterministic double (same libm value in both engines —
    * the tx_unigram_logprob precedent), cast to DECIMAL(30,10) before the
    * sum so partial aggregation order can't move the 6-dp result.
    *
    * Shape at scale: two partial-agg groupBys — (user, type) counts, then
    * per-user rollup; state per user is |types| rows, independent of the
    * user's event volume. */
  def typeEntropy(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val c = events.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    c.groupBy(col("user_id"))
      .agg(sum(col("c")).as("n_events"),
        count(lit(1)).as("n_types"),
        round(
          log(sum(col("c")).cast("double")) -
            sum((col("c").cast("double") * log(col("c").cast("double")))
              .cast(DecimalType(30, 10))).cast("double") /
              sum(col("c")).cast("double"), 6).as("entropy"))
      .orderBy(col("user_id"))
  }

  /** Ordered conversion funnel: per user, the first `stages(0)` event, the
    * first `stages(1)` event STRICTLY after it, and so on — the
    * product-analytics "viewed, then clicked, then purchased, in that
    * order" cut. Returns one row per user with each stage's entry
    * timestamp (null once the chain breaks) and `funnel_stage` = number of
    * stages completed.
    *
    * Shape at scale: one filtered partial-agg groupBy per stage plus a
    * user-keyed equi-join chain — no window over raw events, no self-join
    * blow-up; each stage's state is one timestamp per user, so the whole
    * funnel costs |stages| bounded aggregations regardless of how many
    * events a hot user has. */
  def funnel(events: DataFrame, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    var acc = events.select(col("user_id")).distinct()
    var prev: Option[String] = None
    for (st <- stages) {
      val tcol = s"t_$st"
      val stageEvents = events.filter(col("event_type") === st)
      val reached = prev match {
        case None =>
          stageEvents.groupBy(col("user_id")).agg(min(col("ts")).as(tcol))
        case Some(p) =>
          stageEvents
            .join(acc.filter(col(s"t_$p").isNotNull)
              .select(col("user_id"), col(s"t_$p").as("__pt")), "user_id")
            .filter(col("ts") > col("__pt"))
            .groupBy(col("user_id")).agg(min(col("ts")).as(tcol))
      }
      acc = acc.join(reached, Seq("user_id"), "left")
      prev = Some(st)
    }
    // deepest non-null stage wins; stage i+1 implies stage i by construction
    val stageNum = stages.zipWithIndex.foldLeft(lit(0L)) {
      case (els, (st, i)) =>
        when(col(s"t_$st").isNotNull, lit((i + 1).toLong)).otherwise(els)
    }
    acc.withColumn("funnel_stage", stageNum).orderBy(col("user_id"))
  }

  /** Daily-volume anomaly detection: per event type, flag days whose
    * event count sits ≥ `zCut` sample standard deviations from that
    * type's daily mean — the monitoring cut an ingest pipeline alarms
    * on. The day key is integer µs-epoch floor arithmetic (engine-exact,
    * the retention() idiom); the moments are BIGINT sums of integer day
    * counts (order-independent, overflow-safe until a type logs ~3·10⁹
    * events per day); the z computation combines them in IEEE doubles
    * rounded at 6 dp — so the flagged set is reproducible anywhere.
    *
    * Shape at scale: one partial aggregation to (type, day) — the only
    * corpus-sized shuffle — then a |types|-row moment rollup broadcast
    * back over the |types·days| daily table. No windows, no self-join. */
  def dailyAnomaly(events: DataFrame): DataFrame =
    anomalyFromDaily(dailyCounts(events))

  /** The (event_type, day, n) daily count table — integer µs-epoch day
    * key (the retention() idiom), one partial-aggregated pass. Exposed so
    * the streaming twin can maintain the SAME table online and share
    * anomalyFromDaily verbatim. */
  def dailyCounts(events: DataFrame): DataFrame = {
    val dayUs = 24L * 3600L * 1000000L
    val tsUs = unix_micros(col("ts").cast("timestamp"))
    // tsUs - pmod is exactly divisible, so the double division is exact
    val day = ((tsUs - pmod(tsUs, lit(dayUs))) / lit(dayUs)).cast("long")
    events.select(col("event_type"), day.as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"))
  }

  /** z-score flags over an already-aggregated (event_type, day, n)
    * table. */
  def anomalyFromDaily(daily: DataFrame): DataFrame = {
    val zCut = 2.0
    // sample std-dev from exact integer moments; a single-day type has no
    // spread to measure and drops out (days >= 2), as does sd = 0
    val stats = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("days"), sum(col("n")).as("sx"),
        sum(col("n") * col("n")).as("sxx"))
      .filter(col("days") >= 2)
      .select(col("event_type"),
        (col("sx").cast("double") / col("days")).as("mean"),
        sqrt((col("sxx").cast("double") - col("sx").cast("double")
          * col("sx") / col("days")) / (col("days") - 1)).as("sd"))
    val z = round((col("n").cast("double") - col("mean")) / col("sd"), 6)
    daily.join(broadcast(stats), "event_type")
      .filter(col("sd") > 0)
      .select(col("event_type"), col("day"), col("n"), z.as("z"))
      .filter(abs(col("z")) >= zCut)
      .orderBy(col("event_type"), col("day"))
  }
}
