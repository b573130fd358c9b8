package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (temporal) join — the classic operator Spark's built-in join
  * surface lacks: for every left row, the single most recent right row of
  * the same key at or before the left row's time (backward direction; the
  * attribution/"last touch" join every event pipeline needs).
  *
  * Implementation is the scalable union-and-carry formulation, NOT a range
  * join: tag both inputs, union them, and carry the latest right payload
  * forward with a `last(_, ignoreNulls)` running window over
  * (key, time, side, seq). Cost is ONE shuffle on the key plus a
  * per-partition sort — no |left|×|right| candidate blow-up, no range
  * predicate for the optimizer to mis-plan, and skew follows the key's
  * natural event-count distribution. This is how you'd write it on a
  * 1000-executor cluster.
  */
object AsOf {

  /** Backward as-of join.
    *
    * @param by        equality keys present on both sides
    * @param leftTime  left event-time column
    * @param rightTime right event-time column
    * @param rightSeq  right tie-break column (e.g. an event id): among
    *                  right rows sharing (key, time), the LARGEST seq wins
    * @param rightCols right payload columns surfaced onto matches
    * @param prefix    prefix for the surfaced right columns
    *
    * Semantics: right rows with time <= left time are visible (ties
    * included — a right row AT the left row's timestamp matches). Left
    * rows with no visible right row get nulls, like a left join.
    */
  def backward(left: DataFrame, right: DataFrame, by: Seq[String],
               leftTime: String, rightTime: String, rightSeq: String,
               rightCols: Seq[String], prefix: String = "asof_"): DataFrame = {
    val lcols = left.columns.toSeq
    val l = left
      .withColumn("__t", col(leftTime))
      .withColumn("__side", lit(1))
      .withColumn("__seq", lit(Long.MaxValue))
    // NULL right seqs coalesce to Long.MaxValue — they win same-instant
    // ties, and (crucially) the convention matches the SQL oracle twin,
    // where Spark's native NULLS FIRST window ordering would not.
    // Precondition: non-null seq values < Long.MaxValue, else a null and a
    // MaxValue row at the same (key, time) tie nondeterministically.
    val r = right.select(
      by.map(col) ++ Seq(
        col(rightTime).as("__t"),
        lit(0).as("__side"),
        coalesce(col(rightSeq).cast("long"), lit(Long.MaxValue)).as("__seq"),
        struct(rightCols.map(col): _*).as("__rpay")): _*)
    // left side gains a null __rpay, right side gains null left columns
    val u = l.unionByName(r, allowMissingColumns = true)
    // right rows sort BEFORE left rows at the same instant (side 0 < 1), so
    // <= visibility falls out of the row ordering; __seq makes same-instant
    // right rows resolve deterministically to the largest seq
    val w = Window.partitionBy(by.map(col): _*)
      .orderBy(col("__t"), col("__side"), col("__seq"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    u.withColumn("__m", last(col("__rpay"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(lcols.map(col) ++
        rightCols.map(c => col(s"__m.$c").as(prefix + c)): _*)
  }

  /** Backward as-of join with a STALENESS BOUND — the feature-store read
    * rule ("use the latest feature value, but never one older than N"):
    * a carried match only counts when the right row lies within
    * one hour (`toleranceSec`) of the left row's time; staler matches are nulled
    * exactly like merge_asof's `tolerance`. Same single-shuffle
    * union-and-carry as `backward` — the bound is a map-side null-out
    * AFTER the carry (zero extra shuffle), plus a surfaced
    * `<prefix>staleness_us` column so pipelines can monitor feature lag.
    * The right time column is always surfaced (it is what the bound
    * tests); callers get it as `<prefix><rightTime>`. */
  def backwardWithin(left: DataFrame, right: DataFrame, by: Seq[String],
                     leftTime: String, rightTime: String, rightSeq: String,
                     rightCols: Seq[String],
                     prefix: String = "asof_"): DataFrame = {
    val toleranceSec = 3600L
    val lcols = left.columns.toSeq
    val carried = backward(left, right, by, leftTime, rightTime, rightSeq,
      (rightCols :+ rightTime).distinct, prefix)
    val lt = unix_micros(col(leftTime).cast("timestamp"))
    val rt = unix_micros(col(prefix + rightTime).cast("timestamp"))
    val fresh = rt.isNotNull && lt - rt <= toleranceSec * 1000000L
    carried.select(lcols.map(col) ++
      (rightCols :+ rightTime).distinct
        .map(c => when(fresh, col(prefix + c)).as(prefix + c)) :+
      when(fresh, lt - rt).as(prefix + "staleness_us"): _*)
  }

  /** Forward as-of join: for every left row, the single EARLIEST right row
    * of the same key at or after the left row's time (the "next touch"
    * direction of pandas/polars merge_asof). Same union-and-carry shape as
    * `backward` — one shuffle on the key, no range blow-up — with the
    * running window reversed: ordered by (t DESC, side, seq DESC) so the
    * carried payload is the nearest FUTURE right row, and same-instant
    * right rows resolve to the SMALLEST seq (the first to occur).
    * NULL right seqs coalesce to Long.MinValue (they win same-instant
    * ties under the reversed ordering — the mirror of backward's
    * convention); precondition: non-null seqs > Long.MinValue. */
  def forward(left: DataFrame, right: DataFrame, by: Seq[String],
              leftTime: String, rightTime: String, rightSeq: String,
              rightCols: Seq[String], prefix: String = "asof_"): DataFrame = {
    val lcols = left.columns.toSeq
    val l = left
      .withColumn("__t", col(leftTime))
      .withColumn("__side", lit(1))
      .withColumn("__seq", lit(Long.MinValue))
    val r = right.select(
      by.map(col) ++ Seq(
        col(rightTime).as("__t"),
        lit(0).as("__side"),
        coalesce(col(rightSeq).cast("long"), lit(Long.MinValue)).as("__seq"),
        struct(rightCols.map(col): _*).as("__rpay")): _*)
    val u = l.unionByName(r, allowMissingColumns = true)
    // right rows at the same instant sort BEFORE left rows (side 0 < 1)
    // under t DESC too, so >= visibility falls out of the ordering
    val w = Window.partitionBy(by.map(col): _*)
      .orderBy(col("__t").desc, col("__side"), col("__seq").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    u.withColumn("__m", last(col("__rpay"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(lcols.map(col) ++
        rightCols.map(c => col(s"__m.$c").as(prefix + c)): _*)
  }

  /** Nearest-in-time as-of join — either direction, smallest |Δt| wins
    * (ties, including a right row AT the left row's instant which both
    * directions see, resolve backward — the "latest known value" bias).
    * Completes the as-of family: backward / backwardWithin / forward /
    * nearest, the four merge_asof directions.
    *
    * Shape at scale: ONE shuffle — both directional carries are windows
    * over the SAME keyed union (same partitioning, opposite orderings, so
    * Spark plans one Exchange and two in-partition sorts), then a map-side
    * pick. Not a compose-and-join of backward + forward (that would
    * shuffle three times). Surfaces `<prefix>direction` ('back'/'fwd') and
    * `<prefix>delta_us` next to the chosen payload. */
  def nearest(left: DataFrame, right: DataFrame, by: Seq[String],
              leftTime: String, rightTime: String, rightSeq: String,
              rightCols: Seq[String], prefix: String = "asof_"): DataFrame = {
    val lcols = left.columns.toSeq
    val pay = (rightCols :+ rightTime).distinct
    val l = left
      .withColumn("__t", col(leftTime))
      .withColumn("__side", lit(1))
      .withColumn("__seqb", lit(Long.MaxValue))
      .withColumn("__seqf", lit(Long.MinValue))
    val r = right.select(
      by.map(col) ++ Seq(
        col(rightTime).as("__t"),
        lit(0).as("__side"),
        coalesce(col(rightSeq).cast("long"), lit(Long.MaxValue)).as("__seqb"),
        coalesce(col(rightSeq).cast("long"), lit(Long.MinValue)).as("__seqf"),
        struct(pay.map(col): _*).as("__rpay")): _*)
    val u = l.unionByName(r, allowMissingColumns = true)
    val wb = Window.partitionBy(by.map(col): _*)
      .orderBy(col("__t"), col("__side"), col("__seqb"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window.partitionBy(by.map(col): _*)
      .orderBy(col("__t").desc, col("__side"), col("__seqf").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lt = unix_micros(col(leftTime).cast("timestamp"))
    val bd = lt - unix_micros(col(s"__mb.$rightTime").cast("timestamp"))
    val fd = unix_micros(col(s"__mf.$rightTime").cast("timestamp")) - lt
    val back = col("__mf").isNull || (col("__mb").isNotNull && bd <= fd)
    val chosen = when(back, col("__mb")).otherwise(col("__mf"))
    u.withColumn("__mb", last(col("__rpay"), ignoreNulls = true).over(wb))
      .withColumn("__mf", last(col("__rpay"), ignoreNulls = true).over(wf))
      .filter(col("__side") === 1)
      .withColumn("__c", chosen)
      .select(lcols.map(col) ++
        rightCols.map(c => col(s"__c.$c").as(prefix + c)) ++ Seq(
          when(col("__c").isNotNull,
            when(back, lit("back")).otherwise(lit("fwd")))
            .as(prefix + "direction"),
          when(back, bd).otherwise(fd).as(prefix + "delta_us")): _*)
  }
}
