package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Data-quality operators — the validation gate a pipeline runs before a
  * table is admitted to a training corpus or a warehouse load: per-column
  * profiles, rule-based expectations, and referential-integrity checks.
  * The expectation style follows the public Deequ / Great Expectations
  * model (declare rules, count violations, pass/fail per rule), re-derived
  * on plain Spark aggregates.
  *
  * Scale notes: profile and expectations are ONE scan each — every metric
  * is a partial aggregate, and the per-column/per-rule fan-out happens on
  * the single aggregated row (an explode of |cols| structs, zero extra
  * data movement). Exact per-column distinct counts are the one expensive
  * leg (Spark plans multi-column countDistinct via Expand — rows × |cols|
  * into one shuffle); at 100 TB swap `approx_count_distinct` when an
  * estimate suffices — kept exact here so the DuckDB oracle can check it.
  */
object Quality {

  /** One-pass numeric profile: (col_name, n_rows, n_null, n_distinct,
    * min_v, max_v, mean_v) for each requested column. min/max/mean are
    * cast to double (numeric columns only); mean uses the davg decimal
    * discipline over non-null values. */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).as("__n") +: cols.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nn_$c"),
        countDistinct(col(c)).as(s"__nd_$c"),
        min(col(c)).cast(DoubleType).as(s"__mn_$c"),
        max(col(c)).cast(DoubleType).as(s"__mx_$c"),
        round(sum(col(c).cast(DecimalType(30, 10))).cast(DoubleType) /
          count(col(c)), 6).as(s"__avg_$c"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = cols.map { c =>
      struct(lit(c).as("col_name"), col("__n").as("n_rows"),
        col(s"__nn_$c").as("n_null"), col(s"__nd_$c").as("n_distinct"),
        col(s"__mn_$c").as("min_v"), col(s"__mx_$c").as("max_v"),
        col(s"__avg_$c").as("mean_v"))
    }
    one.select(explode(array(rows: _*)).as("p")).select(col("p.*"))
      .orderBy(col("col_name"))
  }

  /** Approximate profile for the 100 TB path: per column, the mergeable
    * integer-exact HLL table (col_name, bucket, max_rho, n_items) that
    * `profile`'s exact countDistinct stands in for at small scale. Where
    * multi-column countDistinct plans through Expand — the shuffle carries
    * rows × |cols| distinct values — this explodes per-row (col, bucket,
    * rho) triples MAP-SIDE into a partial max/count, so the exchange
    * carries at most partitions × |cols| × m rows regardless of data size,
    * and per-day/per-shard profiles merge by max(max_rho)/sum(n_items)
    * without rescanning. n_items counts non-null values (nulls carry no
    * identity, so they are excluded from the sketch — pair with
    * `profile`'s n_null for the null census). Point estimates read each
    * column's slice as an hllSketch (see [[Sketch.hllErrorAudit]]).
    *
    * Columns must render identically as strings in every engine that
    * checks the sketch (integers / strings / dates — not raw doubles,
    * whose formatting is engine-specific). */
  def profileApprox(df: DataFrame, cols: Seq[String]): DataFrame = {
    // Hash ONCE per (row, column), fan out as a PRIMITIVE long array via
    // posexplode (the position doubles as the column index), and group on
    // (int, int) — no per-row structs, no string group key in the 36M-row
    // hash-aggregate probe path. col_name is re-attached on the |cols|·m
    // aggregated rows.
    val hashes = cols.map(c =>
      when(col(c).isNotNull, Dedup.seededHash(7, col(c))))
    val (bucket, rho) = Sketch.bucketRhoFromHash(col("h"))
    val name = cols.zipWithIndex.foldLeft(lit(null).cast("string")) {
      case (acc, (c, i)) => when(col("ci") === i, lit(c)).otherwise(acc)
    }
    df.select(posexplode(array(hashes: _*)).as(Seq("ci", "h")))
      .filter(col("h").isNotNull)
      .select(col("ci"), bucket.as("bucket"), rho.as("rho"))
      .groupBy(col("ci"), col("bucket"))
      .agg(max(col("rho")).as("max_rho"), count(lit(1)).as("n_items"))
      .select(name.as("col_name"), col("bucket"), col("max_rho"),
        col("n_items"))
      .orderBy(col("col_name"), col("bucket"))
  }

  /** Rule-based expectations: each rule is (name, predicate); a row
    * violates a rule when the predicate is NOT true (null counts as a
    * violation — an unknown is not a pass). Emits (rule, n_rows,
    * n_violations, pass), one row per rule, from a single scan. */
  def expectations(df: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    val aggs = count(lit(1)).as("__n") +: rules.map { case (n, c) =>
      sum(when(coalesce(c, lit(false)), 0L).otherwise(1L)).as(s"__v_$n")
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = rules.map { case (n, _) =>
      struct(lit(n).as("rule"), col("__n").as("n_rows"),
        col(s"__v_$n").as("n_violations"),
        (col(s"__v_$n") === 0L).as("pass"))
    }
    one.select(explode(array(rows: _*)).as("r")).select(col("r.*"))
      .orderBy(col("rule"))
  }

  /** k-anonymity / l-diversity release audit (Sweeney 2002; Machanavajjhala
    * et al. 2007): group the table by its quasi-identifier columns — the
    * attributes an attacker can link from outside — and measure how small
    * the equivalence classes get (k) and how uniform the sensitive
    * attribute is within them (l). A class of size 1 is a re-identified
    * individual; a class with one sensitive value leaks it even at high k.
    * This is the gate a training corpus derived from user data runs before
    * release, next to the PII scrub.
    *
    * Emits the class-SIZE census, not the classes: (class_size,
    * n_classes, n_rows, min_l_div, classes_l1) ordered by size — the
    * artifact is bounded by the number of DISTINCT class sizes (≤ √(2n)
    * regardless of table size) while still answering both audit
    * questions (risk mass below any k = prefix-sum; worst l at any size
    * = min_l_div). Two shuffles: the quasi rollup (corpus-sized keys),
    * then the bounded census. */
  def kAnonymity(df: DataFrame, quasi: Seq[String],
                 sensitive: String): DataFrame =
    df.groupBy(quasi.map(col): _*)
      .agg(count(lit(1)).as("class_size"),
        countDistinct(col(sensitive)).as("l_div"))
      .groupBy(col("class_size"))
      .agg(count(lit(1)).as("n_classes"),
        min(col("l_div")).as("min_l_div"),
        sum(when(col("l_div") === 1L, 1L).otherwise(0L)).as("classes_l1"))
      .select(col("class_size"), col("n_classes"),
        (col("class_size") * col("n_classes")).as("n_rows"),
        col("min_l_div"), col("classes_l1"))
      .orderBy(col("class_size"))

  /** Population-Stability-Index drift gate: compare the (event_type ×
    * value-decile) distribution of the stream's EARLY half against its
    * LATE half — the standard go/no-go check before a new data window is
    * admitted to a training mix or a model is left in production.
    * PSI_type = Σ_bins (p_early − p_late)·ln(p_early/p_late), add-one
    * smoothed over the FULL fixed bin space (absent bins contribute their
    * smoothed mass); >0.2 conventionally flags actionable drift.
    *
    * Scale shape: one bounds aggregate (one broadcast row), one map-side
    * binning pass, and aggregates over |types|×`bins` cells — nothing
    * grows with the stream beyond the single scan. Halves are split by
    * 2·ts ≥ t0+t1 (integer epoch-µs arithmetic, no midpoint division);
    * the per-type sum runs through DECIMAL (order-independent, the
    * tx_unigram_logprob discipline). */
  def psiDrift(events: DataFrame, bins: Int = 10): DataFrame = {
    // loader hands ts as TIMESTAMP_NTZ; unix_micros wants TIMESTAMP — the
    // UTC session cast is instant-preserving (the Events-pack convention)
    val tsUs = unix_micros(col("ts").cast("timestamp"))
    val bounds = events.agg(min(tsUs).as("t0"), max(tsUs).as("t1"),
      min(col("value")).as("v0"), max(col("value")).as("v1"))
    val cells = events.crossJoin(broadcast(bounds))
      .select(col("event_type"),
        (tsUs * 2 >= col("t0") + col("t1")).as("late"),
        least(floor((col("value") - col("v0")) /
            (col("v1") - col("v0")) * bins),
          lit((bins - 1).toDouble)).cast("long").as("bin"))
      .groupBy(col("event_type"), col("bin"))
      .agg(sum(when(col("late"), 0L).otherwise(1L)).as("ce"),
        sum(when(col("late"), 1L).otherwise(0L)).as("cl"))
    // Enumerate the full (type × bin) grid so bins observed in neither
    // half still carry their smoothed term — PSI is defined over the
    // fixed bin space, not the support of the sample.
    val grid = events.select(col("event_type")).distinct()
      .select(col("event_type"),
        explode(sequence(lit(0L), lit((bins - 1).toLong))).as("bin"))
    val full = grid.join(cells, Seq("event_type", "bin"), "left")
      .select(col("event_type"), col("bin"),
        coalesce(col("ce"), lit(0L)).as("ce"),
        coalesce(col("cl"), lit(0L)).as("cl"))
    val tots = full.groupBy(col("event_type"))
      .agg(sum(col("ce")).as("te"), sum(col("cl")).as("tl"))
    val pe = (col("ce") + 1).cast(DoubleType) / (col("te") + bins)
    val pl = (col("cl") + 1).cast(DoubleType) / (col("tl") + bins)
    full.join(broadcast(tots), Seq("event_type"))
      .select(col("event_type"), col("te"), col("tl"),
        ((pe - pl) * log(pe / pl)).cast(DecimalType(30, 10)).as("term"))
      .groupBy(col("event_type"))
      .agg(max(col("te")).as("n_early"), max(col("tl")).as("n_late"),
        round(sum(col("term")), 6).cast(DoubleType).as("psi"))
      .orderBy(col("event_type"))
  }

  /** Binned two-sample Kolmogorov–Smirnov drift statistic — psiDrift's
    * shape-sensitive sibling: D = sup over the binned value axis of
    * |ECDF_early − ECDF_late| per event_type. PSI reacts to mass
    * re-weighting between bins; KS catches location/shape shifts PSI's
    * coarse 10-bin smoothing can dilute. Binned at `bins` cells, so the
    * approximation error is ≤ 1/bins of CDF resolution and the cumulative
    * window is over ≤ `bins` rows per type — never a global sort of the
    * stream (the exact-KS formulation would window over every event).
    * Same integer half-split and identical-expression binning as psiDrift;
    * null values drop from both halves symmetrically. */
  def ksDrift(events: DataFrame, bins: Int = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tsUs = unix_micros(col("ts").cast("timestamp"))
    val bounds = events.agg(min(tsUs).as("t0"), max(tsUs).as("t1"),
      min(col("value")).as("v0"), max(col("value")).as("v1"))
    val cells = events.crossJoin(broadcast(bounds))
      .select(col("event_type"),
        (tsUs * 2 >= col("t0") + col("t1")).as("late"),
        least(floor((col("value") - col("v0")) /
            (col("v1") - col("v0")) * bins),
          lit((bins - 1).toDouble)).cast("long").as("bin"))
      .filter(col("bin").isNotNull)
      .groupBy(col("event_type"), col("bin"))
      .agg(sum(when(col("late"), 0L).otherwise(1L)).as("ce"),
        sum(when(col("late"), 1L).otherwise(0L)).as("cl"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tots = cells.groupBy(col("event_type"))
      .agg(sum(col("ce")).as("te"), sum(col("cl")).as("tl"))
    cells
      .withColumn("cce", sum(col("ce")).over(w))
      .withColumn("ccl", sum(col("cl")).over(w))
      .join(broadcast(tots), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(max(col("te")).as("n_early"), max(col("tl")).as("n_late"),
        round(max(abs(col("cce").cast(DoubleType) / col("te") -
          col("ccl").cast(DoubleType) / col("tl"))), 6).as("ks"))
      .orderBy(col("event_type"))
  }

  /** Referential-integrity check for one FK edge: how many child rows have
    * no parent (a NULL fk counts as an orphan — it references nothing).
    * Parent keys are made distinct first, so the join fans out at most
    * once per child row; Catalyst broadcasts bounded parent key sets and
    * falls back to a shuffle join when the parent is itself huge. */
  def refCheck(relation: String, child: DataFrame, fk: String,
               parent: DataFrame, pk: String): DataFrame = {
    val p = parent.select(col(pk).as(fk)).distinct()
      .withColumn("__hit", lit(1))
    child.select(col(fk)).join(p, Seq(fk), "left")
      .agg(count(lit(1)).as("n_child"),
        sum(when(col("__hit").isNull, 1L).otherwise(0L)).as("n_orphans"))
      .select(lit(relation).as("relation"), col("n_child"),
        col("n_orphans"), (col("n_orphans") === 0L).as("ok"))
  }
}
