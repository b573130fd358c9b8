package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Analytic-surface queries beyond the reference's operator set: window
  * functions, hierarchical rollup, and wide-table joins. The reference has
  * no window/grouping-set machinery (SURVEY.md §2.5 note) — a user
  * switching engines gets them from Spark for free; these queries pin the
  * semantics and keep the plans honest.
  */
object Analytics extends QueryPack {

  val queries: Map[String, QFn] = Map(
    // Running (cumulative) total per customer in event order. Decimal-exact
    // accumulation so partition-order evaluation matches the oracle.
    "w1_running_total" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"o_custkey")
        .orderBy($"o_orderdate", $"o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      table(s, dir, "orders")
        .select($"o_custkey", $"o_orderkey", $"o_orderdate",
          round(sum($"o_totalprice".cast(DecimalType(30, 10))).over(w), 2)
            .cast(DoubleType).as("running_total"))
        .orderBy($"o_custkey", $"o_orderdate", $"o_orderkey")
    }),

    // Ranking family: rank / dense_rank / quartile per customer by spend.
    "w2_rank" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"o_custkey")
        .orderBy($"o_totalprice".desc, $"o_orderkey")
      table(s, dir, "orders")
        .select($"o_custkey", $"o_orderkey", $"o_totalprice",
          rank().over(w).cast("long").as("rnk"),
          dense_rank().over(w).cast("long").as("drnk"),
          ntile(4).over(w).cast("long").as("quartile"))
        .orderBy($"o_custkey", $"rnk", $"o_orderkey")
    }),

    // lag/lead: days since a customer's previous order.
    "w3_lag_gap" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"o_custkey")
        .orderBy($"o_orderdate", $"o_orderkey")
      table(s, dir, "orders")
        .select($"o_custkey", $"o_orderkey",
          datediff($"o_orderdate", lag($"o_orderdate", 1).over(w))
            .cast("long").as("gap_days"))
        .orderBy($"o_custkey", $"o_orderkey")
    }),

    // TPC-H Q5 shape: revenue per nation within one region, where the
    // SUPPLIER and the CUSTOMER share the nation — the classic cyclic-join
    // benchmark query. The region filter semi-reduces nation -> supplier
    // BEFORE any fact row moves (the dims broadcast), so lineitem is cut to
    // the region's suppliers map-side; the only big shuffle is
    // lineitem⋈orders on orderkey. At 100 TB customer stops broadcasting
    // and AQE picks the shuffle join — the plan shape survives.
    "q5_region_revenue" -> ((s, dir) => {
      import s.implicits._
      val li = table(s, dir, "lineitem")
        .select($"l_orderkey", $"l_suppkey", $"l_extendedprice", $"l_discount")
      val o = table(s, dir, "orders").select($"o_orderkey", $"o_custkey")
      val c = table(s, dir, "customer").select($"c_custkey", $"c_nationkey")
      val sup = table(s, dir, "supplier").select($"s_suppkey", $"s_nationkey")
      val n = table(s, dir, "nation")
        .select($"n_nationkey", $"n_regionkey", $"n_name")
      val r = table(s, dir, "region").filter($"r_name" === "ASIA")
        .select($"r_regionkey")
      val asiaSup = sup
        .join(broadcast(n.join(broadcast(r), $"n_regionkey" === $"r_regionkey")
          .select($"n_nationkey", $"n_name")),
          $"s_nationkey" === $"n_nationkey")
      li.join(broadcast(asiaSup), $"l_suppkey" === $"s_suppkey")
        .join(o, $"l_orderkey" === $"o_orderkey")
        .join(broadcast(c),
          $"o_custkey" === $"c_custkey" && $"c_nationkey" === $"s_nationkey")
        .groupBy($"n_name")
        .agg(dsum($"l_extendedprice" * (lit(1) - $"l_discount")).as("revenue"),
          count(lit(1)).as("n"))
        .orderBy($"n_name")
    }),

    // TPC-H Q7 shape: bilateral trade flow between two nations by ship
    // year — supplier in one, customer in the other, both directions. The
    // nation filter semi-reduces BOTH dim sides before any fact row moves;
    // lineitem is cut to the two nations' suppliers map-side.
    "q7_trade_flow" -> ((s, dir) => {
      import s.implicits._
      val pair = Seq("NATION_1", "NATION_2")
      val li = table(s, dir, "lineitem")
        .select($"l_orderkey", $"l_suppkey", $"l_extendedprice",
          $"l_discount", $"l_shipdate")
      val o = table(s, dir, "orders").select($"o_orderkey", $"o_custkey")
      val n = table(s, dir, "nation")
        .filter($"n_name".isin(pair: _*))
        .select($"n_nationkey", $"n_name")
      val sn = table(s, dir, "supplier").select($"s_suppkey", $"s_nationkey")
        .join(broadcast(n), $"s_nationkey" === $"n_nationkey")
        .select($"s_suppkey", $"n_name".as("supp_nation"))
      val cn = table(s, dir, "customer").select($"c_custkey", $"c_nationkey")
        .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
        .select($"c_custkey", $"n_name".as("cust_nation"))
      li.join(broadcast(sn), $"l_suppkey" === $"s_suppkey")
        .join(o, $"l_orderkey" === $"o_orderkey")
        .join(broadcast(cn), $"o_custkey" === $"c_custkey")
        .filter($"supp_nation" =!= $"cust_nation")
        .groupBy($"supp_nation", $"cust_nation",
          year($"l_shipdate").cast("long").as("l_year"))
        .agg(dsum($"l_extendedprice" * (lit(1) - $"l_discount")).as("revenue"),
          count(lit(1)).as("n"))
        .orderBy($"supp_nation", $"cust_nation", $"l_year")
    }),

    // Whole-partition frame semantics: first/last/nth over UNBOUNDED
    // PRECEDING..UNBOUNDED FOLLOWING (last_value under the default frame is
    // the running last — the classic off-by-a-frame bug this query pins).
    "w4_first_last" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"o_custkey")
        .orderBy($"o_orderdate", $"o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      table(s, dir, "orders")
        .select($"o_custkey", $"o_orderkey",
          first($"o_orderkey").over(w).as("first_key"),
          last($"o_orderkey").over(w).as("last_key"),
          nth_value($"o_orderkey", 2).over(w).as("second_key"))
        .orderBy($"o_custkey", $"o_orderkey")
    }),

    // Distribution windows: percent_rank ((rank−1)/(n−1)) and cume_dist
    // (peers included) per customer by spend — both defined identically
    // in every engine, exact-integer ratios rounded at 6 dp.
    "w6_distribution" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"o_custkey")
        .orderBy($"o_totalprice", $"o_orderkey")
      table(s, dir, "orders")
        .select($"o_custkey", $"o_orderkey", $"o_totalprice",
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cume"))
        .orderBy($"o_custkey", $"o_orderkey")
    }),

    // TPC-H Q10 shape: revenue lost to returned items per customer, top
    // 20 — the join funnels through the RETURNFLAG filter first (pushed
    // to the scan), dims broadcast, and the top-k is a single ordered
    // limit over the |customers|-sized aggregate, tie-broken on custkey.
    "q10_returned_items" -> ((s, dir) => {
      import s.implicits._
      val li = table(s, dir, "lineitem")
        .filter($"l_returnflag" === "R")
        .select($"l_orderkey", $"l_extendedprice", $"l_discount")
      val o = table(s, dir, "orders").select($"o_orderkey", $"o_custkey")
      val c = table(s, dir, "customer")
        .select($"c_custkey", $"c_name", $"c_nationkey")
      val n = table(s, dir, "nation").select($"n_nationkey", $"n_name")
      li.join(o, $"l_orderkey" === $"o_orderkey")
        .join(broadcast(c), $"o_custkey" === $"c_custkey")
        .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
        .groupBy($"c_custkey", $"c_name", $"n_name")
        .agg(dsum($"l_extendedprice" * (lit(1) - $"l_discount")).as("revenue"),
          count(lit(1)).as("n"))
        .orderBy($"revenue".desc, $"c_custkey")
        .limit(20)
    }),

    // RANGE frame over event-time: each order's trailing-30-day spend per
    // customer — the rolling-window shape ROWS frames get wrong (peers at
    // the same day must all join the frame, and gaps must not shrink it).
    // The order key is integer days-since-epoch so the frame bound is
    // exact arithmetic in any engine.
    "w5_rolling_30d" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types.DecimalType
      val days = datediff($"o_orderdate", to_date(lit("1970-01-01")))
        .cast("long")
      val w = Window.partitionBy($"o_custkey").orderBy(days)
        .rangeBetween(-29, 0)
      table(s, dir, "orders")
        .select($"o_custkey", $"o_orderkey", $"o_orderdate",
          round(sum($"o_totalprice".cast(DecimalType(30, 10))).over(w), 2)
            .cast(DoubleType).as("rolling_30d"),
          count(lit(1)).over(w).as("n_30d"))
        .orderBy($"o_custkey", $"o_orderkey")
    }),

    // Pearson correlation per group, decimal-exact: the five sums
    // accumulate as DECIMAL(30,10) (order-independent), the closed-form
    // combines them in doubles (every op IEEE-deterministic, sqrt
    // correctly rounded) — built-in corr() uses a streaming co-moment
    // update whose float order differs between engines, so the closed form
    // over exact sums is the only hash-matchable formulation.
    "st2_corr" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types.DecimalType
      val d = DecimalType(30, 10)
      table(s, dir, "lineitem")
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum($"l_quantity".cast(d)).cast(DoubleType).as("sx"),
          sum($"l_extendedprice".cast(d)).cast(DoubleType).as("sy"),
          sum(($"l_quantity" * $"l_extendedprice").cast(d)).cast(DoubleType).as("sxy"),
          sum(($"l_quantity" * $"l_quantity").cast(d)).cast(DoubleType).as("sxx"),
          sum(($"l_extendedprice" * $"l_extendedprice").cast(d)).cast(DoubleType).as("syy"))
        // zero-variance guard (mirrored in the oracle): a constant column
        // makes the denominator 0 — Spark NULLs, DuckDB ±inf/nan
        .filter($"n".cast(DoubleType) * $"sxx" - $"sx" * $"sx" > 0 &&
                $"n".cast(DoubleType) * $"syy" - $"sy" * $"sy" > 0)
        .select($"l_returnflag", $"n",
          rz(($"n".cast(DoubleType) * $"sxy" - $"sx" * $"sy") /
            (sqrt($"n".cast(DoubleType) * $"sxx" - $"sx" * $"sx") *
             sqrt($"n".cast(DoubleType) * $"syy" - $"sy" * $"sy")), 6)
            .as("corr_qty_price"))
        .orderBy($"l_returnflag")
    }),

    // Per-group simple OLS (price on quantity): slope / intercept / R²
    // from the same five decimal-exact moments st2_corr uses — the
    // closed form over order-independent sums is the only formulation
    // whose 6-dp result survives partial aggregation AND matches a SQL
    // re-derivation (built-in regr_slope streams float co-moments).
    "st4_linreg" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types.DecimalType
      val d = DecimalType(30, 10)
      val nd = $"n".cast(DoubleType)
      val cov = nd * $"sxy" - $"sx" * $"sy"
      val varx = nd * $"sxx" - $"sx" * $"sx"
      val vary = nd * $"syy" - $"sy" * $"sy"
      val slope = cov / varx
      table(s, dir, "lineitem")
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum($"l_quantity".cast(d)).cast(DoubleType).as("sx"),
          sum($"l_extendedprice".cast(d)).cast(DoubleType).as("sy"),
          sum(($"l_quantity" * $"l_extendedprice").cast(d)).cast(DoubleType).as("sxy"),
          sum(($"l_quantity" * $"l_quantity").cast(d)).cast(DoubleType).as("sxx"),
          sum(($"l_extendedprice" * $"l_extendedprice").cast(d)).cast(DoubleType).as("syy"))
        // zero-variance guard (mirrored in the oracle): slope divides by
        // varx, r² by varx·vary — Spark NULLs on 0, DuckDB ±inf/nan
        .filter(varx > 0 && vary > 0)
        .select($"l_returnflag", $"n",
          rz(slope, 6).as("slope"),
          rz(($"sy" - slope * $"sx") / nd, 6).as("intercept"),
          rz(cov * cov / (varx * vary), 6).as("r2"))
        .orderBy($"l_returnflag")
    }),

    // Hierarchical rollup over the star join: region -> nation -> total.
    "r1_rollup" -> ((s, dir) => {
      import s.implicits._
      val li = table(s, dir, "lineitem")
      val o = table(s, dir, "orders")
      val c = table(s, dir, "customer")
      val n = table(s, dir, "nation")
      val r = table(s, dir, "region")
      li.join(o, $"l_orderkey" === $"o_orderkey")
        .join(broadcast(c), $"o_custkey" === $"c_custkey")
        .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(r), $"n_regionkey" === $"r_regionkey")
        .rollup($"r_name", $"n_name")
        .agg(dsum($"l_extendedprice").as("revenue"), count(lit(1)).as("n"))
        .orderBy($"r_name".asc_nulls_first, $"n_name".asc_nulls_first)
    }),

    // Cube: every grouping combination of (status, priority) — the full
    // 2^k lattice, where rollup covers only the hierarchy prefixes.
    "cb1_cube" -> ((s, dir) => {
      import s.implicits._
      table(s, dir, "orders")
        .cube($"o_orderstatus", $"o_orderpriority")
        .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("total"))
        .orderBy($"o_orderstatus".asc_nulls_first, $"o_orderpriority".asc_nulls_first)
    }),

    // Wide-table join (part): promo revenue share per brand. The part dim
    // broadcasts; the lineitem side carries only 3 columns.
    "pt1_promo_share" -> ((s, dir) => {
      import s.implicits._
      val li = table(s, dir, "lineitem")
        .select($"l_partkey", $"l_extendedprice", $"l_discount")
      val p = broadcast(table(s, dir, "part").select($"p_partkey", $"p_brand", $"p_type"))
      li.join(p, $"l_partkey" === $"p_partkey")
        .groupBy($"p_brand")
        .agg(
          dsum(when($"p_type".startsWith("PROMO"),
            $"l_extendedprice" * (lit(1) - $"l_discount")).otherwise(lit(0.0)))
            .as("promo_rev"),
          dsum($"l_extendedprice" * (lit(1) - $"l_discount")).as("total_rev"),
          count(lit(1)).as("n"))
        .orderBy($"p_brand")
    }),

    // Exact interpolated percentiles per group (Spark `percentile` and
    // DuckDB `quantile_cont` share the (n-1)*p linear-interpolation
    // definition — verified bit-identical at 6 dp).
    // Robust outlier gate: median + MAD per event_type, flag values past
    // 3σ-equivalent (3·1.4826·MAD). Medians are exact interpolated
    // percentiles (the st1 parity contract), rounded 6 dp before the
    // comparison pass so both engines cut on identical constants; two
    // bounded broadcast joins, no window.
    "st5_mad" -> ((s, dir) => {
      import s.implicits._
      val ev = table(s, dir, "events").select($"event_type", $"value")
      val med = ev.groupBy($"event_type")
        .agg(round(expr("percentile(value, 0.5)"), 6).as("med"))
      val withMed = ev.join(broadcast(med), Seq("event_type"))
      val mad = withMed.groupBy($"event_type")
        .agg(round(expr("percentile(abs(value - med), 0.5)"), 6).as("mad"))
      withMed.join(broadcast(mad), Seq("event_type"))
        .groupBy($"event_type")
        .agg(max($"med").as("med"), max($"mad").as("mad"),
          count(lit(1)).as("n"),
          sum(when(abs($"value" - $"med") > $"mad" * 4.4478, 1L)
            .otherwise(0L)).as("n_outliers"))
        .orderBy($"event_type")
    }),

    "st1_percentile" -> ((s, dir) => {
      import s.implicits._
      table(s, dir, "orders")
        .groupBy($"o_orderstatus")
        .agg(
          round(expr("percentile(o_totalprice, 0.5)"), 6).as("p50"),
          round(expr("percentile(o_totalprice, 0.9)"), 6).as("p90"),
          count(lit(1)).as("n"))
        .orderBy($"o_orderstatus")
    }),

    // Distribution-position windows completing w1–w6: percent_rank /
    // cume_dist / decile per status — in integer ppm off rank/row_number/
    // count (ratios of small integers are exactly where round(double)
    // lands on .5 ties; the builtins return doubles, so the integer
    // forms are computed directly). Deterministic total order via the
    // orderkey tiebreak; ntile follows the SQL-standard larger-groups-
    // first rule in both engines.
    //
    // TWO-LEVEL ranking, not a status-partitioned window: o_orderstatus
    // has 3 values, so `Window.partitionBy(status)` funnels the whole
    // table through 3 giant sort partitions — semantically forced only
    // in APPEARANCE. Because the tiebreak (o_orderkey) is unique, every
    // window function here is a pure function of the row's global
    // position rn, and rn decomposes: bucket the sort key into fixed
    // arithmetic price ranges (ties can't span buckets), rank LOCALLY
    // within (status, bucket) — hundreds of bounded sort partitions —
    // and add the bucket's offset from a tiny broadcast census.
    // rank == row_number (unique tiebreak), cume/percent_rank are rn/n
    // ppm ratios, and ntile(10) is closed-form from (rn, n) under the
    // SQL-standard larger-groups-first rule: the first n%10 tiles carry
    // ⌈n/10⌉ rows, the rest ⌊n/10⌋ (the ELSE branch divides by n DIV 10,
    // which is only reachable when n ≥ 10 — CASE short-circuits the
    // n < 10 corpus where every tile holds one row).
    "w7_percent_rank" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val o = table(s, dir, "orders")
        .select($"o_orderstatus", $"o_orderkey", $"o_totalprice")
        .withColumn("bkt", floor($"o_totalprice" / 8192.0).cast("long"))
      val census = o.groupBy($"o_orderstatus", $"bkt")
        .agg(count(lit(1)).as("bn"))
      val wOff = Window.partitionBy($"o_orderstatus").orderBy($"bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wTot = Window.partitionBy($"o_orderstatus")
      val offsets = census.select($"o_orderstatus", $"bkt",
        coalesce(sum($"bn").over(wOff), lit(0L)).as("off"),
        sum($"bn").over(wTot).as("n"))
      val wLoc = Window.partitionBy($"o_orderstatus", $"bkt")
        .orderBy($"o_totalprice", $"o_orderkey")
      o.join(broadcast(offsets), Seq("o_orderstatus", "bkt"))
        .withColumn("rn", $"off" + row_number().over(wLoc))
        .select($"o_orderstatus", $"o_orderkey", $"o_totalprice",
          // single-row partition guard: percent_rank's defined value is 0
          // when n = 1 (the DIV would otherwise be x/0 -> NULL)
          expr("CASE WHEN n > 1 THEN ((rn - 1) * 1000000) DIV (n - 1) ELSE 0 END")
            .as("pr_ppm"),
          expr("(rn * 1000000) DIV n").as("cume_ppm"),
          expr("""CASE WHEN rn <= (n % 10) * (n DIV 10 + 1)
                  THEN (rn - 1) DIV (n DIV 10 + 1) + 1
                  ELSE (n % 10) + (rn - (n % 10) * (n DIV 10 + 1) - 1) DIV (n DIV 10) + 1
                  END""").as("decile"))
        .orderBy($"o_orderstatus", $"o_orderkey")
    }),

    // TPC-H Q18 shape (large-volume customers): a HAVING-filtered
    // aggregate of the big table drives a semi-join back onto orders and
    // customers, distributed top-k cut. The groupBy partial-aggregates on
    // l_orderkey; only qualifying orders (~1%) reach the joins.
    "q18_large_orders" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types.DecimalType
      val big = table(s, dir, "lineitem")
        .groupBy($"l_orderkey")
        .agg(sum($"l_quantity".cast(DecimalType(30, 10))).cast("double")
          .as("sum_qty"))
        .filter($"sum_qty" > 260.0)
      table(s, dir, "orders")
        .join(big, $"o_orderkey" === $"l_orderkey")
        .join(table(s, dir, "customer"), $"o_custkey" === $"c_custkey")
        .select($"c_name", $"o_orderkey", $"o_totalprice", $"sum_qty")
        .orderBy($"o_totalprice".desc, $"o_orderkey")
        .limit(100)
    }),

    // Robust aggregation: 5/95-percentile caps per group, winsorized mean
    // (values clamped to the caps) and trimmed mean (values outside them
    // dropped) — the outlier-insensitive summary a metrics pipeline
    // publishes next to the raw mean. Caps ride the broadcast per-group
    // row (the st5_mad posture); both means use the decimal-exact davg
    // discipline. Clamp comparisons are boundary-safe: a value equal to a
    // cap is unchanged by clamping and included by trimming in both
    // engines.
    "st6_winsorize" -> ((s, dir) => {
      import s.implicits._
      val o = table(s, dir, "orders").select($"o_orderstatus", $"o_totalprice")
      val caps = o.groupBy($"o_orderstatus").agg(
        round(expr("percentile(o_totalprice, 0.05)"), 6).as("lo_cap"),
        round(expr("percentile(o_totalprice, 0.95)"), 6).as("hi_cap"))
      val kept = $"o_totalprice" >= $"lo_cap" && $"o_totalprice" <= $"hi_cap"
      o.join(broadcast(caps), Seq("o_orderstatus"))
        .groupBy($"o_orderstatus", $"lo_cap", $"hi_cap")
        .agg(count(lit(1)).as("n"),
          davg(greatest(least($"o_totalprice", $"hi_cap"), $"lo_cap"))
            .as("win_mean"),
          sum(when(kept, 1L).otherwise(0L)).as("n_kept"),
          round(sum(when(kept, $"o_totalprice")
              .cast(org.apache.spark.sql.types.DecimalType(30, 10)))
            .cast("double") / sum(when(kept, 1L).otherwise(0L)), 6)
            .as("trim_mean"))
        .select($"o_orderstatus", $"n", $"lo_cap", $"hi_cap",
          $"win_mean", $"n_kept", $"trim_mean")
        .orderBy($"o_orderstatus")
    }),

    // SQL entry surface + GROUPING SETS (finer than rollup/cube): the query
    // text goes through Spark's parser over temp views — same Catalyst plan
    // machinery as the DataFrame API. NULLS FIRST pinned explicitly (Spark
    // defaults ASC NULLS FIRST, DuckDB NULLS LAST).
    "gs1_grouping_sets" -> ((s, dir) => {
      // view name keyed by SF: the session-global temp view would race two
      // concurrent scale factors on one SparkSession
      val view = "orders_v_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      table(s, dir, "orders").createOrReplaceTempView(view)
      s.sql(s"""
        SELECT o_orderstatus, o_orderpriority, count(*) AS n,
          CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,10))), 2) AS DOUBLE) AS total
        FROM $view
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderstatus, o_orderpriority), ())
        ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""")
    }),

    // Pivot: order revenue by nation × order-quarter, quarters to columns.
    // Explicit pivot values keep the plan single-pass (no distinct-scan).
    "pv1_pivot" -> ((s, dir) => {
      import s.implicits._
      val o = table(s, dir, "orders")
      val c = table(s, dir, "customer")
      val n = table(s, dir, "nation")
      o.join(broadcast(c), $"o_custkey" === $"c_custkey")
        .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
        .groupBy($"n_name")
        .pivot(quarter($"o_orderdate"), Seq(1, 2, 3, 4))
        .agg(dsum($"o_totalprice"))
        .withColumnsRenamed(Map("1" -> "q1", "2" -> "q2", "3" -> "q3", "4" -> "q4"))
        .orderBy($"n_name")
    }),

    // Salted two-phase aggregation over a power-law key (3 return flags
    // across 600k rows): partial agg on (key, salt) caps any one task's
    // share of a hot key; the final agg merges 3×salt tiny partials.
    // Decimal partials make the two phases compose exactly.
    // Salted equi-join (known-skew mitigation): result identical to the
    // plain join — the oracle is the unsalted SQL join — but every hot
    // suppkey spans `salt` tasks.
    "sk2_salted_join" -> ((s, dir) => {
      import s.implicits._
      val big = table(s, dir, "lineitem")
        .select($"l_suppkey".as("suppkey"), $"l_quantity")
      val small = table(s, dir, "supplier")
        .select($"s_suppkey".as("suppkey"), $"s_name")
      graft.ops.Skew.saltedJoin(big, small, key = "suppkey", salt = 8)
        .groupBy($"s_name")
        .agg(count(lit(1)).as("n"), dsum($"l_quantity").as("sum_qty"))
        .orderBy($"s_name")
    }),

    "sk1_skew_agg" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types.DecimalType
      graft.ops.Skew.twoPhaseAgg(
        table(s, dir, "lineitem").select($"l_returnflag", $"l_quantity"),
        key = Seq("l_returnflag"), salt = 16,
        partial = Seq(
          sum($"l_quantity".cast(DecimalType(30, 10))).as("ps"),
          count(lit(1)).as("pc")),
        merge = Seq(
          round(sum($"ps"), 2).cast(DoubleType).as("sum_qty"),
          sum($"pc").as("n")))
        .orderBy($"l_returnflag")
    }),

    // Unpivot (melt): wide measure columns to (key, metric, value) rows —
    // the inverse of pivot, a narrow scan feeding per-metric pipelines.
    "uv1_unpivot" -> ((s, dir) => {
      import s.implicits._
      table(s, dir, "lineitem")
        .filter($"l_orderkey" % 100 === 0)
        .unpivot(
          ids = Array($"l_orderkey", $"l_linenumber"),
          values = Array($"l_quantity", $"l_extendedprice", $"l_discount"),
          variableColumnName = "metric", valueColumnName = "value")
        .orderBy($"l_orderkey", $"l_linenumber", $"metric")
    }),

    // Per-label embedding centroid, flattened to (label, dim, mean) — the
    // posexplode keeps the result schema array-free (hash-comparable) and
    // the aggregation decimal-exact.
    "emb_centroid" -> ((s, dir) => {
      import s.implicits._
      table(s, dir, "embeddings")
        .select($"label", posexplode($"embedding").as(Seq("dim", "v")))
        .groupBy($"label", $"dim")
        .agg(davg($"v").as("mean_v"), count(lit(1)).as("n"))
        .filter($"dim" < 8)
        .orderBy($"label", $"dim")
    }),

    // TPC-H Q4 shape (order-priority checking): orders with any late
    // shipment, counted per priority. The EXISTS is evaluated as
    // max(l_shipdate) per order — lineitem collapses to order cardinality
    // with map-side partials BEFORE the join, instead of a row-level
    // big-big semi join (max(ship) > cutoff ⟺ EXISTS a late line). At
    // 100 TB both sides shuffle once on orderkey; nothing else moves.
    "q4_order_priority" -> ((s, dir) => {
      import s.implicits._
      val late = table(s, dir, "lineitem")
        .groupBy($"l_orderkey").agg(max($"l_shipdate").as("max_ship"))
      table(s, dir, "orders")
        .join(late, $"o_orderkey" === $"l_orderkey")
        .filter($"max_ship" > $"o_orderdate" + expr("INTERVAL 60 DAYS"))
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_late"))
        .orderBy($"o_orderpriority")
    }),

    // TPC-H Q13 shape (customer order-count distribution): LEFT join keeps
    // zero-order customers (count(o_orderkey) ignores the null-extended
    // rows), then a second aggregation over the first's output — the
    // two-level groupBy whose inner result is customer-bounded, so the
    // outer exchange is trivial at any scale.
    "q13_custdist" -> ((s, dir) => {
      import s.implicits._
      val ord = table(s, dir, "orders")
        .filter($"o_orderstatus" =!= "P")
        .select($"o_custkey", $"o_orderkey")
      table(s, dir, "customer").select($"c_custkey")
        .join(ord, $"c_custkey" === $"o_custkey", "left_outer")
        .groupBy($"c_custkey").agg(count($"o_orderkey").as("c_count"))
        .groupBy($"c_count").agg(count(lit(1)).as("custdist"))
        .orderBy($"custdist".desc, $"c_count".desc)
    }),

    // TPC-H Q16 shape (supplier diversity per part profile): distinct
    // suppliers per (brand, type, size) from the lineitem association,
    // minus complained-about suppliers (negative balance) — the exclusion
    // list is supplier-bounded and broadcast, so the ANTI join costs no
    // exchange; the countDistinct shuffles once on the group key.
    "q16_supplier_cnt" -> ((s, dir) => {
      import s.implicits._
      val bad = table(s, dir, "supplier")
        .filter($"s_acctbal" < 0.0).select($"s_suppkey")
      table(s, dir, "lineitem").select($"l_partkey", $"l_suppkey")
        .join(table(s, dir, "part")
            .filter($"p_brand" =!= "Brand#5" && $"p_size" <= 25)
            .select($"p_partkey", $"p_brand", $"p_type", $"p_size"),
          $"l_partkey" === $"p_partkey")
        .join(broadcast(bad), $"l_suppkey" === $"s_suppkey", "left_anti")
        .groupBy($"p_brand", $"p_type", $"p_size")
        .agg(countDistinct($"l_suppkey").as("supplier_cnt"))
        .orderBy($"supplier_cnt".desc, $"p_brand", $"p_type", $"p_size")
    }),

    // TPC-H Q19 shape (disjunctive predicate revenue): OR-of-ANDs across
    // the joined part attributes and line quantity. The brand/size
    // disjunction pushes into the part scan as a single OR filter; part
    // broadcasts; the residual mixed-side predicate evaluates inside the
    // broadcast join's codegen — no second pass, no shuffle at all.
    "q19_disjunctive" -> ((s, dir) => {
      import s.implicits._
      table(s, dir, "lineitem")
        .join(broadcast(table(s, dir, "part")),
          $"l_partkey" === $"p_partkey")
        .filter(
          ($"p_brand" === "Brand#12" && $"p_size".between(1, 15) &&
            $"l_quantity".between(1, 11)) ||
          ($"p_brand" === "Brand#23" && $"p_size".between(1, 25) &&
            $"l_quantity".between(10, 20)) ||
          ($"p_brand" === "Brand#3" && $"p_size".between(1, 35) &&
            $"l_quantity".between(20, 30)))
        .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount"))
            .as("revenue"),
          count(lit(1)).as("n"))
    }),

    // TPC-H Q22 shape (dormant capital): customers with above-average
    // positive balance and no RECENT order (none since 2000) —
    // scalar-subquery cut (one broadcast row) + ANTI join against the
    // recent slice of the order log, summarized per segment. The date
    // filter pushes into the orders scan and o_custkey is projected before
    // the anti join, so the big side moves one slim pre-filtered column;
    // the davg cut is decimal-exact (oracle twin).
    "q22_dormant" -> ((s, dir) => {
      import s.implicits._
      val cust = table(s, dir, "customer")
      val cut = cust.filter($"c_acctbal" > 0.0)
        .agg(davg($"c_acctbal").as("cut"))
      cust
        .join(table(s, dir, "orders")
            .filter($"o_orderdate" >= lit("2000-01-01").cast("timestamp"))
            .select($"o_custkey"),
          $"c_custkey" === $"o_custkey", "left_anti")
        .crossJoin(broadcast(cut))
        .filter($"c_acctbal" > $"cut")
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_cust"), dsum($"c_acctbal").as("total_bal"))
        .orderBy($"c_mktsegment")
    }),

    // Chi-square independence test, status x priority: the contingency
    // table is category-bounded (|status| x |priority| cells), margins are
    // rollups of the cells, and every per-cell (obs-e)^2/e term is summed
    // in decimal space — exact and order-independent, so the one-row
    // statistic hashes identically cross-engine. Expected counts keep ONE
    // operand order (rs*cs/n, double) on both sides.
    "st7_chi2" -> ((s, dir) => {
      import s.implicits._
      val cells = table(s, dir, "orders")
        .groupBy($"o_orderstatus", $"o_orderpriority")
        .agg(count(lit(1)).as("obs"))
      val rowM = cells.groupBy($"o_orderstatus").agg(sum($"obs").as("rs"))
      val colM = cells.groupBy($"o_orderpriority").agg(sum($"obs").as("cs"))
      val tot = cells.agg(sum($"obs").as("n"))
      val e = $"rs".cast("double") * $"cs" / $"n"
      cells
        .join(broadcast(rowM), Seq("o_orderstatus"))
        .join(broadcast(colM), Seq("o_orderpriority"))
        .crossJoin(broadcast(tot))
        .agg(max($"n").as("n"),
          ((countDistinct($"o_orderstatus") - 1) *
            (countDistinct($"o_orderpriority") - 1)).cast("long").as("dof"),
          round(sum((($"obs" - e) * ($"obs" - e) / e)
              .cast(DecimalType(30, 10))).cast(DoubleType), 6).as("chi2"))
    }),

    // TPC-H Q8 shape (national market share): within one region's market
    // (customers in ASIA), the share of yearly revenue supplied by one
    // nation. The market membership semi-reduces orders through a
    // broadcast customer⋈nation⋈region chain BEFORE the fact join, so the
    // only big exchange is lineitem⋈orders on orderkey; the supplier
    // nation flag rides a broadcast dim. Share = decimal-exact conditional
    // sum over decimal-exact total — one double division at the end.
    "q8_market_share" -> ((s, dir) => {
      import s.implicits._
      val d = DecimalType(30, 10)
      val n = table(s, dir, "nation")
      val asiaCust = table(s, dir, "customer").select($"c_custkey", $"c_nationkey")
        .join(broadcast(n
            .join(broadcast(table(s, dir, "region").filter($"r_name" === "ASIA")
              .select($"r_regionkey")), $"n_regionkey" === $"r_regionkey")
            .select($"n_nationkey")),
          $"c_nationkey" === $"n_nationkey")
        .select($"c_custkey")
      val supFlag = table(s, dir, "supplier").select($"s_suppkey", $"s_nationkey")
        .join(broadcast(n.filter($"n_name" === "NATION_1")
            .select($"n_nationkey".as("tgt"))),
          $"s_nationkey" === $"tgt", "left_outer")
        .select($"s_suppkey", $"tgt".isNotNull.as("is_target"))
      val mktOrders = table(s, dir, "orders")
        .select($"o_orderkey", $"o_custkey", $"o_orderdate")
        .join(broadcast(asiaCust), $"o_custkey" === $"c_custkey")
        .select($"o_orderkey", year($"o_orderdate").cast("long").as("o_year"))
      val rev = ($"l_extendedprice" * (lit(1.0) - $"l_discount")).cast(d)
      table(s, dir, "lineitem")
        .select($"l_orderkey", $"l_suppkey", $"l_extendedprice", $"l_discount")
        .join(broadcast(supFlag), $"l_suppkey" === $"s_suppkey")
        .join(mktOrders, $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_year")
        .agg(sum(when($"is_target", rev).otherwise(lit(0).cast(d))).as("tr"),
          sum(rev).as("ar"))
        .select($"o_year",
          round($"tr".cast(DoubleType) / $"ar".cast(DoubleType), 6)
            .as("mkt_share"),
          round($"ar", 2).cast(DoubleType).as("total_rev"))
        .orderBy($"o_year")
    }),

    // TPC-H Q9 shape (product-type profit): profit on 'red%' parts per
    // supplier nation per order year, cost modeled off the part list
    // price (no partsupp table in this schema). part filters + broadcasts;
    // the one big exchange is lineitem⋈orders on orderkey; supplier and
    // nation ride broadcasts. The profit expression keeps ONE operand
    // order on both engines (IEEE multiply is order-sensitive), then sums
    // in decimal.
    "q9_product_profit" -> ((s, dir) => {
      import s.implicits._
      val amount = $"l_extendedprice" * (lit(1.0) - $"l_discount") -
        lit(0.6) * $"p_retailprice" * $"l_quantity"
      val redParts = table(s, dir, "part").filter($"p_name".startsWith("red"))
        .select($"p_partkey", $"p_retailprice")
      val supNation = table(s, dir, "supplier").select($"s_suppkey", $"s_nationkey")
        .join(broadcast(table(s, dir, "nation")
            .select($"n_nationkey", $"n_name")),
          $"s_nationkey" === $"n_nationkey")
        .select($"s_suppkey", $"n_name".as("supp_nation"))
      table(s, dir, "lineitem")
        .select($"l_orderkey", $"l_partkey", $"l_suppkey",
          $"l_quantity", $"l_extendedprice", $"l_discount")
        .join(broadcast(redParts), $"l_partkey" === $"p_partkey")
        .join(broadcast(supNation), $"l_suppkey" === $"s_suppkey")
        .join(table(s, dir, "orders").select($"o_orderkey", $"o_orderdate"),
          $"l_orderkey" === $"o_orderkey")
        .groupBy($"supp_nation", year($"o_orderdate").cast("long").as("o_year"))
        .agg(dsum(amount).as("profit"), count(lit(1)).as("n"))
        .orderBy($"supp_nation", $"o_year".desc)
    }),

    // TPC-H Q15 shape (top supplier): revenue per supplier over one
    // quarter, keep the max-revenue supplier(s). The "view" is the
    // supplier-bounded aggregate; the max is ONE broadcast row joined
    // back by exact equality — exact because both sides carry the same
    // decimal-rounded double, never a recomputed float.
    "q15_top_supplier" -> ((s, dir) => {
      import s.implicits._
      val rev = table(s, dir, "lineitem")
        .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
          $"l_shipdate" < lit("1996-04-01").cast("timestamp"))
        .groupBy($"l_suppkey")
        .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount"))
          .as("total_rev"))
      val mx = rev.agg(max($"total_rev").as("mx"))
      rev.crossJoin(broadcast(mx)).filter($"total_rev" === $"mx")
        .join(broadcast(table(s, dir, "supplier")
          .select($"s_suppkey", $"s_name")), $"l_suppkey" === $"s_suppkey")
        .select($"s_suppkey", $"s_name", $"total_rev")
        .orderBy($"s_suppkey")
    }),

    // TPC-H Q2 shape (min-cost supplier): the harness has no partsupp
    // table (TESTDATA.md), so the part→supplier availability relation is
    // DERIVED the way the TPC-H generator lays it out — supplier i ∈ 0..3
    // of part p is (p + i·⌈S/4⌉) mod S — and the supply cost is a fixed
    // integer formula over the pair, so both engines price in exact
    // BIGINT space. The spec's correlated min-cost subquery collapses to
    // ONE aggregate-then-join on the integer cents (the q15/q21 posture:
    // no rank window, no float-equality join). Scale shape: the filtered
    // part fan-out (4 rows per qualifying part) BROADCASTS into the
    // region-cut supplier stream — supplier, the corpus-sized side, never
    // shuffles; the min table is part-bounded and broadcasts back.
    "q2_min_cost" -> ((s, dir) => {
      import s.implicits._
      // bounded metadata job: parquet row-count, no scan
      val nSupp = tableRows(s, dir, "supplier")
      val step = (nSupp + 3) / 4
      val pairs = table(s, dir, "part")
        .filter($"p_size" <= 15 && $"p_type" === "LARGE")
        .select($"p_partkey", $"p_type",
          explode(sequence(lit(0L), lit(3L))).as("i"))
        .withColumn("ps_suppkey", ($"p_partkey" + $"i" * step) % nSupp)
        .select($"p_partkey", $"p_type", $"ps_suppkey",
          (($"p_partkey" * 131L + $"ps_suppkey" * 97L) % 100000L)
            .as("cost_cents"))
      val euroSupp = table(s, dir, "supplier")
        .join(broadcast(table(s, dir, "nation")
            .join(broadcast(table(s, dir, "region")
              .filter($"r_name" === "EUROPE")),
              $"n_regionkey" === $"r_regionkey")
            .select($"n_nationkey", $"n_name")),
          $"s_nationkey" === $"n_nationkey")
        .select($"s_suppkey", $"s_name", $"s_acctbal", $"n_name")
      val offers = broadcast(pairs)
        .join(euroSupp, $"ps_suppkey" === $"s_suppkey")
      val minc = offers.groupBy($"p_partkey".as("m_partkey"))
        .agg(min($"cost_cents").as("min_cents"))
      offers.join(broadcast(minc),
          $"p_partkey" === $"m_partkey" && $"cost_cents" === $"min_cents")
        .select($"s_acctbal", $"s_name", $"n_name", $"p_partkey", $"p_type",
          ($"cost_cents".cast("double") / 100.0).as("supply_cost"))
        .orderBy($"s_acctbal".desc, $"n_name", $"s_name", $"p_partkey")
        .limit(100)
    }),

    // TPC-H Q17 shape (small-quantity revenue): revenue from brand lines
    // ordered below half the part's average quantity. The correlated
    // subquery becomes a part-bounded aggregate joined back by partkey —
    // both the average side and the probe side are cut to the brand's
    // parts by the SAME broadcast dim before anything shuffles, and the
    // per-part averages broadcast back (part-bounded at any corpus size).
    "q17_small_quantity" -> ((s, dir) => {
      import s.implicits._
      val brandLines = table(s, dir, "lineitem")
        .select($"l_partkey", $"l_quantity", $"l_extendedprice")
        .join(broadcast(table(s, dir, "part")
            .filter($"p_brand" === "Brand#12").select($"p_partkey")),
          $"l_partkey" === $"p_partkey")
      val avgQty = brandLines.groupBy($"l_partkey".as("ap_partkey"))
        .agg(davg($"l_quantity").as("avg_qty"))
      brandLines
        .join(broadcast(avgQty), $"l_partkey" === $"ap_partkey")
        .filter($"l_quantity" < lit(0.5) * $"avg_qty")
        .agg(dsum($"l_extendedprice").as("total_rev"),
          count(lit(1)).as("n_lines"))
    }),

    // TPC-H Q20 shape (significant-share suppliers): suppliers carrying
    // more than 10% of some 'red%' part's shipped volume. The availqty
    // semi-join chain of the spec becomes: per-(part,supplier) shipped
    // quantity vs per-part total, compared ENTIRELY in decimal space
    // (qty·10 > total — exact in both engines, no float threshold), then a
    // supplier rollup. Every post-lineitem table is part- or
    // supplier-bounded; the one corpus exchange is the (part,supp) agg.
    "q20_share_suppliers" -> ((s, dir) => {
      import s.implicits._
      val d = DecimalType(30, 10)
      val redLines = table(s, dir, "lineitem")
        .select($"l_partkey", $"l_suppkey", $"l_quantity")
        .join(broadcast(table(s, dir, "part")
            .filter($"p_name".startsWith("red")).select($"p_partkey")),
          $"l_partkey" === $"p_partkey")
      val perPartSupp = redLines.groupBy($"l_partkey", $"l_suppkey")
        .agg(sum($"l_quantity".cast(d)).as("qty"))
      val perPart = perPartSupp.groupBy($"l_partkey".as("t_partkey"))
        .agg(sum($"qty").as("total_qty"))
      perPartSupp
        .join(broadcast(perPart), $"l_partkey" === $"t_partkey")
        .filter($"qty" * lit(10) > $"total_qty")
        .groupBy($"l_suppkey")
        .agg(count(lit(1)).as("n_parts"))
        .join(broadcast(table(s, dir, "supplier")
          .select($"s_suppkey", $"s_name")), $"l_suppkey" === $"s_suppkey")
        .select($"s_suppkey", $"s_name", $"n_parts")
        .orderBy($"s_suppkey")
    }),

    // TPC-H Q21 shape (suppliers who kept orders waiting): in finished
    // multi-supplier orders, the SOLE supplier whose lines shipped late
    // (past orderdate + 60 days; this schema has no commit/receipt dates).
    // The spec's EXISTS / NOT EXISTS self-joins collapse into ONE
    // per-order aggregate — distinct suppliers, distinct late suppliers,
    // and the late supplier's key all come out of the same orderkey
    // shuffle, the q4 discipline at three-predicates scale.
    "q21_waiting_supplier" -> ((s, dir) => {
      import s.implicits._
      val late = $"l_shipdate" > $"o_orderdate" + expr("INTERVAL 60 DAYS")
      val perOrder = table(s, dir, "lineitem")
        .select($"l_orderkey", $"l_suppkey", $"l_shipdate")
        .join(table(s, dir, "orders").filter($"o_orderstatus" === "F")
            .select($"o_orderkey", $"o_orderdate"),
          $"l_orderkey" === $"o_orderkey")
        .groupBy($"l_orderkey")
        .agg(countDistinct($"l_suppkey").as("ns"),
          countDistinct(when(late, $"l_suppkey")).as("n_late"),
          max(when(late, $"l_suppkey")).as("late_supp"))
      perOrder.filter($"ns" > 1 && $"n_late" === 1)
        .groupBy($"late_supp")
        .agg(count(lit(1)).as("numwait"))
        .join(broadcast(table(s, dir, "supplier")
          .select($"s_suppkey", $"s_name")), $"late_supp" === $"s_suppkey")
        .select($"s_suppkey", $"s_name", $"numwait")
        .orderBy($"numwait".desc, $"s_suppkey")
    }),

    // Lag-1 autocorrelation of the daily revenue series — the
    // order-flow memory statistic a forecasting pipeline starts from.
    // The series is CALENDAR-bounded (one row per day), so the global
    // lead() window and the closed-form moment pass both run over ~2.4k
    // rows no matter the corpus size; each day's revenue enters the
    // moments as the SAME decimal-rounded double on both engines (the
    // st2_corr discipline over a derived series).
    "st8_autocorr" -> ((s, dir) => {
      import s.implicits._
      val d = DecimalType(30, 10)
      val daily = table(s, dir, "orders")
        .groupBy($"o_orderdate".as("day"))
        .agg(dsum($"o_totalprice").as("rev"))
      val w = Window.orderBy($"day")
      val pairs = daily
        .select($"day", $"rev", lead($"rev", 1).over(w).as("rev_next"))
        .filter($"rev_next".isNotNull)
      val nd = $"n".cast(DoubleType)
      pairs.agg(count(lit(1)).as("n"),
          sum($"rev".cast(d)).cast(DoubleType).as("sx"),
          sum($"rev_next".cast(d)).cast(DoubleType).as("sy"),
          sum(($"rev" * $"rev_next").cast(d)).cast(DoubleType).as("sxy"),
          sum(($"rev" * $"rev").cast(d)).cast(DoubleType).as("sxx"),
          sum(($"rev_next" * $"rev_next").cast(d)).cast(DoubleType).as("syy"))
        .filter(nd * $"sxx" - $"sx" * $"sx" > 0 &&
                nd * $"syy" - $"sy" * $"sy" > 0)
        .select($"n",
          rz((nd * $"sxy" - $"sx" * $"sy") /
            (sqrt(nd * $"sxx" - $"sx" * $"sx") *
             sqrt(nd * $"syy" - $"sy" * $"sy")), 6).as("autocorr_lag1"))
    }),

    // TPC-H Q11 shape (important parts): parts whose value within one
    // nation's shipments exceeds 2× the mean part value — the spec's
    // scalar-subquery threshold made SCALE-STABLE (a fixed corpus-share
    // cut like 0.1% empties as the part census grows; mean-relative keeps
    // a ~8–10% head at every SF). Per-part decimal sums quantize to exact
    // CENTS (round-2 in decimal, ×100, BIGINT), the census rides ONE
    // broadcast row, and the threshold is PURE INTEGER
    // (cents·n_parts > 2·total) — no float boundary anywhere. The
    // nation's supplier set broadcasts and cuts the lineitem stream
    // before the one corpus exchange (the per-part agg).
    "q11_important_parts" -> ((s, dir) => {
      import s.implicits._
      val d = DecimalType(30, 10)
      val natSupp = table(s, dir, "supplier")
        .join(broadcast(table(s, dir, "nation")
            .filter($"n_name" === "NATION_3").select($"n_nationkey")),
          $"s_nationkey" === $"n_nationkey")
        .select($"s_suppkey")
      val perPart = table(s, dir, "lineitem")
        .select($"l_partkey", $"l_suppkey", $"l_extendedprice", $"l_discount")
        .join(broadcast(natSupp), $"l_suppkey" === $"s_suppkey")
        .groupBy($"l_partkey")
        .agg(sum(($"l_extendedprice" * (lit(1.0) - $"l_discount")).cast(d))
          .as("value_dec"))
        .select($"l_partkey",
          expr("CAST(round(value_dec, 2) * 100 AS BIGINT)").as("value_cents"))
      val tot = perPart.agg(sum($"value_cents").as("total_cents"),
        count(lit(1)).as("n_parts"))
      perPart.crossJoin(broadcast(tot))
        .filter($"value_cents" * $"n_parts" > lit(2) * $"total_cents")
        .select($"l_partkey".as("p_partkey"), $"value_cents",
          ($"value_cents".cast(DoubleType) / lit(100.0)).as("part_value"),
          expr("(value_cents * 1000000) DIV total_cents").as("share_ppm"))
        .orderBy($"value_cents".desc, $"p_partkey")
    }),

    // TPC-H Q14 shape (promo revenue effect): one row — the share of one
    // month's revenue from PROMO parts, in integer ppm off exact cents
    // (the q11 quantization; Spark DIV and DuckDB // both floor on
    // positives). The part dim broadcasts; one month of lineitem is cut by
    // the pushed shipdate range before the join.
    "q14_promo_effect" -> ((s, dir) => {
      import s.implicits._
      val d = DecimalType(30, 10)
      val value = $"l_extendedprice" * (lit(1.0) - $"l_discount")
      table(s, dir, "lineitem")
        .filter($"l_shipdate" >= lit("1995-09-01").cast("timestamp") &&
          $"l_shipdate" < lit("1995-10-01").cast("timestamp"))
        .select($"l_partkey", $"l_extendedprice", $"l_discount")
        .join(broadcast(table(s, dir, "part")
          .select($"p_partkey", $"p_type")), $"l_partkey" === $"p_partkey")
        .agg(
          sum(when($"p_type" === "PROMO", value).otherwise(lit(0.0)).cast(d))
            .as("promo_dec"),
          sum(value.cast(d)).as("total_dec"),
          count(lit(1)).as("n_lines"))
        .select(
          expr("CAST(round(promo_dec, 2) * 100 AS BIGINT)").as("promo_cents"),
          expr("CAST(round(total_dec, 2) * 100 AS BIGINT)").as("total_cents"),
          $"n_lines")
        .select($"promo_cents", $"total_cents", $"n_lines",
          expr("(promo_cents * 1000000) DIV total_cents").as("promo_ppm"))
    }),

    // Mann-Whitney U (Wilcoxon rank-sum) between two return-flag
    // populations on quantity — the nonparametric two-sample location
    // test next to dq6's KS: does distribution A stochastically dominate
    // R? Tie handling is EXACT and integer: values collapse to per-value
    // counts first (the shuffle is bounded by |distinct values|, ~50, not
    // corpus rows), average ranks are carried DOUBLED (2·minrank+ct−1, an
    // integer even for .5 ranks), and the rank sum / U statistic stay
    // BIGINT to the end. The tie-correction cube runs in DECIMAL(38,0)
    // (ct³ overflows int64 past ~2M rows per value — sf10 territory); the
    // z-score is the only float, computed in ONE operand order on both
    // engines. Both windows run over the ~50-row value census.
    "st9_mannwhitney" -> ((s, dir) => {
      import s.implicits._
      val vc = table(s, dir, "lineitem")
        .filter($"l_returnflag".isin("A", "R"))
        .select($"l_returnflag".as("g"), $"l_quantity".cast("long").as("v"))
        .groupBy($"v")
        .agg(sum(when($"g" === "A", 1L).otherwise(0L)).as("ca"),
          sum(when($"g" === "R", 1L).otherwise(0L)).as("cr"))
        .withColumn("ct", $"ca" + $"cr")
      val w = Window.orderBy($"v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val rk = vc.select($"ca", $"cr", $"ct",
        (sum($"ct").over(w) * lit(2) - $"ct" + lit(1)).as("dr"))
      val s0 = rk.agg(sum($"ca").as("n1"), sum($"cr").as("n2"),
        sum($"ca" * $"dr").as("r1x2"),
        sum($"ct".cast(DecimalType(38, 0)) * $"ct" * $"ct" - $"ct")
          .cast(DoubleType).as("tie3d"))
      val n1d = $"n1".cast(DoubleType)
      val n2d = $"n2".cast(DoubleType)
      s0.select($"n1", $"n2",
          ($"r1x2" - $"n1" * ($"n1" + lit(1))).as("u1_x2"), $"tie3d")
        .select($"n1", $"n2", $"u1_x2",
          rz(($"u1_x2".cast(DoubleType) / lit(2.0) - n1d * n2d / lit(2.0)) /
            sqrt(n1d * n2d / lit(12.0) *
              (($"n1" + $"n2" + lit(1)).cast(DoubleType) -
                $"tie3d" / (($"n1" + $"n2").cast(DoubleType) *
                  ($"n1" + $"n2" - lit(1)).cast(DoubleType)))), 6).as("z"))
    }),

    // Kendall's τ-b between quantity and discount — rank correlation with
    // EXACT tie handling, the ordinal sibling of st2's Pearson. The corpus
    // collapses to a (x,y) contingency census first (≤ 50·11 cells — the
    // ONE corpus exchange), concordant/discordant mass comes from the
    // census's own upper-triangle self-join (cell-bounded at any corpus
    // size; a per-row pair scan would be O(n²)), and C, D, and the tie
    // terms stay exact integers in DECIMAL(38,0) (products of two corpus
    // counts overflow int64 past ~3·10⁹ rows). Doubled tie terms
    // (m = n(n−1), Σt(t−1)) avoid ALL integer division: τ-b =
    // 2(C−D)/(√(m0−m1)·√(m0−m2)), the only float at the end.
    "st10_kendall_tau" -> ((s, dir) => {
      import s.implicits._
      val dd = DecimalType(38, 0)
      val xy = table(s, dir, "lineitem").select(
        $"l_quantity".cast("long").as("x"),
        // key derivation rounds in DECIMAL space (the rd discipline) — a
        // discount landing exactly on a .5 cent would otherwise split
        // between Spark's shortest-repr and DuckDB's binary round(double)
        expr("CAST(round(CAST(l_discount * 100 AS DECIMAL(30,10)), 0) AS BIGINT)")
          .as("y"))
      // materialize: four consumers (both pair sides, both marginals, n)
      // must ride ONE corpus scan+agg, not five
      val cell = graft.ops.Dedup.materialize(
        xy.groupBy($"x", $"y").agg(count(lit(1)).as("c")))
      val pairs = cell
        .select($"x".as("xa"), $"y".as("ya"), $"c".cast(dd).as("ca"))
        .join(broadcast(cell.select($"x".as("xb"), $"y".as("yb"),
          $"c".cast(dd).as("cb"))), $"xa" < $"xb")
      val cd = pairs.agg(
        sum(when($"ya" < $"yb", $"ca" * $"cb").otherwise(lit(0).cast(dd)))
          .as("cc"),
        sum(when($"ya" > $"yb", $"ca" * $"cb").otherwise(lit(0).cast(dd)))
          .as("dd"))
      val mx = cell.groupBy($"x").agg(sum($"c").as("tx"))
        .agg(sum($"tx".cast(dd) * ($"tx" - lit(1))).as("m1"))
      val my = cell.groupBy($"y").agg(sum($"c").as("ty"))
        .agg(sum($"ty".cast(dd) * ($"ty" - lit(1))).as("m2"))
      // n off the census, not a second corpus scan
      val nn = cell.agg(sum($"c").as("n"))
      cd.crossJoin(broadcast(mx)).crossJoin(broadcast(my))
        .crossJoin(broadcast(nn))
        .select($"n",
          rz(lit(2.0) * ($"cc" - $"dd").cast(DoubleType) /
            (sqrt(($"n".cast(dd) * ($"n" - lit(1)) - $"m1").cast(DoubleType)) *
             sqrt(($"n".cast(dd) * ($"n" - lit(1)) - $"m2").cast(DoubleType))),
            6).as("tau_b"))
    }),

    // Neyman optimal allocation of a 10k labeling budget across order
    // priorities — the sampling-design step before any sampler runs:
    // budget ∝ N_h·σ_h, so large AND internally-varied strata get the
    // samples. One rollup to |strata| rows, a one-row broadcast total;
    // the weight quantizes to integer cents and both the share and the
    // allocation are floor divisions of exact integers.
    "sp12_neyman" -> ((s, dir) =>
      graft.ops.Sampling.neymanAllocation(table(s, dir, "orders"),
        "o_orderpriority", "o_totalprice")),

    // Classical additive seasonal decomposition of daily event volume
    // (the moving-average method STL refines): trend = centered 7-day
    // moving average, seasonal = ISO-weekday mean of the detrended
    // series, residual = what's left — the ingest-monitoring primitive
    // that separates weekly rhythm from genuine drift before an anomaly
    // gate fires. The corpus collapses to the DAILY census first (one
    // exchange, ≤ a-few-thousand rows at any corpus size), so the
    // ordered trend window runs over bounded metadata, not events (the
    // st10 census posture); edge days without a full 7-day window are
    // excluded rather than padded. Trend is an exact integer sum / 7.0
    // (bit-identical IEEE both engines); seasonal means ride the davg
    // decimal discipline + rz; the residual is pure double arithmetic
    // over those two identical values, so it needs no rounding at all.
    "st11_seasonal_decompose" -> ((s, dir) => {
      import s.implicits._
      val daily = graft.ops.Dedup.materialize(
        table(s, dir, "events")
          .groupBy($"ts".cast("date").as("day"))
          .agg(count(lit(1)).as("n_events")))
      val w = Window.orderBy($"day").rowsBetween(-3, 3)
      // materialize: the detrended frame feeds both the seasonal rollup
      // and the final join — one window pass, not two
      val det = graft.ops.Dedup.materialize(daily
        .select($"day", $"n_events",
          count(lit(1)).over(w).as("wn"),
          (sum($"n_events").over(w).cast(DoubleType) / lit(7.0)).as("trend"))
        .filter($"wn" === 7)
        .select($"day", $"n_events", $"trend",
          (weekday($"day") + lit(1)).as("dow"),
          ($"n_events".cast(DoubleType) - $"trend").as("detr")))
      val seas = det.groupBy($"dow")
        .agg(rz(davg($"detr"), 6).as("seasonal"))
      det.join(broadcast(seas), "dow")
        .select($"day", $"n_events", $"trend", $"seasonal",
          ($"n_events".cast(DoubleType) - $"trend" - $"seasonal")
            .as("residual"))
        .orderBy($"day")
    })
  )

  val oracle: Map[String, String] = Map(
    "w1_running_total" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,10))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS UNBOUNDED PRECEDING), 2) AS DOUBLE) AS running_total
        |FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin,

    "w2_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  rank() OVER w AS rnk, dense_rank() OVER w AS drnk,
        |  ntile(4) OVER w AS quartile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY o_custkey, rnk, o_orderkey""".stripMargin,

    "w3_lag_gap" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(date_diff('day',
        |    lag(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |    o_orderdate) AS BIGINT) AS gap_days
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q5_region_revenue" ->
      """SELECT n_name,
        |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))), 2) AS DOUBLE) AS revenue,
        |  count(*) AS n
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q7_trade_flow" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))), 2) AS DOUBLE) AS revenue,
        |  count(*) AS n
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |WHERE sn.n_name IN ('NATION_1', 'NATION_2')
        |  AND cn.n_name IN ('NATION_1', 'NATION_2')
        |  AND sn.n_name != cn.n_name
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "w4_first_last" ->
      """SELECT o_custkey, o_orderkey,
        |  first_value(o_orderkey) OVER w AS first_key,
        |  last_value(o_orderkey) OVER w AS last_key,
        |  nth_value(o_orderkey, 2) OVER w AS second_key
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "w6_distribution" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  round(percent_rank() OVER w, 6) AS pct_rank,
        |  round(cume_dist() OVER w, 6) AS cume
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    // Revenue DESC with the custkey tie-break makes the LIMIT 20 cut
    // deterministic in both engines.
    "q10_returned_items" ->
      """SELECT c_custkey, c_name, n_name,
        |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))), 2) AS DOUBLE) AS revenue,
        |  count(*) AS n
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "w5_rolling_30d" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,10))) OVER w, 2) AS DOUBLE) AS rolling_30d,
        |  count(*) OVER w AS n_30d
        |FROM (SELECT *,
        |  CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days
        |  FROM orders) z
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY days
        |  RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    // Identical operand order to the Spark closed form — (n·sxy − sx·sy) /
    // (sqrt(n·sxx − sx²)·sqrt(n·syy − sy²)) — over the same decimal sums.
    "st2_corr" ->
      """WITH s AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(30,10))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(30,10))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(30,10))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(30,10))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(30,10))) AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  round((CAST(n AS DOUBLE) * sxy - sx * sy) /
        |    (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx) *
        |     sqrt(CAST(n AS DOUBLE) * syy - sy * sy)), 6) + 0 AS corr_qty_price
        |FROM s
        |WHERE CAST(n AS DOUBLE) * sxx - sx * sx > 0
        |  AND CAST(n AS DOUBLE) * syy - sy * sy > 0
        |ORDER BY l_returnflag""".stripMargin,

    // Same moments, same operand order: slope = cov/varx, intercept =
    // (sy − slope·sx)/n, r² = cov²/(varx·vary).
    "st4_linreg" ->
      """WITH s AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(30,10))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(30,10))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(30,10))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(30,10))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(30,10))) AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  round((CAST(n AS DOUBLE) * sxy - sx * sy) /
        |        (CAST(n AS DOUBLE) * sxx - sx * sx), 6) + 0 AS slope,
        |  round((sy - (CAST(n AS DOUBLE) * sxy - sx * sy) /
        |        (CAST(n AS DOUBLE) * sxx - sx * sx) * sx) / CAST(n AS DOUBLE), 6) + 0
        |    AS intercept,
        |  round((CAST(n AS DOUBLE) * sxy - sx * sy) * (CAST(n AS DOUBLE) * sxy - sx * sy) /
        |        ((CAST(n AS DOUBLE) * sxx - sx * sx) * (CAST(n AS DOUBLE) * syy - sy * sy)), 6) + 0
        |    AS r2
        |FROM s
        |WHERE CAST(n AS DOUBLE) * sxx - sx * sx > 0
        |  AND CAST(n AS DOUBLE) * syy - sy * sy > 0
        |ORDER BY l_returnflag""".stripMargin,

    "r1_rollup" ->
      """SELECT r_name, n_name,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(30,10))), 2) AS DOUBLE) AS revenue,
        |  count(*) AS n
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,

    "cb1_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,10))), 2) AS DOUBLE) AS total
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "pt1_promo_share" ->
      """SELECT p_brand,
        |  CAST(round(sum(CAST(CASE WHEN p_type LIKE 'PROMO%'
        |    THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(30,10))), 2) AS DOUBLE) AS promo_rev,
        |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))), 2) AS DOUBLE) AS total_rev,
        |  count(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    // Same quantile_cont medians rounded 6 dp, same 3·1.4826 cut.
    "st5_mad" ->
      """WITH med AS (
        |  SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
        |  FROM events GROUP BY 1),
        |mad AS (
        |  SELECT event_type, round(quantile_cont(abs(value - med), 0.5), 6) AS mad
        |  FROM events JOIN med USING (event_type) GROUP BY 1)
        |SELECT event_type, max(med) AS med, max(mad) AS mad, count(*) AS n,
        |  CAST(sum(CASE WHEN abs(value - med) > mad * 4.4478 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM events JOIN med USING (event_type) JOIN mad USING (event_type)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "st1_percentile" ->
      """SELECT o_orderstatus,
        |  round(quantile_cont(o_totalprice, 0.5), 6) AS p50,
        |  round(quantile_cont(o_totalprice, 0.9), 6) AS p90,
        |  count(*) AS n
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "w7_percent_rank" ->
      """SELECT o_orderstatus, o_orderkey, o_totalprice,
        |  CASE WHEN n > 1 THEN ((rnk - 1) * 1000000) // (n - 1) ELSE 0 END AS pr_ppm,
        |  (rn * 1000000) // n AS cume_ppm,
        |  CAST(decile AS BIGINT) AS decile
        |FROM (
        |  SELECT o_orderstatus, o_orderkey, o_totalprice,
        |    rank() OVER w AS rnk, row_number() OVER w AS rn,
        |    count(*) OVER (PARTITION BY o_orderstatus) AS n,
        |    ntile(10) OVER w AS decile
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_orderstatus
        |    ORDER BY o_totalprice, o_orderkey)) t
        |ORDER BY o_orderstatus, o_orderkey""".stripMargin,

    "q18_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(30,10))) AS DOUBLE) AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING CAST(sum(CAST(l_quantity AS DECIMAL(30,10))) AS DOUBLE) > 260.0)
        |SELECT c_name, o_orderkey, o_totalprice, sum_qty
        |FROM orders JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,

    "st6_winsorize" ->
      """WITH caps AS (
        |  SELECT o_orderstatus,
        |    round(quantile_cont(o_totalprice, 0.05), 6) AS lo_cap,
        |    round(quantile_cont(o_totalprice, 0.95), 6) AS hi_cap
        |  FROM orders GROUP BY 1)
        |SELECT o_orderstatus, count(*) AS n, lo_cap, hi_cap,
        |  round(CAST(sum(CAST(greatest(least(o_totalprice, hi_cap), lo_cap) AS DECIMAL(30,10))) AS DOUBLE) / count(*), 6) AS win_mean,
        |  CAST(sum(CASE WHEN o_totalprice >= lo_cap AND o_totalprice <= hi_cap THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  round(CAST(sum(CASE WHEN o_totalprice >= lo_cap AND o_totalprice <= hi_cap THEN CAST(o_totalprice AS DECIMAL(30,10)) END) AS DOUBLE)
        |    / sum(CASE WHEN o_totalprice >= lo_cap AND o_totalprice <= hi_cap THEN 1 ELSE 0 END), 6) AS trim_mean
        |FROM orders JOIN caps USING (o_orderstatus)
        |GROUP BY o_orderstatus, lo_cap, hi_cap
        |ORDER BY o_orderstatus""".stripMargin,

    "gs1_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,10))), 2) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderstatus, o_orderpriority), ())
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,

    "pv1_pivot" ->
      """SELECT n_name,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,10))) FILTER (quarter(o_orderdate) = 1), 2) AS DOUBLE) AS q1,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,10))) FILTER (quarter(o_orderdate) = 2), 2) AS DOUBLE) AS q2,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,10))) FILTER (quarter(o_orderdate) = 3), 2) AS DOUBLE) AS q3,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,10))) FILTER (quarter(o_orderdate) = 4), 2) AS DOUBLE) AS q4
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "uv1_unpivot" ->
      """SELECT l_orderkey, l_linenumber, metric, "value" FROM (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS "value"
        |  FROM lineitem WHERE l_orderkey % 100 = 0
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
        |  FROM lineitem WHERE l_orderkey % 100 = 0
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
        |  FROM lineitem WHERE l_orderkey % 100 = 0) t
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin,

    "sk2_salted_join" ->
      """SELECT s_name,
        |  count(*) AS n,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(30,10))), 2) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_name ORDER BY s_name""".stripMargin,

    "sk1_skew_agg" ->
      """SELECT l_returnflag,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(30,10))), 2) AS DOUBLE) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // Parallel unnests zip positionally in DuckDB — (dim, value) pairs.
    "emb_centroid" ->
      """WITH e AS (
        |  SELECT label,
        |    CAST(unnest(range(len(embedding))) AS INTEGER) AS dim,
        |    unnest(embedding) AS v
        |  FROM embeddings)
        |SELECT label, dim,
        |  round(CAST(sum(CAST(v AS DECIMAL(30,10))) AS DOUBLE) / count(*), 6) AS mean_v,
        |  count(*) AS n
        |FROM e WHERE dim < 8 GROUP BY 1, 2 ORDER BY label, dim""".stripMargin,

    // Same max-shipdate EXISTS collapse; timestamps compare exactly.
    "q4_order_priority" ->
      """WITH ms AS (
        |  SELECT l_orderkey, max(l_shipdate) AS max_ship
        |  FROM lineitem GROUP BY 1)
        |SELECT o_orderpriority, count(*) AS n_late
        |FROM orders JOIN ms ON o_orderkey = l_orderkey
        |WHERE max_ship > o_orderdate + INTERVAL 60 DAY
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // The status filter lives in the ON clause so zero-order customers
    // survive the LEFT join — identical to filtering orders pre-join.
    "q13_custdist" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderstatus <> 'P'
        |  GROUP BY 1) t
        |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q16_supplier_cnt" ->
      """SELECT p_brand, p_type, p_size,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#5' AND p_size <= 25
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    "q19_disjunctive" ->
      """SELECT
        |  CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,10))), 2) AS DOUBLE) AS revenue,
        |  count(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

    // Same decimal-exact davg cut, same strict > comparison.
    "q22_dormant" ->
      """WITH cut AS (
        |  SELECT round(CAST(sum(CAST(c_acctbal AS DECIMAL(30,10))) AS DOUBLE) / count(*), 6) AS cut
        |  FROM customer WHERE c_acctbal > 0.0)
        |SELECT c_mktsegment, count(*) AS n_cust,
        |  CAST(round(sum(CAST(c_acctbal AS DECIMAL(30,10))), 2) AS DOUBLE) AS total_bal
        |FROM customer CROSS JOIN cut
        |WHERE c_acctbal > cut
        |  AND c_custkey NOT IN (SELECT o_custkey FROM orders
        |                        WHERE o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // Identical operand order for e = rs*cs/n; the per-cell terms sum in
    // decimal — order-independent in both engines.
    "st7_chi2" ->
      """WITH cells AS (
        |  SELECT o_orderstatus AS s, o_orderpriority AS p, count(*) AS obs
        |  FROM orders GROUP BY 1, 2),
        |rm AS (SELECT s, sum(obs) AS rs FROM cells GROUP BY 1),
        |cm AS (SELECT p, sum(obs) AS cs FROM cells GROUP BY 1),
        |tt AS (SELECT sum(obs) AS n FROM cells)
        |SELECT CAST(max(n) AS BIGINT) AS n,
        |  CAST((count(DISTINCT s) - 1) * (count(DISTINCT p) - 1) AS BIGINT) AS dof,
        |  round(CAST(sum(CAST(
        |    (obs - CAST(rs AS DOUBLE) * cs / n) * (obs - CAST(rs AS DOUBLE) * cs / n)
        |      / (CAST(rs AS DOUBLE) * cs / n) AS DECIMAL(30,10))) AS DOUBLE), 6) AS chi2
        |FROM cells JOIN rm USING (s) JOIN cm USING (p) CROSS JOIN tt""".stripMargin,

    // Conditional and total revenue both sum in decimal; ONE double
    // division at the end (same operand order as the Spark side).
    "q8_market_share" ->
      """WITH mkt AS (
        |  SELECT o_orderkey, year(o_orderdate) AS o_year
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'ASIA'),
        |tgt AS (SELECT n_nationkey FROM nation WHERE n_name = 'NATION_1'),
        |agg AS (
        |  SELECT o_year,
        |    sum(CASE WHEN s_nationkey = (SELECT n_nationkey FROM tgt)
        |        THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,10))
        |        ELSE 0 END) AS tr,
        |    sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,10))) AS ar
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN mkt ON l_orderkey = o_orderkey
        |  GROUP BY o_year)
        |SELECT o_year, round(CAST(tr AS DOUBLE) / CAST(ar AS DOUBLE), 6) AS mkt_share,
        |  CAST(round(ar, 2) AS DOUBLE) AS total_rev
        |FROM agg ORDER BY o_year""".stripMargin,

    // The profit expression is written with the IDENTICAL operand order
    // (IEEE multiply is order-sensitive); the sum is decimal-exact.
    "q9_product_profit" ->
      """SELECT n_name AS supp_nation, year(o_orderdate) AS o_year,
        |  CAST(round(sum(CAST(
        |    l_extendedprice * (1.0 - l_discount) - 0.6 * p_retailprice * l_quantity
        |    AS DECIMAL(30,10))), 2) AS DOUBLE) AS profit,
        |  count(*) AS n
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE p_name LIKE 'red%'
        |GROUP BY 1, 2 ORDER BY supp_nation, o_year DESC""".stripMargin,

    // total_rev is the same decimal-rounded double on both sides, so the
    // max-equality join cannot float-diverge.
    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |      AS DECIMAL(30,10))), 2) AS DOUBLE) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, total_rev
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_rev = (SELECT max(total_rev) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,

    // Derived partsupp + integer-cents pricing: the min and the join-back
    // equality live entirely in BIGINT, so no float boundary exists; the
    // displayed cost is the same long divided by the same 100.0 double.
    "q2_min_cost" ->
      """WITH sc AS (
        |  SELECT count(*) AS s_n, (count(*) + 3) // 4 AS step FROM supplier),
        |ps AS (
        |  SELECT p_partkey, p_type,
        |    (p_partkey + i * step) % s_n AS ps_suppkey,
        |    (p_partkey * 131 + ((p_partkey + i * step) % s_n) * 97) % 100000
        |      AS cost_cents
        |  FROM part CROSS JOIN (SELECT unnest(range(0, 4)) AS i) ii
        |  CROSS JOIN sc
        |  WHERE p_size <= 15 AND p_type = 'LARGE'),
        |eu AS (
        |  SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'),
        |off AS (SELECT * FROM ps JOIN eu ON ps_suppkey = s_suppkey),
        |mc AS (SELECT p_partkey AS m_partkey, min(cost_cents) AS min_cents
        |       FROM off GROUP BY 1)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_type,
        |  CAST(cost_cents AS DOUBLE) / 100.0 AS supply_cost
        |FROM off JOIN mc ON p_partkey = m_partkey AND cost_cents = min_cents
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin,

    // avg_qty is the davg twin (decimal sum, double divide, round 6);
    // the half-average threshold keeps one operand order.
    "q17_small_quantity" ->
      """WITH bl AS (
        |  SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#12'),
        |aq AS (
        |  SELECT l_partkey AS ap_partkey,
        |    round(CAST(sum(CAST(l_quantity AS DECIMAL(30,10))) AS DOUBLE)
        |      / count(*), 6) AS avg_qty
        |  FROM bl GROUP BY 1)
        |SELECT
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(30,10))), 2) AS DOUBLE) AS total_rev,
        |  count(*) AS n_lines
        |FROM bl JOIN aq ON l_partkey = ap_partkey
        |WHERE l_quantity < 0.5 * avg_qty""".stripMargin,

    // The 10%-share threshold is compared entirely in decimal (qty*10 >
    // total) — no float boundary for the engines to disagree on.
    "q20_share_suppliers" ->
      """WITH ps AS (
        |  SELECT l_partkey, l_suppkey,
        |    sum(CAST(l_quantity AS DECIMAL(30,10))) AS qty
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_name LIKE 'red%'
        |  GROUP BY 1, 2),
        |pt AS (SELECT l_partkey AS t_partkey, sum(qty) AS total_qty
        |       FROM ps GROUP BY 1)
        |SELECT s_suppkey, s_name, count(*) AS n_parts
        |FROM ps JOIN pt ON l_partkey = t_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE qty * 10 > total_qty
        |GROUP BY 1, 2 ORDER BY s_suppkey""".stripMargin,

    // Same one-pass EXISTS/NOT-EXISTS collapse: distinct suppliers,
    // distinct LATE suppliers, and the late supplier's key from one
    // per-order aggregate.
    "q21_waiting_supplier" ->
      """WITH po AS (
        |  SELECT l_orderkey,
        |    count(DISTINCT l_suppkey) AS ns,
        |    count(DISTINCT CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
        |                        THEN l_suppkey END) AS n_late,
        |    max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
        |             THEN l_suppkey END) AS late_supp
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, count(*) AS numwait
        |FROM po JOIN supplier ON late_supp = s_suppkey
        |WHERE ns > 1 AND n_late = 1
        |GROUP BY 1, 2 ORDER BY numwait DESC, s_suppkey""".stripMargin,

    // Daily revenue enters the moments as the SAME decimal-rounded double
    // on both engines; the moment pass is the st2_corr discipline.
    "st8_autocorr" ->
      """WITH daily AS (
        |  SELECT o_orderdate AS day,
        |    CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,10))), 2) AS DOUBLE) AS rev
        |  FROM orders GROUP BY 1),
        |p AS (
        |  SELECT rev, lead(rev, 1) OVER (ORDER BY day) AS rev_next FROM daily),
        |q AS (SELECT * FROM p WHERE rev_next IS NOT NULL),
        |s AS (
        |  SELECT count(*) AS n,
        |    CAST(sum(CAST(rev AS DECIMAL(30,10))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(rev_next AS DECIMAL(30,10))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(rev * rev_next AS DECIMAL(30,10))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(rev * rev AS DECIMAL(30,10))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(rev_next * rev_next AS DECIMAL(30,10))) AS DOUBLE) AS syy
        |  FROM q)
        |SELECT n,
        |  round((CAST(n AS DOUBLE) * sxy - sx * sy) /
        |    (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx) *
        |     sqrt(CAST(n AS DOUBLE) * syy - sy * sy)), 6) + 0 AS autocorr_lag1
        |FROM s
        |WHERE CAST(n AS DOUBLE) * sxx - sx * sx > 0
        |  AND CAST(n AS DOUBLE) * syy - sy * sy > 0""".stripMargin,

    // Per-part value quantized to exact cents before anything compares:
    // the 2×-mean threshold and the ppm share are pure integer arithmetic.
    "q11_important_parts" ->
      """WITH pp AS (
        |  SELECT l_partkey,
        |    CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |      AS DECIMAL(30,10))), 2) * 100 AS BIGINT) AS value_cents
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_3'
        |  GROUP BY 1),
        |t AS (SELECT CAST(sum(value_cents) AS BIGINT) AS total_cents,
        |             count(*) AS n_parts FROM pp)
        |SELECT l_partkey AS p_partkey, value_cents,
        |  CAST(value_cents AS DOUBLE) / 100.0 AS part_value,
        |  (value_cents * 1000000) // total_cents AS share_ppm
        |FROM pp CROSS JOIN t
        |WHERE value_cents * n_parts > 2 * total_cents
        |ORDER BY value_cents DESC, p_partkey""".stripMargin,

    // Same cents quantization; the ppm is a floor division of exact
    // integers on both engines.
    "q14_promo_effect" ->
      """WITH s AS (
        |  SELECT
        |    CAST(round(sum(CAST(CASE WHEN p_type = 'PROMO'
        |      THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END
        |      AS DECIMAL(30,10))), 2) * 100 AS BIGINT) AS promo_cents,
        |    CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |      AS DECIMAL(30,10))), 2) * 100 AS BIGINT) AS total_cents,
        |    count(*) AS n_lines
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1995-09-01'
        |    AND l_shipdate < TIMESTAMP '1995-10-01')
        |SELECT promo_cents, total_cents, n_lines,
        |  (promo_cents * 1000000) // total_cents AS promo_ppm
        |FROM s""".stripMargin,

    // Doubled average ranks (2·minrank+ct−1: integers even at .5 ranks),
    // BIGINT rank sum and U, HUGEINT tie cubes (the Spark side runs them
    // in DECIMAL(38,0)); the z-score is the only float, one operand order.
    "st9_mannwhitney" ->
      """WITH li AS (
        |  SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS v
        |  FROM lineitem WHERE l_returnflag IN ('A', 'R')),
        |vc AS (
        |  SELECT v,
        |    CAST(sum(CASE WHEN g = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN g = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS cr
        |  FROM li GROUP BY v),
        |vt AS (SELECT v, ca, cr, ca + cr AS ct FROM vc),
        |rk AS (
        |  SELECT ca, cr, ct,
        |    sum(ct) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) * 2 - ct + 1 AS dr
        |  FROM vt),
        |s AS (
        |  SELECT CAST(sum(ca) AS BIGINT) AS n1, CAST(sum(cr) AS BIGINT) AS n2,
        |    CAST(sum(ca * dr) AS BIGINT) AS r1x2,
        |    CAST(sum(CAST(ct AS HUGEINT) * ct * ct - ct) AS DOUBLE) AS tie3d
        |  FROM rk),
        |u AS (SELECT n1, n2, r1x2 - n1 * (n1 + 1) AS u1_x2, tie3d FROM s)
        |SELECT n1, n2, u1_x2,
        |  round((CAST(u1_x2 AS DOUBLE) / 2.0
        |      - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0) /
        |    sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0 *
        |      (CAST(n1 + n2 + 1 AS DOUBLE)
        |        - tie3d / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE)))),
        |    6) + 0 AS z
        |FROM u""".stripMargin,

    // Census self-join on the upper triangle; C, D, and the doubled tie
    // terms in HUGEINT (the Spark side runs DECIMAL(38,0)); τ-b is the
    // only float, same operand order.
    "st10_kendall_tau" ->
      """WITH xy AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS x,
        |    CAST(round(CAST(l_discount * 100 AS DECIMAL(30,10)), 0) AS BIGINT) AS y
        |  FROM lineitem),
        |cell AS (SELECT x, y, CAST(count(*) AS HUGEINT) AS c
        |         FROM xy GROUP BY x, y),
        |cd AS (
        |  SELECT
        |    sum(CASE WHEN a.y < b.y THEN a.c * b.c ELSE 0 END) AS cc,
        |    sum(CASE WHEN a.y > b.y THEN a.c * b.c ELSE 0 END) AS dd
        |  FROM cell a JOIN cell b ON a.x < b.x),
        |mx AS (SELECT sum(t * (t - 1)) AS m1 FROM
        |       (SELECT CAST(sum(c) AS HUGEINT) AS t FROM cell GROUP BY x)),
        |my AS (SELECT sum(t * (t - 1)) AS m2 FROM
        |       (SELECT CAST(sum(c) AS HUGEINT) AS t FROM cell GROUP BY y)),
        |nn AS (SELECT CAST(sum(c) AS HUGEINT) AS n FROM cell)
        |SELECT CAST(n AS BIGINT) AS n,
        |  round(2.0 * CAST(cc - dd AS DOUBLE) /
        |    (sqrt(CAST(n * (n - 1) - m1 AS DOUBLE)) *
        |     sqrt(CAST(n * (n - 1) - m2 AS DOUBLE))), 6) + 0 AS tau_b
        |FROM cd, mx, my, nn""".stripMargin,

    // σ from the same decimal moment partials; the N_h·σ_h weight
    // quantizes in DECIMAL space to exact cents; share and allocation are
    // floor divisions.
    "sp12_neyman" ->
      """WITH s AS (
        |  SELECT o_orderpriority AS stratum,
        |    CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(30,10))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(o_totalprice * o_totalprice AS DECIMAL(30,10))) AS DOUBLE) AS sxx
        |  FROM orders GROUP BY 1),
        |w AS (
        |  SELECT stratum, n_rows,
        |    round(sqrt(greatest(sxx / n_rows - (sx / n_rows) * (sx / n_rows),
        |      0.0)), 6) AS sigma
        |  FROM s),
        |wc AS (
        |  SELECT stratum, n_rows, sigma,
        |    CAST(round(CAST(CAST(n_rows AS DOUBLE) * sigma
        |      AS DECIMAL(30,10)), 2) * 100 AS BIGINT) AS weight_cents
        |  FROM w),
        |t AS (SELECT CAST(sum(weight_cents) AS BIGINT) AS total_cents FROM wc),
        |fl AS (
        |  SELECT stratum, n_rows, sigma, weight_cents,
        |    (weight_cents * 1000000) // total_cents AS alloc_ppm,
        |    (10000 * weight_cents) // total_cents AS alloc0,
        |    (10000 * weight_cents) % total_cents AS rem
        |  FROM wc CROSS JOIN t),
        |lo AS (SELECT 10000 - sum(alloc0) AS leftover FROM fl)
        |-- remainder units rank only among strata with headroom
        |-- (alloc0 < n_rows), mirroring the Spark-side eligibility window
        |SELECT stratum, n_rows, sigma, weight_cents, alloc_ppm,
        |  least(alloc0 + CASE WHEN alloc0 < n_rows AND
        |      row_number() OVER (PARTITION BY (alloc0 < n_rows)
        |        ORDER BY rem DESC, stratum) <= leftover
        |    THEN 1 ELSE 0 END, n_rows) AS n_alloc
        |FROM fl CROSS JOIN lo
        |ORDER BY stratum""".stripMargin,

    // trend is integer-sum / 7.0 (IEEE-identical), seasonal rides the
    // davg decimal discipline + the rz sign-of-zero normalization, and
    // the residual is raw double arithmetic over those two identical
    // values — rounding it would ADD divergence risk, not remove it.
    // isodow == Spark weekday + 1 (Mon=1 .. Sun=7).
    "st11_seasonal_decompose" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, count(*) AS n_events
        |  FROM events GROUP BY 1),
        |tr AS (
        |  SELECT day, n_events, count(*) OVER w AS wn,
        |    CAST(sum(n_events) OVER w AS DOUBLE) / 7.0 AS trend
        |  FROM daily
        |  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |det AS (
        |  SELECT day, n_events, trend, isodow(day) AS dow,
        |    CAST(n_events AS DOUBLE) - trend AS detr
        |  FROM tr WHERE wn = 7),
        |seas AS (
        |  SELECT dow,
        |    round(round(CAST(sum(CAST(detr AS DECIMAL(30,10))) AS DOUBLE)
        |      / count(*), 6), 6) + 0 AS seasonal
        |  FROM det GROUP BY dow)
        |SELECT det.day, det.n_events, det.trend, seas.seasonal,
        |  CAST(det.n_events AS DOUBLE) - det.trend - seas.seasonal AS residual
        |FROM det JOIN seas USING (dow) ORDER BY det.day""".stripMargin
  )
}
