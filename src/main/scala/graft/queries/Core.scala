package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.etl.{functions => F}

/** Core relational operators (SURVEY.md §2.3 P1–P5, §2.4 J1–J4, §2.5 A1–A7).
  *
  * Scale notes (100 TB discipline): every join against a bounded dimension is
  * explicitly `broadcast(...)`; aggregations rely on partial (map-side)
  * aggregation; filters/projections sit directly on the scan so Catalyst
  * pushes them into the parquet reader.
  */
object Core extends QueryPack {

  val queries: Map[String, QFn] = Map(
    // A-family: grouped aggregation (TPC-H Q1 shape). Map-side partial agg;
    // only 6 groups -> tiny shuffle.
    "q1_agg" -> ((s, dir) => {
      import s.implicits._
      table(s, dir, "lineitem")
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          dsum($"l_quantity").as("sum_qty"),
          dsum($"l_extendedprice").as("sum_base_price"),
          dsum($"l_extendedprice" * (lit(1) - $"l_discount")).as("sum_disc_price"),
          davg($"l_quantity").as("avg_qty"),
          davg($"l_discount").as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy($"l_returnflag", $"l_linestatus")
    }),

    // J4: flagship 4-level star join (reference test.py:14-33 transposed onto
    // the harness schema). Dims broadcast; the only shuffle is the group-by.
    "q2_star_join" -> ((s, dir) => {
      import s.implicits._
      val li = table(s, dir, "lineitem")
      val o  = table(s, dir, "orders")
      val c  = table(s, dir, "customer")
      val n  = table(s, dir, "nation")
      val r  = table(s, dir, "region")
      li.join(o, $"l_orderkey" === $"o_orderkey")
        .join(broadcast(c), $"o_custkey" === $"c_custkey")
        .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(r), $"n_regionkey" === $"r_regionkey")
        .groupBy($"r_name", $"n_name")
        .agg(dsum($"l_extendedprice" * (lit(1) - $"l_discount")).as("revenue"),
             count(lit(1)).as("n_items"))
        .orderBy($"r_name", $"n_name")
    }),

    // P5 + pushdown showcase (TPC-H Q6 shape): all predicates reach the
    // parquet scan (verify via .explain PushedFilters).
    "q6_filter_agg" -> ((s, dir) => {
      import s.implicits._
      table(s, dir, "lineitem")
        .filter($"l_shipdate" >= lit("1995-01-01").cast("timestamp") &&
                $"l_shipdate" <  lit("1996-01-01").cast("timestamp") &&
                $"l_discount" >= 0.05 && $"l_discount" <= 0.07 &&
                $"l_quantity" < 24)
        .agg(dsum($"l_extendedprice" * $"l_discount").as("revenue"),
             count(lit(1)).as("n_rows"))
    }),

    // Top-k: agg + global sort + limit (limit pushed through the sort).
    "q3_top_orders" -> ((s, dir) => {
      import s.implicits._
      table(s, dir, "lineitem")
        .groupBy($"l_orderkey")
        .agg(dsum($"l_extendedprice" * (lit(1) - $"l_discount")).as("revenue"))
        .orderBy($"revenue".desc, $"l_orderkey")
        .limit(10)
    }),

    // P1/S2: explicit column pruning + predicate (reference main.py:35-39's
    // manual 7-column SELECT).
    "p1_projection" -> ((s, dir) => {
      import s.implicits._
      table(s, dir, "orders")
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
        .filter($"o_orderkey" % 3 === 0)
        .orderBy($"o_orderkey")
    }),

    // P2: conditional projection — keep only columns that exist
    // (main.py:131-134). "categoria" is absent and silently dropped.
    "p2_conditional_projection" -> ((s, dir) => {
      val c = table(s, dir, "customer")
      val wanted = Seq("c_custkey", "c_name", "categoria", "c_acctbal")
      val present = wanted.filter(c.columns.contains)
      c.select(present.map(col): _*).orderBy(col("c_custkey"))
    }),

    // P3: conditional rename (main.py:128-129 categoría->categoria pattern).
    "p3_rename" -> ((s, dir) => {
      val n0 = table(s, dir, "nation")
      val n = if (n0.columns.contains("n_name")) n0.withColumnRenamed("n_name", "nation_name") else n0
      n.select(col("n_nationkey"), col("nation_name"), col("n_regionkey"))
        .orderBy(col("n_nationkey"))
    }),

    // P4: bulk header normalization (clean_data.py:12-15) — strip/lower/
    // spaces->underscore, applied after a deliberately messy rename.
    "p4_normalize_headers" -> ((s, dir) => {
      val messy = table(s, dir, "region").toDF("  R RegionKey ", " R  Name")
      val norm = messy.toDF(messy.columns.map(F.normalizeName): _*)
      norm.orderBy(col("r_regionkey"))
    }),

    // J1: left equi-join lookup with fillna sentinel on miss
    // (main.py:231-238). Dim side broadcast.
    "j1_left_lookup" -> ((s, dir) => {
      import s.implicits._
      val o = table(s, dir, "orders")
      val c = table(s, dir, "customer").filter($"c_acctbal" > 500)
        .select($"c_custkey", $"c_name")
      o.join(broadcast(c), $"o_custkey" === $"c_custkey", "left")
        .select($"o_orderkey", coalesce($"c_name", lit("-1")).as("cliente"))
        .orderBy($"o_orderkey")
    }),

    // J2: generic parameterized key lookup (lookup_key, main.py:310-319).
    "j2_lookup_key" -> ((s, dir) => {
      val cust = table(s, dir, "customer")
      val dim  = table(s, dir, "nation")
      graft.etl.StarSchema.lookupKey(cust, dim, dimJoin = "n_nationkey",
          dimKey = "n_name", leftOn = "c_nationkey", outCol = "nation_name",
          default = "-1")
        .select(col("c_custkey"), col("nation_name"))
        .orderBy(col("c_custkey"))
    }),

    // J3: map-side date-key lookup with default on miss (main.py:352-355,
    // 380-381): dim_fecha built from orders dates; lineitem ship dates
    // resolved against it, missing dates -> -1.
    "j3_fecha_lookup" -> ((s, dir) => {
      import s.implicits._
      val dim = table(s, dir, "orders")
        .select(F.fechaKey($"o_orderdate").as("fecha_key")).distinct()
        .withColumn("id_fecha", $"fecha_key")
      val fact = table(s, dir, "lineitem")
        .select($"l_orderkey", F.fechaKey($"l_shipdate").as("fecha_key"))
      fact.join(broadcast(dim), Seq("fecha_key"), "left")
        .select(coalesce($"id_fecha", lit(-1L)).as("id_fecha"))
        .groupBy($"id_fecha").agg(count(lit(1)).as("n"))
        .orderBy($"id_fecha")
    }),

    // J5: left semi join — customers having at least one urgent order.
    "j5_semi_join" -> ((s, dir) => {
      import s.implicits._
      val urgent = table(s, dir, "orders")
        .filter($"o_orderpriority" === "1-URGENT").select($"o_custkey")
      table(s, dir, "customer")
        .join(urgent, $"c_custkey" === $"o_custkey", "left_semi")
        .select($"c_custkey", $"c_name")
        .orderBy($"c_custkey")
    }),

    // J6: left anti join — customers with no orders at all.
    "j6_anti_join" -> ((s, dir) => {
      import s.implicits._
      val o = table(s, dir, "orders").select($"o_custkey")
      table(s, dir, "customer")
        .join(o, $"c_custkey" === $"o_custkey", "left_anti")
        .select($"c_custkey", $"c_name")
        .orderBy($"c_custkey")
    }),

    // J7: null-safe equi-join (<=>) — nulled keys still pair up, unlike
    // plain equality which drops them.
    "j7_null_safe_join" -> ((s, dir) => {
      import s.implicits._
      val keyOrNull = (c: org.apache.spark.sql.Column, k: org.apache.spark.sql.Column) =>
        when(k % 7 === 0, lit(null).cast("int")).otherwise(c)
      val cust = table(s, dir, "customer")
        .select($"c_custkey", keyOrNull($"c_nationkey", $"c_custkey").as("nk"))
      val supp = table(s, dir, "supplier")
        .select($"s_suppkey", keyOrNull($"s_nationkey", $"s_suppkey").as("nk"))
      cust.join(supp, cust("nk") <=> supp("nk"))
        .groupBy(cust("nk").as("nk"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(asc_nulls_first("nk"))
    }),

    // J8: full outer join — daily order volume reconciled against daily
    // event volume; days exist on each side the other lacks, so both
    // null-extension directions are exercised. Each side partial-
    // aggregates to |days| rows BEFORE the join, so the full-outer
    // shuffle moves day counts, never raw rows — the reconciliation
    // shape that still works when both inputs are 100 TB.
    "j8_full_outer" -> ((s, dir) => {
      import s.implicits._
      val dayUs = 24L * 3600L * 1000000L
      def dayOf(c: org.apache.spark.sql.Column) = {
        val us = unix_micros(c.cast("timestamp"))
        ((us - pmod(us, lit(dayUs))) / lit(dayUs)).cast("long")
      }
      val od = table(s, dir, "orders")
        .select(dayOf($"o_orderdate").as("day"))
        .groupBy($"day").agg(count(lit(1)).as("n_orders"))
      val ed = table(s, dir, "events")
        .select(dayOf($"ts").as("day"))
        .groupBy($"day").agg(count(lit(1)).as("n_events"))
      od.join(ed, Seq("day"), "full_outer")
        .select($"day", coalesce($"n_orders", lit(0L)).as("n_orders"),
          coalesce($"n_events", lit(0L)).as("n_events"))
        .orderBy($"day")
    }),

    // A8: intersect — nations present among both customers and suppliers.
    "a8_intersect" -> ((s, dir) => {
      import s.implicits._
      table(s, dir, "customer").select($"c_nationkey".as("nationkey"))
        .intersect(table(s, dir, "supplier").select($"s_nationkey".as("nationkey")))
        .orderBy($"nationkey")
    }),

    // A9: except — order dates with no lineitem shipped that day.
    "a9_except" -> ((s, dir) => {
      import s.implicits._
      table(s, dir, "orders").select(to_date($"o_orderdate").as("d"))
        .except(table(s, dir, "lineitem").select(to_date($"l_shipdate").as("d")))
        .orderBy($"d")
    }),

    // A1: distinct rows over a projection (drop_duplicates, main.py:106-110).
    "a1_distinct" -> ((s, dir) => {
      import s.implicits._
      table(s, dir, "customer")
        .select($"c_mktsegment", $"c_nationkey").distinct()
        .orderBy($"c_mktsegment", $"c_nationkey")
    }),

    // A2: distinct by subset — deterministic row choice via row_number
    // (drop_duplicates(subset=...), sync_dimensions_dw.py:123; SURVEY §7.3.1
    // explains why insert-order semantics become an explicit window).
    "a2_distinct_by_subset" -> ((s, dir) => {
      import s.implicits._
      topK(table(s, dir, "orders"), Seq($"o_custkey"),
          Seq($"o_orderdate", $"o_orderkey"), 1, "rn")
        .select($"o_custkey", $"o_orderkey", $"o_totalprice")
        .orderBy($"o_custkey")
    }),

    // A3: distinct values of one column, nulls dropped (clean_data.py:18).
    "a3_distinct_values" -> ((s, dir) => {
      import s.implicits._
      table(s, dir, "orders")
        .select($"o_orderdate").na.drop().distinct()
        .orderBy($"o_orderdate")
    }),

    // A4: scalar max/min aggregates (main.py:347-350).
    "a4_minmax" -> ((s, dir) => {
      import s.implicits._
      table(s, dir, "orders").agg(
        max($"o_totalprice").as("max_price"),
        min($"o_totalprice").as("min_price"),
        max($"o_orderdate").as("max_date"),
        min($"o_orderdate").as("min_date"))
    }),

    // A5: counts (len(df) logging, main.py:45-93) — per-group + distinct.
    "a5_counts" -> ((s, dir) => {
      import s.implicits._
      table(s, dir, "events")
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), countDistinct($"user_id").as("n_users"))
        .orderBy($"event_type")
    }),

    // A6: schema-aligned union with missing-column padding (pd.concat,
    // main.py:289-303).
    "a6_union" -> ((s, dir) => {
      import s.implicits._
      val c = table(s, dir, "customer")
        .select($"c_name".as("name"), $"c_acctbal".as("acctbal"),
                $"c_mktsegment".as("segment"), lit("customer").as("kind"))
      val p = table(s, dir, "supplier")
        .select($"s_name".as("name"), $"s_acctbal".as("acctbal"),
                lit("supplier").as("kind"))
      c.unionByName(p, allowMissingColumns = true)
        .orderBy($"kind", $"name")
    }),

    // A7: sort + deterministic surrogate key (IDENTITY emulation,
    // sync_dimensions_dw.py:32-49 -> row_number over explicit order;
    // SURVEY §7.3.1. Global window = single-partition shuffle — fine for
    // bounded dims; at 100 TB switch to zipWithIndex-style dense remap).
    "a7_sort_ranked" -> ((s, dir) => {
      import s.implicits._
      table(s, dir, "customer")
        .select($"c_custkey", $"c_name")
        .withColumn("id_cliente", row_number().over(Window.orderBy($"c_custkey")).cast("long"))
        .select($"id_cliente", $"c_custkey", $"c_name")
        .orderBy($"id_cliente")
    })
  )

  val oracle: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(30,10))), 2) AS DOUBLE) AS sum_qty,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(30,10))), 2) AS DOUBLE) AS sum_base_price,
        |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))), 2) AS DOUBLE) AS sum_disc_price,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(30,10))) AS DOUBLE) / count(*), 6) AS avg_qty,
        |  round(CAST(sum(CAST(l_discount AS DECIMAL(30,10))) AS DOUBLE) / count(*), 6) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q2_star_join" ->
      """SELECT r_name, n_name,
        |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))), 2) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,

    "q6_filter_agg" ->
      """SELECT
        |  CAST(round(sum(CAST(l_extendedprice * l_discount AS DECIMAL(30,10))), 2) AS DOUBLE) AS revenue,
        |  count(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin,

    "q3_top_orders" ->
      """SELECT l_orderkey,
        |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))), 2) AS DOUBLE) AS revenue
        |FROM lineitem GROUP BY l_orderkey
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "p1_projection" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey % 3 = 0 ORDER BY o_orderkey""".stripMargin,

    "p2_conditional_projection" ->
      "SELECT c_custkey, c_name, c_acctbal FROM customer ORDER BY c_custkey",

    "p3_rename" ->
      "SELECT n_nationkey, n_name AS nation_name, n_regionkey FROM nation ORDER BY n_nationkey",

    "p4_normalize_headers" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",

    "j1_left_lookup" ->
      """SELECT o_orderkey, coalesce(c_name, '-1') AS cliente
        |FROM orders LEFT JOIN (SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 500) c
        |ON o_custkey = c_custkey ORDER BY o_orderkey""".stripMargin,

    "j2_lookup_key" ->
      """SELECT c_custkey, coalesce(n_name, '-1') AS nation_name
        |FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY c_custkey""".stripMargin,

    "j3_fecha_lookup" ->
      """WITH dim AS (
        |  SELECT DISTINCT coalesce(CAST(strftime(o_orderdate, '%Y%m%d') AS BIGINT), -1) AS fecha_key
        |  FROM orders),
        |fact AS (
        |  SELECT coalesce(CAST(strftime(l_shipdate, '%Y%m%d') AS BIGINT), -1) AS fecha_key
        |  FROM lineitem)
        |SELECT coalesce(dim.fecha_key, -1) AS id_fecha, count(*) AS n
        |FROM fact LEFT JOIN dim ON fact.fecha_key = dim.fecha_key
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "j5_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,

    "j6_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "j7_null_safe_join" ->
      """WITH c AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_nationkey END AS nk
        |  FROM customer),
        |s AS (
        |  SELECT s_suppkey,
        |    CASE WHEN s_suppkey % 7 = 0 THEN NULL ELSE s_nationkey END AS nk
        |  FROM supplier)
        |SELECT c.nk AS nk, count(*) AS n_pairs
        |FROM c JOIN s ON c.nk IS NOT DISTINCT FROM s.nk
        |GROUP BY 1 ORDER BY nk NULLS FIRST""".stripMargin,

    // USING(day) coalesces the key in both engines; counts null-extend
    // and coalesce to 0.
    "j8_full_outer" ->
      """WITH od AS (
        |  SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS day,
        |    count(*) AS n_orders
        |  FROM orders GROUP BY 1),
        |ed AS (
        |  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
        |    count(*) AS n_events
        |  FROM events GROUP BY 1)
        |SELECT day, coalesce(n_orders, 0) AS n_orders,
        |  coalesce(n_events, 0) AS n_events
        |FROM od FULL OUTER JOIN ed USING (day) ORDER BY day""".stripMargin,

    "a8_intersect" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT
        |SELECT s_nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin,

    "a9_except" ->
      """SELECT CAST(o_orderdate AS DATE) AS d FROM orders
        |EXCEPT
        |SELECT CAST(l_shipdate AS DATE) FROM lineitem
        |ORDER BY d""".stripMargin,

    "a1_distinct" ->
      """SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
        |ORDER BY c_mktsegment, c_nationkey""".stripMargin,

    "a2_distinct_by_subset" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn = 1 ORDER BY o_custkey""".stripMargin,

    "a3_distinct_values" ->
      """SELECT DISTINCT o_orderdate FROM orders WHERE o_orderdate IS NOT NULL
        |ORDER BY o_orderdate""".stripMargin,

    "a4_minmax" ->
      """SELECT max(o_totalprice) AS max_price, min(o_totalprice) AS min_price,
        |  max(o_orderdate) AS max_date, min(o_orderdate) AS min_date FROM orders""".stripMargin,

    "a5_counts" ->
      """SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "a6_union" ->
      """SELECT * FROM (
        |  SELECT c_name AS name, c_acctbal AS acctbal, c_mktsegment AS segment, 'customer' AS kind FROM customer
        |  UNION ALL
        |  SELECT s_name, s_acctbal, NULL, 'supplier' FROM supplier) t
        |ORDER BY kind, name""".stripMargin,

    "a7_sort_ranked" ->
      """SELECT row_number() OVER (ORDER BY c_custkey) AS id_cliente, c_custkey, c_name
        |FROM customer ORDER BY id_cliente""".stripMargin
  )
}
