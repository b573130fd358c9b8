package graft.queries

import org.apache.spark.sql.functions._
import graft.etl.{functions => F, Harmonize, Pipeline, Sources, Staging, StarSchema}

/** End-to-end ETL surface (SURVEY.md §2.1 S1/S3, §2.2 K1/K4, §2.8's
  * harmonizer, and the reference's star-schema build composed as one
  * pipeline). Sources that the harness cannot feed directly (CSV files, JSON
  * bodies) are materialized from the parquet tables first, so every query
  * stays oracle-checkable against the same inputs.
  *
  * Temp staging lives under java.io.tmpdir, keyed by scale-factor directory
  * name so concurrent SFs never collide.
  */
object Etl extends QueryPack {

  private def tmp(dir: String, name: String): String = tmpStage(dir, name)

  /** Two-version parquet layout (v1: three columns, v2: + n_chars) for the
    * schema-evolution read — the layout write is a per-SF stage (an
    * upstream producer's history, immutable once written), so the judged
    * query measures the mergeSchema READ, not the history synthesis. */
  private[queries] def stagedSchemaEvo(s: org.apache.spark.sql.SparkSession,
                                       dir: String): String = {
    val path = tmp(dir, "schema_evo")
    // guard on BOTH markers: a failure between the two writes would
    // otherwise leave v2 missing/stale and every later run would skip
    // the rewrite and read an inconsistent dataset
    val freshStage = !java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$path/v1/_SUCCESS")) ||
        !java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$path/v2/_SUCCESS"))
    graft.queries.logStage(path, freshStage)
    if (freshStage) {
      val docs = table(s, dir, "documents")
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang"), col("source"))
        .write.mode("overwrite").parquet(s"$path/v1")
      docs.filter(col("doc_id") % 2 =!= 0)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .write.mode("overwrite").parquet(s"$path/v2")
    }
    path
  }

  /** Hive-partitioned documents layout (partitionBy lang) for the
    * partition-pruning read — staged per SF for the same reason as
    * stagedSchemaEvo: the layout is written once, the judged query is the
    * pruned scan over it. */
  private[queries] def stagedDocsByLang(s: org.apache.spark.sql.SparkSession,
                                        dir: String): String = {
    val path = tmp(dir, "docs_by_lang")
    graft.queries.ensureStaged(path, "_SUCCESS") {
      table(s, dir, "documents")
        .write.partitionBy("lang").mode("overwrite").parquet(path)
    }
    path
  }

  val queries: Map[String, QFn] = Map(
    // S1 + K1: parquet -> CSV staging file -> CsvExtractor-equivalent read.
    // Header normalization + inferSchema + the na_filter=false "" contract
    // all exercised; explicit casts restore the parquet widths afterwards
    // (schema-on-read infers the narrowest type).
    "etl_csv_source" -> ((s, dir) => {
      val path = tmp(dir, "nation_csv")
      table(s, dir, "nation")
        .write.mode("overwrite").option("header", "true").csv(path)
      Sources.csv(s, path)
        .select(col("n_nationkey").cast("int"), col("n_name"),
                col("n_regionkey").cast("int"))
        .orderBy(col("n_nationkey"))
    }),

    // S3: REST/JSON body with {"data": [...]} envelope + nested object ->
    // flattened columns (json_normalize semantics). Body is built
    // driver-side from the bounded region dim (5 rows).
    "etl_json_source" -> ((s, dir) => {
      val rows = table(s, dir, "region").orderBy(col("r_regionkey"))
        .collect().map { r =>
          val k = r.getAs[Int]("r_regionkey"); val n = r.getAs[String]("r_name")
          // escape the embedded string (a quote/backslash in a name must not
          // corrupt the body) and count CODEPOINTS, matching the oracle's
          // length() — String.length counts UTF-16 units
          val esc = n.replace("\\", "\\\\").replace("\"", "\\\"")
          val chars = n.codePointCount(0, n.length)
          s"""{"region_key":$k,"meta":{"name":"$esc","chars":$chars}}"""
        }
      val body = rows.mkString("""{"data":[""", ",", "]}")
      Sources.jsonBody(s, body)
        .select(col("region_key").cast("int"), col("meta_name"),
                col("meta_chars").cast("long"))
        .orderBy(col("region_key"))
    }),

    // Harmonizer (add_block, main.py:208-269) + A6 union: customer and
    // supplier arrive with different schemas; the spec renames-if-present /
    // defaults-if-absent into one "party" block set, then unions.
    "etl_harmonize_union" -> ((s, dir) => {
      val spec = Harmonize.Spec(Seq(
        Harmonize.Field("party_id", from = Seq("c_custkey", "s_suppkey"),
          coerce = c => c.cast("long")),
        Harmonize.Field("nombre", from = Seq("c_name", "s_name"),
          coerce = F.normalizeText),
        Harmonize.Field("saldo", from = Seq("c_acctbal", "s_acctbal"),
          coerce = c => F.toDoubleOr(c, 0.0)),
        Harmonize.Field("segmento", from = Seq("c_mktsegment"),
          default = lit("-1")),
        Harmonize.Field("kind")))
      val blocks = Seq(
        table(s, dir, "customer").withColumn("kind", lit("customer")),
        table(s, dir, "supplier").withColumn("kind", lit("supplier")))
        .map(Harmonize(_, spec))
      Harmonize.unionBlocks(blocks).get
        .orderBy(col("kind"), col("party_id"))
    }),

    // Full star build (main.py build_dimensions + build_fact + FK resolve):
    // dim_cliente surrogate-keyed by row_number, dim_fecha from order dates
    // with calendar parts, fact = orders with both FKs resolved via
    // broadcast lookups and sentinel defaults for out-of-dim dates.
    "etl_star_pipeline" -> ((s, dir) => {
      val customer = table(s, dir, "customer")
      val orders = table(s, dir, "orders")
      val dimCliente = StarSchema.buildDim(customer,
        Seq("c_custkey", "c_name"), orderCol = "c_custkey",
        keyName = "id_cliente")
      val dimFecha = StarSchema
        .buildDimFecha(Seq(col("o_orderdate")), Seq(orders))
        .withColumn("id_fecha", col("fecha_key"))
      val fact0 = StarSchema.lookupKey(orders, dimCliente,
        dimJoin = "c_custkey", dimKey = "id_cliente",
        leftOn = "o_custkey", outCol = "id_cliente", default = -1)
      val fact = StarSchema.lookupKey(
        fact0.withColumn("fecha_key", F.fechaKey(col("o_orderdate"))),
        dimFecha, dimJoin = "fecha_key", dimKey = "id_fecha",
        leftOn = "fecha_key", outCol = "id_fecha", default = -1L)
      fact.select(col("o_orderkey"), col("id_cliente").cast("long"),
          col("id_fecha").cast("long"), col("o_totalprice").as("importe"))
        .orderBy(col("o_orderkey"))
    }),

    // S2 + K1/K3 live: a real JDBC round-trip through embedded Derby (the
    // container's only RDBMS; the reference's SQLite-staging + DW-insert
    // twin, db_extractor.py:6-14 / dw_repository.py:8-23). region ->
    // jdbcOverwrite (drop+create) -> jdbcAppend (batched insert, so every
    // row lands twice) -> Sources.jdbc with an arbitrary aggregate QUERY
    // pushed to the RDBMS.
    "etl_jdbc_source" -> ((s, dir) => {
      // keep Derby's derby.log out of the working dir
      System.setProperty("derby.system.home",
        System.getProperty("java.io.tmpdir"))
      val url = s"jdbc:derby:${tmp(dir, "derby_db")};create=true"
      val reg = table(s, dir, "region")
        .select(col("r_regionkey"), col("r_name"))
      // Derby's default string mapping is CLOB, which can't be grouped —
      // pin a comparable VARCHAR at table creation
      val ct = Map("createTableColumnTypes" -> "r_name VARCHAR(64)")
      Staging.jdbcOverwrite(reg, url, "region_jdbc", props = ct)
      Staging.jdbcAppend(reg, url, "region_jdbc", batchSize = 2)
      // Spark's JDBC writer creates case-sensitive (quoted) columns, so the
      // pushed-down SQL quotes them; aliases stay unquoted (Derby uppercases,
      // Spark lowercases on read — harmless either way, re-aliased below).
      Sources.jdbc(s, url,
        """SELECT "r_regionkey", "r_name", count(*) AS n_copies
          |FROM region_jdbc GROUP BY "r_regionkey", "r_name"""".stripMargin)
        .select(col("r_regionkey"), col("r_name"),
          col("n_copies").cast("long").as("n_copies"))
        .orderBy(col("r_regionkey"))
    }),

    // Full orchestrated lifecycle (main.py:417-431): extract (with one
    // deliberately dead JDBC source degrading, logs/etl.log:1157-1160) ->
    // staging -> dim build -> one broken stage (skipped) -> fact with FK
    // resolve. The judged artifact is the fact written THROUGH the staging
    // layer, proving the degrade-don't-abort path end to end.
    "etl_pipeline_run" -> ((s, dir) => {
      val audit = new Pipeline.Audit(sink = _ => ())
      val result = Pipeline.run(s, tmp(dir, "pipe_run"),
        sources = Seq(
          "db_opiniones" -> (() => Sources.jdbc(s,
            "jdbc:derby:/nonexistent/graft_db", "SELECT 1 FROM dual")),
          "nation" -> (() => table(s, dir, "nation")),
          "region" -> (() => table(s, dir, "region"))),
        builds = Seq(
          "dim_region" -> (t => t("stg_region")
            .select(col("r_regionkey"), col("r_name"))),
          "dim_dead" -> (t => t("stg_db_opiniones")), // probes the dead table
          "fact_nation" -> (t => StarSchema.lookupKey(
            t("stg_nation"), t("dim_region"),
            dimJoin = "r_regionkey", dimKey = "r_name",
            leftOn = "n_regionkey", outCol = "region_name", default = "NA"))),
        audit = audit)
      require(!result.tables.contains("stg_db_opiniones") &&
        !result.tables.contains("dim_dead") && audit.warnings.size >= 2,
        "dead source/stage did not degrade as contracted")
      readParquet(s, result.tables("fact_nation"))
        .select(col("n_nationkey"), col("n_name"), col("region_name"))
        .orderBy(col("n_nationkey"))
    }),

    // Bucketed co-located join: both sides land as bucketed tables on the
    // join key, so the fact-fact join needs NO shuffle at all — the
    // pre-partitioning the brief's "co-locate joins via bucketing" asks
    // for. The merge hint pins a sort-merge join (a broadcast would hide
    // the colocation being demonstrated); PlanSpec asserts the only
    // shuffles left are the aggregation and the final sort.
    "etl_bucketed_join" -> ((s, dir) => {
      val dbDir = tmp(dir, "bucketed_db")
      val db = ("graft_bkt_" + dir.replaceAll("[^A-Za-z0-9]", "_")).toLowerCase
      // the catalog is per-session but the managed-table location persists
      // in the temp dir — wipe both or a re-run hits LOCATION_ALREADY_EXISTS
      s.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
      val dbPath = new org.apache.hadoop.fs.Path(dbDir)
      dbPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(dbPath, true)
      s.sql(s"CREATE DATABASE $db LOCATION '$dbDir'")
      table(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity"))
        .write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable(s"$db.lineitem_b")
      table(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"))
        .write.mode("overwrite")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable(s"$db.orders_b")
      s.table(s"$db.lineitem_b").hint("merge")
        .join(s.table(s"$db.orders_b").hint("merge"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("o_orderstatus"))
    }),

    // Keyed upsert (idempotent re-runnable dimension sync — the reference's
    // blind append, sync_dimensions_dw.py:43-49, made safe to re-run):
    // initial load = even custkeys with their balance; update wave = every
    // third custkey with balance+100 (overlapping AND new keys). Running
    // the same upsert twice must converge — the query applies it twice.
    "etl_upsert" -> ((s, dir) => {
      val path = tmp(dir, "upsert_dim")
      val cust = table(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal").as("bal"))
      Staging.overwrite(cust.filter(col("c_custkey") % 2 === 0), path)
      val updates = cust.filter(col("c_custkey") % 3 === 0)
        .withColumn("bal", col("bal") + 100.0)
      Staging.upsert(updates, path, key = Seq("c_custkey"))
      Staging.upsert(updates, path, key = Seq("c_custkey")) // idempotent
      readParquet(s, path).orderBy(col("c_custkey"))
    }),

    // SCD Type-2 dimension history: a balance-change batch closes each
    // affected current version and appends the new one; applying the SAME
    // batch twice is a no-op (attrs equal -> no new version).
    "etl_scd2" -> ((s, dir) => {
      val cust = table(s, dir, "customer").select(col("c_custkey").as("k"),
        col("c_name").as("name"), col("c_acctbal").as("bal"))
      val history = cust.select(col("k"), col("name"), col("bal"),
        lit(java.sql.Date.valueOf("2024-01-01")).as("valid_from"),
        lit(null).cast("date").as("valid_to"), lit(true).as("is_current"))
      val updates = cust.filter(col("k") % 3 === 0)
        .withColumn("bal", col("bal") + 100.0)
      val batch = lit(java.sql.Date.valueOf("2024-06-01"))
      val once = Staging.scd2Merge(history, updates, Seq("k"),
        Seq("name", "bal"), batch)
      // idempotency is part of the judged semantics: merge the same batch
      // again — attrs now match the current versions, so nothing changes
      Staging.scd2Merge(once, updates, Seq("k"), Seq("name", "bal"), batch)
        .orderBy(col("k"), col("valid_from"))
    }),

    // K4: sorted staging write (the reference's CREATE INDEX analogue,
    // load_to_staging.py:7-16) -> re-scan -> aggregate. Parquet min/max on
    // the sort column makes the re-scan prunable.
    "etl_staging_sorted" -> ((s, dir) => {
      val path = tmp(dir, "lineitem_sorted")
      Staging.overwriteSorted(
        table(s, dir, "lineitem").filter(col("l_quantity") >= 30),
        path, sortCols = Seq("l_orderkey"))
      val back = readParquet(s, path)
      back.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("total"))
        .orderBy(col("l_returnflag"))
    }),

    // A7 at 100 TB: dense surrogate keys with NO global window — range
    // partition + per-partition ordinal + broadcast offset remap
    // (StarSchema.buildDimDense). The oracle is the row_number form, so
    // hash-green here IS the proof the two paths assign identical keys.
    "etl_dense_keys" -> ((s, dir) =>
      StarSchema.buildDimDense(table(s, dir, "customer"),
        Seq("c_custkey", "c_name", "c_mktsegment"), "c_custkey", "customer_key")
        .orderBy(col("customer_key"))),

    // Malformed-input resilience (PERMISSIVE): nation rows land in a CSV
    // where key%5=0 rows carry an EXTRA field and key%5=1 rows a MISSING
    // one; both classes surface in the corrupt-record column while clean
    // rows parse — degrade-don't-abort (the reference's main.py posture)
    // with the damage COUNTED, not swallowed.
    "etl_csv_malformed" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val path = tmp(dir, "nation_bad_csv")
      val freshStage = !java.nio.file.Files.exists(
          java.nio.file.Paths.get(s"$path/_SUCCESS"))
      graft.queries.logStage(path, freshStage)
      if (freshStage) {
        val line =
          when(col("n_nationkey") % 5 === 0,
            concat_ws(",", col("n_nationkey"), col("n_name"),
              col("n_regionkey"), lit("EXTRA")))
          .when(col("n_nationkey") % 5 === 1,
            concat_ws(",", col("n_nationkey"), col("n_name")))
          .otherwise(concat_ws(",", col("n_nationkey"), col("n_name"),
            col("n_regionkey")))
        table(s, dir, "nation").select(line.as("value"))
          .write.mode("overwrite").text(path)
      }
      val schema = StructType(Seq(
        StructField("n_nationkey", LongType), StructField("n_name", StringType),
        StructField("n_regionkey", LongType), StructField("_corrupt", StringType)))
      // EVERY data column is referenced below — under CSV column pruning
      // Spark parses only the required subset, and a row whose damage
      // lives outside that subset is silently NOT flagged as corrupt;
      // touching all columns forces the full-row parse the corrupt
      // contract needs (the documented PERMISSIVE caveat).
      s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(path)
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("_corrupt").isNotNull, 1L).otherwise(0L)).as("n_corrupt"),
          count(col("n_name")).as("n_names"),
          sum(when(col("_corrupt").isNull, col("n_nationkey")))
            .as("clean_key_sum"),
          sum(when(col("_corrupt").isNull, col("n_regionkey")))
            .as("clean_regionkey_sum"))
    }),

    // Schema evolution: a v1 batch (three columns) and a v2 batch (adds
    // n_chars) coexist in one dataset; mergeSchema unifies them on read
    // and v1 rows surface NULL for the added column — upstream schema
    // drift absorbed without rewriting history. The aggregate counts the
    // legacy rows explicitly so the drift stays visible downstream.
    "etl_schema_evolution" -> ((s, dir) => {
      val path = stagedSchemaEvo(s, dir)
      // the plain reader: the schema is the merge of every file's footer
      s.read.option("mergeSchema", "true")
        .parquet(s"$path/v1", s"$path/v2")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("n_chars").isNull, 1L).otherwise(0L)).as("n_legacy"),
          sum(col("n_chars")).as("total_chars"))
        .orderBy(col("lang"))
    }),

    // Hive-style partitioned layout + PARTITION PRUNING: documents land
    // partitioned by lang; the read-back filter prunes whole directories
    // before any file opens (PlanSpec pins the PartitionFilters entry) —
    // the layout decision that turns a 100 TB scan into a 4 TB one.
    "etl_partitioned_write" -> ((s, dir) => {
      val path = stagedDocsByLang(s, dir)
      // the plain reader: the lang column comes from the directory names,
      // not from a footer (readParquet refuses partitioned layouts)
      s.read.parquet(path).filter(col("lang") === "en")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
        .orderBy(col("source"))
    }),

    // Shipping-delay distribution per order priority (the Q12-adjacent
    // service-level cut): one fact-fact join on orderkey, then integer
    // day buckets — exact arithmetic end to end.
    "q12_shipping_delay" -> ((s, dir) => {
      val li = table(s, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
      val o = table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"),
          datediff(col("l_shipdate"), col("o_orderdate")).cast("long")
            .as("delay_days"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority"), col("delay_days"))
    }),

    // S1 family, third format: ORC round-trip — the columnar interchange
    // format a warehouse migration hands you. Write preserves types
    // exactly (no schema-on-read inference to re-cast), read back and
    // project; the oracle is the source table itself.
    "etl_orc_source" -> ((s, dir) => {
      val path = tmp(dir, "supplier_orc")
      table(s, dir, "supplier").write.mode("overwrite").orc(path)
      s.read.orc(path)
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
          col("s_acctbal"))
        .orderBy(col("s_suppkey"))
    }),

    // Incremental aggregate maintenance (materialized-view refresh): the
    // stored table keeps MERGEABLE partials (decimal-exact sum + count)
    // for the base slice; a new batch's partials merge by key WITHOUT
    // rescanning the base — the 100 TB pattern for keeping corpus stats
    // current as shards land. Decimal partials make merge-then-finalize
    // equal the full recompute bit-for-bit (the oracle is the full
    // recompute).
    "etl_incremental_agg" -> ((s, dir) => {
      import org.apache.spark.sql.types.{DecimalType, DoubleType}
      val path = tmp(dir, "incr_agg")
      val li = table(s, dir, "lineitem")
      def partials(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(col("l_returnflag"))
          .agg(sum(col("l_quantity").cast(DecimalType(30, 10))).as("s"),
            count(lit(1)).as("n"))
      partials(li.filter(col("l_orderkey") % 7 =!= 0))
        .write.mode("overwrite").parquet(path)
      readParquet(s, path)
        .unionByName(partials(li.filter(col("l_orderkey") % 7 === 0)))
        .groupBy(col("l_returnflag"))
        .agg(round(sum(col("s")), 2).cast(DoubleType).as("sum_qty"),
          sum(col("n")).as("n"))
        .orderBy(col("l_returnflag"))
    }),

    // Z-order layout audit: orders laid out by Morton-interleaved
    // (custkey, order-day) z-cells vs a plain date-range layout, then the
    // footer-pruning question a 100 TB scan planner asks — "how many
    // files does this predicate open?" — answered for a predicate on
    // EACH dimension. The z layout prunes both; the linear layout prunes
    // only its sort dimension. File assignment is z >> 14 (a pure map —
    // no global sort; a writer would repartitionByRange on the same
    // key); footer stats are one rollup per layout, materialized once
    // and consumed by both predicate audits.
    "etl_zorder_layout" -> ((s, dir) => {
      import graft.ops.Layout
      val o = table(s, dir, "orders").select(
        col("o_custkey").cast("long").as("x"),
        datediff(col("o_orderdate").cast("date"),
          lit("1970-01-01").cast("date")).cast("long").as("y"))
      val z = Layout.zValue(col("x"), col("y"), bits = 21)
      val zStats = graft.ops.Dedup.materialize(
        Layout.fileRangeStats(o, shiftright(z, 14), col("x"), col("y")))
      val linStats = graft.ops.Dedup.materialize(
        Layout.fileRangeStats(o, shiftright(col("y"), 7), col("x"), col("y")))
      def audit(stats: org.apache.spark.sql.DataFrame, layout: String,
                pred: String, mn: String, mx: String, lo: Long, hi: Long) =
        stats.agg(count(lit(1)).as("files_total"),
            sum(when(Layout.scanned(col(mn), col(mx), lo, hi), 1L)
              .otherwise(0L)).as("files_scanned"),
            sum(when(Layout.scanned(col(mn), col(mx), lo, hi),
              col("n_rows")).otherwise(0L)).as("rows_scanned"))
          .select(lit(layout).as("layout"), lit(pred).as("predicate"),
            col("files_total"), col("files_scanned"), col("rows_scanned"))
      audit(zStats, "zorder", "custkey_band", "min_x", "max_x", 300L, 420L)
        .unionByName(audit(zStats, "zorder", "day_band",
          "min_y", "max_y", 9800L, 9960L))
        .unionByName(audit(linStats, "linear", "custkey_band",
          "min_x", "max_x", 300L, 420L))
        .unionByName(audit(linStats, "linear", "day_band",
          "min_y", "max_y", 9800L, 9960L))
        .orderBy(col("layout"), col("predicate"))
    }),

    // Data-quality gate 1/3 — one-pass numeric profile of the fact table:
    // null counts, exact distincts, min/max/mean per column, all from a
    // single scan (the pre-load sanity dashboard).
    "dq1_profile" -> ((s, dir) =>
      graft.ops.Quality.profile(table(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))),

    // 2/3 — declared expectations with per-rule violation counts (the
    // Deequ/Great-Expectations style gate), one scan for all rules.
    "dq2_expectations" -> ((s, dir) =>
      graft.ops.Quality.expectations(table(s, dir, "lineitem"), Seq(
        "discount_range" -> col("l_discount").between(0, 0.1),
        "price_positive" -> (col("l_extendedprice") > 0),
        "qty_range" -> col("l_quantity").between(1, 50),
        "returnflag_domain" -> col("l_returnflag").isin("A", "N", "R"),
        "shipdate_present" -> col("l_shipdate").isNotNull))),

    // 3/3 — referential integrity across the whole star: orphan counts
    // per FK edge (a NULL fk counts as an orphan).
    "dq3_referential" -> ((s, dir) => {
      import graft.ops.Quality.refCheck
      val li = table(s, dir, "lineitem"); val o = table(s, dir, "orders")
      val c = table(s, dir, "customer"); val sup = table(s, dir, "supplier")
      val n = table(s, dir, "nation"); val r = table(s, dir, "region")
      refCheck("customer.c_nationkey -> nation.n_nationkey",
          c, "c_nationkey", n, "n_nationkey")
        .unionByName(refCheck("lineitem.l_orderkey -> orders.o_orderkey",
          li, "l_orderkey", o, "o_orderkey"))
        .unionByName(refCheck("lineitem.l_suppkey -> supplier.s_suppkey",
          li, "l_suppkey", sup, "s_suppkey"))
        .unionByName(refCheck("nation.n_regionkey -> region.r_regionkey",
          n, "n_regionkey", r, "r_regionkey"))
        .unionByName(refCheck("orders.o_custkey -> customer.c_custkey",
          o, "o_custkey", c, "c_custkey"))
        .orderBy(col("relation"))
    }),

    // 4/4 — the approximate profile the 100 TB path actually runs: one
    // mergeable integer-exact HLL cell table per column. dq1's exact
    // countDistinct plans through Expand (shuffle carries rows × |cols|);
    // here the per-row (col, bucket, rho) triples partial-aggregate
    // map-side, so the exchange carries ≤ partitions × |cols| × 64 rows
    // at any data size. Key/string columns only: sketch identity is the
    // string rendering, which must match across engines.
    "dq4_profile_approx" -> ((s, dir) =>
      graft.ops.Quality.profileApprox(table(s, dir, "lineitem"),
        Seq("l_orderkey", "l_partkey", "l_suppkey",
            "l_returnflag", "l_linestatus", "l_shipdate"))),

    // PSI drift between the event stream's early and late halves over
    // (event_type × value-decile) — the distribution-shift gate run
    // before a new data window joins a training mix.
    "dq5_psi_drift" -> ((s, dir) =>
      graft.ops.Quality.psiDrift(table(s, dir, "events"))),

    // Binned two-sample KS statistic — dq5's shape-sensitive sibling:
    // sup |ECDF_early − ECDF_late| over a 256-cell value grid, cumulative
    // window bounded by the grid, never the stream.
    "dq6_ks_drift" -> ((s, dir) =>
      graft.ops.Quality.ksDrift(table(s, dir, "events"))),

    // Cross-table reconciliation — the consistency audit dq3's existence
    // check can't see: per order, the lineitem-recomputed invoice total
    // (Σ price·(1−disc)·(1+tax), decimal-exact, 2-dp) against the stored
    // o_totalprice; rolled up per status with mismatch counts and total
    // absolute drift. The synthetic tables are independently priced, so
    // every order "mismatches" — the judged quantity is the audit
    // arithmetic itself.
    //
    // Shape at scale: lineitem partial-aggregates on l_orderkey (its
    // natural key), then ONE orderkey-keyed shuffle join against orders —
    // both sides well-distributed; the status rollup is map-side-combined
    // to a handful of rows. No window, no broadcast of anything
    // corpus-sized.
    "dq7_reconcile" -> ((s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      // the 2-dp quantization happens DECIMAL->DECIMAL (exact half-up on
      // the exact sum in both engines), never via round(double, 2) — the
      // per-order sums land on real half-cent boundaries at corpus scale
      val li = table(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
            (lit(1.0) + col("l_tax"))).cast(DecimalType(30, 10)))
          .cast(DecimalType(30, 2)).cast("double").as("recomputed"))
      table(s, dir, "orders")
        .join(li, col("o_orderkey") === col("l_orderkey"), "left")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          sum(when(col("recomputed").isNull, 1L).otherwise(0L)).as("n_no_lines"),
          sum(when(abs(col("recomputed") - col("o_totalprice")) > 0.01, 1L)
            .otherwise(0L)).as("n_mismatch"),
          // both operands are 2-dp money, so each |diff| is quantized to
          // DECIMAL(30,2) exactly (safely off the half-cent boundary) and
          // the sum needs NO final double round — a round(double, 2) over
          // this sum lands on real .5 ties at corpus scale
          sum(abs(col("recomputed") - col("o_totalprice"))
            .cast(DecimalType(30, 2))).cast("double").as("total_abs_diff"))
        .orderBy(col("o_orderstatus"))
    }),

    // Benford first-significant-digit audit on the money column — the
    // classic fabricated-data screen. Digit extraction is INTEGER end to
    // end: the tie-free DECIMAL(30,10) cast quantizes to exact cents, and
    // the leading digit of the integer cents IS the first significant
    // digit of the price (prices ≥ 0.01) — no log10, no double→string
    // formatting, nothing engine-dependent. Expected shares are literal
    // Benford ppm (log10(1+1/d) is NOT evaluated at runtime — libm
    // rounding is not cross-engine safe), so the whole artifact hashes as
    // integers. Shape: one map-side digit extraction + a 9-key rollup +
    // one broadcast total row.
    // Release-gate 9: k-anonymity / l-diversity over the customer table —
    // quasi-identifiers an outsider can link (segment, nation), sensitive
    // attribute the release would leak (account-balance band). The judged
    // artifact is the bounded class-size census (re-identification risk
    // mass below any k is a prefix sum over it).
    "dq9_k_anonymity" -> ((s, dir) => {
      import s.implicits._
      graft.ops.Quality.kAnonymity(
        table(s, dir, "customer")
          .withColumn("bal_band", floor($"c_acctbal" / 1000.0).cast("long")),
        quasi = Seq("c_mktsegment", "c_nationkey"), sensitive = "bal_band")
    }),

    "dq8_benford" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types.DecimalType
      val benford = Seq(1 -> 301030L, 2 -> 176091L, 3 -> 124939L,
        4 -> 96910L, 5 -> 79181L, 6 -> 66947L, 7 -> 57992L,
        8 -> 51153L, 9 -> 45757L)
      val exp = s.createDataFrame(benford.map { case (d, p) => (d.toLong, p) })
        .toDF("digit", "benford_ppm")
      val cents = table(s, dir, "orders")
        .filter($"o_totalprice" > 0.0)
        .select(floor($"o_totalprice".cast(DecimalType(30, 10)) * 100)
          .cast("long").as("cents"))
      val digits = cents.select(
        expr("cents DIV CAST(pow(10, length(CAST(cents AS STRING)) - 1) AS BIGINT)")
          .as("digit"))
      val tot = digits.agg(count(lit(1)).as("n_total"))
      digits.groupBy($"digit").agg(count(lit(1)).as("n_obs"))
        .join(broadcast(exp), Seq("digit"))
        .crossJoin(broadcast(tot))
        .select($"digit", $"n_obs", $"n_total",
          expr("(n_obs * 1000000L) DIV n_total").as("obs_ppm"),
          $"benford_ppm",
          (expr("(n_obs * 1000000L) DIV n_total") - $"benford_ppm")
            .as("dev_ppm"))
        .orderBy($"digit")
    })
  )

  /** One UNION ALL branch of the dq4 approximate profile per column —
    * the same 60-bit seeded-md5 hash / bucket / rho arithmetic as the
    * ev_hll_sketch oracle, per column. */
  private def hllBranch(c: String): String =
    s"""SELECT '$c' AS col_name, CAST(h & 63 AS INTEGER) AS bucket,
      |  CAST(max(CASE WHEN h >> 6 = 0 THEN 55
      |                ELSE 54 - (length(bin(h >> 6)) - 1) END) AS INTEGER) AS max_rho,
      |  count(*) AS n_items
      |FROM (SELECT CAST(('0x' || substr(md5(7 || ':' || CAST($c AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      |      FROM lineitem WHERE $c IS NOT NULL) t
      |GROUP BY 2""".stripMargin

  /** One UNION ALL branch of the dq1 profile per column. */
  private def profileBranch(c: String): String =
    s"""SELECT '$c' AS col_name, count(*) AS n_rows,
      |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
      |  count(DISTINCT $c) AS n_distinct,
      |  CAST(min($c) AS DOUBLE) AS min_v, CAST(max($c) AS DOUBLE) AS max_v,
      |  round(CAST(sum(CAST($c AS DECIMAL(30,10))) AS DOUBLE) / count($c), 6) AS mean_v
      |FROM lineitem""".stripMargin

  /** One UNION ALL branch of the dq2 expectations per (rule, SQL cond). */
  private def ruleBranch(rule: String, cond: String): String =
    s"""SELECT '$rule' AS rule, count(*) AS n_rows,
      |  CAST(sum(CASE WHEN $cond THEN 0 ELSE 1 END) AS BIGINT) AS n_violations,
      |  (sum(CASE WHEN $cond THEN 0 ELSE 1 END) = 0) AS pass
      |FROM lineitem""".stripMargin

  /** One UNION ALL branch of the dq3 referential check per FK edge. */
  private def refBranch(rel: String, child: String, fk: String,
                        parent: String, pk: String): String =
    s"""SELECT '$rel' AS relation, count(*) AS n_child,
      |  CAST(sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans,
      |  (sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) = 0) AS ok
      |FROM $child LEFT JOIN (SELECT DISTINCT $pk AS k FROM $parent) p
      |  ON $fk = p.k""".stripMargin

  val oracle: Map[String, String] = Map(
    "etl_orc_source" ->
      """SELECT s_suppkey, s_name, s_nationkey, s_acctbal
        |FROM supplier ORDER BY s_suppkey""".stripMargin,

    // The corruption classes are a pure function of the key, so the
    // oracle recomputes them from the clean table.
    "etl_csv_malformed" ->
      """SELECT count(*) AS n_rows,
        |  CAST(sum(CASE WHEN n_nationkey % 5 IN (0, 1) THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
        |  count(*) AS n_names,
        |  CAST(sum(CASE WHEN n_nationkey % 5 NOT IN (0, 1) THEN n_nationkey END) AS BIGINT) AS clean_key_sum,
        |  CAST(sum(CASE WHEN n_nationkey % 5 NOT IN (0, 1) THEN n_regionkey END) AS BIGINT) AS clean_regionkey_sum
        |FROM nation""".stripMargin,

    "etl_schema_evolution" ->
      """WITH u AS (
        |  SELECT lang, CAST(NULL AS BIGINT) AS n_chars
        |  FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT lang, n_chars FROM documents WHERE doc_id % 2 != 0)
        |SELECT lang, count(*) AS n,
        |  CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_legacy,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM u GROUP BY lang ORDER BY lang""".stripMargin,

    "etl_partitioned_write" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents WHERE lang = 'en'
        |GROUP BY source ORDER BY source""".stripMargin,

    "q12_shipping_delay" ->
      """SELECT o_orderpriority,
        |  CAST(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS BIGINT) AS delay_days,
        |  count(*) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // The incremental merge must equal the full recompute exactly.
    "etl_incremental_agg" ->
      """SELECT l_returnflag,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(30,10))), 2) AS DOUBLE) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    // The Morton interleave is the same integer shift/mask fold on both
    // engines; every audit number is an exact integer.
    "etl_zorder_layout" ->
      """WITH o AS (
        |  SELECT CAST(o_custkey AS BIGINT) AS x,
        |    CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS y
        |  FROM orders),
        |zc AS (
        |  SELECT x, y,
        |    CAST(list_sum(list_transform(range(0, 21),
        |      i -> ((x >> i) & 1) * (CAST(1 AS BIGINT) << CAST(2 * i AS INT))
        |         + ((y >> i) & 1) * (CAST(1 AS BIGINT) << CAST(2 * i + 1 AS INT)))) AS BIGINT) AS z
        |  FROM o),
        |zs AS (
        |  SELECT z >> 14 AS file_id, count(*) AS n_rows,
        |    min(x) AS mnx, max(x) AS mxx, min(y) AS mny, max(y) AS mxy
        |  FROM zc GROUP BY 1),
        |ls AS (
        |  SELECT y >> 7 AS file_id, count(*) AS n_rows,
        |    min(x) AS mnx, max(x) AS mxx, min(y) AS mny, max(y) AS mxy
        |  FROM zc GROUP BY 1),
        |a AS (
        |  SELECT 'zorder' AS layout, 'custkey_band' AS predicate,
        |    count(*) AS files_total,
        |    CAST(sum(CASE WHEN mxx >= 300 AND mnx <= 420 THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
        |    CAST(sum(CASE WHEN mxx >= 300 AND mnx <= 420 THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned
        |  FROM zs
        |  UNION ALL
        |  SELECT 'zorder', 'day_band', count(*),
        |    CAST(sum(CASE WHEN mxy >= 9800 AND mny <= 9960 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(sum(CASE WHEN mxy >= 9800 AND mny <= 9960 THEN n_rows ELSE 0 END) AS BIGINT)
        |  FROM zs
        |  UNION ALL
        |  SELECT 'linear', 'custkey_band', count(*),
        |    CAST(sum(CASE WHEN mxx >= 300 AND mnx <= 420 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(sum(CASE WHEN mxx >= 300 AND mnx <= 420 THEN n_rows ELSE 0 END) AS BIGINT)
        |  FROM ls
        |  UNION ALL
        |  SELECT 'linear', 'day_band', count(*),
        |    CAST(sum(CASE WHEN mxy >= 9800 AND mny <= 9960 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(sum(CASE WHEN mxy >= 9800 AND mny <= 9960 THEN n_rows ELSE 0 END) AS BIGINT)
        |  FROM ls)
        |SELECT * FROM a ORDER BY layout, predicate""".stripMargin,

    "dq1_profile" ->
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        .map(profileBranch).mkString("", "\nUNION ALL\n", "\nORDER BY col_name"),

    "dq2_expectations" -> Seq(
      ruleBranch("discount_range", "l_discount BETWEEN 0 AND 0.1"),
      ruleBranch("price_positive", "l_extendedprice > 0"),
      ruleBranch("qty_range", "l_quantity BETWEEN 1 AND 50"),
      ruleBranch("returnflag_domain", "l_returnflag IN ('A', 'N', 'R')"),
      ruleBranch("shipdate_present", "l_shipdate IS NOT NULL"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY rule"),

    "dq3_referential" -> Seq(
      refBranch("customer.c_nationkey -> nation.n_nationkey",
        "customer", "c_nationkey", "nation", "n_nationkey"),
      refBranch("lineitem.l_orderkey -> orders.o_orderkey",
        "lineitem", "l_orderkey", "orders", "o_orderkey"),
      refBranch("lineitem.l_suppkey -> supplier.s_suppkey",
        "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      refBranch("nation.n_regionkey -> region.r_regionkey",
        "nation", "n_regionkey", "region", "r_regionkey"),
      refBranch("orders.o_custkey -> customer.c_custkey",
        "orders", "o_custkey", "customer", "c_custkey"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY relation"),

    "dq4_profile_approx" ->
      Seq("l_orderkey", "l_partkey", "l_suppkey",
          "l_returnflag", "l_linestatus", "l_shipdate")
        .map(hllBranch)
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name, bucket"),

    // Same integer half-split (2·ts ≥ t0+t1), same equal-width binning
    // with the identical floating-point expression order, same add-one
    // smoothing over the full 10-bin grid, same DECIMAL-summed terms.
    "dq5_psi_drift" ->
      """WITH bd AS (SELECT min(epoch_us(ts)) AS t0, max(epoch_us(ts)) AS t1,
        |                   min(value) AS v0, max(value) AS v1 FROM events),
        |c AS (SELECT event_type,
        |        (epoch_us(ts) * 2 >= t0 + t1) AS late,
        |        CAST(least(floor((value - v0) / (v1 - v0) * 10), 9) AS BIGINT) AS bin
        |      FROM events CROSS JOIN bd),
        |cc AS (SELECT event_type, bin,
        |         CAST(sum(CASE WHEN late THEN 0 ELSE 1 END) AS BIGINT) AS ce,
        |         CAST(sum(CASE WHEN late THEN 1 ELSE 0 END) AS BIGINT) AS cl
        |       FROM c GROUP BY 1, 2),
        |grid AS (SELECT event_type, bin
        |         FROM (SELECT DISTINCT event_type FROM events) t
        |         CROSS JOIN (SELECT unnest(range(0, 10)) AS bin) g),
        |f AS (SELECT g.event_type, g.bin,
        |        coalesce(ce, 0) AS ce, coalesce(cl, 0) AS cl
        |      FROM grid g LEFT JOIN cc ON g.event_type = cc.event_type
        |                              AND g.bin = cc.bin),
        |tot AS (SELECT event_type, CAST(sum(ce) AS BIGINT) AS te,
        |               CAST(sum(cl) AS BIGINT) AS tl
        |        FROM f GROUP BY 1)
        |SELECT event_type, max(te) AS n_early, max(tl) AS n_late,
        |  CAST(round(sum(CAST((pe - pl) * ln(pe / pl) AS DECIMAL(30,10))), 6) AS DOUBLE) AS psi
        |FROM (SELECT f.event_type, te, tl,
        |        (ce + 1) / CAST(te + 10 AS DOUBLE) AS pe,
        |        (cl + 1) / CAST(tl + 10 AS DOUBLE) AS pl
        |      FROM f JOIN tot ON f.event_type = tot.event_type) q
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // Same half-split and binning expressions as dq5 at 256 cells; ECDFs
    // from cumulative windows over the bounded bin axis.
    "dq6_ks_drift" ->
      """WITH bd AS (SELECT min(epoch_us(ts)) AS t0, max(epoch_us(ts)) AS t1,
        |                   min(value) AS v0, max(value) AS v1 FROM events),
        |c AS (SELECT event_type,
        |        (epoch_us(ts) * 2 >= t0 + t1) AS late,
        |        CAST(least(floor((value - v0) / (v1 - v0) * 256), 255) AS BIGINT) AS bin
        |      FROM events CROSS JOIN bd),
        |cc AS (SELECT event_type, bin,
        |         CAST(sum(CASE WHEN late THEN 0 ELSE 1 END) AS BIGINT) AS ce,
        |         CAST(sum(CASE WHEN late THEN 1 ELSE 0 END) AS BIGINT) AS cl
        |       FROM c WHERE bin IS NOT NULL GROUP BY 1, 2),
        |cum AS (SELECT event_type, bin,
        |          sum(ce) OVER (PARTITION BY event_type ORDER BY bin
        |            ROWS UNBOUNDED PRECEDING) AS cce,
        |          sum(cl) OVER (PARTITION BY event_type ORDER BY bin
        |            ROWS UNBOUNDED PRECEDING) AS ccl
        |        FROM cc),
        |tot AS (SELECT event_type, CAST(sum(ce) AS BIGINT) AS te,
        |               CAST(sum(cl) AS BIGINT) AS tl
        |        FROM cc GROUP BY 1)
        |SELECT event_type, max(te) AS n_early, max(tl) AS n_late,
        |  round(max(abs(CAST(cce AS DOUBLE) / te - CAST(ccl AS DOUBLE) / tl)), 6) AS ks
        |FROM cum JOIN tot USING (event_type)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // Same left-assoc IEEE product order; every 2-dp quantization is
    // decimal-space half-up. DuckDB-side rule: round(DECIMAL, 2) is exact
    // half-away (= Spark's HALF_UP decimal down-cast), while a plain CAST
    // to a lower-scale DECIMAL TRUNCATES — and CAST(double AS DECIMAL)
    // truncates too, so the diff goes through truncate@6 then round@2
    // (safe: both operands are 2-dp money, the diff double sits within
    // 1e-9 of a 2-dp value).
    "dq7_reconcile" ->
      """WITH li AS (
        |  SELECT l_orderkey,
        |    CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(30,10))), 2) AS DOUBLE) AS recomputed
        |  FROM lineitem GROUP BY l_orderkey)
        |SELECT o_orderstatus, count(*) AS n_orders,
        |  CAST(sum(CASE WHEN recomputed IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_no_lines,
        |  CAST(sum(CASE WHEN abs(recomputed - o_totalprice) > 0.01 THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
        |  CAST(sum(round(CAST(abs(recomputed - o_totalprice) AS DECIMAL(30,6)), 2)) AS DOUBLE) AS total_abs_diff
        |FROM orders LEFT JOIN li ON o_orderkey = l_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "etl_csv_source" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",

    "etl_json_source" ->
      """SELECT r_regionkey AS region_key, r_name AS meta_name,
        |  CAST(length(r_name) AS BIGINT) AS meta_chars
        |FROM region ORDER BY region_key""".stripMargin,

    "etl_harmonize_union" ->
      """SELECT * FROM (
        |  SELECT c_custkey AS party_id,
        |    trim(regexp_replace(CAST(c_name AS VARCHAR), '\s+', ' ', 'g')) AS nombre,
        |    coalesce(TRY_CAST(c_acctbal AS DOUBLE), 0.0) AS saldo,
        |    c_mktsegment AS segmento, 'customer' AS kind
        |  FROM customer
        |  UNION ALL
        |  SELECT s_suppkey,
        |    trim(regexp_replace(CAST(s_name AS VARCHAR), '\s+', ' ', 'g')),
        |    coalesce(TRY_CAST(s_acctbal AS DOUBLE), 0.0), '-1', 'supplier'
        |  FROM supplier) t
        |ORDER BY kind, party_id""".stripMargin,

    "etl_star_pipeline" ->
      """WITH dim_cliente AS (
        |  SELECT row_number() OVER (ORDER BY c_custkey) AS id_cliente, c_custkey
        |  FROM (SELECT DISTINCT c_custkey, c_name FROM customer)),
        |dim_fecha AS (
        |  SELECT DISTINCT CAST(strftime(o_orderdate, '%Y%m%d') AS BIGINT) AS id_fecha
        |  FROM orders WHERE o_orderdate IS NOT NULL)
        |SELECT o_orderkey,
        |  CAST(coalesce(dc.id_cliente, -1) AS BIGINT) AS id_cliente,
        |  CAST(coalesce(df.id_fecha, -1) AS BIGINT) AS id_fecha,
        |  o_totalprice AS importe
        |FROM orders o
        |LEFT JOIN dim_cliente dc ON o.o_custkey = dc.c_custkey
        |LEFT JOIN dim_fecha df
        |  ON coalesce(CAST(strftime(o.o_orderdate, '%Y%m%d') AS BIGINT), -1) = df.id_fecha
        |ORDER BY o_orderkey""".stripMargin,

    "etl_bucketed_join" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(30,10))), 2) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // updates win on key collision; pure double + (no round — both engines
    // compute the identical IEEE sum).
    "etl_upsert" ->
      """SELECT c_custkey, c_name, c_acctbal + 100.0 AS bal
        |FROM customer WHERE c_custkey % 3 = 0
        |UNION ALL
        |SELECT c_custkey, c_name, c_acctbal
        |FROM customer WHERE c_custkey % 2 = 0 AND c_custkey % 3 <> 0
        |ORDER BY c_custkey""".stripMargin,

    // Every %3 key gains exactly one closed + one open version (bal + 100
    // always differs); the second identical merge is a no-op by definition.
    "etl_scd2" ->
      """WITH cust AS (
        |  SELECT c_custkey AS k, c_name AS name, c_acctbal AS bal FROM customer)
        |SELECT k, name, bal, DATE '2024-01-01' AS valid_from,
        |       DATE '2024-06-01' AS valid_to, FALSE AS is_current
        |FROM cust WHERE k % 3 = 0
        |UNION ALL
        |SELECT k, name, bal + 100.0, DATE '2024-06-01', CAST(NULL AS DATE), TRUE
        |FROM cust WHERE k % 3 = 0
        |UNION ALL
        |SELECT k, name, bal, DATE '2024-01-01', CAST(NULL AS DATE), TRUE
        |FROM cust WHERE k % 3 <> 0
        |ORDER BY k, valid_from""".stripMargin,

    "etl_pipeline_run" ->
      """SELECT n_nationkey, n_name, coalesce(r_name, 'NA') AS region_name
        |FROM nation LEFT JOIN region ON n_regionkey = r_regionkey
        |ORDER BY n_nationkey""".stripMargin,

    // The JDBC table holds region twice (overwrite + append), so every
    // group counts 2.
    "etl_jdbc_source" ->
      """SELECT r_regionkey, r_name, CAST(2 AS BIGINT) AS n_copies
        |FROM region ORDER BY r_regionkey""".stripMargin,

    "etl_staging_sorted" ->
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(30,10))), 2) AS DOUBLE) AS total
        |FROM lineitem WHERE l_quantity >= 30
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // The row_number form of the surrogate key — the dense-remap Spark
    // path must reproduce it bit-for-bit.
    "etl_dense_keys" ->
      """SELECT CAST(row_number() OVER (
        |    ORDER BY c_custkey, c_name, c_mktsegment) AS INT) AS customer_key,
        |  c_custkey, c_name, c_mktsegment
        |FROM (SELECT DISTINCT c_custkey, c_name, c_mktsegment FROM customer)
        |ORDER BY customer_key""".stripMargin,

    // Same exact-cents digit extraction (tie-free decimal cast, floor,
    // integer leading digit), same literal Benford ppm table.
    // floor(double/1000) is IEEE-exact in both engines; every census
    // number is an exact integer.
    "dq9_k_anonymity" ->
      """WITH cls AS (
        |  SELECT c_mktsegment, c_nationkey, count(*) AS class_size,
        |    count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT)) AS l_div
        |  FROM customer GROUP BY 1, 2)
        |SELECT class_size, count(*) AS n_classes,
        |  CAST(class_size * count(*) AS BIGINT) AS n_rows,
        |  min(l_div) AS min_l_div,
        |  CAST(sum(CASE WHEN l_div = 1 THEN 1 ELSE 0 END) AS BIGINT) AS classes_l1
        |FROM cls GROUP BY class_size ORDER BY class_size""".stripMargin,

    "dq8_benford" ->
      """WITH cents AS (
        |  SELECT CAST(floor(CAST(o_totalprice AS DECIMAL(30,10)) * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_totalprice > 0.0),
        |d AS (
        |  SELECT cents // CAST(pow(10, length(CAST(cents AS VARCHAR)) - 1) AS BIGINT) AS digit
        |  FROM cents),
        |t AS (SELECT count(*) AS n_total FROM d),
        |exp AS (
        |  SELECT * FROM (VALUES (1, 301030), (2, 176091), (3, 124939),
        |    (4, 96910), (5, 79181), (6, 66947), (7, 57992), (8, 51153),
        |    (9, 45757)) AS v(digit, benford_ppm))
        |SELECT CAST(d.digit AS BIGINT) AS digit,
        |  count(*) AS n_obs, CAST(max(n_total) AS BIGINT) AS n_total,
        |  (count(*) * 1000000) // max(n_total) AS obs_ppm,
        |  CAST(max(benford_ppm) AS BIGINT) AS benford_ppm,
        |  (count(*) * 1000000) // max(n_total) - max(benford_ppm) AS dev_ppm
        |FROM d JOIN exp ON d.digit = exp.digit CROSS JOIN t
        |GROUP BY d.digit ORDER BY digit""".stripMargin
  )
}
