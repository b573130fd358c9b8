package graft.queries

import org.apache.spark.sql.functions._
import graft.etl.{functions => F}

/** Scalar function operators (SURVEY.md §2.6 F1–F11 plus the F12 date-
  * arithmetic extension), one oracle-checked query each. Dirty inputs are *injected* deterministically (key-modulo
  * garbage / nulls) so the coercion paths actually fire — the testdata
  * parquet is clean. All expressions are built-in Catalyst (codegen), no UDFs.
  */
object Scalars extends QueryPack {

  val queries: Map[String, QFn] = Map(
    // F1 normalize_text: blow up whitespace, then collapse + trim.
    "f1_normalize_text" -> ((s, dir) => {
      import s.implicits._
      table(s, dir, "documents")
        .select($"doc_id",
          F.normalizeText(regexp_replace($"text", " ", "   ")).as("clean"))
        .orderBy($"doc_id")
    }),

    // F2 parse_date: errors="coerce" — garbage rows parse to null; mixed
    // source formats resolve first-match-wins (the reference's permissive
    // pd.to_datetime accepts heterogeneous formats the same way).
    "f2_parse_date" -> ((s, dir) => {
      import s.implicits._
      val src = table(s, dir, "orders").select($"o_orderkey",
        when($"o_orderkey" % 10 === 0, lit("not-a-date"))
          .when($"o_orderkey" % 3 === 0, date_format($"o_orderdate", "dd/MM/yyyy"))
          .otherwise(date_format($"o_orderdate", "yyyy-MM-dd HH:mm:ss")).as("s"))
      src.select($"o_orderkey",
          F.parseDate($"s", Seq("yyyy-MM-dd HH:mm:ss", "dd/MM/yyyy")).as("parsed"))
        .orderBy($"o_orderkey")
    }),

    // F3 numeric coercion: to_numeric(errors="coerce").fillna(0).
    "f3_numeric_coercion" -> ((s, dir) => {
      import s.implicits._
      val src = table(s, dir, "orders").select($"o_orderkey",
        when($"o_orderkey" % 7 === 0, lit("abc"))
          .otherwise(concat($"o_custkey".cast("string"), lit(".5"))).as("s"))
      src.select($"o_orderkey", F.toDoubleOr($"s", 0.0).as("val"))
        .orderBy($"o_orderkey")
    }),

    // F4 surrogate business key: 1 -> "C001".
    "f4_business_key" -> ((s, dir) => {
      import s.implicits._
      table(s, dir, "customer")
        .select($"c_custkey", F.businessKey("C", $"c_custkey", 5).as("bk"))
        .orderBy($"c_custkey")
    }),

    // F5 fecha_key: yyyyMMdd int64, null -> -1.
    "f5_fecha_key" -> ((s, dir) => {
      import s.implicits._
      val src = table(s, dir, "orders").select($"o_orderkey",
        when($"o_orderkey" % 11 === 0, lit(null).cast("timestamp"))
          .otherwise($"o_orderdate").as("ts"))
      src.select($"o_orderkey", F.fechaKey($"ts").as("fecha_key"))
        .orderBy($"o_orderkey")
    }),

    // F6 date parts: year/month/day/quarter + English month/day names.
    "f6_date_parts" -> ((s, dir) => {
      import s.implicits._
      val d = table(s, dir, "orders").select($"o_orderdate").distinct()
      F.dateParts($"o_orderdate")
        .foldLeft(d) { case (df, (n, c)) => df.withColumn(n, c) }
        .orderBy($"o_orderdate")
    }),

    // F7 modulo FK remap into [1, maxId]; maxId from a scalar agg (A4).
    "f7_modulo_remap" -> ((s, dir) => {
      import s.implicits._
      val maxId = table(s, dir, "customer")
        .agg(max($"c_custkey")).first().getLong(0) / 2
      table(s, dir, "orders")
        .select($"o_orderkey",
          F.moduloRemap($"o_custkey", lit(maxId)).as("id_cliente"))
        .orderBy($"o_orderkey")
    }),

    // F8 truncate + trim.
    "f8_truncate" -> ((s, dir) => {
      import s.implicits._
      table(s, dir, "documents")
        .select($"doc_id",
          F.truncateText(concat(lit("  "), $"text", lit("  ")), 50).as("snippet"))
        .orderBy($"doc_id")
    }),

    // F9 cast-to-string with null sentinel.
    "f9_string_sentinel" -> ((s, dir) => {
      import s.implicits._
      val src = table(s, dir, "orders").select($"o_orderkey",
        when($"o_orderkey" % 13 === 0, lit(null).cast("long"))
          .otherwise($"o_custkey").as("id"))
      src.select($"o_orderkey", F.stringOr($"id").as("cliente_id"))
        .orderBy($"o_orderkey")
    }),

    // F10 constant/default columns (harmonizer defaults, main.py:241-256).
    "f10_default_columns" -> ((s, dir) => {
      import s.implicits._
      table(s, dir, "supplier")
        .select($"s_suppkey",
          lit("").as("comentario"),
          lit("-1").as("cliente_id"),
          lit(0.0).as("puntaje"),
          lit(null).cast("string").as("sentimiento"))
        .orderBy($"s_suppkey")
    }),

    // F11 date-only cast before DW write.
    "f11_date_cast" -> ((s, dir) => {
      import s.implicits._
      table(s, dir, "orders")
        .select(F.toDateOnly($"o_orderdate").as("fecha")).distinct()
        .orderBy($"fecha")
    }),

    // F12 date arithmetic family (F.dateArith) — truncation, end-of-month,
    // clamped month addition (Spark add_months and DuckDB +INTERVAL share
    // the clamp), day-of-week normalized to 0=Sunday.
    "f12_date_arith" -> ((s, dir) => {
      import s.implicits._
      val base = table(s, dir, "orders").select($"o_orderdate").distinct()
      F.dateArith($"o_orderdate")
        .foldLeft(base) { case (df, (n, c)) => df.withColumn(n, c) }
        .orderBy($"o_orderdate")
    })
  )

  val oracle: Map[String, String] = Map(
    "f1_normalize_text" ->
      """SELECT doc_id,
        |  trim(regexp_replace(replace(text, ' ', '   '), '\s+', ' ', 'g')) AS clean
        |FROM documents ORDER BY doc_id""".stripMargin,

    "f2_parse_date" ->
      """WITH src AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 10 = 0 THEN 'not-a-date'
        |         WHEN o_orderkey % 3 = 0 THEN strftime(o_orderdate, '%d/%m/%Y')
        |         ELSE strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') END AS s
        |  FROM orders)
        |SELECT o_orderkey,
        |  coalesce(try_strptime(s, '%Y-%m-%d %H:%M:%S'),
        |           try_strptime(s, '%d/%m/%Y')) AS parsed
        |FROM src ORDER BY o_orderkey""".stripMargin,

    "f3_numeric_coercion" ->
      """SELECT o_orderkey,
        |  coalesce(TRY_CAST(CASE WHEN o_orderkey % 7 = 0 THEN 'abc'
        |    ELSE CAST(o_custkey AS VARCHAR) || '.5' END AS DOUBLE), 0.0) AS val
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "f4_business_key" ->
      "SELECT c_custkey, printf('C%05d', c_custkey) AS bk FROM customer ORDER BY c_custkey",

    "f5_fecha_key" ->
      """SELECT o_orderkey,
        |  coalesce(CAST(strftime(CASE WHEN o_orderkey % 11 = 0 THEN NULL
        |    ELSE o_orderdate END, '%Y%m%d') AS BIGINT), -1) AS fecha_key
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "f6_date_parts" ->
      """SELECT o_orderdate,
        |  CAST(year(o_orderdate) AS INTEGER) AS anio,
        |  CAST(month(o_orderdate) AS INTEGER) AS mes,
        |  CAST(day(o_orderdate) AS INTEGER) AS dia,
        |  CAST(quarter(o_orderdate) AS INTEGER) AS trimestre,
        |  monthname(o_orderdate) AS nombre_mes,
        |  dayname(o_orderdate) AS nombre_dia
        |FROM (SELECT DISTINCT o_orderdate FROM orders) ORDER BY o_orderdate""".stripMargin,

    // ((x % m) + m) % m = pmod — DuckDB's % is sign-following and the data
    // really contains o_custkey = 0, which must fold to m, not 0
    "f7_modulo_remap" ->
      """SELECT o_orderkey,
        |  (((o_custkey - 1) % m) + m) % m + 1 AS id_cliente
        |FROM orders, (SELECT max(c_custkey) // 2 AS m FROM customer)
        |ORDER BY o_orderkey""".stripMargin,

    "f8_truncate" ->
      """SELECT doc_id, substr(trim('  ' || text || '  '), 1, 50) AS snippet
        |FROM documents ORDER BY doc_id""".stripMargin,

    "f9_string_sentinel" ->
      """SELECT o_orderkey,
        |  coalesce(CAST(CASE WHEN o_orderkey % 13 = 0 THEN NULL
        |    ELSE o_custkey END AS VARCHAR), '-1') AS cliente_id
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "f10_default_columns" ->
      """SELECT s_suppkey, '' AS comentario, '-1' AS cliente_id,
        |  CAST(0.0 AS DOUBLE) AS puntaje, CAST(NULL AS VARCHAR) AS sentimiento
        |FROM supplier ORDER BY s_suppkey""".stripMargin,

    "f11_date_cast" ->
      """SELECT DISTINCT CAST(o_orderdate AS DATE) AS fecha FROM orders
        |ORDER BY fecha""".stripMargin,

    "f12_date_arith" ->
      """SELECT o_orderdate,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS mth,
        |  CAST(last_day(o_orderdate) AS DATE) AS eom,
        |  CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus3,
        |  CAST(dayofweek(o_orderdate) AS INTEGER) AS dow
        |FROM (SELECT DISTINCT o_orderdate FROM orders)
        |ORDER BY o_orderdate""".stripMargin
  )
}
