package graft.etl

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Scalar column function library — the reference's transform surface
  * (SURVEY.md §2.6 F1–F11), re-expressed as pure `Column => Column`
  * compositions of built-in Catalyst expressions. Everything here stays
  * inside whole-stage codegen; no UDFs.
  *
  * Reference provenance (read-only, /root/reference):
  *  - transform/clean_data.py:4-29 (normalize_text, parse_date, dim_fecha parts)
  *  - main.py:103-105,204-206,217,258-267,368-369 (keys, coercions, truncate, remap)
  */
object functions {

  /** F1 — normalize_text (clean_data.py:4-7): cast to string, trim, collapse
    * internal whitespace runs to a single space. Idempotent. */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(c.cast(StringType), "\\s+", " "))

  /** F2 — parse_date (clean_data.py:9-10): permissive parse, invalid -> null
    * (pandas errors="coerce" semantics). With explicit formats, first match
    * wins; with none, Spark's default permissive timestamp parse. */
  def parseDate(c: Column, formats: Seq[String] = Nil): Column = {
    val parsed =
      if (formats.isEmpty) try_to_timestamp(c.cast(StringType))
      else coalesce(formats.map(f => try_to_timestamp(c.cast(StringType), lit(f))): _*)
    // tz-naive (pandas parse_date is naive; the harness pipeline is NTZ
    // throughout — parquet TIMESTAMP without adjustment). Session TZ is UTC,
    // so the cast is value-preserving.
    parsed.cast(TimestampNTZType)
  }

  /** F3 — numeric coercion (main.py:217,261-264): to_numeric(errors="coerce")
    * .fillna(default). Invalid -> default, never throws (ANSI-safe). */
  def toDoubleOr(c: Column, default: Double): Column =
    coalesce(c.cast(StringType).try_cast(DoubleType), lit(default))

  /** The integer twin of toDoubleOr, with the reference's -1 default. */
  def toLongOr(c: Column): Column =
    coalesce(c.cast(StringType).try_cast(DoubleType).try_cast(LongType), lit(-1L))

  /** F4 — surrogate business key (main.py:103-105): 1 -> "C001". printf-style
    * pad (zfill semantics: pads but never truncates, unlike lpad). */
  def businessKey(prefix: String, c: Column, width: Int = 3): Column =
    format_string(s"$prefix%0${width}d", c.cast(LongType))

  /** F5 — fecha_key (main.py:204-206): timestamp -> yyyyMMdd as int64;
    * null/unparseable -> -1. */
  def fechaKey(ts: Column): Column =
    coalesce(date_format(ts, "yyyyMMdd").cast(LongType), lit(-1L))

  /** F6 — date-part extraction (clean_data.py:17-29): year/month/day/quarter +
    * English month and day names (pandas month_name()/day_name() default
    * locale). Returns the six columns dim_fecha needs. */
  def dateParts(ts: Column): Seq[(String, Column)] = Seq(
    "anio"        -> year(ts),
    "mes"         -> month(ts),
    "dia"         -> dayofmonth(ts),
    "trimestre"   -> quarter(ts),
    "nombre_mes"  -> date_format(ts, "MMMM"),
    "nombre_dia"  -> date_format(ts, "EEEE")
  )

  /** F7 — modulo FK remap (main.py:368-369): fold an out-of-range id into
    * [1, maxId]. pmod, not % — the sign-following remainder would map
    * ids <= 0 outside the documented range. */
  def moduloRemap(c: Column, maxId: Column): Column =
    pmod(c - lit(1), maxId) + lit(1)

  /** F8 — string truncate + trim (main.py:265-267): str.strip().str[:n]. */
  def truncateText(c: Column, n: Int = 2000): Column =
    substring(trim(c.cast(StringType)), 1, n)

  /** F9 — cast-to-string with null sentinel (main.py:258-260). The reference's
    * pandas code actually produced the string "nan" for NaN (astype-then-fillna
    * bug, SURVEY §7.3.5); we implement the documented *intent*: the "-1"
    * sentinel. */
  def stringOr(c: Column): Column =
    coalesce(c.cast(StringType), lit("-1"))

  /** F11 — date-only cast (sync_dimensions_dw.py:127). */
  def toDateOnly(c: Column): Column = to_date(c)

  /** F12 (extension, no reference analogue) — date arithmetic family:
    * month truncation, end-of-month, clamped month addition, day-of-week
    * normalized to 0=Sunday (Spark's dayofweek is 1=Sunday). */
  def dateArith(ts: Column): Seq[(String, Column)] = Seq(
    "mth"   -> date_trunc("month", ts).cast(DateType),
    "eom"   -> last_day(ts),
    "plus3" -> add_months(ts, 3),
    "dow"   -> (dayofweek(ts) - 1).cast(IntegerType)
  )

  /** P4 — bulk header normalization (clean_data.py:12-15): strip, lower,
    * spaces -> underscores. Driver-side (operates on names, not data). */
  def normalizeName(name: String): String =
    // Locale.ROOT: default-locale lowercasing corrupts 'I' on
    // Turkish-family JVMs ("regıonkey")
    name.trim.toLowerCase(java.util.Locale.ROOT).replaceAll("\\s+", "_")
}
