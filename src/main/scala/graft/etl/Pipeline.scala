package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable
import graft.queries.{parquetRows, readParquet}

/** Stage-level orchestration with the reference's degrade-don't-abort
  * contract (main.py:29-95 read_sources/stage, :417-431 main; pipeline.py:
  * 32-43): every source and every build stage runs inside its own failure
  * boundary — a dead database, an unreachable API, or a broken transform is
  * LOGGED and skipped while everything else still lands. The reference's
  * final observed run processed all CSV blocks while both the DB and the
  * API were down (logs/etl.log:1157-1160); `PipelineE2ESpec` replays that
  * exact behavior on Spark.
  *
  * Observability is the reference's audit-log contract (core/logger.py +
  * the per-stage row-count lines of logs/etl.log:1161-1186): one
  * timestamped line per stage boundary with the row count that crossed it.
  * An extract count costs one Spark action per source — the same count
  * the reference's `len(df)` paid, and what empty-source detection needs;
  * the staged and built counts are summed from the written files' footers
  * on the driver (queries.parquetRows), no Spark job.
  */
object Pipeline {

  /** Timestamped audit log ("ts - LEVEL - name - message", the
    * core/logger.py format). Lines are retained in memory for assertions
    * and mirrored to `sink` (stderr by default). */
  final class Audit(name: String = "etl",
                    sink: String => Unit = Console.err.println(_)) {
    private val buf = mutable.ListBuffer.empty[(String, String)]
    private val fmt =
      java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss,SSS")
    private def emit(level: String, msg: String): Unit = synchronized {
      buf += ((level, msg))
      sink(s"${java.time.LocalDateTime.now().format(fmt)} - $level - $name - $msg")
    }
    def info(msg: String): Unit = emit("INFO", msg)
    def warn(msg: String): Unit = emit("WARNING", msg)
    /** (level, message) pairs in emission order. */
    def lines: Seq[(String, String)] = synchronized(buf.toList)
    def warnings: Seq[String] =
      lines.collect { case ("WARNING", m) => m }
  }

  /** Everything the run produced: staged/built table name -> parquet path,
    * with the audit trail. Missing names = stages that degraded. */
  final case class Result(tables: Map[String, String], audit: Audit)

  /** Extract stage (main.py:29-76): each source is a thunk so that
    * CONSTRUCTION failures (bad path, dead DB, refused connection) are
    * caught too. A throwing or empty source logs a WARNING and contributes
    * nothing; survivors log their row count. */
  def readSources(audit: Audit,
                  sources: Seq[(String, () => DataFrame)]): Map[String, DataFrame] =
    sources.flatMap { case (key, mk) =>
      try {
        audit.info(s"Reading source $key ...")
        val df = mk()
        val n = df.count()
        if (n == 0) { audit.warn(s"$key: empty result, skipped."); None }
        else { audit.info(s"Source $key: $n rows"); Some(key -> df) }
      } catch {
        case e: Exception =>
          audit.warn(s"$key: source unavailable, degrading: ${e.getMessage}")
          None
      }
    }.toMap

  /** Staging stage (main.py:82-95): land every extracted table as
    * `stg_<name>` (full replace, K1); a failing write skips that table
    * only. The audited count sums the footers of the parquet just written
    * (no Spark job) — never the source lineage again. Returns table name
    * -> path for the build stages. */
  def stageAll(audit: Audit, dfs: Map[String, DataFrame],
               stagingDir: String): Map[String, String] =
    dfs.flatMap { case (key, df) =>
      val tbl = "stg_" + key.stripSuffix("_csv")
      val path = s"$stagingDir/$tbl"
      try {
        Staging.overwrite(df, path)
        audit.info(s"Staging -> $tbl: ${parquetRows(df.sparkSession, path)} rows")
        Some(tbl -> path)
      } catch {
        case e: Exception =>
          audit.warn(s"Staging -> $tbl failed, skipped: ${e.getMessage}")
          None
      }
    }

  /** One isolated build stage (a dimension, the fact, a DW load): sees
    * every previously landed table re-read from staging (the SQLite-conn
    * analogue), writes its output as `<name>`, logs the count. Any
    * throwable degrades to "stage skipped" — later stages still run and
    * simply won't find this table (and themselves probe-or-degrade,
    * exactly like the reference's fact build logging
    * "FACT: could not process stg_api_opiniones" and moving on). */
  def buildStage(audit: Audit, spark: SparkSession, stagingDir: String,
                 tables: Map[String, String], name: String)
                (body: Map[String, DataFrame] => DataFrame): Option[(String, String)] =
    try {
      val in = tables.map { case (t, p) => t -> readParquet(spark, p) }
      val out = body(in)
      val path = s"$stagingDir/$name"
      Staging.overwrite(out, path)
      audit.info(s"$name: ${parquetRows(spark, path)} rows")
      Some(name -> path)
    } catch {
      case e: Exception =>
        audit.warn(s"$name: stage failed, continuing: ${e.getMessage}")
        None
    }

  /** Config-driven source list (config/settings.json:2-11 + main.py:63-74):
    * the reference decides its extract plan from a settings file's `paths`
    * map — keys ending `_csv` become CSV extractors, `sql:`-prefixed values
    * become JDBC queries (db_extractor.py's query text lives in config),
    * http(s) URLs become REST/JSON fetches. Unrecognized values are
    * SKIPPED WITH A WARNING rather than failing the run — config typos
    * degrade like dead sources do.
    *
    * @param jdbcUrl connection URL for `sql:` entries (the reference's
    *                engine comes from separate credentials config)
    */
  def sourcesFromConfig(spark: SparkSession, audit: Audit,
                        settingsJson: String, jdbcUrl: String = "")
      : Seq[(String, () => DataFrame)] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(settingsJson)
    val paths = root.path("paths")
    if (!paths.isObject) {
      audit.warn("settings: no paths object, empty extract plan")
      return Nil
    }
    val it = paths.properties().iterator()
    val out = Seq.newBuilder[(String, () => DataFrame)]
    while (it.hasNext) {
      val e = it.next()
      val (key, value) = (e.getKey, e.getValue.asText(""))
      if (key.endsWith("_csv"))
        out += key -> (() => Sources.csv(spark, value))
      else if (value.startsWith("sql:"))
        out += key -> (() => Sources.jdbc(spark, jdbcUrl, value.stripPrefix("sql:")))
      else if (value.startsWith("http://") || value.startsWith("https://"))
        out += key -> (() => Sources.httpJson(spark, value))
      else
        audit.warn(s"settings: unrecognized source $key -> $value, skipped")
    }
    out.result()
  }

  /** Full lifecycle (main.py:417-431): extract -> stage -> ordered build
    * stages (dims before the fact that looks them up), every boundary
    * isolated and audited. */
  def run(spark: SparkSession, stagingDir: String,
          sources: Seq[(String, () => DataFrame)],
          builds: Seq[(String, Map[String, DataFrame] => DataFrame)],
          audit: Audit = new Audit()): Result = {
    audit.info("=== ETL run start ===")
    val dfs = readSources(audit, sources)
    var tables = stageAll(audit, dfs, stagingDir)
    builds.foreach { case (name, body) =>
      buildStage(audit, spark, stagingDir, tables, name)(body)
        .foreach { kv => tables += kv }
    }
    audit.info("=== ETL run done ===")
    Result(tables, audit)
  }
}
