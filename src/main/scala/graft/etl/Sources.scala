package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source operators (SURVEY.md §2.1 S1–S3).
  *
  * The reference's extractors (extract/csv_extractor.py, db_extractor.py,
  * api_extractor.py) each return one table; failures degrade to an empty
  * table, never abort (api_extractor.py:27-28, main.py:46-74).
  */
object Sources {

  /** S1 — CSV scan (csv_extractor.py:4-10). The reference reads with
    * `na_filter=False`, whose pandas semantics are PER COLUMN: a column
    * containing any empty cell keeps object dtype with `""` preserved
    * (never NaN/null), while a fully-populated column still infers its
    * numeric type. Spark's reader can't express that directly (with
    * inferSchema a mostly-numeric column with empties infers numeric and
    * the empties become null), so `naFilter = false` reproduces it exactly:
    * read as strings with "" restored, take Spark's inferred schema from a
    * schema-only pass, and apply the inferred type ONLY to columns with no
    * empty cells (via try_cast — the engine's coercion contract). The
    * per-column emptiness probe is one aggregate action; eager source
    * construction is the reference's own model (every extractor returns a
    * materialized frame).
    *
    * File-scan budget: ONE pass. The raw string read is persisted
    * (memory-and-disk) only for the DURATION OF CONSTRUCTION: the
    * emptiness aggregate materializes the cache, Spark's own CSV type
    * inference (`catalyst.csv.CSVInferSchema` — the exact code the
    * file-based `inferSchema=true` path runs) re-reads the CACHE rather
    * than the file, and the cache is unpersisted before returning so the
    * block manager holds nothing for the session's lifetime. The returned
    * frame plans a single fresh FileScan — each downstream action costs
    * exactly one scan of the file, and the frame owns no cache entry.
    */
  def csv(spark: SparkSession, path: String, naFilter: Boolean = false,
          options: Map[String, String] = Map.empty): DataFrame = {
    def reader(infer: Boolean) = spark.read
      .option("header", "true")
      .option("inferSchema", infer.toString)
      .option("encoding", "UTF-8")
      .options(options)
    if (naFilter) standardizeColumns(reader(infer = true).csv(path))
    else {
      // the header read: one job, whose all-string schema the returned
      // frame's read reuses instead of re-reading the header
      val header = reader(infer = false).csv(path)
      val raw = standardizeColumns(header)
      val strs = raw.select(raw.columns.map(c =>
        coalesce(col(c), lit("")).as(c)).toSeq: _*)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val emptyFlags = strs.select(strs.columns.map(c =>
          max(when(col(c) === "", 1).otherwise(0)).as(c)).toSeq: _*)
          .collect().headOption
        val hasEmpty: String => Boolean = c =>
          emptyFlags.exists(r => r.getAs[Int](c) == 1)
        val inferred = inferTypes(spark, strs, options)
        val fresh = standardizeColumns(
          reader(infer = false).schema(header.schema).csv(path))
        fresh.select(fresh.columns.map { c =>
          inferred.get(c) match {
            case Some(t) if t != StringType && !hasEmpty(c) =>
              col(c).try_cast(t.sql).as(c)
            case _ => coalesce(col(c), lit("")).as(c)
          }
        }.toSeq: _*)
      } finally strs.unpersist(blocking = false)
    }
  }

  /** Runs Spark's CSV schema inference (`CSVInferSchema` — the same class
    * the `inferSchema=true` file path uses, so the types agree exactly)
    * over an already-parsed all-string frame, avoiding a second scan of
    * the source file. Cells restored to `""` by the naFilter=false path
    * are mapped back to the reader's `nullValue` token so inference sees
    * what the file parser would have fed it. */
  private def inferTypes(spark: SparkSession, strs: DataFrame,
                         options: Map[String, String]): Map[String, DataType] = {
    import org.apache.spark.sql.catalyst.csv.{CSVInferSchema, CSVOptions}
    val header = strs.columns
    val nullTok = options.getOrElse("nullValue", "")
    val tokenRdd = strs.rdd.map { r =>
      Array.tabulate(header.length) { i =>
        val v = r.getString(i)
        if (v == "") nullTok else v
      }
    }
    // inferSchemaFlag gates CSVInferSchema.infer — without it the class
    // returns all-string, which is exactly the non-inferring file path
    val csvOpts = new CSVOptions(options + ("inferSchema" -> "true"),
      columnPruning = true, spark.sessionState.conf.sessionLocalTimeZone)
    new CSVInferSchema(csvOpts).infer(tokenRdd, header)
      .map(f => f.name -> f.dataType).toMap
  }

  /** S2 — SQL/JDBC scan (db_extractor.py:6-14): arbitrary query pushed to the
    * RDBMS; Spark parallelizes with partitioning options when provided.
    * (Compiles against the DataSource V1 JDBC API; no live DB in the test
    * container — the harness exercises the same projection semantics over
    * parquet, see queries.Core "p1_projection".) */
  def jdbc(spark: SparkSession, url: String, query: String,
           props: Map[String, String] = Map.empty): DataFrame = {
    // embedded Derby boots at first connection and drops derby.log in the
    // CWD unless its home is pinned first — any jdbc path may be that
    // first connection (including a deliberately dead one)
    if (System.getProperty("derby.system.home") == null)
      System.setProperty("derby.system.home",
        System.getProperty("java.io.tmpdir"))
    val r = spark.read.format("jdbc")
      .option("url", url)
      .option("query", query)
      .option("fetchsize", props.getOrElse("fetchsize", "10000"))
    props.foldLeft(r) { case (acc, (k, v)) => acc.option(k, v) }.load()
  }

  /** S3 — REST/JSON scan (api_extractor.py:6-28): the HTTP fetch is
    * driver-side; this handles the body -> table semantics:
    *  - `{"data": [...]}` envelope unwrapped (api_extractor.py:22-23)
    *  - top-level JSON array -> rows (:24-25)
    *  - single nested object -> one flattened row (json_normalize, :26)
    *  - unparseable body -> empty table (:27-28)
    */
  def jsonBody(spark: SparkSession, body: String): DataFrame = {
    import spark.implicits._
    val raw = spark.read.json(spark.createDataset(Seq(body)))
    if (raw.columns.contains("_corrupt_record") && raw.columns.length == 1)
      return spark.emptyDataFrame
    val unwrapped = raw.schema.fields.find(_.name == "data") match {
      case Some(f) if f.dataType.isInstanceOf[ArrayType] =>
        f.dataType.asInstanceOf[ArrayType].elementType match {
          case _: StructType =>
            raw.select(explode(col("data")).as("row")).select("row.*")
          case _ =>
            // scalar envelope {"data":[1,2,3]} -> one-column table
            // (pandas DataFrame(list-of-scalars) analogue); star-expanding
            // a scalar would throw, violating the degrade-don't-abort
            // contract
            raw.select(explode(col("data")).as("data"))
        }
      case _ => raw
    }
    standardizeColumns(flattenStructs(unwrapped))
  }

  /** Driver-side HTTP GET mirroring api_extractor.py:12-19: headers +
    * timeout, require a JSON content type, any failure -> empty table. */
  def httpJson(spark: SparkSession, url: String,
               headers: Map[String, String] = Map.empty,
               timeoutSec: Int = 10): DataFrame =
    try {
      val client = java.net.http.HttpClient.newBuilder()
        .connectTimeout(java.time.Duration.ofSeconds(timeoutSec)).build()
      val b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
        .timeout(java.time.Duration.ofSeconds(timeoutSec))
      headers.foreach { case (k, v) => b.header(k, v) }
      val resp = client.send(b.GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      val ct = resp.headers().firstValue("content-type").orElse("")
      if (resp.statusCode() != 200 || !ct.contains("application/json"))
        spark.emptyDataFrame
      else jsonBody(spark, resp.body())
    } catch { case _: Exception => spark.emptyDataFrame }

  /** Recursive struct flattening = pandas json_normalize
    * (api_extractor.py:26): nested field a.b surfaces as column "a_b". */
  def flattenStructs(df: DataFrame): DataFrame = {
    def cols(schema: StructType, prefix: String): Seq[Column] =
      schema.fields.flatMap { f =>
        val path = if (prefix.isEmpty) f.name else s"$prefix.${f.name}"
        val name = path.replace(".", "_")
        f.dataType match {
          case st: StructType => cols(st, path)
          case _ => Seq(col(s"`${path.replace(".", "`.`")}`").as(name))
        }
      }.toSeq
    if (df.schema.fields.exists(_.dataType.isInstanceOf[StructType]))
      df.select(cols(df.schema, ""): _*)
    else df
  }

  /** P4 — header normalization applied after every extract (main.py:40,54,70). */
  def standardizeColumns(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(functions.normalizeName).toSeq: _*)
}
