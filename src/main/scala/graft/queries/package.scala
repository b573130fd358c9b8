package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

package object queries {

  /** Driver contract signature: (session, sfDir) => result. */
  type QFn = (SparkSession, String) => DataFrame

  /** Read one of the driver's parquet tables (TESTDATA.md). The events
    * table's `ts` physical type has varied across driver generations:
    * TIMESTAMP(NANOS) (which Spark's µs TimestampType rejects — read nanos
    * as long and floor-convert with integer DIV, matching DuckDB's ns->µs
    * truncation) vs plain TIMESTAMP(MICROS). Dispatch on the landed type so
    * either generation normalizes to timestamp_ntz. Opening a table runs no
    * Spark job (readParquet). */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    rebalance(spark, name, read(spark, dir, name))

  /** `table` and its row count (tableRows). */
  def tableCounted(spark: SparkSession, dir: String,
                   name: String): (DataFrame, Long) =
    (table(spark, dir, name), tableRows(spark, dir, name))

  /** A table's row count, summed from its file footers' row groups on the
    * driver: no scan and no Spark job. */
  def tableRows(spark: SparkSession, dir: String, name: String): Long =
    parquetRows(spark, s"$dir/$name.parquet")

  private def read(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = readParquet(spark, s"$dir/$name.parquet")
      val tsNorm = df.schema("ts").dataType match {
        case LongType => expr("cast(timestamp_micros(ts DIV 1000) as timestamp_ntz)")
        case _        => col("ts").cast(TimestampNTZType)
      }
      df.withColumn("ts", tsNorm)
    } else readParquet(spark, s"$dir/$name.parquet")

  /** Open a parquet file, directory or glob of files with its schema read
    * on the driver.
    * `spark.read.parquet` without a schema infers it in a Spark job (the
    * schema merge runs as a job even for one file). This reads the footer
    * of the file that inference touches — the first data file in path
    * order after Spark's hidden-file filter — converts it with Spark's own
    * `readSchemaFromFooter` and a converter built from the session conf
    * (so `nanosAsLong`, `binaryAsString` and the Spark row metadata are
    * honoured), and hands that schema to the reader: the same relation,
    * no job. Layouts whose schema is not one footer's are refused:
    * partitioned directories, file-sink output (read through
    * `_spark_metadata`) and schema-merging reads keep
    * `spark.read.parquet`; ParquetReadSpec's guard lists each such call
    * site. */
  def readParquet(spark: SparkSession, path: String): DataFrame = {
    val (files, conf) = parquetFiles(spark, path)
    val footer = new Footer(files.head.getPath,
      readFooter(files.head, conf, ParquetMetadataConverter.SKIP_ROW_GROUPS))
    val converter = new ParquetToSparkSchemaConverter(spark.sessionState.conf)
    spark.read.schema(ParquetFileFormat.readSchemaFromFooter(footer, converter))
      .parquet(path)
  }

  /** Rows in a parquet file or directory, summed from its data files'
    * row-group counts on the driver: what `readParquet(path).count()`
    * returns, without the scan. */
  def parquetRows(spark: SparkSession, path: String): Long = {
    import scala.jdk.CollectionConverters._
    val (files, conf) = parquetFiles(spark, path)
    files.map(f => readFooter(f, conf, ParquetMetadataConverter.NO_FILTER)
      .getBlocks.asScala.map(_.getRowCount).sum).sum
  }

  /** The data files under `path` (a file, a directory, or a glob of
    * files, as `spark.read.parquet` takes it) in the order Spark's schema
    * inference sees them — sorted by path, after the file index's
    * hidden-name filter — and the session's Hadoop conf to open them with. */
  private def parquetFiles(spark: SparkSession,
                           path: String): (Seq[FileStatus], Configuration) = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val matched = Option(fs.globStatus(p)).toSeq.flatten
    val files = matched match {
      case Seq(root) if root.isDirectory =>
        require(!fs.exists(new Path(root.getPath, "_spark_metadata")),
          s"readParquet: $path is file-sink output; read it with spark.read.parquet")
        val kids = fs.listStatus(root.getPath).toSeq.filterNot(k =>
          org.apache.spark.sql.graft.bridge.hiddenFileName(k.getPath.getName))
        // inference would prefer a summary file (_metadata,
        // _common_metadata) over the data files; Spark writes none
        require(kids.forall(k => k.isFile && !k.getPath.getName.startsWith("_")),
          s"readParquet: $path has subdirectories (a partitioned layout) or " +
            "summary files; read it with spark.read.parquet")
        kids.sortBy(_.getPath.toString)
      case _ =>
        require(matched.forall(_.isFile),
          s"readParquet: $path matches directories; read it with spark.read.parquet")
        matched.sortBy(_.getPath.toString)
    }
    require(files.nonEmpty,
      s"readParquet: no parquet data file under $path to read a schema from")
    (files, conf)
  }

  private def readFooter(file: FileStatus, conf: Configuration,
                         filter: ParquetMetadataConverter.MetadataFilter) =
    ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf), filter)

  private def rebalance(spark: SparkSession, name: String,
                        raw: DataFrame): DataFrame = {
    // The driver writes each table as ONE file with ONE row group, and a
    // row group is parquet's split unit — so every scan arrives as a
    // single partition. For documents/embeddings that means the per-row CPU
    // kernels (regex normalize, md5 shingle hashing, distance merges, dot
    // products) serialize on one core; rebalance them explicitly — exactly
    // what you'd do on a cluster handed a monolithic unsplittable file.
    // Deliberately NOT applied to the row-oriented fact tables: their
    // queries are scan+aggregate shaped, and a blanket round-robin
    // repartition (which shuffles every column — pruning does not push
    // through Repartition) costs more than the lost parallelism. Guarded:
    // a well-laid-out multi-partition input passes through untouched.
    val cpuHeavy = name == "documents" || name == "embeddings"
    val par = spark.sparkContext.defaultParallelism
    if (cpuHeavy && raw.rdd.getNumPartitions < par / 2) raw.repartition(par)
    else raw
  }

  /** Temp staging path keyed by the scale-factor directory, so concurrent
    * SFs never collide — the single convention for every query that stages
    * intermediate files. */
  def tmpStage(dir: String, name: String): String = {
    val sf = dir.replaceAll("[^A-Za-z0-9.]", "_")
    s"${System.getProperty("java.io.tmpdir")}/graft_stage$sf/$name"
  }

  /** Runtime stage-access log for graft.Bench's stage-cold/stage-warm
    * tagging: every staged-intermediate helper records the stage dir it
    * touched and whether it BUILT the stage inside this call (vs riding
    * files a previous query/process left). Bench drains the log around
    * each timed query, so the bench artifact can say per query whether
    * its window included a stage build — and the regression-gate retry
    * can re-wipe query-built stages first, keeping min-of-retries on ONE
    * protocol (the r7 ExactSubstr asymmetry, made structural). */
  private val stageLog =
    new scala.collection.mutable.ArrayBuffer[(String, Boolean)]()
  private[graft] def logStage(path: String, builtNow: Boolean): Unit =
    stageLog.synchronized { stageLog += ((path, builtNow)) }
  private[graft] def drainStageLog(): Seq[(String, Boolean)] =
    stageLog.synchronized { val r = stageLog.toList; stageLog.clear(); r }

  /** The exists-guard staging convention, centralized: build when the
    * marker file is absent, then log the access either way. `stageDir` is
    * what a protocol-consistent retry deletes to force a rebuild. */
  private[queries] def ensureStaged(stageDir: String, marker: String)
                                   (build: => Unit): Unit = {
    val fresh = !java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$stageDir/$marker"))
    if (fresh) build
    logStage(stageDir, fresh)
  }

  /** Delete ONE staged dir so its builder re-pays the build (the bench
    * retry protocol). Any graft_* session-catalog table is dropped too:
    * the bucketed band stage registers one over its files, and a dropped
    * table is harmlessly re-registered (or rebuilt) on next access. */
  private[graft] def wipeStageDir(spark: SparkSession, path: String): Unit = {
    import scala.util.Using
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      Using.resource(java.nio.file.Files.walk(p)) { w =>
        import scala.jdk.CollectionConverters._
        w.iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
    try spark.catalog.listTables().collect()
      .filter(_.name.startsWith("graft_"))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${t.name}"))
    catch { case _: Throwable => () }
  }

  /** Delete every graft staging dir (all SFs). Called at the START of the
    * judged entry points (Verify.main, Bench.main): staged intermediates
    * (cluster tables, minhash signatures, stream micro-batches) survive
    * across processes in java.io.tmpdir, so without this a judged run could
    * silently consume results computed by an OLDER version of the code and
    * report success for code that never executed. Within one process the
    * stage is still computed once and shared — only cross-process reuse is
    * forbidden. */
  def wipeStages(): Unit = {
    import scala.util.Using
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    if (!java.nio.file.Files.isDirectory(tmp)) return
    val roots = Using.resource(java.nio.file.Files.list(tmp)) { s =>
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .filter(_.getFileName.toString.startsWith("graft_stage")).toList
    }
    roots.foreach { root =>
      Using.resource(java.nio.file.Files.walk(root)) { w =>
        import scala.jdk.CollectionConverters._
        w.iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
  }

  /** Oracle-deterministic SUM over a double column: cast to decimal so the
    * aggregation is exact (order-independent — partial aggregates across
    * partitions must equal DuckDB's sequential sum bit-for-bit), then round
    * IN DECIMAL SPACE and only then return double. DuckDB twin:
    * `CAST(round(sum(CAST(x AS DECIMAL(30,10))), s) AS DOUBLE)`.
    * Double->decimal(…,10) rounding cannot tie (10^-11 is not binary-
    * representable), so both engines produce identical decimals per row.
    * The final round must happen on the DECIMAL, not after a double cast:
    * Spark's round(double) rounds the shortest-decimal representation
    * (BigDecimal.valueOf) where DuckDB rounds the binary value, and a sum
    * landing on an exact .5 at the target scale flips a cent between the
    * engines (the round-9 sf1 q5/q7/pt1 failures). Decimal half-up is
    * identical in both. */
  def dsum(c: Column): Column =
    round(sum(c.cast(DecimalType(30, 10))), 2).cast(DoubleType)

  /** Oracle-deterministic AVG: exact decimal sum, double divide, round.
    * DuckDB twin: `round(CAST(sum(CAST(x AS DECIMAL(30,10))) AS DOUBLE)
    * / count(*), 6)`. */
  def davg(c: Column): Column =
    round(sum(c.cast(DecimalType(30, 10))).cast(DoubleType) / count(lit(1)), 6)

  /** Signed-double round with the sign of zero normalized: Spark's
    * `round` emits +0.0 on a negative epsilon where DuckDB's `round`
    * preserves -0.0 — equal by value, different bytes, so the driver's
    * hash compare diverges (the round-8 `emb_covariance` red row). Every
    * rounded double that CAN be a negative epsilon and reaches a hashed
    * artifact must pass through this on BOTH engines.
    * DuckDB twin: `round(x, s) + 0`.
    *
    * The round is `VectorExpressions.HalfUpRound`: Spark's `round` value
    * and bits (never -0.0) from y = |x|·10^s, t = floor(y), f = y − t and
    * ±(t + (f > 0.5 ? 1 : 0)) / 10^s, with Spark's BigDecimal round kept
    * only for near-ties (|f − 0.5| ≤ 1e-9·max(1, y)), y ≥ 4e15, NaN and
    * ±Inf. It is exact because `Double.toString(x)`, the decimal Spark
    * rounds, is within ~4.4e-16·y of y after scaling, far inside the tie
    * margin, and for |r| < 2^52 BigDecimal's `doubleValue` is the same
    * `r / 10^s` division (the proof is on `VectorExpressions.halfUpRound`).
    * `c` must be DOUBLE: any other type fails at analysis. */
  def rz(c: Column, scale: Int): Column =
    graft.functions.VectorExpressions.halfUpRound(c, scale)

  /** Decimal-space round of a DOUBLE expression: cast to DECIMAL(30,10)
    * (identical in both engines — the dsum tie-free note), round half-up
    * in decimal, cast back. Subsumes rz (decimal zero casts to +0.0) AND
    * dodges the shortest-repr-vs-binary round(double) divergence, so use
    * it for any double that feeds an ITERATED computation where one
    * boundary flip amplifies (the PCA power chain). DuckDB twin:
    * `CAST(round(CAST(x AS DECIMAL(30,10)), s) AS DOUBLE)`. */
  def rd(c: Column, scale: Int): Column =
    round(c.cast(DecimalType(30, 10)), scale).cast(DoubleType)
}
