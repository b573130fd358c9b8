package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._
import graft.queries.{parquetRows, readParquet}

/** queries.readParquet opens a parquet input from a footer on the driver
  * instead of Spark's schema-inference job. These pin that it yields the
  * schema inference yields and the row count a scan yields, that opening a
  * table runs no Spark job, and that no other reader bypasses it. */
class ParquetReadSpec extends SparkSpec {

  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) scala.util.Using.resource(Files.walk(p))(
      _.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f)))

  /** Footer schema == inferred schema (field metadata included) and
    * footer row count == scanned count. */
  private def assertParity(path: String): Unit = {
    val inferred = spark.read.parquet(path)
    assert(readParquet(spark, path).schema == inferred.schema,
      s"$path: footer schema ${readParquet(spark, path).schema.toDDL} vs " +
        s"inferred ${inferred.schema.toDDL}")
    assert(parquetRows(spark, path) == inferred.count(), s"$path: row count")
  }

  test("readParquet: schema and row count equal Spark's inference and a " +
    "scan on all ten testdata tables") {
    // events' TIMESTAMP(NANOS) column converts only under nanosAsLong,
    // which queries.table sets; the footer converter must honour it
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for (sf <- Seq("sf0.001", "sf0.01"); t <- tables) {
      assertParity(s"${sfDir(sf)}/$t.parquet")
      val (df, n) = graft.queries.tableCounted(spark, sfDir(sf), t)
      assert(n == df.count(), s"$sf/$t: tableCounted n")
    }
  }

  test("readParquet: Spark-written single-file, multi-file and empty " +
    "directories, with hidden files and column metadata") {
    val root = Files.createTempDirectory("graft_readparquet")
    try {
      val meta = new org.apache.spark.sql.types.MetadataBuilder()
        .putString("comment", "kept by the row metadata").build()
      val df = spark.range(0, 1000, 1, 4).select(col("id"),
        (col("id") % 7).cast("int").as("k", meta),
        concat(lit("s"), col("id").cast("string")).as("s"),
        (col("id") / 3).cast("decimal(12,3)").as("dec"),
        array(col("id").cast("float"), lit(1.5f)).as("v"),
        struct(col("id").as("a"), lit("b").as("b")).as("st"),
        map(lit("m"), col("id")).as("mp"),
        expr("cast(timestamp_micros(id) as timestamp_ntz)").as("ts"))
      for ((name, parts) <- Seq("one" -> 1, "four" -> 4)) {
        val p = root.resolve(name).toString
        df.repartition(parts).write.parquet(p)
        // _SUCCESS and the .crc side files sit next to the data files
        assert(scala.util.Using.resource(Files.list(root.resolve(name)))(
          _.count()) > parts)
        assertParity(p)
      }
      val empty = root.resolve("empty").toString
      df.filter(lit(false)).write.parquet(empty)
      assertParity(empty)
      // layouts whose schema is not one footer's are refused, loudly
      df.write.partitionBy("k").parquet(root.resolve("parted").toString)
      intercept[IllegalArgumentException](
        readParquet(spark, root.resolve("parted").toString))
    } finally deleteTree(root)
  }

  test("queries.table and tableCounted run no Spark job") {
    for (t <- tables) {
      val jobs = sparkJobs {
        graft.queries.table(spark, sfDir("sf0.001"), t).schema
        graft.queries.tableCounted(spark, sfDir("sf0.001"), t)._1.schema
      }
      assert(jobs == 0, s"opening $t ran $jobs Spark jobs")
    }
  }

  test("every parquet read in src/main goes through readParquet but the " +
    "named exceptions") {
    // call site (file, line) -> why it keeps the inferring reader
    val allowed = Map(
      ("Etl.scala", "s.read.parquet(path).filter(col(\"lang\") === \"en\")") ->
        "docs_by_lang is hive-partitioned: lang comes from directory names",
      ("Etl.scala", "s.read.option(\"mergeSchema\", \"true\")") ->
        "schema evolution: the schema is the merge of every file's footer",
      ("StreamOps.scala", "case (_, _, Files(path)) => spark.read.parquet(path)") ->
        "file-sink output is read through _spark_metadata")
    // a reader chain: .read, any options, then .parquet( — across lines
    val reader = """\.read((\s*\.\s*(option|options|format)\([^)]*\))*)\s*\.\s*parquet\(""".r
    val main = java.nio.file.Paths.get("src/main/scala")
    val files = scala.util.Using.resource(Files.walk(main)) { w =>
      import scala.jdk.CollectionConverters._
      w.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    }
    assert(files.nonEmpty)
    val found = for {
      f <- files
      src = Files.readString(f)
      m <- reader.findAllMatchIn(src)
    } yield {
      val lineStart = src.lastIndexOf('\n', m.start) + 1
      val lineEnd = src.indexOf('\n', m.start)
      (f.getFileName.toString, src.substring(lineStart, lineEnd).trim)
    }
    val stray = found.filterNot(allowed.contains)
    assert(stray.isEmpty, s"parquet reads outside readParquet: $stray")
    assert(found.toSet == allowed.keySet,
      s"named exceptions no longer present: ${allowed.keySet -- found}")
  }
}
