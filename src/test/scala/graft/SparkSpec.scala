package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session — suites may
  * run in parallel threads; getOrCreate is safe). */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def rows(df: DataFrame): Seq[Row] = df.collect().toSeq
  /** A scale factor's testdata directory, e.g. sfDir("sf0.01"). */
  def sfDir(sf: String): String = s"${sys.props("user.home")}/testdata/$sf"
}
