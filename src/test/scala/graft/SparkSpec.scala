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

  /** The Spark jobs `body` starts, counted by a SparkListener on a job
    * group private to this call (suites share the session, so jobs from
    * other threads are not counted). */
  def sparkJobs(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(
            _.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job count")
      try body finally sc.clearJobGroup()
      org.apache.spark.graft.TestBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    jobs.get()
  }

  /** A private copy of one testdata table in a fresh directory, so any
    * stage built from it is cold and no other suite shares it; `body`
    * gets the directory, which is deleted afterwards with the stage dirs
    * under it. */
  def withTableCopy[T](sf: String, table: String)(body: String => T): T = {
    import java.nio.file.{Files, Paths}
    val copy = Files.createTempDirectory("graft_copy")
    Files.copy(Paths.get(sfDir(sf), s"$table.parquet"),
      copy.resolve(s"$table.parquet"))
    val stages = Paths.get(graft.queries.tmpStage(copy.toString, "x")).getParent
    try body(copy.toString)
    finally for (p <- Seq(copy, stages) if Files.exists(p))
      scala.util.Using.resource(Files.walk(p))(
        _.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => Files.delete(f)))
  }
}
