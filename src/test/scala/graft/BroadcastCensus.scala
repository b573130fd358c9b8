package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.HashedRelationBroadcastMode
import org.apache.spark.sql.util.QueryExecutionListener

/** The broadcast relations a block of Spark work builds: every
  * `BroadcastExchangeExec` in the executed plan of each successful query
  * execution (subqueries and AQE stages included), with its `dataSize`
  * and `numOutputRows` metrics and, for a hashed relation, the types of
  * its build keys as the join binds them (after Spark's own folding of
  * small integral keys into one long).
  *
  * A hash join on one 8-byte integer key builds a `LongHashedRelation`,
  * sized by its rows; any other key builds an `UnsafeHashedRelation`,
  * which holds at least one whole `spark.buffer.pageSize` page (16-64 MB
  * at a 2-8g heap), whatever its row count.
  *
  * `main` runs the census over judged rows:
  * `java -cp <test-classes>:<classes>:<spark jars> graft.BroadcastCensus
  * <sfDir> [row ...]` (no rows = every `SparkEntry` row) prints one line
  * per relation, `<row> <bytes> <rows> <key types>`, then the totals. */
object BroadcastCensus extends AdaptiveSparkPlanHelper {

  final case class Relation(keys: Seq[String], bytes: Long, rows: Long) {
    def hashed: Boolean = keys.nonEmpty
  }

  /** The relations built by the query executions `body` completes. */
  def during(spark: SparkSession)(body: => Unit): Seq[Relation] = {
    val seen = ArrayBuffer.empty[Relation]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit = {
        val found = collectWithSubqueries(qe.executedPlan) {
          case b: BroadcastExchangeExec => b
        }.distinct.map { b =>
          val keys = b.mode match {
            case HashedRelationBroadcastMode(k, _) => k.map(_.dataType.simpleString)
            case _ => Nil
          }
          Relation(keys, b.metrics("dataSize").value,
            b.metrics("numOutputRows").value)
        }
        seen.synchronized { seen ++= found }
      }
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    val manager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .listenerManager
    manager.register(listener)
    try {
      body
      org.apache.spark.graft.TestBus.drain(spark.sparkContext)
    } finally manager.unregister(listener)
    seen.synchronized(seen.toList)
  }

  /** A judged row run to completion (its result written to the noop
    * sink), and the relations it built. */
  def ofRow(spark: SparkSession, sfDir: String, row: String): Seq[Relation] =
    during(spark) {
      SparkEntry.queries(row)(spark, sfDir).write.format("noop")
        .mode("overwrite").save()
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val rows = if (args.length > 1) args.drop(1).toSeq
               else SparkEntry.queries.keys.toSeq.sorted
    val spark = HarnessSession.build()
    queries.wipeStages()
    val all = rows.flatMap { row =>
      val rels =
        try ofRow(spark, sfDir, row)
        catch { case e: Throwable =>
          println(s"[census] $row failed: ${e.getMessage}"); Nil
        }
      HarnessSession.clearResidue(spark)
      rels.foreach(r => println(
        s"[census] $row ${r.bytes} ${r.rows} ${r.keys.mkString("(", ",", ")")}"))
      rels.map(row -> _)
    }
    val big = all.filter(_._2.bytes >= (32L << 20))
    println(s"[census] ${all.size} broadcasts in ${all.map(_._1).distinct.size} rows; " +
      s"${big.size} of >= 32 MB in ${big.map(_._1).distinct.size} rows " +
      s"holding ${big.map(_._2.rows).sum} rows")
    spark.stop()
  }
}
