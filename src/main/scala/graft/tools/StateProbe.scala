package graft.tools

import org.apache.spark.sql.SparkSession

/** Scale-audit probe for streaming STATE boundedness: runs the named
  * streaming queries at a given SF dir and prints each drain's per-batch
  * state-store row counts (recorded by StreamOps.drain's listener —
  * exact per-batch totals, not the capped recentProgress ring buffer).
  *
  * The claim this evidences at f30/f100: an append-mode watermarked drain's
  * state stays bounded by the watermark horizon (dd_stream_dedup_evict,
  * ev_stream_append_eviction), and the streaming ANN ingest's state stays
  * at |arrived queries| — both INDEPENDENT of corpus growth, which is what
  * lets the postures survive unbounded input at 100 TB.
  *
  * Usage: runMain graft.tools.StateProbe <sfDir> <query> [query...]
  * Prints one JSON line: {"sf_dir":…, "state":{q:{"batches":n,"max":…,
  * "last":…,"rows":[…]}}} (rows truncated to 64 entries).
  */
object StateProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: StateProbe <sfDir> <query> [query...]")
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.queries.wipeStages()
    val perQuery = names.map { n =>
      graft.streaming.StreamOps.clearStateLog()
      // building the query runs its drain(s) eagerly; the returned frame
      // is post-drain batch — force it so nothing is plan-only
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      val drains = graft.streaming.StreamOps.stateLogSnapshot
      val rendered = drains.map { case (drain, rows) =>
        s""""$drain":{"batches":${rows.length},"max":${if (rows.isEmpty) 0 else rows.max},""" +
          s""""last":${rows.lastOption.getOrElse(0L)},"rows":[${rows.take(64).mkString(",")}]}"""
      }.mkString(",")
      s""""$n":{$rendered}"""
    }
    println(s"""{"sf_dir":"$sfDir","state":{${perQuery.mkString(",")}}}""")
    spark.stop()
  }
}
