package graft

import org.apache.spark.sql.SparkSession

/** The one local session the harness mains run on (Bench, Verify,
  * tools.Explain, tools.StateProbe) and the cleanup they run between
  * queries. */
object HarnessSession {

  /** `local[SPARK_GRAFT_CPUS]` (default 4) with as many shuffle
    * partitions, UTC session time, µs parquet timestamps (not INT96) so
    * the driver's reader sees the same logical type DuckDB produces, and
    * no UI. */
  def build(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drop what a finished query leaves behind, so none of it bleeds into
    * the next one's run or measurement:
    *  - persisted RDDs (the connected-components loops' localCheckpoints),
    *    unpersisted BLOCKING: async removal races the next query (the r4
    *    ev_hll_sketch "regression", 0.8 s -> 2.0 s on untouched code, sat
    *    right after the checkpoint-heavy dedup queries);
    *  - a still-active streaming query, if a drain threw mid-flight;
    *  - memory-sink temp views (StreamOps.drainSinkLog), each holding a
    *    full drained result on the driver heap;
    *  - loaded state-store providers, whose version maps sit in executor
    *    memory until the maintenance thread's 60 s interval notices the
    *    query is gone (measured at r10: the four streaming-family rows ran
    *    1.5–2.1x their anchors in fleet order but at-anchor isolated);
    *  - broadcast and shuffle state, which the ContextCleaner tears down
    *    only when the DRIVER garbage-collects their references, hence the
    *    forced GC (measured at r5: dd_incremental_lsh cost 2.9 s alone but
    *    17.4 s after three broadcast-heavy queries).
    * Order matters: queries stop before their sink views are dropped (a
    * live query's next batch races the drop), state stores unload last. */
  def clearResidue(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    spark.streams.active.foreach(q =>
      try q.stop() catch { case _: Throwable => () })
    graft.streaming.StreamOps.drainSinkLog().foreach(n =>
      try spark.catalog.dropTempView(n) catch { case _: Throwable => () })
    try org.apache.spark.sql.graft.bridge.stopStateStores()
    catch { case _: Throwable => () }
    System.gc()
  }
}
