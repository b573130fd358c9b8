package graft.etl

import org.apache.spark.sql.DataFrame
import graft.queries.readParquet

/** Sink operators (SURVEY.md §2.2 K1–K4) over parquet paths (the harness's
  * staging layer) and JDBC (the reference's DW).
  */
object Staging {

  /** K1 — full-replace write (load_to_staging.py:4-5, if_exists="replace"):
    * drop-and-recreate semantics. */
  def overwrite(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** K2 — append write (sync_dimensions_dw.py:43-49). */
  def append(df: DataFrame, path: String): Unit =
    df.write.mode("append").parquet(path)

  /** K3 — transactional batched insert (core/dw_repository.py:8-23): Spark's
    * JDBC writer batches per partition (`batchsize`); each partition's batch
    * commits atomically, matching the reference's executemany-in-one-txn at
    * partition granularity. Exercised live against embedded Derby (EtlSpec +
    * the `etl_jdbc_source` oracle query). */
  def jdbcAppend(df: DataFrame, url: String, tableName: String,
                 batchSize: Int = 1000,
                 props: Map[String, String] = Map.empty): Unit =
    df.write.mode("append").jdbc(url, tableName, jdbcProps(batchSize, props))

  /** K1 over JDBC — full-replace (drop + recreate) into an RDBMS table,
    * the staging writer's `if_exists="replace"` twin for the DW side. */
  def jdbcOverwrite(df: DataFrame, url: String, tableName: String,
                    batchSize: Int = 1000,
                    props: Map[String, String] = Map.empty): Unit =
    df.write.mode("overwrite").jdbc(url, tableName, jdbcProps(batchSize, props))

  private def jdbcProps(batchSize: Int,
                        props: Map[String, String]): java.util.Properties = {
    // keep embedded Derby's derby.log out of the CWD (see Sources.jdbc)
    if (System.getProperty("derby.system.home") == null)
      System.setProperty("derby.system.home",
        System.getProperty("java.io.tmpdir"))
    val p = new java.util.Properties()
    props.foreach { case (k, v) => p.setProperty(k, v) }
    p.setProperty("batchsize", batchSize.toString)
    p
  }

  /** Key-based upsert into a parquet staging path: update rows replace
    * existing rows with the same key, new keys append, untouched keys
    * survive. The reference's DW dimension sync is a blind `append`
    * (sync_dimensions_dw.py:43-49) — correct only for a first load; this is
    * the idempotent re-runnable form a scheduled pipeline needs (running
    * the same sync twice must not duplicate dimensions).
    *
    * Plan shape: one left-anti join of existing vs updates on the key
    * (broadcast when updates are small) + a union — no wide shuffle of the
    * existing data beyond the anti-join. The rewrite goes through a temp
    * directory + filesystem rename because Spark cannot overwrite a path
    * it is lazily reading from.
    */
  def upsert(updates: DataFrame, path: String, key: Seq[String]): Unit = {
    val spark = updates.sparkSession
    val hconf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(hconf)
    if (!fs.exists(p)) { overwrite(updates, path); return }
    val existing = readParquet(spark, path)
    // no distinct(): a left_anti join's output does not depend on
    // duplicate keys on its right side
    val updKeys = updates.select(key.map(org.apache.spark.sql.functions.col): _*)
    val merged = updates.unionByName(existing.join(updKeys, key, "left_anti"))
    // Unique temp dir so two concurrent runs can't clobber each other's
    // staging; Hadoop delete/rename report failure via FALSE, not an
    // exception — check both, or a failed swap would silently leave the old
    // rows (rename onto an existing dir nests instead of replacing). The
    // delete→rename window itself is not atomic (no atomic dir swap on
    // generic filesystems): a crash inside it loses the table — acceptable
    // for a staging layer that the orchestrator rebuilds, documented here.
    val tmp = new org.apache.hadoop.fs.Path(
      path + s"__upsert_tmp_${System.nanoTime()}")
    try {
      merged.write.mode("overwrite").parquet(tmp.toString)
      if (!fs.delete(p, true))
        throw new java.io.IOException(s"upsert: could not delete $path")
      if (!fs.rename(tmp, p))
        throw new java.io.IOException(s"upsert: could not swap $tmp -> $path")
    } finally fs.delete(tmp, true)
  }

  /** SCD Type-2 merge — the dimension-history discipline the reference's
    * staging→DW sync (sync_dimensions_dw.py:16-145) replaces wholesale;
    * a real warehouse keeps every version. History schema: key ++ attrs ++
    * (valid_from: date, valid_to: date nullable, is_current: boolean).
    * For each update row: if the key's CURRENT attrs differ, the current
    * version closes (valid_to = batchDate, is_current = false) and the new
    * version appends (valid_from = batchDate, open-ended); identical attrs
    * are a no-op (so the merge is idempotent); unknown keys insert as new
    * current rows. Historical (non-current) rows pass through untouched.
    *
    * Scale shape: the history only ever meets the updates through KEY
    * equi-joins (one inner for change detection, one left_anti for
    * new-key detection) — updates are the small side and broadcast; the
    * wide history is never shuffled on anything but its key, and
    * unchanged partitions stream through the union untouched. Null-safe
    * (<=>) attr comparison so a null attr versions correctly. */
  def scd2Merge(history: DataFrame, updates: DataFrame, key: Seq[String],
                attrs: Seq[String],
                batchDate: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.functions._
    val upd = updates.select((key ++ attrs).map(col): _*)
    val keyCond = key.map(k => col(s"c.$k") === col(s"u.$k")).reduce(_ && _)
    val diffCond = attrs.map(a => !(col(s"c.$a") <=> col(s"u.$a"))).reduce(_ || _)
    val cur = history.filter(col("is_current"))
    // keys whose current version genuinely changed
    val changedKeys = cur.as("c").join(upd.as("u"), keyCond && diffCond)
      .select(key.map(k => col(s"c.$k")): _*).distinct()
    val closed = cur.join(changedKeys, key)
      .withColumn("valid_to", batchDate.cast("date"))
      .withColumn("is_current", lit(false))
    // Only the CURRENT slice competes with `closed` — historical (already
    // closed) versions of a changed key must pass through untouched, so the
    // anti-join runs against the current rows alone, and the non-current
    // rows union in unconditionally. (Anti-joining the whole history here
    // would silently drop a key's prior versions on its second change.)
    val keep = history.filter(!col("is_current"))
      .unionByName(cur.join(changedKeys, key, "left_anti"))
    val newKeys = upd.join(cur.select(key.map(col): _*), key, "left_anti")
      .select((key ++ attrs).map(col): _*)
    val inserted = upd.join(changedKeys, key).unionByName(newKeys)
      .withColumn("valid_from", batchDate.cast("date"))
      .withColumn("valid_to", lit(null).cast("date"))
      .withColumn("is_current", lit(true))
    keep.unionByName(closed).unionByName(
      inserted.select(history.columns.map(col): _*))
  }

  /** K4 — index DDL analogue (load_to_staging.py:7-16): no index concept in
    * Spark; the physical equivalent is a sorted layout so downstream
    * scans skip via parquet min/max stats. */
  def overwriteSorted(df: DataFrame, path: String, sortCols: Seq[String]): Unit =
    df.sortWithinPartitions(sortCols.map(df(_)): _*)
      .write.mode("overwrite").parquet(path)
}
