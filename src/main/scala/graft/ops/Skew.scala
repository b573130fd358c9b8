package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.queries.{joinPacked, packKey}

/** Skew mitigation patterns (SURVEY.md §7.3.7 / the 100 TB checklist):
  * salting spreads a hot key over `salt` sub-keys so no single task owns a
  * whole heavy-hitter partition. AQE's skew-join handles *detected* skew at
  * runtime; these are the explicit, plan-level variants for when the skew is
  * known up front (a handful of mega-duplicate keys, a power-law group-by).
  */
object Skew {

  /** Salted equi-join: the big (skewed) side scatters each row over a
    * deterministic salt derived from its whole row hash; the small side
    * replicates `salt` ways. Join semantics are identical to
    * `big.join(small, key)` — every big row still meets every matching
    * small row exactly once — but each hot key now spans `salt` tasks.
    * Inner or left joins only (replication breaks right/full semantics).
    * `key` is an integer id in [0, 2^31): (key, salt) joins as one packed
    * bigint (`graft.queries.joinPacked`), so the small side broadcasts as a
    * LongHashedRelation. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String, salt: Int,
                 how: String = "inner"): DataFrame = {
    require(how == "inner" || how == "left",
      s"salted join supports inner/left, got $how")
    val b = big.withColumn("__salt", rowSalt(big, salt))
    val s = small.withColumn("__salt",
      explode(array((0 until salt).map(lit): _*)))
    joinPacked(b, s, Seq(key, "__salt"), how).drop("__salt")
  }

  /** Per-row salt. A pure row-content hash would send EXACT duplicate rows
    * — the archetypal hot key in a dedup pipeline — to one bucket, undoing
    * the mitigation; mixing in monotonically_increasing_id spreads even
    * identical rows. Assignment varies run-to-run, results never do (every
    * salted operation here is assignment-invariant). */
  private def rowSalt(df: DataFrame, salt: Int) =
    pmod(xxhash64(monotonically_increasing_id() +:
      df.columns.map(col): _*), lit(salt.toLong)).cast("int")

  /** Chunks per side of a chunked self-join: 2^ChunkBits. */
  private val ChunkBits = 2

  /** Chunked self-join for blocked pair generation: when one blocking key
    * owns a huge block, the naive self-join computes that whole block's
    * pairs in ONE task. Chunking hashes each row to one of 2^ChunkBits
    * sub-keys and replicates both sides so every (chunk_i, chunk_j)
    * combination becomes its own join key — the block's pair grid spreads
    * over chunks² tasks at the cost of chunks× row replication. Pair set is
    * identical to the plain blocked self-join (each pair meets exactly once
    * at key (chunk(x), chunk(y))).
    *
    * `block` lists the integer blocking-key columns with their bit widths.
    * They and the two chunk ids pack into ONE bigint key per side
    * (`graft.queries.packKey`, which fails the query on a value outside
    * its width), so a small side broadcasts as a LongHashedRelation
    * instead of pinning a whole memory page. A blocking key that cannot
    * pack exactly (a string, a 64-bit hash) stays out of `block`: the
    * caller ANDs its equality with the returned condition.
    *
    * Returns (a, b, cond): `df` aliased "a" and "b", and the packed-key
    * equality between them.
    */
  def chunkedSelfJoin(df: DataFrame, idCol: String, block: Seq[(String, Int)])
      : (DataFrame, DataFrame, Column) = {
    val chunks = 1 << ChunkBits
    val ck = pmod(xxhash64(col(idCol)), lit(chunks.toLong)).cast("int")
    val all = array((0 until chunks).map(lit): _*)
    val blockParts = block.map { case (c, bits) => col(c) -> bits }
    def key(hi: String, lo: String) = packKey(
      blockParts ++ Seq(col(hi) -> ChunkBits, col(lo) -> ChunkBits): _*)
    val a = df.withColumn("__ck", ck).withColumn("__cb", explode(all))
      .withColumn("__key", key("__ck", "__cb")).as("a")
    val b = df.withColumn("__ck", ck).withColumn("__ca", explode(all))
      .withColumn("__key", key("__ca", "__ck")).as("b")
    (a, b, col("a.__key") === col("b.__key"))
  }

  /** Two-phase (salted) aggregation for power-law group keys: partial
    * aggregate on (key, salt), then final aggregate on key. `partial` maps
    * each input aggregate column to its partial form; `merge` re-aggregates
    * the partials. For algebraic aggregates (sum/count/min/max) the two
    * phases compose exactly. */
  def twoPhaseAgg(df: DataFrame, key: Seq[String], salt: Int,
                  partial: Seq[Column], merge: Seq[Column]): DataFrame = {
    val salted = df.withColumn("__salt", rowSalt(df, salt))
    val phase1 = salted
      .groupBy((key :+ "__salt").map(col): _*)
      .agg(partial.head, partial.tail: _*)
    phase1.groupBy(key.map(col): _*).agg(merge.head, merge.tail: _*)
  }
}
