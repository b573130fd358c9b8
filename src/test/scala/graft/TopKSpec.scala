package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.queries.topK

/** `queries.topK`, the one top-k per group of the library, against a
  * driver-side reference ranking: sort each group by the same total order,
  * keep the first k, number them from 1. */
class TopKSpec extends SparkSpec {
  import spark.implicits._

  /** (grp, score, id): few groups, few score values, so ties are dense and
    * only the id breaks them. */
  private val cases: Seq[(Int, Int, Long)] =
    Gen.listOfN(600, Gen.zip(Gen.choose(0, 6), Gen.choose(0, 4)))
      .apply(Gen.Parameters.default, Seed(16L)).get
      .zipWithIndex.map { case ((g, s), i) => (g, s, (i * 7919L) % 600) }

  /** The reference: (grp, id, rank) of the first k rows of each group by
    * (score desc, id). */
  private def reference(rows: Seq[(Int, Int, Long)], k: Int): Set[(Int, Long, Long)] =
    rows.groupBy(_._1).toSeq.flatMap { case (g, members) =>
      members.sortBy(r => (-r._2, r._3)).take(k).zipWithIndex
        .map { case (r, i) => (g, r._3, i + 1L) }
    }.toSet

  private def ranked(parts: Int, k: Int): Set[(Int, Long, Long)] =
    rows(topK(cases.toDF("grp", "score", "id").repartition(parts),
        Seq(col("grp")), Seq(col("score").desc, col("id")), k, "rank")
      .select(col("grp"), col("id"), col("rank")))
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet

  test("topK equals the reference ranking under dense ties, at 1 and " +
    "several input partitions") {
    val want = reference(cases, 5)
    for (parts <- Seq(1, 3, 8))
      assert(ranked(parts, 5) == want, s"$parts partitions")
  }

  test("topK keeps a whole group when k >= its size, and one row at k = 1") {
    val biggest = cases.groupBy(_._1).values.map(_.size).max
    assert(ranked(4, biggest) == reference(cases, biggest))
    assert(ranked(4, biggest).size == cases.size)
    val first = ranked(4, 1)
    assert(first == reference(cases, 1))
    assert(first.size == cases.map(_._1).distinct.size && first.forall(_._3 == 1L))
  }

  test("topK with no group ranks the whole frame; the rank is a bigint") {
    val df = topK(cases.toDF("grp", "score", "id"), Nil,
      Seq(col("score").desc, col("id")), 7, "rk")
    assert(df.schema("rk").dataType == LongType)
    val got = rows(df.select(col("id"), col("rk")))
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = cases.sortBy(r => (-r._2, r._3)).take(7).zipWithIndex
      .map { case (r, i) => (r._3, i + 1L) }.toSet
    assert(got == want)
  }
}
