package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Similarity, Skew}
import graft.queries.{IdBits, joinPacked, packKey}

/** Composite integer join keys packed into one bigint (`queries.packKey`):
  * the joins give the rows the unpacked joins give, an id outside its bit
  * width fails the query, and the judged rows that join on packed keys
  * broadcast relations sized by their rows rather than whole memory pages. */
class PackedJoinSpec extends SparkSpec {
  import spark.implicits._

  /** Every message along a throwable's cause chain. */
  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString(" | ")

  private def failsWith(expected: String)(df: => DataFrame): Unit = {
    val e = intercept[Exception](df.collect())
    assert(messages(e).contains(expected), messages(e))
  }

  test("packKey orders parts high to low and keeps them apart") {
    val df = Seq((0L, 0L), (0L, 1L), (1L, 0L), (3L, (1L << 31) - 1))
      .toDF("a", "b")
    val keys = df.select(packKey($"a" -> IdBits, $"b" -> IdBits))
      .as[Long].collect().toSeq
    assert(keys == Seq(0L, 1L, 1L << 31, (3L << 31) + (1L << 31) - 1))
    intercept[IllegalArgumentException](packKey($"a" -> 32, $"b" -> 32))
    intercept[IllegalArgumentException](packKey($"a" -> 0))
  }

  test("a part outside [0, 2^bits) fails the query with packKey's message") {
    val pairs = Seq((1L, 2L)).toDF("q_id", "vec_id")
    failsWith("packKey: q_id = -1 is outside [0, 2^31)") {
      Seq((-1L, 2L)).toDF("q_id", "vec_id")
        .select(packKey($"q_id" -> IdBits, $"vec_id" -> IdBits))
    }
    // the id bounds the packed keys rely on, enforced in the plan: vec_id
    // through the recall join, doc_id through the chunked self-join's key
    failsWith(s"packKey: vec_id = ${1L << 31} is outside [0, 2^31)") {
      Similarity.recall(pairs,
        Seq((1L, 1L << 31)).toDF("q_id", "vec_id"), "")
    }
    failsWith("packKey: vec_id = -3 is outside [0, 2^31)") {
      Similarity.recall(Seq((1L, -3L)).toDF("q_id", "vec_id"), pairs, "")
    }
    def members(rep: Long) =
      Seq((5L, rep), (6L, rep)).toDF("doc_id", "rep")
    def intra(rep: Long) = {
      val (a, b, cond) = Skew.chunkedSelfJoin(members(rep), "doc_id",
        Seq("rep" -> IdBits))
      a.join(b, cond && $"a.doc_id" < $"b.doc_id")
    }
    assert(intra(5L).count() == 1L)
    failsWith("packKey: rep = -5 is outside [0, 2^31)")(intra(-5L))
    failsWith(s"packKey: rep = ${1L << 31} is outside [0, 2^31)")(intra(1L << 31))
  }

  test("joinPacked gives the rows of the plain join, null keys unmatched") {
    val left = Seq[(java.lang.Long, java.lang.Long, String)](
      (1L, 2L, "x"), (1L, 3L, "y"), (2L, 2L, "z"), (null, 2L, "n"),
      (1L, 2L, "x2")).toDF("a", "b", "l")
    val right = Seq[(java.lang.Long, java.lang.Long, String)](
      (1L, 2L, "p"), (2L, 2L, "q"), (2L, 2L, "q2"), (null, 2L, "m"),
      (4L, 4L, "r")).toDF("a", "b", "r")
    for (how <- Seq("inner", "left")) {
      val plain = left.join(right, Seq("a", "b"), how)
        .select($"a", $"b", $"l", $"r")
      val packed = joinPacked(left, right, Seq("a", "b"), how)
      assert(packed.columns.toSeq == Seq("a", "b", "l", "r"))
      assert(rows(packed.except(plain)).isEmpty &&
        rows(plain.except(packed)).isEmpty && packed.count() == plain.count(),
        s"$how: ${rows(packed)} vs ${rows(plain)}")
    }
  }

  test("rows joining on packed keys broadcast no relation of 4 MB or more") {
    val dir = sfDir("sf0.001")
    // stage builds are operations of their own, as in graft.Bench and
    // the benchmark; their string-keyed joins are outside the packing
    for (stage <- Seq("stage:pairs", "stage:quotient", "stage:pq"))
      queries.Stages.all.find(_._1 == stage).get._2(spark, dir)
    // one row per packed family: the member-pair expansion, a recall
    // audit, the triangle census, and banded SimHash LSH
    for (row <- Seq("dd_ngram_jaccard", "sim_pq_recall", "gr3_triangles",
                    "dd_simhash")) {
      val rels = BroadcastCensus.ofRow(spark, dir, row)
      assert(rels.exists(_.hashed), s"$row built no hashed broadcast")
      val big = rels.filter(_.bytes >= (4L << 20))
      assert(big.isEmpty, s"$row: ${big.mkString(", ")}")
    }
  }
}
