package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Graph

/** The member-level graph census: PageRank and the triangle census over
  * the expanded pair list `(doc_a, doc_b)` (each undirected pair once,
  * symmetrization happens here), as Graph computed them before every
  * judged graph row moved to the twin-class quotient — kept as the
  * independent reference the OpsSpec pins compare Graph.*FromQuotient
  * against, bit for bit. Never on a query path. Also builds the
  * (quotient pairs, membership) input of Graph.quotientFrames for a
  * given partition of a small graph, on the driver.
  */
object GraphReference {

  /** 3 rounds of integer micro-mass PageRank, damping 85%: each round is
    * one edge ⋈ score equi-join plus one rollup to |nodes| rows. The
    * teleport share is floored; the leaked remainder is part of the
    * definition. */
  def pageRank(pairs: DataFrame): DataFrame = {
    val (iters, dampingPct) = (3, 85)
    val M = Graph.MassScale
    val fwd = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val n = deg.agg(count(lit(1)).as("n_nodes"))
    val base = expr(s"($M * ${100 - dampingPct} DIV 100) DIV n_nodes")
    val init = deg.crossJoin(broadcast(n))
      .select(col("src").as("id"), col("outdeg"), col("n_nodes"),
        expr(s"$M DIV n_nodes").as("m"))
    val after = (1 to iters).foldLeft(init) { (cur, _) =>
      val contrib = edges.join(cur, edges("src") === cur("id"))
        .select(col("dst"), expr("m DIV outdeg").as("c"))
      val summed = contrib.groupBy(col("dst")).agg(sum(col("c")).as("s"))
      // every node has degree >= 1 (it came from an edge), so the inner
      // join back to the degree frame loses nobody
      cur.join(summed, cur("id") === summed("dst"))
        .select(col("id"), col("outdeg"), col("n_nodes"),
          (base + expr(s"(s * $dampingPct) DIV 100")).as("m"))
    }
    after.select(col("id").as("doc_id"), col("outdeg").as("degree"),
        col("m").as("pr_micro"),
        (col("m").cast("double") / M.toDouble).as("pagerank"))
      .orderBy(col("pr_micro").desc, col("doc_id"))
  }

  /** Per-node triangle count and local clustering in integer ppm
    * (2·tri·10⁶ DIV deg·(deg−1), zero for degree-1 nodes), by the direct
    * Schank–Wagner census of the member graph (Graph.triangleTriples). */
  def triangles(pairs: DataFrame): DataFrame = {
    val fwd = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("degree"))
      .select(col("src").as("node"), col("degree"))
    val corners = Graph.triangleTriples(fwd, deg)
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
    deg.join(corners, Seq("node"), "left")
      .select(col("node").as("doc_id"), col("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_triangles"),
        when(col("degree") > 1,
          expr("(coalesce(n_tri, 0) * 2000000) DIV (degree * (degree - 1))"))
          .otherwise(lit(0L)).as("lcc_ppm"))
      .orderBy(col("doc_id"))
  }

  /** The maximal true-twin partition of a small simple graph: u and v
    * share a class iff their CLOSED neighbourhoods (neighbours + self) are
    * equal, i.e. they are adjacent and share every other neighbour. Maps
    * every node to its class's smallest id. */
  def twinClasses(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (v, es) => v -> (es.map(_._2).toSet + v) }
    adj.toSeq.groupBy(_._2).values
      .flatMap { cls => val rep = cls.map(_._1).min; cls.map(_._1 -> rep) }
      .toMap
  }

  /** (qpairs, membership) for `edges` under the partition `rep` (node →
    * class representative; nodes it omits are singletons), in the form the
    * canonical factorization hands Graph.quotientFrames: qpairs
    * (doc_a < doc_b) between distinct representatives, each class pair
    * once; membership (doc_id, rep, r) for every node of the graph plus
    * `extra` nodes that are on no edge (singletons the quotient must drop).
    * Sound only for a partition into cliques with uniform external
    * adjacency, which the caller guarantees. */
  def quotientOf(spark: SparkSession, edges: Seq[(Long, Long)],
                 rep: Map[Long, Long], extra: Seq[Long] = Nil)
      : (DataFrame, DataFrame) = {
    import spark.implicits._
    def r(v: Long) = rep.getOrElse(v, v)
    val nodes = (edges.flatMap { case (a, b) => Seq(a, b) } ++ extra).distinct
    val size = nodes.groupBy(r).map { case (k, vs) => k -> vs.size.toLong }
    val qpairs = edges.map { case (a, b) => (r(a), r(b)) }
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    (qpairs.toDF("doc_a", "doc_b"),
      nodes.map(v => (v, r(v), size(r(v)))).toDF("doc_id", "rep", "r"))
  }
}
