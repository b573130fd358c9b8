package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.queries.joinPacked

/** Graph census over a duplicate-pair graph in its canonical twin-class
  * form — the capability class beyond the connected-components
  * contraction in [[Dedup.duplicateClusters]]: fixed-point PageRank, the
  * degree histogram and the per-node triangle census, each a bounded
  * number of join + partial-aggregate rounds over the QUOTIENT graph
  * (one node per exact-duplicate class), never a driver-side loop over
  * collected data and never the member-level edge list, whose size grows
  * r² per r-clone class.
  *
  * Cross-engine determinism: PageRank scores are carried as INTEGER
  * micro-mass (units of 1e-12 of total rank mass) and every per-iteration
  * operation is integer arithmetic — floor division for the per-edge
  * share, an exact integer sum, integer damping (×85 ÷ 100). There is no
  * floating-point rounding anywhere, so there is no `round(double)`
  * half-boundary for two engines to disagree on (double rounding at 10 dp
  * over quantized inputs DOES land on .5 boundaries in practice — 13 of
  * 3 600 nodes at sf0.1 before this formulation). All operands stay
  * positive, where Spark's `DIV` and DuckDB's `//` agree exactly; total
  * mass 1e12 bounds every intermediate far below 2^63.
  *
  * INPUT PRECONDITION (all entry points): the quotient pair list is
  * SIMPLE — each unordered class pair appears exactly once, in one
  * orientation, no self loops — and each class's members are pairwise
  * adjacent in the expanded graph and share one external neighbourhood
  * (met by exact-dup token-set classes, the in-repo producer).
  */
object Graph {

  /** Micro-mass scale: 1.0 of rank mass = 1e12 units. */
  val MassScale = 1000000000000L

  /** Fingerprints the staged quotient-graph layout (qfwd + participating
    * membership as derived by [[quotientFrames]] from the canonical pair
    * factorization) —
    * the graft.queries convention: the tag lives next to the code it
    * fingerprints. Bump the `grquotient_vN` prefix with any change to
    * [[participating]] or the quotient edge derivation; the UPSTREAM
    * Dedup.PairStageTag is composed into the tag so a canon-pair change
    * (e.g. the round-13 md5→sha2-256 fingerprint bump) can never serve a
    * stale quotient to gr1/gr2/gr3 in a warm-stage run outside
    * Verify/Bench's startup wipe. */
  val QuotientStageTag = s"grquotient_v1_${Dedup.PairStageTag}"

  /** Schank–Wagner triple enumeration ("compact forward"; the standard
    * distributed formulation, cf. Cohen 2009 "Graph twiddling in a
    * MapReduce world"): every edge is oriented from its lower-(degree, id)
    * endpoint to the higher one, wedges are enumerated ONLY at the
    * lowest-ordered corner, and the closing edge is probed in the same
    * oriented table — every triangle of the undirected pair list `fwd`
    * appears EXACTLY once as an (a, b, c) row, and the wedge count is
    * bounded by O(E^1.5) regardless of skew (a degree-d hub generates no
    * wedges beyond its oriented out-degree ≤ √E, where the naive per-node
    * join would pay d²). `deg` is the symmetrized degree table — passed in
    * so callers share one computation. */
  private[graft] def triangleTriples(fwd: DataFrame, deg: DataFrame): DataFrame = {
    // orient by (degree, id): lower endpoint -> higher endpoint
    val dd = fwd
      .join(deg.select(col("node").as("sn"), col("degree").as("dsrc")),
        col("src") === col("sn"))
      .join(deg.select(col("node").as("dn"), col("degree").as("ddst")),
        col("dst") === col("dn"))
      .select(col("src"), col("dst"), col("dsrc"), col("ddst"))
    val keepAsIs = col("dsrc") < col("ddst") ||
      (col("dsrc") === col("ddst") && col("src") < col("dst"))
    val oriented = dd.select(
      when(keepAsIs, col("src")).otherwise(col("dst")).as("lo"),
      when(keepAsIs, col("dst")).otherwise(col("src")).as("hi"),
      when(keepAsIs, col("ddst")).otherwise(col("dsrc")).as("dhi"))
    // wedges at the lowest corner: two oriented out-edges, ordered so each
    // unordered {b, c} appears once; the closing edge is oriented b -> c
    // by construction (orientation is a total order)
    val e1 = oriented.select(col("lo").as("a"), col("hi").as("b"),
      col("dhi").as("db"))
    val e2 = oriented.select(col("lo").as("a2"), col("hi").as("c"),
      col("dhi").as("dc"))
    val wedge = e1.join(e2, col("a") === col("a2") &&
      (col("db") < col("dc") ||
        (col("db") === col("dc") && col("b") < col("c"))))
    val closing = oriented.select(col("lo").as("b"), col("hi").as("c"))
    joinPacked(wedge, closing, Seq("b", "c"), "inner")
      .select(col("a"), col("b"), col("c"))
  }

  /** The (quotient edge list, participating membership) pair the three
    * twin-class consumers share — derived once from the canonical pair
    * factorization, then typically STAGED to parquet
    * (graft.queries.TextOps.stagedQuotient) so each consumer prices warm:
    * `qfwd` is (src, dst) between distinct class representatives (each
    * unordered class pair once), `members` is (node, uid, r) restricted to
    * classes present in the expanded graph. Both are materialized — each
    * feeds several joins in every consumer. */
  def quotientFrames(qpairs: DataFrame,
                     membership: DataFrame): (DataFrame, DataFrame) = {
    val qfwd = Dedup.materialize(
      qpairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
    (qfwd, Dedup.materialize(participating(qfwd, membership)))
  }

  /** Fixed-point PageRank of the expanded member graph after a FIXED
    * number of iterations, iterating over QUOTIENT edges only (the
    * [[quotientFrames]] contract; both inputs materialization-backed).
    * `pagerank` is the micro-mass rendered in [0, 1] (an exact double:
    * micro < 2^53); on a duplicate-pair graph it ranks the hub documents
    * of boilerplate neighbourhoods. Twins provably carry identical mass at
    * every iteration (same init, same degree, same neighbour multiset), so
    * one quotient row per class suffices: the member-level inbound sum
    * Σ m_u DIV outdeg(u) factors into (r_g − 1)·c_g + Σ_{h∈N(g)} r_h·c_h
    * with c = m DIV outdeg — every operation still integer, so no new
    * rounding surface. Fixed iterations keep the result
    * oracle-expressible (unrolled CTEs). */
  def pageRankFromQuotient(qfwd: DataFrame, members: DataFrame): DataFrame = {
    val (iters, dampingPct) = (3, 85)
    val groups = members.select(col("uid"), col("r")).distinct()
    val qedges = qfwd.union(qfwd.select(col("dst").as("src"), col("src").as("dst")))
    val degs = classDegrees(qedges, groups)
    val n = degs.agg(sum(col("r")).as("n_nodes"))
    val base = expr(s"($MassScale * ${100 - dampingPct} DIV 100) DIV n_nodes")
    val init = degs.crossJoin(broadcast(n))
      .select(col("uid"), col("r"), col("outdeg"), col("n_nodes"),
        expr(s"$MassScale DIV n_nodes").as("m"))
    val after = (1 to iters).foldLeft(init) { (cur0, _) =>
      // lineage barrier per round (a ≤|classes|-row localCheckpoint): the
      // intra term and the neighbor sum both read `cur`, and without the
      // barrier that self-consumption re-executes the previous rounds'
      // joins once per consumer per round — the duplicateClusters
      // discipline applied to the score table.
      val cur = Dedup.materialize(cur0)
      val c = cur.select(col("uid").as("cu"), col("r").as("cr"),
        expr("m DIV outdeg").as("cm"))
      val nbrSum = qedges.join(c, qedges("src") === col("cu"))
        .groupBy(col("dst").as("uid"))
        .agg(sum(col("cr") * col("cm")).as("sc"))
      // left joins: an isolated multi-member class receives only its
      // intra-clique term; a singleton class in pairs only its neighbors'
      cur.join(c, cur("uid") === col("cu"))
        .join(nbrSum, Seq("uid"), "left")
        .select(col("uid"), col("r"), col("outdeg"), col("n_nodes"),
          (base + expr(
            s"(((r - 1) * cm + coalesce(sc, 0)) * $dampingPct) DIV 100"))
            .as("m"))
    }
    after.join(members.select(col("uid"), col("node").as("doc_id")), "uid")
      .select(col("doc_id"), col("outdeg").as("degree"),
        col("m").as("pr_micro"),
        (col("m").cast("double") / MassScale.toDouble).as("pagerank"))
      .orderBy(col("pr_micro").desc, col("doc_id"))
  }

  /** Degree histogram of the expanded member graph over a pre-derived
    * quotient (the [[quotientFrames]] contract; no materialization
    * requirement, each input is consumed once). Closed form: every member
    * of class g has degree (r_g − 1) + Σ_{h∈N(g)} r_h, so each class
    * contributes r nodes at one degree — output bounded by |distinct
    * degrees|. */
  def degreeHistFromQuotient(qfwd: DataFrame, members: DataFrame): DataFrame = {
    val groups = members.select(col("uid"), col("r")).distinct()
    val qedges = qfwd.union(qfwd.select(col("dst").as("src"), col("src").as("dst")))
    classDegrees(qedges, groups)
      .groupBy(col("outdeg").as("degree"))
      .agg(sum(col("r")).as("n_nodes"))
      .orderBy(col("degree"))
  }

  /** (node, uid, r) rows of `membership` (doc_id, rep, r) restricted to
    * classes present in the expanded graph: classes on a quotient edge,
    * plus multi-member classes (whose internal clique edges alone put
    * their members in the graph). */
  private def participating(qfwd: DataFrame,
                            membership: DataFrame): DataFrame = {
    val cls = membership.select(col("doc_id").as("node"),
      col("rep").as("uid"), col("r"))
    val inPairs = qfwd.select(col("src").as("uid"))
      .union(qfwd.select(col("dst").as("uid"))).distinct()
    cls.join(inPairs.withColumn("inp", lit(1)), Seq("uid"), "left")
      .filter(col("r") >= 2 || col("inp").isNotNull)
      .select(col("node"), col("uid"), col("r"))
  }

  /** Per-class expanded degree (uid, r, outdeg): every member of class g
    * has (r_g − 1) clique neighbors plus all members of adjacent classes. */
  private def classDegrees(qedges: DataFrame, groups: DataFrame): DataFrame = {
    val sNbr = qedges
      .join(groups.select(col("uid").as("dst"), col("r").as("rh")), "dst")
      .groupBy(col("src").as("uid")).agg(sum(col("rh")).as("s_nbr"))
    groups.join(sNbr, Seq("uid"), "left")
      .select(col("uid"), col("r"),
        (col("r") - 1 + coalesce(col("s_nbr"), lit(0L))).as("outdeg"))
  }

  /** Per-node triangle count + local clustering coefficient of the
    * expanded member graph over a pre-derived (and typically pre-staged)
    * quotient — the cohesion audit next to PageRank: a near-dup
    * neighbourhood that is also a near-CLIQUE (clustering ~1) is one
    * boilerplate template, while a hub with low clustering stitches
    * unrelated documents. Both inputs must be materialization-backed
    * (parquet/checkpoint): each is consumed by several joins.
    *
    * Exact duplicates produce TWIN nodes: each class is a clique whose
    * members share one external neighbourhood, so a member-level wedge
    * census pays r² per r-clone class in every term (the factor-100 audit
    * measured the pair graph's edges growing at output exponent 1.94 once
    * exact-dup quadruples appeared, and the member-level census exhausted
    * 76 GB of shuffle spill). Instead:
    *
    *  1. CENSUS on the quotient `qfwd` ([[triangleTriples]]), weighted by
    *     class sizes.
    *  2. EXPAND per member row of `members` (node, uid, r), in closed form.
    *     For v in class g (size r, neighbour classes N(g) with sizes r_h):
    *       degree(v)  = (r−1) + Σ r_h
    *       tri(v)     = C(r−1,2)                  (both others are clones)
    *                  + (r−1)·Σ r_h               (one clone, one neighbour)
    *                  + Σ C(r_h,2)                (two in one neighbour class
    *                                               — a class is a clique)
    *                  + Σ_{g∈{a,b,c}} r_h·r_k     (two in distinct classes:
    *                                               the weighted quotient
    *                                               triangles through g)
    *     Every term is exact integer arithmetic. The formulas hold for ANY
    *     partition into clique-classes with uniform external adjacency,
    *     maximal or not (the all-singleton partition is the graph);
    *     equality with the member-level census is pinned in OpsSpec on
    *     twin-rich, twin-free and non-maximal partitions.
    *
    * lcc is reported in integer ppm: 2·tri·10⁶ DIV deg·(deg−1) (floor
    * division agrees exactly across engines; zero for degree-1 nodes).
    * The quotient's edge count shrinks r̄²-fold on duplicate-dense
    * corpora, so the wedge join's E^1.5 drops by r̄³. */
  def trianglesFromQuotient(qfwd: DataFrame, members: DataFrame): DataFrame = {
    val groups = members.select(col("uid"), col("r")).distinct()
    val qedges = qfwd.union(qfwd.select(col("dst").as("src"), col("src").as("dst")))
    val qdeg = qedges.groupBy(col("src")).agg(count(lit(1)).as("degree"))
      .select(col("src").as("node"), col("degree"))
    // per-class neighbor aggregates: Σ r_h and Σ C(r_h, 2)
    val nbrAgg = qedges
      .join(groups.select(col("uid").as("dst"), col("r").as("rh")), "dst")
      .groupBy(col("src").as("uid"))
      .agg(sum(col("rh")).as("s_nbr"),
        sum(expr("rh * (rh - 1) DIV 2")).as("c2_nbr"))
    // weighted quotient triangles: corner g of {g,h,k} collects r_h·r_k
    val tw = triangleTriples(qfwd, qdeg)
      .join(groups.select(col("uid").as("a"), col("r").as("ra")), "a")
      .join(groups.select(col("uid").as("b"), col("r").as("rb")), "b")
      .join(groups.select(col("uid").as("c"), col("r").as("rc")), "c")
      .select(explode(array(
        struct(col("a").as("uid"), (col("rb") * col("rc")).as("w")),
        struct(col("b").as("uid"), (col("ra") * col("rc")).as("w")),
        struct(col("c").as("uid"), (col("ra") * col("rb")).as("w")))).as("x"))
      .select(col("x.uid").as("uid"), col("x.w").as("w"))
      .groupBy(col("uid")).agg(sum(col("w")).as("tw"))
    members
      .join(nbrAgg, Seq("uid"), "left")
      .join(tw, Seq("uid"), "left")
      .select(col("node").as("doc_id"),
        (col("r") - 1 + coalesce(col("s_nbr"), lit(0L))).as("degree"),
        (expr("(r - 1) * (r - 2) DIV 2") +
          (col("r") - 1) * coalesce(col("s_nbr"), lit(0L)) +
          coalesce(col("c2_nbr"), lit(0L)) +
          coalesce(col("tw"), lit(0L))).as("n_triangles"))
      .select(col("doc_id"), col("degree"), col("n_triangles"),
        when(col("degree") > 1,
          expr("(n_triangles * 2000000) DIV (degree * (degree - 1))"))
          .otherwise(lit(0L)).as("lcc_ppm"))
      .orderBy(col("doc_id"))
  }
}
