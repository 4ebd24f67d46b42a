package graft.operators.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed triangle counting via degree-ordered orientation.
  *
  * The naive formulation (join edges on a shared endpoint, check the
  * closing edge) enumerates every wedge — Σ deg(v)², which a single hub
  * vertex turns quadratic. The standard scalable fix (Schank's thesis;
  * Suri & Vassilvitskii's MapReduce formulation) orients each undirected
  * edge from its lower-(degree, id) endpoint to its higher one: the
  * orientation is acyclic, every vertex's OUT-degree is O(√m), so the
  * wedge join is bounded by Σ degout(v)² = O(m^1.5) regardless of skew —
  * the hub's million edges become in-edges, and the million wedges it
  * would anchor are charged to its (low-degree) neighbors instead.
  *
  * Every triangle {a,b,c} has exactly one acyclic labeling a→b, a→c,
  * b→c under the orientation, so counting (wedge at a) ⋈ (closing edge
  * b→c) counts each triangle exactly once — no post-hoc division by
  * permutation count, which is what keeps the result integer-exact and
  * oracle-checkable.
  *
  * Plan shape at 100 TB: one distinct over canonical edges, one degree
  * aggregation (map-side combined), two equi-joins to attach endpoint
  * degrees, one wedge self-join on the oriented source, one closing-edge
  * equi-join — all key-partitioned shuffles, no broadcast of anything
  * data-sized, no driver materialization.
  */
object Triangles {

  /** Per-vertex triangle participation counts over the undirected graph
    * spanned by (srcCol, dstCol) edge rows. Self-loops and duplicate /
    * reverse-duplicate edges are dropped first (triangles are simple-
    * graph objects). Output: (node, n_tri) for every vertex in at least
    * one triangle.
    */
  /** @param edgesHint caller-known edge count (−1 = unknown): when
    *  given, the join/aggregation partitioning is derived from it via
    *  [[graft.operators.LoopScale]] instead of the session default —
    *  a gate-scale graph (thousands of edges) then runs its five
    *  shuffles at 1-2 partitions instead of one near-empty partition
    *  per core, while a billion-edge graph keeps full parallelism. The
    *  returned frame stays bound to that down-sized session (it is NOT
    *  rebound to the caller's): joins and aggregations a caller builds
    *  on the result also run at the derived partition count. */
  def perVertex(edges: DataFrame, srcCol: String, dstCol: String,
      edgesHint: Long = -1L): DataFrame = {
    val sized =
      if (edgesHint < 0) edges
      else graft.operators.LoopScale.rebind(edges,
        graft.operators.LoopScale.sessionFor(edges.sparkSession, edgesHint))
    // canonical undirected edge set: unordered pair as (u < v), deduped
    val und = sized
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
    val deg = und.select(col("u").as("n"))
      .unionAll(und.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    // orient low-(degree, id) → high-(degree, id); ties cannot happen on
    // the id because und has u < v
    val fwd = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = und
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
      .select(when(fwd, col("u")).otherwise(col("v")).as("s"),
        when(fwd, col("v")).otherwise(col("u")).as("t"))
    // wedges anchored at the oriented source; t1 < t2 picks each
    // unordered out-pair once, and the closing edge lookup is against
    // the canonical (u < v) table so direction is irrelevant
    val tri = oriented.as("o1")
      .join(oriented.as("o2"),
        col("o1.s") === col("o2.s") && col("o1.t") < col("o2.t"))
      .select(col("o1.s").as("a"), col("o1.t").as("b"), col("o2.t").as("c"))
      .join(und, col("b") === col("u") && col("c") === col("v"), "left_semi")
    // NOT rebound to the caller's session: unlike the checkpointing loop
    // operators, this plan is fully lazy — rebinding would re-analyze
    // the whole tree under the caller's (cluster-sized) shuffle conf and
    // undo the sizing. The result is the aggregated per-vertex counts
    // (|V|-bounded), so downstream consumers lose nothing.
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
  }
}
