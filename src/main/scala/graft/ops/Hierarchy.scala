package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hierarchy flattening: resolve every node of a parent-pointer forest
  * to its root, with depth — the BOM-explosion / org-rollup primitive.
  *
  * Scale design: POINTER DOUBLING, not parent-at-a-time walking. Each
  * round joins the current known-ancestor pointer onto itself, so the
  * resolved distance doubles per round: a depth-D forest settles in
  * ⌈log₂ D⌉ equi-joins instead of D. A 30-level bill of materials is
  * 5 shuffles; walking it is 30. State per node is one (ancestor,
  * depth) pair — nothing accumulates paths in memory.
  */
object Hierarchy {

  /** `edges`: (id, parent) with parent NULL for roots. Returns
    * (id, root, depth) covering every id (roots at depth 0). Each
    * round's state is a local checkpoint materialized by the round's
    * count, so every round plans from a leaf and nothing is left in
    * the CacheManager. Throws if `maxIters` pointer-doubling rounds
    * don't settle — that means depth > 2^maxIters or a CYCLE; both are
    * data bugs this op must surface, not loop on. */
  def flattenToRoot(edges: DataFrame, maxIters: Int = 20): DataFrame = {
    // contract: every non-null parent is itself a node — a dangling
    // pointer would otherwise null out silently through the left join
    val dangling = edges.filter(col("parent").isNotNull)
      .join(edges.select(col("id").as("p")), col("parent") === col("p"), "left_anti")
      .count()
    require(dangling == 0,
      s"flattenToRoot: $dangling parent pointer(s) reference missing nodes")
    // state: anc = furthest known ancestor, d = verified distance to it,
    // done = anc is a root
    var state = edges.select(col("id"),
        when(col("parent").isNull, col("id")).otherwise(col("parent")).as("anc"),
        when(col("parent").isNull, lit(0L)).otherwise(lit(1L)).as("d"),
        col("parent").isNull.as("done"))
      .localCheckpoint(eager = false)
    var it = 0
    var remaining = state.filter(!col("done")).count()
    while (remaining > 0 && it < maxIters) {
      val ptr = state.select(col("id").as("p_id"), col("anc").as("p_anc"),
        col("d").as("p_d"), col("done").as("p_done"))
      state = state.join(ptr, state("anc") === ptr("p_id"), "left")
        .select(col("id"),
          when(col("done"), col("anc")).otherwise(col("p_anc")).as("anc"),
          when(col("done"), col("d")).otherwise(col("d") + col("p_d")).as("d"),
          (col("done") || col("p_done")).as("done"))
        .localCheckpoint(eager = false)
      remaining = state.filter(!col("done")).count()
      it += 1
    }
    if (remaining > 0)
      throw new IllegalStateException(
        s"flattenToRoot did not settle in $maxIters doubling rounds " +
          s"($remaining nodes unresolved) — depth exceeds 2^$maxIters or the parent graph has a cycle")
    state.select(col("id"), col("anc").as("root"), col("d").as("depth"))
  }

  /** Subtree rollup: per root, descendant count, max depth, and an
    * exact fixed-point sum of `valueX100` (cents). */
  def rollupByRoot(flat: DataFrame, values: DataFrame, idCol: String,
      valueX100: String): DataFrame =
    flat.join(values, flat("id") === values(idCol))
      .groupBy("root")
      .agg(count(lit(1)).as("n_nodes"), max(col("depth")).as("max_depth"),
        sum(col(valueX100)).as("sum_x100"))
}
