package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components via min-label propagation with pointer
  * doubling — the shared fixpoint behind dedup_clusters /
  * pipeline_dedup_corpus (text near-dup graphs) and pipeline_mm_dedup
  * (perceptual-hash graphs). Extracted round 14 so the mm survivor
  * pipeline provably rides the identical schedule the text CC keys
  * have been oracle-green on since round 8.
  *
  * Scale design (unchanged from the TextPipeline original):
  *
  * - Both edge directions come from ONE pass over the pair frame: a
  *   union of the pair query with its swap re-executes the whole
  *   upstream subtree per branch (measured ~2× the pair-join cost);
  *   explode emits (a,b) and (b,a) from each row instead.
  * - Per-round state is [[Fixpoint.checkpoint]]ed (lineage truncation,
  *   one job per round, and the accurate size stats that let Catalyst
  *   auto-broadcast the small label table into the next round's joins).
  * - Labels only ever DECREASE, so the label sum is strictly monotone
  *   until the fixpoint — convergence is one tiny aggregate per round
  *   instead of a join-and-count against the previous round.
  * - One pointer-doubling composition per round (label(label)) halves
  *   chain depth: 30 rounds covers component diameter 2^30.
  */
object Cc {

  /** Min-label connected components over an UNDIRECTED pair frame
    * (columns id_a, id_b; each pair listed once). Returns a PERSISTED
    * (id, label) frame covering every node that appears in some pair
    * — label = min node id reachable. Isolated nodes (no pairs) are
    * absent; callers that need them coalesce to the node's own id.
    * Throws if propagation has not converged after 30 rounds.
    */
  def minLabel(pairs: DataFrame, what: String): DataFrame = {
    val edges = pairs
      .select(explode(array(
        struct(col("id_a"), col("id_b")),
        struct(col("id_b").as("id_a"), col("id_a").as("id_b")))).as("e"))
      .select(col("e.id_a").as("id_a"), col("e.id_b").as("id_b"))
      .persist() // joined every propagation round
    // Init already performs round 1 (min of self and direct
    // neighbors) — the groupBy that would otherwise just distinct the
    // node ids computes the neighbor min for free, saving one full
    // propagation round of fixed job overhead.
    val init = Fixpoint.checkpoint(edges.groupBy(col("id_a").as("id"))
      .agg(min(col("id_b")).as("nmin"))
      .select(col("id"), least(col("id"), col("nmin")).as("label")))
    // coalesce: sum over zero rows is NULL — an input with no pairs
    // must yield an empty result, not an NPE.
    def labelSum(df: DataFrame): Long =
      df.agg(coalesce(sum(col("label")), lit(0L))).head().getLong(0)
    // State: (labels, label sum, sum unchanged by the last round).
    val ((labels, _, _), _) = Fixpoint.run(s"$what: min-label propagation",
        30, "emission would be a partial (split) clustering")(
        (init, labelSum(init), false))(_._3, _._1.unpersist()) {
      case (labels, prevSum, _) =>
        val viaEdges = labels
          .join(edges, col("id") === col("id_a"))
          .select(col("id_b").as("id"), col("label"))
        // label(label): labels always point at real node ids (min over
        // ids in the component so far), so the self-join is total.
        val jmap = labels.select(col("id").as("jid"), col("label").as("jlabel"))
        val viaJump = labels.join(jmap, col("label") === col("jid"))
          .select(col("id"), col("jlabel").as("label"))
        val next = Fixpoint.checkpoint(viaEdges.unionByName(viaJump)
          .unionByName(labels)
          .groupBy("id")
          .agg(min(col("label")).as("label")))
        val s2 = labelSum(next) // materializes the cache → stats for k+1
        (next, s2, s2 == prevSum)
    }
    edges.unpersist()
    labels
  }
}
