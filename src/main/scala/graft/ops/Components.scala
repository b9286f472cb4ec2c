package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an edge list by iterative min-label
  * propagation — the clustering step of a near-duplicate dedup pipeline
  * (LSH pairs → components → keep one doc per component). The reference
  * pipeline stops at pair level; a 100 TB corpus needs the transitive
  * closure or chained near-dups (A~B, B~C) survive dedup.
  *
  * Algorithm: every vertex starts labeled with itself; each round every
  * vertex takes the min label among itself and its neighbors, then
  * FOLLOWS its label one hop through the label table (pointer jumping /
  * path compression — `lbl := lbl(lbl)`, sound because labels are
  * min-monotone: `lbl(v) ≤ v` always, so the jump only lowers labels
  * toward the component min). Plain neighbor-min alone needs
  * diameter-many rounds — fine for star/clique near-dup clusters, but
  * the r8 sorted-neighborhood CHAIN candidates deliberately produce
  * path-shaped clusters (a K-member dup family chains at step ≤3, so
  * diameter ~K/3: measured at 100× rows, 488-member families did NOT
  * converge in 60 neighbor-min rounds). With the jump each round
  * roughly doubles the compressed path, so rounds ≈ log₂(diameter):
  * the same 100× corpus converges in 9. `localCheckpoint` truncates
  * the lineage so the plan stays flat across iterations (on a cluster,
  * prefer reliable `checkpoint` — same call shape, [[Fixpoint.cut]]).
  * The convergence probe is a slim monotone label-sum aggregate.
  */
object Components {

  /** Run audit: did propagation converge inside `maxIter`, and how big
    * did the components get? A mega-component (everything near-dups
    * everything — one boilerplate template across the corpus) or a
    * diameter larger than `maxIter` would otherwise burn every round
    * silently and return labels that LOOK converged. */
  final case class CcReport(iterations: Int, converged: Boolean,
                            nComponents: Long, maxComponentSize: Long)

  /** @param vertices single column `id`
    * @param edges    columns `src`,`dst`; undirected (either orientation)
    * @return columns `id`, `lbl` — `lbl` is the min vertex id of the
    *         component, deterministic for any edge orientation/order
    */
  def connectedComponents(vertices: DataFrame, edges: DataFrame, maxIter: Int = 25): DataFrame =
    propagate(vertices, edges, maxIter)._1

  /** [[connectedComponents]] plus its [[CcReport]] — the component-size
    * aggregate is one slim (lbl, count) pass over the final labels. */
  def connectedComponentsAudited(vertices: DataFrame, edges: DataFrame,
                                 maxIter: Int = 25): (DataFrame, CcReport) = {
    val (labels, iter, converged) = propagate(vertices, edges, maxIter)
    val row = labels.groupBy("lbl").agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("nc"), coalesce(max("n"), lit(0L)).as("mx")).head()
    (labels, CcReport(iter, converged, row.getLong(0), row.getLong(1)))
  }

  private def propagate(vertices: DataFrame, edges: DataFrame,
                        maxIter: Int): (DataFrame, Int, Boolean) = {
    // shared lineage cut: reliable checkpoint on a cluster, local otherwise
    def cut(df: DataFrame): DataFrame = Fixpoint.cut(df)

    // symmetrize once: propagation below only follows src -> dst.
    // PRE-PARTITIONED on src, and checkpointing preserves the physical
    // partitioning (LogicalRDD carries it): every round's edge⋈labels
    // join then finds BOTH sides already clustered on the join key —
    // labels come out of the previous round's id-keyed aggregate — so
    // the per-iteration plan pays ONE exchange (the union's re-group),
    // not three. Measured at sf0.1: the components stage of the labels
    // build dropped ~25% (5.9 -> 4.5 s).
    // Partitioning deliberately NOT pinned to an explicit count (r11 A/B,
    // measured): with the AQE 512-start config the loop's shuffles are
    // sized by BYTES, which beats the zero-exchange co-partitioned loop
    // as soon as the edge frame outgrows core-count partitions — at sf100
    // (303M symmetrized chain edges) pinning every loop frame to the
    // session's 32 made the labels build 328-364 s vs 177 s AQE-sized,
    // and even at sf10 AQE won (21.6 vs 29.3 s). The price is that the
    // static frames may re-exchange per round on SMALL graphs — a bounded
    // constant there (a caller with a known-tiny graph should pin its own
    // count, as q131 does).
    val sym = cut(edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("src")))

    var labels = cut(vertices.select(col("id"), col("id").as("lbl"))
      .repartition(col("id")))
    // convergence probe WITHOUT a join: each round takes the min of a
    // vertex's own and neighbors' labels, so every label is monotonically
    // non-increasing — the exact decimal SUM of labels is unchanged iff
    // no label changed. One slim aggregate over the just-checkpointed
    // frame replaces the labels⋈labels change-detection join per round.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("lbl").cast("decimal(38,0)"))).head()
        .getDecimal(0) match { case null => java.math.BigDecimal.ZERO; case d => d }
    var prevSum = labelSum(labels)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val prop = sym.join(labels, sym("src") === labels("id"))
        .select(sym("dst").as("id"), col("lbl"))
      val nm = labels.unionByName(prop)
        .groupBy("id").agg(min("lbl").as("lbl"))
      // pointer jump: lbl := lbl(lbl). Every label IS a vertex id, so
      // the left join always matches (coalesce guards the invariant).
      // Both join branches are the same aggregate subtree — the
      // exchange is computed once and reused.
      val next = cut(nm
        .join(nm.select(col("id").as("lbl"), col("lbl").as("lbl2")),
          Seq("lbl"), "left")
        .select(col("id"), coalesce(col("lbl2"), col("lbl")).as("lbl")))
      val nextSum = labelSum(next)
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      labels = next
      iter += 1
    }
    (labels, iter, converged)
  }
}
