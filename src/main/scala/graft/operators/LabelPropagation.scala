package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous label-propagation community detection (Raghavan et al.)
  * made deterministic: each node adopts the most frequent label among
  * its out-neighbors, ties broken by SMALLEST label; a node with no
  * out-neighbor keeps its label. The per-node argmax is window-free —
  * `max(struct(count, ~label))` in one aggregate — so no per-node sort
  * ever happens; candidate (node, label) pairs per iteration are
  * bounded by the edge count. The loop, layout and regime are
  * [[Propagate]]'s: labels flow against the edge direction, so the
  * edges are handed over reversed.
  *
  * Convergence: a deterministic synchronous step applied to an
  * unchanged label vector repeats it forever, so the loop stops at the
  * first iteration that changes no label — the output is identical to
  * running the remaining iterations.
  */
object LabelPropagation {

  /** @param edges directed edge list with `src`/`dst`; pass both
    *              directions for an undirected graph. Duplicate edges
    *              are deliberately KEPT — multiplicity weights the
    *              neighbor vote (weighted LPA); pass a distinct edge
    *              list for the unweighted form.
    * @return one row per node: (node, label). */
  def run(edges: DataFrame, iters: Int): DataFrame =
    runWithStats(edges, iters)._1

  /** [[run]] plus the number of iterations actually executed. */
  def runWithStats(edges: DataFrame, maxIters: Int): (DataFrame, Int) =
    // node set = src ∪ dst: seeding from one side alone drops nodes on
    // a directed input, despite the one-row-per-node contract
    Propagate.run(edges.select(col("dst").as("src"), col("src").as("dst")),
        maxIters, _.select(explode(array(col("src"), col("dst"))).as("node"))
          .distinct().withColumn("label", col("node")))(_.nodes) { (g, labels) =>
      // each node's own label joins the vote with count 0: it wins only
      // when no neighbor votes. Smallest-label tie-break WITHOUT
      // negation: -label overflows at Long.MinValue; ~x = -x-1 reverses
      // the order with no overflow.
      val pick = bitwise_not(col("m.nl"))
      g.gather(labels)
        .groupBy(col("dst").as("node"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .unionByName(labels.withColumn("cnt", lit(0L)))
        .groupBy("node")
        .agg(max(struct(col("cnt"), bitwise_not(col("label")).as("nl"))).as("m"),
             max(when(col("cnt") === 0, col("label"))).as("own"))
        .select(col("node"), pick.as("label"),
                (!(pick <=> col("own"))).as(Propagate.Moved))
    }
}
