package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed PageRank by synchronous power iteration — the canonical
  * iterative-graph workload a training-data pipeline runs over link /
  * co-occurrence / interaction graphs (page importance for crawl
  * prioritization, node weights for sampling curricula). One round is
  * the textbook shape: each edge carries r(src)/deg(src) to `dst`, one
  * sum per node; the loop, layout and regime are [[Propagate]]'s.
  *
  * Dangling nodes (out-degree 0) have their rank mass redistributed
  * uniformly, the standard correction; on symmetric (undirected)
  * graphs the dangling set is empty and the correction term is an
  * exact IEEE no-op (`c + 0.0 == c`), which keeps results bit-aligned
  * with oracle engines that skip the term.
  *
  * Determinism: per-node contribution sums are order-dependent in the
  * last ulp (as with every distributed double sum) — callers that
  * hash-compare results across engines must round through
  * [[graft.functions.CrossEngine.roundHalfUp]]; 5 iterations keep the
  * drift ≥7 orders of magnitude below a 1e-6 rounding step on scaled
  * (×V) ranks.
  */
object PageRank {
  /** @param edges directed edge list with `src`/`dst` columns (any
    *              integral type; duplicates collapse). For an
    *              undirected graph, pass both directions.
    * @return one row per node: (node: Long, r: Double) after `iters`
    *         iterations of r' = (1-d)/V + d·(Σ_in r/deg + dangling/V).
    */
  def run(edges: DataFrame, iters: Int, damping: Double = 0.85): DataFrame =
    runWithStats(edges, iters, damping)._1

  /** [[run]] with optional convergence-based early exit and the
    * executed-iteration count. `tolScaled` is a threshold on ×V-scaled
    * ranks (≈1.0 at the uniform start), so the same setting means the
    * same convergence quality at any graph size: the loop stops after
    * the first iteration where no rank moved by more than
    * `tolScaled / |V|` (max |Δr| ≤ tolScaled/|V|). Power iteration
    * contracts deltas by the damping factor per pass, so that is about
    * log(tol)/log(damping) iterations on any graph. `None` runs exactly
    * `maxIters` with no delta join — bit-parity with fixed-iteration
    * oracle replays. */
  def runWithStats(edges: DataFrame, maxIters: Int, damping: Double = 0.85,
                   tolScaled: Option[Double] = None): (DataFrame, Int) = {
    // ONE exchange derives the degree-annotated edge list: the src
    // repartition clusters the edges once, and dropDuplicates on
    // (src, dst), the degree groupBy on src and the e⋈deg join on src
    // all run partition-local on that subset clustering
    val e = edges
      .select(col("src").cast("long").as("src"),
              col("dst").cast("long").as("dst"))
      .repartition(col("src"))
      .dropDuplicates(Seq("src", "dst"))
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    // one explode+groupBy enumerates the nodes AND classifies them:
    // has_out = 0 → dangling, has_in = 0 → needs the completion join;
    // the kernel's node count also answers whether either set is empty
    def nodeTable(withDeg: DataFrame): DataFrame = withDeg
      .select(explode(array(
          struct(col("src").as("node"), lit(1L).as("o"), lit(0L).as("i")),
          struct(col("dst").as("node"), lit(0L).as("o"), lit(1L).as("i"))))
        .as("__e"))
      .groupBy(col("__e.node").as("node"))
      .agg(max("__e.o").as("has_out"), max("__e.i").as("has_in"))
    Propagate.run(e.join(deg, "src"), maxIters, nodeTable,
                  Seq(min("has_out"), min("has_in"))) { g =>
      // fail here: base = (1-d)/0 would silently be Infinity
      require(g.n > 0, "PageRank needs a non-empty edge list")
      g.nodes.select(col("node"), lit(1.0 / g.n).as("r"))
    } { (g, rank) =>
      val n = g.n
      val base = (1.0 - damping) / n
      val contrib = g.gather(rank)
        .groupBy("dst").agg(sum(col("r") / col("deg")).as("c"))
        .withColumnRenamed("dst", "node")
      // static graph facts: with no dangling node (every undirected
      // graph) the per-iteration dangling-mass job disappears; when
      // every node has an in-edge the completion join does too
      val allHaveIn = g.stats.getLong(2) == 1
      val withAll = if (allHaveIn) contrib
                    else g.nodes.select("node")
                      .join(contrib, Seq("node"), "left_outer")
      val c = if (allHaveIn) col("c") else coalesce(col("c"), lit(0.0))
      val next =
        if (g.stats.getLong(1) == 1)
          withAll.select(col("node"), (lit(base) + lit(damping) * c).as("r"))
        else {
          // rank mass parked on out-degree-0 nodes, spread uniformly
          val dangling = rank
            .join(g.nodes.filter(col("has_out") === 0), Seq("node"), "left_semi")
            .agg(coalesce(sum("r"), lit(0.0)).as("dang"))
          withAll.crossJoin(broadcast(dangling)).select(col("node"),
            (lit(base) + lit(damping) * (c + col("dang") / n)).as("r"))
        }
      tolScaled.fold(next) { t =>
        next.join(rank.select(col("node"), col("r").as("__ro")), Seq("node"))
          .select(col("node"), col("r"),
                  (abs(col("r") - col("__ro")) > lit(t / n)).as(Propagate.Moved))
      }
    }
  }
}
