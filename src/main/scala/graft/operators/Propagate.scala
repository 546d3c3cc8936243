package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._

/** The one iterative kernel behind [[PageRank]], [[LabelPropagation]]
  * and [[graft.text.DedupClusters]]: a per-node value vector is pushed
  * along the edges `src → dst` round after round until a caller's step
  * reports that nothing moved, or `maxIters` rounds ran. Each caller
  * supplies only its math — the node table, the seed vector and one
  * round's step; everything below is owned here, once.
  *
  * Materialize once. The caller's edge frame (often a derived lineage:
  * joins, explodes, dedup) is `localCheckpoint`ed under AQE, then
  * [[Checkpoints.relayout]] re-keys it by the gather key `dst` with AQE
  * scoped off, so the hash layout is captured in the LogicalRDD and
  * every round's `groupBy(dst)` runs partition-local. The same pass
  * sizes blocks from the measured bytes (a task read-locks the cached
  * blocks it reads; fat blocks with partitions == cores pin the whole
  * edge table). The node table is derived from those edges and
  * materialized in one job, hash-laid by `node` at the edges' width
  * (V ≤ 2E, so its blocks stay near the target too).
  *
  * Regime. The node-table job also counts the nodes (plus any caller
  * statistics): an `observe` on its final stage, whose task results
  * the scheduler merges once per partition, so the count is exact
  * without a job of its own. The exact |V| picks the join strategy,
  * once: at most `broadcastLimit` nodes the vector is broadcast into
  * the edge join — the broadcast keeps the edges' dst layout, so the
  * O(E) side never moves and only partially aggregated, O(V)-sized rows
  * cross an exchange; above it the edges are re-laid by the join key
  * `src` (sorted; the dst copy released) and the O(V) vector
  * reshuffles to meet them, plus one explicit exchange on `dst` that
  * every aggregate of the round shares. The statistic is an exact
  * count because checkpointed vectors are LogicalRDDs whose size AQE
  * never sees: compile-time statistics would pick a sort-merge join
  * even for a tiny vector.
  *
  * Witness. A step may emit a Boolean column [[Moved]] per node; the
  * kernel reads it through a pass-through filter inside the round's own
  * checkpoint job, into a max accumulator (no extra job). A max is
  * order-independent and idempotent under task retries — a re-run task
  * can never raise it past the true value — so it is the one aggregate
  * safe to read off an accumulator updated in a transformation. The
  * read is guarded by `isZero`: if no row ever reached the filter (a
  * pruned column, a lazy materialization), the loop fails instead of
  * counting an empty read as converged. The last round is never
  * watched: nothing would use the answer.
  *
  * Release ordering. A released checkpoint cannot be recomputed (its
  * lineage is truncated), so each round's vector is materialized
  * eagerly BEFORE the vector it read is released; the seed and the node
  * table stay until the loop ends (a step may read them every round),
  * the edges are released at the end, and the final vector — the
  * result — stays persisted for the caller.
  */
private[graft] object Propagate {
  /** Column a step sets true on every node whose value moved. */
  val Moved = "__moved"

  private val broadcastLimit = new scala.util.DynamicVariable(500000L)

  /** Runs `body` with a different regime gate: specs force the
    * pre-partitioned regime with 0 and broadcast with Long.MaxValue. */
  private[graft] def withBroadcastLimit[T](nodes: Long)(body: => T): T =
    broadcastLimit.withValue(nodes)(body)

  /** What a step sees: the laid-out edges, the node table, |V| and the
    * row of caller statistics (after the count). */
  final class Graph private[Propagate] (val edges: DataFrame,
      val nodes: DataFrame, val n: Long, val stats: Row, bcast: Boolean) {
    /** Edges joined with the vector on `src`, clustered by `dst`. */
    def gather(vec: DataFrame): DataFrame = {
      val v = vec.withColumnRenamed("node", "src")
      if (bcast) edges.join(broadcast(v), "src")
      else edges.join(v, "src").repartition(col("dst"))
    }
  }

  /** @param edges `src`/`dst` plus any per-edge columns a step reads
    * @param nodes the node table (a `node` column) from the edges
    * @param stats aggregates over the node table, read as `g.stats`
    * @return the final vector and the number of rounds run (0 on an
    *         empty node table, whose result is the seed) */
  def run(edges: DataFrame, maxIters: Int, nodes: DataFrame => DataFrame,
          stats: Seq[Column] = Nil)(seed: Graph => DataFrame)(
          step: (Graph, DataFrame) => DataFrame): (DataFrame, Int) = {
    require(maxIters >= 1, "maxIters must be >= 1")
    val byDst = Checkpoints.relayout(edges.localCheckpoint(), Seq(col("dst")))
    val counted = new Observation()
    val named = (count(lit(1)) +: stats).zipWithIndex
      .map { case (c, i) => c.as(s"s$i") }
    val nodeTab = Checkpoints.checkpointKeepingLayout(nodes(byDst)
      .repartition(byDst.rdd.getNumPartitions, col("node"))
      .observe(counted, named.head, named.tail: _*))
    val st = Row.fromSeq(named.indices.map(i => counted.get(s"s$i")))
    val n = st.getLong(0)
    val bcast = n <= broadcastLimit.value
    val laid = if (bcast) byDst
               else Checkpoints.relayout(byDst, Seq(col("src")), Seq("src"))
    val g = new Graph(laid, nodeTab, n, st, bcast)
    val moved = new MaxDoubleAccumulator
    edges.sparkSession.sparkContext.register(moved, "propagate_moved")
    val watch = udf { (m: Boolean) => moved.add(if (m) 1.0 else 0.0); true }
      .asNondeterministic() // exactly once per row: never reordered or duplicated
    var vec = seed(g)
    var it = 0
    var done = n == 0
    while (it < maxIters && !done) {
      val next = step(g, vec)
      val watched = it + 1 < maxIters && next.columns.contains(Moved)
      moved.reset()
      val cp = Checkpoints.checkpointKeepingLayout(
        (if (watched) next.filter(watch(coalesce(col(Moved), lit(true))))
         else next).drop(Moved))
      if (watched) {
        require(!moved.isZero, "propagate witness saw no rows")
        done = moved.value == 0.0
      }
      if (it > 0) Checkpoints.release(vec)
      vec = cp
      it += 1
    }
    Checkpoints.release(laid)
    if (it > 0) Checkpoints.release(nodeTab)
    (vec, it)
  }
}

/** Max-of-doubles accumulator: the witness is a MAX, so it is
  * order-independent and idempotent under task retries. */
private[operators] final class MaxDoubleAccumulator
    extends org.apache.spark.util.AccumulatorV2[Double, Double] {
  private var m = Double.NegativeInfinity
  override def isZero: Boolean = m == Double.NegativeInfinity
  override def copy(): MaxDoubleAccumulator = {
    val c = new MaxDoubleAccumulator; c.m = m; c
  }
  override def reset(): Unit = m = Double.NegativeInfinity
  override def add(v: Double): Unit = if (v > m) m = v
  override def merge(
      other: org.apache.spark.util.AccumulatorV2[Double, Double]): Unit =
    add(other.value)
  override def value: Double = m
}
