package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** Lifecycle helpers for the blocks a `DataFrame.localCheckpoint()`
  * pins in the block manager.
  *
  * localCheckpoint persists its RDD[InternalRow] directly in the block
  * manager; `DataFrame.unpersist()` only releases frames registered
  * through `persist()`, so an iterative loop that re-checkpoints every
  * round leaks one O(V) vector per iteration — on a memory-tight
  * executor the pinned storage squeezes execution below the
  * hash-aggregate minimum (surfaced as AGGREGATE_OUT_OF_MEMORY by the
  * 2 GB heap rehearsal at sf1). The alternative — `.rdd.persist` +
  * `createDataFrame` — releases cleanly but
  * pays an InternalRow↔Row conversion on both sides of the cache and
  * drops LogicalRDD's partitioning metadata; measured ~20-30 % on the
  * PageRank/LabelPropagation loops. This keeps localCheckpoint's
  * compact UnsafeRow blocks and layout, and frees them by unpersisting
  * the RDD the checkpointed plan's LogicalRDD node carries.
  */
object Checkpoints {
  /** Release a superseded checkpoint's blocks. Only call on frames
    * that are truly superseded: a released checkpoint cannot be
    * recomputed (its lineage was truncated), so any later read of the
    * released frame fails. */
  def release(checkpointed: DataFrame): Unit =
    rddOf(checkpointed).foreach(_.unpersist(blocking = false))

  /** localCheckpoint that actually RETAINS the physical hash layout.
    *
    * Under AQE — this engine's production config — `Dataset
    * .localCheckpoint` captures the adaptive plan's partitioning as
    * UNKNOWN, so the resulting LogicalRDD forces a re-exchange in
    * every downstream consumer: a pre-partitioned iteration layout
    * ([[Propagate]]'s whole design) silently degrades
    * to one O(E) shuffle per iteration. Probe-measured on this Spark:
    * a clustered groupBy over a checkpoint plans 1 exchange with AQE
    * on and 0 with it off, and a checkpoint taken with AQE scoped OFF
    * serves AQE-ON consumers exchange-free (the layout survives
    * through alias-aware projections into multi-level aggregates).
    *
    * Scoping: only THIS materialization runs without AQE — no
    * runtime coalescing / skew-split inside the checkpointed query
    * (its exchanges are explicit keyed repartitions anyway, which AQE
    * leaves alone; the Zipf rehearsal pins the skew behavior of the
    * operators built on this). The session flag is restored in a
    * finally block, and the set/materialize/restore window is
    * SERIALIZED on this object: the flag lives in the session's shared
    * RuntimeConfig, so two concurrent callers on one session could
    * otherwise interleave (A sets off, B reads prev="false", A
    * restores, B "restores" to false) and leave AQE disabled
    * session-wide — a library engine can't assume driver-synchronous
    * callers. Concurrent checkpoints serialize their materialization
    * jobs behind the lock; that is the price of a shared-session conf
    * toggle, and iterative-graph materializations are the rare path. */
  def checkpointKeepingLayout(df: DataFrame): DataFrame = synchronized {
    val conf = df.sparkSession.conf
    val key = "spark.sql.adaptive.enabled"
    val prev = conf.get(key, "true")
    conf.set(key, "false")
    try df.localCheckpoint()
    finally conf.set(key, prev)
  }

  /** Total cached footprint (memory + disk) of a materialized
    * checkpoint, from the block manager's live stats; 0 if unknown. */
  def cachedBytes(checkpointed: DataFrame): Long =
    rddOf(checkpointed).flatMap { rdd =>
      checkpointed.sparkSession.sparkContext.getRDDStorageInfo
        .find(_.id == rdd.id).map(i => i.memSize + i.diskSize)
    }.getOrElse(0L)

  /** Block-bounded layout of an already-measured checkpoint:
    * repartition `checkpointed` by `keys` into enough partitions to
    * keep blocks at `targetBytes`, optionally sort within partitions,
    * eagerly checkpoint the copy, and ONLY THEN release the superseded
    * original — the materialize-before-release ordering is the
    * invariant this helper exists to keep in one place (a released
    * checkpoint cannot be recomputed). Sized from the original's
    * measured footprint (same rows, same bytes), avoiding a
    * materialize-then-widen double pass.
    *
    * Width: bytes/targetBytes, PERIOD — proportional to the measured
    * bytes, never to a core-count constant (guide §2: scale-adaptive
    * partitioning). At real scale the term is the same whatever the
    * session parallelism. At bench scale the round-13 variant
    * additionally widened mid-size checkpoints up to session
    * parallelism (134 MB → 32 partitions on local[32]); the driver's
    * round-13 runs regressed the whole PageRank family at BOTH core
    * counts on that change, and the round-14 same-window interleaved
    * A/B (wide vs input-partition floor vs this formula, 2 reps × 2
    * core counts, min-of-3 each) measured this formula fastest at 32
    * cores and tied-or-better at 8 (q_pagerank min 3.92 vs 4.73/4.43
    * at 32c) — per-iteration stage TIME shrank with the wide layout
    * but per-task scheduling overhead ate the win, exactly the
    * "32-task stages of sub-KB work" regime the round-13 verdict
    * called out.
    *
    * Why block size matters: a task reading a cached block read-LOCKS
    * it for the task's lifetime, so a stage with partitions == cores
    * pins the whole checkpoint in storage memory while its own
    * aggregation grows (the 2 GB sf1 rehearsal's
    * AGGREGATE_OUT_OF_MEMORY). Target-sized blocks bound the locked
    * set at cores × targetBytes, whatever the data scale. A keyed
    * layout cannot split one key whose rows alone exceed the target;
    * the Zipf rehearsal (SkewScaleSpec) measured the hot key of a
    * deduped edge list at ~6-8 % of E. */
  def relayout(checkpointed: DataFrame, keys: Seq[Column],
               sortCols: Seq[String] = Nil,
               targetBytes: Long = 32L << 20): DataFrame = {
    val parts = (cachedBytes(checkpointed) / targetBytes + 1).toInt
    val keyed = checkpointed.repartition(parts, keys: _*)
    val sorted = if (sortCols.isEmpty) keyed
                 else keyed.sortWithinPartitions(sortCols.head,
                                                 sortCols.tail: _*)
    val re = checkpointKeepingLayout(sorted)
    release(checkpointed)
    re
  }

  private def rddOf(df: DataFrame)
      : Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }
}
