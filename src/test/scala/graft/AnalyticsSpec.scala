package graft

import graft.operators.Analytics
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.sql.Timestamp

class AnalyticsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("funnel: only strictly-ordered conversions count") {
    val ev = Seq(
      // A: full ordered funnel
      (1L, "view", ts("2024-01-01 10:00:00")),
      (1L, "click", ts("2024-01-01 10:05:00")),
      (1L, "purchase", ts("2024-01-01 10:10:00")),
      // B: click BEFORE view — click must not count
      (2L, "click", ts("2024-01-01 09:00:00")),
      (2L, "view", ts("2024-01-01 09:30:00")),
      // C: view only
      (3L, "view", ts("2024-01-01 08:00:00")),
      // D: purchase before click — view→click counts, purchase doesn't
      (4L, "purchase", ts("2024-01-01 07:00:00")),
      (4L, "view", ts("2024-01-01 07:30:00")),
      (4L, "click", ts("2024-01-01 08:00:00")),
      // E: no view at all — absent from the funnel entirely
      (5L, "click", ts("2024-01-01 06:00:00"))
    ).toDF("user_id", "event_type", "ts")
    val f = Analytics.funnelTimes(ev, "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))
      .as[(Long, Timestamp, Option[Timestamp], Option[Timestamp])]
      .collect().map(r => r._1 -> r).toMap
    assert(f.keySet == Set(1L, 2L, 3L, 4L))
    assert(f(1L)._3.isDefined && f(1L)._4.isDefined)
    assert(f(2L)._3.isEmpty, "pre-view click counted")
    assert(f(3L)._3.isEmpty)
    assert(f(4L)._3.isDefined && f(4L)._4.isEmpty, "pre-click purchase counted")
    // earliest qualifying stage time, not just any
    assert(f(1L)._2 == ts("2024-01-01 10:00:00"))
  }

  test("cohort retention: offsets are whole weeks from the cohort's Monday") {
    val ev = Seq(
      // first event Wed Jan 3 -> cohort Monday Jan 1
      (1L, ts("2024-01-03 12:00:00")), // offset 0 (day 2)
      (1L, ts("2024-01-09 12:00:00")), // day 8 -> offset 1
      (1L, ts("2024-01-16 12:00:00")), // day 15 -> offset 2
      // second user, first seen the following week
      (2L, ts("2024-01-10 00:00:00")) // cohort Monday Jan 8, offset 0
    ).toDF("user_id", "ts")
    val r = Analytics.cohortRetention(ev, "user_id", "ts")
      .select(date_format(col("cohort_week"), "yyyy-MM-dd").as("w"),
              col("week_offset"), col("n_active"))
      .as[(String, Long, Long)].collect().toSet
    assert(r == Set(("2024-01-01", 0L, 1L), ("2024-01-01", 1L, 1L),
                    ("2024-01-01", 2L, 1L), ("2024-01-08", 0L, 1L)))
  }

  test("linreg recovers an exact line; corr is ±1 on perfect fits") {
    // y = 2x + 3 exactly, 2-decimal values
    val up = (1 to 50).map(i => ("up", i.toDouble, 2.0 * i + 3))
    val dn = (1 to 50).map(i => ("dn", i.toDouble, -0.5 * i + 10))
    val r = Analytics.linregBy((up ++ dn).toDF("g", "x", "y"),
        "g", "x", "y", d = 2)
      .as[(String, Long, Double, Double, Double)]
      .collect().map(t => t._1 -> t).toMap
    assert(r("up")._2 == 50L)
    assert(r("up")._3 == 2.0 && r("up")._4 == 3.0 && r("up")._5 == 1.0)
    assert(r("dn")._3 == -0.5 && r("dn")._4 == 10.0 && r("dn")._5 == -1.0)
  }

  test("linreg drops groups whose every row misses x or y (oracle WHERE parity)") {
    // the SQL twin's WHERE clause removes the whole group before
    // aggregation; an n=0 all-null-stats row on the Spark side would
    // be a row-count divergence on null-bearing inputs
    val rows = Seq(("ok", Some(1.0), Some(2.0)), ("ok", Some(2.0), Some(4.0)),
                   ("gone", None, Some(3.0)), ("gone", Some(1.0), None))
    val r = Analytics.linregBy(rows.toDF("g", "x", "y"), "g", "x", "y", d = 2)
      .as[(String, Long, Option[Double], Option[Double], Option[Double])]
      .collect().map(t => t._1 -> t).toMap
    assert(!r.contains("gone"), s"n=0 group must drop entirely: $r")
    assert(r("ok")._2 == 2L && r("ok")._3 == Some(2.0))
  }

  test("mad outliers: fences ignore the outlier they catch") {
    // 99 values at 10.0 +- 0.5, one wild point; median/MAD unmoved by it
    val vals = (1 to 99).map(i => ("a", 10.0 + (i % 2) * 0.5)) :+ (("a", 1e6))
    val r = Analytics.madOutliers(vals.toDF("g", "v"), "g", "v")
      .as[(String, Double, Double, Long, Double)].collect()
    assert(r.length == 1)
    val (_, med, mad, n, maxDev) = r.head
    // devs sorted: 0 x50, 0.5 x49, outlier -> interpolated median 0.25
    assert(med == 10.5 && mad == 0.25)
    assert(n == 1L, s"expected exactly the planted outlier, got $n")
    assert(maxDev == 1e6 - 10.5)
    // a clean group produces no row at all
    val clean = Analytics.madOutliers(
      (1 to 20).map(i => ("b", 5.0 + (i % 3) * 0.1)).toDF("g", "v"), "g", "v")
    assert(clean.isEmpty)
  }

  test("pagerank: mass conserved, hubs outrank leaves, dangling handled") {
    import graft.operators.PageRank
    // star: hub 0 <-> leaves 1..8 (symmetric), plus chain 9 -> 0
    val sym = (1L to 8L).flatMap(i => Seq((0L, i), (i, 0L))) :+ ((9L, 0L))
    val r = PageRank.run(sym.toDF("src", "dst"), iters = 10)
      .as[(Long, Double)].collect().toMap
    // node 9 has an out-edge but no in-edge: it keeps only the base mass;
    // the hub, fed by every leaf, must dominate any leaf
    assert(math.abs(r.values.sum - 1.0) < 1e-9,
      s"rank mass not conserved: ${r.values.sum}")
    assert(r(0L) > r(1L) && r(1L) > r(9L), r.toString)
    // directed sink: 0 -> 1, 1 has no out-edges. Without dangling
    // redistribution node 1's mass would leak and the total would decay
    // toward (1-d); with it, mass stays exactly 1.
    val sink = PageRank.run(Seq((0L, 1L)).toDF("src", "dst"), iters = 20)
      .as[(Long, Double)].collect().toMap
    assert(math.abs(sink.values.sum - 1.0) < 1e-9,
      s"dangling mass leaked: ${sink.values.sum}")
    assert(sink(1L) > sink(0L), "the sink absorbs the walk, it must outrank")
  }

  test("pagerank convergence: pre-converged graph exits early, same answer; tol=None runs fixed") {
    import graft.operators.PageRank
    // directed ring: perfectly symmetric, so ranks sit at the uniform
    // fixed point from the start — deltas are ulp-scale immediately
    val ring = (0L until 8L).map(i => (i, (i + 1) % 8)).toDF("src", "dst")
    // tolScaled is a threshold on xV-scaled ranks: 8e-12 on 8 nodes
    // stops once no raw rank moves by more than 1e-12
    val (fast, itFast) = PageRank.runWithStats(ring, maxIters = 200,
      tolScaled = Some(8e-12))
    assert(itFast < 200, s"pre-converged ring should exit early, ran $itFast")
    val got = fast.as[(Long, Double)].collect().toMap
    assert(got.size == 8 && got.values.forall(v => math.abs(v - 0.125) < 1e-9),
      got.toString)
    // the early-exited answer matches the fixed-iteration answer at
    // the query layer's rounding (1e-6 on xV-scaled ranks)
    val fixed = PageRank.run(ring, iters = 5).as[(Long, Double)].collect().toMap
    assert(got.keySet == fixed.keySet &&
      got.forall { case (k, v) =>
        math.round(v * 8 * 1e6) == math.round(fixed(k) * 8 * 1e6) })
    // no tolerance: exactly maxIters, bit-parity mode for oracle replays
    val (_, itFixed) = PageRank.runWithStats(ring, maxIters = 7)
    assert(itFixed == 7)
  }

  test("label propagation: fixed point exits early with output identical to the full run") {
    import graft.operators.LabelPropagation
    // two disjoint triangles; synchronous LPA settles each to its
    // minimum id within a few iterations, then never changes
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L), (10L, 12L))
    val edges = tri.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("src", "dst")
    val (early, itEarly) = LabelPropagation.runWithStats(edges, maxIters = 50)
    assert(itEarly < 50, s"fixed point must cut the loop, ran $itEarly")
    val full = LabelPropagation.run(edges, iters = 50)
    assert(early.orderBy("node").as[(Long, Long)].collect().toSeq ==
           full.orderBy("node").as[(Long, Long)].collect().toSeq)
    // the round that detected the fixed point changed nothing: stopping
    // one round earlier gives the same labels
    val before = LabelPropagation.run(edges, iters = itEarly - 1)
    assert(early.orderBy("node").as[(Long, Long)].collect().toSeq ==
           before.orderBy("node").as[(Long, Long)].collect().toSeq)
    // each triangle collapses to one community
    val labs = early.as[(Long, Long)].collect().toMap
    assert(Set(labs(1L), labs(2L), labs(3L)).size == 1)
    assert(Set(labs(10L), labs(11L), labs(12L)).size == 1)
    assert(labs(1L) != labs(10L))
  }

  test("label propagation on a DIRECTED input keeps every node, every iteration") {
    import graft.operators.LabelPropagation
    // the old src-only seed + inner-join update shrank the node set
    // each iteration on directed chains: {(1,2),(2,3)} lost nodes 2
    // and 3 after one round, and a single edge returned an EMPTY frame
    val chain = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val out = LabelPropagation.run(chain, iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(out.keySet == Set(1L, 2L, 3L), out)
    // a node adopts labels from its OUT-neighbors (the join keys on
    // dst), so labels flow backward along edges: the chain converges
    // to the sink's label, and the sink (no out-neighbors) keeps its
    // own — it used to VANISH from the output instead
    assert(out(3L) == 3L)
    assert(out(1L) == 3L && out(2L) == 3L, out)
    val single = LabelPropagation.run(Seq((5L, 6L)).toDF("src", "dst"),
      iters = 1).as[(Long, Long)].collect().toMap
    assert(single == Map(5L -> 6L, 6L -> 6L), single)
  }

  test("degenerate analytics inputs fail loud, not confusing") {
    import graft.operators.{Allocation, PageRank}
    // all-NULL weights: sum is NULL, `NULL <= 0` is NULL — the guard
    // must fire anyway, never silently allocate null to every row
    val nullW = Seq(("a", Option.empty[Double]), ("b", Option.empty[Double]))
      .toDF("k", "w")
    val ex = intercept[Exception] {
      Allocation.largestRemainder(nullW, "k", "w", 100L).collect()
    }
    assert(ex.getMessage.contains("must be > 0") ||
           Option(ex.getCause).exists(_.getMessage.contains("must be > 0")),
      ex.getMessage)
    // empty edges: clear precondition, not Infinity-then-NPE
    val ex2 = intercept[IllegalArgumentException] {
      PageRank.run(Seq.empty[(Long, Long)].toDF("src", "dst"), iters = 1)
    }
    assert(ex2.getMessage.contains("non-empty"))
  }

  test("pagerank + label propagation: large-V regime ≡ broadcast regime") {
    import graft.operators.{LabelPropagation, PageRank, Propagate}
    import graft.text.DedupClusters
    // a broadcast limit of 0 forces the pre-partitioned (large-V) plan
    // on the same graph the broadcast plan serves by default — neither
    // regime's result may depend on the join strategy. Nothing else in
    // the suite (or the sf fixtures, V ≤ 500k) exercises the large-V
    // path, so this is its only correctness pin.
    def largeV[T](body: => T): T = Propagate.withBroadcastLimit(0L)(body)
    val quads = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L),
                    (10L, 11L), (11L, 12L), (2L, 11L))
    val edges = quads.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("src", "dst")
    val (lb, _) = LabelPropagation.runWithStats(edges, 6)
    val (ll, _) = largeV(LabelPropagation.runWithStats(edges, 6))
    assert(lb.orderBy("node").as[(Long, Long)].collect().toSeq ==
           ll.orderBy("node").as[(Long, Long)].collect().toSeq)
    // connected components: chain-plus-islands and a 30-node chain
    // (29 kernel rounds, each one read through the witness)
    val islands = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val chain = (1L until 30L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    for (pairs <- Seq(islands, chain)) {
      val cb = DedupClusters.connectedComponents(pairs)
        .orderBy("id").as[(Long, Long)].collect().toSeq
      val cl = largeV(DedupClusters.connectedComponents(pairs))
        .orderBy("id").as[(Long, Long)].collect().toSeq
      assert(cb == cl)
    }
    val rb = PageRank.run(edges, iters = 5).as[(Long, Double)]
      .collect().toMap
    val rl = largeV(PageRank.run(edges, iters = 5))
      .as[(Long, Double)].collect().toMap
    assert(rb.keySet == rl.keySet)
    // same IEEE formula either way; only distributed sum order may
    // differ, which on 7 nodes is ≤ a few ulps
    rb.foreach { case (k, v) => assert(math.abs(v - rl(k)) < 1e-12,
      s"node $k: broadcast=$v largeV=${rl(k)}") }
  }

  test("relayout: keyed, bytes-proportional width, superseded checkpoint released") {
    import graft.operators.Checkpoints
    val df = spark.range(0, 20000)
      .select((col("id") % 97).as("k"), col("id").as("v"))
      .repartition(2, col("k")).localCheckpoint()
    assert(Checkpoints.cachedBytes(df) > 0L,
      "block manager must report the checkpoint")
    // relayout: keyed + sorted layout, width PROPORTIONAL to
    // the measured bytes (a tiny checkpoint stays narrow instead of
    // being widened to session parallelism — and, the other way, a
    // data-rich one is no longer capped at the derivation's
    // AQE-coalesced width; see the relayout scaladoc), original
    // released only after materialization
    val re = Checkpoints.relayout(df, Seq(col("k")), Seq("v"))
    assert(re.rdd.getNumPartitions >= 1 &&
      re.rdd.getNumPartitions <=
        spark.sessionState.conf.numShufflePartitions,
      s"tiny checkpoint widened to ${re.rdd.getNumPartitions}")
    assert(re.count() == 20000)
    assert(re.groupBy("k").count().count() == 97)
    assert(Checkpoints.cachedBytes(df) == 0L,
      "relayout must release the superseded layout")
    assert(Checkpoints.cachedBytes(re) > 0L)
    // bytes-rich relative to the target: full session parallelism is
    // reached (min(parallelism, bytes/(target/8)+1)) and the big-data
    // term bytes/target can exceed it
    val re2 = Checkpoints.relayout(re, Seq(col("k")), Nil,
                                   targetBytes = 8L << 10)
    assert(re2.rdd.getNumPartitions >=
      spark.sessionState.conf.numShufflePartitions,
      s"data-rich relayout stayed at ${re2.rdd.getNumPartitions}")
    assert(re2.count() == 20000)
    assert(Checkpoints.cachedBytes(re) == 0L)
    Checkpoints.release(re2)
  }
}
