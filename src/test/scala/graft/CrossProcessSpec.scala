package graft

import graft.tables.LakehouseTable
import org.scalatest.funsuite.AnyFunSuite

/** Cross-PROCESS concurrency rehearsal: the optimistic-concurrency
  * matrix (FaultScheduleSpec's thread-based legs) re-run with the
  * concurrent writer in a FORKED JVM driving the same table path —
  * the realistic two-jobs-one-table collision. Threads share one
  * Hadoop FileSystem object, one JVM memory model, and one process
  * clock; a second process shares only the filesystem, so these legs
  * are what actually pins the protocol's atomicity assumptions
  * (create-exclusive records, atomic renames, torn-marker-tolerant
  * epoch reads) at the level the deployment envelope claims them
  * (LakehouseTable's "Filesystem contract" scaladoc).
  *
  *   1. append ∥ append, genuinely racing processes → ALL batches land
  *   2. disjoint-partition upsert ∥ upsert → both land
  *   3. appendBatch ∥ completed overwrite → the append aborts loudly,
  *      the overwrite's generation is intact, the rerun applies
  *
  * Leg 1 also soak-tests the epoch reader cross-process: both writers
  * stamp the epoch marker (unlink, then exclusive create, through the
  * checksum-free protocol FS — the marker is never rewritten in place)
  * while both read it, retrying across each other's unlink-to-create
  * gaps and create-to-close torn windows.
  */
class CrossProcessSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Spawn the CrossProcessWriter child and return (process, syncDir).
    * The child signals session-up via `<syncDir>/ready`. */
  private def spawn(mode: String, args: String*): (Process, java.io.File) = {
    val syncDir = new java.io.File(TestSpark.tmpDir("xproc-sync"))
    val p = ForkedJvm.start("graft.tables.CrossProcessWriter",
      (mode +: args) :+ syncDir.getAbsolutePath, "3g",
      java.io.File.createTempFile("xproc-child", ".log"))
    val deadline = System.currentTimeMillis() + 120000
    while (!new java.io.File(syncDir, "ready").exists()) {
      if (!p.isAlive) fail(s"child died before ready (exit ${p.exitValue()})")
      assert(System.currentTimeMillis() < deadline, "child never became ready")
      Thread.sleep(100)
    }
    (p, syncDir)
  }

  private def go(syncDir: java.io.File): Unit = {
    assert(new java.io.File(syncDir, "go").createNewFile()); ()
  }

  private def waitExit(p: Process, timeoutSec: Int = 180): Int = {
    assert(p.waitFor(timeoutSec.toLong, java.util.concurrent.TimeUnit.SECONDS),
      "child did not exit in time")
    p.exitValue()
  }

  test("cross-process: concurrent appendBatch writers in two JVMs all land") {
    assume(ForkedJvm.canFork, "no forkable java binary")
    val dir = TestSpark.tmpDir("xproc-append")
    val t = LakehouseTable(spark, s"$dir/t", Seq("k"))
    t.appendBatch(Seq((0, "base")).toDF("k", "v"))

    val (child, sync) = spawn("appender", s"$dir/t", "3")
    go(sync)
    // race the child for real: our appends start the moment go lands
    (1 to 3).foreach(i =>
      t.appendBatch(Seq((i, s"parent-$i")).toDF("k", "v")))
    val exit = waitExit(child)
    assert(exit == 0, s"child appender failed with exit $exit")

    val got = LakehouseTable(spark, s"$dir/t", Seq("k"))
      .read.as[(Int, String)].collect().toSet
    val want = Set((0, "base")) ++
      (1 to 3).map(i => (i, s"parent-$i")) ++
      (1 to 3).map(i => (1000 + i, s"xproc-$i"))
    assert(got == want, s"lost batches across processes: $got")
  }

  test("cross-process: disjoint-partition upserts in two JVMs both land") {
    assume(ForkedJvm.canFork, "no forkable java binary")
    val dir = TestSpark.tmpDir("xproc-upsert")
    val t = LakehouseTable(spark, s"$dir/t", Seq("k"), Seq("part"))
    t.overwrite(Seq((1, "a", "p1"), (2, "b", "p2")).toDF("k", "v", "part"))

    // child upserts p2 INSIDE our p1 window: the hook blocks our
    // mutation right after its begin until the child has fully
    // published from its own JVM
    val (child, sync) = spawn("upserter", s"$dir/t", "p2")
    var interleaved = false
    t.faultHook = label =>
      if (label == "begin:upsert" && !interleaved) {
        interleaved = true
        go(sync)
        assert(waitExit(child) == 0, "child upserter failed")
      }
    t.upsert(Seq((1, "A1", "p1")).toDF("k", "v", "part"))
    t.faultHook = null
    assert(interleaved)
    val got = LakehouseTable(spark, s"$dir/t", Seq("k"), Seq("part"))
      .read.as[(Int, String, String)].collect().toSet
    assert(got == Set((1, "A1", "p1"), (2, "b", "p2"), (77, "xproc-up", "p2")),
      s"disjoint cross-process upserts did not both land: $got")
  }

  test("cross-process: a fold compaction in another JVM runs BESIDE " +
       "this writer's appends — all rows land exactly once") {
    assume(ForkedJvm.canFork, "no forkable java binary")
    val dir = TestSpark.tmpDir("xproc-compact")
    val t = LakehouseTable(spark, s"$dir/t", Seq("k"))
    val base = (1 to 20).map(i => (i, s"frag-$i"))
    base.foreach(r => { t.appendBatch(Seq(r).toDF("k", "v")); () })

    val (child, sync) = spawn("compactor", s"$dir/t")
    go(sync)
    // race the child's compact with fresh appends from this JVM —
    // some land before its input snapshot (compacted in), some after
    // (left beside the compacted dir); either way exactly once
    val late = (21 to 26).map(i => (i, s"late-$i"))
    late.foreach(r => { t.appendBatch(Seq(r).toDF("k", "v")); () })
    val exit = waitExit(child)
    assert(exit == 0, s"child compactor failed with exit $exit")

    val r = LakehouseTable(spark, s"$dir/t", Seq("k"))
    val rows = r.read.as[(Int, String)].collect()
    assert(rows.length == base.size + late.size,
      s"append-beside-compact duplicated or lost rows: ${rows.length}")
    assert(rows.toSet == (base ++ late).toSet)
    // the compaction actually happened (fragmented batch dirs folded)
    assert(new java.io.File(s"$dir/t").list()
             .exists(_.startsWith("compacted-")),
      "child compaction left no compacted dir")
    assert(!new java.io.File(s"$dir/t.commits").list()
             .exists(_.startsWith("rw-")),
      "fold record not cleaned up after cross-process compact")
  }

  test("cross-process: an overwrite from another JVM aborts this " +
       "writer's append loudly; the overwrite generation is intact") {
    assume(ForkedJvm.canFork, "no forkable java binary")
    val dir = TestSpark.tmpDir("xproc-conflict")
    val t = LakehouseTable(spark, s"$dir/t", Seq("k"))
    t.appendBatch(Seq((0, "base")).toDF("k", "v"))

    val (child, sync) = spawn("overwriter", s"$dir/t")
    var interleaved = false
    t.faultHook = label =>
      if (label == "begin:appendBatch" && !interleaved) {
        interleaved = true
        go(sync)
        assert(waitExit(child) == 0, "child overwriter failed")
      }
    val e = intercept[java.util.ConcurrentModificationException] {
      t.appendBatch(Seq((1, "mine")).toDF("k", "v"))
    }
    t.faultHook = null
    assert(interleaved)
    assert(e.getMessage.contains("single-writer"), e.getMessage)
    // the other process's generation is live and complete; the rerun
    // then lands on top of it
    val r = LakehouseTable(spark, s"$dir/t", Seq("k"))
    assert(r.read.as[(Int, String)].collect().toSet ==
           Set((999, "xproc-overwrite")))
    r.appendBatch(Seq((1, "mine")).toDF("k", "v"))
    assert(r.read.as[(Int, String)].collect().toSet ==
           Set((999, "xproc-overwrite"), (1, "mine")))
  }

  test("cross-process: an ackBatch from another JVM racing this " +
       "writer's fold is never silent — early ack aborts the fold") {
    assume(ForkedJvm.canFork, "no forkable java binary")
    val dir = TestSpark.tmpDir("xproc-ackfold-e")
    val t = LakehouseTable(spark, s"$dir/t", Seq("k"))
    val b1 = t.appendBatch(Seq((1, "a"), (2, "b")).toDF("k", "v"))
    t.appendBatch(Seq((3, "c")).toDF("k", "v"))

    // the child's ack lands between this fold's begin and its input
    // listing: the fold snapshots the renamed done- dir, and its
    // publish-time classification still sees the foreign ack records
    // → conservative loud abort, nothing renamed or deleted
    val (child, sync) = spawn("acker", s"$dir/t", b1)
    var acked = false
    t.faultHook = label =>
      if (label == "begin:compactFold" && !acked) {
        acked = true
        go(sync)
        assert(waitExit(child) == 0, "child acker failed")
      }
    val e = intercept[java.util.ConcurrentModificationException] {
      t.compact(512L * 1024 * 1024)
    }
    t.faultHook = null
    assert(acked && e.getMessage.contains("ackBatch"), e.getMessage)
    assert(t.read.as[(Int, String)].collect().toSet ==
           Set((1, "a"), (2, "b"), (3, "c")))
    assert(t.unackedBatches().size == 1)
    t.compact(512L * 1024 * 1024) // rerun converges
    assert(t.read.count() == 3 && t.unackedBatches().isEmpty)
  }

  test("cross-process: an ackBatch from another JVM slipping the fold's " +
       "residual window is deduplicated by the done-twin backstop") {
    assume(ForkedJvm.canFork, "no forkable java binary")
    val dir = TestSpark.tmpDir("xproc-ackfold-l")
    val t = LakehouseTable(spark, s"$dir/t", Seq("k"))
    val b1 = t.appendBatch(Seq((1, "a"), (2, "b")).toDF("k", "v"))
    t.appendBatch(Seq((3, "c")).toDF("k", "v"))

    // the child's ack lands AFTER this fold's classification passed
    // (hook at the commit step): the rename beats the delete loop,
    // and the loop's backstop swallows the duplicate done- copy
    val (child, sync) = spawn("acker", s"$dir/t", b1)
    var acked = false
    t.faultHook = label =>
      if (label == "commit:compactFold" && !acked) {
        acked = true
        go(sync)
        assert(waitExit(child) == 0, "child acker failed")
      }
    t.compact(512L * 1024 * 1024)
    t.faultHook = null
    assert(acked, "child ack never ran")
    val rows = t.read.as[(Int, String)].collect()
    assert(rows.toSet == Set((1, "a"), (2, "b"), (3, "c")) &&
           rows.length == 3,
      s"cross-process ack duplicated or lost rows: ${rows.length}")
    assert(t.unackedBatches().isEmpty)
  }
}
