package graft

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import graft.tables.LakehouseTable
import org.scalatest.funsuite.AnyFunSuite

/** Pins the table protocol's create-once contract (LakehouseTable's
  * "Filesystem contract" scaladoc): the schema-epoch marker and the
  * `i-`/`c-`/`rw-` commit records are never truncated or renamed over,
  * and none of them carries a `.crc` sidecar.
  *
  *   1. every stamp lands a NEW marker inode (an unlink plus an
  *      exclusive create, not a rewrite in place) across appendBatch,
  *      ackBatch, a partitioned upsert, both compaction paths and an
  *      overwrite; no marker or record has a checksum sidecar
  *   2. two writers stamping concurrently (commuting partition-scoped
  *      mutations) all land: a stamp that loses the unlink-to-create
  *      race to the other writer stamps again instead of failing
  *   3. a reader looping epoch reads and `liveSchema` beside a writer
  *      stamping hundreds of times across a schema-evolving overwrite
  *      never reads "absent" (the unlink-to-create gap retries) and
  *      never returns the pre-overwrite schema once the overwrite
  *      has returned
  */
class CreateOnceProtocolSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def sidecars(dir: String): Seq[String] =
    Option(new java.io.File(dir).list()).getOrElse(Array.empty[String])
      .filter(_.endsWith(".crc")).toSeq

  test("every stamp lands a new marker inode; protocol files carry no " +
       ".crc sidecar") {
    val dir = TestSpark.tmpDir("createonce")
    // streams held open on every observed marker pin its inode, so the
    // filesystem cannot hand a freed inode number to a later stamp and
    // make two stamps look like one
    val pinned = mutable.ArrayBuffer.empty[java.io.InputStream]
    def inode(marker: Path): Option[Long] =
      if (!Files.exists(marker)) None
      else {
        pinned += Files.newInputStream(marker)
        Some(Files.getAttribute(marker, "unix:ino").asInstanceOf[Long])
      }
    val stamped = mutable.ArrayBuffer.empty[Long]
    var foldLog = Seq.empty[String]

    /** Run one mutation, observing the marker before its begin stamp
      * (the `intent:` step), after it (`begin:`), and after the publish
      * stamp (on return): each stamp must change the inode. */
    def mutate(t: LakehouseTable, what: String)(f: => Unit): Unit = {
      val marker = Paths.get(s"${t.path}.schemaepoch")
      val seen = mutable.Map.empty[String, Option[Long]]
      t.faultHook = label => {
        if (label.startsWith("intent:")) seen("intent") = inode(marker)
        if (label.startsWith("begin:")) seen("begin") = inode(marker)
        // the fold's landing rename: its rw- record is live right now
        if (label.startsWith("rename:") && label.contains("compacted-"))
          foldLog = new java.io.File(s"${t.path}.commits").list().toSeq
      }
      try f finally t.faultHook = null
      val begin = seen.get("begin").flatten
        .getOrElse(fail(s"$what: no marker after the begin stamp"))
      seen.get("intent").flatten.foreach(i =>
        assert(i != begin, s"$what: the begin stamp rewrote the marker in place"))
      val after = inode(marker)
        .getOrElse(fail(s"$what: no marker after the publish stamp"))
      assert(after != begin,
        s"$what: the publish stamp rewrote the marker in place")
      stamped += begin += after
    }

    val u = LakehouseTable(spark, s"$dir/u", Seq("k"))
    mutate(u, "appendBatch")(u.appendBatch(Seq((1, "a")).toDF("k", "v")))
    mutate(u, "appendBatch")(u.appendBatch(Seq((2, "b")).toDF("k", "v")))
    val batch = u.unackedBatches().head
    mutate(u, "ackBatch")(u.ackBatch(batch))
    mutate(u, "compact (fold)")(u.compact(256L << 20))
    assert(foldLog.exists(_.startsWith("rw-")),
      s"fold landing step never observed: $foldLog")
    assert(!foldLog.exists(_.endsWith(".crc")),
      s"fold record has a checksum sidecar: $foldLog")
    mutate(u, "overwrite")(u.overwrite(Seq((3, "c")).toDF("k", "v")))

    val p = LakehouseTable(spark, s"$dir/p", Seq("k"), Seq("part"))
    mutate(p, "overwrite")(p.overwrite(
      Seq((1, "a", "p1"), (2, "b", "p2")).toDF("k", "v", "part")))
    mutate(p, "upsert")(p.upsert(Seq((1, "A", "p1")).toDF("k", "v", "part")))
    mutate(p, "compact (partitioned)")(p.compact(256L << 20))
    try {
      // with every observed inode pinned, distinct stamps must show
      // distinct inodes: 2 stamps per mutation, none repeated
      assert(stamped.distinct.size == stamped.size,
        s"a stamp reused a marker inode: $stamped")
      assert(stamped.size == 16)
      Seq(u, p).foreach { t =>
        val commits = new java.io.File(s"${t.path}.commits").list()
        assert(commits.exists(_.startsWith("i-")) &&
               commits.exists(_.startsWith("c-")),
          s"no commit records under ${t.path}.commits")
        assert(sidecars(s"${t.path}.commits").isEmpty,
          s"commit records carry checksum sidecars: ${commits.toSeq}")
      }
      val markerCrcs = sidecars(dir).filter(_.contains("schemaepoch"))
      assert(markerCrcs.isEmpty, s"marker checksum sidecars: $markerCrcs")
      assert(u.read.as[(Int, String)].collect().toSet == Set((3, "c")))
      assert(p.read.as[(Int, String, String)].collect().toSet ==
             Set((1, "A", "p1"), (2, "b", "p2")))
    } finally pinned.foreach(_.close())
  }

  test("concurrent stampers: commuting writers stamping in parallel all land") {
    val dir = TestSpark.tmpDir("createonce-stampers")
    LakehouseTable(spark, s"$dir/t", Seq("k"), Seq("part"))
      .overwrite(Seq((1, "a", "p1")).toDF("k", "v", "part"))
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // dropPartitions of missing, disjoint values: partition-scoped
    // mutations that commute, so every one must land
    val writers = Seq("x", "y").map { w =>
      val t = LakehouseTable(spark, s"$dir/t", Seq("k"), Seq("part"))
      new Thread(() =>
        try (1 to 100).foreach(i => t.dropPartitions(Seq(s"$w-$i")))
        catch { case e: Throwable => failures.add(s"$w: $e") })
    }
    writers.foreach(_.start())
    writers.foreach(_.join(120000))
    assert(failures.isEmpty, failures.toArray.take(5).mkString("; "))
    val commits = new java.io.File(s"$dir/t.commits").list()
    assert(commits.count(_.startsWith("c-")) == 201,
      s"expected 201 publish records, got ${commits.count(_.startsWith("c-"))}")
  }

  test("a reader beside a stamping writer never reads \"absent\" and never " +
       "returns the pre-overwrite schema after the publish") {
    val dir = TestSpark.tmpDir("createonce-race")
    val writer = LakehouseTable(spark, s"$dir/t", Seq("k"), Seq("part"))
    writer.overwrite(Seq((1, "a", "p1")).toDF("k", "v", "part"))
    val reader = LakehouseTable(spark, s"$dir/t", Seq("k"), Seq("part"))
    assert(!reader.liveSchema.fieldNames.contains("extra"))

    @volatile var published = false
    @volatile var done = false
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reads = new java.util.concurrent.atomic.AtomicInteger()
    val readerThread = new Thread(() => {
      try while (!done) {
        val after = published
        val epoch = reader.schemaEpoch()
        if (epoch == "absent") failures.add("epoch read returned absent")
        val schema = reader.liveSchema
        if (after && !schema.fieldNames.contains("extra"))
          failures.add(s"pre-overwrite schema after the publish: $schema")
        reads.incrementAndGet()
      } catch { case e: Throwable => failures.add(e.toString) }
    })
    readerThread.start()
    try {
      // dropPartitions of a missing value is a full mutation (intent,
      // two stamps, commit record) without a Spark job: a fast stamper
      (1 to 150).foreach(i => writer.dropPartitions(Seq(s"none-$i")))
      writer.overwrite(
        Seq((1, "a", "p1", 7L)).toDF("k", "v", "part", "extra"))
      published = true
      (151 to 300).foreach(i => writer.dropPartitions(Seq(s"none-$i")))
    } finally {
      done = true
      readerThread.join(60000)
    }
    assert(failures.isEmpty, failures.toArray.take(5).mkString("; "))
    assert(reads.get > 10, s"reader made only ${reads.get} reads")
    assert(reader.liveSchema.fieldNames.contains("extra"))
  }
}
