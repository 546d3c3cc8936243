package graft

import graft.tables.LakehouseTable
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

class LakehouseTableSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("overwrite is staged (no partial live dir), upsert merges and is idempotent") {
    val dir = TestSpark.tmpDir("lake")
    val t = LakehouseTable(spark, s"$dir/t", Seq("k"))
    assert(!t.exists)

    t.upsert(Seq((1, "a"), (2, "b")).toDF("k", "v")) // initial load path
    assert(t.read.count() == 2)

    t.upsert(Seq((2, "B"), (3, "C"), (3, "C")).toDF("k", "v")) // dup in batch
    val m = t.read.as[(Int, String)].collect().toMap
    assert(m == Map(1 -> "a", 2 -> "B", 3 -> "C"))

    t.upsert(Seq((2, "B"), (3, "C")).toDF("k", "v")) // replay same batch
    assert(t.read.as[(Int, String)].collect().toMap == m)

    // no staging leftovers next to the live dir
    val leftovers = new java.io.File(dir).list().filter(_.contains("staged"))
    assert(leftovers.isEmpty)
  }

  test("compact merges many small files toward the target size") {
    val dir = TestSpark.tmpDir("compact")
    val t = LakehouseTable(spark, s"$dir/t", Seq("k"))
    // 20 appends -> many small files
    (1 to 20).foreach(i => t.append(Seq((i, s"v$i")).toDF("k", "v")))
    def dataFiles = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(s"$dir/t"))
    }
    assert(dataFiles >= 20)
    t.compact(targetFileBytes = 512L * 1024 * 1024)
    assert(dataFiles == 1, s"expected 1 file, got $dataFiles")
    assert(t.read.count() == 20)
    // the fold rewrite left no input entries or protocol residue
    val rootNames = new java.io.File(s"$dir/t").list().toSeq
      .filterNot(n => n.startsWith("_") || n.startsWith("."))
    assert(rootNames.size == 1 && rootNames.head.startsWith("compacted-"),
      s"unexpected root entries after fold compact: $rootNames")
    assert(!new java.io.File(s"$dir/t.commits").list().exists(_.startsWith("rw-")),
      "fold rewrite record not cleaned up")

    // PARTITIONED compaction: fragmented per-partition files collapse
    // to one file per partition, never nFiles × partitions
    val p = LakehouseTable(spark, s"$dir/p", Seq("k"), Seq("part"))
    (1 to 10).foreach(i =>
      p.append(Seq((i, s"v$i", s"p${i % 2}")).toDF("k", "v", "part")))
    def partFiles(sub: String) = new java.io.File(s"$dir/p/part=$sub")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(partFiles("p0") >= 5 && partFiles("p1") >= 5)
    p.compact(targetFileBytes = 512L * 1024 * 1024)
    assert(partFiles("p0") == 1 && partFiles("p1") == 1,
      s"p0=${partFiles("p0")} p1=${partFiles("p1")}")
    assert(p.read.count() == 10)

    // partition-SCOPED compaction: only the named partitions are
    // rewritten; the others keep their (fragmented) files untouched
    val q = LakehouseTable(spark, s"$dir/q", Seq("k"), Seq("part"))
    (1 to 10).foreach(i =>
      q.append(Seq((i, s"v$i", s"p${i % 2}")).toDF("k", "v", "part")))
    def qFiles(sub: String) = new java.io.File(s"$dir/q/part=$sub")
      .listFiles().count(_.getName.endsWith(".parquet"))
    val p1Before = qFiles("p1")
    assert(qFiles("p0") >= 5 && p1Before >= 5)
    q.compactPartitions(Seq("p0"))
    assert(qFiles("p0") == 1, s"p0=${qFiles("p0")}")
    assert(qFiles("p1") == p1Before, "untouched partition was rewritten")
    assert(q.read.as[(Int, String, String)].collect().toSet ==
           (1 to 10).map(i => (i, s"v$i", s"p${i % 2}")).toSet)
    // naming a missing partition is a no-op, not an error
    q.compactPartitions(Seq("p9"))
    assert(q.read.count() == 10)
  }

  test("appendBatch: batches land atomically as dirs, read sees all rows") {
    val dir = TestSpark.tmpDir("lakeb")
    val t = LakehouseTable(spark, s"$dir/b", Seq("k"))
    t.appendBatch(Seq((1, "a"), (2, "b")).toDF("k", "v"))
    t.appendBatch(Seq((3, "c")).toDF("k", "v"))
    assert(t.read.as[(Int, String)].collect().toMap ==
           Map(1 -> "a", 2 -> "b", 3 -> "c"))
    // each batch is one child dir; no staging leftovers beside the table
    val children = new java.io.File(s"$dir/b").list().toSeq
    assert(children.count(_.startsWith("batch-")) == 2, children)
    assert(!new java.io.File(dir).list().exists(_.contains("appendstage")))
    // SQL catalog registration sees the batch dirs exactly like read()
    t.registerAs("batched_t")
    assert(spark.sql("SELECT count(*) FROM batched_t").head().getLong(0) == 3)
    // layer-database registration: db.table creates its database and
    // the qualified name reads through (reference per-layer Glue DBs)
    t.registerAs("layertest.batched")
    assert(spark.sql("SELECT count(*) FROM layertest.batched")
      .head().getLong(0) == 3)
    intercept[IllegalArgumentException](t.registerAs("a.b.c"))
    // a crashed first append (dir created, no batch landed) must read
    // as nonexistent, not wedge later reads
    val crashed = LakehouseTable(spark, s"$dir/crashed", Seq("k"))
    new java.io.File(s"$dir/crashed").mkdirs()
    assert(!crashed.exists)
    crashed.appendBatch(Seq((9, "z")).toDF("k", "v"))
    assert(crashed.exists && crashed.read.count() == 1)
    // partitioned tables must refuse: the batch layout would discard
    // the key=value partition columns on read
    val p = LakehouseTable(spark, s"$dir/p", Seq("k"), Seq("part"))
    intercept[IllegalArgumentException](
      p.appendBatch(Seq((1, "x", "a")).toDF("k", "v", "part")))
  }

  test("buckets: pruned reads, bucket-scoped replace, crash repair") {
    val dir = TestSpark.tmpDir("lakebk")
    val t = LakehouseTable(spark, s"$dir/q", Seq("k"))
    t.appendBatch(Seq((1, "a"), (2, "b")).toDF("k", "v"), bucket = "src-x")
    t.appendBatch(Seq((3, "c")).toDF("k", "v"), bucket = "src-y")
    t.appendBatch(Seq((4, "d")).toDF("k", "v"), bucket = "src-x")
    // whole-table read sees every bucket; bucket read prunes to one
    assert(t.read.count() == 4)
    assert(t.readBucket("src-x").get.as[(Int, String)].collect().toMap ==
           Map(1 -> "a", 2 -> "b", 4 -> "d"))
    assert(t.readBucket("missing").isEmpty)
    // a crash between appendBatch's mkdirs and its rename leaves an
    // EMPTY bucket dir — must read as absent, not wedge schema inference
    new java.io.File(s"$dir/q/src-crashed").mkdirs()
    assert(t.readBucket("src-crashed").isEmpty)
    // the pruned read opens ONLY the bucket's files
    assert(t.readBucket("src-x").get.inputFiles
             .forall(_.contains("src-x")))

    // bucket-scoped replace: src-y keeps its batch dirs untouched
    val yDirsBefore = new java.io.File(s"$dir/q/src-y").list().toSeq.sorted
    t.replaceBucket("src-x", Seq((1, "a")).toDF("k", "v"))
    assert(t.readBucket("src-x").get.count() == 1)
    assert(new java.io.File(s"$dir/q/src-y").list().toSeq.sorted == yDirsBefore)
    assert(t.read.count() == 2)

    // replace with an EMPTY frame keeps the bucket readable (0 rows)
    t.replaceBucket("src-x", Seq.empty[(Int, String)].toDF("k", "v"))
    assert(t.readBucket("src-x").get.count() == 0 && t.read.count() == 1)

    // crash inside the bucket swap: tombstone present, live missing →
    // repair restores the pre-swap bucket
    assert(new java.io.File(s"$dir/q/src-y")
      .renameTo(new java.io.File(s"$dir/q.tombstone-deadbeef-src-y")))
    assert(t.readBucket("src-y").isEmpty)
    t.repairInterruptedSwaps()
    assert(t.readBucket("src-y").get.count() == 1)

    // malformed bucket names refuse fast
    intercept[IllegalArgumentException](
      t.appendBatch(Seq((9, "z")).toDF("k", "v"), bucket = "a/b"))
    intercept[IllegalArgumentException](
      t.replaceBucket("", Seq((9, "z")).toDF("k", "v")))

    // bucket ops are an unpartitioned-table protocol: on a PARTITIONED
    // table the staged write would itself be partitioned and the swap
    // would plant col= dirs inside a stray bucket dir, wedging
    // partition discovery — must refuse like appendBatch does
    val pt = LakehouseTable(spark, s"$dir/pq", Seq("k"), Seq("part"))
    pt.upsert(Seq((1, "a", "p1")).toDF("k", "v", "part"))
    intercept[IllegalArgumentException](
      pt.replaceBucket("src-x", Seq((2, "b", "p1")).toDF("k", "v", "part")))
  }

  test("partition-scoped upsert touches only the batch's partitions") {
    val dir = TestSpark.tmpDir("lakeps")
    val t = LakehouseTable(spark, s"$dir/t", Seq("k"), Seq("part"))
    t.upsert(Seq((1, "a", "p1"), (2, "b", "p2"), (3, "c", "p2"))
      .toDF("k", "v", "part"))
    // partitioned registration must recover partitions into the
    // catalog — without MSCK the qualified read returns zero rows
    t.registerAs("layertest.parted")
    assert(spark.sql("SELECT count(*) FROM layertest.parted")
      .head().getLong(0) == 3)
    def filesOf(part: String) =
      new java.io.File(s"$dir/t/part=$part").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(f => (f.getName, f.lastModified)).toSeq
    val p1Before = filesOf("p1")

    // batch touches p2 (update) and p3 (brand-new partition)
    t.upsert(Seq((2, "B", "p2"), (4, "d", "p3")).toDF("k", "v", "part"))
    val m = t.read.select("k", "v").as[(Int, String)].collect().toMap
    assert(m == Map(1 -> "a", 2 -> "B", 3 -> "c", 4 -> "d"))
    // p1's files are bit-identical — it was never rewritten
    assert(filesOf("p1") == p1Before)
    // no staging/tombstone leftovers
    assert(!new java.io.File(dir).list()
      .exists(n => n.contains("staged") || n.contains("tombstone")))
    // idempotent replay
    t.upsert(Seq((2, "B", "p2"), (4, "d", "p3")).toDF("k", "v", "part"))
    assert(t.read.select("k", "v").as[(Int, String)].collect().toMap == m)
  }

  test("partitioned write + append quarantine pattern") {
    val dir = TestSpark.tmpDir("lakep")
    val t = LakehouseTable(spark, s"$dir/p", Seq("k"), Seq("part"))
    t.overwrite(Seq((1, "x", "a"), (2, "y", "b")).toDF("k", "v", "part"))
    assert(t.read.count() == 2)
    t.append(Seq((3, "z", "a")).toDF("k", "v", "part"))
    assert(t.read.count() == 3)
    assert(new java.io.File(s"$dir/p").list().exists(_.startsWith("part=")))
  }

  test("vacuum deletes aged crash leftovers, spares live data and versions") {
    val dir = TestSpark.tmpDir("lakev")
    val t = LakehouseTable(spark, s"$dir/t", Seq("k"))
    t.overwriteVersioned(Seq((1, "a")).toDF("k", "v"))
    t.overwriteVersioned(Seq((2, "b")).toDF("k", "v"))
    // fake crash leftovers from all three write paths
    Seq("t.staged-dead1", "t.tombstone-dead2", "t.appendstage-dead3")
      .foreach(n => new java.io.File(dir, n).mkdirs())
    // superseded tombstone (live target exists) drops immediately;
    // staging dirs are age-gated and the 24h default keeps them
    assert(t.vacuum() == Seq("dropped:t.tombstone-dead2"))
    val gone = t.vacuum(maxAgeMs = -1000) // cutoff in the future
    assert(gone.toSet ==
      Set("deleted:t.staged-dead1", "deleted:t.appendstage-dead3"), gone)
    assert(t.read.count() == 1 && t.versions.nonEmpty)
  }

  test("a swap retires the replaced tree: no tombstone stays, the " +
       "background reclaim deletes it, vacuum sweeps an orphan") {
    val dir = TestSpark.tmpDir("retire")
    val t = LakehouseTable(spark, s"$dir/t", Seq("k"))
    t.overwrite(Seq((1, "a")).toDF("k", "v"))
    t.overwrite(Seq((2, "b")).toDF("k", "v"))
    def siblings = new java.io.File(dir).list().toSeq
    assert(!siblings.exists(_.contains(".tombstone-")), siblings)
    val deadline = System.currentTimeMillis() + 60000
    while (siblings.exists(_.contains(".retired-")) &&
           System.currentTimeMillis() < deadline) Thread.sleep(20)
    assert(!siblings.exists(_.contains(".retired-")), siblings)
    // a retired tree whose owning process exited mid-delete: no
    // reclaim of this process owns it, so vacuum sweeps it at once
    assert(new java.io.File(dir, "t.retired-dead1").mkdirs())
    assert(t.vacuum() == Seq("deleted:t.retired-dead1"))
    assert(t.read.as[(Int, String)].collect().toSeq == Seq((2, "b")))
  }

  test("vacuumVersions: time-based archive retention with the 168h guardrail") {
    val dir = TestSpark.tmpDir("lakevv")
    val t = LakehouseTable(spark, s"$dir/t", Seq("k"))
    t.overwriteVersioned(Seq((1, "a")).toDF("k", "v"))
    t.overwriteVersioned(Seq((2, "b")).toDF("k", "v"))
    t.overwriteVersioned(Seq((3, "c")).toDF("k", "v"))
    assert(t.versions == Seq(1L, 2L))
    // guardrail: a sub-168h window needs an explicit force
    intercept[IllegalArgumentException] { t.vacuumVersions(retainHours = 1.0) }
    // nothing old enough yet: no-op
    assert(t.vacuumVersions() == Nil && t.versions == Seq(1L, 2L))
    // retention is measured from ARCHIVE time (_ARCHIVED_AT marker),
    // not data mtime: aging the DIR (data age) must not delete it —
    // a just-archived version of long-static data stays restorable
    val v1 = new java.io.File(s"$dir/t.versions/v1")
    assert(v1.setLastModified(
      System.currentTimeMillis() - 10L * 24 * 3600 * 1000))
    assert(t.vacuumVersions() == Nil && t.versions == Seq(1L, 2L))
    // age the archive MARKER past the default window -> deleted
    assert(new java.io.File(s"$dir/t.versions/v1/_ARCHIVED_AT")
      .setLastModified(System.currentTimeMillis() - 10L * 24 * 3600 * 1000))
    assert(t.vacuumVersions() == Seq(1L))
    assert(t.versions == Seq(2L) && !v1.exists())
    // live data and the surviving archive are untouched
    assert(t.read.as[(Int, String)].collect().toSeq == Seq((3, "c")))
    assert(t.readVersion(2L).as[(Int, String)].collect().toSeq == Seq((2, "b")))
    // the NEWEST archive is never vacuumed, however old: it anchors
    // the monotonic version counter (a deleted-all state would restart
    // numbering at v1 and hand changesSince consumers a reused number)
    assert(new java.io.File(s"$dir/t.versions/v2/_ARCHIVED_AT")
      .setLastModified(System.currentTimeMillis() - 3600L * 1000))
    assert(t.vacuumVersions(retainHours = 0.5, force = true) == Nil)
    assert(t.versions == Seq(2L) && t.read.count() == 1)
    // and the counter stays monotonic across the vacuum
    t.overwriteVersioned(Seq((4, "d")).toDF("k", "v"))
    assert(t.versions == Seq(2L, 3L))
  }

  test("interrupted partition swap is rolled back and batch replay recovers") {
    val dir = TestSpark.tmpDir("lakecrash")
    val t = LakehouseTable(spark, s"$dir/t", Seq("k"), Seq("part"))
    t.upsert(Seq((1, "a", "p1"), (2, "b", "p1"), (3, "c", "p2"))
      .toDF("k", "v", "part"))
    // simulate a writer that crashed inside the swap's rename gap:
    // part=p1 was renamed aside to its tombstone, never replaced
    assert(new java.io.File(s"$dir/t/part=p1")
      .renameTo(new java.io.File(s"$dir/t.tombstone-deadbeef-part=p1")))
    assert(t.read.filter(col("part") === "p1").count() == 0) // data dark
    // the next upsert repairs first (restores p1), then merges its batch
    t.upsert(Seq((2, "B", "p1")).toDF("k", "v", "part"))
    assert(t.read.select("k", "v").as[(Int, String)].collect().toMap ==
           Map(1 -> "a", 2 -> "B", 3 -> "c"))
    assert(!new java.io.File(dir).list().exists(_.contains("tombstone")))
  }

  test("file stats prune the range read to intersecting files only") {
    val dir = TestSpark.tmpDir("skip")
    val t = LakehouseTable(spark, s"$dir/t", Seq("k"))
    // clustered on k across 4 files -> disjoint per-file ranges
    // (explicit partition count: AQE would coalesce this tiny set to 1)
    t.overwrite((1 to 1000).map(i => (i, s"v$i")).toDF("k", "v")
      .repartitionByRange(4, col("k")).sortWithinPartitions("k"))
    val nFiles = t.read.inputFiles.length
    assert(nFiles > 1, s"need multiple files to demonstrate skipping, got $nFiles")
    t.writeFileStats(Seq("k"))

    val pruned = t.readPruned("k", 100, 120)
    // identical rows to the unpruned filtered read
    val expect = t.read.filter(col("k").between(100, 120))
      .as[(Int, String)].collect().sortBy(_._1)
    assert(pruned.as[(Int, String)].collect().sortBy(_._1).toSeq == expect.toSeq)
    // and strictly fewer files opened
    assert(pruned.inputFiles.length < nFiles,
      s"${pruned.inputFiles.length} vs $nFiles")

    // empty-range read: no files, empty result, schema intact
    val none = t.readPruned("k", 5000, 6000)
    assert(none.isEmpty && none.columns.toSeq == Seq("k", "v"))

    // stats never written -> falls back to a plain filtered read
    val t2 = LakehouseTable(spark, s"$dir/t2", Seq("k"))
    t2.overwrite((1 to 10).map(i => (i, "x")).toDF("k", "v"))
    assert(t2.readPruned("k", 3, 5).count() == 3)

    // mutations INVALIDATE stats: rows appended after writeFileStats
    // must still appear in pruned reads (stale stats would silently
    // drop them), and an overwrite must not leave stats pointing at
    // deleted part-files
    t.append(Seq((110, "late")).toDF("k", "v"))
    assert(t.readPruned("k", 100, 120).count() == expect.length + 1)
    t.overwrite(Seq((115, "only")).toDF("k", "v"))
    assert(t.readPruned("k", 100, 120).as[(Int, String)].collect().toSeq ==
           Seq((115, "only")))

    // overwriteVersioned (and rollbackTo through it) must ALSO
    // invalidate: the outgoing files move under .versions/, so a stale
    // manifest would point at archived paths — either throwing on the
    // moved file or silently matching nothing and returning empty
    t.writeFileStats(Seq("k"))
    t.overwriteVersioned(Seq((118, "versioned")).toDF("k", "v"))
    assert(t.readPruned("k", 100, 120).as[(Int, String)].collect().toSeq ==
           Seq((118, "versioned")))
  }

  test("pruned reads on a partitioned table: fully-covered partition " +
       "dirs collapse, partially-covered dirs keep per-file skipping") {
    // readExplicit (round 12) hands the reader DIR paths when every
    // data file in a partition dir survived the prune — O(dirs)
    // driver globs instead of O(files), measured 33 s -> 5.8 s at 50k
    // files (FileScaleSpec). This leg pins the exactness contract the
    // collapse must keep: a PARTIALLY covered dir contributes only
    // its surviving files (per-file paths retained — collapsing it
    // would silently re-open pruned-out files), and a fully covered
    // dir contributes exactly its members.
    val dir = TestSpark.tmpDir("skip-part")
    val t = LakehouseTable(spark, s"$dir/t", Seq("k"), Seq("part"))
    // two files per partition dir with disjoint k ranges (appends add
    // files; each single-partition batch lands as one file)
    t.overwrite((1 to 100).map(i => (i, s"v$i", "a")).toDF("k", "v", "part")
      .coalesce(1))
    t.append((101 to 200).map(i => (i, s"v$i", "a")).toDF("k", "v", "part")
      .coalesce(1))
    t.append((1 to 100).map(i => (i, s"v$i", "b")).toDF("k", "v", "part")
      .coalesce(1))
    t.append((101 to 200).map(i => (i, s"v$i", "b")).toDF("k", "v", "part")
      .coalesce(1))
    val all = t.read.inputFiles.length
    assert(all == 4, s"expected 4 files (2 per dir), got $all")
    t.writeFileStats(Seq("k"))

    // partial coverage: only the low-range file of each dir survives
    // — exactly 2 files opened, none of the pruned-out high files
    val low = t.readPruned("k", 1, 100)
    assert(low.inputFiles.length == 2,
      s"partial coverage must keep per-file paths: ${low.inputFiles.toSeq}")
    assert(low.count() == 200L)
    // full coverage: both dirs collapse to dir paths; same 4 files,
    // identical rows to the plain filtered read
    val full = t.readPruned("k", 1, 250)
    assert(full.inputFiles.length == 4)
    assert(full.count() == 400L)
    // and the partition column survives the dir-path form
    assert(full.filter(col("part") === "b").count() == 200L)
  }

  test("schema cache follows the PATH, not the instance: a sibling " +
       "instance's evolving mutation is visible to pruned reads") {
    // the single-writer contract is per-path; two sequential writers
    // through different LakehouseTable objects are legal. A stale
    // per-instance schema cache would make the first instance's
    // readPruned assemble explicit-file parquet reads with the OLD
    // schema — new columns silently all-null, no error.
    val dir = TestSpark.tmpDir("epoch")
    val a = LakehouseTable(spark, s"$dir/t", Seq("k"))
    a.overwrite((1 to 100).map(i => (i, s"v$i")).toDF("k", "v"))
    a.writeFileStats(Seq("k"))
    // populate a's schema cache through a pruned read
    assert(a.readPruned("k", 1, 10).columns.toSeq == Seq("k", "v"))

    val b = LakehouseTable(spark, s"$dir/t", Seq("k"))
    b.overwrite((1 to 100).map(i => (i, s"v$i", i * 2L))
      .toDF("k", "v", "extra"))
    b.writeFileStats(Seq("k"))

    val throughA = a.readPruned("k", 1, 10)
    assert(throughA.columns.toSeq == Seq("k", "v", "extra"),
      s"stale schema served: ${throughA.columns.toSeq}")
    assert(throughA.filter(col("extra").isNull).count() == 0,
      "new column silently null through the stale cache")
  }

  test("schema epoch is re-stamped post-publish: a reader inside the " +
       "write window cannot pair the new epoch with the old schema") {
    // the pre-publish stamp (invalidateFileStats) opens a window —
    // from the stamp to the swap rename — where the NEW epoch sits on
    // disk beside the OLD live schema. A sibling that reads liveSchema
    // inside that window caches (newEpoch, oldSchema); without the
    // post-publish re-stamp it would serve that stale schema FOREVER
    // after the swap (new columns silently all-null). The fault hook
    // lands the sibling's read at exactly the first swap rename.
    val dir = TestSpark.tmpDir("epochrace")
    val a = LakehouseTable(spark, s"$dir/t", Seq("k"))
    a.overwrite((1 to 50).map(i => (i, s"v$i")).toDF("k", "v"))
    assert(a.liveSchema.fieldNames.toSeq == Seq("k", "v"))

    val b = LakehouseTable(spark, s"$dir/t", Seq("k"))
    var observedInWindow: Seq[String] = Nil
    b.faultHook = label =>
      if (label.startsWith("rename:") && label.contains("tombstone") &&
          observedInWindow.isEmpty) {
        // mid-window: b stamped the new epoch at mutation start, the
        // old generation is still live — a reads and (re-)caches here
        observedInWindow = a.liveSchema.fieldNames.toSeq
      }
    try b.overwrite((1 to 50).map(i => (i, s"v$i", i * 2L))
      .toDF("k", "v", "extra"))
    finally b.faultHook = null
    assert(observedInWindow == Seq("k", "v"), "hook did not fire in-window")

    // post-publish stamp: a must now see the evolved schema, and a
    // pruned (explicit-file, cached-schema) read must serve real values
    assert(a.liveSchema.fieldNames.toSeq == Seq("k", "v", "extra"),
      "stale (newEpoch, oldSchema) pair survived the publish")
    b.writeFileStats(Seq("k"))
    val throughA = a.readPruned("k", 1, 10)
    assert(throughA.columns.toSeq == Seq("k", "v", "extra"))
    assert(throughA.filter(col("extra").isNull).count() == 0,
      "new column silently null through the stale cache")
  }

  test("reader holding a DataFrame across an overwrite swap fails " +
       "loudly, never silently serves partial data") {
    // the realistic multi-session case: a long-lived reader resolved
    // its file listing, then a writer swapped the table under it. The
    // contract is Delta's: the stale handle must ERROR (missing
    // underlying files), and a fresh read sees exactly the new
    // generation — a stale handle silently returning empty/partial
    // rows would be corruption, not staleness.
    val dir = TestSpark.tmpDir("readswap")
    val t = LakehouseTable(spark, s"$dir/t", Seq("k"))
    t.overwrite((1 to 100).map(i => (i, s"old$i")).toDF("k", "v"))
    val handle = t.read
    assert(handle.count() == 100) // listing resolved pre-swap

    val w = LakehouseTable(spark, s"$dir/t", Seq("k"))
    w.overwrite((1 to 5).map(i => (i, s"new$i")).toDF("k", "v"))

    val e = intercept[Exception] { handle.collect() }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(c =>
      c.isInstanceOf[java.io.FileNotFoundException] ||
      Option(c.getMessage).exists(_.contains("FileNotFound"))),
      s"expected a loud missing-files failure, got: $e")
    // fresh read: exactly the new generation
    assert(t.read.as[(Int, String)].collect().toMap ==
           (1 to 5).map(i => (i, s"new$i")).toMap)
  }

  test("reader during a versioned overwrite: snapshot consistency via " +
       "the archived version, loud failure on the stale live handle") {
    val dir = TestSpark.tmpDir("readvswap")
    val t = LakehouseTable(spark, s"$dir/t", Seq("k"))
    t.overwriteVersioned((1 to 50).map(i => (i, s"g1-$i")).toDF("k", "v"))
    val stale = t.read
    assert(stale.count() == 50)

    val w = LakehouseTable(spark, s"$dir/t", Seq("k"))
    w.overwriteVersioned((1 to 50).map(i => (i, s"g2-$i")).toDF("k", "v"))

    // the pre-swap generation is intact and readable as a snapshot —
    // this is the versioned path's answer to read-during-write
    assert(t.versions.nonEmpty)
    val snap = t.readVersion(t.versions.last).as[(Int, String)].collect().toMap
    assert(snap == (1 to 50).map(i => (i, s"g1-$i")).toMap,
      "archived snapshot does not match the pre-swap generation")
    // the stale LIVE handle errors — its files moved into the archive
    intercept[Exception] { stale.collect() }
    assert(t.read.as[(Int, String)].collect().toMap ==
           (1 to 50).map(i => (i, s"g2-$i")).toMap)
  }

  test("maintenance rewrites repair interrupted swaps BEFORE snapshotting") {
    val dir = TestSpark.tmpDir("repairfirst")
    val t = LakehouseTable(spark, s"$dir/t", Seq("k"), Seq("part"))
    t.upsert(Seq((1, "a", "p1"), (2, "b", "p2")).toDF("k", "v", "part"))
    // crash mid-swap: p1 sits only in a tombstone, live p1 missing
    assert(new java.io.File(s"$dir/t/part=p1")
      .renameTo(new java.io.File(s"$dir/t.tombstone-deadbeef-part=p1")))
    // compact must restore p1 first — a stale pre-repair listing would
    // rewrite the table without it and the swap would delete it forever
    t.compact(512L * 1024 * 1024)
    assert(t.read.select("k").as[Int].collect().toSet == Set(1, 2))

    // same for the versioned overwrite: a stale partition tombstone
    // must not survive into (and later resurrect rows into) the next
    // generation
    val u = LakehouseTable(spark, s"$dir/u", Seq("k"))
    u.overwrite(Seq((1, "old")).toDF("k", "v"))
    assert(new java.io.File(s"$dir/u")
      .renameTo(new java.io.File(s"$dir/u.tombstone-deadbeef")))
    u.overwriteVersioned(Seq((2, "new")).toDF("k", "v"))
    assert(u.read.as[(Int, String)].collect().toSeq == Seq((2, "new")))
    // the repaired pre-crash generation was archived, not lost
    assert(u.versions.nonEmpty &&
           u.readVersion(u.versions.last).as[(Int, String)]
             .collect().toSeq == Seq((1, "old")))
  }

  test("bloom manifest skips files on equality lookups; mutations invalidate") {
    val dir = TestSpark.tmpDir("bloomskip")
    val t = LakehouseTable(spark, s"$dir/t", Seq("k"))
    // high-cardinality keys scattered UNSORTED across 8 files: every
    // file's min/max spans nearly the full range, so range stats would
    // skip nothing — blooms are the only index that can
    val rows = (1 to 4000).map(i => (i * 2654435761L % 100000, s"v$i"))
    t.overwrite(rows.toDF("k", "v").repartition(8))
    val nFiles = t.read.inputFiles.length
    assert(nFiles == 8, s"got $nFiles")
    t.writeFileBlooms(Seq("k"))

    val target = rows(1234)._1
    val got = t.readBloomFiltered("k", target)
    assert(got.as[(Long, String)].collect().toSet ==
           rows.filter(_._1 == target).toSet)
    // the key lives in ~1 file; false positives allow a few more, but
    // a working bloom must skip most of the 8
    assert(got.inputFiles.length < nFiles,
      s"${got.inputFiles.length} of $nFiles")

    // a key that was never inserted: no file's bloom should answer
    // maybe (at this fill factor), and the result is empty either way
    val miss = t.readBloomFiltered("k", -1L)
    assert(miss.isEmpty)

    // manifest built for k only: a lookup on another column degrades
    // to the plain scan per the fallback contract — never throws
    assert(t.readBloomFiltered("v", "v77").count() ==
           rows.count(_._2 == "v77"))

    // mutation invalidates: the appended row must be found via the
    // full-scan fallback, never dropped by a stale manifest
    t.append(Seq((-5L, "late")).toDF("k", "v"))
    assert(t.readBloomFiltered("k", -5L).count() == 1)
  }

  test("bloom probe runs executor-side: collected projection is paths-only, manifest sharded") {
    val dir = TestSpark.tmpDir("bloomdist")
    val t = LakehouseTable(spark, s"$dir/t", Seq("k"))
    val rows = (1 to 4000).map(i => (i * 2654435761L % 100000, s"v$i"))
    t.overwrite(rows.toDF("k", "v").repartition(8))
    t.writeFileBlooms(Seq("k"))

    val target = rows(99)._1
    val survivors = t.bloomSurvivors("k", target).get
    // the projection the driver collects carries ONLY the file path —
    // never a binary bitmap (at 400k files that collect would be 50 GB)
    assert(survivors.schema.fields.map(f => (f.name, f.dataType.typeName)).toSeq
      == Seq(("file", "string")))
    // the membership test is INSIDE the plan (executor-side), below
    // the collect — not applied driver-side after the fact
    val plan = survivors.queryExecution.executedPlan.toString
    assert(plan.contains("graft_bloom_probe"), plan.take(2000))
    // result identity vs the exact predicate, through the public API
    assert(t.readBloomFiltered("k", target).as[(Long, String)].collect().toSet
      == rows.filter(_._1 == target).toSet)

    // manifest write is sharded: no coalesce(1) funnel — with 8 input
    // files the bloom agg may emit several part files; what matters is
    // the write plan no longer forces a single partition
    assert(!t.read.queryExecution.executedPlan.toString.contains("Coalesce"),
      "data read must not inherit a coalesce")
    val manifestFiles = spark.read.parquet(s"$dir/t.bloomstats").inputFiles.length
    assert(manifestFiles >= 1)
  }

  test("z-order clustering skips files on BOTH dimensions") {
    val dir = TestSpark.tmpDir("zorder")
    // two independent uniform dimensions: lexicographic clustering on
    // (a, b) leaves every file spanning b's full range
    val rows = for { a <- 1 to 100; b <- 1 to 100 } yield (a, b, a * b)
    def build(t: LakehouseTable): Int = {
      t.writeFileStats(Seq("a", "b"))
      t.read.inputFiles.length
    }
    def filesFor(t: LakehouseTable, c: String): Int =
      t.readPruned(c, 10, 20).inputFiles.length

    val lex = LakehouseTable(spark, s"$dir/lex", Seq("a"))
    lex.overwrite(rows.toDF("a", "b", "v")
      .repartitionByRange(16, col("a"), col("b"))
      .sortWithinPartitions("a", "b")) // lexicographic, 16 files
    val lexFiles = build(lex)

    val zed = LakehouseTable(spark, s"$dir/zed", Seq("a"))
    zed.overwrite(rows.toDF("a", "b", "v").repartition(8))
    zed.optimizeZOrder(Seq("a", "b"), numFiles = Some(16))
    val zedFiles = build(zed)
    assert(lexFiles > 2 && zedFiles > 2, s"$lexFiles/$zedFiles")

    // identical rows to the unclustered filtered read, both dims
    for (c <- Seq("a", "b")) {
      val got = zed.readPruned(c, 10, 20).as[(Int, Int, Int)]
        .collect().toSet
      val want = rows.filter(r => (if (c == "a") r._1 else r._2) >= 10 &&
                                  (if (c == "a") r._1 else r._2) <= 20).toSet
      assert(got == want, s"dim $c: ${got.size} vs ${want.size}")
    }

    // lexicographic skips on a but NOT on b; z-order skips on both
    assert(filesFor(lex, "a") < lexFiles)
    assert(filesFor(lex, "b") == lexFiles,
      s"lex should NOT skip on b: ${filesFor(lex, "b")} of $lexFiles")
    assert(filesFor(zed, "a") < zedFiles,
      s"zorder must skip on a: ${filesFor(zed, "a")} of $zedFiles")
    assert(filesFor(zed, "b") < zedFiles,
      s"zorder must skip on b: ${filesFor(zed, "b")} of $zedFiles")

    intercept[IllegalArgumentException](zed.optimizeZOrder(Seq("a")))
  }

  test("versioned overwrite: time travel, retention pruning, rollback") {
    val dir = TestSpark.tmpDir("lake")
    val t = LakehouseTable(spark, s"$dir/tt", Seq("k"))
    (1 to 5).foreach { i =>
      t.overwriteVersioned(Seq((i, s"gen$i")).toDF("k", "v"), retain = 2)
    }
    // live = gen5; archives pruned to the last two (v3 = gen3, v4 = gen4)
    assert(t.read.as[(Int, String)].head() == ((5, "gen5")))
    assert(t.versions == Seq(3L, 4L))
    assert(t.readVersion(4).as[(Int, String)].head() == ((4, "gen4")))
    intercept[IllegalArgumentException](t.readVersion(1))

    // rollback: v3 becomes live again, pre-rollback state is archived
    t.rollbackTo(3)
    assert(t.read.as[(Int, String)].head() == ((3, "gen3")))
    assert(t.versions.nonEmpty)
    assert(t.readVersion(t.versions.last).as[(Int, String)].head() == ((5, "gen5")))

    // DESCRIBE HISTORY parity: one row per archive + the live state,
    // bytes/files populated, live version = next archive number
    val h = t.history.as[(Long, java.sql.Timestamp, Long, Long, String)]
      .collect().sortBy(_._1)
    assert(h.map(_._5).count(_ == "live") == 1)
    assert(h.map(_._1).toSeq == (t.versions :+ (t.versions.last + 1)).sorted)
    assert(h.forall(r => r._3 > 0 && r._4 > 0))
  }

  test("change feed between retained versions classifies row-level changes") {
    val dir = TestSpark.tmpDir("lake")
    val t = LakehouseTable(spark, s"$dir/cf", Seq("k"))
    t.overwriteVersioned(Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v"))
    t.overwriteVersioned(Seq((1, "a"), (2, "B2"), (4, "d")).toDF("k", "v"))
    // v1 -> live: 2 updated, 3 deleted, 4 inserted, 1 unchanged (absent)
    val changes = t.changesSince(1).as[(Int, String)].collect().toSet
    assert(changes == Set((2, "updated"), (3, "deleted"), (4, "inserted")))
    // explicit to-version works the same way once a later archive exists
    t.overwriteVersioned(Seq((1, "a")).toDF("k", "v"))
    assert(t.changesSince(1, Some(2)).as[(Int, String)].collect().toSet ==
           Set((2, "updated"), (3, "deleted"), (4, "inserted")))

    // archives of appendBatch-layout tables (batch-<tag> subdirs) read
    // through the same recursive lookup as the live table
    val ab = LakehouseTable(spark, s"$dir/ab", Seq("k"))
    ab.appendBatch(Seq((1, "x")).toDF("k", "v"))
    ab.appendBatch(Seq((2, "y")).toDF("k", "v"))
    ab.overwriteVersioned(Seq((1, "x"), (2, "Y2")).toDF("k", "v"))
    assert(ab.readVersion(1).count() == 2)
    assert(ab.changesSince(1).as[(Int, String)].collect().toSet ==
           Set((2, "updated")))
  }

  test("partition-scoped mutators refuse a table written under a flat layout") {
    // an old unpartitioned serving table resumed by partitioned code
    // would otherwise get col= dirs laid NEXT to flat batch dirs, and
    // every later read dies mid-stream on conflicting structures —
    // the mutation must fail up front with the migration hint
    val dir = TestSpark.tmpDir("lake")
    val flat = LakehouseTable(spark, s"$dir/serve", Seq("k"))
    flat.appendBatch(Seq((1, "a", 5L)).toDF("k", "part", "v"))
    val partitioned = LakehouseTable(spark, s"$dir/serve", Seq("k"), Seq("part"))
    val e = intercept[IllegalArgumentException] {
      partitioned.upsert(Seq((2, "b", 6L)).toDF("k", "part", "v"))
    }
    assert(e.getMessage.contains("outside part="), e.getMessage)
    intercept[IllegalArgumentException] {
      partitioned.replacePartitions(Seq((2, "b", 6L)).toDF("k", "part", "v"))
    }
  }

  test("dropPartitions matches the writer's dir form for timestamp values") {
    // java.sql.Timestamp.toString carries a ".0" Spark's partitioned
    // writer never emits; a raw-toString dir name would make the
    // delete a silent no-op and leave a stale partition serving
    val dir = TestSpark.tmpDir("lake")
    val t = LakehouseTable(spark, s"$dir/tsPart", Seq("k"), Seq("w"))
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    t.overwrite(Seq((1, ts("2024-01-01 10:00:00"), 5L),
                    (2, ts("2024-01-01 11:00:00"), 6L))
      .toDF("k", "w", "v"))
    t.dropPartitions(Seq(ts("2024-01-01 10:00:00")))
    assert(t.read.select("k").as[Int].collect().toSeq == Seq(2))
    // fractional seconds: micros, trailing zeros trimmed, same as the
    // writer's own dir naming
    val t2 = LakehouseTable(spark, s"$dir/tsFrac", Seq("k"), Seq("w"))
    t2.overwrite(Seq((1, ts("2024-01-01 10:00:00.123"), 5L),
                     (2, ts("2024-01-01 10:00:00.999999"), 6L))
      .toDF("k", "w", "v"))
    t2.dropPartitions(Seq(ts("2024-01-01 10:00:00.123")))
    assert(t2.read.select("k").as[Int].collect().toSeq == Seq(2))
  }

  test("append repairs an interrupted full-table swap before writing") {
    // parquet append-mode RE-CREATES a missing live dir; appending
    // over an unrepaired full-table tombstone would make the next
    // repair see the swap as completed and drop the tombstone —
    // losing the entire pre-crash table
    val dir = TestSpark.tmpDir("appendrepair")
    val t = LakehouseTable(spark, s"$dir/t", Seq("k"))
    t.overwrite(Seq((1, "a")).toDF("k", "v"))
    // crash inside a swap's rename gap: live renamed aside, staged
    // never landed
    assert(new java.io.File(s"$dir/t")
      .renameTo(new java.io.File(s"$dir/t.tombstone-deadbeef")))
    t.append(Seq((2, "b")).toDF("k", "v"))
    assert(t.read.as[(Int, String)].collect().toSet ==
      Set((1, "a"), (2, "b")))
    // the tombstone was consumed by the repair, not left to be
    // mistaken for a completed swap later
    assert(!new java.io.File(dir).list().exists(_.contains("tombstone")))
  }

  test("a repair that RESTORES data invalidates stats manifests") {
    // defense-in-depth for out-of-band crash artifacts: a manifest
    // describing the pre-restore file set would make readPruned /
    // readBloomFiltered silently skip the restored partition's rows
    val dir = TestSpark.tmpDir("repairstats")
    val t = LakehouseTable(spark, s"$dir/t", Seq("k"), Seq("part"))
    t.upsert(Seq((1, "a", "p1"), (2, "b", "p2")).toDF("k", "v", "part"))
    t.writeFileStats(Seq("k"))
    assert(new java.io.File(s"$dir/t.filestats").exists)
    // p1 goes dark (tombstoned out-of-band), manifest still present
    assert(new java.io.File(s"$dir/t/part=p1")
      .renameTo(new java.io.File(s"$dir/t.tombstone-deadbeef-part=p1")))
    val actions = t.vacuum()
    assert(actions.exists(_.startsWith("restored:")), actions)
    // the restore dropped the manifest; the pruned read degrades to a
    // full scan and sees BOTH rows instead of skipping restored p1
    assert(!new java.io.File(s"$dir/t.filestats").exists)
    assert(t.readPruned("k", 0, 10).select("k").as[Int].collect().toSet ==
      Set(1, 2))
    // stats writers also repair BEFORE snapshotting: a tombstoned
    // partition must be restored into the manifest, not omitted
    assert(new java.io.File(s"$dir/t/part=p2")
      .renameTo(new java.io.File(s"$dir/t.tombstone-cafebabe-part=p2")))
    t.writeFileStats(Seq("k"))
    assert(t.readPruned("k", 0, 10).select("k").as[Int].collect().toSet ==
      Set(1, 2))
  }

  test("ackBatch is an OCC mutation: manifests invalidate, acks are " +
       "idempotent, and an ack after a fold consumed the batch is a no-op") {
    val dir = TestSpark.tmpDir("ackocc")
    val t = LakehouseTable(spark, s"$dir/t", Seq("k"))
    val b = t.appendBatch((1 to 100).map(i => (i, s"v$i")).toDF("k", "v"))
    t.writeFileStats(Seq("k"))
    assert(new java.io.File(s"$dir/t.filestats").exists)
    // the ack RENAMES every file in the batch — a manifest written
    // before it points at dead paths, so the ack must invalidate it
    // exactly like any other mutator (the pruned read then degrades
    // to a full filtered scan instead of failing on missing files)
    t.ackBatch(b)
    assert(!new java.io.File(s"$dir/t.filestats").exists,
      "ack left a stale manifest pointing at pre-rename paths")
    assert(t.readPruned("k", 10, 20).count() == 11)
    assert(t.unackedBatches().isEmpty)
    // idempotent: re-acking (consumer crashed after its first ack)
    // finds no batch dir and succeeds silently
    t.ackBatch(b)
    assert(t.read.count() == 100)
    // a fold can consume a batch between process and ack-retry: the
    // late ack is a no-op (the dir is gone; it can never be
    // re-presented — the ack's goal already holds)
    val b2 = t.appendBatch(Seq((101, "x")).toDF("k", "v"))
    t.compact(512L * 1024 * 1024)
    assert(t.unackedBatches().isEmpty) // folded away
    t.ackBatch(b2)
    assert(t.read.count() == 101)
  }

  test("compactPartitions on a never-written table is a no-op, like " +
       "every other maintenance entry point") {
    val dir = TestSpark.tmpDir("cpnoop")
    val t = LakehouseTable(spark, s"$dir/t", Seq("k"), Seq("part"))
    t.compactPartitions(Seq("p1")) // must not throw on the missing dir
    assert(!new java.io.File(s"$dir/t").exists)
  }
}
