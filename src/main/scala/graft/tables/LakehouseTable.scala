package graft.tables

import graft.operators.Upsert
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import java.util.UUID

/** Parquet-backed lakehouse table with Delta-like write semantics
  * (SURVEY.md §7.4; reference S4-S7, glue_etl.py:442-490).
  *
  * Without a transaction log, atomicity comes from staged-write +
  * rename: readers referencing the live path never observe a partial
  * write, and a crashed writer leaves only an orphaned staging dir.
  * Single-writer assumption documented, matching the reference's one
  * scheduled Glue job (commuting concurrent writers are auto-merged —
  * see the optimistic-concurrency block below).
  *
  * ==Filesystem contract (deployment envelope)==
  *
  * The protocol is built from exactly TWO filesystem primitives, and
  * which guarantees survive on a given store follows from which
  * primitives that store makes atomic (FsContractSpec pins the
  * assumed behaviors):
  *
  *   1. '''Atomic rename''' (`FileSystem.rename`, file or dir, fails
  *      rather than clobbers): carries every swap — tombstone swaps
  *      (overwrite / upsert / replacePartitions / replaceBucket /
  *      versioned archive), appendBatch's batch-dir publish, blind
  *      append's per-file moves, the fold rewrite's `compacted-<tag>`
  *      landing, and batch acks. True on HDFS, POSIX local, ABFS,
  *      and GCS; FALSE on raw S3 (rename = copy+delete, neither
  *      atomic nor failing-on-existing). On S3, every swap-based
  *      guarantee (old-or-new reader visibility, tombstone crash
  *      recovery, batch all-or-nothing) degrades — deploy these
  *      tables on a rename-capable store, or put a manifest/log layer
  *      (Delta/Iceberg-style) in front; the table API is the stable
  *      seam for that change.
  *   2. '''Exclusive create''' (`FileSystem.create(path,
  *      overwrite=false)`): carries the commit/intent records and the
  *      Excel writer's claim files. Atomic on HDFS/local; S3 now
  *      offers conditional PUT (If-None-Match), but Hadoop S3A
  *      implements create-exclusive as check-then-create — two
  *      racers can both win, so record-based conflict DETECTION
  *      (loud aborts) weakens to best-effort there while the
  *      physically-disjoint commuting writes stay safe.
  *
  * Protocol files — the schema-epoch marker and the `i-`/`c-`/`rw-`
  * commit records — are CREATE-ONCE: written by exclusive create
  * through one checksum-free FS ([[protocolFs]]), never truncated and
  * never renamed over. A record is never rewritten at all; a marker
  * stamp unlinks the old marker and exclusively creates the new one
  * (see [[stampEpochValue]]), and readers absorb the brief gap with a
  * bounded retry. They need only read-after-write of small objects,
  * which every store above provides. Listing consistency (commit-log
  * and tombstone scans) is assumed — true everywhere since S3's 2020
  * strong-consistency change.
  */
final case class LakehouseTable(spark: SparkSession, path: String,
                                pk: Seq[String],
                                partitionCols: Seq[String] = Nil) {
  private def fs = org.apache.hadoop.fs.FileSystem
    .get(new java.net.URI(path), spark.sparkContext.hadoopConfiguration)

  /** A table exists when its live dir holds at least one DATA file —
    * not merely when the dir is present. appendBatch must mkdirs the
    * live path before its batch rename; a crash in that window leaves
    * an existing-but-empty dir, and dir-presence semantics would wedge
    * every later read ('Unable to infer schema') until hand-cleaned.
    * The listing short-circuits at the first data file. */
  private def hasDataFiles(p: Path): Boolean =
    // retryVanishedRead: the recursive listing iterator is lazy — a
    // subdir a concurrent fold deletes between the parent listing and
    // the iterator's descent throws FileNotFoundException mid-walk;
    // re-listing resolves it (rows stay visible by the fold contract)
    LakehouseTable.retryVanishedRead() {
      fs.exists(p) && {
        val it = fs.listFiles(p, true)
        var found = false
        while (!found && it.hasNext) {
          val n = it.next().getPath.getName
          if (!n.startsWith("_") && !n.startsWith(".")) found = true
        }
        found
      }
    }

  def exists: Boolean = hasDataFiles(new Path(path))

  /** Unpartitioned tables list files recursively so [[appendBatch]]'s
    * batch-directory layout reads transparently; partitioned tables
    * keep standard partition discovery (recursive lookup would discard
    * the key=value partition columns). */
  def read: DataFrame = {
    val r = spark.read
    (if (partitionCols.isEmpty) r.option("recursiveFileLookup", "true") else r)
      .parquet(path)
  }

  /** Live-table schema, one listing per mutation epoch. The
    * skip-index readers ([[readPruned]], [[readBloomFiltered]],
    * [[readFiles]]) need only the SCHEMA to assemble their
    * explicit-file reads, but `read.schema` performs a full recursive
    * listing + footer read per call — at 100 TB / ~400k files that
    * O(files) listing dominates a pruned point lookup, the exact cost
    * the manifests exist to avoid. Cached here; every mutator clears
    * it via [[invalidateFileStats]] (single-writer contract, like the
    * manifests themselves). */
  @volatile private var cachedSchema
    : (String, org.apache.spark.sql.types.StructType) = _
  private[graft] def liveSchema: org.apache.spark.sql.types.StructType = {
    // Cache validity is tied to ON-DISK state, not to this instance's
    // invalidateFileStats calls: the single-writer contract is
    // per-PATH, and a long-lived instance whose sibling (same path,
    // different LakehouseTable object) performed a schema-evolving
    // mutation would otherwise keep serving its stale schema to
    // readPruned/readBloomFiltered explicit-file reads — parquet with
    // a stale explicit schema silently yields nulls for new columns
    // instead of an error. Every mutator stamps a fresh epoch marker;
    // reading it is O(1) against the O(files) listing the cache saves.
    val epoch = schemaEpoch()
    val cached = cachedSchema
    if (cached != null && cached._1 == epoch) cached._2
    else {
      // retryVanishedRead: inference lists the live tree and then reads
      // footers — a concurrent fold's delete loop can remove a listed
      // file in between (the soak surfaced exactly this); re-running
      // re-lists, and the schema is identical either way
      val schema = LakehouseTable.retryVanishedRead()(read.schema)
      // never cached under "absent": two separate absent windows (say
      // a never-stamped table and, generations later, a stamper's
      // crash gap) would compare equal, pairing a schema inferred in
      // the first with the generation of the second (A→B→A)
      if (epoch != "absent") cachedSchema = (epoch, schema)
      schema
    }
  }

  /** Schema-preserving empty frame — the zero-survivor result of a
    * pruned lookup, without `read.limit(0)`'s full listing. */
  private def emptyFrame: DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
                          liveSchema)

  private def write(df: DataFrame, target: String,
                    preShaped: Boolean = false): Unit = {
    // Partitioned writes shuffle onto the partition columns first:
    // without it, every input task holds rows for every partition
    // value and the writer opens tasks × |partitions| files — a
    // 2,400-date history load on 32 tasks wrote ~77k tiny parquet
    // files, and EVERY later stage (gold builds, reconcile, replay
    // validation) re-paid the per-file open cost reading them. The
    // REBALANCE hint is Delta's "optimized write": under AQE it also
    // splits a skewed partition value across tasks (a 40 GB date must
    // not become one 40 GB file task) and coalesces tiny ones; without
    // AQE it degrades to a plain hash shuffle on the partition cols.
    // `preShaped` opts out for callers that already laid the frame
    // out deliberately (compact / optimizeClustered / optimizeZOrder
    // range-shape their rewrite; a second shuffle here would undo it).
    val out =
      if (partitionCols.nonEmpty && !preShaped)
        df.hint("REBALANCE", partitionCols.map(col): _*)
      else df
    val w = out.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(target)
  }

  /** TEST SEAM — crash-fault injection for the fault-schedule specs.
    * When set, invoked immediately BEFORE every FileSystem rename and
    * every protocol-relevant delete this table performs, with a label
    * like `rename:<from>-><to>` or `delete:<name>`. A hook that throws
    * simulates a writer crash at exactly that interruption point; a
    * hook that runs observer code (a concurrent reader) exercises the
    * mid-window visibility contract. Production code never sets it —
    * the default is a no-op and the check is a single volatile read. */
  @volatile private[graft] var faultHook: String => Unit = null
  private def step(label: String): Unit = {
    val h = faultHook
    if (h != null) h(label)
    val g = LakehouseTable.globalFaultHook
    if (g != null) g(path, label)
  }

  /** Hadoop FileSystem.rename reports most failures by returning
    * false, not throwing (dest exists, src vanished, cross-store move)
    * — an unchecked rename would leave stale data live while the
    * caller believes the swap succeeded. */
  private def renameOrFail(from: Path, to: Path): Unit = {
    step(s"rename:${from.getName}->${to.getName}")
    require(fs.rename(from, to), s"rename $from -> $to failed")
  }

  /** The tombstone-swap protocol shared by full-table overwrite and
    * per-partition merges: rename live aside (rename, not delete),
    * staged into place, then retire the tombstone. The no-live window
    * collapses to the single rename gap, and a crash between the
    * renames leaves the old data in the tombstone — which
    * [[repairInterruptedSwaps]] rolls back automatically. ONE
    * implementation on purpose: the crash-recovery story depends on
    * every swap following exactly this sequence and naming.
    *
    * Retiring is a rename out of the tombstone namespace
    * (`<table>.retired-<rest>`, which no repair ever restores) and a
    * background delete ([[LakehouseTable.reclaim]]) — Delta's
    * logical-remove-then-VACUUM split. The replaced tree's files are
    * dead the moment the second rename lands, but unlinking them is
    * O(files) store round trips: the old tree of a 50k-file
    * compaction took 1-3.5 min to delete on a local ext4 disk mounted
    * with online discard, against ~10 s for the whole rewrite. A
    * retired dir a crash leaves behind is [[vacuum]]'s to sweep. */
  private def swapIn(staged: Path, live: Path, tombstone: Path,
                     ticket: MutationTicket, op: String): Unit = {
    resolveConflictsOrAbort(ticket, op)
    writeCommitRecord(ticket)
    val hadLive = fs.exists(live)
    if (hadLive) renameOrFail(live, tombstone)
    renameOrFail(staged, live)
    if (hadLive) {
      val retired = new Path(tombstone.getParent,
        tombstone.getName.replace(".tombstone-", ".retired-"))
      renameOrFail(tombstone, retired)
      LakehouseTable.reclaim(fs, retired)
    }
  }

  // ── optimistic concurrency (Delta-style commit conflict detection) ─
  // Round 11 shipped a TRIPWIRE: any interleaved mutator aborted the
  // first writer loudly. Correct but strict — two appends, or upserts
  // touching disjoint partitions, cannot actually conflict (their
  // renames land in physically disjoint dirs and neither derives data
  // the other changed). This generalizes the tripwire into two-phase
  // records: every mutation writes an INTENT record
  // (`<table>.commits/i-<token>`: op + touched partition set) at
  // BEGIN — before it stamps the epoch marker, so an observed marker
  // is always explainable — and a PUBLISH record (`c-<token>`, same
  // body) immediately before its first rename. At publish time a
  // writer classifies every record that appeared since its own
  // begin-snapshot:
  //
  //   - non-commuting PUBLISH record → loud abort (the other writer
  //     passed its own check and may have renamed);
  //   - non-commuting INTENT (no publish yet) → loud abort too. When
  //     only the two writers interleave, one winner is guaranteed:
  //     begin-stamps serialize on the marker, the LAST beginner's
  //     publish takes the marker==own-token fast path, and every
  //     earlier beginner either sees the later intent/publish record
  //     here or — had it published first — is seen by the later
  //     writer's classification. (Aborting on a mere intent is what
  //     keeps the fast path sound: a non-commuting writer may never
  //     slip past a live window unpublished, or the fast-path holder
  //     would miss its record.) A THIRD stamp landing between the
  //     pair's begins and publishes (a commuting writer, a repair's
  //     anonymous invalidateFileStats) defeats the last-beginner fast
  //     path, and BOTH non-commuting writers can then abort — safe
  //     (loud, nothing renamed, reruns apply) but zero-winner: the
  //     guarantee is "at most one", not "exactly one", under ≥3-way
  //     interleaving.
  //   - commuting records (intent or publish) → proceed immediately.
  //     Intent-at-begin is what lets a commuting writer pass without
  //     burning the retry window on a marker whose publish record
  //     would only appear after the owner's whole staged write
  //     (minutes on real data).
  //
  // Commuting = append∥append, partition-scoped ops on disjoint sets
  // (Delta's AddFile-disjointness re-expressed on the dir protocol),
  // and append∥compactFold (the rewrite's input snapshot predates any
  // interleaved append's uniquely-named files). A marker token with
  // NO record at all (legacy writer, foreign stamp) keeps the bounded
  // retry + loud abort. The residual check-to-rename race window of
  // the original tripwire remains and is unchanged in size; commuting
  // ops are also PHYSICALLY disjoint (unique batch dirs / part-file
  // names, distinct partition dirs), so a racer slipping through the
  // window can only be one that would have been allowed anyway.
  //
  // A crashed writer leaves an orphan INTENT. Only records appearing
  // AFTER a writer's begin-snapshot are classified, so a rerun (whose
  // snapshot includes the orphan) is never blocked; only a
  // non-commuting writer already in flight when the orphan appeared
  // aborts spuriously — conservative and loud, TTL-bounded.

  /** Ownership + conflict-classification state for one mutation:
    * the epoch token stamped at begin, the operation class, the
    * partition dirs it touches (partition-scoped ops only), and the
    * commit-record names already present at begin (anything beyond
    * this set at publish time is an interleaver to classify). */
  private final class MutationTicket(val op: String,
                                     val parts: Set[String]) {
    var token: String = _
    var snapshot: Set[String] = _
    var recorded = false
  }

  /** Ops that add data without reading or replacing any live file:
    * always commute with each other. [[appendBatch]] lands one
    * uniquely-named batch dir; [[append]] stages and then renames
    * part files whose names carry the write job's UUID — two appends
    * can never touch the same path, and neither shares a
    * `_temporary` dir (the staged write owns its own). */
  private val AppendOps = Set("append", "appendBatch")
  /** Ops whose effect is confined to an explicit partition-dir set:
    * commute with each other iff the sets are disjoint.
    * `compactPartitions` belongs here — a content-preserving rewrite
    * of named partition dirs is just a replace whose payload equals
    * its input, so disjoint-set commutation is exactly as sound. */
  private val PartitionScopedOps =
    Set("upsert", "replacePartitions", "dropPartitions",
        "compactPartitions")
  /** Content-preserving rewrites of a file snapshot taken at begin:
    * commute with appends (an interleaved append's uniquely-named
    * files and batch dirs are outside the snapshot, and the fold's
    * input filter additionally excludes every dir a concurrent
    * writer can create files INSIDE — bucket dirs — so the rewrite
    * neither reads nor removes concurrent data) but NOT with each
    * other or anything else. In particular NOT with [[ackBatch]]:
    * an ack renames a batch dir the fold may have snapshotted, and
    * folding it would leave the renamed `done-` copy holding rows
    * that also live in the fold output — the classification turns
    * that silent duplication into a loud abort of whichever side
    * publishes second. */
  private val RewriteOps = Set("compactFold")
  /** [[ackBatch]]: a one-rename handshake move. Commutes with appends
    * (an append never touches an existing batch dir) and with other
    * acks on DISJOINT batch dirs; everything else — rewrites,
    * overwrites, partition ops — conflicts loudly. */
  private val AckOps = Set("ackBatch")

  private def commitLogPath = s"$path.commits"

  private def listCommitNames(): Set[String] = {
    val p = new Path(commitLogPath)
    if (!protocolFs.exists(p)) Set.empty
    else protocolFs.listStatus(p).iterator.map(_.getPath.getName)
      .filter(n => n.startsWith("c-") || n.startsWith("i-")).toSet
  }

  /** Start a mutation: snapshot the commit log (BEFORE any live-state
    * read — records appearing after this are interleavers), write the
    * INTENT record, then stamp the epoch token. Intent-before-stamp
    * means any writer that observes this mutation's marker token can
    * already read its op + partition scope — a concurrent commuting
    * writer proceeds immediately instead of waiting out a retry
    * window that the owner's whole staged write sits inside. */
  private def beginMutation(op: String,
                            parts: Set[String] = Set.empty)
      : MutationTicket = {
    val t = new MutationTicket(op, parts)
    t.snapshot = listCommitNames()
    t.token = UUID.randomUUID().toString
    step(s"intent:$op")
    writeRecord("i-" + t.token, t.op, t.parts)
    invalidateFileStats(t.token)
    step(s"begin:$op")
    t
  }

  private def readCommit(name: String): (String, Set[String]) =
    LakehouseTable.retryTornRead() {
      // commit records are create-once (never rewritten), so the only
      // race is a reader slipping between a concurrent writer's
      // create and close: shape check + bounded wait covers it (same
      // discipline as the epoch marker)
      val in = protocolFs.open(new Path(commitLogPath, name))
      val txt = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      val i = txt.indexOf('|')
      if (i < 0) throw new java.io.IOException(
        s"torn commit record $name: '$txt'")
      val ps = txt.substring(i + 1).split(",").iterator.filter(_.nonEmpty)
        .map(java.net.URLDecoder.decode(_, "UTF-8")).toSet
      (txt.substring(0, i), ps)
    }

  /** Write one record file (create-once, never rewritten). */
  private def writeRecord(name: String, op: String,
                          parts: Set[String]): Unit = {
    protocolFs.mkdirs(new Path(commitLogPath))
    createProtocolFile(new Path(commitLogPath, name), op + "|" +
      parts.map(java.net.URLEncoder.encode(_, "UTF-8")).mkString(","))
  }

  /** Exclusive create of one protocol file holding `body`; throws
    * FileAlreadyExistsException when the path exists. */
  private def createProtocolFile(p: Path, body: String): Unit = {
    val out = protocolFs.create(p, false)
    try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Publish this mutation's commit record — once, immediately after
    * the conflict check and before the first rename, so a concurrent
    * writer's classification window (record-to-rename) is as small as
    * the protocol allows. A crash between record and rename leaves a
    * record for a mutation that never landed: later OVERLAPPING
    * writers inside the TTL window abort spuriously (conservative,
    * loud), and the rerun — whose begin-snapshot includes the orphan —
    * is unaffected.
    *
    * SELF-CHECK: the mutation's own intent record must still exist.
    * TTL pruning can never remove a record a within-TTL mutation
    * still needs (every record it must classify appeared after its
    * own begin, so it expires later) — the ONE hole is a mutation
    * whose begin-to-publish exceeds commitTtlMs: its conflict history
    * may have been pruned out from under it, and publishing anyway
    * could silently overwrite a pruned non-commuting writer's
    * generation. Its own intent record ages on exactly the same
    * clock, so "my intent is gone" detects the hole precisely, and
    * the abort is loud instead of the lost update being silent. */
  private def writeCommitRecord(t: MutationTicket): Unit =
    if (!t.recorded) {
      step(s"commit:${t.op}")
      if (!protocolFs.exists(new Path(commitLogPath, "i-" + t.token)))
        abortConflict(t, t.op,
          s"this mutation's begin-to-publish window outlived " +
          s"commitTtlMs (${LakehouseTable.commitTtlMs} ms) and its " +
          "conflict history may have been pruned — publishing could " +
          "silently overwrite a concurrent writer's generation")
      writeRecord("c-" + t.token, t.op, t.parts)
      t.recorded = true
    }

  private def commutes(t: MutationTicket, op: String,
                       parts: Set[String]): Boolean =
    (AppendOps(t.op) && AppendOps(op)) ||
    (PartitionScopedOps(t.op) && PartitionScopedOps(op) &&
      t.parts.intersect(parts).isEmpty) ||
    (RewriteOps(t.op) && AppendOps(op)) ||
    (AppendOps(t.op) && RewriteOps(op)) ||
    (AckOps(t.op) && AckOps(op) && t.parts.intersect(parts).isEmpty) ||
    (AckOps(t.op) && AppendOps(op)) ||
    (AppendOps(t.op) && AckOps(op))

  /** Publish-time conflict resolution. Fast path (the overwhelmingly
    * common sole-writer case): the epoch marker still holds our token
    * — one marker read, no listing. Otherwise classify every record
    * (intent or publish) that appeared since begin: any non-commuting
    * one aborts loudly (see the block comment above for why a mere
    * non-commuting INTENT must abort too); all-commuting with the
    * marker explained (its writer's intent or publish record present)
    * proceeds; an unexplained marker is a writer that predates the
    * record protocol or a foreign stamp — bounded retry, then the
    * loud abort. */
  private def resolveConflictsOrAbort(t: MutationTicket,
                                      op: String): Unit = {
    var attempt = 0
    while (true) {
      val cur = schemaEpoch()
      if (cur == t.token || cur == t.token + ":pub") return
      val fresh = listCommitNames() - ("c-" + t.token) - ("i-" + t.token) --
        t.snapshot
      // classify each interleaved TOKEN once (its intent and publish
      // records carry the same body)
      fresh.map(_.drop(2)).foreach { tok =>
        val name = if (fresh.contains("c-" + tok)) "c-" + tok else "i-" + tok
        step(s"classify:$name")
        val (otherOp, otherParts) =
          try readCommit(name)
          catch {
            // the record appeared AFTER our begin yet is already gone:
            // only TTL pruning removes records, so it — and therefore
            // our own begin-to-publish window — outlived commitTtlMs.
            // Same hole writeCommitRecord's self-check guards; abort
            // with the same explanation instead of dying on a raw
            // FileNotFoundException from the commit-log path.
            case _: java.io.FileNotFoundException =>
              abortConflict(t, op,
                s"interleaved record $name was TTL-pruned before this " +
                s"writer could classify it — this mutation's " +
                s"begin-to-publish window outlived commitTtlMs " +
                s"(${LakehouseTable.commitTtlMs} ms) and its conflict " +
                "history is incomplete; publishing could silently " +
                "overwrite a concurrent writer's generation")
          }
        if (!commutes(t, otherOp, otherParts))
          abortConflict(t, op,
            s"a concurrent '$otherOp' " +
            (if (name.startsWith("c-")) "committed"
             else "is in flight (intent recorded)") +
            (if (otherParts.nonEmpty)
               s" touching {${otherParts.mkString(", ")}}" else "") +
            (if (t.parts.nonEmpty)
               s" while this writer touches {${t.parts.mkString(", ")}}"
             else ""))
      }
      // every interleaver commutes; is the marker's writer among
      // them? (the intent record is written before the begin stamp
      // and the publish record before any rename, so any token
      // observable here has its record visible — modulo the record
      // create/close window the bounded retry absorbs)
      val curTok = cur.stripSuffix(":pub")
      if (fresh.contains("i-" + curTok) || fresh.contains("c-" + curTok))
        return
      attempt += 1
      if (attempt >= LakehouseTable.conflictRetries)
        abortConflict(t, op,
          s"a concurrent writer (epoch $cur) began but published no " +
          "commit record within the retry window — unknown intent")
      Thread.sleep(LakehouseTable.conflictRetrySleepMs)
    }
  }

  private def abortConflict(t: MutationTicket, op: String,
                            why: String): Nothing =
    throw new java.util.ConcurrentModificationException(
      s"$op on $path: $why — non-commuting concurrent mutations " +
      "violate the single-writer contract (only append∥append and " +
      "disjoint-partition upsert/replace/drop are auto-merged). This " +
      "mutation aborted BEFORE its publish rename: the live table " +
      "holds the other writer's generation; this writer's staged " +
      "data is an orphan for vacuum(). Re-run the mutation to apply " +
      "it to the current state.")

  /** Atomic full replace: write staged, then tombstone-swap. Repairs
    * first — EVERY mutating entry point does (overwrite, upsert,
    * appendBatch), which maintains the invariant that no tombstone
    * survives past the start of the next write. Without it, a stale
    * partition tombstone could sit out a full replace and a later
    * repair would resurrect old-generation data into the new table. */
  def overwrite(df: DataFrame): Unit = overwrite(df, preShaped = false)

  /** [[overwrite]] with the write-side rebalance disabled — for the
    * maintenance rewrites whose frames arrive deliberately shaped
    * (compaction's size-targeted repartition, clustering's range
    * layout); see [[write]]. */
  private def overwrite(df: DataFrame, preShaped: Boolean): Unit = {
    repairInterruptedSwaps()
    val t = beginMutation("overwrite")
    val tag = UUID.randomUUID().toString.take(8)
    val staged = s"$path.staged-$tag"
    write(df, staged, preShaped)
    swapIn(new Path(staged), new Path(path), new Path(s"$path.tombstone-$tag"),
           t, "overwrite")
    publishSchemaEpoch(t)
  }

  /** Roll back swaps a crashed writer left half-done. A tombstone whose
    * live target is MISSING marks a crash inside the swap's rename gap:
    * restoring it returns the table to its pre-write state, and the
    * idempotent batch replay then re-applies the write — this is what
    * makes "re-run the batch" a true recovery story for both overwrite
    * and the per-partition merge (whose merged slice is derived from
    * live data and so cannot repair itself). A tombstone whose target
    * EXISTS is a completed swap's leftover (single-writer invariant)
    * and is dropped. Invoked automatically before merges and by
    * [[vacuum]]. Returns the actions taken. */
  def repairInterruptedSwaps(): Seq[String] = {
    val live = new Path(path)
    val parent = live.getParent
    if (parent == null || !fs.exists(parent)) return Nil
    // commit-log hygiene (not a protocol step — no fault-injection
    // seam): records only exist to classify interleavers inside a
    // live mutation's begin-to-publish window, so anything older than
    // the TTL (≫ any sane mutation duration) is dead weight. Pruning
    // here bounds the log at O(mutations per TTL window) regardless
    // of table lifetime. Pruning is SAFE for any within-TTL mutation:
    // every record it must classify appeared after its own begin, so
    // it expires later than the mutation's own intent record — and a
    // mutation that outlives the TTL detects its pruned intent at
    // publish and aborts loudly ([[writeCommitRecord]]'s self-check)
    // instead of merging over a hidden conflict. Fold rewrite
    // records (`rw-`) are exempt: they are deleted explicitly when
    // the fold completes, and a crash-orphaned one is consumed by
    // [[repairFoldRewrites]] below — TTL-pruning one mid-crash would
    // strand duplicate input files forever.
    val cl = new Path(commitLogPath)
    if (protocolFs.exists(cl)) {
      val cutoff = System.currentTimeMillis() - LakehouseTable.commitTtlMs
      protocolFs.listStatus(cl).iterator
        .filter(s => !s.getPath.getName.startsWith("rw-"))
        .filter(_.getModificationTime < cutoff)
        .foreach(s => protocolFs.delete(s.getPath, false))
    }
    val foldActions = repairFoldRewrites()
    val prefix = live.getName + ".tombstone-"
    val actions = fs.listStatus(parent).toSeq.map(_.getPath)
      .filter(_.getName.startsWith(prefix))
      .map { ts =>
        // "<tag>" (8-char hex) = whole table; "<tag>-<child>" = one
        // partition dir of a per-partition merge
        val rest = ts.getName.drop(prefix.length)
        val target = if (rest.length <= 8) live else new Path(path, rest.drop(9))
        if (!fs.exists(target)) {
          renameOrFail(ts, target); s"restored:${target.getName}"
        } else {
          step(s"delete:${ts.getName}")
          fs.delete(ts, true); s"dropped:${ts.getName}"
        }
      }
    // a RESTORE changes the live file set relative to any manifest or
    // MV registration captured while the partition sat in its
    // tombstone (stats written mid-crash-window omit the restored
    // files; a cached summary relation predates them) — a repair that
    // restored anything must invalidate derived data exactly like the
    // mutators do, or readPruned/readBloomFiltered silently drop the
    // restored rows. Dropped (superseded) tombstones change nothing
    // live, so they skip the invalidation.
    if ((actions ++ foldActions).exists(_.startsWith("restored:")))
      { invalidateFileStats(); () }
    foldActions ++ actions
  }

  /** Recover crash-interrupted [[rewriteFold]] mutations from their
    * `rw-<tag>` records. The fold's commit point is the rename that
    * lands `compacted-<tag>` into the live dir:
    *
    *   - landed → roll FORWARD: delete any recorded input entry still
    *     present (the crashed writer died mid-delete-loop; its rows
    *     live on inside the compacted dir), then drop the record. A
    *     reader between the crash and this repair sees those inputs
    *     TWICE — the fold's documented duplicate window. Safe to run
    *     beside a LIVE fold: it performs exactly the deletes the fold
    *     itself is performing (idempotent).
    *   - not landed AND the record is older than commitTtlMs → roll
    *     BACK: nothing visible ever changed (the staged rewrite is an
    *     orphan for [[vacuum]]); drop the record.
    *   - not landed and YOUNG → leave the record alone. A commuting
    *     concurrent writer repairs before ITS mutation while a fold
    *     is live, and the fold's record-to-landing window (one
    *     rename; the staged write precedes the record) must not have
    *     its crash protection stolen: dropping the record and then
    *     having the fold crash after landing would strand the
    *     duplicate inputs with nothing left to clean them. A
    *     crash-orphaned young record holds nothing visible — it ages
    *     out and the NEXT repair past the TTL rolls it back.
    *
    * All paths are idempotent under a crash mid-repair. */
  private def repairFoldRewrites(): Seq[String] = {
    val cl = new Path(commitLogPath)
    if (!protocolFs.exists(cl)) return Nil
    protocolFs.listStatus(cl).toSeq.filter(_.getPath.getName.startsWith("rw-"))
      .flatMap { st =>
        val tag = st.getPath.getName.drop(3)
        // the owning fold deletes its record on completion — a record
        // listed but gone by the read lost that race, nothing to do
        val inputs =
          try Some(readCommit(st.getPath.getName)._2)
          catch { case _: java.io.FileNotFoundException => None }
        if (inputs.isEmpty) Nil
        else if (fs.exists(new Path(path, s"compacted-$tag"))) {
          // same ack-twin backstop as the live fold's delete loop: a
          // recorded input batch whose `done-` twin exists (and was
          // not itself recorded) was renamed by an ack AFTER the
          // fold's snapshot — the twin duplicates rows already inside
          // compacted-<tag>, whether the crashed fold deleted the
          // batch name first or not
          val twins = inputs.get.toSeq
            .filter(_.startsWith("batch-"))
            .map(n => "done-" + n.drop(6))
            .filter(d => !inputs.get.contains(d) &&
                         fs.exists(new Path(path, d)))
          val dels = inputs.get.toSeq.filter(n =>
            fs.exists(new Path(path, n))) ++ twins
          dels.foreach { n =>
            step(s"delete:$n")
            fs.delete(new Path(path, n), true)
          }
          step(s"delete:rw-$tag")
          protocolFs.delete(st.getPath, false)
          // a completed delete changes the visible file set relative
          // to anything derived mid-crash — same invalidation rule
          // as a tombstone restore
          dels.map(n => s"restored:fold-dedup-$n") :+ s"completedFold:$tag"
        } else if (st.getModificationTime <
                   System.currentTimeMillis() - LakehouseTable.commitTtlMs) {
          step(s"delete:rw-$tag")
          protocolFs.delete(st.getPath, false)
          Seq(s"rolledBackFold:$tag")
        } else Nil // young land-less record: a live fold owns it
      }
  }

  /** Blind append (reference S5 semantics): stage the batch to a
    * sibling dir, then rename each staged part file into the live
    * tree (creating partition dirs as needed). Not atomic across
    * files — a crash mid-rename leaves a partial batch visible and a
    * blind rerun duplicates rows; the pipeline's append-only tables
    * (bronze landing, quarantine) use [[appendBatch]] instead. The
    * staging is what makes concurrent appends actually commute: a
    * direct `mode("append")` write would share `path/_temporary`
    * between two concurrent FileOutputCommitter jobs, and the first
    * job's commitJob deletes `_temporary` recursively — wiping the
    * second job's committed task outputs, which then "succeeds"
    * having appended nothing. Staged writes each own their staging
    * dir, and the renamed part files carry the write job's UUID in
    * their names, so two appends can never touch the same path. */
  def append(df: DataFrame): Unit = {
    // repair FIRST, like every other mutator: the per-file renames
    // re-create a missing live dir, so appending over an unrepaired
    // full-table tombstone would make the next repair treat the
    // crashed swap as completed and drop the tombstone — losing the
    // entire pre-crash table
    repairInterruptedSwaps()
    val t = beginMutation("append")
    val tag = UUID.randomUUID().toString.take(8)
    val staged = s"$path.staged-$tag"
    write(df, staged)
    // the conflict check runs at the last driver-side point before
    // files land
    resolveConflictsOrAbort(t, "append")
    writeCommitRecord(t)
    moveTreeInto(new Path(staged), new Path(path))
    step(s"delete:staged-$tag")
    fs.delete(new Path(staged), true)
    publishSchemaEpoch(t)
  }

  /** Rename every data file under `src` to the same relative path
    * under `dst`, creating intermediate (partition) dirs. `_SUCCESS`
    * and other hidden entries stay behind for the staging-dir
    * delete. */
  private def moveTreeInto(src: Path, dst: Path): Unit = {
    fs.mkdirs(dst)
    fs.listStatus(src).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("_") || n.startsWith(".")) ()
      else if (st.isDirectory) moveTreeInto(st.getPath, new Path(dst, n))
      else renameOrFail(st.getPath, new Path(dst, n))
    }
  }

  /** Crash-safe append for unpartitioned append-only tables: the batch
    * is written to a sibling staging dir, then becomes visible through
    * ONE atomic directory rename into the live path — a failure at any
    * earlier point leaves only an orphaned staging dir, never a
    * partially visible batch. This is what makes bronze's
    * file-level-idempotence contract sound: a source_file can only be
    * observed in bronze once ALL of its rows are durable, so the rerun
    * anti-join on seen files never skips a half-written file. */
  def appendBatch(df: DataFrame, bucket: String = ""): String = {
    require(partitionCols.isEmpty,
      s"appendBatch is for unpartitioned append-only tables: $path")
    require(bucket.isEmpty ||
            (!bucket.contains("/") && !bucket.contains("=") &&
             !bucket.startsWith("batch-") && !bucket.startsWith("done-") &&
             !bucket.startsWith(".")),
      s"bucket must be a single plain dir name, got '$bucket'")
    // repair BEFORE mkdirs: recreating the live dir over an unrepaired
    // full-table tombstone would make a later repair treat the swap as
    // completed and drop the tombstone — losing the pre-crash rows
    repairInterruptedSwaps()
    val t = beginMutation("appendBatch")
    val tag = UUID.randomUUID().toString.take(8)
    val staged = s"$path.appendstage-$tag"
    write(df, staged)
    val parent = if (bucket.isEmpty) path else s"$path/$bucket"
    fs.mkdirs(new Path(parent))
    val batchDir = s"$parent/batch-$tag"
    resolveConflictsOrAbort(t, "appendBatch")
    writeCommitRecord(t)
    renameOrFail(new Path(staged), new Path(batchDir))
    publishSchemaEpoch(t)
    batchDir
  }

  /** Batch dirs landed by [[appendBatch]] that no consumer has yet
    * acknowledged via [[ackBatch]] — absolute paths, tag-sorted. The
    * at-least-once handshake for a downstream stage consuming an
    * append-only table: land → process → ack. A consumer that crashes
    * between processing a batch and acking it finds the batch here
    * again on the next run — without this, a landing whose downstream
    * stage died would be invisible forever behind the landing's own
    * idempotence (re-delivering the same source file is a no-op by
    * design, so nothing would ever re-present the stranded rows).
    * Single-consumer, matching the table's single-writer contract. */
  def unackedBatches(bucket: String = ""): Seq[String] = {
    val parent = new Path(if (bucket.isEmpty) path else s"$path/$bucket")
    if (!fs.exists(parent)) return Nil
    fs.listStatus(parent).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("batch-"))
      .map(_.toString).sorted
  }

  /** Acknowledge a processed batch: one atomic dir rename
    * batch-<tag> → done-<tag>. The rows STAY in the table ([[read]]
    * lists recursively, name-agnostic) — only the [[unackedBatches]]
    * listing forgets the batch. Ack AFTER the downstream effects are
    * durable: a crash before the ack reprocesses the batch (safe when
    * downstream is idempotent — upserts, dedup-tolerant appends); a
    * crash after it never loses data, only the handshake.
    *
    * A full OCC mutation, not a bare rename, for two reasons:
    * (1) the rename MOVES every file in the batch, so any cached
    * file-stats / bloom manifest written while the batch was live
    * points at paths that no longer exist — the begin-stamp's
    * [[invalidateFileStats]] is load-bearing, exactly as for every
    * other mutator; (2) it must conflict LOUDLY with a concurrent
    * fold rewrite ([[compact]]): the fold's snapshot may hold this
    * batch, and racing the rename against the fold's delete loop
    * silently duplicates the batch's rows (rename wins → the `done-`
    * copy survives beside the fold output) or strands the handshake
    * (delete wins → the ack crashes mid-protocol). Under OCC the
    * later beginner proceeds and the earlier publisher aborts —
    * always loud, never silent. Acks commute with appends and with
    * acks of other batches.
    *
    * A MISSING batch dir is a silent no-op, not an error: the only
    * protocol moves that remove a batch dir are a completed fold
    * (rows preserved inside `compacted-*`) and a prior ack's rename —
    * in both the ack's goal (never re-present the batch) already
    * holds, and the at-least-once consumer retrying its ack after a
    * crash must not die on it. */
  def ackBatch(batchDir: String): Unit = {
    val p = new Path(batchDir)
    require(p.getName.startsWith("batch-"), s"not a batch dir: $batchDir")
    repairInterruptedSwaps()
    // scope = the batch's table-root-relative path, so same-batch acks
    // conflict while different buckets' same-tag batches stay disjoint
    val rel =
      if (p.getParent.toString.stripSuffix("/") ==
          new Path(path).toString.stripSuffix("/")) p.getName
      else s"${p.getParent.getName}/${p.getName}"
    val t = beginMutation("ackBatch", Set(rel))
    resolveConflictsOrAbort(t, "ackBatch")
    writeCommitRecord(t)
    if (fs.exists(p)) {
      step(s"rename:${p.getName}->done-${p.getName.drop(6)}")
      if (!fs.rename(p, new Path(p.getParent, "done-" + p.getName.drop(6))))
        // the one benign failure: a fold that slipped past our begin
        // committed and removed the batch between the exists check and
        // the rename (its delete loop also swallows our `done-` copy
        // had WE won the race) — anything else is a real error
        require(!fs.exists(p),
          s"rename $p -> done-${p.getName.drop(6)} failed")
    }
    publishSchemaEpoch(t)
  }

  // ── buckets: protocol-level partitioning for appendBatch tables ────
  // A bucket is a named child dir batches land under (e.g. one per
  // source feeding a dead-letter table). It buys the two things hive
  // partitioning would — pruned reads and bucket-scoped rewrites —
  // while keeping the batch-dir atomic-rename contract hive-partitioned
  // appends can't offer (a multi-partition append has no single dir to
  // rename). The bucket key stays a DATA column; the recursive-lookup
  // reader sees bucketed and unbucketed batches uniformly.

  /** Pruned read of ONE bucket (None when it was never written).
    * Data-file presence semantics, same as [[exists]]: a crash between
    * appendBatch's mkdirs and its batch rename leaves an empty bucket
    * dir, and dir-presence semantics would wedge every later read
    * ('Unable to infer schema') until hand-cleaned. */
  def readBucket(bucket: String): Option[DataFrame] = {
    val p = new Path(s"$path/$bucket")
    if (!hasDataFiles(p)) None
    else Some(spark.read.option("recursiveFileLookup", "true")
                .parquet(p.toString))
  }

  /** Atomic bucket-scoped replace — the per-partition tombstone swap
    * applied to a bucket dir, so rewriting one bucket is O(bucket),
    * never O(table). An empty `df` still swaps in (the staged write
    * keeps a schema-only file), preserving readability and the
    * single-protocol crash story. */
  def replaceBucket(bucket: String, df: DataFrame): Unit = {
    require(bucket.nonEmpty && !bucket.contains("/") &&
            !bucket.contains("=") && !bucket.startsWith("batch-") &&
            !bucket.startsWith("done-") && !bucket.startsWith("."),
      s"bucket must be a single plain dir name, got '$bucket'")
    // same guard as appendBatch: on a PARTITIONED table the staged
    // write would itself be partitioned, and swapping that tree in as
    // path/<bucket>/ plants col= dirs beside the live ones — partition
    // discovery then fails with conflicting structures, far from here
    require(partitionCols.isEmpty,
      s"replaceBucket is for unpartitioned tables; $path is partitioned " +
      s"by ${partitionCols.mkString(",")}")
    repairInterruptedSwaps()
    val t = beginMutation("replaceBucket")
    val tag = UUID.randomUUID().toString.take(8)
    val staged = s"$path.staged-$tag"
    write(df, staged)
    swapIn(new Path(staged), new Path(s"$path/$bucket"),
           new Path(s"$path.tombstone-$tag-$bucket"), t, "replaceBucket")
    publishSchemaEpoch(t)
  }

  /** Delta-MERGE parity (S6): dedup the batch on pk (reference
    * dropDuplicates precedes MERGE, glue_etl.py:395-404), update-wins
    * merge with the current contents, atomic swap. First batch against
    * a missing table degrades to the initial overwrite, mirroring the
    * reference's try-MERGE/catch-overwrite flow. Idempotent.
    *
    * Single-partition-column tables take the partition-scoped path:
    * only the partitions the batch touches are read, merged, and
    * swapped — upsert work is O(affected partitions), not O(table).
    * That difference is what makes per-batch MERGE viable on a 100 TB
    * date-partitioned silver table where a full rewrite would re-shuffle
    * years of history for a one-day batch.
    *
    * CONTRACT of the partition-scoped path (the standard
    * non-global-index constraint, cf. Hudi record-key/partition-path):
    * a pk's partition value must be stable across re-deliveries. A
    * correction that MOVES a pk to a different partition would leave
    * the old row in the untouched partition; tables that cannot
    * guarantee stability should stay unpartitioned (full-merge path)
    * or carry the partition value inside the pk. */
  def upsert(updates: DataFrame): Unit = {
    repairInterruptedSwaps()
    // persisted: THREE actions read the deduped batch (the isEmpty
    // probe, the partition-values collect, and the merged staged
    // write) — unpersisted, each re-runs the upstream batch plan plus
    // the dedup shuffle, tripling per-microbatch cost on the streaming
    // upsert hot path (EventsPipeline calls this every batch)
    val deduped = updates.dropDuplicates(pk).persist()
    try {
      // merging an empty batch is a no-op; on a missing table it must
      // not create one — an empty PARTITIONED overwrite writes a dir
      // holding only _SUCCESS, which wedges every later read's schema
      // inference. The guard lives here so every caller gets it.
      if (deduped.isEmpty) return
      if (!exists) overwrite(deduped)
      else if (partitionCols.size == 1) {
        assertPartitionedLayout()
        upsertPartitions(deduped)
      }
      else overwrite(Upsert.merge(read, deduped, pk)) // pre-deduped above
    } finally deduped.unpersist(blocking = false)
  }

  /** Mixed-layout guard for partition-scoped mutators: a table
    * written under an earlier UNPARTITIONED layout (flat files or
    * batch dirs at the root) cannot be incrementally mutated as a
    * partitioned one — the write would lay `col=` dirs next to the
    * flat data and wedge every later read's partition discovery with
    * conflicting structures (the failure would surface mid-stream,
    * far from its cause). Fail at the mutation with the migration
    * path instead. */
  private def assertPartitionedLayout(): Unit = {
    val pc = partitionCols.head
    val stray = fs.listStatus(new Path(path)).exists { st =>
      val n = st.getPath.getName
      !n.startsWith(s"$pc=") && !n.startsWith("_") && !n.startsWith(".") &&
        ((st.isFile && n.endsWith(".parquet")) ||
         (st.isDirectory && hasDataFiles(st.getPath)))
    }
    require(!stray,
      s"$path holds data outside $pc= partition dirs (written by an " +
      "unpartitioned layout?) — read it with the old layout and " +
      "overwrite() through this partitioned table to migrate")
  }

  /** Partition-scoped MERGE: merge the batch with ONLY its affected
    * partitions (partition pruning keeps the read to those dirs), write
    * the merged slice staged, then tombstone-swap each affected
    * partition dir individually. Each partition's swap is atomic;
    * cross-partition visibility is sequential (the Hive
    * dynamic-partition-overwrite contract). A crash mid-sequence leaves
    * the interrupted partition in its tombstone; the next upsert's
    * [[repairInterruptedSwaps]] restores it and the idempotent batch
    * replay re-applies the merge. The affected-value collect is bounded
    * by the batch's partition count (e.g. dates per delivery), not row
    * count. */
  private def upsertPartitions(deduped: DataFrame): Unit = {
    val pc = partitionCols.head
    // the affected-value collect reads only the BATCH (not the live
    // table), so it runs BEFORE beginMutation — the values become the
    // ticket's partition set, and the begin-snapshot still precedes
    // every live-state read (the merge's `read` below), which is what
    // makes the disjointness classification sound: any commit a
    // concurrent writer lands after our snapshot is classified at our
    // publish, and a disjoint one cannot have changed the partitions
    // our merge read.
    val values = deduped.select(col(pc)).distinct().collect().map(_.get(0))
    // null AND empty-string partition values both land in
    // __HIVE_DEFAULT_PARTITION__ but never match the isInCollection
    // prune — the swap would then REPLACE the live default partition
    // instead of merging with it
    require(!values.contains(null) && !values.contains(""),
      s"partition-scoped upsert requires non-null, non-empty $pc values: $path")
    val t = beginMutation("upsert", partitionDirNames(values.toSeq))
    val affected = read.filter(col(pc).isInCollection(values.toSeq))
    val merged = Upsert.merge(affected, deduped, pk) // pre-deduped by upsert()
    swapStagedPartitions(merged, t, "upsert")
  }

  /** Canonical `pc=value` dir-name set for a ticket's partition
    * scope — the same escaping Spark's partitioned writer uses, so
    * two writers' sets compare in dir-name space regardless of the
    * value's runtime type. */
  private def partitionDirNames(values: Seq[Any]): Set[String] = {
    val pc = partitionCols.head
    values.iterator.map(v => s"$pc=" + org.apache.spark.sql.catalyst
      .catalog.ExternalCatalogUtils
      .escapePathName(partitionValueString(v))).toSet
  }

  /** Stage `slice` partitioned, then tombstone-swap each of its
    * partition dirs into the live table. Shared by the merge path
    * ([[upsertPartitions]]), the replace path ([[replacePartitions]])
    * and the partition-scoped compaction ([[compactPartitions]],
    * which pre-shapes its slice); each partition's swap is atomic. */
  private def swapStagedPartitions(slice: DataFrame, ticket: MutationTicket,
                                   op: String,
                                   preShaped: Boolean = false): Unit = {
    val pc = partitionCols.head
    val tag = UUID.randomUUID().toString.take(8)
    val staged = s"$path.staged-$tag"
    write(slice, staged, preShaped)
    val children = fs.listStatus(new Path(staged)).toSeq
      .map(_.getPath).filter(_.getName.startsWith(s"$pc="))
    children.foreach { child =>
      // per-child conflict check: a non-commuting interleaver
      // mid-SEQUENCE aborts the remaining partition swaps too, not
      // just the first (the common path is one marker read per child)
      swapIn(child, new Path(path, child.getName),
             new Path(s"$path.tombstone-$tag-${child.getName}"), ticket, op)
    }
    step(s"delete:staged-$tag")
    fs.delete(new Path(staged), true)
    publishSchemaEpoch(ticket)
  }

  /** Partition-scoped REPLACE (Delta `replaceWhere` shape): every
    * partition value present in `slice` is atomically swapped to
    * exactly the slice's rows for it; partitions absent from the slice
    * are untouched. Use this when the caller recomputed whole
    * partitions (summary refresh, backfill); use [[upsert]] to merge
    * row-level changes instead. A partition cannot be replaced *to
    * empty* through this (a value with no rows writes no dir) — that
    * is a partition drop, a different operation on purpose. */
  def replacePartitions(slice: DataFrame): Unit = {
    require(partitionCols.size == 1,
      s"replacePartitions needs a single-column-partitioned table: $path")
    repairInterruptedSwaps()
    if (exists) assertPartitionedLayout()
    val pc = partitionCols.head
    // the slice is often an aggregation (summary refresh); persist it
    // across the two actions here (values collect + staged write) or
    // that aggregation runs twice
    val cached = slice.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // values from the caller's slice, not live state — collected
      // before beginMutation so they seed the ticket's partition set
      // (see upsertPartitions for the ordering argument)
      val values = cached.select(col(pc)).distinct().collect().map(_.get(0))
      require(!values.contains(null) && !values.contains(""),
        s"replacePartitions requires non-null, non-empty $pc values: $path")
      if (values.isEmpty) return
      if (!exists) { overwrite(cached); return }
      val t = beginMutation("replacePartitions",
                            partitionDirNames(values.toSeq))
      swapStagedPartitions(cached, t, "replacePartitions")
    } finally { cached.unpersist(); () }
  }

  /** Drop whole partitions by value — the delete-capable complement of
    * [[replacePartitions]] (which by design cannot replace a partition
    * *to empty*: a value with no rows writes no dir to swap in). Used
    * by summary maintenance when a CDC delete empties a partition's
    * source rows: the stale summary dir must go, and a dir delete is
    * the only correct operation. Dir names follow Spark's own
    * partitioned-write escaping (`ExternalCatalogUtils.escapePathName`
    * over the value's string form — dates stringify to the yyyy-MM-dd
    * the writer used). Missing dirs are no-ops; each delete is atomic
    * per partition, same visibility contract as the partition swap. */
  def dropPartitions(values: Seq[Any]): Unit = {
    require(partitionCols.size == 1,
      s"dropPartitions needs a single-column-partitioned table: $path")
    require(!values.contains(null) &&
            !values.exists(v => String.valueOf(v).isEmpty),
      s"dropPartitions requires non-null, non-empty values: $path")
    repairInterruptedSwaps()
    val t = beginMutation("dropPartitions", partitionDirNames(values))
    val pc = partitionCols.head
    values.foreach { v =>
      val dir = s"$pc=" + org.apache.spark.sql.catalyst.catalog
        .ExternalCatalogUtils.escapePathName(partitionValueString(v))
      resolveConflictsOrAbort(t, "dropPartitions")
      writeCommitRecord(t)
      step(s"delete:$dir")
      fs.delete(new Path(path, dir), true)
    }
    publishSchemaEpoch(t)
  }

  /** The string form Spark's partitioned writer used for the dir name.
    * String.valueOf matches for strings, numbers, and java.sql.Date —
    * but NOT java.sql.Timestamp, whose toString carries a ".0" the
    * writer never emits ("2024-01-01 10:00:00.0" vs dir value
    * "2024-01-01 10:00:00"): a raw toString would make the delete a
    * silent no-op and leave the stale partition serving. Fractional
    * seconds follow the writer too: micros, trailing zeros trimmed.
    * (Assumes session and JVM timezones agree — the engine pins both
    * to UTC.) */
  private def partitionValueString(v: Any): String = v match {
    case t: java.sql.Timestamp =>
      val ldt = t.toLocalDateTime
      val base = ldt.format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss"))
      if (ldt.getNano == 0) base
      else base + "." + f"${ldt.getNano / 1000}%06d"
        .reverse.dropWhile(_ == '0').reverse
    case _ => String.valueOf(v)
  }

  /** Catalog registration (S7): session-catalog external table.
    * Unpartitioned tables register with recursive lookup so SQL reads
    * see appendBatch's batch-dir layout exactly like [[read]] does —
    * without it the catalog table would silently show zero rows for a
    * table the DataFrame API reads fine. */
  def registerAs(name: String): Unit = {
    // per-layer catalog databases (reference config/settings.py:115-121
    // registers one database per medallion layer): a `db.table` name
    // creates its database on first use, so bronze/silver/gold render
    // as navigable namespaces instead of flat default-db names
    val parts = name.split('.')
    require(parts.length <= 2 && parts.forall(_.nonEmpty),
      s"table name must be 'table' or 'db.table', got '$name'")
    if (parts.length == 2)
      spark.sql(s"CREATE DATABASE IF NOT EXISTS ${parts(0)}")
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val opts = if (partitionCols.isEmpty)
      " OPTIONS (recursiveFileLookup 'true')" else ""
    spark.sql(
      s"CREATE TABLE $name USING PARQUET$opts LOCATION '$path'")
    // a partitioned external table starts with an EMPTY partition list
    // in the catalog — without recovery every SELECT silently returns
    // zero rows (the classic MSCK trap)
    if (partitionCols.nonEmpty)
      spark.sql(s"MSCK REPAIR TABLE $name")
    ()
  }

  /** CBO statistics (SURVEY §4): the reference enables
    * spark.sql.cbo + histograms (glue_etl.py:538-539); stats must be
    * collected for the optimizer to use them. */
  def analyze(name: String): Unit = {
    registerAs(name)
    spark.sql(s"ANALYZE TABLE $name COMPUTE STATISTICS FOR ALL COLUMNS")
    ()
  }

  /** Small-file compaction toward a target file size (reference
    * compaction strategy: bronze 128 MB / silver 256 MB / gold 512 MB,
    * docs/data_model.md:304-308; Delta autoCompact parity). Lists the
    * live files, rewrites into ceil(bytes/target) files via an atomic
    * staged swap. Run after many small appends (bronze batch dirs) or
    * fine-grained upsert batches. Flattens batch-dir layout (the
    * source_file lineage lives in a DATA column, so bronze's
    * file-level idempotence survives — and on a handshake table,
    * ack everything first: folding a not-yet-acked batch removes it
    * from [[unackedBatches]], and a RACING ack is excluded loudly by
    * the OCC classification, never merged silently). Tables using
    * [[readBucket]] buckets should compact per bucket with
    * [[replaceBucket]] instead — the fold SKIPS bucket dirs (see
    * [[foldEligible]]), so a whole-table compact leaves them as-is. */
  def compact(targetFileBytes: Long): Unit = {
    // repair BEFORE snapshotting: `read` lists files eagerly, so a
    // partition still sitting in a tombstone would be absent from the
    // rewrite and the later swap would silently delete it for good
    repairInterruptedSwaps()
    if (!exists) return
    val live = new Path(path)
    // size from the entries the fold will actually consume (buckets
    // are skipped), falling back to the whole tree for the
    // partitioned (strict-overwrite) path below
    // retryVanishedRead: getContentSummary on an entry a concurrent
    // fold deletes between the listing and the summary call throws
    // FileNotFoundException; re-listing sizes the surviving entries
    // (the sizing is advisory — it only picks the output file count)
    val bytes = LakehouseTable.retryVanishedRead() {
      if (partitionCols.isEmpty)
        fs.listStatus(live).iterator.filter(foldEligible)
          .map(st => if (st.isFile) st.getLen
                     else fs.getContentSummary(st.getPath).getLength).sum
      else fs.getContentSummary(live).getLength
    }
    val nFiles = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    if (partitionCols.isEmpty)
      // the fold protocol: commutes with concurrent appends (the
      // reference's autoCompact runs beside its scheduled appends by
      // design, config/settings.py:124-127)
      rewriteFold("compact", _.repartition(nFiles))
    else
      // partitioned tables keep the strict whole-table swap (a
      // concurrent mutator aborts loudly): their compaction rewrites
      // partition DIRS in place, which the fold's flat
      // `compacted-<tag>` landing cannot express. They also cluster
      // on the partition key so each task holds whole partitions — a
      // plain repartition(n) before the partitionBy write would
      // scatter every partition across n tasks and emit up to n
      // files PER partition, the opposite of compaction.
      overwrite(read.repartition(nFiles,
                  partitionCols.map(org.apache.spark.sql.functions.col): _*),
                preShaped = true)
  }

  /** Partition-SCOPED compaction: rewrite only the named partitions
    * toward the target file size, each swapped atomically through the
    * same tombstone protocol as [[replacePartitions]] — the
    * maintenance move an INGESTING date-partitioned table actually
    * runs (compact yesterday's fragmented partitions while today's
    * merges land; the reference's autoCompact runs beside its
    * scheduled writes, config/settings.py:124-127). Classified
    * partition-scoped, so it COMMUTES with upsert / replacePartitions
    * / dropPartitions on DISJOINT partition sets and aborts loudly on
    * overlap or a whole-table op — content preservation makes the
    * disjoint-set argument identical to a replace's. Work is
    * O(named partitions), never O(table). */
  def compactPartitions(values: Seq[Any],
                        targetFileBytes: Long = 256L * 1024 * 1024): Unit = {
    require(partitionCols.size == 1,
      s"compactPartitions needs a single-column-partitioned table: $path")
    require(values.nonEmpty, "compactPartitions: no partitions named")
    require(!values.contains(null) &&
            !values.exists(v => String.valueOf(v).isEmpty),
      s"compactPartitions requires non-null, non-empty values: $path")
    repairInterruptedSwaps()
    // same no-op-on-missing contract as compact/optimize*: a
    // never-written table has nothing to compact (and
    // assertPartitionedLayout would throw on the missing dir)
    if (!exists) return
    assertPartitionedLayout()
    val pc = partitionCols.head
    val dirNames = partitionDirNames(values)
    // size the rewrite from the named dirs only (missing dirs weigh 0
    // and simply write no slice rows — a no-op swap set)
    val bytes = dirNames.iterator.map { d =>
      val p = new Path(path, d)
      if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    }.sum
    if (bytes == 0L) return
    val nFiles = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    val t = beginMutation("compactPartitions", dirNames)
    // cluster on the partition key so each task holds whole
    // partitions — same argument as whole-table compact: a plain
    // repartition(n) would emit up to n files PER partition
    val slice = read.filter(col(pc).isInCollection(values))
      .repartition(nFiles, col(pc))
    swapStagedPartitions(slice, t, "compactPartitions", preShaped = true)
  }

  /** Append-commuting content-preserving rewrite for UNPARTITIONED
    * tables — Delta's OPTIMIZE-beside-appends reality without a
    * transaction log. The rewrite's INPUT is a file snapshot taken at
    * begin; an interleaved append's uniquely-named batch dir / part
    * files are outside it, so the fold neither reads nor removes them
    * (see [[RewriteOps]] and the conflict-classification block).
    *
    * Protocol: stage the shaped rewrite of exactly the snapshot, then
    * (1) write a durable `rw-<tag>` record naming the input entries,
    * (2) rename the staged dir into the live tree as
    * `compacted-<tag>` — the COMMIT POINT; the live dir itself is
    * never renamed away, which is what makes a concurrent
    * appendBatch's mkdirs+rename race-free against this — and
    * (3) delete each input entry. Readers between (2) and the end of
    * (3) may observe input rows TWICE (every row stays visible at
    * least once; nothing is ever hidden or lost — chosen over a
    * hide-first ordering whose crash would leave rows invisible until
    * repair). A crash anywhere resolves through
    * [[repairFoldRewrites]]: forward past the commit point (finish
    * the deletes), backward before it (nothing visible ever changed).
    * Cross-entry visibility is sequential, the same contract as the
    * per-partition swap sequence. */
  /** A root entry the fold may consume: any plain FILE, or a dir the
    * protocol FREEZES once created — `batch-*` / `done-*`
    * (appendBatch renames them in whole; nothing ever writes files
    * INSIDE an existing one) and `compacted-*` (written once by a
    * previous fold). Every other dir is a BUCKET ([[appendBatch]]'s
    * bucket layout): a concurrent bucketed append lands new batch
    * dirs inside it, so a recursive delete of the bucket as one
    * snapshot entry would destroy batches that postdate the snapshot
    * — silent data loss under the fold's own append∥fold auto-merge.
    * Buckets are therefore skipped (left intact, still readable);
    * bucket-scoped rewrites are [[replaceBucket]]'s job, per its
    * contract. */
  private def foldEligible(st: org.apache.hadoop.fs.FileStatus): Boolean = {
    val n = st.getPath.getName
    !n.startsWith("_") && !n.startsWith(".") &&
    (st.isFile || n.startsWith("batch-") || n.startsWith("done-") ||
     n.startsWith("compacted-"))
  }

  private def rewriteFold(what: String,
                          shape: DataFrame => DataFrame): Unit = {
    // pre-check OUTSIDE the mutation: a table whose root holds no
    // eligible entry (freshly created, or buckets-only) has nothing
    // to fold — return without burning an intent record, and without
    // handing Spark an empty path list to choke on
    if (!fs.listStatus(new Path(path)).exists(foldEligible)) return
    val t = beginMutation("compactFold")
    // input snapshot AFTER begin (the begin-snapshot must precede
    // every live-state read): root-level visible entries
    val inputNames = fs.listStatus(new Path(path)).toSeq
      .filter(foldEligible)
      .map(_.getPath.getName)
    if (inputNames.isEmpty) return // raced away; intent ages out
    val tag = t.token.take(8)
    val staged = s"$path.staged-$tag"
    // vanished-input abort: between the snapshot listing above and the
    // staged write's execution, a concurrent rewrite (fold∥fold) or ack
    // can remove a snapshotted input — the staged job then dies with a
    // vanished-file error. That racer is a genuine non-commuting
    // interleaver this fold would have aborted on at publish time
    // anyway; surface the SAME loud ConcurrentModificationException
    // here instead of a raw Spark read failure (the OCC contract:
    // conflicting mutations abort loudly and contribute nothing).
    try {
      val snapshotDf = spark.read.option("recursiveFileLookup", "true")
        .schema(liveSchema)
        .parquet(inputNames.map(n => s"$path/$n"): _*)
      write(shape(snapshotDf), staged, preShaped = true)
    } catch {
      case e: Throwable if LakehouseTable.isVanishedFileRace(e) =>
        fs.delete(new Path(staged), true)
        abortConflict(t, what,
          "a concurrent rewrite or ack consumed part of this fold's " +
          "input snapshot mid-stage (the land-then-delete visibility " +
          "window) — the interleaver is non-commuting with a fold")
    }
    resolveConflictsOrAbort(t, what)
    writeCommitRecord(t)
    writeRecord(s"rw-$tag", "compactFold", inputNames.toSet)
    renameOrFail(new Path(staged), new Path(path, s"compacted-$tag"))
    inputNames.foreach { n =>
      step(s"delete:$n")
      fs.delete(new Path(path, n), true)
      // backstop for an ack that slipped through the residual
      // check-to-rename window: a `done-` twin of an input batch that
      // was NOT itself in the snapshot can only be that batch renamed
      // AFTER our snapshot (tags are unique, and an earlier ack would
      // have put the done- name in the snapshot instead) — its rows
      // are inside compacted-<tag>, so the twin is a pure duplicate
      if (n.startsWith("batch-")) {
        val twin = "done-" + n.drop(6)
        if (!inputNames.contains(twin)) {
          val tp = new Path(path, twin)
          if (fs.exists(tp)) {
            step(s"delete:$twin")
            fs.delete(tp, true)
          }
        }
      }
    }
    step(s"delete:rw-$tag")
    protocolFs.delete(new Path(commitLogPath, s"rw-$tag"), false)
    publishSchemaEpoch(t)
  }

  /** Spark-native approximation of OPTIMIZE ZORDER BY
    * (docs/etl_processes.md:382-385): range-repartition + in-partition
    * sort clusters the listed columns so parquet row-group min/max
    * stats become selective — the same data-skipping intent, no Delta
    * required. */
  def optimizeClustered(cols: Seq[String]): Unit = {
    repairInterruptedSwaps() // before the eager snapshot — see compact
    if (!exists) return
    // On a dir-partitioned table the partition key LEADS the range
    // keys: each task then holds a contiguous (partition, cols) slice,
    // so a partition's files cover disjoint col ranges and a task
    // rarely straddles partition dirs. Ranging on `cols` alone would
    // scatter every partition across all tasks — the partitionBy write
    // re-splits each task per partition value, re-fragmenting the
    // files a compaction just merged.
    val cs = (partitionCols ++ cols.filterNot(partitionCols.contains))
      .map(org.apache.spark.sql.functions.col)
    if (partitionCols.isEmpty)
      rewriteFold("optimizeClustered",
        _.repartitionByRange(cs: _*).sortWithinPartitions(cs: _*))
    else
      overwrite(read.repartitionByRange(cs: _*).sortWithinPartitions(cs: _*),
                preShaped = true)
  }

  /** TRUE multi-column Z-order (Delta `OPTIMIZE ZORDER BY` semantics,
    * docs/etl_processes.md:382-385): [[optimizeClustered]]'s
    * lexicographic order skips well on its FIRST column only — files
    * span the full range of every later column. Bit-interleaving
    * per-column rank buckets makes each file a small hyper-rectangle
    * in ALL listed dimensions, so [[readPruned]] skips on any of them.
    *
    * Mechanics: per column, 2^bits−1 range boundaries via
    * approxQuantile (driver artifact, (2^bits−1)·|cols| doubles —
    * model-scale, the Delta range-id convention); per row, the bucket
    * rank is an `aggregate` fold over the boundary literal and the
    * z-key interleaves rank bits arithmetically — built-in codegen'd
    * expressions end to end, evaluated once inside repartitionByRange.
    * One shuffle, schema unchanged (the z-key never materializes as a
    * column). Numeric/date/timestamp columns (cast to double rank
    * space); strings would need a dictionary pass — not needed by any
    * current table. Intended for unpartitioned tables: on a
    * dir-partitioned table each task's z-range spans many partition
    * values and the partitionBy write re-splits it, multiplying file
    * count — there, z-order the partition column's residual dims and
    * accept per-partition granularity. */
  def optimizeZOrder(cols: Seq[String], bits: Int = 4,
                     numFiles: Option[Int] = None,
                     targetFileBytes: Long = 512L * 1024 * 1024): Unit = {
    import org.apache.spark.sql.functions._
    require(cols.size >= 2, "z-order needs >= 2 columns (use " +
      "optimizeClustered for one)")
    require(bits >= 1 && bits * cols.size <= 30,
      s"bits*cols must fit an int z-key, got $bits*${cols.size}")
    val d = cols.size
    repairInterruptedSwaps() // before the eager snapshot — see compact
    if (!this.exists) return
    def shape(snapshot: DataFrame): DataFrame = {
      val boundaries: Seq[Array[Double]] = cols.map { c =>
        val probs = (1 until (1 << bits)).map(_ / (1 << bits).toDouble)
        snapshot.select(col(c).cast("double").as("v"))
          .stat.approxQuantile("v", probs.toArray, 0.001)
      }
      val zkey = cols.zipWithIndex.map { case (c, i) =>
        // rank ∈ [0, 2^bits): count of boundaries ≤ value (nulls rank 0)
        val rank = aggregate(lit(boundaries(i)), lit(0),
          (acc, b) => acc + when(col(c).cast("double") >= b, 1).otherwise(0))
        // spread rank's bits to positions j*d + i of the z-key
        (0 until bits).map { j =>
          shiftleft(shiftright(rank, j).bitwiseAND(lit(1)), j * d + i)
        }.reduce[Column](_ + _)
      }.reduce[Column](_ + _)
      // explicit file count pins the skipping granularity — with AQE
      // on, an unpinned repartitionByRange coalesces small tables to
      // one file and the z-order silently buys zero skipping.
      // Default: the compaction target, so z-ordering IS the
      // compaction pass (one rewrite, never compact-then-zorder
      // twice).
      val n = numFiles.getOrElse {
        val bytes = fs.getContentSummary(new Path(path)).getLength
        math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
      }
      snapshot.repartitionByRange(n, zkey).sortWithinPartitions(zkey)
    }
    if (partitionCols.isEmpty) rewriteFold("optimizeZOrder", shape)
    else overwrite(shape(read), preShaped = true)
  }

  /** Delta-VACUUM parity for the staged-write protocol: first repair
    * (tombstones are either restored into a missing live target or,
    * superseded, dropped — never age-gated, because an unrepaired
    * tombstone may hold the only copy of a partition), then delete
    * staging dirs older than `maxAgeMs` — a LIVE writer's in-flight
    * staging dir is younger than any sane retention window — and the
    * retired trees of completed swaps that no background delete of
    * this process still owns (a crash or exit cut it short; nothing
    * ever reads a retired tree, so it is not age-gated). The live
    * dir and the `.versions` archive are never touched. Returns the
    * actions taken. */
  def vacuum(maxAgeMs: Long = 24L * 3600 * 1000): Seq[String] = {
    val live = new Path(path)
    val parent = live.getParent
    if (parent == null || !fs.exists(parent)) return Nil
    val repaired = repairInterruptedSwaps()
    val cutoff = System.currentTimeMillis() - maxAgeMs
    val prefixes = Seq(".staged-", ".appendstage-", ".filestats.staged-",
                       ".bloomstats.staged-")
      .map(live.getName + _)
    val retired = live.getName + ".retired-"
    repaired ++ fs.listStatus(parent).toSeq
      .filter { s =>
        val n = s.getPath.getName
        if (n.startsWith(retired)) !LakehouseTable.reclaiming(fs, s.getPath)
        else prefixes.exists(n.startsWith) && s.getModificationTime < cutoff
      }
      .flatMap { s =>
        step(s"delete:${s.getPath.getName}")
        // false = already gone: a background delete finished between
        // the listing and here
        if (fs.delete(s.getPath, true)) Some(s"deleted:${s.getPath.getName}")
        else None
      }
  }

  // ── file-skipping statistics (Delta data-skipping parity) ──────────
  // Directory-partitioned pruning only helps predicates on the
  // partition key. For other clustered columns (after
  // [[optimizeClustered]]), per-FILE min/max stats let a range read
  // open only the files whose range intersects the predicate — the
  // Delta `stats` / Iceberg manifest idea, as a tiny sibling parquet.

  private def fileStatsPath = s"$path.filestats"
  private def bloomStatsPath = s"$path.bloomstats"
  private def schemaEpochPath = s"$path.schemaepoch"

  /** Current schema epoch: the marker's content, written fresh by
    * every mutation ([[invalidateFileStats]]). "absent" (pre-marker
    * tables, a table never mutated through this API, or a stamper that
    * crashed between its unlink and its create) is never a cache key
    * ([[liveSchema]]) — the next mutation stamps a real one. */
  private[graft] def schemaEpoch(): String =
    LakehouseTable.readEpoch(protocolFs, path)

  /** The FileSystem every protocol file (epoch marker, commit
    * records) is written and read through: checksum-free, so no `.crc`
    * sidecar exists to go out of sync with its data file (on the
    * Hadoop local FS a sidecar is a second file, written and replaced
    * as a separate operation). Protocol files are CREATE-ONCE — never
    * truncated, never renamed over: a record is written once, and a
    * marker stamp is an unlink plus an exclusive create
    * ([[stampEpochValue]]). That is also what keeps a stamp cheap: on
    * ext4 (default `auto_da_alloc`) truncating a file in place, or
    * renaming over it, forces the replaced file's pending writeback
    * and the stamper blocks on it (on a local ext4 disk, 41–151 ms a
    * stamp against 4–5 ms for unlink + create). Content is validated
    * by shape and torn reads retry ([[LakehouseTable.readEpoch]]).
    * Data files never go through this instance. */
  private def protocolFs = LakehouseTable.protocolFs(
    new java.net.URI(path), spark.sparkContext.hadoopConfiguration)

  /** Stamp the epoch marker with `v`: unlink, then exclusive create.
    * The last stamper still wins, as with an in-place rewrite: a
    * create that finds the marker present lost to a concurrent stamper
    * that landed inside this one's gap, and stamping again makes this
    * stamper the later one. Readers that hit the gap see no marker
    * beside an existing commit log and retry ([[LakehouseTable
    * .readEpoch]]) — a table's first mutation writes its intent record
    * before its first stamp, and the log dir is never removed, so the
    * log exists whenever a marker ever did. */
  private def stampEpochValue(v: String): Unit = {
    val p = new Path(schemaEpochPath)
    var failures = 0
    var landed = false
    while (!landed) {
      protocolFs.delete(p, false)
      try { createProtocolFile(p, v); landed = true }
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
        // a concurrent stamper can also unlink this stamper's file
        // mid-create: the local FS sets a new file's permissions in a
        // second call, which then finds no file. Stamping again makes
        // this stamper the later one, as above; the bound lets a
        // persistent error (an unwritable dir) surface
        case e: java.io.IOException =>
          failures += 1
          if (failures >= 10) throw e
      }
    }
  }

  /** Stats are DERIVED data: every mutating entry point deletes them
    * (a stale manifest would silently drop appended files from pruned
    * reads, or point at part-files an overwrite removed); readers fall
    * back to a full filtered scan until [[writeFileStats]] /
    * [[writeFileBlooms]] run again. */
  /** Post-publish epoch re-stamp. [[invalidateFileStats]] stamps the
    * epoch BEFORE the staged write (so derived data can never pair
    * with the incoming generation), but a sibling instance calling
    * liveSchema inside the write window would pair that NEW epoch with
    * the still-live OLD schema and cache the stale pair past the swap
    * — serving silent nulls indefinitely. Every mutator therefore
    * stamps AGAIN after its publish rename: the post-swap epoch can
    * only ever be observed alongside the post-swap schema, so the
    * worst a racing reader caches is the pre-swap epoch + pre-swap
    * schema, which the second stamp immediately invalidates.
    *
    * The re-stamp value is the mutation's own token suffixed `:pub`
    * (not a fresh UUID): a concurrent commuting writer that observes
    * the marker can then match it to this mutation's commit record
    * and proceed, instead of burning its retry window on a token it
    * cannot explain. */
  private def publishSchemaEpoch(t: MutationTicket): Unit = {
    cachedSchema = null
    stampEpochValue(t.token + ":pub")
  }

  private def invalidateFileStats(
      token: String = UUID.randomUUID().toString): String = {
    cachedSchema = null // the mutation may evolve the live schema
    stampEpochValue(token) // ...and sibling instances must see it; the
    // token is the caller's publish-time ownership proof (repair-side
    // callers pass no token and stamp a fresh anonymous one)
    fs.delete(new Path(fileStatsPath), true)
    fs.delete(new Path(bloomStatsPath), true)
    // same discipline for the MV registry: a summary registered over
    // this source must never serve a covered aggregate after the
    // source changed — drop it here (covered queries fall back to the
    // source scan, bit-correct) and let the maintenance stage
    // re-register after its rebuild/refresh. Content-preserving
    // rewrites (compact/optimize*) also land here via overwrite: they
    // over-invalidate, which is the safe direction — re-register after
    // maintenance, exactly as EtlMain orders it.
    graft.plans.MaterializedAgg.invalidate(spark, path)
    token
  }

  /** One row per data file with min/max of each tracked column,
    * computed distributed off `_metadata.file_path` (one scan, no
    * driver state). Call after writes — typically right after
    * [[optimizeClustered]], which is what makes the per-file ranges
    * disjoint enough to skip. Derived data gets the simple
    * delete+rename protocol, not the tombstone swap: a crash in the
    * gap leaves NO stats, which [[readPruned]] degrades around
    * gracefully — whereas a stats tombstone would sit outside
    * [[repairInterruptedSwaps]]' naming contract forever. */
  def writeFileStats(cols: Seq[String]): Unit = {
    // repair BEFORE the `read` snapshot, same as compact/optimize*: a
    // partition sitting in a tombstone would be absent from the
    // manifest, and once later repaired+restored the stale manifest
    // would make readPruned silently skip its files
    repairInterruptedSwaps()
    val aggs = cols.flatMap(c => Seq(
      org.apache.spark.sql.functions.min(col(c)).as(s"min_$c"),
      org.apache.spark.sql.functions.max(col(c)).as(s"max_$c")))
    // no coalesce(1): the same single-task funnel writeFileBlooms
    // dropped — min/max rows are only ~100 B/file, but at 400k files
    // there is still no reason to serialize the write; readers list
    // the manifest dir exactly as they would one file
    val stats = read
      .select(col("_metadata.file_path").as("file") +: cols.map(col): _*)
      .groupBy("file").agg(aggs.head, aggs.tail: _*)
    val tag = UUID.randomUUID().toString.take(8)
    val staged = s"$fileStatsPath.staged-$tag"
    stats.write.mode("overwrite").parquet(staged)
    fs.delete(new Path(fileStatsPath), true)
    renameOrFail(new Path(staged), new Path(fileStatsPath))
  }

  /** Per-file BLOOM manifest (Delta bloom-filter-index parity): where
    * min/max stats skip RANGE predicates on clustered columns, blooms
    * skip EQUALITY lookups on high-cardinality columns regardless of
    * layout — an unclustered user-id point lookup spans every file's
    * min/max range but only a few blooms answer "maybe".
    *
    * Build is one distributed pass reusing Spark's own codegen'd
    * BloomFilterAggregate over `xxhash64(col)` per file (the battle-
    * tested sketch, not a reimplementation); the manifest holds one
    * `numBits/8`-byte bitmap per (file, column). The manifest write is
    * SHARDED (no coalesce(1)): at 100 TB / 256 MB files the manifest
    * is ~400k rows × 128 KB/bloom ≈ 50 GB — funneling that through
    * one task would make the bloom build itself the bottleneck. */
  def writeFileBlooms(cols: Seq[String], numBits: Long = 1L << 20,
                      estItems: Long = 100000L): Unit = {
    repairInterruptedSwaps() // before the eager `read` — see writeFileStats
    graft.functions.NativeFunctions.register(spark)
    import org.apache.spark.sql.functions.{call_function, lit, xxhash64}
    val hashed = read.select(
      col("_metadata.file_path").as("file") +:
        cols.map(c => xxhash64(col(c)).as(s"h_$c")): _*)
    val aggs = cols.map(c => call_function("graft_bloom_agg",
      col(s"h_$c"), lit(estItems), lit(numBits)).as(s"bloom_$c"))
    val stats = hashed.groupBy("file").agg(aggs.head, aggs.tail: _*)
    val tag = UUID.randomUUID().toString.take(8)
    val staged = s"$bloomStatsPath.staged-$tag"
    stats.write.mode("overwrite").parquet(staged)
    fs.delete(new Path(bloomStatsPath), true)
    renameOrFail(new Path(staged), new Path(bloomStatsPath))
  }

  /** Equality lookup through the bloom manifest: open only files whose
    * bloom answers "maybe", then re-apply the exact predicate. A bloom
    * never false-negatives, so results are identical to
    * `read.filter(col === value)` — blooms can only be present when
    * they describe the current files (every mutation invalidates).
    * Falls back to the plain filtered scan when absent.
    *
    * The membership test runs EXECUTOR-side inside the manifest scan
    * ([[graft.functions.BloomProbe]] per row) and only surviving file
    * PATHS are collected — the same shape as [[readPruned]]. The
    * driver never sees a bitmap: at 100 TB / 256 MB files a collected
    * manifest would be ~400k × 128 KB ≈ 50 GB per point lookup. */
  def readBloomFiltered(c: String, value: Any): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val filtered = (df: DataFrame) => df.filter(col(c) === lit(value))
    bloomSurvivors(c, value) match {
      case None => filtered(read)
      case Some(survivors) =>
        val files = survivors.collect().map(_.getString(0))
        if (files.isEmpty) emptyFrame.filter(col(c) === lit(value))
        else filtered(readExplicit(files.toIndexedSeq))
    }
  }

  /** The manifest probe [[readBloomFiltered]] collects: rows whose
    * bloom answers "maybe", projected to the file PATH only. Exposed
    * for plan assertions — the collected projection must never carry
    * the binary bloom column. None = no usable manifest (absent, or
    * built for other columns); callers degrade to the plain scan. */
  private[graft] def bloomSurvivors(c: String, value: Any): Option[DataFrame] = {
    import org.apache.spark.sql.functions.{call_function, lit, xxhash64}
    if (!fs.exists(new Path(bloomStatsPath))) return None
    val manifest = spark.read.parquet(bloomStatsPath)
    // manifest present but built for OTHER columns: degrade to the
    // plain scan, per the fallback contract — never throw
    if (!manifest.columns.contains(s"bloom_$c")) return None
    graft.functions.NativeFunctions.register(spark)
    // hash exactly as the build did: same column type, same xxhash64
    val hash = spark.range(1)
      .select(xxhash64(lit(value).cast(liveSchema(c).dataType)))
      .head().getLong(0)
    Some(manifest
      .filter(call_function("graft_bloom_probe", col(s"bloom_$c"), lit(hash)))
      .select("file"))
  }

  /** Range read through the stats: open only files whose [min,max]
    * intersects [lo,hi], then re-apply the exact predicate. The file
    * list is collected on the driver — manifest-scale (one entry per
    * file), the same driver-side planning Delta/Iceberg do. Falls back
    * to a plain filtered read when stats are absent — never written,
    * or invalidated by a mutation since. Results are identical to
    * `read.filter(c between lo,hi)` by construction: stats can only be
    * present when they describe the current files, and a file outside
    * the range can hold no matching row. */
  def readPruned(c: String, lo: Any, hi: Any): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val filtered = (df: DataFrame) => df.filter(col(c).between(lit(lo), lit(hi)))
    if (!fs.exists(new Path(fileStatsPath))) return filtered(read)
    val files = spark.read.parquet(fileStatsPath)
      .filter(col(s"max_$c") >= lit(lo) && col(s"min_$c") <= lit(hi))
      .select("file").collect().map(_.getString(0))
    if (files.isEmpty) emptyFrame
    else filtered(readExplicit(files.toIndexedSeq))
  }

  /** Assemble a read over an explicit survivor FILE list.
    *
    * DataFrameReader glob-checks every given path on the driver
    * (milliseconds each, effectively sequential): 50k survivor paths
    * cost ~15–30 s of driver time before any executor runs (measured
    * — FileScaleSpec's prune-assemble leg). Survivors of a range
    * prune on a clustered table are dir-contiguous, so every parent
    * dir whose data files ALL survived collapses to the dir path
    * itself: O(dirs) reader paths and one cheap listStatus per
    * candidate dir instead of O(files) driver globs. Partially-
    * covered dirs keep their per-file paths, so the assembled row set
    * is EXACTLY the survivor files either way (a collapsed dir
    * contributes precisely its surviving members; callers re-apply
    * the exact predicate on top regardless). `basePath` keeps a
    * partitioned table's key=value columns recoverable from either
    * path form. */
  private def readExplicit(files: Seq[String]): DataFrame = {
    val byDir = files.groupBy(f => new Path(f).getParent)
    val paths = byDir.iterator.flatMap { case (dir, members) =>
      if (members.size >= 2 && fullyCovered(dir, members.size))
        Iterator.single(dir.toString)
      else members.iterator
    }.toIndexedSeq.sorted
    spark.read.option("basePath", path)
      .schema(liveSchema).parquet(paths: _*)
  }

  /** A dir collapses to its own path only when its DIRECT data files
    * are exactly the survivors AND it holds no visible subdirectory —
    * a mixed layout (root part files beside later batch-* dirs, after
    * layout changes or mixed writers) collapsed to the parent would
    * pull subdir files not in the survivor list into the read and can
    * trip partition-structure inference. */
  private def fullyCovered(dir: Path, nMembers: Int): Boolean = {
    var files = 0
    val sts = fs.listStatus(dir)
    var i = 0
    while (i < sts.length) {
      val st = sts(i)
      val n = st.getPath.getName
      if (!n.startsWith("_") && !n.startsWith(".")) {
        if (st.isDirectory) return false
        files += 1
      }
      i += 1
    }
    files == nMembers
  }

  // ── version retention (Delta time-travel parity, single-writer) ────
  // Instead of deleting the tombstone after a swap, versioned
  // overwrites archive the previous live dir under <path>.versions/v<n>
  // (monotonic counter) and prune to a retention count — the
  // read-old-snapshot / rollback use cases of Delta time travel
  // (docs/data_model.md:312-316 retention windows) without a
  // transaction log. Archival is one directory rename: no data copy.

  private def versionsRoot = new Path(s"$path.versions")

  /** Archived version numbers, ascending (empty when none kept). */
  def versions: Seq[Long] =
    if (!fs.exists(versionsRoot)) Nil
    else fs.listStatus(versionsRoot).toSeq
      .map(_.getPath.getName).filter(_.startsWith("v"))
      .map(_.drop(1).toLong).sorted

  /** Atomic replace that archives the outgoing live data as the next
    * version and prunes archives beyond `retain`. */
  def overwriteVersioned(df: DataFrame, retain: Int = 3): Unit = {
    repairInterruptedSwaps() // every mutator repairs first — a stale
    // partition tombstone surviving into the NEXT generation would be
    // "restored" into it later, resurrecting old-generation rows
    val t = beginMutation("overwriteVersioned") // the epoch stamp also
    // invalidates the manifests — a stale one would point at
    // part-files renamed into .versions/
    val tag = UUID.randomUUID().toString.take(8)
    val staged = s"$path.staged-$tag"
    write(df, staged)
    val live = new Path(path)
    resolveConflictsOrAbort(t, "overwriteVersioned")
    writeCommitRecord(t)
    if (fs.exists(live)) {
      // archive through the TOMBSTONE protocol, not a direct rename:
      // live→tombstone, staged→live, tombstone→archive. A crash before
      // staged→live repairs back to the pre-write state; a crash
      // before the archive rename loses only that one archive (repair
      // drops the superseded tombstone) — the live table is never the
      // casualty, which a direct live→archive rename cannot promise
      // (its crash window leaves NO live dir and NO tombstone).
      val next = versions.lastOption.getOrElse(0L) + 1
      fs.mkdirs(versionsRoot)
      val ts = new Path(s"$path.tombstone-$tag")
      renameOrFail(live, ts)
      renameOrFail(new Path(staged), live)
      val archived = new Path(versionsRoot, s"v$next")
      renameOrFail(ts, archived)
      // stamp WHEN this version stopped being live: the rename
      // preserves the dir's data mtime, so without a marker a
      // time-based vacuum would measure DATA age and delete a
      // just-archived version of long-static data instantly (Delta
      // measures retention from the deletion timestamp, not write
      // time). Leading underscore: Spark's FileIndex ignores it, so
      // readVersion over the archive is unaffected.
      fs.create(new Path(archived, "_ARCHIVED_AT"), true).close()
    } else renameOrFail(new Path(staged), live)
    // never prune below ONE archive: the newest archive anchors the
    // monotonic version counter (next = versions.last + 1) — deleting
    // every archive would restart numbering at v1 and silently hand a
    // changesSince consumer an unrelated generation under a reused
    // version number
    versions.dropRight(math.max(retain, 1)).foreach { v =>
      step(s"delete:v$v")
      fs.delete(new Path(versionsRoot, s"v$v"), true)
    }
    publishSchemaEpoch(t)
  }

  /** TIME-based archive retention — the reference's vacuum windows
    * (docs/data_model.md:312-316: bronze 7 d / silver 30 d / gold
    * 90 d) applied to the versioned-overwrite protocol. COUNT-based
    * pruning ([[overwriteVersioned]]'s `retain`) bounds archive
    * growth per overwrite; this is the complementary policy knob an
    * operator schedules: delete every archived version that stopped
    * being live more than `retainHours` ago — measured from the
    * `_ARCHIVED_AT` marker [[overwriteVersioned]] stamps at archive
    * time (Delta measures retention the same way, from the deletion
    * timestamp; the dir's own mtime is DATA age, which a rename
    * preserves, and data age would delete a just-archived version of
    * long-static data instantly). Marker-less legacy archives fall
    * back to the dir mtime. The NEWEST archive is always retained:
    * it anchors the monotonic version counter and the rollback-by-one
    * path. The live dir, tombstones (exclusively
    * [[repairInterruptedSwaps]]'s to handle), and write stages
    * ([[vacuum]]'s) are never touched. Delta-parity guardrail: a
    * window under 168 h risks deleting an archive a concurrent
    * [[readVersion]]/[[changesSince]] reader still holds open (their
    * file listing resolves lazily) — going lower requires
    * `force = true`, mirroring Delta's retentionDurationCheck.
    * Returns the deleted version numbers. */
  def vacuumVersions(retainHours: Double = 168.0,
                     force: Boolean = false): Seq[Long] = {
    require(retainHours >= 168.0 || force,
      s"vacuumVersions retention ${retainHours}h is under the 168h safety " +
      "floor (a concurrent readVersion/changesSince may hold an old " +
      "archive open); pass force=true to override")
    val cutoff = System.currentTimeMillis() - (retainHours * 3600 * 1000).toLong
    def archivedAt(v: Long): Long = {
      val dir = new Path(versionsRoot, s"v$v")
      val marker = new Path(dir, "_ARCHIVED_AT")
      if (fs.exists(marker)) fs.getFileStatus(marker).getModificationTime
      else fs.getFileStatus(dir).getModificationTime
    }
    val dropped = versions.dropRight(1).filter(archivedAt(_) < cutoff)
    dropped.foreach { v =>
      step(s"delete:v$v")
      fs.delete(new Path(versionsRoot, s"v$v"), true)
    }
    dropped
  }

  /** DESCRIBE HISTORY parity for the versioned-overwrite protocol:
    * one row per retained archive plus the live state, with dir
    * mtime, bytes, and file count — the operational "what do I have,
    * how big, since when" view Delta's history gives, driver-side
    * from listing alone (no data read). The live row's version is the
    * number the NEXT overwriteVersioned would archive it under. */
  def history: DataFrame = {
    import spark.implicits._
    def statsOf(p: Path) = {
      val cs = fs.getContentSummary(p)
      (new java.sql.Timestamp(fs.getFileStatus(p).getModificationTime),
       cs.getLength, cs.getFileCount)
    }
    val archived = versions.map { v =>
      val (ts, bytes, files) = statsOf(new Path(versionsRoot, s"v$v"))
      (v, ts, bytes, files, "archived")
    }
    val live =
      if (!exists) Nil
      else {
        val (ts, bytes, files) = statsOf(new Path(path))
        Seq((versions.lastOption.getOrElse(0L) + 1, ts, bytes, files, "live"))
      }
    (archived ++ live)
      .toDF("version", "modified_at", "bytes", "n_files", "state")
  }

  /** Read an archived version (time travel) — with the SAME reader
    * options as [[read]]: an archive is the live dir renamed verbatim,
    * so an appendBatch-layout table's batch-subdir structure needs the
    * recursive lookup in its archives too. */
  def readVersion(v: Long): DataFrame = {
    val p = new Path(versionsRoot, s"v$v")
    require(fs.exists(p), s"version $v of $path is not retained")
    val r = spark.read
    (if (partitionCols.isEmpty) r.option("recursiveFileLookup", "true") else r)
      .parquet(p.toString)
  }

  /** Roll the live table back to an archived version (the rollback
    * path of time travel): the archived data becomes live again via
    * a versioned overwrite, so the pre-rollback state is itself
    * archived. */
  def rollbackTo(v: Long): Unit = overwriteVersioned(readVersion(v))

  /** Change feed between two retained versions (Delta CDF parity for
    * the versioned-overwrite protocol): row-level inserted / deleted /
    * updated classification on the pk via [[SnapshotDiff.diff]].
    * `to = None` diffs against the LIVE table. Change-sized output,
    * one pk shuffle per side — the incremental-consumer primitive
    * ("what changed since the snapshot I last processed?") without a
    * transaction log. */
  def changesSince(from: Long, to: Option[Long] = None): DataFrame =
    SnapshotDiff.diff(readVersion(from),
                      to.map(readVersion).getOrElse(read), pk)
}

object LakehouseTable {
  /** TEST SEAM — process-wide variant of the instance [[faultHook]],
    * for the streaming sinks that construct their table INSIDE a
    * foreachBatch closure (the test never holds the instance). Invoked
    * with (table path, step label) before every protocol rename/delete
    * of EVERY table in the process; hooks MUST filter on their own
    * table path and no-op otherwise, so concurrently-running suites
    * cannot trip each other. Production never sets it — the default is
    * a single volatile read per step. */
  @volatile private[graft] var globalFaultHook: (String, String) => Unit = null

  /** Background deletion of retired swap trees ([[swapIn]]). One
    * thread: unlinks in parallel barely help on the disk of the
    * [[swapIn]] note (50k files: 132 s 16-way, 167 s serial), and one
    * thread leaves the rest of the store to the mutations. It exits
    * when idle.
    * Not a daemon, so a driver whose main returns normally finishes
    * its pending deletes before the JVM exits (System.exit does not
    * wait; [[vacuum]] sweeps what that leaves). */
  private val reclaimer = {
    val ex = new java.util.concurrent.ThreadPoolExecutor(1, 1, 5L,
      java.util.concurrent.TimeUnit.SECONDS,
      new java.util.concurrent.LinkedBlockingQueue[Runnable](),
      (r: Runnable) => new Thread(r, "graft-reclaim"))
    ex.allowCoreThreadTimeOut(true)
    ex
  }

  /** Qualified paths of retired trees whose background delete has
    * not finished; [[vacuum]] leaves these to their owner. */
  private val pendingReclaims =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Delete the retired tree `p` in the background. A failed delete
    * leaves the tree for [[vacuum]]: nothing reads a retired tree, so
    * a leftover costs only space. */
  private[tables] def reclaim(fs: org.apache.hadoop.fs.FileSystem,
                              p: Path): Unit = {
    val key = fs.makeQualified(p).toString
    pendingReclaims.add(key)
    reclaimer.execute { () =>
      try fs.delete(p, true)
      catch { case scala.util.control.NonFatal(_) => false }
      finally pendingReclaims.remove(key)
      ()
    }
  }

  private[tables] def reclaiming(fs: org.apache.hadoop.fs.FileSystem,
                                 p: Path): Boolean =
    pendingReclaims.contains(fs.makeQualified(p).toString)

  /** Optimistic-concurrency knobs (process-wide; tests shrink them).
    * `conflictRetries × conflictRetrySleepMs` bounds how long a
    * publisher waits on an epoch marker with NO record at all (a
    * legacy writer or foreign stamp) before aborting loudly — writers
    * on the record protocol are classified from their intent record
    * immediately, no waiting. `commitTtlMs` is the retention of
    * commit/intent records AND the rollback age-gate for fold
    * rewrite records. Sizing is not load-bearing for correctness:
    * a mutation that outlives it aborts loudly at publish (its own
    * intent record — always the first casualty of pruning, since
    * every record it must classify is younger — is checked before
    * the publish record lands), so an undersized TTL costs retries,
    * never silent lost updates. */
  @volatile private[graft] var conflictRetries: Int = 25
  @volatile private[graft] var conflictRetrySleepMs: Long = 200L
  @volatile private[graft] var commitTtlMs: Long = 3600L * 1000

  /** The fold rewrite's land-then-delete ordering means a read job
    * that LISTED the table before a concurrent fold's delete loop can
    * try to OPEN a file the fold has since removed — every row stays
    * visible throughout (the compacted copy landed first), but that
    * one read attempt dies with a vanished-file error. Spark surfaces
    * it as FAILED_READ_FILE.FILE_NOT_EXIST from a scan task or as a
    * FileNotFoundException from the driver-side footer/listing path;
    * both wrap the root cause several layers deep, so classification
    * walks the cause chain and the flattened task-failure message. */
  private[graft] def isVanishedFileRace(e: Throwable): Boolean = {
    var c: Throwable = e
    var depth = 0
    while (c != null && depth < 16) {
      c match {
        case _: java.io.FileNotFoundException => return true
        case _ =>
          val m = c.getMessage
          if (m != null && (m.contains("FAILED_READ_FILE") ||
              m.contains("FileNotFoundException") ||
              m.contains("does not exist"))) return true
      }
      c = if (c.getCause eq c) null else c.getCause
      depth += 1
    }
    false
  }

  /** Bounded retry for METADATA reads (listings, schema inference)
    * racing a fold's delete loop: re-running re-lists, and the fold's
    * visibility contract guarantees the re-list sees every row's file
    * (original or compacted). Only the vanished-file class retries —
    * anything else propagates on the first throw. Not for row-reading
    * jobs inside a mutation: those must abort loudly instead (a
    * half-executed Spark job cannot be resumed, and the racing writer
    * is a genuine interleaver the OCC layer should classify). */
  private[graft] def retryVanishedRead[T](attempts: Int = 5,
                                           sleepMs: Long = 100L)
      (body: => T): T = {
    var i = 1
    while (true) {
      try return body
      catch {
        case e: Throwable if isVanishedFileRace(e) && i < attempts =>
          i += 1
          Thread.sleep(sleepMs)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Process-wide cache of the checksum-free protocol-file
    * FileSystem instances (see the instance-side `protocolFs` doc for
    * why checksums must be off there). `newInstance` bypasses
    * Hadoop's FS cache so the flags cannot leak into data reads and
    * writes; one instance per scheme+authority, never closed (they
    * live as long as the process, like Hadoop's own cache). */
  private val protocolFsCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      org.apache.hadoop.fs.FileSystem]()

  private[tables] def protocolFs(uri: java.net.URI,
                                 conf: org.apache.hadoop.conf.Configuration)
      : org.apache.hadoop.fs.FileSystem =
    protocolFsCache.computeIfAbsent(
      uri.getScheme + "://" + Option(uri.getAuthority).getOrElse(""),
      _ => {
        val f = org.apache.hadoop.fs.FileSystem.newInstance(uri, conf)
        f.setVerifyChecksum(false)
        f.setWriteChecksum(false)
        f
      })

  /** A missing marker beside an existing commit log: a stamper's
    * unlink-to-create gap, retried like a torn read. */
  private final class MarkerGap(p: String)
      extends java.io.IOException(s"marker $p absent mid-stamp")

  /** The schema epoch of the table at `tablePath`: its
    * `.schemaepoch` marker's content, read through `pfs` (a
    * [[protocolFs]] instance). Two stamper windows retry as torn
    * reads (bounded): create-to-close (empty content) and
    * unlink-to-create (no marker although the table's `.commits` log
    * exists). A marker still missing after the retries — a table never
    * stamped, or a stamper that crashed inside its gap — reads as
    * "absent". */
  private[tables] def readEpoch(pfs: org.apache.hadoop.fs.FileSystem,
                                tablePath: String): String =
    try retryTornRead() {
      val p = new org.apache.hadoop.fs.Path(tablePath + ".schemaepoch")
      val txt =
        try {
          val in = pfs.open(p)
          try new String(in.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8) finally in.close()
        } catch { case _: java.io.FileNotFoundException => null }
      if (txt == null) {
        if (pfs.exists(new org.apache.hadoop.fs.Path(tablePath + ".commits")))
          throw new MarkerGap(p.toString)
        "absent"
      } else if (txt.isEmpty)
        throw new java.io.IOException(s"torn marker $p: empty")
      else txt
    } catch { case _: MarkerGap => "absent" }

  /** Bounded retry for marker reads racing a concurrent writer's
    * create/close window. Persistent IOExceptions (a genuinely
    * corrupt or perpetually-contended marker) propagate after the
    * attempts are spent. */
  private[tables] def retryTornRead[A](attempts: Int = 50)
                                      (body: => A): A = {
    var i = 0
    while (true) {
      try return body
      catch {
        case e: java.io.IOException =>
          i += 1
          if (i >= attempts) throw e
          Thread.sleep(5)
      }
    }
    throw new IllegalStateException("unreachable")
  }
}
