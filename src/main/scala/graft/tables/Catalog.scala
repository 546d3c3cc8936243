package graft.tables

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Light persistent catalog for [[LakehouseTable]]s — the
  * multi-session surface the reference gets from the Glue Data
  * Catalog (its Step Functions flow registers Delta paths so a
  * SEPARATE engine, Athena, can query them:
  * stepfunctions/delta-lake.json:147-215). `registerAs` alone covers
  * only the registering session's in-memory catalog; a second
  * SparkSession — the realistic reporting/reader process — had to
  * re-derive every table by path. This closes that gap with the
  * smallest durable thing that works: one JSON manifest file per
  * table under `<warehouseRoot>/_catalog/`, and [[attach]] to
  * reconstruct the full catalog in any session with one call.
  *
  * Why a file-per-table dir and not one catalog file: writers of
  * DIFFERENT tables never contend (each publishes its own manifest
  * via the temp-write + atomic-rename discipline every other piece
  * of this table layer uses), and a reader lists one small dir —
  * O(tables), not O(files). Entries carry path / pk / partition
  * columns / the table's schema epoch at registration, so an
  * attaching session can detect a manifest written against an older
  * generation (informational — attach always reads the LIVE state;
  * the epoch answers "has this table mutated since registration",
  * the same question the epoch answers everywhere else).
  *
  * Consistency contract for attached readers: attach registers
  * plain external parquet tables (through [[LakehouseTable
  * .registerAs]]), so a query sees whatever file set the swap
  * protocol has PUBLISHED at plan time — old generation before the
  * publish rename, new generation after, never a partial mix (the
  * tombstone-swap reader contract, LakehouseTableSpec's
  * reader-during-swap legs). Spark caches per-table file listings;
  * a long-lived reader session observes a publish after
  * `spark.catalog.refreshTable` (or [[refreshAll]]) — the standard
  * external-table contract, same as Athena's metadata refresh.
  */
object Catalog {

  /** One catalog entry, as persisted. */
  final case class Entry(name: String, path: String, pk: Seq[String],
                         partitionCols: Seq[String],
                         schemaEpoch: String, updatedAtMs: Long) {
    def table(spark: SparkSession): LakehouseTable =
      LakehouseTable(spark, path, pk, partitionCols)
  }

  private def dir(root: String) = new Path(root, "_catalog")

  private def fsOf(spark: SparkSession, root: String) =
    dir(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def fileOf(name: String): String =
    java.net.URLEncoder.encode(name, "UTF-8") + ".json"

  /** Register `table` under `name` ('table' or 'db.table') in the
    * persistent catalog AND the live session (the catalog is a
    * superset of [[LakehouseTable.registerAs]], not a replacement).
    * Re-registering a name replaces its entry atomically. */
  def register(spark: SparkSession, warehouseRoot: String,
               name: String, table: LakehouseTable): Entry = {
    // the session-catalog side (DROP + CREATE) is not atomic, so two
    // threads registering one name in THIS process could race it into
    // a spurious TableAlreadyExists; serialize in-process (separate
    // processes own separate session catalogs and contend only on the
    // manifest, which stages privately and publishes by rename)
    Catalog.synchronized { table.registerAs(name) }
    val e = Entry(name, table.path, table.pk, table.partitionCols,
                  currentEpoch(spark, table.path),
                  System.currentTimeMillis())
    val fs = fsOf(spark, warehouseRoot)
    fs.mkdirs(dir(warehouseRoot))
    val target = new Path(dir(warehouseRoot), fileOf(name))
    // UUID tmp suffix, not the timestamp: two same-millisecond
    // registrations of one name (two sessions racing) would collide
    // on the tmp path and interleave their writes into it — each
    // publish must stage privately so the rename-race is
    // last-writer-wins over COMPLETE manifests only
    val tmp = new Path(dir(warehouseRoot),
                       fileOf(name) + ".tmp-" +
                       java.util.UUID.randomUUID().toString.take(8))
    val out = fs.create(tmp, true)
    try out.write(toJson(e).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // atomic publish: readers listing the catalog never see a
    // half-written manifest (rename replaces on local FS; on stores
    // where it refuses, delete-then-rename is fine — the entry is
    // re-derivable from the register call, unlike table data)
    if (!fs.rename(tmp, target)) {
      fs.delete(target, false)
      require(fs.rename(tmp, target), s"catalog publish failed: $target")
    }
    e
  }

  /** Remove `name` from the persistent catalog (the session catalog
    * entry, if any, is left to the caller — sessions die with their
    * process; the manifest is the durable state). */
  def unregister(spark: SparkSession, warehouseRoot: String,
                 name: String): Boolean =
    fsOf(spark, warehouseRoot)
      .delete(new Path(dir(warehouseRoot), fileOf(name)), false)

  /** All persisted entries, name-sorted.
    *
    * Reads go through the table layer's CHECKSUM-FREE protocol
    * FileSystem ([[LakehouseTable.protocolFs]]): a manifest replace
    * lands the data file and its .crc sidecar as TWO operations on a
    * checksummed store, so two racing registers can leave writer A's
    * bytes permanently paired with writer B's .crc — a verifying
    * reader would then throw ChecksumException until the next
    * register. Content integrity comes from the rename discipline
    * (readers see one writer's complete bytes) plus the JSON shape
    * check. A file that VANISHES between the listing and its open
    * lost a replace race on a store whose rename refuses existing
    * destinations (the register fallback deletes first) or was
    * concurrently unregistered — either way "skip" is the correct
    * answer; transient read errors get the marker reader's bounded
    * retry. */
  def entries(spark: SparkSession, warehouseRoot: String): Seq[Entry] = {
    val fs = fsOf(spark, warehouseRoot)
    val d = dir(warehouseRoot)
    if (!fs.exists(d)) return Nil
    val pfs = LakehouseTable.protocolFs(
      d.toUri, spark.sparkContext.hadoopConfiguration)
    fs.listStatus(d).toSeq.map(_.getPath)
      .filter(_.getName.endsWith(".json"))
      .flatMap(readEntry(pfs, _))
      .sortBy(_.name)
  }

  private def readEntry(pfs: org.apache.hadoop.fs.FileSystem,
                        p: Path): Option[Entry] = {
    var attempt = 0
    while (true) {
      if (!pfs.exists(p)) return None // unregistered or mid-replace
      try {
        val in = pfs.open(p)
        val txt = try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8) finally in.close()
        return Some(fromJson(txt))
      } catch {
        // FileNotFoundException (raced a replace) deliberately counts
        // toward the same bounded cap as every other error: a path
        // where exists() stays true while open() keeps throwing FNF
        // (e.g. a stray DIRECTORY named <x>.json — the local FS opens
        // dirs with FileNotFoundException("Is a directory")) would
        // otherwise spin this loop forever; a genuine replace race
        // resolves via the exists() probe on the next iteration long
        // before 20 attempts
        case e @ (_: java.io.IOException | _: IllegalArgumentException) =>
          attempt += 1
          if (attempt >= 20) throw e
      }
      Thread.sleep(5)
    }
    None // unreachable
  }

  /** Reconstruct the full catalog in `spark` — one call in a fresh
    * session makes every registered table SQL-queryable (databases
    * created as needed, partitioned tables partition-recovered).
    * Returns the attached entries with their CURRENT schema epoch
    * alongside, so callers can see which tables have mutated since
    * registration. Idempotent: attach replaces existing definitions,
    * which also drops any stale cached file listing for the name. */
  def attach(spark: SparkSession, warehouseRoot: String)
      : Seq[(Entry, String)] =
    entries(spark, warehouseRoot).map { e =>
      e.table(spark).registerAs(e.name)
      (e, currentEpoch(spark, e.path))
    }

  /** Refresh the cached file listing of every cataloged table in this
    * session — the one call a long-lived reader makes to observe
    * publishes that happened since its last read. */
  def refreshAll(spark: SparkSession, warehouseRoot: String): Unit =
    entries(spark, warehouseRoot).foreach { e =>
      if (spark.catalog.tableExists(e.name))
        spark.catalog.refreshTable(e.name)
    }

  /** The table's current mutation epoch, read through the table
    * layer's torn-read-tolerant epoch reader ("absent" for
    * never-mutated paths), which also absorbs a concurrent stamper's
    * unlink-to-create gap. */
  private def currentEpoch(spark: SparkSession, path: String): String =
    LakehouseTable.readEpoch(
      LakehouseTable.protocolFs(new java.net.URI(path),
                                spark.sparkContext.hadoopConfiguration),
      path)

  // minimal JSON codec — the entry shape is fixed and flat, and
  // json4s (on Spark's classpath) does the parsing; emission is a
  // dozen lines with proper string escaping, not worth a dependency
  // on a mutable serializer registry
  private def esc(s: String): String =
    s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < 0x20 => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private def arr(xs: Seq[String]): String =
    xs.map(x => "\"" + esc(x) + "\"").mkString("[", ",", "]")

  private def toJson(e: Entry): String =
    s"""{"name":"${esc(e.name)}","path":"${esc(e.path)}",""" +
    s""""pk":${arr(e.pk)},"partitionCols":${arr(e.partitionCols)},""" +
    s""""schemaEpoch":"${esc(e.schemaEpoch)}",""" +
    s""""updatedAtMs":${e.updatedAtMs}}"""

  private def fromJson(txt: String): Entry = {
    import org.json4s._
    val j = org.json4s.jackson.JsonMethods.parse(txt)
    def str(f: String) = (j \ f) match {
      case JString(s) => s
      case other => throw new IllegalArgumentException(
        s"catalog entry field '$f' malformed: $other in $txt")
    }
    def strs(f: String) = (j \ f) match {
      case JArray(xs) => xs.map { case JString(s) => s
        case other => throw new IllegalArgumentException(
          s"catalog entry field '$f' holds non-string: $other") }
      case other => throw new IllegalArgumentException(
        s"catalog entry field '$f' malformed: $other in $txt")
    }
    val at = (j \ "updatedAtMs") match {
      case JInt(n)  => n.toLong
      case JLong(n) => n
      case other => throw new IllegalArgumentException(
        s"catalog entry field 'updatedAtMs' malformed: $other")
    }
    Entry(str("name"), str("path"), strs("pk"), strs("partitionCols"),
          str("schemaEpoch"), at)
  }
}
