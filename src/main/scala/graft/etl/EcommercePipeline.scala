package graft.etl

import graft.operators.{Casting, Dedup, Rule, Validation}
import graft.tables.LakehouseTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Reference-parity medallion ETL over the e-commerce data model
  * (products / orders / order_items — glue_etl.py:43-75, main flow
  * :525-694 re-expressed; dependency order products → orders →
  * order_items so RI checks can anti-join the dims).
  *
  * Each stage is a pure DataFrame → (valid, rejected) function; sinks
  * go through [[LakehouseTable]] (atomic overwrite/upsert, quarantine
  * append). No driver-side collects anywhere — the v1 isin(collect())
  * RI check is replaced by the anti-join form the reference itself
  * refactored to (etl_utils.py:168-245).
  */
object EcommerceSchemas {
  val orderItems: StructType = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("order_id", IntegerType, nullable = false),
    StructField("user_id", IntegerType, nullable = false),
    StructField("days_since_prior_order", IntegerType),
    StructField("product_id", IntegerType, nullable = false),
    StructField("add_to_cart_order", IntegerType),
    StructField("reordered", IntegerType),
    StructField("order_timestamp", TimestampType, nullable = false),
    StructField("date", DateType, nullable = false)))

  val orders: StructType = StructType(Seq(
    StructField("order_num", IntegerType),
    StructField("order_id", IntegerType, nullable = false),
    StructField("user_id", IntegerType, nullable = false),
    StructField("order_timestamp", TimestampType, nullable = false),
    StructField("total_amount", DoubleType),
    StructField("date", DateType, nullable = false)))

  val products: StructType = StructType(Seq(
    StructField("product_id", IntegerType, nullable = false),
    StructField("department_id", IntegerType),
    StructField("department", StringType),
    StructField("product_name", StringType, nullable = false)))
}

/** Batch-level stage outcome: rows this batch MERGED into silver
  * (post-dedup) and rows this batch quarantined. Deliberately O(batch)
  * — reporting must never re-scan the full silver table in the
  * incremental path (at scale a table-total count would dominate a
  * small nightly batch); callers wanting a table total read it
  * explicitly (see EtlMain's opt-in totals print). */
final case class StageResult(upserted: Long, rejected: Long)

class EcommercePipeline(spark: SparkSession, warehouse: String) {
  import EcommerceSchemas._

  def table(name: String, pk: String, parts: Seq[String] = Nil): LakehouseTable =
    LakehouseTable(spark, s"$warehouse/$name", Seq(pk), parts)

  // bronze is an unpartitioned append-only landing zone: batches land
  // via the atomic batch-dir rename (appendBatch), and nothing prunes
  // on bronze — date pruning happens at silver, which IS partitioned
  val bronzeProducts: LakehouseTable   = table("bronze_products", "product_id")
  val bronzeOrders: LakehouseTable     = table("bronze_orders", "order_id")
  val bronzeOrderItems: LakehouseTable = table("bronze_order_items", "id")
  val silverProducts: LakehouseTable   = table("silver_products", "product_id")
  val silverOrders: LakehouseTable     = table("silver_orders", "order_id", Seq("date"))
  val silverOrderItems: LakehouseTable = table("silver_order_items", "id", Seq("date"))
  // pk = the quarantine row identity (raw record + its source), NOT a
  // column named "id" — the quarantine schema is (record,
  // validation_errors, source_table, rejected_at) and a phantom pk
  // would crash the first pk-dependent op (upsert's dropDuplicates)
  // with a missing-column AnalysisException far from this declaration
  val quarantine: LakehouseTable =
    LakehouseTable(spark, s"$warehouse/rejected_records",
                   Seq("record", "source_table"))

  /** Bronze ingest (reference docs/etl_processes.md:84-86,
    * docs/data_model.md:46-52): raw inferred-schema rows plus per-row
    * lineage — `source_file` (`_metadata.file_path`, the Spark-4 form of
    * input_file_name) and `ingestion_timestamp` (pinned driver-side so
    * the append action and the downstream silver stage see the SAME
    * value — current_timestamp() would re-resolve per action).
    *
    * Append-only with file-level idempotence: incoming rows whose
    * source_file is already present in bronze are skipped (anti-join on
    * the distinct ingested-file list, broadcast — it is file-count
    * sized, not row-count sized). A rerun of the same paths appends
    * nothing, and ingest work is O(new files); the table is never
    * rewritten, which is what keeps an ever-growing bronze layer viable
    * at scale. Each batch lands through the atomic batch-dir rename
    * ([[LakehouseTable.appendBatch]]), so a crash mid-ingest never
    * leaves a source_file visible with only part of its rows — the
    * precondition the idempotence anti-join relies on.
    *
    * Schema drift: the first batch pins the bronze schema; later
    * batches are conformed to it (cast null-on-error, missing → typed
    * null, new columns dropped) instead of appending whatever a fresh
    * inferSchema guessed — mixed file schemas in one directory would
    * poison every later read.
    *
    * Lands the fresh rows and returns Unit: the silver stage reads
    * the landed batch dirs itself through the [[withPending]] /
    * unackedBatches crash-window handshake (which also picks up
    * batches a previous run landed but died before processing) — a
    * returned DataFrame would be a second, handshake-bypassing path
    * to the same data, and the earlier read-back here was exactly
    * that: dead code every caller discarded. */
  def ingestBronze(csvPath: String, target: LakehouseTable): Unit = {
    val ingestTs = new java.sql.Timestamp(System.currentTimeMillis())
    // format dispatch: the reference's bronze orders/order-items land
    // as Excel (docs/etl_processes.md:133,189), products as CSV — both
    // go through the same header+inferSchema contract and downstream
    // schema-pinning. Excel lineage comes from the binaryFile path
    // (ExcelSource parses whole files, so there is no per-row
    // _metadata scan column to read it from).
    val raw0 =
      if (hasXlsx(csvPath))
        graft.sources.ExcelSource.read(spark, csvPath,
          sourceFileCol = Some("source_file"))
      else
        spark.read.option("header", "true").option("inferSchema", "true")
          .csv(csvPath)
          .withColumn("source_file", col("_metadata.file_path"))
    val raw = raw0.withColumn("ingestion_timestamp", lit(ingestTs))
    val fresh =
      if (!target.exists) raw
      else {
        val existing = target.read
        val conformed = Casting.conformTo(raw, existing.schema)
        val seen = existing.select("source_file").distinct()
        conformed.join(broadcast(seen), Seq("source_file"), "left_anti")
      }
    if (!fresh.isEmpty) { target.appendBatch(fresh); () }
  }

  /** True when `path` is an .xlsx file or a directory containing any
    * (one driver-side listing — the same listing the file source does).
    *
    * A MIXED drop is rejected loudly IN BOTH DIRECTIONS — not just
    * .csv beside .xlsx: the Excel branch reads via pathGlobFilter
    * *.xlsx, so ANY other format (.csv, .xls, .json, .tsv...) would be
    * silently skipped — never ingested, never quarantined, on this and
    * every future run (the freshness anti-join would keep treating
    * those files as unseen but the scan would never surface them).
    * Symmetrically, the CSV branch parses every non-hidden file in the
    * directory as CSV, so a stray .json there would ingest as garbage
    * rows; only .csv files may accompany .csv files. */
  private def hasXlsx(path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && {
      val st = fs.getFileStatus(p)
      if (st.isFile) p.getName.toLowerCase.endsWith(".xlsx")
      else {
        // data files only: _-/.-prefixed entries (markers, hidden) and
        // subdirectories are ignored by both readers anyway
        val names = fs.listStatus(p).filter(_.isFile)
          .map(_.getPath.getName.toLowerCase)
          .filterNot(n => n.startsWith("_") || n.startsWith("."))
        val xlsx = names.exists(_.endsWith(".xlsx"))
        val wanted = if (xlsx) ".xlsx" else ".csv"
        val strays = names.filterNot(_.endsWith(wanted))
        // a pure-CSV drop with no strays is the reference layout; a
        // directory of neither (e.g. extensionless parts) stays on the
        // CSV branch only when nothing LOOKS like another format
        if (xlsx || names.exists(_.endsWith(".csv")))
          require(strays.isEmpty,
            s"mixed-format drop at $path: $wanted files present alongside " +
            s"${strays.sorted.take(5).mkString(", ")}" +
            (if (strays.length > 5) s" (+${strays.length - 5} more)" else "") +
            s" — the ${if (xlsx) "Excel" else "CSV"} reader would " +
            s"${if (xlsx) "silently skip" else "mis-parse"} them; land the " +
            "formats in separate directories")
        else {
          // no .csv and no .xlsx AT ALL: a drop composed entirely of
          // some OTHER recognizable format (all .json, all .tsv...)
          // would fall through to the CSV branch and ingest mis-parsed
          // garbage rows silently — the same wrong-data mode the mixed
          // guard exists for, just without a native file to flag it.
          // Extensionless parts stay on the CSV branch (the Spark CSV
          // reader's own layout); compression suffixes are transparent
          // to it, so look through them before reading the extension.
          val foreignExts = Set("json", "jsonl", "ndjson", "tsv", "psv",
            "xls", "xlsm", "xlsb", "ods", "parquet", "avro", "orc",
            "xml", "yaml", "yml", "txt")
          val comp = Set("gz", "bz2", "zst", "snappy", "deflate", "lz4")
          def ext(n: String): Option[String] = {
            val base = n.split('.').toSeq match {
              case parts if parts.length > 1 && comp(parts.last) =>
                parts.dropRight(1)
              case parts => parts
            }
            if (base.length > 1) Some(base.last) else None
          }
          val foreign = names.filter(n => ext(n).exists(foreignExts))
          require(foreign.isEmpty,
            s"unrecognized drop format at $path: no .csv or .xlsx file, " +
            s"but ${foreign.sorted.take(5).mkString(", ")}" +
            (if (foreign.length > 5) s" (+${foreign.length - 5} more)"
             else "") +
            " present — the CSV branch would mis-parse these; land a " +
            "supported format (.csv or .xlsx)")
        }
        xlsx
      }
    }
  }

  /** Bronze→silver cast: declared-schema cast loop over the bronze rows;
    * the lineage columns (undeclared) pass through, matching the
    * reference silver schemas which carry source_file +
    * ingestion_timestamp (docs/data_model.md:96-148). */
  private def castBronze(bronze: DataFrame, schema: StructType): DataFrame =
    Casting.castTo(bronze, schema)

  private def requiredRules(schema: StructType) =
    Validation.requiredFieldRules(schema)

  /** Generic incremental bronze→silver stage over ONE fresh batch:
    * validate → quarantine rejected → dedup pk → upsert silver.
    * Returns (silver rows after upsert, batch rejects).
    *
    * Incremental by contract: `df` is the newly ingested rows only, so
    * quarantine grows by exactly this batch's rejects (never re-listing
    * history) and the upsert's update-wins MERGE makes the most recent
    * batch deterministically win for a re-delivered pk. Within a batch
    * the winner is deterministic too: latest ingestion_timestamp, then
    * lexicographically-last source_file (re-deliveries inside one file
    * are identical rows, so their tie is value-irrelevant).
    *
    * `helperCols` (e.g. RI membership tags) are consumed by the rules
    * and dropped before anything is persisted — storing them would
    * break schema stability on the next incremental upsert. */
  /** The ONE quarantine writer (both the validation-reject path and
    * the dims-missing wholesale path go through here): `rejected`
    * carries [[Validation.ErrCol]] in its STRING form, the JSON
    * `record` holds exactly the silver-schema payload (built BEFORE
    * the metadata columns, so nothing is stored twice), and the
    * metadata columns are appended uniformly. One implementation on
    * purpose — two hand-rolled writers once diverged on the ErrCol
    * type (string vs array<string>) and wedged the shared bucket with
    * conflicting parquet schemas that no later read could reconcile. */
  private def quarantineAppend(rejected: DataFrame, sourceName: String): Unit = {
    val payload = rejected.columns.filterNot(_ == Validation.ErrCol)
    quarantine.appendBatch(
      rejected.select(
        to_json(struct(payload.map(col).toIndexedSeq: _*)).as("record"),
        col(Validation.ErrCol),
        lit(sourceName).as("source_table"),
        current_timestamp().as("rejected_at")),
      bucket = s"src-$sourceName")
    ()
  }

  private def stage(df: DataFrame, rules: Seq[Rule], target: LakehouseTable,
                    sourceName: String,
                    helperCols: Seq[String] = Nil): StageResult = {
    if (df.isEmpty) return StageResult(0L, 0L)
    val (valid0, rejected0) = Validation.split(df, rules)
    val valid = helperCols.foldLeft(valid0)(_.drop(_))
    val rejected = helperCols.foldLeft(rejected0)(_.drop(_))
    val nRejected = rejected.count()
    if (nRejected > 0)
      // one bucket per source: replay rewrites O(bucket), not O(table)
      quarantineAppend(rejected, sourceName)
    // persisted so the count and the upsert share one computation —
    // both actions are batch-scale, never a full-table scan
    val deduped = Dedup.keepFirst(valid, target.pk,
      Seq(col("ingestion_timestamp").desc, col("source_file").desc))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nUpserted = deduped.count()
      // upsert itself no-ops on an empty batch (an all-rejected batch
      // must not create a data-file-less partitioned table), so the
      // all-rejected bootstrap case leaves target nonexistent
      target.upsert(deduped)
      StageResult(nUpserted, nRejected)
    } finally { deduped.unpersist(); () }
  }

  /** Run `body` over every bronze batch not yet acknowledged as
    * processed, then ack them — the crash-recovery complement of
    * file-level idempotence. A run that died between its bronze
    * landing and its silver stage (quarantine append, upsert) left
    * the batch stranded: the rerun's anti-join sees the file already
    * in bronze and ingests nothing, and no replay path reads bronze —
    * rows with no road to silver OR quarantine, forever. The
    * [[LakehouseTable.ackBatch]] handshake closes that window: batches
    * ack only AFTER the stage completed, so a crash anywhere inside it
    * re-presents the batch next run. Reprocessing is safe end to end —
    * the upsert is idempotent and duplicate quarantine rejects are
    * tolerated by replay's pk dedup + record-level anti-join (the same
    * argument [[migrateLegacyQuarantine]] makes). */
  private def withPending(bronzeT: LakehouseTable)
                         (body: DataFrame => StageResult): StageResult = {
    val dirs = bronzeT.unackedBatches()
    if (dirs.isEmpty) return StageResult(0L, 0L)
    val input = spark.read.option("recursiveFileLookup", "true")
      .parquet(dirs: _*)
    val res = body(input)
    dirs.foreach(bronzeT.ackBatch)
    res
  }

  def runProducts(csvPath: String): StageResult = {
    ingestBronze(csvPath, bronzeProducts)
    withPending(bronzeProducts) { input =>
      // reference silver enrichment (docs/etl_processes.md:253-254):
      // SCD1 current-rows flag + update watermark
      val df = castBronze(input, products)
        .withColumn("is_active", lit(true))
        .withColumn("last_updated_timestamp", current_timestamp())
      stage(df, requiredRules(products), silverProducts, "products")
    }
  }

  private def orderRules: Seq[Rule] =
    requiredRules(orders) :+ Rule(col("total_amount") < 0, "Negative total_amount")

  /** RI tagging + rules for order_items against the CURRENT silver
    * dims — shared by the ingest stage and quarantine replay so both
    * enforce identical semantics. */
  private def tagItems(df: DataFrame): (DataFrame, Seq[Rule], Seq[String]) = {
    val tagged = Validation.tagRiViolations(
      Validation.tagRiViolations(df, silverOrders.read, "order_id",
        "order_id", "__bad_order"),
      silverProducts.read, "product_id", "product_id", "__bad_product")
    val rules = requiredRules(orderItems) ++ Seq(
      Rule(col("__bad_order"), "order_id not found in orders"),
      Rule(col("__bad_product"), "product_id not found in products"))
    (tagged, rules, Seq("__bad_order", "__bad_product"))
  }

  def runOrders(csvPath: String): StageResult = {
    ingestBronze(csvPath, bronzeOrders)
    withPending(bronzeOrders) { input =>
      // reference silver enrichment (docs/etl_processes.md:308-309)
      val df = castBronze(input, orders)
        .withColumn("day_of_week", dayofweek(col("date")))
        .withColumn("hour_of_day", hour(col("order_timestamp")))
      stage(df, orderRules, silverOrders, "orders")
    }
  }

  /** order_items: required fields + RI against the silver dims via
    * broadcast anti-join membership tags. */
  def runOrderItems(csvPath: String): StageResult = {
    ingestBronze(csvPath, bronzeOrderItems)
    withPending(bronzeOrderItems) { input =>
      val df = castBronze(input, orderItems)
      // A dim silver table can be nonexistent here (the all-rejected
      // bootstrap case leaves it uncreated) — tagItems would then
      // crash mid-stage. Quarantine the whole batch instead (ErrCol in
      // its STRING form, through the shared writer — the bucket must
      // hold one schema); replay (which guards on dim existence)
      // recovers it once the dims bootstrap.
      if (!silverOrders.exists || !silverProducts.exists) {
        if (df.isEmpty) StageResult(0L, 0L)
        else {
          val n = df.count()
          quarantineAppend(
            df.withColumn(Validation.ErrCol,
              lit("dimension tables not yet available")),
            "order_items")
          StageResult(0L, n)
        }
      } else {
        val (tagged, rules, helpers) = tagItems(df)
        stage(tagged, rules, silverOrderItems, "order_items",
              helperCols = helpers)
      }
    }
  }

  /** Heal any swap a previous crashed run left half-done BEFORE any
    * stage or gold build reads silver. Repair otherwise happens only
    * as a side effect of the next write to the same table — a table
    * whose batch is empty this run (or a read-only consumer) would hit
    * the dark partition first and fail before self-healing kicked in. */
  def repairAll(): Unit =
    Seq(bronzeProducts, bronzeOrders, bronzeOrderItems, silverProducts,
        silverOrders, silverOrderItems, quarantine)
      .foreach(_.repairInterruptedSwaps())

  /** Full run in reference dependency order. */
  def run(productsCsv: String, ordersCsv: String,
          orderItemsCsv: String): Map[String, StageResult] = {
    repairAll()
    Map(
      "products"    -> runProducts(productsCsv),
      "orders"      -> runOrders(ordersCsv),
      "order_items" -> runOrderItems(orderItemsCsv))
  }

  /** Dead-letter replay: re-validate quarantined rows whose blocker may
    * have cleared — above all RI rejects whose dimension arrived in a
    * LATER batch. With incremental silver + bronze file idempotence
    * this is the only path that can ever land a once-rejected row
    * (re-delivering its source file is a bronze no-op by design).
    *
    * Mechanics: parse the stored JSON records back to each silver
    * schema, re-run the SAME stage rules (order_items re-tags RI
    * against the current silver dims), upsert what now passes, and
    * rewrite the quarantine without the recovered entries (atomic
    * overwrite — a crash leaves the old quarantine intact and replay
    * re-runs idempotently: recovered rows upsert to identical values).
    * Tables replay in dependency order so a recovered product can
    * unblock an order_items row within one call. Returns per-table
    * recovered counts. */
  /** One-time layout migration: quarantine batches written before
    * source-bucketing landed live as TOP-LEVEL batch-* dirs, which the
    * bucket-scoped replay would never look at — dead letters stranded
    * forever on an upgraded warehouse. Move their rows into per-source
    * buckets, then drop the legacy dirs. Append-then-delete: a crash
    * in between duplicates rows, which is safe — replay's upsert
    * dedups on pk, and the bucket rewrite removes every copy of a
    * recovered record. */
  private def migrateLegacyQuarantine(): Unit = {
    val root = new org.apache.hadoop.fs.Path(s"$warehouse/rejected_records")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    val legacy = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch-"))
    if (legacy.isEmpty) return
    val rows = spark.read.option("recursiveFileLookup", "true")
      .parquet(legacy.map(_.getPath.toString): _*)
    // bounded collect: one value per source table, not per row
    val sources = rows.select("source_table").distinct()
      .collect().map(_.getString(0))
    sources.foreach { s =>
      quarantine.appendBatch(rows.filter(col("source_table") === s),
                             bucket = s"src-$s")
    }
    legacy.foreach(s => fs.delete(s.getPath, true))
  }

  def replayQuarantine(): Map[String, Long] = {
    // heal a replay that crashed inside its own quarantine rewrite —
    // without this, the dead-letter queue itself could stay dark
    quarantine.repairInterruptedSwaps()
    if (!quarantine.exists) return Map.empty
    migrateLegacyQuarantine()
    scala.collection.immutable.ListMap(
      "products"    -> replayTable("products", silverProducts),
      "orders"      -> replayTable("orders", silverOrders),
      "order_items" -> replayTable("order_items", silverOrderItems))
  }

  /** The silver schema each table's quarantine records parse back to:
    * the live table's when it exists, otherwise reconstructed from the
    * declared schema + lineage + enrichment columns — so replay can
    * BOOTSTRAP a silver table whose every first-batch row was rejected
    * (without this, those rows would be stranded forever: bronze
    * idempotence makes re-delivery a no-op). */
  private def silverSchema(name: String, target: LakehouseTable): StructType = {
    if (target.exists) return target.read.schema
    val lineage = Seq(StructField("source_file", StringType),
                      StructField("ingestion_timestamp", TimestampType))
    name match {
      case "products" => StructType(products.fields ++ lineage ++ Seq(
        StructField("is_active", BooleanType),
        StructField("last_updated_timestamp", TimestampType)))
      case "orders" => StructType(orders.fields ++ lineage ++ Seq(
        StructField("day_of_week", IntegerType),
        StructField("hour_of_day", IntegerType)))
      case _ => StructType(orderItems.fields ++ lineage)
    }
  }

  private def replayTable(name: String, target: LakehouseTable): Long = {
    // order_items can only re-validate once both dims exist; its rows
    // wait in quarantine for a later replay otherwise
    if (name == "order_items" &&
        (!silverOrders.exists || !silverProducts.exists)) return 0L
    // bucket-pruned read: only this source's dead letters are scanned
    val qrows = quarantine.readBucket(s"src-$name").getOrElse(return 0L)
    if (qrows.isEmpty) return 0L
    val parsed = qrows
      .select(col("record"),
              from_json(col("record"), silverSchema(name, target)).as("__r"))
      .select(col("record"), col("__r.*"))
    val (checked, rules, helpers) = name match {
      case "order_items" => tagItems(parsed)
      case "orders"      => (parsed, orderRules, Seq.empty[String])
      case _             => (parsed, requiredRules(products), Seq.empty[String])
    }
    // persisted: THREE actions read the validated rows (count, the
    // upsert input, and the quarantine-rewrite anti-join) — and the
    // plan above them re-runs the JSON parse plus (for order_items)
    // both RI dimension joins per action. Same discipline as
    // LakehouseTable.upsert and stage().
    val valid = helpers.foldLeft(Validation.split(checked, rules)._1)(_.drop(_))
      .persist()
    try {
      val n = valid.count()
      if (n > 0) {
        // same deterministic within-batch winner as stage(): two
        // recovered re-deliveries of one pk must not flip arbitrarily
        // across runs (upsert's own dropDuplicates has no ordering)
        target.upsert(Dedup.keepFirst(valid.drop("record"), target.pk,
          Seq(col("ingestion_timestamp").desc, col("source_file").desc)))
        // bucket-scoped rewrite: drop the recovered records from THIS
        // source's bucket only — other sources' dead letters untouched
        quarantine.replaceBucket(s"src-$name",
          qrows.join(valid.select(col("record")), Seq("record"), "left_anti"))
      }
      n
    } finally { valid.unpersist(blocking = false); () }
  }

  // ── gold layer (docs/etl_processes.md:420-683 on the e-commerce model) ──

  /** Gold watermark (DDL last_updated_timestamp, data_model.md:158-223),
    * pinned to the effective ETL date (env-overridable) rather than
    * wall-clock so gold builds are idempotent — the same contract the
    * SCD2 history uses. */
  private def goldUpdatedAt =
    lit(sys.env.getOrElse("SPARK_GRAFT_ETL_DATE", "2025-06-01"))
      .cast("timestamp").as("last_updated_timestamp")

  def goldDailySales(): DataFrame = {
    val o = silverOrders.read; val oi = silverOrderItems.read
    goldDailySalesOf(o, oi)
  }

  /** Output types follow the documented gold DDL
    * (docs/data_model.md:158-169): DECIMAL(p,s) money/rate columns,
    * INT counts, a last-updated watermark. */
  private def goldDailySalesOf(o: DataFrame, oi: DataFrame): DataFrame =
    o.join(oi, "order_id")
      .groupBy(o("date"))
      .agg(sum("total_amount").cast("decimal(15,2)").as("total_sales"),
           countDistinct("order_id").cast("int").as("order_count"),
           avg("total_amount").cast("decimal(10,2)").as("avg_order_value"),
           countDistinct(o("user_id")).cast("int").as("unique_customers"),
           count(oi("id")).cast("int").as("total_items"))
      .withColumn("avg_items_per_order",
        (col("total_items") / col("order_count")).cast("decimal(5,2)"))
      .withColumn("last_updated_timestamp", goldUpdatedAt)

  /** Incremental gold maintenance: recompute daily_sales only for the
    * dates present in a new batch and MERGE those rows into the gold
    * table (the reference's cadence is one file per day, so a batch
    * always carries whole dates — the precondition that makes per-date
    * upserts exact). Work is O(batch + affected dates), not O(history):
    * the silver scans prune to the affected date partitions
    * (silver_orders/order_items are partitioned by date), and the
    * upsert rewrites only matching gold rows. Idempotent: re-running
    * the same batch recomputes identical rows. */
  def goldDailySalesIncremental(goldTable: LakehouseTable,
                                affectedDates: Seq[String]): Unit = {
    val o = silverOrders.read.filter(col("date").isInCollection(affectedDates))
    val oi = silverOrderItems.read.filter(col("date").isInCollection(affectedDates))
    val fresh = goldDailySalesOf(o, oi)
    // bootstrap must be the FULL recompute: overwriting a missing gold
    // table with just the batch's dates would silently drop all prior
    // silver history from gold with no way for later per-date merges
    // to backfill it
    if (goldTable.exists) goldTable.upsert(fresh)
    else goldTable.overwrite(goldDailySales())
  }

  def goldProductPerformance(): DataFrame =
    silverOrderItems.read
      .join(broadcast(silverProducts.read), "product_id")
      .groupBy(col("product_id"), col("department"), col("product_name"))
      .agg(count(col("id")).cast("int").as("times_purchased"),
           countDistinct("order_id").cast("int").as("order_count"),
           avg("reordered").cast("decimal(5,4)").as("reorder_rate"),
           avg("days_since_prior_order").cast("decimal(5,2)")
             .as("avg_days_between_orders"))
      .withColumn("last_updated_timestamp", goldUpdatedAt)

  def goldDepartmentAnalytics(): DataFrame =
    silverOrderItems.read
      .join(broadcast(silverProducts.read), "product_id")
      .join(silverOrders.read.select("order_id", "total_amount"), "order_id")
      .groupBy(col("department"))
      .agg(sum("total_amount").cast("decimal(15,2)").as("total_sales"),
           countDistinct("product_id").cast("int").as("unique_products"),
           countDistinct("order_id").cast("int").as("order_count"),
           // order_items carries the ordering user directly (DDL
           // customer_count, data_model.md:200)
           countDistinct("user_id").cast("int").as("customer_count"),
           avg("total_amount").cast("decimal(10,2)").as("avg_order_value"))
      .withColumn("last_updated_timestamp", goldUpdatedAt)

  def goldCustomerInsights(anchor: String): DataFrame = {
    val o = silverOrders.read
    val um = o.groupBy(col("user_id"))
      .agg(countDistinct("order_id").cast("int").as("total_orders"),
           // DDL name is total_spend (data_model.md:211)
           sum("total_amount").cast("decimal(15,2)").as("total_spend"),
           avg("total_amount").cast("decimal(10,2)").as("avg_order_value"),
           min("date").as("first_order_date"),
           max("date").as("last_order_date"))
      .withColumn("days_since_last_order",
        datediff(lit(anchor).cast("date"), col("last_order_date")))
      .withColumn("customer_segment",
        when(col("total_orders") > 10, "Loyal")
          .when(col("total_orders") > 5 && col("days_since_last_order") <= 30, "Active")
          .when(col("total_orders") > 1 && col("days_since_last_order") <= 90, "Regular")
          .when(col("days_since_last_order") > 90, "Lapsed")
          .otherwise("New"))
    val counts = silverOrderItems.read
      .join(broadcast(silverProducts.read), "product_id")
      .groupBy(col("user_id"), col("product_id"), col("department"))
      .agg(count(lit(1)).as("product_count"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("product_count").desc)
    val fav = counts.withColumn("rnk", rank().over(w)).filter(col("rnk") === 1)
      .select(col("user_id"), col("product_id").as("favorite_product_id"),
              col("department").as("favorite_department"),
              col("product_count"))
    um.join(fav, "user_id").withColumn("last_updated_timestamp", goldUpdatedAt)
  }
}
