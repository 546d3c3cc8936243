package graft.etl

import org.apache.spark.sql.SparkSession

/** CLI entry for the reference-parity medallion run (the counterpart
  * of the reference's Glue `main()`, glue_etl.py:525-694):
  *
  *   runMain graft.etl.EtlMain <productsCsv> <ordersCsvGlob> \
  *     <orderItemsCsvGlob> <warehouseDir>
  *
  * Runs bronze→silver with validation + quarantine, builds the four
  * gold tables, registers everything in the session catalog, prints
  * per-stage counts and smoke queries (the Step Functions LIMIT-5
  * validation stage equivalent, delta-lake.json:147-215).
  */
object EtlMain {
  /** Wall-clock per pipeline stage, printed in the `[etl]` log stream
    * — the observability line a scale rehearsal diffs across fixture
    * sizes (a stage whose time grows faster than its input is the
    * thing to find BEFORE 100 TB). Timing wraps the action, so lazy
    * frames cost where they execute, like Spark's own stage view. */
  private def timed[T](stage: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[etl] timing $stage%-24s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    r
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 4,
      "usage: EtlMain <productsCsv> <ordersCsv> <orderItemsCsv> <warehouse>")
    val Array(productsCsv, ordersCsv, itemsCsv, warehouse) = args
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[8]"))
      .appName("graft-etl")
      .config("spark.sql.shuffle.partitions",
              sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      // layer databases' metadata dirs live inside the warehouse arg
      .config("spark.sql.warehouse.dir", s"$warehouse/_catalog")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      // v2 commits each task's files task-side (parallel) instead of
      // the driver serially moving every task dir at job commit. v2's
      // weaker guarantee — a failed JOB can leave partial files in the
      // output dir — is immaterial here: every LakehouseTable write
      // lands in a PRIVATE staged dir that only an atomic rename
      // publishes, so a partial staged dir is abandoned, never read
      // (vacuum sweeps it). Measured at the sf0.1 rehearsal scale it
      // buys ~25% on the ingest+upsert stage (many-partition commits);
      // partition-dir creation itself still bounds the summary writes.
      .config("mapreduce.fileoutputcommitter.algorithm.version", "2")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val pipe = new EcommercePipeline(spark, warehouse)
    val results = timed("bronze_silver") {
      pipe.run(productsCsv, ordersCsv, itemsCsv)
    }
    results.foreach { case (name, r) =>
      println(f"[etl] $name%-12s upserted=${r.upserted}%7d rejected=${r.rejected}%5d")
    }

    // dead-letter replay BEFORE the gold builds: a row whose blocker
    // cleared THIS run (an RI reject whose dimension just arrived)
    // must land in silver before gold aggregates it — replayed after,
    // gold and the MV summaries (built even later) would disagree on
    // the same run's data until the NEXT run
    val recovered = timed("quarantine_replay") { pipe.replayQuarantine() }
    if (recovered.values.sum > 0)
      println(s"[etl] quarantine replay recovered: " +
        recovered.map { case (k, v) => s"$k=$v" }.mkString(" "))
    // table totals are a FULL scan per table — diagnostic only, opt-in
    // so the incremental path stays O(batch) by default
    if (sys.env.get("GRAFT_ETL_TOTALS").contains("1"))
      Seq("products" -> pipe.silverProducts, "orders" -> pipe.silverOrders,
          "order_items" -> pipe.silverOrderItems).foreach { case (n, t) =>
        println(f"[etl] $n%-12s total=${if (t.exists) t.read.count() else 0L}%7d")
      }

    // the insights anchor follows the SAME env override as the SCD2
    // effective date and the gold watermark — a date-overridden run
    // must not measure days_since_last_order from a stale default
    val etlDate = sys.env.getOrElse("SPARK_GRAFT_ETL_DATE", "2025-06-01")
    val gold = Map(
      "gold_daily_sales"          -> pipe.goldDailySales(),
      "gold_product_performance"  -> pipe.goldProductPerformance(),
      "gold_department_analytics" -> pipe.goldDepartmentAnalytics(),
      "gold_customer_insights"    -> pipe.goldCustomerInsights(etlDate))
    gold.foreach { case (name, df) =>
      timed(name) {
        graft.tables.LakehouseTable(spark, s"$warehouse/$name", Seq.empty)
          .overwrite(df)
      }
      println(f"[etl] $name%-26s rows=${spark.read.parquet(s"$warehouse/$name").count()}%7d")
    }

    // SCD2 history for the products dimension: silver_products is SCD1
    // overwrite (reference is_active/last_updated_timestamp,
    // docs/data_model.md:104-105); the history table preserves prior
    // attribute versions with validity intervals. Effective date is
    // pinned (env-overridable) so a rerun of the same batch is a
    // no-op — the pipeline-wide idempotence contract.
    {
      import org.apache.spark.sql.functions.{col, lit}
      val hist = graft.tables.LakehouseTable(
        spark, s"$warehouse/silver_products_history", Seq("product_id"))
      val attrs = Seq("department_id", "department", "product_name")
      val updates = pipe.silverProducts.read
        .select(("product_id" +: attrs).map(col): _*)
      val current =
        if (hist.exists) hist.read
        else updates.limit(0)
          .withColumn("valid_from", lit(null).cast("date"))
          .withColumn("valid_to", lit(null).cast("date"))
      val merged = graft.operators.Scd2.merge(current, updates,
        Seq("product_id"), attrs, etlDate)
      timed("scd2_history") { hist.overwrite(merged) }
      println(f"[etl] silver_products_history      rows=${hist.read.count()}%7d")
    }

    // smoke stage: LIMIT-5 liveness per output table (through the
    // table's own read: a compacted unpartitioned table keeps its data
    // in a compacted-* subdir, which a plain parquet read cannot see)
    Seq(pipe.silverProducts, pipe.silverOrders, pipe.silverOrderItems)
      .foreach { t =>
        val n = t.read.limit(5).count()
        require(n > 0, s"smoke check failed for ${t.path}")
      }
    println("[etl] smoke checks passed")

    // per-layer catalog databases (reference config/settings.py:115-121
    // registers bronze/silver/gold Glue databases): every output table
    // under its layer's namespace, analysts navigate db-first
    pipe.bronzeProducts.registerAs("bronze.products")
    pipe.bronzeOrders.registerAs("bronze.orders")
    pipe.bronzeOrderItems.registerAs("bronze.order_items")
    pipe.silverProducts.registerAs("silver.products")
    pipe.silverOrders.registerAs("silver.orders")
    pipe.silverOrderItems.registerAs("silver.order_items")
    graft.tables.LakehouseTable(
      spark, s"$warehouse/silver_products_history", Seq("product_id"))
      .registerAs("silver.products_history")
    gold.keys.foreach { name =>
      graft.tables.LakehouseTable(spark, s"$warehouse/$name", Seq.empty)
        .registerAs(s"gold.${name.stripPrefix("gold_")}")
    }
    // qualified-name smoke read proves the catalog route end-to-end
    val viaCatalog = spark.sql(
      "SELECT count(*) AS n FROM silver.orders").head().getLong(0)
    require(viaCatalog > 0, "catalog smoke read failed for silver.orders")
    println(s"[etl] catalog registered: bronze/silver/gold databases " +
      s"(silver.orders rows=$viaCatalog)")

    // maintenance: compact each layer toward its documented target
    // (docs/data_model.md:304-308: bronze 128 MB, silver 256 MB, gold
    // 512 MB) — append batches and incremental upserts fragment files;
    // the compaction rewrite is the same atomic tombstone swap as any
    // overwrite, so a crash mid-compact repairs like any other write.
    // Vacuum sweeps staged-write leftovers (repairing interrupted
    // swaps first).
    timed("compact_vacuum") {
    Seq(pipe.bronzeProducts, pipe.bronzeOrders, pipe.bronzeOrderItems)
      .foreach { t => t.compact(128L * 1024 * 1024); t.vacuum() }
    // silver_orders is rewritten BY its clustering pass below (the
    // partition-leading range layout is also compaction-shaped) —
    // compacting it here too would rewrite the identical data twice
    Seq(pipe.silverProducts, pipe.silverOrderItems)
      .foreach { t => t.compact(256L * 1024 * 1024); t.vacuum() }
    // gold_customer_insights is compacted BY its z-order pass below
    // (same 512 MB target, one rewrite) — compacting it here too would
    // rewrite the identical data twice
    gold.keys.filterNot(_ == "gold_customer_insights").foreach { name =>
      val t = graft.tables.LakehouseTable(spark, s"$warehouse/$name", Seq.empty)
      t.compact(512L * 1024 * 1024); t.vacuum()
    }
    }
    println("[etl] bronze/silver/gold compaction + vacuum done")

    // data skipping on the hottest non-partition predicate: cluster
    // silver_orders by user, then write the per-file min/max
    // manifest so user-scoped reads open only intersecting files
    // (OPTIMIZE ZORDER + Delta stats parity, docs/etl_processes.md:382)
    timed("cluster_zorder_stats") {
    pipe.silverOrders.optimizeClustered(Seq("user_id"))
    pipe.silverOrders.vacuum()
    pipe.silverOrders.writeFileStats(Seq("user_id"))
    // gold_customer_insights serves BOTH user-scoped lookups and
    // spend-band analytics: true Z-order makes each file a small
    // rectangle in (user_id, total_spend) so either predicate skips
    val gci = graft.tables.LakehouseTable(
      spark, s"$warehouse/gold_customer_insights", Seq.empty)
    gci.optimizeZOrder(Seq("user_id", "total_spend")) // 512 MB default
    gci.vacuum()
    gci.writeFileStats(Seq("user_id", "total_spend"))
    // order_items is clustered by nothing product-shaped (date
    // partitions, pk layout): product point lookups span every file's
    // min/max — per-file blooms are the index that works there
    pipe.silverOrderItems.writeFileBlooms(Seq("product_id"))
    }
    println("[etl] silver_orders clustered + gold z-ordered; " +
      "min/max + bloom file stats written")

    // the gold layer as a SERVING layer, not just parallel tables: a
    // date-grain summary of silver_orders is materialized and
    // registered with the MV rewrite rule, so any aggregate query at
    // or above that grain transparently scans the summary instead of
    // re-scanning silver (at 100 TB: KBs instead of the fact table).
    // Registration happens here — right after the rebuild — because
    // the rewrite is only sound while summary and source are in sync.
    // partitioned by date like its source, so incremental runs can
    // refresh only the dates a batch touched (MaterializedAgg.refresh)
    timed("mv_summaries") {
    val summaryPath = s"$warehouse/gold_orders_date_summary"
    val summaryT =
      graft.tables.LakehouseTable(spark, summaryPath, Seq("date"), Seq("date"))
    timed("mv_date_build") {
      summaryT.overwrite(graft.plans.MaterializedAgg.build(
        pipe.silverOrders.read, Seq("date"), Seq("total_amount")))
    }
    // analysts can also hit it directly by name — and because the MV
    // registry keys on the scan's root path, their SQL aggregates over
    // silver.orders are served from it without knowing it exists
    summaryT.registerAs("gold.orders_date_summary")
    graft.plans.MaterializedAgg.attach(spark)
    graft.plans.MaterializedAgg.register(spark, pipe.silverOrders.path,
      summaryPath, Seq("date"), Seq("total_amount"))
    val probe = pipe.silverOrders.read.groupBy(org.apache.spark.sql.functions.col("date"))
      .agg(org.apache.spark.sql.functions.sum("total_amount").as("revenue"))
    val served = probe.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.exists(_.toString.contains("gold_orders_date_summary"))
          case _ => false
        }
    }
    require(served.nonEmpty && served.forall(identity),
      "MV rewrite did not serve the daily-revenue probe from the summary")
    println(s"[etl] gold_orders_date_summary registered; daily revenue " +
      s"served from summary (${probe.count()} dates)")

    // the JOIN shape of the same serving layer: the reference's gold
    // queries aggregate JOINED silver tables
    // (docs/etl_processes.md:425-437,490-500) — register a
    // (date, department)-grain summary of order_items ⋈ products so
    // department rollups over the join scan KBs instead of the fact
    // table. Built AFTER all silver maintenance (compaction/cluster/
    // blooms): every mutator auto-invalidates registrations, so
    // registering last is what keeps it live.
    {
      import org.apache.spark.sql.functions.{col, count, lit, sum}
      val jPath = s"$warehouse/gold_department_daily_summary"
      val jT = graft.tables.LakehouseTable(spark, jPath,
        Seq("date", "department"), Seq("date"))
      timed("mv_join_build") {
        jT.overwrite(graft.plans.MaterializedAgg.buildJoin(
          pipe.silverOrderItems.read, pipe.silverProducts.read,
          "product_id", "product_id",
          Seq("date", "department"), Seq("reordered")))
      }
      jT.registerAs("gold.department_daily_summary")
      graft.plans.MaterializedAgg.registerJoin(spark,
        pipe.silverOrderItems.path, pipe.silverProducts.path,
        "product_id", "product_id", jPath,
        Seq("date", "department"), Seq("reordered"))
      val f = pipe.silverOrderItems.read
      val d = pipe.silverProducts.read
      val jProbe = f.join(d, f("product_id") === d("product_id"))
        .groupBy(col("department"))
        .agg(sum("reordered").as("reorders"), count(lit(1)).as("n_items"))
      val jServed = jProbe.queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.exists(
                _.toString.contains("gold_department_daily_summary"))
            case _ => false
          }
      }
      require(jServed.nonEmpty && jServed.forall(identity),
        "MV join rewrite did not serve the department probe from the summary")
      println(s"[etl] gold_department_daily_summary registered; department " +
        s"reorders served from the join summary (${jProbe.count()} departments)")
    }
    }
    spark.stop()
  }
}
