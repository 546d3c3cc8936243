package perfbench

import java.io.File

import scala.collection.mutable

import graft.etl.{EcommercePipeline, StageResult}
import graft.operators.Scd2
import graft.plans.MaterializedAgg
import graft.tables.LakehouseTable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}

/** The `etl` workload: one client drives the library's ETL path over
  * seeded drops (see gen.py), the way `graft.etl.EtlMain` does.
  *
  *  1. Backfill the history window, in EtlMain's order: pipeline run,
  *     quarantine replay, the four gold builds, the SCD2 history,
  *     compaction and vacuum, clustering / z-order / file stats and
  *     blooms, and the two materialized summaries with their
  *     registrations.
  *  2. Apply each one-date drop through the incremental path: run,
  *     replay, incremental daily-sales gold, summary refreshes, then
  *     partition compaction of the dates the drop touched.
  *  3. After the backfill and after each drop, make the serving reads
  *     (MV-served daily revenue and department rollup, pruned and bloom
  *     point reads, a gold user lookup), timed one by one, then check
  *     each against the same read without the shortcut.
  *
  * Set-up is the session alone: like a daily EtlMain job, which is a
  * fresh JVM, the backfill is the first thing the run does. */
object EtlWorkload {
  final case class Batch(dir: String, touched: Seq[String])

  /** Serving-read rounds after each step (more latency samples). */
  val ServeRounds = 2

  def run(spark: SparkSession, args: Main.Args, trace: Trace, rec: Record): Unit = {
    rec("setup_s") = Main.sinceStart
    val c = new Cycle(spark, s"${args.work}/wh", args.drops, trace, rec)
    val ops0 = CountingFs.ops.get; val files0 = CountingFs.created.get
    val bytes0 = CountingFs.bytesWritten
    val t0 = System.nanoTime()
    c.all()
    rec("timed_s") = Main.secs(t0)
    rec("load_s") = c.loadS
    rec("batches") = c.batchS
    rec("serve") = c.serves
    rec("results") = c.results
    rec("mv_probes") = c.mvProbes
    rec("bytes_written") = CountingFs.bytesWritten - bytes0
    rec("input_bytes") = du(new File(args.drops), _.getName.endsWith(".csv"))
    rec("disk_bytes") = du(new File(s"${args.work}/wh"))
    // live table files (space amplification) and the counting
    // filesystem's counts: traced run only
    if (args.trace) {
      val live = c.tables.flatMap(t => if (t.exists) t.read.inputFiles.toSeq else Nil)
      rec("live_files") = live.size
      rec("live_bytes") = live.map(f => new File(new java.net.URI(f)).length).sum
      rec("fs_ops") = CountingFs.ops.get - ops0
      rec("files_written") = CountingFs.created.get - files0
      rec("skip") = c.skips
    }
  }

  /** Bytes of the files under f (that pass `keep`). */
  def du(f: File, keep: File => Boolean = _ => true): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(du(_, keep)).sum).getOrElse(0L)
    else if (keep(f)) f.length else 0L

  /** The drops' one-date batches, each with the dates its orders touch
    * (its own date and those of the orders it re-delivers). */
  def batches(drops: String): Seq[Batch] =
    new File(drops).listFiles.map(_.getName).filter(_.startsWith("batch-")).sorted.toSeq.map { b =>
      val orders = new File(s"$drops/$b/orders").listFiles.head
      val src = scala.io.Source.fromFile(orders)
      val touched = try src.getLines().drop(1).map(_.split(',').last).toSeq.distinct.sorted
                    finally src.close()
      Batch(s"$drops/$b", touched)
    }

  /** The seeded keys of the serving reads after each step:
    * `<step> <user_id> <product_id>` lines. */
  def serveKeys(drops: String): Map[String, (Long, Long)] = {
    val src = scala.io.Source.fromFile(s"$drops/serve_keys.txt")
    try src.getLines().map(_.split(' ')).map(a => a(0) -> (a(1).toLong, a(2).toLong)).toMap
    finally src.close()
  }

  /** Rows as sorted strings, doubles to 9 significant digits: the MV
    * path re-aggregates partial sums, so a double total may differ from
    * the direct sum in its last bits. */
  def canon(rows: Array[Row]): Seq[String] = rows.map(_.toSeq.map {
    case d: Double => "%.9g".formatLocal(java.util.Locale.ROOT, d)
    case x => String.valueOf(x)
  }.mkString("|")).toSeq.sorted
}

/** The backfill, the drops and the serving reads over one warehouse. */
final class Cycle(spark: SparkSession, wh: String, drops: String, trace: Trace,
                  rec: Record) {
  import EtlWorkload._

  val pipe = new EcommercePipeline(spark, wh)
  private def table(name: String, pk: Seq[String] = Nil, parts: Seq[String] = Nil) =
    LakehouseTable(spark, s"$wh/$name", pk, parts)
  private val goldNames = Seq("gold_daily_sales", "gold_product_performance",
    "gold_department_analytics", "gold_customer_insights")
  private val gold = goldNames.map(n => n -> table(n)).toMap
  private val history = table("silver_products_history", Seq("product_id"))
  private val summary = table("gold_orders_date_summary", Seq("date"), Seq("date"))
  private val joinSummary =
    table("gold_department_daily_summary", Seq("date", "department"), Seq("date"))
  val tables: Seq[LakehouseTable] = Seq(pipe.bronzeProducts, pipe.bronzeOrders,
    pipe.bronzeOrderItems, pipe.silverProducts, pipe.silverOrders,
    pipe.silverOrderItems, pipe.quarantine, history, summary, joinSummary) ++
    goldNames.map(gold)

  var loadS = 0.0
  val batchS = mutable.ArrayBuffer.empty[Map[String, Any]]
  val serves = mutable.ArrayBuffer.empty[Seq[Any]]
  val results = mutable.ArrayBuffer.empty[Map[String, Any]]
  val mvProbes = mutable.ArrayBuffer.empty[Seq[Any]]
  val skips = mutable.ArrayBuffer.empty[Seq[Any]]

  private def call[T](name: String, layer: String)(f: => T): Option[T] =
    rec.op(name)(trace.span(layer)(f))

  private def runPipeline(name: String, dir: String): Unit = {
    val r = call("EcommercePipeline.run", "etl.ingest") {
      pipe.run(s"$dir/products", s"$dir/orders", s"$dir/order_items")
    }
    val rc = call("EcommercePipeline.replayQuarantine", "etl.replay")(pipe.replayQuarantine())
    def pair(s: Option[StageResult]) = s.map(x => Seq(x.upserted, x.rejected))
    results += Map("name" -> name,
      "products" -> r.flatMap(m => pair(m.get("products"))),
      "orders" -> r.flatMap(m => pair(m.get("orders"))),
      "order_items" -> r.flatMap(m => pair(m.get("order_items"))),
      "recovered" -> rc.map(_.getOrElse("order_items", 0L)))
  }

  private val measures = Seq("total_amount")
  private val joinGrain = Seq("date", "department")

  def backfill(): Unit = trace.span("etl.backfill") {
    runPipeline("history", s"$drops/history")
    val etlDate = "2025-06-01"
    val frames: Map[String, () => DataFrame] = Map(
      "gold_daily_sales" -> (() => pipe.goldDailySales()),
      "gold_product_performance" -> (() => pipe.goldProductPerformance()),
      "gold_department_analytics" -> (() => pipe.goldDepartmentAnalytics()),
      "gold_customer_insights" -> (() => pipe.goldCustomerInsights(etlDate)))
    goldNames.foreach { n =>
      call(s"gold:$n", "gold.build")(gold(n).overwrite(frames(n)()))
    }
    call("Scd2.merge", "etl.scd2") {
      val attrs = Seq("department_id", "department", "product_name")
      val updates = pipe.silverProducts.read.select(("product_id" +: attrs).map(col): _*)
      val current = updates.limit(0)
        .withColumn("valid_from", lit(null).cast("date"))
        .withColumn("valid_to", lit(null).cast("date"))
      history.overwrite(Scd2.merge(current, updates, Seq("product_id"), attrs, etlDate))
    }
    // compaction targets and table choices as in EtlMain
    Seq(pipe.bronzeProducts, pipe.bronzeOrders, pipe.bronzeOrderItems).foreach { t =>
      call("LakehouseTable.compact", "tables.maintain")(t.compact(128L << 20))
      call("LakehouseTable.vacuum", "tables.maintain")(t.vacuum())
    }
    Seq(pipe.silverProducts, pipe.silverOrderItems).foreach { t =>
      call("LakehouseTable.compact", "tables.maintain")(t.compact(256L << 20))
      call("LakehouseTable.vacuum", "tables.maintain")(t.vacuum())
    }
    goldNames.filterNot(_ == "gold_customer_insights").foreach { n =>
      call("LakehouseTable.compact", "tables.maintain")(gold(n).compact(512L << 20))
      call("LakehouseTable.vacuum", "tables.maintain")(gold(n).vacuum())
    }
    val gci = gold("gold_customer_insights")
    call("LakehouseTable.optimizeClustered", "tables.layout")(
      pipe.silverOrders.optimizeClustered(Seq("user_id")))
    call("LakehouseTable.vacuum", "tables.maintain")(pipe.silverOrders.vacuum())
    call("LakehouseTable.writeFileStats", "tables.layout")(
      pipe.silverOrders.writeFileStats(Seq("user_id")))
    call("LakehouseTable.optimizeZOrder", "tables.layout")(
      gci.optimizeZOrder(Seq("user_id", "total_spend")))
    call("LakehouseTable.vacuum", "tables.maintain")(gci.vacuum())
    call("LakehouseTable.writeFileStats", "tables.layout")(
      gci.writeFileStats(Seq("user_id", "total_spend")))
    call("LakehouseTable.writeFileBlooms", "tables.layout")(
      pipe.silverOrderItems.writeFileBlooms(Seq("product_id")))
    call("MaterializedAgg.build", "plans.mv_build")(summary.overwrite(
      MaterializedAgg.build(pipe.silverOrders.read, Seq("date"), measures)))
    MaterializedAgg.attach(spark)
    call("MaterializedAgg.register", "plans.mv_build")(MaterializedAgg.register(
      spark, pipe.silverOrders.path, summary.path, Seq("date"), measures))
    call("MaterializedAgg.buildJoin", "plans.mv_build")(joinSummary.overwrite(
      MaterializedAgg.buildJoin(pipe.silverOrderItems.read, pipe.silverProducts.read,
        "product_id", "product_id", joinGrain, Seq("reordered"))))
    // registered where EtlMain registers it: after all silver maintenance
    call("MaterializedAgg.registerJoin", "plans.mv_build")(MaterializedAgg.registerJoin(
      spark, pipe.silverOrderItems.path, pipe.silverProducts.path,
      "product_id", "product_id", joinSummary.path, joinGrain, Seq("reordered")))
  }

  def batch(b: Batch): Unit = trace.span("etl.batch") {
    runPipeline(new File(b.dir).getName, b.dir)
    call("EcommercePipeline.goldDailySalesIncremental", "gold.build")(
      pipe.goldDailySalesIncremental(gold("gold_daily_sales"), b.touched))
    call("MaterializedAgg.refresh", "plans.mv_refresh")(MaterializedAgg.refresh(
      pipe.silverOrders, summary, Seq("date"), measures, b.touched))
    call("MaterializedAgg.refreshJoin", "plans.mv_refresh")(MaterializedAgg.refreshJoin(
      pipe.silverOrderItems, pipe.silverProducts.path, "product_id", "product_id",
      joinSummary, joinGrain, Seq("reordered"), b.touched))
    call("LakehouseTable.compactPartitions", "tables.maintain")(
      pipe.silverOrders.compactPartitions(b.touched))
    call("LakehouseTable.compactPartitions", "tables.maintain")(
      pipe.silverOrderItems.compactPartitions(b.touched))
  }

  private def withoutRewrite[T](f: => T): T = {
    val saved = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = saved.filterNot(_ == MaterializedAgg.Rewrite)
    try f finally spark.experimental.extraOptimizations = saved
  }

  private def dailyRevenue: DataFrame =
    pipe.silverOrders.read.groupBy(col("date")).agg(sum("total_amount").as("revenue"))

  private def departmentRollup: DataFrame = {
    val f = pipe.silverOrderItems.read
    val d = pipe.silverProducts.read
    f.join(d, f("product_id") === d("product_id")).groupBy(col("department"))
      .agg(sum("reordered").as("reorders"), count(lit(1)).as("n_items"))
  }

  /** Rounds of the serving reads, each read timed, then checked
    * (untimed). In a traced run every other round is untraced, so the
    * tracing overhead is measured within the run; which round of a step
    * goes first alternates from step to step, since a step's first
    * round reads right after a write. */
  def serve(step: Int, after: String, keys: (Long, Long)): Unit =
    (1 to ServeRounds).foreach { r =>
      trace.active = (r + step) % 2 == 0
      try serveOnce(after, keys) finally trace.active = true
    }

  private def serveOnce(after: String, keys: (Long, Long)): Unit = {
    val (user, product) = keys
    def timedRead(kind: String)(f: => Array[Row]): Option[Array[Row]] = {
      val t0 = System.nanoTime()
      val r = call(s"serve:$kind", kind)(f)
      if (r.isDefined)
        serves += Seq(after, kind, Main.secs(t0) * 1e3, trace.enabled && trace.active)
      r
    }
    val probes = Seq(
      ("serve.mv_daily", () => dailyRevenue, summary.path),
      ("serve.mv_dept", () => departmentRollup, joinSummary.path))
    probes.foreach { case (kind, q, summaryPath) =>
      var served = false
      timedRead(kind) {
        val df = q()
        served = Workloads.scanRoots(df).exists(_.contains(new File(summaryPath).getName))
        df.collect()
      }.foreach { rows =>
        mvProbes += Seq(after, kind, served)
        rec.check(s"check:$kind equals the unrewritten query")(
          canon(rows) == canon(withoutRewrite(q().collect())))
      }
    }
    val orders = pipe.silverOrders
    timedRead("tables.read_pruned")(orders.readPruned("user_id", user, user).collect())
      .foreach { rows =>
        rec.check("check:readPruned equals the filtered read")(canon(rows) ==
          canon(orders.read.filter(col("user_id") === user).collect()))
      }
    val items = pipe.silverOrderItems
    timedRead("tables.read_bloom")(items.readBloomFiltered("product_id", product).collect())
      .foreach { rows =>
        rec.check("check:readBloomFiltered equals the filtered read")(canon(rows) ==
          canon(items.read.filter(col("product_id") === product).collect()))
      }
    val gci = gold("gold_customer_insights")
    timedRead("serve.gold_lookup")(gci.read.filter(col("user_id") === user).collect())
      .foreach { rows =>
        rec.check("check:gold lookup finds the user")(
          rows.nonEmpty && rows.forall(r => r.getAs[Any]("user_id").toString == user.toString))
      }
    if (trace.enabled && trace.active) {
      // files a pruned read opens, out of the files of the table
      def frac(a: DataFrame, all: DataFrame) =
        a.inputFiles.length.toDouble / math.max(1, all.inputFiles.length)
      skips += Seq(after, "read_pruned",
        frac(orders.readPruned("user_id", user, user), orders.read))
      skips += Seq(after, "read_bloom",
        frac(items.readBloomFiltered("product_id", product), items.read))
    }
  }

  /** Backfill, serve, then each drop followed by serving reads. */
  def all(): Unit = {
    val keys = serveKeys(drops)
    val t0 = System.nanoTime()
    backfill()
    loadS = Main.secs(t0)
    serve(0, "history", keys("history"))
    batches(drops).zipWithIndex.foreach { case (b, i) =>
      val name = new File(b.dir).getName
      val t1 = System.nanoTime()
      batch(b)
      batchS += Map("name" -> name, "wall_s" -> Main.secs(t1))
      serve(i + 1, name, keys(name))
    }
  }
}
