package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.{SparkEntry, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** The `queries` workload: one closed-loop client runs the timed queries
  * ([[Workloads.queries]]) pass after pass, each query built by its
  * `SparkEntry.queries` function and executed into the `noop` sink (as
  * `graft.Bench` does). The seed permutes the query order of every pass.
  *
  * Set-up: session, fixture loads, then one warm-up pass that is also
  * the check pass: every result is written to parquet for the DuckDB
  * oracle compare that run.py makes. The pass-by-pass evidence that this
  * warms enough is perfbench/evidence/warmup.json. The timed phase
  * then runs whole passes until `--seconds` is used up (at least one). */
object QueryWorkload {
  val CheckClients = 8

  def order(names: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(names)

  def run(spark: SparkSession, args: Main.Args, trace: Trace, rec: Record): Unit = {
    val dir = args.fixture
    val names = Workloads.queries
    val fns = SparkEntry.queries

    // fixture loads: the first call per table infers and caches its
    // schema, the second is what every query pays
    val cold = mutable.LinkedHashMap.empty[String, Double]
    val warm = mutable.LinkedHashMap.empty[String, Double]
    trace.span("setup") {
      Tables.all.foreach { t =>
        val t0 = System.nanoTime()
        trace.span("Tables.load")(Tables.load(spark, dir, t))
        cold(t) = Main.secs(t0) * 1e3
        val t1 = System.nanoTime()
        trace.span("Tables.load")(Tables.load(spark, dir, t))
        warm(t) = Main.secs(t1) * 1e3
      }
    }
    rec("load_cold_ms") = cold
    rec("load_warm_ms") = warm

    val checkDir = s"${args.work}/check"
    val t0 = System.nanoTime()
    // the check pass is untimed, so it runs CheckClients clients at
    // once: the queries are driver-bound (the executors idle most of a
    // query), and concurrent clients warm the same code paths in less
    // wall time
    val pool = java.util.concurrent.Executors.newFixedThreadPool(CheckClients)
    try trace.span("check") {
      order(names, args.seed, 0).map { n =>
        n -> pool.submit(() => scala.util.Try {
          fns(n)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$n")
        })
      }.foreach { case (n, f) => rec.op(s"check:$n")(f.get().get) }
    } finally pool.shutdown()
    val warmup = Seq(Main.secs(t0))
    val oracle = SparkEntry.oracleSql.filter { case (n, _) => names.contains(n) }
    Files.writeString(Paths.get(s"$checkDir/oracle_sql.json"), Json(oracle))
    rec("check_dir") = checkDir
    rec("check_queries") = names

    val census = if (args.trace) Some(new Census(spark, trace)) else None
    def pass(k: Int, traced: Boolean): Map[String, Any] = {
      trace.active = traced
      val p0 = System.nanoTime()
      val samples = trace.span("pass") {
        order(names, args.seed, k).flatMap { n =>
          var build, exec = 0.0
          val q0 = System.nanoTime()
          rec.op(n) {
            trace.span(s"query:$n") {
              val b0 = System.nanoTime()
              val df = trace.span("query.build")(fns(n)(spark, dir))
              build = Main.secs(b0)
              val e0 = System.nanoTime()
              trace.span("query.exec")(df.write.format("noop").mode("overwrite").save())
              exec = Main.secs(e0)
              if (traced) census.foreach(_.record(n, df))
            }
          }.map(_ => Seq(n, Main.secs(q0), build, exec))
        }
      }
      trace.active = true
      Map("k" -> k, "traced" -> traced, "wall_s" -> Main.secs(p0), "queries" -> samples)
    }

    rec("warmup_s") = warmup
    rec("families") = Workloads.families
    rec("setup_s") = Main.sinceStart

    // timed phase: whole passes until the time is used up (a pass is
    // not started when it would end more than half a pass late); the
    // traced run alternates untraced and traced passes and runs at
    // least three (untraced, traced, untraced), so the tracing overhead
    // compares a traced pass with the passes around it
    val start = System.nanoTime()
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    def lastWall = passes.last("wall_s").asInstanceOf[Double]
    def more = passes.isEmpty || (args.trace && passes.size < 3) ||
               Main.secs(start) + lastWall / 2 < args.seconds
    while (more) {
      val k = passes.size + 1
      passes += pass(k, traced = args.trace && k % 2 == 0)
    }
    rec("passes") = passes
    rec("timed_s") = Main.secs(start)
    census.foreach(c => rec("plans") = c.plans)
  }
}

/** Plan shape of each executed query: Exchange and BroadcastExchange
  * nodes in the final (post-AQE) physical plan, read from the query
  * execution the `noop` write reports, and whether the optimized plan
  * scans a materialized summary. */
final class Census(spark: SparkSession, trace: Trace) {
  private val last = new java.util.concurrent.atomic.AtomicReference[QueryExecution]()
  spark.listenerManager.register(new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = last.set(qe)
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  })
  val plans = mutable.LinkedHashMap.empty[String, Map[String, Any]]

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case _ => (p.children ++ p.subqueries).flatMap(nodes)
  })

  def record(name: String, df: DataFrame): Unit = {
    trace.drain()
    val ns = Option(last.getAndSet(null)).map(qe => nodes(qe.executedPlan)).getOrElse(Nil)
    plans(name) = Map(
      "exchanges" -> ns.count(_.isInstanceOf[ShuffleExchangeLike]),
      "broadcasts" -> ns.count(_.isInstanceOf[BroadcastExchangeLike]),
      "mv_served" -> Workloads.scanRoots(df).exists(_.contains(Workloads.mvRootMarker)))
  }
}
