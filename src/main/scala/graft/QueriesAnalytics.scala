package graft

import graft.Queries.QueryDef
import graft.functions.CrossEngine._
import graft.operators.RangeJoin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.collection.immutable.ListMap

/** Wider analytics surface beyond the reference's operator set:
  * the full window-function family, cube/grouping sets, multiset set
  * ops, full-outer/cross joins, date & string scalar surfaces, exact
  * percentiles, deterministic hash sampling, sorted collect
  * aggregates, calendar gap-filling, and a binned interval join.
  * Same cross-engine determinism rules as [[Queries]].
  */
object QueriesAnalytics {
  private def q(fn: Ctx => DataFrame, oracle: String = ""): QueryDef =
    QueryDef((s, dir) => fn(Ctx(s, dir)), Some(oracle).filter(_.nonEmpty))

  /** The covered-aggregate shape both MV queries share: a date-grain
    * quantity rollup whose Aggregate sits directly on the scan (bare
    * grouping attr, raw-column measures) — the fragment
    * [[graft.plans.MaterializedAgg.Rewrite]] serves from a summary. */
  private def mvDailyShape(lineitem: DataFrame): DataFrame =
    lineitem.groupBy(col("l_shipdate"))
      .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n_items"))
      .select(dateStr(col("l_shipdate")).as("ship_date"),
              col("sum_qty"), col("n_items"))

  /** Content-identity tag for a parquet path (plain file or
    * directory): a fold over every contained file's (name, length,
    * mtime). The earlier dir-level `mtime ^ length` missed in-place
    * part-file rewrites that left the directory entry unchanged — a
    * regenerated fixture could then silently serve a stale summary
    * against a fresh oracle (exactly the round-7 testdata-regeneration
    * failure mode). Per-file entries change whenever any part file
    * does. */
  private[graft] def parquetTag(path: String): Long = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).fold(Seq.empty[java.io.File])(
          _.toSeq.sortBy(_.getName).flatMap(walk))
      else Seq(f)
    walk(new java.io.File(path)).foldLeft(1125899906842597L) { (h, f) =>
      ((h * 31 + f.getName.hashCode) * 31 + f.length()) * 31 + f.lastModified()
    }
  }

  /** Per-fixture summary location, keyed on the source's per-file
    * content identity so a regenerated fixture never serves a stale
    * summary across driver rounds. */
  private def mvSummaryDir(c: Ctx): String = {
    val tag = java.lang.Long.toHexString(parquetTag(s"${c.dir}/lineitem.parquet"))
    s"${sys.props("java.io.tmpdir")}/graft_mv_dailysales_$tag"
  }

  /** One registration per (registry epoch, summary): registration is
    * idempotent but costs three parquet analyses; caching it means
    * the bench's min-of-3 measures pure MV serving, not registration
    * overhead. Keyed on [[graft.plans.MaterializedAgg.epoch]] so a
    * clear()/invalidate() (tests, table mutators) re-registers on the
    * next call instead of trusting a stale cache. */
  private val mvRegistered =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
  private def registerOnce(key: String)(body: => Unit): Unit = {
    val ep = graft.plans.MaterializedAgg.epoch
    // prune superseded-epoch entries: their keys can never be read
    // again (lookups embed the current epoch), so without this the map
    // grows by one generation per invalidation. Pruning a key another
    // thread just wrote under a NEWER epoch is harmless — the next
    // call under that epoch re-registers, and registration is
    // idempotent; the rewrite rule's registry lookup stays the
    // correctness backstop either way.
    mvRegistered.keySet.removeIf(!_.startsWith(s"$ep:"))
    // mark-first-then-run MUST roll back on failure: a transient build
    // error (IO mid-summary-write) would otherwise latch the key and
    // every later call this epoch would skip the body — the summary
    // never built, the rewrite never registered, every MV query a
    // silent full fact scan for the JVM lifetime (and the MV-vs-direct
    // bench pair measuring two identical plans)
    if (mvRegistered.putIfAbsent(s"$ep:$key", java.lang.Boolean.TRUE) == null) {
      try body
      catch {
        case e: Throwable =>
          mvRegistered.remove(s"$ep:$key")
          throw e
      }
    }
  }

  /** Join-summary location for q_mv_brand_qty, keyed on BOTH inputs'
    * identities (a regenerated fixture of either table rebuilds). */
  private def mvBrandSummaryDir(c: Ctx): String = {
    val tag = java.lang.Long.toHexString(
      parquetTag(s"${c.dir}/lineitem.parquet") ^ java.lang.Long.rotateLeft(
        parquetTag(s"${c.dir}/part.parquet"), 21))
    s"${sys.props("java.io.tmpdir")}/graft_mv_brandqty_$tag"
  }

  /** Distinct-grain join-summary location for q_mv_dept_distinct
    * (same two inputs, different grain — separate dir). */
  private def mvDeptSummaryDir(c: Ctx): String = {
    val tag = java.lang.Long.toHexString(
      parquetTag(s"${c.dir}/lineitem.parquet") ^ java.lang.Long.rotateLeft(
        parquetTag(s"${c.dir}/part.parquet"), 42))
    s"${sys.props("java.io.tmpdir")}/graft_mv_deptdistinct_$tag"
  }

  /** Shared customer↔part interaction edge derivation for the two
    * PageRank twins: bipartite (cust*2) -> (part*2+1) purchase edges,
    * symmetrized. One definition so the twins cannot drift. */
  private def prEdges(c: Ctx, firstLineOnly: Boolean)
      : org.apache.spark.sql.DataFrame = {
    val li = if (firstLineOnly) c.lineitem.filter(col("l_linenumber") === 1)
             else c.lineitem
    val e0 = c.orders.select(col("o_orderkey"), col("o_custkey"))
      .join(li.select(col("l_orderkey"), col("l_partkey")),
            col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
              (col("l_partkey") * 2 + 1).as("dst"))
    // symmetrize with ONE explode pass, not a two-branch union — the
    // union executed the orders⋈lineitem join once per branch when the
    // consumer materialized the edge list (guide §2.3)
    e0.select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
  }

  /** Shared unrolled-CTE prefix for the PageRank oracle twins: the
    * e0/e/deg/nn/r0 chain plus maxI iteration levels, parameterized by
    * damping and the edge filter. ONE definition of the per-iteration
    * formula and of the AS MATERIALIZED discipline (DuckDB re-inlines
    * plain CTEs per reference — the r9 sf1 rehearsal measured 35+ min
    * without it) — a fix applied here reaches both twins. */
  private def prOracleCtes(damping: String, maxI: Int,
                           edgeWhere: String): String = {
    val iters = (1 to maxI).map { k =>
      s"""r$k AS MATERIALIZED (
         | SELECT e.dst AS node,
         |  (1e0 - $damping) / nn.n + $damping * sum(r${k - 1}.r / deg.deg) AS r
         | FROM e
         | JOIN r${k - 1} ON e.src = r${k - 1}.node
         | JOIN deg ON e.src = deg.src
         | CROSS JOIN nn
         | GROUP BY e.dst, nn.n
         |)""".stripMargin
    }.mkString(", ")
    s"""e0 AS MATERIALIZED (
       | SELECT DISTINCT o_custkey * 2 AS src, l_partkey * 2 + 1 AS dst
       | FROM orders JOIN lineitem ON o_orderkey = l_orderkey$edgeWhere
       |), e AS MATERIALIZED (
       | SELECT src, dst FROM e0
       | UNION
       | SELECT dst AS src, src AS dst FROM e0
       |), deg AS MATERIALIZED (
       | SELECT src, count(*) AS deg FROM e GROUP BY 1
       |), nn AS MATERIALIZED (
       | SELECT count(*) AS n FROM deg
       |), r0 AS MATERIALIZED (
       | SELECT src AS node, 1e0 / nn.n AS r FROM deg CROSS JOIN nn
       |), $iters""".stripMargin
  }

  /** Build-if-absent + attach + register for the lineitem⋈part JOIN
    * summaries — ONE definition of the _SUCCESS check / buildJoin /
    * registerJoin sequence, parameterized by grain+measures, so a
    * grain or path change cannot be applied to one of a served/direct
    * query pair and silently miss its twin. */
  private def registerJoinSummaryOnce(c: Ctx, summaryDir: String,
                                      groupCols: Seq[String],
                                      measures: Seq[String]): Unit =
    registerOnce(summaryDir) {
      if (!new java.io.File(s"$summaryDir/_SUCCESS").exists) {
        graft.plans.MaterializedAgg.buildJoin(
            c.lineitem, c.part, "l_partkey", "p_partkey",
            groupCols, measures)
          .write.mode("overwrite").parquet(summaryDir)
      }
      graft.plans.MaterializedAgg.attach(c.spark)
      graft.plans.MaterializedAgg.registerJoin(c.spark,
        s"${c.dir}/lineitem.parquet", s"${c.dir}/part.parquet",
        "l_partkey", "p_partkey", summaryDir, groupCols, measures)
    }

  val defs: ListMap[String, QueryDef] = ListMap(

    // ── window-function family (beyond W1's rank) ─────────────────────
    // Total order inside each partition (orderdate, orderkey) makes
    // every function deterministic; the explicit ROWS frame pins
    // first/last_value against the ANSI default RANGE frame.
    "q_window_suite" -> q(
      c => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        val wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        c.orders
          .select(col("o_custkey"), col("o_orderkey"),
            dateStr(col("o_orderdate")).as("order_date"),
            col("o_totalprice"),
            lag("o_totalprice", 1).over(w).as("prev_price"),
            lead("o_totalprice", 1).over(w).as("next_price"),
            first("o_totalprice").over(wf).as("first_price"),
            last("o_totalprice").over(wf).as("running_last_price"),
            dense_rank().over(w).cast("long").as("drnk"),
            rnd6(percent_rank().over(w)).as("prnk"),
            rnd6(cume_dist().over(w)).as("cdist"),
            ntile(4).over(w).cast("long").as("quartile"))
      },
      """SELECT o_custkey, o_orderkey,
        | strftime(o_orderdate, '%Y-%m-%d') AS order_date, o_totalprice,
        | lag(o_totalprice, 1) OVER w AS prev_price,
        | lead(o_totalprice, 1) OVER w AS next_price,
        | first_value(o_totalprice) OVER wf AS first_price,
        | last_value(o_totalprice) OVER wf AS running_last_price,
        | CAST(dense_rank() OVER w AS BIGINT) AS drnk,
        | floor(percent_rank() OVER w * 1000000 + 0.5) / 1000000 AS prnk,
        | floor(cume_dist() OVER w * 1000000 + 0.5) / 1000000 AS cdist,
        | CAST(ntile(4) OVER w AS BIGINT) AS quartile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        | wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin),

    // ── cube (rollup's big sibling; grouping_id disambiguates NULLs) ──
    "q_cube" -> q(
      c => c.lineitem
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(exactSum(col("l_extendedprice"), 2, 2).as("sum_price"),
             count(lit(1)).as("n_items"),
             grouping_id().cast("long").as("gid"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
                coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
                col("gid"), col("sum_price"), col("n_items")),
      s"""SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        | coalesce(l_linestatus, 'ALL') AS linestatus,
        | CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid,
        | ${exactSumSql("l_extendedprice", 2, 2)} AS sum_price,
        | count(*) AS n_items
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin),

    // ── multiset set-operations (EXCEPT ALL / INTERSECT ALL) ──────────
    "q_set_ops_all" -> q(
      c => {
        val hi = c.lineitem.filter(col("l_discount") >= 0.05)
          .select(col("l_orderkey").as("orderkey"))
        val ret = c.lineitem.filter(col("l_returnflag") === "R")
          .select(col("l_orderkey").as("orderkey"))
        val ex = hi.exceptAll(ret)
          .groupBy("orderkey").agg(count(lit(1)).as("n"))
          .withColumn("set_op", lit("except_all"))
        val in = hi.intersectAll(ret)
          .groupBy("orderkey").agg(count(lit(1)).as("n"))
          .withColumn("set_op", lit("intersect_all"))
        ex.unionByName(in)
      },
      """WITH hi AS (SELECT l_orderkey AS orderkey FROM lineitem WHERE l_discount >= 0.05),
        | ret AS (SELECT l_orderkey AS orderkey FROM lineitem WHERE l_returnflag = 'R')
        |SELECT orderkey, count(*) AS n, 'except_all' AS set_op
        |FROM (SELECT * FROM hi EXCEPT ALL SELECT * FROM ret) GROUP BY 1
        |UNION ALL
        |SELECT orderkey, count(*) AS n, 'intersect_all' AS set_op
        |FROM (SELECT * FROM hi INTERSECT ALL SELECT * FROM ret) GROUP BY 1""".stripMargin),

    // ── full-outer join of two aggregates (coalesced key) ─────────────
    "q_full_outer" -> q(
      c => {
        val spend = c.orders.groupBy(col("o_custkey"))
          .agg(exactSum(col("o_totalprice"), 2, 2).as("total_spent"))
          .filter(col("total_spent") > 400000)
        val rich = c.customer.filter(col("c_acctbal") > 7500)
          .select(col("c_custkey"), rnd2(col("c_acctbal")).as("acctbal"))
        spend.join(rich, col("o_custkey") === col("c_custkey"), "full_outer")
          .select(coalesce(col("o_custkey"), col("c_custkey")).as("custkey"),
                  col("total_spent"), col("acctbal"))
      },
      s"""WITH spend AS (
        | SELECT o_custkey, ${exactSumSql("o_totalprice", 2, 2)} AS total_spent
        | FROM orders GROUP BY 1 HAVING ${exactSumSql("o_totalprice", 2, 2)} > 400000
        |), rich AS (
        | SELECT c_custkey, floor(c_acctbal * 100 + 0.5) / 100 AS acctbal
        | FROM customer WHERE c_acctbal > 7500
        |)
        |SELECT coalesce(o_custkey, c_custkey) AS custkey, total_spent, acctbal
        |FROM spend FULL OUTER JOIN rich ON o_custkey = c_custkey""".stripMargin),

    // ── cross join (dims only — fixed-size product) ───────────────────
    "q_cross_join" -> q(
      c => c.region.select(col("r_regionkey"), col("r_name"))
        .crossJoin(c.nation.select(col("n_nationkey"), col("n_name")))
        .select(col("r_regionkey"), col("r_name"),
                col("n_nationkey"), col("n_name"),
                (col("r_regionkey") === col("n_nationkey") % 5).as("home_pair")),
      """SELECT r_regionkey, r_name, n_nationkey, n_name,
        | r_regionkey = n_nationkey % 5 AS home_pair
        |FROM region CROSS JOIN nation""".stripMargin),

    // ── MV serving: the engine's own optimizer surface at work ────────
    // q_mv_daily_sales runs a covered aggregate WITH the MaterializedAgg
    // rewrite registered: the optimized plan scans a date-grain summary
    // (built once per fixture, keyed on the source file's identity so a
    // regenerated fixture rebuilds) instead of the lineitem fact table.
    // q_mv_daily_sales_direct is the same aggregate forced onto the
    // fact scan — its measure-referencing filter is outside the covered
    // fragment, so the rule bails — making the pair the bench row that
    // demonstrates the rewrite's serving win. Measure: l_quantity,
    // integral doubles whose sums are exact in ANY reduction order, so
    // the re-aggregated summary is bit-identical cross-engine (the
    // exactSum fixed-point builders produce computed aggregate inputs,
    // which the rewrite — matching raw columns only — must bail on).
    // At 100 TB: the summary is date-cardinality rows; the covered
    // dashboard query reads KBs instead of the fact table.
    "q_mv_daily_sales" -> q(
      c => {
        val summaryDir = mvSummaryDir(c)
        registerOnce(summaryDir) {
          if (!new java.io.File(s"$summaryDir/_SUCCESS").exists) {
            graft.plans.MaterializedAgg.build(
                c.lineitem, Seq("l_shipdate"), Seq("l_quantity"))
              .write.mode("overwrite").parquet(summaryDir)
          }
          graft.plans.MaterializedAgg.attach(c.spark)
          graft.plans.MaterializedAgg.register(c.spark,
            s"${c.dir}/lineitem.parquet", summaryDir,
            Seq("l_shipdate"), Seq("l_quantity"))
        }
        mvDailyShape(c.lineitem)
      },
      """SELECT strftime(l_shipdate, '%Y-%m-%d') AS ship_date,
        | sum(l_quantity) AS sum_qty, count(*) AS n_items
        |FROM lineitem GROUP BY l_shipdate""".stripMargin),

    "q_mv_daily_sales_direct" -> q(
      c => mvDailyShape(c.lineitem.filter(col("l_quantity") > 0)),
      """SELECT strftime(l_shipdate, '%Y-%m-%d') AS ship_date,
        | sum(l_quantity) AS sum_qty, count(*) AS n_items
        |FROM lineitem WHERE l_quantity > 0 GROUP BY l_shipdate""".stripMargin),

    // The JOIN shape of MV serving in the graded inventory: a
    // (brand)-grain summary of lineitem ⋈ part is registered and the
    // covered aggregate over the RAW join is served from it — the
    // reference's gold aggregate-over-joined-silver shape
    // (docs/etl_processes.md:425-437). Oracle = the direct join
    // aggregation; l_quantity sums are exact-integral so the
    // re-aggregated summary is bit-identical.
    "q_mv_brand_qty" -> q(
      c => {
        registerJoinSummaryOnce(c, mvBrandSummaryDir(c),
          Seq("p_brand"), Seq("l_quantity"))
        val li = c.lineitem
        val pt = c.part
        li.join(pt, li("l_partkey") === pt("p_partkey"))
          .groupBy(col("p_brand"))
          .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n_items"))
      },
      """SELECT p_brand, sum(l_quantity) AS sum_qty, count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand""".stripMargin),

    // HAVING over the served join aggregate: a post-aggregate filter
    // is a Filter ABOVE the Aggregate node referencing its output
    // attributes — the rewrite preserves output expression ids, so
    // the filter applies unchanged to the summary-served aggregate
    // (a filter over summary OUTPUT is always safe; it is pre-agg
    // non-grain filters the rule must bail on). Threshold 25.5·n —
    // the per-brand mean-quantity split — filters a stable fraction
    // of groups at every scale factor, and both sides are exact in
    // binary (integral-double sums; 25.5 = 51/2). Plan-asserted in
    // MaterializedAggSpec's join HAVING case.
    "q_mv_brand_qty_having" -> q(
      c => {
        registerJoinSummaryOnce(c, mvBrandSummaryDir(c),
          Seq("p_brand"), Seq("l_quantity"))
        val li = c.lineitem
        val pt = c.part
        li.join(pt, li("l_partkey") === pt("p_partkey"))
          .groupBy(col("p_brand"))
          .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n_items"))
          .filter(col("sum_qty") > col("n_items") * 25.5)
      },
      """SELECT p_brand, sum(l_quantity) AS sum_qty, count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand HAVING sum(l_quantity) > count(*) * 25.5""".stripMargin),

    // the same HAVING aggregate forced onto the fact join (the
    // pre-agg measure filter pushes it outside the covered fragment)
    "q_mv_brand_qty_having_direct" -> q(
      c => {
        val li = c.lineitem
        val pt = c.part
        li.join(pt, li("l_partkey") === pt("p_partkey"))
          .filter(col("l_quantity") > 0)
          .groupBy(col("p_brand"))
          .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n_items"))
          .filter(col("sum_qty") > col("n_items") * 25.5)
      },
      """SELECT p_brand, sum(l_quantity) AS sum_qty, count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_quantity > 0
        |GROUP BY p_brand HAVING sum(l_quantity) > count(*) * 25.5""".stripMargin),

    // The reference's priciest gold shape — department_analytics'
    // exact countDistinct (docs/etl_processes.md:559-567) — served
    // from the MV layer: a summary at (brand, suppkey) grain makes
    // count(DISTINCT l_suppkey) a distinct-agg over the SUMMARY's
    // grain rows (one row per present combination preserves the
    // distinct set exactly), while sum/count re-aggregate the stored
    // partials. The summary is |brand × present suppkeys| rows — at
    // 100 TB, orders of magnitude under the fact table the direct
    // twin below must scan. Plan-asserted in PlanSpec.
    "q_mv_dept_distinct" -> q(
      c => {
        registerJoinSummaryOnce(c, mvDeptSummaryDir(c),
          Seq("p_brand", "l_suppkey"), Seq("l_quantity"))
        val li = c.lineitem
        val pt = c.part
        li.join(pt, li("l_partkey") === pt("p_partkey"))
          .groupBy(col("p_brand"))
          .agg(countDistinct(col("l_suppkey")).as("n_suppliers"),
               sum("l_quantity").as("sum_qty"), count(lit(1)).as("n_items"))
      },
      """SELECT p_brand, count(DISTINCT l_suppkey) AS n_suppliers,
        | sum(l_quantity) AS sum_qty, count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand""".stripMargin),

    // the same aggregate forced onto the fact join (measure filter is
    // outside the covered fragment) — the bench pair's direct leg
    "q_mv_dept_distinct_direct" -> q(
      c => {
        val li = c.lineitem
        val pt = c.part
        li.join(pt, li("l_partkey") === pt("p_partkey"))
          .filter(col("l_quantity") > 0)
          .groupBy(col("p_brand"))
          .agg(countDistinct(col("l_suppkey")).as("n_suppliers"),
               sum("l_quantity").as("sum_qty"), count(lit(1)).as("n_items"))
      },
      """SELECT p_brand, count(DISTINCT l_suppkey) AS n_suppliers,
        | sum(l_quantity) AS sum_qty, count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_quantity > 0
        |GROUP BY p_brand""".stripMargin),

    // ── month-level time rollup (date_trunc) ──────────────────────────
    "q_monthly_revenue" -> q(
      c => c.orders
        .groupBy(dateStr(date_trunc("month", col("o_orderdate"))).as("month_start"))
        .agg(count(lit(1)).as("n_orders"),
             exactSum(col("o_totalprice"), 2, 2).as("total_revenue"),
             countDistinct("o_custkey").as("active_customers")),
      s"""SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
        | count(*) AS n_orders,
        | ${exactSumSql("o_totalprice", 2, 2)} AS total_revenue,
        | count(DISTINCT o_custkey) AS active_customers
        |FROM orders GROUP BY 1""".stripMargin),

    // ── date arithmetic surface ───────────────────────────────────────
    "q_date_arith" -> q(
      c => c.orders
        .select(
          col("o_orderkey"),
          dateStr(col("o_orderdate")).as("order_date"),
          dateStr(add_months(to_date(col("o_orderdate")), 1)).as("plus_month"),
          dateStr(date_add(to_date(col("o_orderdate")), 30)).as("plus_30d"),
          dateStr(last_day(to_date(col("o_orderdate")))).as("month_end"),
          dateStr(date_trunc("week", col("o_orderdate"))).as("week_start"),
          year(col("o_orderdate")).cast("long").as("yr"),
          quarter(col("o_orderdate")).cast("long").as("qtr"),
          month(col("o_orderdate")).cast("long").as("mon"),
          dayofmonth(col("o_orderdate")).cast("long").as("dom"),
          datediff(lit("1999-01-01").cast("date"), to_date(col("o_orderdate")))
            .cast("long").as("days_to_anchor")),
      """SELECT o_orderkey,
        | strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        | strftime(CAST(o_orderdate AS DATE) + INTERVAL 1 MONTH, '%Y-%m-%d') AS plus_month,
        | strftime(CAST(o_orderdate AS DATE) + 30, '%Y-%m-%d') AS plus_30d,
        | strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
        | strftime(date_trunc('week', o_orderdate), '%Y-%m-%d') AS week_start,
        | CAST(year(o_orderdate) AS BIGINT) AS yr,
        | CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
        | CAST(month(o_orderdate) AS BIGINT) AS mon,
        | CAST(day(o_orderdate) AS BIGINT) AS dom,
        | CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1999-01-01') AS BIGINT)
        |   AS days_to_anchor
        |FROM orders""".stripMargin),

    // ── string scalar surface ─────────────────────────────────────────
    "q_string_funcs" -> q(
      c => c.part.select(
        col("p_partkey"),
        upper(col("p_name")).as("name_upper"),
        length(col("p_name")).cast("long").as("name_len"),
        substring(col("p_name"), 1, 12).as("name_prefix"),
        regexp_replace(col("p_name"), " ", "_").as("name_snake"),
        lpad(col("p_partkey").cast("string"), 10, "0").as("key_padded"),
        instr(col("p_name"), "a").cast("long").as("first_a"),
        translate(col("p_brand"), "#", "-").as("brand_dashed"),
        reverse(col("p_brand")).as("brand_rev"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
        expr("repeat('*', p_size % 5 + 1)").as("stars")),
      """SELECT p_partkey,
        | upper(p_name) AS name_upper,
        | CAST(length(p_name) AS BIGINT) AS name_len,
        | substring(p_name, 1, 12) AS name_prefix,
        | regexp_replace(p_name, ' ', '_', 'g') AS name_snake,
        | lpad(CAST(p_partkey AS VARCHAR), 10, '0') AS key_padded,
        | CAST(strpos(p_name, 'a') AS BIGINT) AS first_a,
        | translate(p_brand, '#', '-') AS brand_dashed,
        | reverse(p_brand) AS brand_rev,
        | concat_ws('|', p_brand, p_type) AS brand_type,
        | repeat('*', p_size % 5 + 1) AS stars
        |FROM part""".stripMargin),

    // ── value histogram (arithmetic bucketing) ────────────────────────
    "q_value_histogram" -> q(
      c => c.orders
        .withColumn("bucket",
          least(lit(19L), floor(col("o_totalprice") / 30000)).cast("long"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_orders"),
             rnd2(min("o_totalprice")).as("bucket_min"),
             rnd2(max("o_totalprice")).as("bucket_max")),
      """SELECT CAST(least(19, floor(o_totalprice / 30000)) AS BIGINT) AS bucket,
        | count(*) AS n_orders,
        | floor(min(o_totalprice) * 100 + 0.5) / 100 AS bucket_min,
        | floor(max(o_totalprice) * 100 + 0.5) / 100 AS bucket_max
        |FROM orders GROUP BY 1""".stripMargin),

    // ── deterministic hash sampling (reproducible across engines —
    //    md5 of the key, unlike TABLESAMPLE/rand()) ───────────────────
    "q_sample_hash" -> q(
      c => c.orders
        .filter(substring(md5(col("o_orderkey").cast("string").cast("binary")), 1, 2) < "29")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_sampled"),
             exactSum(col("o_totalprice"), 2, 2).as("sampled_revenue")),
      s"""SELECT o_orderstatus, count(*) AS n_sampled,
        | ${exactSumSql("o_totalprice", 2, 2)} AS sampled_revenue
        |FROM orders
        |WHERE substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '29'
        |GROUP BY 1""".stripMargin),

    // ── sorted collect aggregates (emitted as strings: array values
    //    deserialize differently per engine/reader) ────────────────────
    "q_collect_agg" -> q(
      c => c.lineitem
        .filter(col("l_orderkey") % 100 === 0)
        .groupBy(col("l_orderkey"))
        .agg(
          array_join(transform(sort_array(collect_list(col("l_linenumber"))),
            _.cast("string")), ",").as("linenumbers"),
          array_join(sort_array(collect_set(col("l_returnflag"))), ",")
            .as("returnflags"),
          count(lit(1)).as("n_items")),
      """SELECT l_orderkey,
        | array_to_string(list_sort(list(l_linenumber)), ',') AS linenumbers,
        | array_to_string(list_sort(list_distinct(list(l_returnflag))), ',') AS returnflags,
        | count(*) AS n_items
        |FROM lineitem WHERE l_orderkey % 100 = 0 GROUP BY 1""".stripMargin),

    // ── approx percentiles — the 100 TB escape hatch for the exact
    // query below: percentile_approx is a mergeable sketch
    // (Greenwald-Khanna), so it aggregates map-side and never needs
    // the per-group sort the exact interpolating percentile pays.
    // Sketches aren't portable across engines → rows-only; accuracy
    // vs the exact result is pinned in PlanSpec (≤1 % of range). ─────
    "q_approx_percentiles" -> q(
      c => c.lineitem
        .groupBy(col("l_returnflag"))
        .agg(
          rnd6(percentile_approx(col("l_quantity"), lit(0.5), lit(10000)))
            .as("qty_p50_approx"),
          rnd6(percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)))
            .as("price_median_approx"),
          count(lit(1)).as("n_items"))),

    // q_approx_percentiles' PlanSpec accuracy pin lifted into the
    // driver gate: the Greenwald-Khanna median tracks the exact
    // interpolating median within 1 % of the group's value, for every
    // group, on both measures.
    "q_approx_percentiles_check" -> q(
      c => {
        val g = c.lineitem.groupBy(col("l_returnflag")).agg(
          percentile_approx(col("l_quantity"), lit(0.5), lit(10000))
            .as("aq"),
          percentile(col("l_quantity"), lit(0.5)).as("eq"),
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000))
            .as("ap"),
          percentile(col("l_extendedprice"), lit(0.5)).as("ep"))
        val stats = g.agg(
          min(abs(col("aq") - col("eq")) * 100 <= abs(col("eq")))
            .as("q_ok"),
          min(abs(col("ap") - col("ep")) * 100 <= abs(col("ep")))
            .as("p_ok"))
        graft.Checks.fromFlags(stats,
          "gk_qty_p50_within_1pct" -> col("q_ok"),
          "gk_price_p50_within_1pct" -> col("p_ok"))
      },
      graft.Checks.oracle("gk_qty_p50_within_1pct",
                          "gk_price_p50_within_1pct")),

    // the SAMPLE-sketch mechanism under a hash-matched oracle (the
    // q_minhash_replay convention applied to quantile estimation):
    // cross-engine sketch registers aren't portable, but the other
    // classic quantile sketch — an exact quantile over a deterministic
    // hash sample — is pure relational algebra. Both engines keep the
    // rows whose md5(orderkey:linenumber) first hex char is 0–3 (a
    // fixed 25 % Bernoulli sample, the q_sample_hash convention) and
    // run the exact interpolating median over it, so the estimate
    // matches bit-for-bit. Scale: the filter is map-side (no shuffle
    // added over the exact query); sample rate tunes memory, not
    // correctness. q_approx_percentiles keeps the production
    // Greenwald-Khanna path with its error pinned in PlanSpec.
    "q_sample_pctl_replay" -> q(
      c => c.lineitem
        .filter(substring(md5(concat(col("l_orderkey").cast("string"),
                                     lit(":"),
                                     col("l_linenumber").cast("string"))
                              .cast("binary")), 1, 1).between("0", "3"))
        .groupBy(col("l_returnflag"))
        .agg(rnd6(percentile(col("l_quantity"), lit(0.5)))
               .as("qty_p50_sample"),
             rnd6(percentile(col("l_extendedprice"), lit(0.5)))
               .as("price_median_sample"),
             count(lit(1)).as("n_sample")),
      """SELECT l_returnflag,
        | floor(quantile_cont(l_quantity, 0.5) * 1000000 + 0.5) / 1000000
        |   AS qty_p50_sample,
        | floor(quantile_cont(l_extendedprice, 0.5) * 1000000 + 0.5) / 1000000
        |   AS price_median_sample,
        | count(*) AS n_sample
        |FROM lineitem
        |WHERE substr(md5(CAST(l_orderkey AS VARCHAR) || ':' ||
        |                 CAST(l_linenumber AS VARCHAR)), 1, 1)
        |      BETWEEN '0' AND '3'
        |GROUP BY 1""".stripMargin),

    // ── exact percentiles (interpolating; both engines use p·(n−1)) ───
    "q_percentiles" -> q(
      c => c.lineitem
        .groupBy(col("l_returnflag"))
        .agg(
          rnd6(percentile(col("l_quantity"), lit(0.25))).as("qty_p25"),
          rnd6(percentile(col("l_quantity"), lit(0.5))).as("qty_p50"),
          rnd6(percentile(col("l_quantity"), lit(0.75))).as("qty_p75"),
          rnd6(percentile(col("l_extendedprice"), lit(0.5))).as("price_median"),
          count(lit(1)).as("n_items")),
      """SELECT l_returnflag,
        | floor(quantile_cont(l_quantity, 0.25) * 1000000 + 0.5) / 1000000 AS qty_p25,
        | floor(quantile_cont(l_quantity, 0.5) * 1000000 + 0.5) / 1000000 AS qty_p50,
        | floor(quantile_cont(l_quantity, 0.75) * 1000000 + 0.5) / 1000000 AS qty_p75,
        | floor(quantile_cont(l_extendedprice, 0.5) * 1000000 + 0.5) / 1000000 AS price_median,
        | count(*) AS n_items
        |FROM lineitem GROUP BY 1""".stripMargin),

    // ── calendar gap-fill (time-series resample: sequence + explode
    //    left-joined to observed daily counts) ────────────────────────
    "q_gap_fill" -> q(
      c => {
        val daily = c.events
          .filter(col("user_id") % 100 === 0)
          .groupBy(col("user_id"), to_date(col("ts")).as("d"))
          .agg(count(lit(1)).as("n_events"))
        val span = daily.groupBy(col("user_id").as("span_user"))
          .agg(min("d").as("d0"), max("d").as("d1"))
        val calendar = span.select(col("span_user"),
          explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
        calendar
          .join(daily, calendar("span_user") === daily("user_id") &&
                       calendar("day") === daily("d"), "left_outer")
          .select(col("span_user").as("user_id"), dateStr(col("day")).as("day"),
                  coalesce(col("n_events"), lit(0L)).as("n_events"))
      },
      """WITH daily AS (
        | SELECT user_id, CAST(ts AS DATE) AS d, count(*) AS n_events
        | FROM events WHERE user_id % 100 = 0 GROUP BY 1, 2
        |), span AS (
        | SELECT user_id, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY 1
        |), calendar AS (
        | SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
        | FROM span
        |)
        |SELECT c.user_id, strftime(c.day, '%Y-%m-%d') AS day,
        | coalesce(d.n_events, 0) AS n_events
        |FROM calendar c LEFT JOIN daily d ON c.user_id = d.user_id AND c.day = d.d""".stripMargin),

    // ── DecimalType aggregation (SURVEY §1.2: gold DDL declares
    //    DECIMAL(15,2)/DECIMAL(5,4)): exact decimal sums + a decimal
    //    multiply, converted to double only at the very end — both
    //    engines sum exactly and round identically on the one
    //    decimal→double conversion ─────────────────────────────────────
    "q_decimal_agg" -> q(
      c => c.lineitem
        .groupBy(col("l_returnflag"))
        .agg(
          sum(col("l_extendedprice").cast("decimal(15,2)")).as("dsum"),
          sum(col("l_extendedprice").cast("decimal(15,2)") *
              lit("1.10").cast("decimal(3,2)")).as("dsum_up"),
          sum(col("l_quantity").cast("decimal(12,2)")).as("dqty"),
          count(lit(1)).as("n_items"))
        .select(col("l_returnflag"),
                col("dsum").cast("double").as("sum_price"),
                col("dsum_up").cast("double").as("sum_price_up"),
                col("dqty").cast("double").as("sum_qty"),
                col("n_items")),
      """SELECT l_returnflag,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(15,2))) AS DOUBLE) AS sum_price,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(15,2)) * CAST('1.10' AS DECIMAL(3,2))) AS DOUBLE) AS sum_price_up,
        | CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        | count(*) AS n_items
        |FROM lineitem GROUP BY 1""".stripMargin),

    // ── CDC snapshot diff: what changed between two table versions —
    //    deletions (key%7=3), updates (key%10=0 → status U), inserts
    //    (key%13=0 cloned to key+10^12); the oracle recomputes the
    //    classification from the construction rules. The clone offset
    //    is 10^12, provably outside any orderkey domain this engine
    //    will see (TPC-H max orderkey = 6M*SF; a 10M offset collided
    //    with REAL keys from SF~1.7 — duplicate pks in `after`, the
    //    full-outer diff fanning out while the rule-replay oracle
    //    says 'inserted') ──────────────────────────────────────────────
    "q_snapshot_diff" -> q(
      c => {
        val before = c.orders.select(
          col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        val after = before
          .filter(col("o_orderkey") % 7 =!= 3)
          .withColumn("o_orderstatus",
            when(col("o_orderkey") % 10 === 0, "U").otherwise(col("o_orderstatus")))
          .unionByName(before.filter(col("o_orderkey") % 13 === 0)
            .select((col("o_orderkey") + 1000000000000L).as("o_orderkey"),
                    col("o_orderstatus"), col("o_totalprice")))
        graft.tables.SnapshotDiff.diff(before, after, Seq("o_orderkey"))
      },
      """SELECT o_orderkey, 'deleted' AS change FROM orders WHERE o_orderkey % 7 = 3
        |UNION ALL
        |SELECT o_orderkey, 'updated' FROM orders
        |WHERE o_orderkey % 7 <> 3 AND o_orderkey % 10 = 0 AND o_orderstatus <> 'U'
        |UNION ALL
        |SELECT o_orderkey + 1000000000000 AS o_orderkey, 'inserted' FROM orders
        |WHERE o_orderkey % 13 = 0""".stripMargin),

    // ── SCD2 dimension merge: changed keys close the open version and
    //    append a new one; the oracle replays the three row families ──
    "q_scd2" -> q(
      c => {
        val current = c.customer.select(
          col("c_custkey"), col("c_mktsegment"),
          lit("2000-01-01").cast("date").as("valid_from"),
          lit(null).cast("date").as("valid_to"))
        val updates = c.customer.filter(col("c_custkey") % 10 === 0)
          .select(col("c_custkey"), lit("MOVED").as("c_mktsegment"))
        graft.operators.Scd2
          .merge(current, updates, Seq("c_custkey"), Seq("c_mktsegment"),
                 effectiveTs = "2001-06-01")
          .select(col("c_custkey"), col("c_mktsegment"),
                  dateStr(col("valid_from")).as("valid_from"),
                  dateStr(col("valid_to")).as("valid_to"))
      },
      """SELECT c_custkey, c_mktsegment, '2000-01-01' AS valid_from,
        | CAST(NULL AS VARCHAR) AS valid_to
        |FROM customer WHERE c_custkey % 10 <> 0
        |UNION ALL
        |SELECT c_custkey, c_mktsegment, '2000-01-01', '2001-06-01'
        |FROM customer WHERE c_custkey % 10 = 0
        |UNION ALL
        |SELECT c_custkey, 'MOVED', '2001-06-01', CAST(NULL AS VARCHAR)
        |FROM customer WHERE c_custkey % 10 = 0""".stripMargin),

    // ── IQR outlier detection: per-group quartiles → 1.5·IQR fences →
    //    count of out-of-fence rows (data-quality screening at scale:
    //    quartiles aggregate once, fences broadcast back) ─────────────
    "q_outlier_iqr" -> q(
      c => {
        val qs = c.events.groupBy(col("event_type"))
          .agg(rnd6(percentile(col("value"), lit(0.25))).as("p25"),
               rnd6(percentile(col("value"), lit(0.75))).as("p75"))
        c.events.join(broadcast(qs), "event_type")
          .withColumn("lo", col("p25") - (col("p75") - col("p25")) * 1.5)
          .withColumn("hi", col("p75") + (col("p75") - col("p25")) * 1.5)
          .filter(col("value") < col("lo") || col("value") > col("hi"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_outliers"),
               rnd2(min("value")).as("min_outlier"),
               rnd2(max("value")).as("max_outlier"))
      },
      """WITH qs AS (
        | SELECT event_type,
        |  floor(quantile_cont(value, 0.25) * 1000000 + 0.5) / 1000000 AS p25,
        |  floor(quantile_cont(value, 0.75) * 1000000 + 0.5) / 1000000 AS p75
        | FROM events GROUP BY 1
        |)
        |SELECT e.event_type, count(*) AS n_outliers,
        | floor(min(value) * 100 + 0.5) / 100 AS min_outlier,
        | floor(max(value) * 100 + 0.5) / 100 AS max_outlier
        |FROM events e JOIN qs ON e.event_type = qs.event_type
        |WHERE value < p25 - (p75 - p25) * 1.5
        |   OR value > p75 + (p75 - p25) * 1.5
        |GROUP BY 1""".stripMargin),

    // ── robust outlier screening via MAD (median absolute deviation —
    // the robust-statistics sibling of the IQR fences above; immune to
    // the outliers it hunts, unlike stddev-based z-scores). Two
    // group-level median passes, each joined back broadcast (per-group
    // results are group-count-sized), deviations stay codegen'd scan
    // work. Rounded medians feed the fence on BOTH engines so the
    // boundary comparison is bit-identical. ──────────────────────────
    "q_mad_outliers" -> q(
      c => graft.operators.Analytics
        .madOutliers(c.events, "event_type", "value", k = 3.0),
      """WITH med AS (
        | SELECT event_type,
        |  floor(quantile_cont(value, 0.5) * 1000000 + 0.5) / 1000000 AS med
        | FROM events GROUP BY 1
        |), dev AS (
        | SELECT e.event_type, med, abs(value - med) AS d
        | FROM events e JOIN med USING (event_type)
        |), mad AS (
        | SELECT event_type,
        |  floor(quantile_cont(d, 0.5) * 1000000 + 0.5) / 1000000 AS mad
        | FROM dev GROUP BY 1
        |)
        |SELECT dev.event_type, any_value(dev.med) AS med,
        | any_value(mad.mad) AS mad, count(*) AS n_outliers,
        | floor(max(d) * 100 + 0.5) / 100 AS max_abs_dev
        |FROM dev JOIN mad USING (event_type)
        |WHERE d > mad.mad * 3.0
        |GROUP BY 1""".stripMargin),

    // ── supplier-side star join (completes table coverage: the last
    //    unexercised testdata table) ───────────────────────────────────
    "q_supplier_share" -> q(
      c => c.lineitem
        .join(broadcast(c.supplier.select(col("s_suppkey"), col("s_nationkey"))),
              col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(c.nation.select(col("n_nationkey"), col("n_name"))),
              col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(exactSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4, 2)
               .as("supplied_revenue"),
             countDistinct("s_suppkey").as("n_suppliers"),
             count(lit(1)).as("n_items")),
      s"""SELECT n_name,
        | ${exactSumSql("l_extendedprice * (1 - l_discount)", 4, 2)} AS supplied_revenue,
        | count(DISTINCT s_suppkey) AS n_suppliers,
        | count(*) AS n_items
        |FROM lineitem
        | JOIN supplier ON l_suppkey = s_suppkey
        | JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY 1""".stripMargin),

    // ── sliding event-time windows (1 h window, 30 min slide): the
    //    batch twin of the streaming windowed aggregation; each event
    //    lands in exactly window/slide = 2 windows, which the oracle
    //    replays by exploding k ∈ {0,1} over the 1800 s grid ──────────
    "q_sliding_window" -> q(
      c => c.events
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("win"),
                 col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .select(date_format(col("win.start"), "yyyy-MM-dd HH:mm:ss")
                  .as("window_start"),
                col("event_type"), col("n_events")),
      """WITH e AS (
        | SELECT CAST(floor(epoch(ts)) AS BIGINT) AS sec, event_type FROM events
        |), w AS (
        | SELECT ((sec // 1800) - k) * 1800 AS ws, event_type
        | FROM e CROSS JOIN (SELECT unnest([0, 1]) AS k)
        |)
        |SELECT strftime(make_timestamp(ws * 1000000), '%Y-%m-%d %H:%M:%S') AS window_start,
        | event_type, count(*) AS n_events
        |FROM w GROUP BY 1, 2""".stripMargin),

    // ── binned interval join: revenue landing in each monthly promo
    //    window (first 10 days of every month in the data's span) ──────
    "q_range_join" -> q(
      c => {
        val windows = c.lineitem
          .select(date_trunc("month", col("l_shipdate")).as("w_start"))
          .distinct()
          .withColumn("w_end", date_add(to_date(col("w_start")), 9))
        val joined = RangeJoin.binnedByDay(
          c.lineitem.select(col("l_shipdate"), col("l_extendedprice"), col("l_discount")),
          windows, col("l_shipdate"), col("w_start"), col("w_end"), binDays = 16)
        joined.groupBy(dateStr(col("w_start")).as("window_start"))
          .agg(count(lit(1)).as("n_items"),
               exactSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4, 2)
                 .as("window_revenue"))
      },
      s"""WITH w AS (
        | SELECT DISTINCT date_trunc('month', l_shipdate) AS w_start,
        |  CAST(date_trunc('month', l_shipdate) AS DATE) + 9 AS w_end
        | FROM lineitem
        |)
        |SELECT strftime(w_start, '%Y-%m-%d') AS window_start,
        | count(*) AS n_items,
        | ${exactSumSql("l_extendedprice * (1 - l_discount)", 4, 2)} AS window_revenue
        |FROM lineitem JOIN w
        |  ON CAST(l_shipdate AS DATE) >= CAST(w_start AS DATE)
        | AND CAST(l_shipdate AS DATE) <= w_end
        |GROUP BY 1""".stripMargin),

    // ── explicit GROUPING SETS (beyond rollup/cube: an arbitrary set
    // list — the two single-column marginals plus the grand total,
    // which neither rollup nor cube alone produces). grouping() flags
    // distinguish the set-level NULL from a data NULL; one shuffle,
    // Catalyst's Expand feeds all three sets from a single scan. ─────
    "q_grouping_sets" -> q(
      c => c.lineitem
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(grouping(col("l_returnflag")).as("g_rf"),
             grouping(col("l_linestatus")).as("g_ls"),
             exactSum(col("l_extendedprice"), 2, 2).as("sum_price"),
             count(lit(1)).as("n_items"))
        .select(
          when(col("g_rf") === 1, lit("ALL")).otherwise(col("l_returnflag"))
            .as("returnflag"),
          when(col("g_ls") === 1, lit("ALL")).otherwise(col("l_linestatus"))
            .as("linestatus"),
          col("sum_price"), col("n_items")),
      s"""SELECT
        | CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END
        |   AS returnflag,
        | CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END
        |   AS linestatus,
        | ${exactSumSql("l_extendedprice", 2, 2)} AS sum_price,
        | count(*) AS n_items
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin),

    // ── unpivot (wide → long): per-flag metric columns melted into
    // (metric, value) rows. The wide frame is one post-agg row per
    // flag, so the melt is driver-free constant work; values share one
    // DOUBLE type as unpivot requires. ───────────────────────────────
    "q_unpivot" -> q(
      c => c.lineitem
        .groupBy(col("l_returnflag"))
        .agg(exactSum(col("l_quantity"), 2, 2).as("sum_qty"),
             exactSum(col("l_extendedprice"), 2, 2).as("sum_price"),
             count(lit(1)).cast("double").as("n_items"))
        .unpivot(
          Array(col("l_returnflag")),
          Array(col("sum_qty"), col("sum_price"), col("n_items")),
          "metric", "value"),
      s"""WITH wide AS (
        | SELECT l_returnflag,
        |  ${exactSumSql("l_quantity", 2, 2)} AS sum_qty,
        |  ${exactSumSql("l_extendedprice", 2, 2)} AS sum_price,
        |  CAST(count(*) AS DOUBLE) AS n_items
        | FROM lineitem GROUP BY 1
        |)
        |SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM wide
        |UNION ALL
        |SELECT l_returnflag, 'sum_price', sum_price FROM wide
        |UNION ALL
        |SELECT l_returnflag, 'n_items', n_items FROM wide""".stripMargin),

    // ── per-group least-squares regression + Pearson correlation from
    // EXACT integer sums: built-in corr()/covar would hash-mismatch
    // (Welford merge order differs per engine), so instead each row is
    // scaled to long units, the five sufficient statistics (n, Σx, Σy,
    // Σx², Σxy, Σy²) are summed exactly, and both engines combine them
    // through the IDENTICAL sequence of double ops — bit-equal output
    // even where a sum exceeds 2^53, because long→double rounding is
    // the same IEEE operation everywhere. One pass, one shuffle, and
    // the partial sums are map-side combined — the textbook
    // mergeable-statistics shape that scales to any row count. ───────
    "q_linreg" -> q(
      c => graft.operators.Analytics.linregBy(
        c.lineitem, "l_returnflag", "l_quantity", "l_extendedprice", d = 2),
      """WITH s AS (
        | SELECT l_returnflag, count(*) AS n,
        |  sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS sx,
        |  sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS sy,
        |  sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)
        |    * CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS sxx,
        |  sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)
        |    * CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS sxy,
        |  sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
        |    * CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS syy
        | FROM lineitem
        | WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        | GROUP BY 1
        |), d AS (
        | SELECT l_returnflag, CAST(n AS DOUBLE) AS n,
        |  CAST(sx AS DOUBLE) AS sx, CAST(sy AS DOUBLE) AS sy,
        |  CAST(sxx AS DOUBLE) AS sxx, CAST(sxy AS DOUBLE) AS sxy,
        |  CAST(syy AS DOUBLE) AS syy
        | FROM s
        |)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        | floor((n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0)
        |   * 1000000 + 0.5) / 1000000 AS slope,
        | floor(((sy - ((n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0))
        |   * sx) / n)
        |   / 100.0 * 1000000 + 0.5) / 1000000 AS intercept,
        | floor((n * sxy - sx * sy)
        |   / (sqrt(NULLIF(n * sxx - sx * sx, 0))
        |      * sqrt(NULLIF(n * syy - sy * sy, 0)))
        |   * 1000000 + 0.5) / 1000000 AS corr_xy
        |FROM d""".stripMargin),

    // ── weekly cohort retention on the events stream: cohort = ISO
    // week of a user's first event, retention = distinct users active
    // at each whole-week offset. Two shuffles (user-level min, then
    // the cohort×offset distinct count); the first-seen side joins
    // back on user_id — at 100 TB that's a co-partitioned shuffle
    // join on the natural key, no driver state. ──────────────────────
    "q_cohort_retention" -> q(
      c => graft.operators.Analytics
        .cohortRetention(c.events, "user_id", "ts")
        .select(dateStr(col("cohort_week")).as("cohort_week"),
                col("week_offset"), col("n_active")),
      """WITH f AS (
        | SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
        | FROM events GROUP BY 1
        |)
        |SELECT strftime(f.cohort_week, '%Y-%m-%d') AS cohort_week,
        | CAST(floor(date_diff('day', CAST(f.cohort_week AS DATE),
        |                      CAST(e.ts AS DATE)) / 7.0) AS BIGINT)
        |   AS week_offset,
        | CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active
        |FROM events e JOIN f USING (user_id)
        |GROUP BY 1, 2""".stripMargin),

    // ── ordered conversion funnel (view → click → purchase, strictly
    // increasing timestamps): each stage is a conditional-min
    // aggregation keyed on user_id, the next stage filters on the
    // previous stage's timestamp. Three user-keyed agg shuffles, no
    // window, no per-user sort — the stage DAG scales linearly and
    // the tiny per-stage results broadcast back. ─────────────────────
    "q_event_funnel" -> q(
      c => graft.operators.Analytics
        .funnelTimes(c.events, "user_id", "event_type", "ts",
                     Seq("view", "click", "purchase"))
        .agg(count(col("t1")).as("n_view"),
             count(col("t2")).as("n_view_click"),
             count(col("t3")).as("n_full_funnel")),
      """WITH s1 AS (
        | SELECT user_id, min(ts) AS t1 FROM events
        | WHERE event_type = 'view' GROUP BY 1
        |), s2 AS (
        | SELECT e.user_id, min(e.ts) AS t2
        | FROM events e JOIN s1 USING (user_id)
        | WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1
        |), s3 AS (
        | SELECT e.user_id, min(e.ts) AS t3
        | FROM events e JOIN s2 USING (user_id)
        | WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1
        |)
        |SELECT (SELECT count(*) FROM s1) AS n_view,
        | (SELECT count(*) FROM s2) AS n_view_click,
        | (SELECT count(*) FROM s3) AS n_full_funnel""".stripMargin),

    // ── PageRank over the customer↔part interaction graph (who bought
    // what), symmetrized so the walk is well-defined — node importance
    // for sampling weights / crawl priority. The operator is the
    // textbook distributed power iteration (O(E) shuffle per pass,
    // checkpointed lineage — see operators.PageRank); the oracle is
    // the SAME 5 iterations unrolled as chained CTEs, generated by the
    // loop below so both engines execute the identical IEEE formula
    // (e0-suffixed literals keep DuckDB in DOUBLE, not DECIMAL).
    // Ranks are emitted scaled by |V| (≈1.0) and floor-rounded at 1e-6
    // — the cross-engine sum-order drift after 5 iterations sits ≥6
    // orders of magnitude below the rounding step. ───────────────────
    "q_pagerank" -> q(
      c => {
        val pr = graft.operators.PageRank.run(
          prEdges(c, firstLineOnly = false), iters = 5)
        // |V| is one scalar off a checkpointed O(V) table — model-scale
        val nNodes = pr.count()
        pr.select(col("node"), rnd6(col("r") * lit(nNodes)).as("scaled_rank"))
      },
      s"""WITH ${prOracleCtes("0.85e0", 5, "")}
         |SELECT node,
         | floor(r * nn.n * 1000000 + 0.5) / 1000000 AS scaled_rank
         |FROM r5 CROSS JOIN nn""".stripMargin),

    // ── the PRODUCTION PageRank mode — convergence early-exit — under
    // its own hash-matched oracle. q_pagerank pins the per-iteration
    // formula with fixed iterations; this pins the STOPPING RULE: the
    // oracle unrolls maxIters CTE passes, computes every consecutive
    // L∞ delta, derives K = first iteration whose scaled delta meets
    // the tolerance (Spark's loop checks after each pass while more
    // remain), and emits the ranks AT K plus K itself — so an engine
    // that under- or over-iterates hash-mismatches on both columns.
    // Reduced edge set (l_linenumber = 1) keeps the iteration cost
    // proportionate; damping 0.5 gives the geometric 0.5^k delta decay
    // that converges at K=7 here (measured margins to the 2e-2
    // threshold are ≥8% on every fixture — twelve orders of magnitude
    // above cross-engine ulp drift, so the K decision is stable).
    // tolScaled (threshold on ×V-scaled ranks) makes the same setting
    // mean the same convergence quality at any graph size. ───────────
    "q_pagerank_converged" -> q(
      c => {
        val (pr, it) = graft.operators.PageRank.runWithStats(
          prEdges(c, firstLineOnly = true),
          maxIters = 10, damping = 0.5, tolScaled = Some(0.02))
        val nNodes = pr.count()
        pr.select(col("node"), rnd6(col("r") * lit(nNodes)).as("scaled_rank"),
                  lit(it.toLong).as("iters"))
      }, {
        val maxI = 10
        // the shared prefix lives in prOracleCtes (one definition of
        // the formula and the AS MATERIALIZED discipline for BOTH
        // twins); this adds the stopping-rule machinery: every r_k is
        // referenced TWICE (by r_{k+1} and by allr) — left to DuckDB's
        // inliner that doubles the plan per level, exponential.
        val allr = (0 to maxI).map(k =>
          s"SELECT $k AS it, node, r FROM r$k").mkString(" UNION ALL ")
        s"""WITH ${prOracleCtes("0.5e0", maxI, "\n | WHERE l_linenumber = 1")}, allr AS MATERIALIZED (
           | $allr
           |), deltas AS (
           | SELECT a.it, max(abs(a.r - b.r)) AS d
           | FROM allr a JOIN allr b ON b.it = a.it - 1 AND b.node = a.node
           | GROUP BY a.it
           |), kk AS (
           | SELECT coalesce(min(it), $maxI) AS k
           | FROM deltas CROSS JOIN nn
           | WHERE it <= ${maxI - 1} AND d <= 0.02e0 / nn.n
           |)
           |SELECT allr.node,
           | floor(allr.r * nn.n * 1000000 + 0.5) / 1000000 AS scaled_rank,
           | CAST(kk.k AS BIGINT) AS iters
           |FROM allr JOIN kk ON allr.it = kk.k CROSS JOIN nn""".stripMargin
      }),

    // ── market-basket co-occurrence (the association-rule support/
    // lift core): part pairs bought together in ≥ 2 orders, scored by
    // lift = P(a,b) / (P(a)·P(b)). The pair generation self-joins the
    // distinct (order, part) set ON THE ORDER KEY, so fan-out per
    // order is (basket size choose 2) — bounded by the largest basket
    // (~7 in this schema), never corpus-quadratic; the pair
    // aggregation then shuffles on the high-cardinality (p_a, p_b).
    // Corpus totals reduce to one broadcast row; part counts join
    // AFTER pair aggregation, touching only surviving pairs. Top-k by
    // (support, pair id) → TakeOrderedAndProject, and the float lift
    // is one identically-parenthesized expression in both engines
    // before the fixed-point rounding. ───────────────────────────────
    "q_market_basket" -> q(
      c => {
        // shared co-purchase derivation (one definition for basket /
        // LPA / triangles — operators.CoPurchase)
        val items = graft.operators.CoPurchase.items(c.lineitem)
        val nOrders = items.agg(countDistinct(col("ok")).as("n_orders"))
        val partCnt = items.groupBy("pk").agg(count(lit(1)).as("cnt"))
          .localCheckpoint()
        val pairs = graft.operators.CoPurchase.pairs(items, "n_pair")
        pairs
          .join(partCnt.select(col("pk").as("p_a"), col("cnt").as("n_a")),
                Seq("p_a"))
          .join(partCnt.select(col("pk").as("p_b"), col("cnt").as("n_b")),
                Seq("p_b"))
          .crossJoin(broadcast(nOrders))
          .withColumn("lift",
            rnd4(col("n_pair").cast("double") * col("n_orders") /
                 (col("n_a") * col("n_b"))))
          .select(col("p_a"), col("p_b"), col("n_pair"),
                  col("n_a"), col("n_b"), col("lift"))
          .orderBy(col("n_pair").desc, col("p_a"), col("p_b"))
          .limit(100)
      },
      """WITH it AS (
        | SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |), no AS (
        | SELECT count(DISTINCT ok) AS n_orders FROM it
        |), pc AS (
        | SELECT pk, count(*) AS cnt FROM it GROUP BY 1
        |), pr AS (
        | SELECT a.pk AS p_a, b.pk AS p_b, count(*) AS n_pair
        | FROM it a JOIN it b ON a.ok = b.ok AND a.pk < b.pk
        | GROUP BY 1, 2 HAVING count(*) >= 2
        |)
        |SELECT pr.p_a, pr.p_b, pr.n_pair, ca.cnt AS n_a, cb.cnt AS n_b,
        | floor(CAST(pr.n_pair AS DOUBLE) * no.n_orders / (ca.cnt * cb.cnt)
        |       * 10000 + 0.5) / 10000 AS lift
        |FROM pr
        |JOIN pc ca ON ca.pk = pr.p_a
        |JOIN pc cb ON cb.pk = pr.p_b
        |CROSS JOIN no
        |ORDER BY pr.n_pair DESC, pr.p_a, pr.p_b LIMIT 100""".stripMargin),

    // ── top-k per group WITHOUT a window: the custom TopKPairs
    // bounded-heap aggregate (top-3 parts by revenue per supplier).
    // A row_number window shuffles and sorts EVERY (supplier, part)
    // row; the aggregate's partial buffers cap at 2k entries, so the
    // shuffle carries ≤ 2k rows per (supplier × input partition)
    // however hot the supplier — map-side top-k, the same plan shape
    // Spark gives global top-k via TakeOrderedAndProject, here per
    // group. Revenue is summed in exact fixed-point units so ordering
    // and output are engine-identical; ties break by part id inside
    // the aggregate itself. Oracle = the window formulation — the
    // hash match proves the bounded-heap path exactly equals it. ─────
    "q_topk_per_group" -> q(
      c => {
        graft.functions.NativeFunctions.register(c.spark)
        val pp = c.lineitem
          .groupBy(col("l_suppkey").as("suppkey"),
                   col("l_partkey").as("partkey"))
          .agg(sum(units(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
                     .cast("long")).as("cents"))
        pp.groupBy("suppkey")
          .agg(graft.functions.NativeFunctions
                 .topK(col("cents"), col("partkey"), 3).as("tk"))
          .select(col("suppkey"), posexplode(col("tk")).as(Seq("rk0", "e")))
          .select(col("suppkey"), (col("rk0") + 1).cast("long").as("rk"),
                  col("e.id").as("partkey"), col("e.value").as("cents"))
      },
      """WITH pp AS (
        | SELECT l_suppkey AS suppkey, l_partkey AS partkey,
        |  CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000
        |       + 0.5) AS BIGINT)) AS BIGINT) AS cents
        | FROM lineitem GROUP BY 1, 2
        |)
        |SELECT suppkey, CAST(rk AS BIGINT) AS rk, partkey, cents FROM (
        | SELECT suppkey, partkey, cents,
        |  row_number() OVER (PARTITION BY suppkey
        |    ORDER BY cents DESC, partkey) AS rk
        | FROM pp) WHERE rk <= 3""".stripMargin),

    // ── label-propagation community detection (Raghavan et al.) on
    // the co-purchase graph, made DETERMINISTIC: 5 synchronous
    // iterations; each node adopts the most frequent label among its
    // neighbors with ties broken by SMALLEST label. The per-node
    // argmax is window-free on the Spark side — max(struct(count,
    // −label)) in one aggregate — so no per-node sort ever happens;
    // each iteration is one join keyed on the neighbor + two
    // hash-shuffles on node id, localCheckpointed (the Lloyd rule:
    // without it every iteration's consumer re-executes the whole
    // training lineage). Candidate (node, label) pairs per iteration
    // are bounded by the edge count. The oracle unrolls the same 5
    // iterations as CTEs with a row_number tie-break — the same
    // (count DESC, label ASC) selection. ─────────────────────────────
    "q_label_prop" -> q(
      c => {
        // shared co-purchase graph + the factored LPA operator: the
        // oracle unrolls exactly 5 CTE iterations; LPA stops early only
        // at a fixed point, whose output equals the unrolled one
        val edges = graft.operators.CoPurchase.undirectedEdges(
          graft.operators.CoPurchase.items(c.lineitem))
        graft.operators.LabelPropagation.run(edges, iters = 5)
      }, {
        // AS MATERIALIZED: e (and transitively the und self-join) is
        // referenced by every iteration level — un-materialized, DuckDB
        // re-inlines the co-purchase derivation per level (see the
        // q_pagerank note; same fix)
        val iters = (1 to 5).map { k =>
          s"""l$k AS MATERIALIZED (
             | SELECT node, label FROM (
             |  SELECT e.src AS node, l.label, count(*) AS n,
             |   row_number() OVER (PARTITION BY e.src
             |     ORDER BY count(*) DESC, l.label) AS rn
             |  FROM e JOIN l${k - 1} l ON e.dst = l.node
             |  GROUP BY e.src, l.label)
             | WHERE rn = 1
             |)""".stripMargin
        }.mkString(", ")
        s"""WITH it AS MATERIALIZED (
           | SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
           |), und AS MATERIALIZED (
           | SELECT a.pk AS p_a, b.pk AS p_b
           | FROM it a JOIN it b ON a.ok = b.ok AND a.pk < b.pk
           | GROUP BY 1, 2 HAVING count(*) >= 2
           |), e AS MATERIALIZED (
           | SELECT p_a AS src, p_b AS dst FROM und
           | UNION ALL SELECT p_b, p_a FROM und
           |), l0 AS MATERIALIZED (
           | SELECT DISTINCT src AS node, src AS label FROM e
           |), $iters
           |SELECT node, label FROM l5""".stripMargin
      }),

    // ── exponentially-weighted moving average (half-life smoothing)
    // of per-supplier monthly revenue, J=10 periods deep. Cross-engine
    // float trap avoided by construction: weights are 2^(J−d) — exact
    // integers — over fixed-point revenue units, so numerator and
    // denominator are ORDER-INDEPENDENT integer sums (a pow(0.5,d)
    // float formulation would differ per summation order). The window
    // arithmetic is an explode-by-11 + equi-join on (supplier, month):
    // fan-out is the constant J+1, never data-sized, and the heavy
    // input was already reduced to supplier×month aggregate rows by a
    // map-side-combined groupBy. Calendar gaps contribute nothing to
    // either sum (the join drops absent months) — decay is by
    // calendar distance over observed months. ────────────────────────
    "q_ewma" -> q(
      c => {
        val J = 10
        // localCheckpoint: monthly feeds both the exploded side and the
        // observed-month join target — without it the lineitem scan +
        // groupBy run twice. monthly is supplier×month-sized.
        val monthly = c.lineitem
          .withColumn("mi", (year(col("l_shipdate")) * 12 +
                             month(col("l_shipdate"))).cast("long"))
          .groupBy(col("l_suppkey").as("suppkey"), col("mi"))
          .agg(sum(units(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
                     .cast("long")).as("cents"))
          .localCheckpoint()
        val exploded = monthly
          .select(col("suppkey"), col("cents"),
                  explode(sequence(lit(0L), lit(J.toLong))).as("d"),
                  col("mi"))
          .select(col("suppkey"), (col("mi") + col("d")).as("mi_t"),
                  col("cents"), col("d"))
        val weight = pow(lit(2.0), (lit(J.toLong) - col("d")).cast("double"))
          .cast("long")
        val smoothed = exploded
          .join(monthly.select(col("suppkey"), col("mi").as("mi_t")),
                Seq("suppkey", "mi_t"))
          .groupBy(col("suppkey"), col("mi_t"))
          .agg(sum(col("cents") * weight).as("num"), sum(weight).as("den"))
        smoothed.select(
          col("suppkey"),
          format_string("%04d-%02d",
            floor((col("mi_t") - 1) / lit(12.0)).cast("int"),
            (col("mi_t") - floor((col("mi_t") - 1) / lit(12.0)) * 12).cast("int"))
            .as("ym"),
          rnd4(col("num").cast("double") / (col("den") * lit(10000.0)))
            .as("ewma"))
      },
      """WITH m AS (
        | SELECT l_suppkey AS suppkey,
        |  CAST(year(l_shipdate) * 12 + month(l_shipdate) AS BIGINT) AS mi,
        |  sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5)
        |      AS BIGINT)) AS cents
        | FROM lineitem GROUP BY 1, 2
        |), e AS (
        | SELECT suppkey, mi + d AS mi_t, cents, d
        | FROM m, unnest(generate_series(0, 10)) AS t(d)
        |), j AS (
        | SELECT e.suppkey, e.mi_t,
        |  CAST(sum(e.cents * CAST(power(2, 10 - e.d) AS BIGINT)) AS BIGINT)
        |    AS num,
        |  CAST(sum(CAST(power(2, 10 - e.d) AS BIGINT)) AS BIGINT) AS den
        | FROM e JOIN (SELECT suppkey, mi FROM m) t2
        |   ON e.suppkey = t2.suppkey AND e.mi_t = t2.mi
        | GROUP BY 1, 2
        |)
        |SELECT suppkey,
        | printf('%04d-%02d', CAST(floor((mi_t - 1) / 12.0) AS INT),
        |        CAST(mi_t - floor((mi_t - 1) / 12.0) * 12 AS INT)) AS ym,
        | floor(CAST(num AS DOUBLE) / (den * 10000.0) * 10000 + 0.5) / 10000
        |   AS ewma
        |FROM j""".stripMargin),

    // ── triangle counting on the co-purchase graph (parts linked when
    // ≥ 2 orders contain both) via DEGREE-ORDERED orientation — the
    // standard distributed algorithm: orient every edge from the
    // (degree, id)-smaller endpoint to the larger, enumerate wedges as
    // out-neighbor pairs of each source, and close them against the
    // oriented edge list. Orientation bounds every out-degree by
    // O(√|E|) regardless of hub skew (a raw neighbor self-join would
    // square the hub degree), so wedge generation — the only fan-out —
    // is O(|E|^1.5) worst-case and each triangle is counted exactly
    // once, with no post-hoc /3. The oracle closes the canonical
    // a<b<c triple-join directly. ────────────────────────────────────
    "q_triangles" -> q(
      c => {
        // localCheckpoints: every named stage here has 2-4 consumers
        // whose projections defeat ReuseExchange; uncheckpointed, the
        // lineitem distinct + pair self-join would re-execute per
        // branch. edges/deg/oriented are pair- and node-set-sized.
        // Shared co-purchase derivation: operators.CoPurchase.
        val items = graft.operators.CoPurchase.items(c.lineitem)
        val edges = graft.operators.CoPurchase.pairs(items)
          .select("p_a", "p_b")
          .localCheckpoint()
        val deg = edges.select(explode(array(col("p_a"), col("p_b"))).as("node"))
          .groupBy("node").agg(count(lit(1)).as("deg"))
          .localCheckpoint()
        val withDeg = edges
          .join(deg.select(col("node").as("p_a"), col("deg").as("deg_a")), Seq("p_a"))
          .join(deg.select(col("node").as("p_b"), col("deg").as("deg_b")), Seq("p_b"))
        // orient by (deg, id): struct compare gives the lexicographic order
        val aFirst = struct(col("deg_a"), col("p_a")) < struct(col("deg_b"), col("p_b"))
        val oriented = withDeg.select(
          when(aFirst, col("p_a")).otherwise(col("p_b")).as("src"),
          when(aFirst, col("p_b")).otherwise(col("p_a")).as("dst"),
          when(aFirst, struct(col("deg_b").as("d"), col("p_b").as("n")))
            .otherwise(struct(col("deg_a").as("d"), col("p_a").as("n")))
            .as("dord"))
          .localCheckpoint()
        val wedges = oriented.select(col("src"), col("dst").as("b"), col("dord").as("bord"))
          .join(oriented.select(col("src"), col("dst").as("c1"), col("dord").as("cord")),
                Seq("src"))
          .filter(col("bord") < col("cord"))
        val closed = wedges.join(
          oriented.select(col("src").as("b"), col("dst").as("c1")),
          Seq("b", "c1"), "left_semi")
        val nTri = closed.agg(count(lit(1)).as("n_triangles"))
        val nWedge = deg.agg(
          sum(col("deg") * (col("deg") - 1) / 2).cast("long").as("n_wedges"),
          count(lit(1)).as("n_nodes"))
        val nEdge = edges.agg(count(lit(1)).as("n_edges"))
        nTri.crossJoin(nWedge).crossJoin(nEdge)
          .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
                  col("n_triangles"),
                  rnd4(col("n_triangles") * lit(3.0) / col("n_wedges"))
                    .as("clustering"))
      },
      """WITH it AS (
        | SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |), ed AS (
        | SELECT a.pk AS p_a, b.pk AS p_b
        | FROM it a JOIN it b ON a.ok = b.ok AND a.pk < b.pk
        | GROUP BY 1, 2 HAVING count(*) >= 2
        |), dg AS (
        | SELECT node, count(*) AS deg FROM (
        |  SELECT p_a AS node FROM ed UNION ALL SELECT p_b FROM ed)
        | GROUP BY 1
        |), tri AS (
        | SELECT count(*) AS n_triangles
        | FROM ed e1 JOIN ed e2 ON e1.p_b = e2.p_a
        |      JOIN ed e3 ON e3.p_a = e1.p_a AND e3.p_b = e2.p_b
        |), wn AS (
        | SELECT CAST(sum(deg * (deg - 1) / 2) AS BIGINT) AS n_wedges,
        |  count(*) AS n_nodes
        | FROM dg
        |), en AS (
        | SELECT count(*) AS n_edges FROM ed
        |)
        |SELECT wn.n_nodes, en.n_edges, wn.n_wedges, tri.n_triangles,
        | floor(tri.n_triangles * 3.0 / wn.n_wedges * 10000 + 0.5) / 10000
        |   AS clustering
        |FROM tri CROSS JOIN wn CROSS JOIN en""".stripMargin),
  )
}
