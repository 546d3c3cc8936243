package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions.{avg => _, col, count, lit, max, min, sum}

/** Transparent materialized-aggregate rewrite — the Catalyst rule that
  * makes the gold layer *serve* silver-aggregate queries instead of
  * merely duplicating them (reference intent: gold tables ARE
  * pre-aggregations of silver, `/root/reference/docs/data_model.md`
  * gold sections; Spark itself ships no MV rewrite, so this is the
  * genuinely-custom-rule case of SURVEY §4's extension ladder).
  *
  * A registered summary records: source table path, a summary table
  * holding `cnt` plus `sum_/min_/max_/cnt_` columns per measure at a
  * grouping grain, and that grain's columns. The optimizer rule then
  * rewrites any logical `Aggregate` over the *source* scan whose
  *   - grouping keys are plain source columns within the grain,
  *   - filters (if any) touch only grain columns, and
  *   - aggregates are sum/min/max/avg/count(measure), count(*), or
  *     count/sum(DISTINCT g) over grain columns g
  * into the equivalent re-aggregation of the summary table:
  * sum→sum(sum_m), min→min(min_m), max→max(max_m), count(*)→sum(cnt),
  * count(m)→sum(cnt_m), avg→sum(sum_m)/sum(cnt_m), and DISTINCT
  * aggregates re-run verbatim over the summary's grain columns (one
  * summary row per present grain combination ⇒ the distinct value set
  * within any coarser group is preserved exactly — register grain =
  * group cols + distinct col to serve exact countDistinct, the shape
  * the reference's department_analytics needs). Output names AND
  * expression ids are preserved, so parent operators never notice; a
  * rewrite whose result type would differ (e.g. decimal sums, whose
  * re-aggregated precision widens) bails instead.
  *
  * At 100 TB this is the difference between every dashboard query
  * re-scanning the fact table and those queries reading a summary
  * 4-6 orders of magnitude smaller: the rewritten plan's scan is the
  * summary parquet, pruned and pushed down like any other scan. The
  * rule is opt-in per source table (`register`), costs one map lookup
  * per Aggregate node when idle, and never fires twice (the rewritten
  * plan aggregates the summary path, which is not a registered
  * source). Correct only while the summary is in sync with its source
  * — `register` is therefore called by the maintenance stage right
  * after the gold rebuild, and the table layer ENFORCES the staleness
  * contract: every [[graft.tables.LakehouseTable]] mutator calls
  * [[invalidate]] (alongside its own file-stats invalidation), so a
  * write to a registered source automatically drops the summary and
  * covered queries fall back to the source scan — bit-correct, just
  * unaccelerated — until re-registration (same contract as Delta MVs /
  * Databricks query rewrite, but not caller-discipline-dependent).
  *
  * Two attachment paths, mirroring [[graft.functions.NativeFunctions]]:
  * `GraftExtensions` injects the rule cluster-wide via
  * `spark.sql.extensions`; [[attach]] adds it to an existing session's
  * `experimental.extraOptimizations` for ad-hoc use and tests.
  */
object MaterializedAgg {

  private final case class Summary(rootPaths: Set[String],
                                   summary: LogicalRelation,
                                   groupCols: Set[String],
                                   measures: Set[String],
                                   summaryRoots: Set[String])

  /** One dimension of a star summary: its scan roots and the
    * fact-side / dim-side join key names. */
  private final case class DimSpec(roots: Set[String],
                                   factKey: String, dimKey: String)

  /** A summary built FROM a star of inner equi-joins (the reference's
    * gold shape: aggregates over 2-3 joined silver tables,
    * `/root/reference/docs/etl_processes.md:425-437,490-500`). Sound
    * for any query aggregating the SAME join at or above the grain —
    * pk-fk uniqueness is not required, because the summary rows ARE
    * the joined rows aggregated, whatever the key multiplicity. */
  private final case class JoinSummary(factRoots: Set[String],
                                       dims: Seq[DimSpec],
                                       summary: LogicalRelation,
                                       groupCols: Set[String],
                                       measures: Set[String],
                                       summaryRoots: Set[String])

  // keyed by the canonical root-path set of the SOURCE scan; the value
  // is ALL summaries registered over that source (different grains —
  // e.g. a daily summary and a daily×brand summary — coexist; a
  // re-registration with an existing grain replaces that entry). The
  // rewrite tries candidates coarsest-grain-first, so the smallest
  // covering summary serves.
  private val registry = new ConcurrentHashMap[Set[String], List[Summary]]()
  // keyed by the SET of participating scans' root sets (order-free:
  // the matcher flattens whatever join tree the query built); value
  // semantics as above
  private val joinRegistry =
    new ConcurrentHashMap[Set[Set[String]], List[JoinSummary]]()

  private def rootsOf(plan: LogicalPlan): Option[Set[String]] = plan match {
    case lr: LogicalRelation =>
      lr.relation match {
        case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
          // keep scheme AND authority (stripping them would collide
          // same-pathed tables on different filesystems and serve one's
          // aggregates from the other's summary) but normalize null vs
          // empty authority: a DataFrame read stringifies as
          // file:/tmp/x while a catalog LOCATION is file:///tmp/x —
          // same filesystem, different raw URI strings
          Some(fs.location.rootPaths.map { p =>
            val u = p.toUri
            val auth = Option(u.getAuthority).getOrElse("")
            s"${Option(u.getScheme).getOrElse("")}://$auth${u.getPath}"
          }.toSet)
        case _ => None
      }
    case _ => None
  }

  /** Read the parquet root `p` the way [[graft.tables.LakehouseTable
    * .read]] reads a table: partition discovery when the root holds
    * `col=value` dirs, recursive file lookup for any other dir. An
    * unpartitioned table's data can sit entirely in subdirs —
    * appendBatch `batch-*` dirs, a fold's `compacted-*` dir — where a
    * plain read finds nothing to infer a schema from
    * (UNABLE_TO_INFER_SCHEMA). Either read keys the same root paths
    * ([[rootsOf]]), so registrations still match every reader. */
  private def readRoot(spark: SparkSession, p: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(p)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val flatDir = fs.getFileStatus(root).isDirectory &&
      !fs.listStatus(root).exists(st =>
        st.isDirectory && st.getPath.getName.contains("="))
    val r = spark.read
    (if (flatDir) r.option("recursiveFileLookup", "true") else r).parquet(p)
  }

  /** Build the conventional summary frame for `groupCols`/`measures`:
    * one row per group with cnt, sum_m, min_m, max_m, cnt_m. Write it
    * wherever the gold layer lives, then [[register]] it. */
  def build(src: DataFrame, groupCols: Seq[String],
            measures: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).as("cnt") +: measures.flatMap { m =>
      Seq(sum(col(m)).as(s"sum_$m"), min(col(m)).as(s"min_$m"),
          max(col(m)).as(s"max_$m"), count(col(m)).as(s"cnt_$m"))
    }
    src.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Build the summary frame for the JOIN shape: inner equi-join of
    * `fact` and `dim` on `factKey == dimKey`, then the conventional
    * [[build]] aggregation. Ambiguous column names across the two
    * inputs fail here (groupBy by name), which is what guarantees the
    * rewrite's name-based grain matching is unambiguous later. */
  def buildJoin(fact: DataFrame, dim: DataFrame, factKey: String,
                dimKey: String, groupCols: Seq[String],
                measures: Seq[String]): DataFrame =
    buildStar(fact, Seq((dim, factKey, dimKey)), groupCols, measures)

  /** The general star: `fact` inner-equi-joined to every dim in turn
    * (each `(dim, factKey, dimKey)`), then [[build]]. Covers the
    * reference's 3-table gold shape (fact ⋈ dim ⋈ dim). */
  def buildStar(fact: DataFrame, dims: Seq[(DataFrame, String, String)],
                groupCols: Seq[String], measures: Seq[String]): DataFrame =
    build(dims.foldLeft(fact) { case (acc, (d, fk, dk)) =>
      acc.join(d, fact(fk) === d(dk)) }, groupCols, measures)

  /** Register `summaryPath` as the materialization of
    * `fact JOIN dim ON factKey == dimKey` grouped by `groupCols` over
    * `measures` (built with [[buildJoin]]). The rule then rewrites any
    * Aggregate over the same inner equi-join whose grouping keys,
    * filters, and aggregates fit the grain — including grain filters
    * the optimizer has already pushed below the join. */
  def registerJoin(spark: SparkSession, factPath: String, dimPath: String,
                   factKey: String, dimKey: String, summaryPath: String,
                   groupCols: Seq[String], measures: Seq[String]): Unit =
    registerStar(spark, factPath, Seq((dimPath, factKey, dimKey)),
      summaryPath, groupCols, measures)

  /** [[registerJoin]] generalized to a star of dims, each given as
    * `(dimPath, factKey, dimKey)`. The matcher is operand-order-free:
    * any left-deep/right-deep arrangement of the same inner equi-joins
    * rewrites. Scans must be pairwise distinct paths (a self-join is
    * not a star). */
  def registerStar(spark: SparkSession, factPath: String,
                   dims: Seq[(String, String, String)], summaryPath: String,
                   groupCols: Seq[String], measures: Seq[String]): Unit = {
    require(dims.nonEmpty, "registerStar needs at least one dim")
    def scanOf(p: String): (Set[String], Set[String]) = {
      val plan = readRoot(spark, p).queryExecution.analyzed
      val r = rootsOf(plan).getOrElse(throw new IllegalArgumentException(
        s"$p must be a parquet scan"))
      (r, plan.output.map(_.name.toLowerCase).toSet)
    }
    val (factRoots, factCols) = scanOf(factPath)
    val dimScans = dims.map { case (dp, fk, dk) =>
      (scanOf(dp), fk.toLowerCase, dk.toLowerCase)
    }
    val dimSpecs = dimScans.map { case ((r, dimCols), fk, dk) =>
      require(factCols(fk),
        s"fact key '$fk' is not a column of $factPath")
      require(dimCols(dk),
        s"dim key '$dk' is not a column of the dim it was registered for")
      DimSpec(r, fk, dk)
    }
    val allRoots = factRoots +: dimSpecs.map(_.roots)
    require(allRoots.distinct.size == allRoots.size,
      "star members must be distinct tables (self-joins not supported)")
    // The rewrite maps grain/measure columns by NAME; that is only
    // sound when each name resolves to exactly one participating scan.
    // buildStar's groupBy would have failed on an ambiguous name at
    // build time, but a summary built by other means — or an input
    // whose schema GAINED a same-named column since (schema evolution
    // between invalidation and re-registration) — must not slip
    // through: a query referencing the other table's column would be
    // silently rewritten to the wrong data. Enforced here, where the
    // schemas are already in hand.
    val inputCols: Seq[Set[String]] = factCols +: dimScans.map(_._1._2)
    (groupCols ++ measures).map(_.toLowerCase).foreach { n =>
      val hits = inputCols.count(_(n))
      require(hits == 1,
        s"summary column '$n' must resolve to exactly one star input; " +
        s"found it in $hits of ${inputCols.size} — rebuild and re-register")
    }
    readRoot(spark, summaryPath).queryExecution.analyzed match {
      case lr: LogicalRelation =>
        val have = lr.output.map(_.name.toLowerCase).toSet
        // groupCols too, not just the aggregate columns: a summary
        // actually built at a COARSER grain passes the cnt/sum_
        // checks, registers fine, and then silently never serves
        // (the rewrite's groupAttr lookup misses) — the exact failure
        // mode registration-time validation exists to catch
        val need = groupCols.map(_.toLowerCase) ++
          ("cnt" +: measures.flatMap(m => Seq(
            s"sum_$m", s"min_$m", s"max_$m", s"cnt_$m").map(_.toLowerCase)))
        val missing = need.filterNot(have)
        require(missing.isEmpty,
          s"summary at $summaryPath lacks column(s) ${missing.mkString(", ")}" +
          s" — build it with MaterializedAgg.buildStar")
        val entry = JoinSummary(factRoots, dimSpecs, lr,
          groupCols.map(_.toLowerCase).toSet,
          measures.map(_.toLowerCase).toSet,
          rootsOf(lr).getOrElse(Set.empty))
        // replace only a registration of the SAME logical shape (grain
        // + measures + join spec) — that's a re-registration after
        // refresh; a summary differing in any of them is a distinct
        // candidate and must coexist, not be evicted
        joinRegistry.compute(allRoots.toSet, (_, old) =>
          entry :: Option(old).getOrElse(Nil).filterNot(o =>
            o.groupCols == entry.groupCols &&
            o.measures == entry.measures && o.dims == entry.dims))
      case _ => throw new IllegalArgumentException(
        s"$summaryPath must be a parquet scan")
    }
  }

  /** Register `summaryPath` as the materialization of
    * `sourcePath.groupBy(groupCols).agg(...)` over `measures`. */
  def register(spark: SparkSession, sourcePath: String, summaryPath: String,
               groupCols: Seq[String], measures: Seq[String]): Unit = {
    val srcPlan = readRoot(spark, sourcePath).queryExecution.analyzed
    val sumPlan = readRoot(spark, summaryPath).queryExecution.analyzed
    (rootsOf(srcPlan), sumPlan) match {
      case (Some(roots), lr: LogicalRelation) =>
        val have = lr.output.map(_.name.toLowerCase).toSet
        // groupCols too (see registerStar): a mis-grained summary must
        // fail HERE, not silently never serve
        val need = groupCols.map(_.toLowerCase) ++
          ("cnt" +: measures.flatMap(m => Seq(
            s"sum_$m", s"min_$m", s"max_$m", s"cnt_$m").map(_.toLowerCase)))
        val missing = need.filterNot(have)
        require(missing.isEmpty,
          s"summary at $summaryPath lacks column(s) ${missing.mkString(", ")}" +
          s" — build it with MaterializedAgg.build")
        val entry = Summary(roots, lr,
          groupCols.map(_.toLowerCase).toSet,
          measures.map(_.toLowerCase).toSet,
          rootsOf(lr).getOrElse(Set.empty))
        // same-shape replacement only (see registerStar): same grain
        // with different measures is a different candidate
        registry.compute(roots, (_, old) =>
          entry :: Option(old).getOrElse(Nil).filterNot(o =>
            o.groupCols == entry.groupCols && o.measures == entry.measures))
      case _ => throw new IllegalArgumentException(
        s"both $sourcePath and $summaryPath must be parquet scans")
    }
  }

  def deregister(spark: SparkSession, sourcePath: String): Unit =
    rootsOf(readRoot(spark, sourcePath).queryExecution.analyzed)
      .foreach(registry.remove)

  /** Drop only the registration of ONE logical shape (grain +
    * measures) over `sourcePath`, leaving coexisting-grain summaries
    * registered — [[refresh]]'s deregistration: dropping the whole
    * key there silently unregistered every SIBLING summary each
    * maintenance cycle (A's fresh registration gone the moment B
    * refreshes), demoting its covered queries to full fact scans
    * until A's own next refresh. Siblings left registered are safe to
    * serve the rebuild: any source MUTATION already dropped them via
    * the table layer's [[invalidate]]; a direct refresh call leaves
    * only fresh ones. */
  private def deregisterShape(spark: SparkSession, sourcePath: String,
                              groupCols: Seq[String],
                              measures: Seq[String]): Unit = {
    val g = groupCols.map(_.toLowerCase).toSet
    val m = measures.map(_.toLowerCase).toSet
    rootsOf(readRoot(spark, sourcePath).queryExecution.analyzed)
      .foreach { roots =>
        registry.compute(roots, (_, v) =>
          if (v == null) null
          else {
            val kept = v.filterNot(o => o.groupCols == g && o.measures == m)
            if (kept.isEmpty) null else kept
          })
      }
  }

  /** [[deregisterShape]] for a JOIN summary (grain + measures + join
    * spec over the star's root set) — [[refreshJoin]]'s shape-scoped
    * deregistration. */
  private def deregisterJoinShape(roots: Set[Set[String]],
                                  groupCols: Seq[String],
                                  measures: Seq[String],
                                  dims: Seq[DimSpec]): Unit = {
    val g = groupCols.map(_.toLowerCase).toSet
    val m = measures.map(_.toLowerCase).toSet
    joinRegistry.compute(roots, (_, v) =>
      if (v == null) null
      else {
        val kept = v.filterNot(o =>
          o.groupCols == g && o.measures == m && o.dims == dims)
        if (kept.isEmpty) null else kept
      })
    ()
  }

  /** Drop every registered summary whose SOURCE root set contains
    * `path` — the table layer's enforcement hook: [[graft.tables
    * .LakehouseTable]] calls this from every mutator (alongside its
    * own file-stats invalidation), so a write to a registered source
    * can never leave the rule serving stale summary answers; covered
    * queries fall back to the source scan, bit-correct, until the
    * maintenance stage re-registers. Unlike [[deregister]] this never
    * reads the path (a mutator may hold it mid-swap): the path is
    * canonicalized filesystem-qualified, matching [[rootsOf]]'s
    * scheme://authority/path form. */
  def invalidate(spark: SparkSession, path: String): Unit = {
    if (!(registry.isEmpty && joinRegistry.isEmpty)) {
      val p = new org.apache.hadoop.fs.Path(path)
      val u = p.getFileSystem(spark.sessionState.newHadoopConf())
        .makeQualified(p).toUri
      val canon = s"${Option(u.getScheme).getOrElse("")}://" +
        s"${Option(u.getAuthority).getOrElse("")}${u.getPath}"
      registry.keySet.removeIf(_.contains(canon))
      // a join summary is stale if ANY participating input mutated
      joinRegistry.keySet.removeIf(_.exists(_.contains(canon)))
      // the SUMMARY table mutating is just as fatal as the source: the
      // registration caches a LogicalRelation whose file listing an
      // overwrite/compact of the summary path has deleted (or renamed
      // into .versions) — left registered, the next covered aggregate
      // rewrites onto dead paths and fails mid-scan. Drop those
      // entries too — via compute, which is atomic per key: the
      // earlier one-shot replace/remove CAS could LOSE to a concurrent
      // registration of a DIFFERENT-shaped summary over the same
      // source (the list gains an element, the CAS fails, no retry)
      // and leave the dead-listing entry serving. compute's filter
      // may also drop a registration racing in for the mutated path
      // itself — over-invalidation, the safe direction.
      registry.forEach { (k, _) =>
        registry.compute(k, (_, v) =>
          if (v == null) null
          else {
            val kept = v.filterNot(_.summaryRoots.contains(canon))
            if (kept.isEmpty) null else kept
          })
        ()
      }
      joinRegistry.forEach { (k, _) =>
        joinRegistry.compute(k, (_, v) =>
          if (v == null) null
          else {
            val kept = v.filterNot(_.summaryRoots.contains(canon))
            if (kept.isEmpty) null else kept
          })
        ()
      }
    }
    // the epoch bump is UNCONDITIONAL — no early return above, even
    // with both maps empty, and no nothing-was-dropped shortcut: an
    // invalidate that races a registration in flight (summary built
    // from pre-mutation data, registry.put not yet executed) finds
    // nothing to remove — any skipped bump would leave no trace, the
    // late put would land, and every epoch-keyed register-once cache
    // would trust the pre-mutation summary forever. Always bumping
    // makes the next covered call re-register from current data
    // (content-keyed summary caches rebuild because the source listing
    // changed). The cost — unrelated mutations re-validating
    // registrations (a few parquet footer reads) — is the price of the
    // soundness guarantee; cache-map growth is handled by the callers'
    // epoch pruning.
    epochCounter.incrementAndGet()
    ()
  }

  def clear(): Unit = {
    registry.clear(); joinRegistry.clear()
    epochCounter.incrementAndGet()
    ()
  }

  /** Monotone counter bumped by every [[clear]]/[[invalidate]] —
    * callers that cache "already registered" decisions (e.g. the
    * bench's register-once guard) key on it so a cleared or
    * invalidated registry is never mistaken for a live one. */
  private val epochCounter = new java.util.concurrent.atomic.AtomicLong(0)
  def epoch: Long = epochCounter.get

  /** Partition-scoped summary maintenance: after a source change
    * touching partition values `changed` (the pipeline knows its
    * batch's partitions), recompute ONLY those summary partitions and
    * atomically replace them, then re-register (the cached summary
    * relation holds a file listing that the swap invalidates). The
    * summary table must be partitioned by the leading group column,
    * which must be the source's partition column — the EtlMain layout
    * (both keyed on `date`). Cost: one pruned scan of the affected
    * source partitions + the partition swap — O(affected), never a
    * full rebuild; the incremental twin of the register-after-rebuild
    * contract.
    *
    * Delete-capable sources (CDC apply_changes) are handled: a changed
    * partition whose source rows were ALL deleted produces no
    * replacement rows — [[graft.tables.LakehouseTable
    * .replacePartitions]] cannot swap it to empty, so refresh detects
    * the emptied values and DROPS those summary partitions instead of
    * leaving stale rows to serve.
    *
    * The O(affected) cost story assumes the SOURCE is partitioned by
    * `groupCols.head` too (the EtlMain layout, both keyed on `date`) —
    * otherwise the slice below is a full, unpruned source scan per
    * refresh. Still correct, so it is a warning, not an error. */
  def refresh(source: graft.tables.LakehouseTable,
              summary: graft.tables.LakehouseTable,
              groupCols: Seq[String], measures: Seq[String],
              changed: Seq[Any]): Unit = {
    require(summary.partitionCols == Seq(groupCols.head),
      s"summary must be partitioned by the leading group column " +
      s"${groupCols.head}, got ${summary.partitionCols}")
    if (changed.isEmpty) return
    if (source.partitionCols != Seq(groupCols.head))
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"MaterializedAgg.refresh: source ${source.path} is partitioned " +
        s"by ${source.partitionCols}, not ${Seq(groupCols.head)} — the " +
        "per-refresh slice is a full source scan, not a pruned one")
    // deregister THIS SHAPE first: the rebuild below is itself an
    // Aggregate over the registered source — left registered, the
    // rewrite rule would serve it from the stale summary, recomputing
    // the summary from itself (the classic MV self-reference loop).
    // Shape-scoped, NOT deregister(source): dropping the whole key
    // unregistered every coexisting-grain sibling on each refresh
    // cycle (see [[deregisterShape]]); siblings are safe — any source
    // mutation already invalidated them table-side.
    deregisterShape(source.spark, source.path, groupCols, measures)
    val slice = source.read
      .filter(col(groupCols.head).isInCollection(changed))
    val rebuilt = build(slice, groupCols, measures)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // partition values among `changed` with NO surviving source rows:
      // their summary partitions must be dropped, not left stale
      // (string-normalized comparison — the collected values went
      // through a parquet write/read cycle the caller's didn't)
      val present = rebuilt.select(col(groupCols.head)).distinct()
        .collect().map(r => String.valueOf(r.get(0))).toSet
      val emptied = changed.filterNot(v => present(String.valueOf(v)))
      if (emptied.nonEmpty) summary.dropPartitions(emptied)
      summary.replacePartitions(rebuilt)
      // a refresh that emptied the LAST partition leaves no data files
      // to analyze — nothing to serve from, so stay deregistered
      if (summary.exists)
        register(source.spark, source.path, summary.path, groupCols, measures)
    } finally { rebuilt.unpersist(); () }
  }

  /** [[refresh]] for a JOIN summary: after a FACT change touching
    * partition values `changed` of the leading group column, recompute
    * only those summary partitions (pruned fact slice ⋈ dim),
    * atomically replace them, and re-register. The incremental path
    * exists only when `groupCols.head` is a FACT column — a fact
    * partition then maps to exactly those summary partitions, so the
    * slice rebuild is O(affected ⋈ dim). A dim-side grain head breaks
    * that mapping (one changed fact partition can touch every grain
    * value), and a DIM mutation can invalidate every summary row
    * regardless of grain — both cases must full-rebuild instead; the
    * former is rejected here, the latter is the caller's contract
    * (automatic table-layer invalidation already guarantees no stale
    * serving either way, exactly as for [[refresh]]'s delete gap).
    * Emptied fact partitions (CDC deletes) drop their summary
    * partitions, mirroring [[refresh]]. */
  def refreshJoin(fact: graft.tables.LakehouseTable, dimPath: String,
                  factKey: String, dimKey: String,
                  summary: graft.tables.LakehouseTable,
                  groupCols: Seq[String], measures: Seq[String],
                  changed: Seq[Any]): Unit = {
    require(summary.partitionCols == Seq(groupCols.head),
      s"summary must be partitioned by the leading group column " +
      s"${groupCols.head}, got ${summary.partitionCols}")
    if (changed.isEmpty) return
    val factRead = fact.read
    require(factRead.columns.exists(_.equalsIgnoreCase(groupCols.head)),
      s"partition-scoped join refresh needs the leading group column " +
      s"'${groupCols.head}' on the FACT side; dim-side grain heads (and " +
      "dim mutations) require a full rebuild + re-register instead")
    if (fact.partitionCols != Seq(groupCols.head))
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"MaterializedAgg.refreshJoin: fact ${fact.path} is partitioned " +
        s"by ${fact.partitionCols}, not ${Seq(groupCols.head)} — the " +
        "per-refresh slice is a full fact scan, not a pruned one")
    // drop THIS join registration first (the rebuild below contains
    // the registered join+Aggregate shape — left registered, the rule
    // would serve it from the stale summary: the MV self-reference
    // loop). Shape-scoped like [[refresh]]'s: the old invalidate()
    // here dropped every registration touching the fact path —
    // including freshly-refreshed siblings — each maintenance cycle.
    // The rebuilt plan's aggregate sits over a Join, which the PLAIN
    // rewrite's unwrap bails on, so plain registrations of the fact
    // path cannot capture it and may stay.
    val dim = readRoot(fact.spark, dimPath)
    val dimPlan = dim.queryExecution.analyzed
    val dimRoots = rootsOf(dimPlan).getOrElse(
      throw new IllegalArgumentException(s"$dimPath must be a parquet scan"))
    rootsOf(factRead.queryExecution.analyzed).foreach { factRoots =>
      deregisterJoinShape(Set(factRoots, dimRoots), groupCols, measures,
        Seq(DimSpec(dimRoots, factKey.toLowerCase, dimKey.toLowerCase)))
    }
    val slice = factRead.filter(col(groupCols.head).isInCollection(changed))
    val rebuilt = buildStar(slice, Seq((dim, factKey, dimKey)),
                            groupCols, measures)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // fact partitions among `changed` whose rows were all deleted —
      // or now join to nothing — produce no replacement rows: drop
      // those summary partitions rather than leaving stale rows
      val present = rebuilt.select(col(groupCols.head)).distinct()
        .collect().map(r => String.valueOf(r.get(0))).toSet
      val emptied = changed.filterNot(v => present(String.valueOf(v)))
      if (emptied.nonEmpty) summary.dropPartitions(emptied)
      summary.replacePartitions(rebuilt)
      if (summary.exists)
        registerJoin(fact.spark, fact.path, dimPath, factKey, dimKey,
                     summary.path, groupCols, measures)
    } finally { rebuilt.unpersist(); () }
  }

  /** Attach the rewrite to an existing session (idempotent). */
  def attach(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(Rewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ Rewrite

  object Rewrite extends Rule[LogicalPlan] with PredicateHelper {

    override def apply(plan: LogicalPlan): LogicalPlan =
      if (registry.isEmpty && joinRegistry.isEmpty) plan
      else plan.transform {
        case agg: Aggregate =>
          tryRewrite(agg).orElse(tryRewriteJoin(agg)).getOrElse(agg)
      }

    /** The aggregate's child, unwrapped down to the source scan plus
      * any residual Filter (column-pruning Projects of bare attribute
      * refs are transparent; anything computed bails). */
    private def unwrap(p: LogicalPlan)
        : Option[(LogicalRelation, Option[Expression])] = p match {
      case lr: LogicalRelation => Some((lr, None))
      case Filter(c, lr: LogicalRelation) => Some((lr, Some(c)))
      case Project(pl, lr: LogicalRelation)
          if pl.forall(_.isInstanceOf[AttributeReference]) =>
        Some((lr, None))
      case Project(pl, Filter(c, lr: LogicalRelation))
          if pl.forall(_.isInstanceOf[AttributeReference]) =>
        Some((lr, Some(c)))
      case _ => None
    }

    private def tryRewrite(agg: Aggregate): Option[LogicalPlan] = {
      val (lr, filterOpt) = unwrap(agg.child) match {
        case Some(x) => x
        case None    => return None
      }
      val candidates = rootsOf(lr)
        .flatMap(r => Option(registry.get(r))).getOrElse(return None)
      // coarsest grain first: every covering candidate is bit-correct,
      // the one with the fewest grain columns has the fewest rows
      candidates.sortBy(_.groupCols.size).view.flatMap { spec =>
        reAggregate(agg, spec.summary, spec.groupCols, spec.measures,
          filterOpt.toSeq)
      }.headOption
    }

    /** Match `Aggregate` over the registered star of inner
      * equi-joins (any tree arrangement). By the time user rules run,
      * the optimizer has pushed grain filters BELOW the joins and
      * inferred `isnotnull` on the join keys from the inner joins'
      * constraints — so loose Filter conjuncts anywhere in the tree
      * must each be either `isnotnull(<a join key of its own scan>)`
      * (implied by the join the summary was built from: droppable) or
      * a grain predicate (kept, re-applied on the summary — the grain
      * check in [[reAggregate]] enforces that). */
    private def tryRewriteJoin(agg: Aggregate): Option[LogicalPlan] = {
      // flatten the whole subtree: scan leaves, equi-join conjuncts,
      // and loose filter conjuncts (wherever the optimizer left them)
      def flatten(p: LogicalPlan)
          : Option[(Seq[LogicalRelation], Seq[Expression], Seq[Expression])] =
        p match {
          case j: Join =>
            if (j.joinType != Inner) None
            else for {
              (ll, lc, lf) <- flatten(j.left)
              (rl, rc, rf) <- flatten(j.right)
            } yield (ll ++ rl,
                     lc ++ rc ++
                       j.condition.toSeq.flatMap(splitConjunctivePredicates),
                     lf ++ rf)
          case Filter(c, ch) =>
            flatten(ch).map { case (ls, cs, fs) =>
              (ls, cs, fs ++ splitConjunctivePredicates(c)) }
          case Project(pl, ch) if pl.forall(_.isInstanceOf[AttributeReference]) =>
            flatten(ch)
          case lr: LogicalRelation => Some((Seq(lr), Nil, Nil))
          case _ => None
        }
      val (leaves, conds, loose) = flatten(agg.child) match {
        case Some(x) if x._1.size >= 2 => x
        case _                         => return None
      }
      val leafRoots: Seq[(LogicalRelation, Set[String])] =
        leaves.map(lr => lr -> rootsOf(lr).getOrElse(return None))
      // distinct scans only (registerStar enforces the same invariant)
      if (leafRoots.map(_._2).distinct.size != leafRoots.size) return None
      val candidates = Option(joinRegistry.get(leafRoots.map(_._2).toSet))
        .getOrElse(return None)
      // coarsest grain first, as in tryRewrite
      candidates.sortBy(_.groupCols.size).view
        .flatMap(attemptJoin(agg, leafRoots, conds, loose, _)).headOption
    }

    /** One registered join summary tried against the flattened query
      * shape; None bails to the next candidate (or the source join). */
    private def attemptJoin(agg: Aggregate,
                            leafRoots: Seq[(LogicalRelation, Set[String])],
                            conds: Seq[Expression], loose: Seq[Expression],
                            spec: JoinSummary): Option[LogicalPlan] = {
      val factLr = leafRoots.collectFirst {
        case (lr, r) if r == spec.factRoots => lr }.getOrElse(return None)
      val dimLrs: Seq[(DimSpec, LogicalRelation)] = spec.dims.map { d =>
        d -> leafRoots.collectFirst {
          case (lr, r) if r == d.roots => lr }.getOrElse(return None)
      }
      // every equi-conjunct must BE a registered (factKey == dimKey)
      // pair — an extra condition restricts further than the summary's
      // join and an unmatched dim would be a cross join: both bail
      val matchedDims = scala.collection.mutable.Set.empty[Int]
      val condsOk = conds.forall {
        case EqualTo(a: AttributeReference, b: AttributeReference) =>
          val fa = if (factLr.outputSet.contains(a)) a else b
          val da = if (fa eq a) b else a
          factLr.outputSet.contains(fa) && dimLrs.zipWithIndex.exists {
            case ((d, dlr), i) =>
              val hit = dlr.outputSet.contains(da) &&
                fa.name.toLowerCase == d.factKey &&
                da.name.toLowerCase == d.dimKey
              if (hit) matchedDims += i
              hit
          }
        case _ => false
      }
      if (!condsOk || matchedDims.size != dimLrs.size) return None
      // loose conjuncts: drop isnotnull on a join key OF ITS OWN scan
      // (implied by the registered inner joins); everything else goes
      // through the grain check in reAggregate
      val factKeys = spec.dims.map(_.factKey).toSet
      def isImpliedNotNull(e: Expression): Boolean = e match {
        case IsNotNull(a: AttributeReference) =>
          (factLr.outputSet.contains(a) && factKeys(a.name.toLowerCase)) ||
            dimLrs.exists { case (d, dlr) =>
              dlr.outputSet.contains(a) && a.name.toLowerCase == d.dimKey }
        case _ => false
      }
      reAggregate(agg, spec.summary, spec.groupCols, spec.measures,
        loose.filterNot(isImpliedNotNull))
    }

    /** Shared re-aggregation: rewrite `agg` (grouping keys, filters —
      * given as conjuncts — and aggregate list) onto `summary`,
      * returning None on any shape outside the covered fragment. */
    private def reAggregate(agg: Aggregate, summary: LogicalRelation,
                            specGroupCols: Set[String],
                            specMeasures: Set[String],
                            filters: Seq[Expression]): Option[LogicalPlan] = {
      // fresh expression ids per use — the same summary may serve
      // several aggregates in one query plan
      val fresh = summary.newInstance()
      val sumAttr: Map[String, AttributeReference] =
        fresh.output.map(a => a.name.toLowerCase -> a).toMap

      def groupAttr(name: String): Option[AttributeReference] =
        if (specGroupCols(name.toLowerCase)) sumAttr.get(name.toLowerCase)
        else None

      // filters may only constrain grain columns (the summary has no
      // finer rows to re-filter)
      val newFilter: Option[Expression] = filters.reduceOption(And) match {
        case None => None
        case Some(cond) =>
          // deterministic is load-bearing: rand() has an EMPTY
          // reference set (vacuously within the grain) but filters
          // source ROWS in the original and whole GROUPS after the
          // rewrite — silently different results
          // dataType equality is checked here exactly as in every
          // result-expression path: register() never validates grain
          // column types, so a hand-built summary whose grain column
          // type differs from the source's (date stored as string)
          // would otherwise yield an ill-typed post-analysis predicate
          // — runtime cast failure or a silently different comparison
          val ok = cond.deterministic &&
            cond.references.forall(a =>
              groupAttr(a.name).exists(_.dataType == a.dataType))
          if (!ok) return None
          Some(cond.transform {
            case a: AttributeReference => groupAttr(a.name).get
          })
      }

      val newGroups: Seq[Expression] = agg.groupingExpressions.map {
        case a: AttributeReference => // type mismatch bails, as above
          groupAttr(a.name).filter(_.dataType == a.dataType)
            .getOrElse(return None)
        case _                     => return None // computed keys: bail
      }

      def measureCol(e: Expression, prefix: String): Option[AttributeReference] =
        e match {
          case a: AttributeReference if specMeasures(a.name.toLowerCase) =>
            sumAttr.get(s"$prefix${a.name.toLowerCase}")
          case _ => None
        }

      def rewriteFn(fn: AggregateFunction): Option[Expression] = fn match {
        case Count(es) if es.forall(e => e.foldable && !e.nullable) =>
          // count(*) / count(1): sum of the stored group counts; the
          // coalesce keeps the empty-source global aggregate at 0, the
          // exact value Count returns there
          sumAttr.get("cnt").map(c =>
            Coalesce(Seq(new Sum(c).toAggregateExpression(), Literal(0L))))
        case Count(Seq(e)) =>
          measureCol(e, "cnt_").map(c =>
            Coalesce(Seq(new Sum(c).toAggregateExpression(), Literal(0L))))
        case Sum(e, ansi) =>
          measureCol(e, "sum_").map(c => Sum(c, ansi).toAggregateExpression())
        case Min(e) =>
          measureCol(e, "min_").map(c => Min(c).toAggregateExpression())
        case Max(e) =>
          measureCol(e, "max_").map(c => Max(c).toAggregateExpression())
        case Average(e, _) =>
          // exact for int-family measures (stored sums are exact longs,
          // one final divide); for doubles the reduction order differs
          // from row-at-a-time avg by at most an ulp, same as any
          // partial-aggregation layout change
          for {
            s <- measureCol(e, "sum_")
            c <- measureCol(e, "cnt_")
          } yield new Divide(
            Cast(new Sum(s).toAggregateExpression(), DoubleTypeRef),
            Cast(new Sum(c).toAggregateExpression(), DoubleTypeRef))
        case _ => None
      }

      /** Rewrite one result-expression tree: AggregateExpression nodes
        * map through [[rewriteFn]] (type-preserving or bail), attribute
        * leaves map to their summary grain column, and any surrounding
        * deterministic scalar computation (CollapseProject folds
        * projections like date_format(k) INTO the aggregate list, so
        * they arrive here, not as a parent Project) is carried over
        * verbatim. Hand-rolled recursion, not transform: a transform
        * would descend into the REPLACED summary-side subtree and try
        * to grain-map its attributes. */
      def rewriteExpr(e: Expression): Option[Expression] = e match {
        case ae: AggregateExpression if !ae.isDistinct && ae.filter.isEmpty =>
          rewriteFn(ae.aggregateFunction)
            .filter(_.dataType == ae.dataType) // widened types: bail
        case ae: AggregateExpression if ae.isDistinct && ae.filter.isEmpty =>
          // count/sum(DISTINCT x...) where every x is a GRAIN column:
          // the summary holds exactly one row per grain combination
          // present in the source, so the distinct value set within any
          // coarser group is preserved verbatim — re-run the same
          // distinct aggregate over the summary's grain columns. This
          // is the department_analytics serving path: an exact
          // countDistinct can never come from sum_/cnt_ columns, but a
          // summary whose grain INCLUDES the distinct column serves it
          // (register grain = group cols + distinct col). DISTINCT
          // over a measure (row-grain detail the summary lost) bails
          // via groupAttr. Count is Long→Long; Sum's dataType filter
          // below catches widening.
          ae.aggregateFunction match {
            case fn @ (_: Count | _: Sum)
                if fn.children.nonEmpty &&
                   fn.children.forall(_.isInstanceOf[AttributeReference]) =>
              val mapped = fn.children.map {
                case a: AttributeReference =>
                  groupAttr(a.name).filter(_.dataType == a.dataType)
              }
              if (mapped.exists(_.isEmpty)) None
              else Some(fn.withNewChildren(mapped.map(_.get))
                          .asInstanceOf[AggregateFunction]
                          .toAggregateExpression(isDistinct = true))
                     .filter(_.dataType == ae.dataType)
            case _ => None // other distinct aggregates: bail
          }
        case _: AggregateExpression => None // filtered aggregates: bail
        case a: AttributeReference =>
          groupAttr(a.name).filter(_.dataType == a.dataType)
        case other if !other.deterministic => None
        case other =>
          val kids = other.children.map(rewriteExpr)
          if (kids.exists(_.isEmpty)) None
          else Some(other.withNewChildren(kids.map(_.get)))
      }

      val newResult: Seq[NamedExpression] = agg.aggregateExpressions.map {
        case a: AttributeReference =>
          val g = groupAttr(a.name).getOrElse(return None)
          if (g.dataType != a.dataType) return None
          Alias(g, a.name)(exprId = a.exprId)
        case al: Alias =>
          val e = rewriteExpr(al.child).getOrElse(return None)
          Alias(e, al.name)(exprId = al.exprId)
        case _ => return None
      }

      // explicit pruning Project: only the summary columns the rewrite
      // touches reach the scan (ColumnPruning already ran by the time
      // user-provided rules fire)
      val used = (newGroups.flatMap(_.references) ++
                  newResult.flatMap(_.references) ++
                  newFilter.toSeq.flatMap(_.references))
        .map(_.exprId).toSet
      val pruned = Project(fresh.output.filter(a => used(a.exprId)), fresh)
      val child = newFilter.map(f => Filter(f, pruned)).getOrElse(pruned)
      Some(Aggregate(newGroups, newResult, child, None))
    }
  }

  // Cast target for the avg rewrite without importing the types object
  // wholesale (Sum/Min/Max above are catalyst aggregates, not columns)
  private val DoubleTypeRef = org.apache.spark.sql.types.DoubleType
}
