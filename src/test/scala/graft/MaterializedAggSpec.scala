package graft

import graft.plans.MaterializedAgg
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MaterializedAggSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def scanPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
          fs.location.rootPaths.map(_.toString).mkString(",")
        case _ => ""
      }
    }

  test("covered aggregates are served by the summary scan, bit-identical") {
    val dir = TestSpark.tmpDir("mvagg")
    // w sums exactly in binary (quarters) so avg comparison is exact
    (1 to 1000).map(i => (i % 7, s"d${i % 3}", i, (i % 100) / 4.0))
      .toDF("k", "d", "v", "w").write.parquet(s"$dir/src")
    val srcT = spark.read.parquet(s"$dir/src")
    MaterializedAgg.build(srcT, Seq("k", "d"), Seq("v", "w"))
      .write.parquet(s"$dir/gold")

    def query() = srcT.filter($"d" === "d1").groupBy($"k")
      .agg(sum($"v").as("sv"), min($"v").as("mn"), max($"w").as("mx"),
           count(lit(1)).as("n"), avg($"v").as("av"), count($"w").as("cw"))
    def global() = srcT.agg(count(lit(1)).as("n"), sum($"w").as("sw"))

    val expected  = query().orderBy("k").collect().toSeq
    val expGlobal = global().collect().toSeq

    MaterializedAgg.attach(spark)
    MaterializedAgg.register(spark, s"$dir/src", s"$dir/gold",
                             Seq("k", "d"), Seq("v", "w"))
    try {
      val q = query()
      val scans = scanPaths(q)
      assert(scans.nonEmpty && scans.forall(_.contains("gold")),
        s"expected the summary scan, got $scans")
      assert(q.orderBy("k").collect().toSeq == expected)

      // group-subset re-aggregation + global aggregate both rewrite
      val g = global()
      assert(scanPaths(g).forall(_.contains("gold")))
      assert(g.collect().toSeq == expGlobal)

      // HAVING (a Filter above the Aggregate referencing its output)
      // works because the rewrite preserves output expression ids
      val hv = query().filter($"sv" > 1000)
      assert(scanPaths(hv).forall(_.contains("gold")))
      assert(hv.orderBy("k").collect().toSeq ==
        expected.filter(_.getAs[Long]("sv") > 1000))
    } finally MaterializedAgg.clear()
  }

  test("partition-scoped refresh keeps a mutating source's summary serving exactly") {
    val dir = TestSpark.tmpDir("mvrefresh")
    val src = graft.tables.LakehouseTable(spark, s"$dir/src", Seq("id"), Seq("d"))
    src.overwrite(Seq((1, "d1", 10), (2, "d1", 20), (3, "d2", 5))
      .toDF("id", "d", "v"))
    val goldT = graft.tables.LakehouseTable(spark, s"$dir/gold", Seq("d"), Seq("d"))
    goldT.overwrite(MaterializedAgg.build(src.read, Seq("d"), Seq("v")))
    MaterializedAgg.attach(spark)
    MaterializedAgg.register(spark, src.path, goldT.path, Seq("d"), Seq("v"))
    try {
      def probe() = src.read.groupBy($"d")
        .agg(sum($"v").as("sv"), count(lit(1)).as("n"))
      assert(scanPaths(probe()).forall(_.contains("gold")))
      assert(probe().orderBy("d").as[(String, Long, Long)].collect().toSeq ==
        Seq(("d1", 30L, 2L), ("d2", 5L, 1L)))

      // a batch touches d1 only: one update, one insert
      src.upsert(Seq((1, "d1", 100), (4, "d1", 1)).toDF("id", "d", "v"))
      MaterializedAgg.refresh(src, goldT, Seq("d"), Seq("v"), Seq("d1"))
      val p2 = probe()
      assert(scanPaths(p2).forall(_.contains("gold")), scanPaths(p2))
      assert(p2.orderBy("d").as[(String, Long, Long)].collect().toSeq ==
        Seq(("d1", 121L, 3L), ("d2", 5L, 1L)))
      // the untouched partition kept its original summary rows: the
      // replace swapped only d=d1
      assert(goldT.read.filter($"d" === "d2").count() == 1)
    } finally MaterializedAgg.clear()
  }

  test("refresh is shape-scoped: a sibling grain's registration survives the cycle") {
    val dir = TestSpark.tmpDir("mvsibling")
    val src = graft.tables.LakehouseTable(spark, s"$dir/src", Seq("id"), Seq("d"))
    src.overwrite(Seq((1, "d1", "b1", 10), (2, "d1", "b2", 20), (3, "d2", "b1", 5))
      .toDF("id", "d", "b", "v"))
    // two summaries over the same source: grain {d} and grain {d,b}
    val goldD = graft.tables.LakehouseTable(spark, s"$dir/gold_d", Seq("d"), Seq("d"))
    goldD.overwrite(MaterializedAgg.build(src.read, Seq("d"), Seq("v")))
    val goldDb = graft.tables.LakehouseTable(spark, s"$dir/gold_db", Seq("d", "b"), Seq("d"))
    goldDb.overwrite(MaterializedAgg.build(src.read, Seq("d", "b"), Seq("v")))
    MaterializedAgg.attach(spark)
    MaterializedAgg.register(spark, src.path, goldD.path, Seq("d"), Seq("v"))
    MaterializedAgg.register(spark, src.path, goldDb.path, Seq("d", "b"), Seq("v"))
    try {
      def byD = src.read.groupBy($"d").agg(sum($"v").as("sv"))
      def byDb = src.read.groupBy($"d", $"b").agg(sum($"v").as("sv"))
      assert(scanPaths(byD).forall(_.contains("gold_d")))
      assert(scanPaths(byDb).forall(_.contains("gold_db")))
      // maintenance cycle for the {d} shape only: before the fix this
      // deregistered the WHOLE source key, silently demoting the {d,b}
      // sibling to fact scans until its own next refresh
      MaterializedAgg.refresh(src, goldD, Seq("d"), Seq("v"), Seq("d1"))
      assert(scanPaths(byD).forall(_.contains("gold_d")), scanPaths(byD))
      assert(scanPaths(byDb).nonEmpty &&
             scanPaths(byDb).forall(_.contains("gold_db")),
        s"sibling registration lost by refresh: ${scanPaths(byDb)}")
      assert(byDb.orderBy("d", "b").as[(String, String, Long)].collect().toSeq ==
        Seq(("d1", "b1", 10L), ("d1", "b2", 20L), ("d2", "b1", 5L)))
    } finally MaterializedAgg.clear()
  }

  test("registration rejects a summary missing a grain column (mis-grained)") {
    val dir = TestSpark.tmpDir("mvgrainchk")
    (1 to 100).map(i => (i % 7, s"b${i % 3}", i)).toDF("k", "b", "v")
      .write.parquet(s"$dir/src")
    val src = spark.read.parquet(s"$dir/src")
    // summary built at the COARSER {k} grain: all cnt/sum_ columns
    // present, so before the fix register() at {k,b} succeeded and the
    // acceleration was silently absent (rewrite-time groupAttr miss)
    MaterializedAgg.build(src, Seq("k"), Seq("v")).write.parquet(s"$dir/gold_k")
    val ex = intercept[IllegalArgumentException] {
      MaterializedAgg.register(spark, s"$dir/src", s"$dir/gold_k",
                               Seq("k", "b"), Seq("v"))
    }
    assert(ex.getMessage.contains("b"), ex.getMessage)
  }

  test("table mutation auto-invalidates the registry: no deregister call needed") {
    val dir = TestSpark.tmpDir("mvinval")
    val src = graft.tables.LakehouseTable(spark, s"$dir/src", Seq("id"), Seq("d"))
    src.overwrite(Seq((1, "d1", 10), (2, "d1", 20), (3, "d2", 5))
      .toDF("id", "d", "v"))
    val goldT = graft.tables.LakehouseTable(spark, s"$dir/gold", Seq("d"), Seq("d"))
    goldT.overwrite(MaterializedAgg.build(src.read, Seq("d"), Seq("v")))
    MaterializedAgg.attach(spark)
    MaterializedAgg.register(spark, src.path, goldT.path, Seq("d"), Seq("v"))
    try {
      def probe() = src.read.groupBy($"d")
        .agg(sum($"v").as("sv"), count(lit(1)).as("n"))
      assert(scanPaths(probe()).forall(_.contains("gold")))

      // an upsert WITHOUT any deregister/refresh call: the mutator's
      // own invalidation hook must drop the registration, so the next
      // covered query scans the SOURCE and returns fresh values — the
      // stale-summary answer (d1 -> 30) must be unobservable
      src.upsert(Seq((1, "d1", 100), (4, "d1", 1)).toDF("id", "d", "v"))
      val p2 = probe()
      assert(scanPaths(p2).forall(_.contains("src")), scanPaths(p2))
      assert(p2.orderBy("d").as[(String, Long, Long)].collect().toSeq ==
        Seq(("d1", 121L, 3L), ("d2", 5L, 1L)))

      // append invalidates too (fresh registration first)
      MaterializedAgg.register(spark, src.path, goldT.path, Seq("d"), Seq("v"))
      assert(scanPaths(probe()).forall(_.contains("gold")))
      src.append(Seq((5, "d2", 7)).toDF("id", "d", "v"))
      val p3 = probe()
      assert(scanPaths(p3).forall(_.contains("src")), scanPaths(p3))
      assert(p3.orderBy("d").as[(String, Long, Long)].collect().toSeq ==
        Seq(("d1", 121L, 3L), ("d2", 12L, 2L)))

      // a mutation of an UNRELATED table must not drop the entry
      MaterializedAgg.register(spark, src.path, goldT.path, Seq("d"), Seq("v"))
      val other = graft.tables.LakehouseTable(spark, s"$dir/other", Seq("id"))
      other.overwrite(Seq((1, "x")).toDF("id", "s"))
      assert(scanPaths(probe()).forall(_.contains("gold")),
        "unrelated mutation must not invalidate")
    } finally MaterializedAgg.clear()
  }

  test("SQL text through a catalog table name is MV-served too") {
    val dir = TestSpark.tmpDir("mvsql")
    val src = graft.tables.LakehouseTable(spark, s"$dir/src", Seq("id"))
    src.overwrite(Seq((1, "a", 10), (2, "b", 20), (3, "a", 30))
      .toDF("id", "d", "v"))
    // the Athena-analyst path: a registered catalog name, plain SQL —
    // the catalog relation's root path is the same dir, so the rewrite
    // serves it with zero per-query opt-in
    src.registerAs("mvsql_src")
    MaterializedAgg.build(src.read, Seq("d"), Seq("v"))
      .write.parquet(s"$dir/gold")
    MaterializedAgg.attach(spark)
    MaterializedAgg.register(spark, src.path, s"$dir/gold", Seq("d"), Seq("v"))
    try {
      val q = spark.sql(
        "SELECT d, sum(v) AS sv, count(*) AS n FROM mvsql_src GROUP BY d")
      assert(scanPaths(q).nonEmpty && scanPaths(q).forall(_.contains("gold")),
        scanPaths(q))
      assert(q.orderBy("d").as[(String, Long, Long)].collect().toSeq ==
        Seq(("a", 40L, 2L), ("b", 20L, 1L)))
    } finally {
      MaterializedAgg.clear()
      spark.sql("DROP TABLE IF EXISTS mvsql_src")
    }
  }

  test("aggregate-over-join is served by a registered join summary") {
    val dir = TestSpark.tmpDir("mvjoin")
    // the reference's gold shape: fact order-items joined to a product
    // dim, revenue at (date, brand) grain
    (1 to 2000).map(i => (s"d${i % 10}", i % 50, i.toLong))
      .toDF("date", "product_id", "amount").write.parquet(s"$dir/fact")
    (0 until 50).map(p => (p, s"b${p % 7}"))
      .toDF("pid", "brand").write.parquet(s"$dir/dim")
    val fact = spark.read.parquet(s"$dir/fact")
    val dim = spark.read.parquet(s"$dir/dim")
    MaterializedAgg.buildJoin(fact, dim, "product_id", "pid",
      Seq("date", "brand"), Seq("amount")).write.parquet(s"$dir/gold")

    def joined() = fact.join(dim, fact("product_id") === dim("pid"))
    def query() = joined().groupBy($"date", $"brand")
      .agg(sum($"amount").as("revenue"), count(lit(1)).as("n"))
    val expected = query().orderBy("date", "brand").collect().toSeq

    MaterializedAgg.attach(spark)
    MaterializedAgg.registerJoin(spark, s"$dir/fact", s"$dir/dim",
      "product_id", "pid", s"$dir/gold", Seq("date", "brand"), Seq("amount"))
    try {
      val q = query()
      assert(scanPaths(q).nonEmpty && scanPaths(q).forall(_.contains("gold")),
        s"expected the join-summary scan, got ${scanPaths(q)}")
      assert(q.orderBy("date", "brand").collect().toSeq == expected)

      // operand order flipped: dim JOIN fact matches the same entry
      val flipped = dim.join(fact, fact("product_id") === dim("pid"))
        .groupBy($"brand").agg(sum($"amount").as("revenue"))
      assert(scanPaths(flipped).forall(_.contains("gold")), scanPaths(flipped))

      // a grain filter the optimizer pushes BELOW the join still
      // rewrites (the pushed conjunct is re-applied on the summary)
      val f = joined().filter($"brand" === "b1").groupBy($"date")
        .agg(sum($"amount").as("revenue"))
      assert(scanPaths(f).forall(_.contains("gold")), scanPaths(f))
      assert(f.orderBy("date").collect().toSeq ==
        joined().filter($"brand" === "b1").groupBy($"date")
          .agg(sum($"amount").as("revenue")).orderBy("date").collect().toSeq)

      // HAVING over the served join aggregate: the Filter above the
      // Aggregate references its output attrs by expression id, which
      // the rewrite preserves — post-aggregate filters apply
      // unchanged to the summary-served plan (q_mv_brand_qty_having's
      // oracle shape)
      val hv = query().filter($"revenue" > $"n" * 950)
      assert(scanPaths(hv).nonEmpty && scanPaths(hv).forall(_.contains("gold")),
        scanPaths(hv))
      assert(hv.orderBy("date", "brand").collect().toSeq ==
        expected.filter(r => r.getAs[Long]("revenue") > r.getAs[Long]("n") * 950))
      // SQL-form HAVING goes through the same Filter-above-Aggregate
      // shape (the analyzer may add the HAVING aggregate to the list)
      fact.createOrReplaceTempView("mvj_fact")
      dim.createOrReplaceTempView("mvj_dim")
      val sqlHv = spark.sql(
        """SELECT brand, sum(amount) AS revenue FROM mvj_fact
          |JOIN mvj_dim ON product_id = pid
          |GROUP BY brand HAVING count(*) > 100""".stripMargin)
      assert(scanPaths(sqlHv).nonEmpty &&
        scanPaths(sqlHv).forall(_.contains("gold")), scanPaths(sqlHv))
      assert(sqlHv.orderBy("brand").collect().toSeq ==
        joined().groupBy($"brand")
          .agg(sum($"amount").as("revenue"), count(lit(1)).as("n"))
          .filter($"n" > 100).select($"brand", $"revenue")
          .orderBy("brand").collect().toSeq)

      // bail-outs: measure filter (summary has no row detail)
      val mf = joined().filter($"amount" > 1000).groupBy($"brand")
        .agg(sum($"amount").as("s"))
      assert(scanPaths(mf).exists(_.contains("fact")), scanPaths(mf))
      // bail-outs: outer join is not the registered join
      val oj = fact.join(dim, fact("product_id") === dim("pid"), "left")
        .groupBy($"brand").agg(sum($"amount").as("s"))
      assert(scanPaths(oj).exists(_.contains("fact")), scanPaths(oj))
      // bail-outs: different join key
      val wk = fact.join(dim, fact("amount") === dim("pid"))
        .groupBy($"brand").agg(sum($"amount").as("s"))
      assert(scanPaths(wk).exists(_.contains("fact")), scanPaths(wk))
      // bail-outs: non-grain grouping key
      val ng = joined().groupBy($"product_id").agg(sum($"amount").as("s"))
      assert(scanPaths(ng).exists(_.contains("fact")), scanPaths(ng))
    } finally MaterializedAgg.clear()
  }

  test("partition-scoped refreshJoin keeps a mutating fact's join summary serving") {
    val dir = TestSpark.tmpDir("mvjrefresh")
    val factT = graft.tables.LakehouseTable(spark, s"$dir/fact",
      Seq("id"), Seq("date"))
    factT.overwrite(
      Seq((1, "d1", 10, 100L), (2, "d1", 11, 200L), (3, "d2", 10, 50L))
        .toDF("id", "date", "product_id", "amount"))
    Seq((10, "b1"), (11, "b2")).toDF("pid", "brand")
      .write.parquet(s"$dir/dim")
    val dim = spark.read.parquet(s"$dir/dim")
    val sumT = graft.tables.LakehouseTable(spark, s"$dir/gold",
      Seq("date"), Seq("date"))
    sumT.overwrite(MaterializedAgg.buildJoin(factT.read, dim,
      "product_id", "pid", Seq("date", "brand"), Seq("amount")))
    MaterializedAgg.attach(spark)
    MaterializedAgg.registerJoin(spark, factT.path, s"$dir/dim",
      "product_id", "pid", sumT.path, Seq("date", "brand"), Seq("amount"))
    try {
      def query() = factT.read.join(dim, col("product_id") === col("pid"))
        .groupBy($"date", $"brand")
        .agg(sum($"amount").as("rev"), count(lit(1)).as("n"))
      assert(scanPaths(query()).forall(_.contains("gold")))

      // a batch touches d1 only: one update, one insert (auto-
      // invalidation dropped the registration; refreshJoin rebuilds
      // the d1 slice ⋈ dim, swaps it, and re-registers)
      factT.upsert(Seq((1, "d1", 10, 999L), (4, "d1", 11, 1L))
        .toDF("id", "date", "product_id", "amount"))
      MaterializedAgg.refreshJoin(factT, s"$dir/dim", "product_id", "pid",
        sumT, Seq("date", "brand"), Seq("amount"), Seq("d1"))
      val q2 = query()
      assert(scanPaths(q2).forall(_.contains("gold")), scanPaths(q2))
      assert(q2.orderBy("date", "brand").as[(String, String, Long, Long)]
        .collect().toSeq ==
        Seq(("d1", "b1", 999L, 1L), ("d1", "b2", 201L, 2L),
            ("d2", "b1", 50L, 1L)))
      // the untouched d2 summary partition survived the swap
      assert(sumT.read.filter($"date" === "d2").count() == 1)

      // a CDC-style delete empties d2 entirely: refreshJoin must DROP
      // its summary partition, not leave the stale row serving
      factT.dropPartitions(Seq("d2"))
      MaterializedAgg.refreshJoin(factT, s"$dir/dim", "product_id", "pid",
        sumT, Seq("date", "brand"), Seq("amount"), Seq("d2"))
      val q3 = query()
      assert(scanPaths(q3).forall(_.contains("gold")), scanPaths(q3))
      assert(q3.filter($"date" === "d2").count() == 0)
      assert(sumT.read.filter($"date" === "d2").count() == 0)

      // dim-side grain head: the fact→summary partition mapping does
      // not exist, so the incremental path must refuse (full rebuild
      // is the documented contract there)
      val badSum = graft.tables.LakehouseTable(spark, s"$dir/badgold",
        Seq("brand"), Seq("brand"))
      intercept[IllegalArgumentException] {
        MaterializedAgg.refreshJoin(factT, s"$dir/dim", "product_id", "pid",
          badSum, Seq("brand", "date"), Seq("amount"), Seq("b1"))
      }
    } finally MaterializedAgg.clear()
  }

  test("3-table star: aggregate over fact ⋈ dim ⋈ dim serves from one summary") {
    val dir = TestSpark.tmpDir("mvstar")
    // the reference's department_analytics shape: items ⋈ part ⋈ orders
    (1 to 3000).map(i => (i % 40, i % 25, i.toLong))
      .toDF("partfk", "orderfk", "qty").write.parquet(s"$dir/fact")
    (0 until 40).map(p => (p, s"b${p % 5}"))
      .toDF("pid", "brand").write.parquet(s"$dir/part")
    (0 until 25).map(o => (o, s"d${o % 4}"))
      .toDF("oid", "odate").write.parquet(s"$dir/orders")
    val fact = spark.read.parquet(s"$dir/fact")
    val part = spark.read.parquet(s"$dir/part")
    val ords = spark.read.parquet(s"$dir/orders")
    MaterializedAgg.buildStar(fact,
      Seq((part, "partfk", "pid"), (ords, "orderfk", "oid")),
      Seq("brand", "odate"), Seq("qty")).write.parquet(s"$dir/gold")

    def joined() = fact
      .join(part, fact("partfk") === part("pid"))
      .join(ords, fact("orderfk") === ords("oid"))
    def query() = joined().groupBy($"brand", $"odate")
      .agg(sum($"qty").as("total_qty"), count(lit(1)).as("n"))
    val expected = query().orderBy("brand", "odate").collect().toSeq

    MaterializedAgg.attach(spark)
    MaterializedAgg.registerStar(spark, s"$dir/fact",
      Seq((s"$dir/part", "partfk", "pid"), (s"$dir/orders", "orderfk", "oid")),
      s"$dir/gold", Seq("brand", "odate"), Seq("qty"))
    try {
      val q = query()
      assert(scanPaths(q).nonEmpty && scanPaths(q).forall(_.contains("gold")),
        s"expected the star-summary scan, got ${scanPaths(q)}")
      assert(q.orderBy("brand", "odate").collect().toSeq == expected)

      // grain subset + a dim-side filter pushed below both joins
      val f = joined().filter($"odate" === "d1").groupBy($"brand")
        .agg(sum($"qty").as("total_qty"))
      assert(scanPaths(f).forall(_.contains("gold")), scanPaths(f))
      assert(f.orderBy("brand").collect().toSeq ==
        joined().filter($"odate" === "d1").groupBy($"brand")
          .agg(sum($"qty").as("total_qty")).orderBy("brand").collect().toSeq)

      // a different join arrangement of the SAME star still matches
      // (dim joined first, fact keys resolved across the tree)
      val rearranged = part.join(
          fact.join(ords, fact("orderfk") === ords("oid")),
          fact("partfk") === part("pid"))
        .groupBy($"odate").agg(sum($"qty").as("total_qty"))
      assert(scanPaths(rearranged).forall(_.contains("gold")),
        scanPaths(rearranged))

      // bail: only TWO of the three tables joined (not the registered star)
      val partial = fact.join(part, fact("partfk") === part("pid"))
        .groupBy($"brand").agg(sum($"qty").as("s"))
      assert(scanPaths(partial).exists(_.contains("fact")), scanPaths(partial))
      // bail: an extra restricting equi-condition
      val extra = fact
        .join(part, fact("partfk") === part("pid") &&
                    fact("orderfk") === part("pid"))
        .join(ords, fact("orderfk") === ords("oid"))
        .groupBy($"brand").agg(sum($"qty").as("s"))
      assert(scanPaths(extra).exists(_.contains("fact")), scanPaths(extra))
    } finally MaterializedAgg.clear()
  }

  test("join summary invalidates when EITHER input mutates") {
    val dir = TestSpark.tmpDir("mvjoininval")
    val fact = graft.tables.LakehouseTable(spark, s"$dir/fact", Seq("id"))
    fact.overwrite(Seq((1, "d1", 10, 100L), (2, "d1", 11, 200L), (3, "d2", 10, 50L))
      .toDF("id", "date", "product_id", "amount"))
    val dim = graft.tables.LakehouseTable(spark, s"$dir/dim", Seq("pid"))
    dim.overwrite(Seq((10, "b0"), (11, "b1")).toDF("pid", "brand"))
    MaterializedAgg.buildJoin(fact.read, dim.read, "product_id", "pid",
      Seq("date", "brand"), Seq("amount")).write.parquet(s"$dir/gold")
    MaterializedAgg.attach(spark)
    def reg() = MaterializedAgg.registerJoin(spark, fact.path, dim.path,
      "product_id", "pid", s"$dir/gold", Seq("date", "brand"), Seq("amount"))
    reg()
    try {
      def probe() = {
        val f = fact.read
        val d = dim.read
        f.join(d, f("product_id") === d("pid"))
          .groupBy($"date", $"brand").agg(sum($"amount").as("revenue"))
      }
      assert(scanPaths(probe()).forall(_.contains("gold")))

      // fact mutates: covered query falls back to the real join, fresh
      fact.append(Seq((4, "d2", 11, 999L)).toDF("id", "date", "product_id", "amount"))
      assert(scanPaths(probe()).exists(_.contains("fact")), scanPaths(probe()))
      assert(probe().orderBy("date", "brand")
        .as[(String, String, Long)].collect().toSeq ==
        Seq(("d1", "b0", 100L), ("d1", "b1", 200L),
            ("d2", "b0", 50L), ("d2", "b1", 999L)))

      // dim mutates: same enforcement on the other input
      reg()
      assert(scanPaths(probe()).forall(_.contains("gold")))
      dim.append(Seq((12, "b2")).toDF("pid", "brand"))
      assert(scanPaths(probe()).exists(_.contains("fact")), scanPaths(probe()))
    } finally MaterializedAgg.clear()
  }

  test("SQL-text join over catalog table names is served by the join summary") {
    val dir = TestSpark.tmpDir("mvjsql")
    val fact = graft.tables.LakehouseTable(spark, s"$dir/fact", Seq("id"))
    fact.overwrite(Seq((1, "d1", 10, 100L), (2, "d1", 11, 200L), (3, "d2", 10, 50L))
      .toDF("id", "date", "product_id", "amount"))
    val dim = graft.tables.LakehouseTable(spark, s"$dir/dim", Seq("pid"))
    dim.overwrite(Seq((10, "b0"), (11, "b1")).toDF("pid", "brand"))
    // register the catalog names BEFORE the summary build+register:
    // registerAs issues DROP/CREATE TABLE, which must not be mistaken
    // for a data mutation (it is not routed through the mutator hook)
    fact.registerAs("mvjsql_fact")
    dim.registerAs("mvjsql_dim")
    MaterializedAgg.buildJoin(fact.read, dim.read, "product_id", "pid",
      Seq("date", "brand"), Seq("amount")).write.parquet(s"$dir/gold")
    MaterializedAgg.attach(spark)
    MaterializedAgg.registerJoin(spark, fact.path, dim.path,
      "product_id", "pid", s"$dir/gold", Seq("date", "brand"), Seq("amount"))
    try {
      // the Athena-analyst path: plain SQL over catalog names — the
      // catalog relations resolve to the same root paths, so the star
      // matcher serves them with zero per-query opt-in
      val q = spark.sql(
        """SELECT d.brand, sum(f.amount) AS revenue, count(*) AS n
          |FROM mvjsql_fact f JOIN mvjsql_dim d ON f.product_id = d.pid
          |GROUP BY d.brand""".stripMargin)
      assert(scanPaths(q).nonEmpty && scanPaths(q).forall(_.contains("gold")),
        scanPaths(q))
      assert(q.orderBy("brand").as[(String, Long, Long)].collect().toSeq ==
        Seq(("b0", 150L, 2L), ("b1", 200L, 1L)))
    } finally {
      MaterializedAgg.clear()
      spark.sql("DROP TABLE IF EXISTS mvjsql_fact")
      spark.sql("DROP TABLE IF EXISTS mvjsql_dim")
    }
  }

  test("uncovered shapes bail to the source scan, still correct") {
    val dir = TestSpark.tmpDir("mvagg2")
    (1 to 500).map(i => (i % 5, s"d${i % 2}", i)).toDF("k", "d", "v")
      .write.parquet(s"$dir/src")
    val srcT = spark.read.parquet(s"$dir/src")
    MaterializedAgg.build(srcT, Seq("k", "d"), Seq("v"))
      .write.parquet(s"$dir/gold")
    MaterializedAgg.attach(spark)
    MaterializedAgg.register(spark, s"$dir/src", s"$dir/gold",
                             Seq("k", "d"), Seq("v"))
    try {
      // filter on a measure: the summary has no row detail to re-filter
      val f = srcT.filter($"v" > 250).groupBy($"k").agg(sum($"v").as("s"))
      assert(scanPaths(f).forall(_.contains("src")), scanPaths(f))
      assert(f.orderBy("k").as[(Int, Long)].collect().toSeq ==
        (0 until 5).map(k => k ->
          (251 to 500).filter(_ % 5 == k).map(_.toLong).sum))

      // distinct aggregate over a GRAIN column: since round 8 this
      // SERVES (the summary's one-row-per-grain-combination preserves
      // the distinct set); the dedicated distinct spec below covers
      // the serving + measure-distinct bail cases
      val dq = srcT.groupBy($"k").agg(countDistinct($"d").as("nd"))
      assert(scanPaths(dq).forall(_.contains("gold")), scanPaths(dq))
      assert(dq.orderBy("k").as[(Int, Long)].collect().forall(_._2 == 2))

      // computed grouping key: bail
      val cg = srcT.groupBy(($"k" + 1).as("k1")).agg(sum($"v").as("s"))
      assert(scanPaths(cg).forall(_.contains("src")))

      // non-deterministic filter: bail even though rand() references
      // no column at all — it samples source ROWS in the original but
      // would sample whole GROUPS after a rewrite. Grouping on every
      // column keeps ColumnPruning from inserting a Project, so the
      // Filter sits directly on the scan and the deterministic guard
      // (not the shape match) is what must reject it. rand() < 0.999,
      // not < 2.0: Spark constant-folds always-true rand comparisons
      // away entirely (which would make the rewrite legitimate).
      val nd = srcT.filter(rand() < 0.999)
        .groupBy($"k", $"d").agg(sum($"v").as("s"))
      assert(scanPaths(nd).forall(_.contains("src")), scanPaths(nd))

      // empty-summary global count comes back 0, matching Count
      val dir3 = TestSpark.tmpDir("mvagg3")
      srcT.filter(lit(false)).write.parquet(s"$dir3/src")
      val empty = spark.read.parquet(s"$dir3/src")
      MaterializedAgg.build(empty, Seq("k"), Seq("v"))
        .write.parquet(s"$dir3/gold")
      MaterializedAgg.register(spark, s"$dir3/src", s"$dir3/gold",
                               Seq("k"), Seq("v"))
      val eg = empty.agg(count(lit(1)).as("n"))
      assert(scanPaths(eg).forall(_.contains("gold")))
      assert(eg.as[Long].head() == 0L)
    } finally MaterializedAgg.clear()
  }

  test("CDC delete that empties a partition: refresh DROPS its summary partition") {
    val dir = TestSpark.tmpDir("mvdelgap")
    val src = graft.tables.LakehouseTable(spark, s"$dir/src", Seq("id"), Seq("d"))
    src.overwrite(Seq((1, "d1", 10), (2, "d1", 20), (3, "d2", 5))
      .toDF("id", "d", "v"))
    val goldT = graft.tables.LakehouseTable(spark, s"$dir/gold", Seq("d"), Seq("d"))
    goldT.overwrite(MaterializedAgg.build(src.read, Seq("d"), Seq("v")))
    MaterializedAgg.attach(spark)
    MaterializedAgg.register(spark, src.path, goldT.path, Seq("d"), Seq("v"))
    try {
      def probe() = src.read.groupBy($"d")
        .agg(sum($"v").as("sv"), count(lit(1)).as("n"))
      assert(scanPaths(probe()).forall(_.contains("gold")))

      // a CDC batch deletes EVERY d1 row (and touches nothing else)
      val changes = Seq((1, "d1", 0, true), (2, "d1", 0, true))
        .toDF("id", "d", "v", "is_delete")
      src.overwrite(graft.operators.Upsert.applyChanges(
        src.read, changes, Seq("id"), "is_delete"))
      // the mutator auto-invalidated; refresh over the touched
      // partition must remove d1's summary rows, not leave them stale
      MaterializedAgg.refresh(src, goldT, Seq("d"), Seq("v"), Seq("d1"))
      val p2 = probe()
      assert(scanPaths(p2).forall(_.contains("gold")), scanPaths(p2))
      assert(p2.orderBy("d").as[(String, Long, Long)].collect().toSeq ==
        Seq(("d2", 5L, 1L)))
      // the summary partition dir itself is gone, not merely unserved
      assert(goldT.read.filter($"d" === "d1").count() == 0)
    } finally MaterializedAgg.clear()
  }

  test("registerStar rejects a grain/measure name resolving to more than one input") {
    val dir = TestSpark.tmpDir("mvambig")
    // dim carries a SAME-NAMED `amount` column — a summary built
    // outside buildStar (whose groupBy would have failed on the
    // ambiguity) must not slip into the registry: the rewrite's
    // name-based measure mapping could serve the dim's amounts for a
    // query over the fact's
    (1 to 100).map(i => (s"d${i % 5}", i % 10, i.toLong))
      .toDF("date", "product_id", "amount").write.parquet(s"$dir/fact")
    (0 until 10).map(p => (p, s"b${p % 3}", p * 1000L))
      .toDF("pid", "brand", "amount").write.parquet(s"$dir/dim")
    val fact = spark.read.parquet(s"$dir/fact")
    val dim = spark.read.parquet(s"$dir/dim")
    // hand-built summary with the required column names
    fact.join(dim, fact("product_id") === dim("pid"))
      .groupBy($"brand")
      .agg(count(lit(1)).as("cnt"), sum(fact("amount")).as("sum_amount"),
           min(fact("amount")).as("min_amount"), max(fact("amount")).as("max_amount"),
           count(fact("amount")).as("cnt_amount"))
      .write.parquet(s"$dir/gold")
    val ex = intercept[IllegalArgumentException] {
      MaterializedAgg.registerJoin(spark, s"$dir/fact", s"$dir/dim",
        "product_id", "pid", s"$dir/gold", Seq("brand"), Seq("amount"))
    }
    assert(ex.getMessage.contains("exactly one star input"))
    // a key that is not a column of its table is rejected too
    val ex2 = intercept[IllegalArgumentException] {
      MaterializedAgg.registerJoin(spark, s"$dir/fact", s"$dir/dim",
        "pid", "product_id", s"$dir/gold", Seq("brand"), Seq("amount"))
    }
    assert(ex2.getMessage.contains("not a column"))
  }

  test("invalidate ALWAYS bumps the epoch — a no-drop invalidate must still leave a trace") {
    // Why unconditional: an invalidate can race a registration in
    // flight (summary built from pre-mutation data, registry.put not
    // yet executed). It finds nothing to remove; were the bump
    // conditional, the late put would land under an unchanged epoch
    // and epoch-keyed register-once caches would trust the stale
    // summary FOREVER. The unconditional bump guarantees the next
    // covered call re-registers from current data.
    val dir = TestSpark.tmpDir("mvepoch")
    (1 to 10).map(i => (i % 2, i)).toDF("k", "v").write.parquet(s"$dir/src")
    MaterializedAgg.build(spark.read.parquet(s"$dir/src"), Seq("k"), Seq("v"))
      .write.parquet(s"$dir/gold")
    (1 to 3).map(i => (i, i)).toDF("a", "b").write.parquet(s"$dir/other")
    MaterializedAgg.register(spark, s"$dir/src", s"$dir/gold",
                             Seq("k"), Seq("v"))
    try {
      val e0 = MaterializedAgg.epoch
      // unrelated table: nothing dropped, epoch bumps anyway (the
      // in-flight-registration race is indistinguishable from this)
      MaterializedAgg.invalidate(spark, s"$dir/other")
      assert(MaterializedAgg.epoch == e0 + 1)
      // ...and the existing registration still serves (no drop)
      val served = spark.read.parquet(s"$dir/src").groupBy($"k")
        .agg(sum($"v").as("s"))
      assert(scanPaths(served).forall(_.contains("gold")))
      // the registered source: dropped AND bumped
      MaterializedAgg.invalidate(spark, s"$dir/src")
      assert(MaterializedAgg.epoch == e0 + 2)
      val q = spark.read.parquet(s"$dir/src").groupBy($"k")
        .agg(sum($"v").as("s"))
      assert(scanPaths(q).forall(_.contains("src")))
    } finally MaterializedAgg.clear()
  }

  test("summaries of different grains over the same source coexist; coarsest covering grain serves") {
    val dir = TestSpark.tmpDir("mvmulti")
    (1 to 1000).map(i => (i % 7, s"b${i % 3}", i))
      .toDF("k", "b", "v").write.parquet(s"$dir/src")
    val src = spark.read.parquet(s"$dir/src")
    MaterializedAgg.build(src, Seq("k"), Seq("v"))
      .write.parquet(s"$dir/gold_k")
    MaterializedAgg.build(src, Seq("k", "b"), Seq("v"))
      .write.parquet(s"$dir/gold_kb")
    MaterializedAgg.attach(spark)
    // registration order: fine first, then coarse — neither may evict
    // the other
    MaterializedAgg.register(spark, s"$dir/src", s"$dir/gold_kb",
                             Seq("k", "b"), Seq("v"))
    MaterializedAgg.register(spark, s"$dir/src", s"$dir/gold_k",
                             Seq("k"), Seq("v"))
    try {
      val byK = src.groupBy($"k").agg(sum($"v").as("s"))
      val byKb = src.groupBy($"k", $"b").agg(sum($"v").as("s"))
      // k-grain query: served by the SMALLER k summary (coarsest
      // covering), not the kb one it would also be correct from
      assert(scanPaths(byK).nonEmpty &&
             scanPaths(byK).forall(_.contains("gold_k")) &&
             !scanPaths(byK).exists(_.contains("gold_kb")), scanPaths(byK))
      // kb-grain query: only the kb summary covers it
      assert(scanPaths(byKb).nonEmpty &&
             scanPaths(byKb).forall(_.contains("gold_kb")), scanPaths(byKb))
      // both bit-correct vs the source
      MaterializedAgg.clear()
      val expK = src.groupBy($"k").agg(sum($"v").as("s"))
        .orderBy("k").collect().toSeq
      val expKb = src.groupBy($"k", $"b").agg(sum($"v").as("s"))
        .orderBy("k", "b").collect().toSeq
      MaterializedAgg.register(spark, s"$dir/src", s"$dir/gold_kb",
                               Seq("k", "b"), Seq("v"))
      MaterializedAgg.register(spark, s"$dir/src", s"$dir/gold_k",
                               Seq("k"), Seq("v"))
      assert(byK.orderBy("k").collect().toSeq == expK)
      assert(byKb.orderBy("k", "b").collect().toSeq == expKb)
    } finally MaterializedAgg.clear()
  }

  test("same grain, different measures: both registrations coexist") {
    val dir = TestSpark.tmpDir("mvmeasures")
    (1 to 500).map(i => (i % 5, i.toLong, (i * 2).toLong))
      .toDF("k", "v", "w").write.parquet(s"$dir/src")
    val src = spark.read.parquet(s"$dir/src")
    MaterializedAgg.build(src, Seq("k"), Seq("v"))
      .write.parquet(s"$dir/gold_v")
    MaterializedAgg.build(src, Seq("k"), Seq("w"))
      .write.parquet(s"$dir/gold_w")
    MaterializedAgg.attach(spark)
    MaterializedAgg.register(spark, s"$dir/src", s"$dir/gold_v",
                             Seq("k"), Seq("v"))
    MaterializedAgg.register(spark, s"$dir/src", s"$dir/gold_w",
                             Seq("k"), Seq("w"))
    try {
      val byV = src.groupBy($"k").agg(sum($"v").as("s"))
      val byW = src.groupBy($"k").agg(sum($"w").as("s"))
      // the second registration must NOT have evicted the first
      assert(scanPaths(byV).nonEmpty &&
             scanPaths(byV).forall(_.contains("gold_v")), scanPaths(byV))
      assert(scanPaths(byW).nonEmpty &&
             scanPaths(byW).forall(_.contains("gold_w")), scanPaths(byW))
      assert(byV.as[(Int, Long)].collect().toMap ==
        (1 to 500).groupBy(_ % 5).view.mapValues(_.map(_.toLong).sum).toMap)
    } finally MaterializedAgg.clear()
  }

  test("count/sum(DISTINCT grain col) serve from the summary; DISTINCT measures bail") {
    val dir = TestSpark.tmpDir("mvdistinct")
    (1 to 1000).map(i => (i % 7, s"d${i % 13}", i % 5))
      .toDF("k", "d", "v").write.parquet(s"$dir/src")
    val srcT = spark.read.parquet(s"$dir/src")
    // grain includes d: count(DISTINCT d) is servable
    MaterializedAgg.build(srcT, Seq("k", "d"), Seq("v"))
      .write.parquet(s"$dir/gold")
    MaterializedAgg.attach(spark)
    MaterializedAgg.register(spark, s"$dir/src", s"$dir/gold",
                             Seq("k", "d"), Seq("v"))
    try {
      def query() = srcT.groupBy($"k")
        .agg(countDistinct($"d").as("nd"), sum($"v").as("sv"),
             count(lit(1)).as("n"))
      val expected = query().orderBy("k").collect().toSeq
      val q = query()
      assert(scanPaths(q).nonEmpty && scanPaths(q).forall(_.contains("gold")),
        s"countDistinct over a grain column must serve: ${scanPaths(q)}")
      assert(q.orderBy("k").collect().toSeq == expected)

      // sum(DISTINCT grain col): the distinct value set is preserved
      // even though the same k repeats across d-subgroup summary rows
      val sd = srcT.agg(sum_distinct($"k").as("sk"))
      assert(scanPaths(sd).forall(_.contains("gold")), scanPaths(sd))
      assert(sd.as[Long].head() == (0 until 7).sum.toLong)

      // multi-column distinct over grain columns serves as well
      val mc = srcT.agg(countDistinct($"k", $"d").as("nkd"))
      assert(scanPaths(mc).forall(_.contains("gold")), scanPaths(mc))
      assert(mc.as[Long].head() ==
        srcT.select($"k", $"d").distinct().count())

      // DISTINCT over a MEASURE: the summary lost row-level detail —
      // must bail to the source scan, still correct
      val dm = srcT.groupBy($"k").agg(countDistinct($"v").as("nv"))
      assert(scanPaths(dm).forall(_.contains("src")), scanPaths(dm))
    } finally MaterializedAgg.clear()
  }

  test("register/invalidate race: covered queries stay correct, never read a dropped summary") {
    // Two threads hammer the registry — one invalidating (the mutator
    // hook), one re-registering (the maintenance stage) — while the
    // main thread keeps running the covered aggregate. The data never
    // changes, so EVERY plan the rule could emit (summary-served or
    // fallen-back) must return the same rows; what this proves is the
    // backstop: the rule's per-optimize registry lookup means a query
    // planned after a drop falls back to the source scan — it can
    // never be planned against a registration that no longer exists —
    // and the epoch-keyed register-once cache can only cause extra
    // registrations, never a stale serve. Any torn state (NPE,
    // half-registered entry, wedged epoch) would surface as a thrown
    // error or wrong rows in one of the probes.
    val dir = TestSpark.tmpDir("mvrace")
    (1 to 500).map(i => (i % 5, i)).toDF("k", "v").write.parquet(s"$dir/src")
    val srcT = spark.read.parquet(s"$dir/src")
    MaterializedAgg.build(srcT, Seq("k"), Seq("v")).write.parquet(s"$dir/gold")
    MaterializedAgg.attach(spark)
    def probe() = srcT.groupBy($"k").agg(sum($"v").as("s"))
    val expected = probe().orderBy("k").collect().toSeq
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def loop(body: => Unit): Thread = {
      val t = new Thread(() =>
        try { while (!stop.get) { body; Thread.sleep(1) } }
        catch { case e: Throwable => errs.add(e); () })
      t.setDaemon(true); t.start(); t
    }
    val invalidator = loop(MaterializedAgg.invalidate(spark, s"$dir/src"))
    val registrar = loop(MaterializedAgg.register(
      spark, s"$dir/src", s"$dir/gold", Seq("k"), Seq("v")))
    try {
      (1 to 15).foreach { _ =>
        assert(probe().orderBy("k").collect().toSeq == expected)
      }
    } finally {
      stop.set(true); invalidator.join(2000); registrar.join(2000)
      MaterializedAgg.clear()
    }
    assert(errs.isEmpty, s"background registry churn threw: ${errs}")
    // post-storm sanity: a clean register serves again, deterministic
    MaterializedAgg.register(spark, s"$dir/src", s"$dir/gold",
                             Seq("k"), Seq("v"))
    try {
      assert(scanPaths(probe()).forall(_.contains("gold")))
      assert(probe().orderBy("k").collect().toSeq == expected)
    } finally MaterializedAgg.clear()
  }

  test("invalidate with an EMPTY registry still bumps the epoch") {
    // the in-flight-registration race does not require a populated
    // registry: thread A can be inside register() (summary built,
    // put not yet executed) while BOTH maps are empty — an
    // empty-registry early return that skipped the bump would let A's
    // late put land under an unchanged epoch and every register-once
    // cache trust the pre-mutation summary forever
    MaterializedAgg.clear()
    val dir = TestSpark.tmpDir("mvepoch0")
    Seq((1, 1)).toDF("k", "v").write.parquet(s"$dir/src")
    val e0 = MaterializedAgg.epoch
    MaterializedAgg.invalidate(spark, s"$dir/src")
    assert(MaterializedAgg.epoch == e0 + 1)
  }

  test("mutating the SUMMARY table itself drops its registration") {
    // the registration caches a LogicalRelation whose file listing an
    // overwrite of the summary PATH deletes — left registered, the
    // next covered aggregate would rewrite onto dead part-files and
    // fail mid-scan (or, versioned, read rows renamed into .versions)
    val dir = TestSpark.tmpDir("mvsummut")
    val src = graft.tables.LakehouseTable(spark, s"$dir/src", Seq("id"))
    src.overwrite(Seq((1, "k1", 10), (2, "k1", 20), (3, "k2", 5))
      .toDF("id", "k", "v"))
    val goldT = graft.tables.LakehouseTable(spark, s"$dir/gold", Seq("k"))
    goldT.overwrite(MaterializedAgg.build(src.read, Seq("k"), Seq("v")))
    MaterializedAgg.attach(spark)
    MaterializedAgg.register(spark, src.path, goldT.path, Seq("k"), Seq("v"))
    try {
      def probe() = src.read.groupBy($"k")
        .agg(sum($"v").as("sv"), count(lit(1)).as("n"))
      assert(scanPaths(probe()).forall(_.contains("gold")))
      // maintenance rewrites the summary table (compact-style full
      // overwrite, new part-file names): the registration must go
      goldT.overwrite(MaterializedAgg.build(src.read, Seq("k"), Seq("v")))
      val p = probe()
      assert(scanPaths(p).forall(_.contains("src")), scanPaths(p))
      assert(p.orderBy("k").as[(String, Long, Long)].collect().toSeq ==
        Seq(("k1", 30L, 2L), ("k2", 5L, 1L)))
    } finally MaterializedAgg.clear()
  }

  test("grain column type mismatch between source and summary bails the rewrite") {
    // register() validates measure columns only; a HAND-BUILT summary
    // whose grain column type differs from the source's (int stored as
    // string) must not produce an ill-typed rewritten plan — grouping
    // keys and filters both substitute grain attributes, so both paths
    // type-check
    val dir = TestSpark.tmpDir("mvgraintype")
    (1 to 50).map(i => (i % 5, i)).toDF("k", "v").write.parquet(s"$dir/src")
    spark.read.parquet(s"$dir/src").groupBy($"k")
      .agg(count(lit(1)).as("cnt"), sum($"v").as("sum_v"),
           min($"v").as("min_v"), max($"v").as("max_v"),
           count($"v").as("cnt_v"))
      .select($"k".cast("string").as("k"), $"cnt", $"sum_v", $"min_v",
              $"max_v", $"cnt_v")
      .write.parquet(s"$dir/gold")
    MaterializedAgg.attach(spark)
    MaterializedAgg.register(spark, s"$dir/src", s"$dir/gold",
                             Seq("k"), Seq("v"))
    try {
      val q = spark.read.parquet(s"$dir/src")
        .filter($"k" >= 1).groupBy($"k").agg(sum($"v").as("sv"))
      assert(scanPaths(q).forall(_.contains("src")), scanPaths(q))
      assert(q.orderBy("k").as[(Int, Long)].collect().toSeq ==
        (1 to 4).map(k => (k, (1 to 50).filter(_ % 5 == k).sum.toLong)))
    } finally MaterializedAgg.clear()
  }

  test("unpartitioned inputs whose data sits only in subdirs (a fold's " +
       "compacted-*, appendBatch batch-*) register, serve and refresh") {
    // a plain parquet read of such a root finds no file to infer a
    // schema from (UNABLE_TO_INFER_SCHEMA) — the EtlMain failure once
    // compaction folded silver_products into compacted-*/
    val dir = TestSpark.tmpDir("mvsubdirs")
    val factT = graft.tables.LakehouseTable(spark, s"$dir/fact",
      Seq("id"), Seq("date"))
    factT.overwrite(
      Seq((1, "d1", 10, 100L), (2, "d1", 11, 200L), (3, "d2", 10, 50L))
        .toDF("id", "date", "product_id", "amount"))
    val dimT = graft.tables.LakehouseTable(spark, s"$dir/dim", Seq("pid"))
    dimT.overwrite(Seq((10, "b1"), (11, "b2")).toDF("pid", "brand"))
    dimT.compact(256L << 20)
    assert(new java.io.File(s"$dir/dim").list()
      .filterNot(n => n.startsWith("_") || n.startsWith("."))
      .forall(_.startsWith("compacted-")), "the fold left root data files")
    val sumT = graft.tables.LakehouseTable(spark, s"$dir/gold",
      Seq("date"), Seq("date"))
    sumT.overwrite(MaterializedAgg.buildJoin(factT.read, dimT.read,
      "product_id", "pid", Seq("date", "brand"), Seq("amount")))
    MaterializedAgg.attach(spark)
    MaterializedAgg.registerJoin(spark, factT.path, dimT.path,
      "product_id", "pid", sumT.path, Seq("date", "brand"), Seq("amount"))
    try {
      def query() = factT.read.join(dimT.read, col("product_id") === col("pid"))
        .groupBy($"date", $"brand")
        .agg(sum($"amount").as("rev"), count(lit(1)).as("n"))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("date", "brand").as[(String, String, Long, Long)]
          .collect().toSeq
      val q = query()
      assert(scanPaths(q).nonEmpty && scanPaths(q).forall(_.contains("gold")),
        scanPaths(q))
      assert(rows(q) == Seq(("d1", "b1", 100L, 1L), ("d1", "b2", 200L, 1L),
                            ("d2", "b1", 50L, 1L)))

      // refreshJoin reads the compacted dim the same way
      factT.upsert(Seq((4, "d1", 11, 5L)).toDF("id", "date", "product_id", "amount"))
      MaterializedAgg.refreshJoin(factT, dimT.path, "product_id", "pid",
        sumT, Seq("date", "brand"), Seq("amount"), Seq("d1"))
      val q2 = query()
      assert(scanPaths(q2).forall(_.contains("gold")), scanPaths(q2))
      assert(rows(q2) == Seq(("d1", "b1", 100L, 1L), ("d1", "b2", 205L, 2L),
                             ("d2", "b1", 50L, 1L)))

      // plain register / deregister over a source held in batch dirs
      val srcT = graft.tables.LakehouseTable(spark, s"$dir/src", Seq("k"))
      srcT.appendBatch(Seq((1, 10L), (2, 20L)).toDF("k", "v"))
      srcT.appendBatch(Seq((1, 5L)).toDF("k", "v"))
      MaterializedAgg.build(srcT.read, Seq("k"), Seq("v"))
        .write.parquet(s"$dir/src_gold")
      MaterializedAgg.register(spark, srcT.path, s"$dir/src_gold",
        Seq("k"), Seq("v"))
      def byK() = srcT.read.groupBy($"k").agg(sum($"v").as("sv"))
      assert(scanPaths(byK()).forall(_.contains("src_gold")), scanPaths(byK()))
      assert(byK().orderBy("k").as[(Int, Long)].collect().toSeq ==
        Seq((1, 15L), (2, 20L)))
      MaterializedAgg.deregister(spark, srcT.path)
      assert(scanPaths(byK()).forall(p => !p.contains("src_gold")),
        scanPaths(byK()))
    } finally MaterializedAgg.clear()
  }
}
