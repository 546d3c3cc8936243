package graft

import graft.tables.Bucketing
import graft.text.DedupClusters
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ClustersAndBucketingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("connected components: chains merge, islands stay, survivors keep min-id") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val comps = DedupClusters.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))

    val all = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("doc_id")
    val surv = DedupClusters.survivors(all, "doc_id", pairs)
      .as[Long].collect().toSet
    assert(surv == Set(1L, 4L, 5L, 7L))
  }

  test("connected components converge on a long chain (diameter > 1 iter)") {
    val chain = (1L until 30L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val comps = DedupClusters.connectedComponents(chain)
      .as[(Long, Long)].collect()
    assert(comps.forall(_._2 == 1L), comps.mkString(","))
  }

  test("connected components reject a NULL pair id, naming the column") {
    // a NULL id drops out of the label joins and would come back as a
    // fabricated id = 0 row: it must fail loud, naming the column
    val ok = (Option(1L), Option(2L))
    for ((bad, c) <- Seq(((None, Some(3L)), "id_a"), ((Some(3L), None), "id_b"))) {
      val pairs = Seq(ok, bad).toDF("id_a", "id_b")
      val ex = intercept[IllegalArgumentException] {
        DedupClusters.connectedComponents(pairs).collect()
      }
      assert(ex.getMessage.contains(s"'$c'"), ex.getMessage)
    }
  }

  test("co-bucketed tables join without a shuffle exchange") {
    val a = (1 to 10000).map(i => (i.toLong, s"a$i")).toDF("k", "va")
    val b = (1 to 10000).map(i => (i.toLong, s"b$i")).toDF("k", "vb")
    Bucketing.writeBucketed(a, "bkt_a", "k", 8, sortCol = Some("k"))
    Bucketing.writeBucketed(b, "bkt_b", "k", 8, sortCol = Some("k"))
    // disable broadcast so the planner must pick the co-located
    // sort-merge path (what a fact-fact join at 100 TB would use)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Bucketing.read(spark, "bkt_a")
        .join(Bucketing.read(spark, "bkt_b"), "k")
      assert(joined.count() == 10000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(2000))
      assert(!plan.contains("Exchange hashpartitioning"),
        "bucketed join should not shuffle:\n" + plan.take(2000))
      // contrast: the same join over plain (unbucketed) frames shuffles
      val plain = a.join(b, "k")
      assert(plain.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "10485760")
    }
  }

  test("db-qualified + mixed-case bucketed writes land in <db>.db/ and rewrite cleanly") {
    val df = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    spark.sql("CREATE DATABASE IF NOT EXISTS bktdb")
    Bucketing.writeBucketed(df, "bktdb.Mixed_Case", "k", 4)
    assert(Bucketing.read(spark, "bktdb.mixed_case").count() == 100)

    // simulate a prior session's orphan: drop from the catalog but
    // leave the warehouse dir behind (the in-memory catalog forgets,
    // dirs persist) — the rewrite must clear the normalized
    // <db>.db/<table> location, not a naive <warehouse>/<name> path
    spark.sql("DROP TABLE bktdb.mixed_case")
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val orphan = new java.io.File(s"$wh/bktdb.db/mixed_case")
    orphan.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(orphan.getPath, "stale.parquet"), "x".getBytes)
    Bucketing.writeBucketed(df, "bktdb.Mixed_Case", "k", 4)
    assert(Bucketing.read(spark, "bktdb.mixed_case").count() == 100)
    assert(!new java.io.File(orphan, "stale.parquet").exists())
  }
}
