package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** End-to-end smoke of the `graft.etl.EtlMain` CLI over tiny CSV
  * drops: bronze → silver → gold → compaction → clustering → the two
  * MV registrations, in a FORKED JVM (EtlMain stops its SparkSession,
  * which would kill the shared test session). The run must exit 0 and
  * serve both probes from their summaries — including the join
  * summary, registered after compaction folded the unpartitioned
  * silver_products into a `compacted-*` dir. A second run over the
  * same drops must succeed too: the drops are already ingested, so it
  * touches no silver table and reads the compacted ones as they are.
  */
class EtlMainSpec extends AnyFunSuite {

  private def write(path: String, lines: String*): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.write(p, lines.mkString("\n").getBytes("UTF-8")); ()
  }

  test("EtlMain runs end to end, serves both MV probes, and reruns") {
    assume(ForkedJvm.canFork, "no forkable java binary")
    val dir = TestSpark.tmpDir("etlmain")
    write(s"$dir/products.csv",
      "product_id,department_id,department,product_name",
      "1,10,Books,Book A", "2,10,Books,Book B",
      "3,11,Toys,Toy C", "4,12,Games,Game D")
    write(s"$dir/orders/orders.csv",
      "order_num,order_id,user_id,order_timestamp,total_amount,date",
      "1,100,1,2025-04-01T10:00:00,50.0,2025-04-01",
      "2,101,2,2025-04-01T11:00:00,20.0,2025-04-01",
      "3,102,1,2025-04-02T09:30:00,35.5,2025-04-02")
    write(s"$dir/order_items/order_items.csv",
      "id,order_id,user_id,days_since_prior_order,product_id," +
        "add_to_cart_order,reordered,order_timestamp,date",
      "1000,100,1,,1,1,0,2025-04-01T10:00:00,2025-04-01",
      "1001,100,1,,3,2,1,2025-04-01T10:00:00,2025-04-01",
      "1002,101,2,3,2,1,1,2025-04-01T11:00:00,2025-04-01",
      "1003,102,1,1,4,1,0,2025-04-02T09:30:00,2025-04-02")

    def run(n: Int): String = {
      val log = new java.io.File(s"$dir/etl-$n.log")
      val p = ForkedJvm.start("graft.etl.EtlMain",
        Seq(s"$dir/products.csv", s"$dir/orders", s"$dir/order_items",
            s"$dir/warehouse"), "2g", log,
        Map("SPARK_MASTER" -> "local[2]", "SPARK_GRAFT_CPUS" -> "2"))
      assert(p.waitFor(600, java.util.concurrent.TimeUnit.SECONDS),
        s"EtlMain run $n did not exit in time")
      val out = new String(Files.readAllBytes(log.toPath), "UTF-8")
      def tail = out.linesIterator.toSeq.takeRight(40).mkString("\n")
      assert(p.exitValue() == 0, s"EtlMain run $n exited ${p.exitValue()}:\n$tail")
      assert(out.contains("daily revenue served from summary"),
        s"run $n: daily-revenue probe not served:\n$tail")
      assert(out.contains("served from the join summary"),
        s"run $n: department probe not served:\n$tail")
      out
    }

    val first = run(1)
    assert(first.contains("products     upserted=      4 rejected=    0"), first)
    assert(new java.io.File(s"$dir/warehouse/silver_products").list()
      .exists(_.startsWith("compacted-")),
      "compaction did not fold silver_products into a compacted-* dir")
    val second = run(2)
    assert(second.contains("products     upserted=      0 rejected=    0"), second)
  }
}
