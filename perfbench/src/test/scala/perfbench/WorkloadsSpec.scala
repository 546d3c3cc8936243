package perfbench

import graft.SparkEntry
import org.scalatest.funsuite.AnyFunSuite

/** Workload membership: no query of the program silently drops out of
  * the benchmark, and no family names a query the benchmark does not
  * time. */
class WorkloadsSpec extends AnyFunSuite {
  private val names = SparkEntry.queries.keySet

  test("every query is either timed or listed in notTimed, never both") {
    val timed = Workloads.queries.toSet
    names.foreach { n =>
      assert(timed(n) != Workloads.notTimed.contains(n), s"$n is in both or neither")
    }
    assert(Workloads.queries.size + Workloads.notTimed.size == names.size)
  }

  test("notTimed names only existing queries, once each") {
    val l = Workloads.notTimed
    assert(l.filterNot(names).isEmpty, s"unknown: ${l.filterNot(names)}")
    assert(l.distinct.size == l.size, s"repeated: ${l.diff(l.distinct)}")
  }

  test("every family names only timed queries") {
    val timed = Workloads.queries.toSet
    Workloads.families.foreach { case (f, qs) =>
      assert(qs.nonEmpty, s"$f is empty")
      assert(qs.filterNot(timed).isEmpty, s"$f names untimed ${qs.filterNot(timed)}")
    }
  }

  test("every caller of the propagate loop and every graph query is timed") {
    val timed = Workloads.queries.toSet
    (Workloads.families("operators.propagate") ++ Seq("q_triangles", "q_market_basket"))
      .foreach(q => assert(timed(q), s"$q is not timed"))
  }
}
