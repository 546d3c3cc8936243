package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark run inside one JVM:
  *
  *   Main --workload queries|etl --seed N --seconds S
  *        --trace 0|1 --fixture DIR --drops DIR --work DIR --out FILE
  *
  * Builds a `local[4]` session, sets up and warms the workload, runs its
  * timed phase from one client thread, checks outputs, and writes a run
  * record (raw samples, failures, counters) to `--out`; `run.py` turns
  * that record into the metrics. With `--trace 1` it also writes the
  * spans next to the record. */
object Main {
  val Cpus = 4

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, fixture: String, drops: String,
                        work: String, out: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
         m("trace") == "1", m("fixture"), m.getOrElse("drops", ""),
         m("work"), m("out"))
  }

  def session(args: Args): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName(s"perfbench-${args.workload}")
      // the program's own entry-point settings (graft.Bench / Verify)
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      // everything the run writes stays under its work dir
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.work}/catalog")
      .config("spark.hadoop.hadoop.tmp.dir", s"${args.work}/tmp")
    if (args.workload == "etl") {
      // graft.etl.EtlMain's setting for table-layer commits
      b.config("mapreduce.fileoutputcommitter.algorithm.version", "2")
      if (args.trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val spark = session(args)
    val trace = new Trace(spark, args.trace, s"${args.workload}-${args.seed}")
    val rec = new Record
    try {
      args.workload match {
        case "queries" => QueryWorkload.run(spark, args, trace, rec)
        case "etl" => EtlWorkload.run(spark, args, trace, rec)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      if (args.trace) {
        Files.writeString(Paths.get(args.out.stripSuffix(".json") + ".spans.json"), trace.json)
        rec("spans") = args.out.stripSuffix(".json") + ".spans.json"
      }
      rec("attempted") = rec.attempted
      rec("failures") = rec.failures.map { case (op, e) => Map("op" -> op, "error" -> e) }
      Files.writeString(Paths.get(args.out), Json(rec.fields))
    } finally spark.stop()
  }

  /** Seconds since the JVM started (the run's set-up clock). */
  def sinceStart: Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

/** The run record: named fields plus attempted/failed operations. An
  * operation that throws, or a check that does not hold, is a failure
  * listed by name; the run goes on. */
final class Record {
  val fields = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  val failures = mutable.ArrayBuffer.empty[(String, String)]

  def update(k: String, v: Any): Unit = fields(k) = v

  def op[T](name: String)(f: => T): Option[T] = {
    attempted += 1
    try Some(f)
    catch { case NonFatal(e) => fail(name, e); None }
  }

  def check(name: String)(ok: => Boolean): Unit = {
    attempted += 1
    try { if (!ok) failures += name -> "wrong result" }
    catch { case NonFatal(e) => fail(name, e) }
  }

  private def fail(name: String, e: Throwable): Unit = {
    val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
    failures += name -> s"${e.getClass.getSimpleName}: ${msg.linesIterator.take(2).mkString(" ")}"
  }
}
