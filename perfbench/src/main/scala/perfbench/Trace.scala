package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Spans around the benchmark's calls into each layer, with Spark's
  * scheduler counters attributed to the innermost open span.
  *
  * A span is (id, name, parent, start, end); ids are unique within one
  * run and every span carries the run id. Attribution rides a local
  * property: opening a span sets [[Prop]] on the calling thread, Spark
  * copies local properties into every job it submits from that thread
  * (and into the jobs of broadcast and subquery threads it starts for
  * that query), and the listener reads the property back from each
  * job and stage. Spans stay in memory and are written out once, when
  * the run ends. With tracing off, [[span]] is a plain call. */
final class Trace(spark: SparkSession, val enabled: Boolean, val runId: String) {
  import Trace._

  final class Span(val id: Int, val name: String, val parent: Int, val start: Long) {
    var end: Long = -1L
    val c: Counters = new Counters
  }

  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val byId = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private val stageTasks = new java.util.concurrent.ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()

  private val listener = new SparkListener {
    private def spanOf(p: java.util.Properties): Option[Span] =
      Option(p).flatMap(x => Option(x.getProperty(Prop)))
        .flatMap(id => Option(byId.get(id.toInt)))
    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOf(e.properties).foreach(_.c.jobs += 1)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      spanOf(e.properties).foreach { s =>
        s.c.stages += 1
        stageSpan.put(e.stageInfo.stageId, s)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        s.c.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          s.c.taskNs += m.executorRunTime * 1000000L
          s.c.gcNs += m.jvmGCTime * 1000000L
          s.c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
        }
        stageTasks.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty)
          .synchronized(stageTasks.get(e.stageId) += e.taskInfo.duration)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach { s =>
        Option(stageTasks.remove(e.stageInfo.stageId)).foreach { ds =>
          // max/median task time; stages of one task, or whose median
          // task is under 10 ms, carry no straggler signal
          val sorted = ds.sorted
          val med = sorted(sorted.size / 2)
          if (sorted.size > 1 && med >= 10)
            s.c.stragglerMax = s.c.stragglerMax max (sorted.last.toDouble / med)
        }
      }
  }

  if (enabled) spark.sparkContext.addSparkListener(listener)

  /** Spans are recorded only while active: the traced run switches
    * tracing off for the untraced half of its timed phase. */
  var active = true

  def span[T](name: String)(f: => T): T =
    if (!enabled || !active) f
    else {
      val s = new Span(spans.size, name, open.headOption.fold(-1)(_.id),
                   System.nanoTime() - t0)
      spans += s
      byId.put(s.id, s)
      open = s :: open
      val sc = spark.sparkContext
      sc.setLocalProperty(Prop, s.id.toString)
      try f
      finally {
        s.end = System.nanoTime() - t0
        open = open.tail
        sc.setLocalProperty(Prop, open.headOption.map(_.id.toString).orNull)
      }
    }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.BenchAccess.drain(spark.sparkContext)

  def all: Seq[Span] = { drain(); spans.toSeq }

  /** Self time of a span: its duration minus the part covered by its
    * direct children (children never overlap: one client thread). */
  def selfNs(s: Span): Long = {
    val kids = spans.iterator.filter(_.parent == s.id).map(k => k.end - k.start).sum
    (s.end - s.start) - kids
  }

  def json: String = Json(all.map { s =>
    val c = s.c
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> runId,
        "start_ns" -> s.start, "end_ns" -> s.end, "self_ns" -> selfNs(s),
        "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "task_ns" -> c.taskNs, "gc_ns" -> c.gcNs, "shuffle_bytes" -> c.shuffleBytes,
        "straggler_max" -> c.stragglerMax)
  })
}

object Trace {
  val Prop = "perfbench.span"

  final class Counters {
    @volatile var jobs = 0L
    @volatile var stages = 0L
    @volatile var tasks = 0L
    @volatile var taskNs = 0L
    @volatile var gcNs = 0L
    @volatile var shuffleBytes = 0L
    @volatile var stragglerMax = 0.0
  }
}
