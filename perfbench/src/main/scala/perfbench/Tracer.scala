package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer

/** Spark work attributed to one span. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var cpuMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var outputBytes = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
    cpuMs += o.cpuMs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; outputBytes += o.outputBytes
  }
}

/** A timed region of the benchmark thread. Spans of one query share `query`. */
final case class Span(id: Int, name: String, parent: Int, query: String,
                      startNs: Long, var endNs: Long = -1L) {
  def durNs: Long = endNs - startNs
}

object Span {
  /** Self time: the span's duration minus the part of it its children cover.
    * Children are clipped to the parent and overlaps are counted once. */
  def selfNs(parent: (Long, Long), children: Seq[(Long, Long)]): Long = {
    val (ps, pe) = parent
    val clipped = children.map { case (s, e) => (math.max(s, ps), math.min(e, pe)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    (pe - ps) - covered
  }
}

/** In-memory span recorder with Spark work attribution.
  *
  * Each span sets a job group of its own before running its body, and a
  * [[SparkListener]] keyed on that group counts the jobs, stages and task
  * metrics the body triggers. Jobs of foreign groups (a streaming query sets
  * its own run id as the group) are attributed through [[alias]]. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val counters = new ConcurrentHashMap[Int, Counters]()
  private val groups = new ConcurrentHashMap[String, Int]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val GroupKey = "spark.jobGroup.id"

  private def countersOf(span: Int): Counters = counters.computeIfAbsent(span, _ => new Counters)
  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(GroupKey))).flatMap(g => Option(groups.get(g)).map(_.intValue))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOf(e.properties).foreach { s => val c = countersOf(s); c.synchronized(c.jobs += 1) }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      spanOf(e.properties).foreach { s =>
        stageSpan.put(e.stageInfo.stageId, s)
        val c = countersOf(s); c.synchronized(c.stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stageSpan.get(e.stageId)
      val m = e.taskMetrics
      if (s != null && m != null) {
        val c = countersOf(s)
        c.synchronized {
          c.tasks += 1
          c.taskMs += m.executorRunTime
          c.cpuMs += m.executorCpuTime / 1000000L
          c.gcMs += m.jvmGCTime
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }
  sc.addSparkListener(listener)

  private def group(id: Int): String = s"perfbench-span-$id"

  /** Run `body` inside a new child span of the innermost open one. */
  def span[T](name: String, query: String = null)(body: => T): T = {
    val parent = stack.headOption
    val s = Span(spans.length, name, parent.map(_.id).getOrElse(-1),
      Option(query).orElse(parent.map(_.query)).orNull, System.nanoTime())
    spans += s
    stack = s :: stack
    groups.put(group(s.id), s.id)
    sc.setJobGroup(group(s.id), name)
    try body
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(group(p.id), p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Attribute jobs of the foreign job group `g` to the innermost open span. */
  def alias(g: String): Unit = stack.headOption.foreach(s => groups.put(g, s.id))

  /** Wait for the listener bus, then stop listening. */
  def close(): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
  }

  /** Listen again after [[close]]. */
  def reopen(): Unit = sc.addSparkListener(listener)

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** Spark work of `s` and all its descendants. */
  def inclusive(s: Span): Counters = {
    val c = new Counters
    def add(x: Span): Unit = {
      Option(counters.get(x.id)).foreach(c += _)
      children(x).foreach(add)
    }
    add(s)
    c
  }

  def selfNs(s: Span): Long =
    Span.selfNs((s.startNs, s.endNs), children(s).map(c => (c.startNs, c.endNs)))

  def toJson: String = spans.map { s =>
    val c = inclusive(s)
    Json.obj(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "query" -> Option(s.query),
      "ms" -> s.durNs / 1e6, "self_ms" -> selfNs(s) / 1e6,
      "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks, "task_ms" -> c.taskMs,
      "cpu_ms" -> c.cpuMs, "gc_ms" -> c.gcMs, "shuffle_write_bytes" -> c.shuffleWriteBytes,
      "output_bytes" -> c.outputBytes)
  }.mkString("[", ",\n", "]")
}
