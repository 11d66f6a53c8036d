package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Scheduler and task counts, recorded raw from listener events and
  * assigned to spans only when the run ends. */
final class Probe extends SparkListener {
  import Probe._

  val jobs = new ConcurrentLinkedQueue[Job]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val tasks = new ConcurrentLinkedQueue[Task]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.add(Job(e.jobId,
      Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull,
      e.time, e.stageIds))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    // the largest SQL "number of output rows" any operator of the stage
    // reported: the row volume the stage pushed through
    val rows = i.accumulables.values.iterator
      .filter(_.name.contains("number of output rows"))
      .flatMap(_.value).collect { case v: java.lang.Long => v.longValue }
      .foldLeft(0L)(math.max)
    stages.add(Stage(i.stageId, i.submissionTime.getOrElse(0L),
      i.completionTime.getOrElse(0L), rows))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(e.stageId, e.taskInfo.duration, m.executorRunTime,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  /** Block until the listener bus has delivered every posted event. The bus
    * is not public API, so it is reached reflectively; without it the
    * sleep below still lets a quiet bus drain. */
  def drain(sc: SparkContext): Unit =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case _: ReflectiveOperationException => Thread.sleep(500) }
}

object Probe {
  final case class Job(id: Int, group: String, timeMs: Long, stageIds: Seq[Int])
  final case class Stage(id: Int, submitMs: Long, doneMs: Long, maxOutputRows: Long)
  final case class Task(stageId: Int, durMs: Long, runMs: Long, shuffleWrite: Long, spill: Long)
}

/** One timed call at a layer boundary. `run` groups the spans of one
  * iteration; times are monotonic nanoseconds, with the wall-clock
  * milliseconds kept for matching listener events. */
final class Span(val id: Int, val parent: Int, val name: String, val run: String,
                 val startNs: Long, val startMs: Long) {
  var endNs: Long = startNs
  var endMs: Long = startMs
  val attrs = mutable.LinkedHashMap.empty[String, Double]
}

/** Spans kept in memory, written as JSONL when the run ends. Each span
  * tags the jobs it submits with its own job group, so listener counts
  * land in the span that caused them. */
final class Tracer(sc: SparkContext, probe: Probe) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private val nanos0 = System.nanoTime()
  private val millis0 = System.currentTimeMillis()
  private def nowMs(ns: Long) = millis0 + (ns - nanos0) / 1000000L

  def span[T](name: String, run: String)(body: => T): T = {
    val ns = System.nanoTime()
    val s = new Span(spans.length, stack.headOption.map(_.id).getOrElse(-1), name, run, ns, nowMs(ns))
    spans += s
    stack.push(s)
    sc.setJobGroup(s"perfbench-${s.id}", name)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = nowMs(s.endNs)
      stack.pop()
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"perfbench-${p.id}", p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Attach a measured value to the innermost open span. */
  def attr(k: String, v: Double): Unit = stack.head.attrs(k) = v

  /** The span a job belongs to: the one named by its job group when that
    * span was open at submission, else the innermost span open then (jobs
    * submitted from pooled threads can carry a stale inherited group). */
  private def owner(j: Probe.Job): Option[Span] = {
    val byGroup = Option(j.group).filter(_.startsWith("perfbench-"))
      .flatMap(g => g.stripPrefix("perfbench-").toIntOption).map(spans)
      .filter(s => j.timeMs >= s.startMs - 1 && j.timeMs <= s.endMs + 1)
    byGroup.orElse(spans.filter(s => j.timeMs >= s.startMs && j.timeMs <= s.endMs)
      .maxByOption(_.startNs))
  }

  /** Per-span counters from the listener events (self only: a job counts in
    * the span that submitted it, not in its ancestors). */
  def counters(): Map[Int, Map[String, Double]] = {
    probe.drain(sc)
    val stageOwner = mutable.HashMap.empty[Int, Span]
    val jobsBySpan = mutable.HashMap.empty[Int, Int].withDefaultValue(0)
    for (j <- probe.jobs.asScala; s <- owner(j)) {
      jobsBySpan(s.id) += 1
      j.stageIds.foreach(st => stageOwner.getOrElseUpdate(st, s))
    }
    val tasksBySpan = probe.tasks.asScala.groupBy(t => stageOwner.get(t.stageId).map(_.id))
    val stagesBySpan = probe.stages.asScala.groupBy(st => stageOwner.get(st.id).map(_.id))
    spans.map { s =>
      val ts = tasksBySpan.getOrElse(Some(s.id), Nil).toSeq
      val sts = stagesBySpan.getOrElse(Some(s.id), Nil).toSeq
      // skew of the stage that used the most task time: max / median task
      val skew = ts.groupBy(_.stageId).values.filter(_.size > 1)
        .maxByOption(_.map(_.durMs).sum).map { g =>
          val d = g.map(_.durMs).sorted
          d.last.toDouble / math.max(1L, d(d.size / 2))
        }.getOrElse(1.0)
      s.id -> Map(
        "jobs" -> jobsBySpan(s.id).toDouble,
        "stages" -> sts.size.toDouble,
        "executor_run_ms" -> ts.map(_.runMs).sum.toDouble,
        "shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
        "spill_bytes" -> ts.map(_.spill).sum.toDouble,
        "max_output_rows" -> sts.map(_.maxOutputRows).foldLeft(0L)(math.max).toDouble,
        "task_skew" -> skew,
        "stage_busy_ms" -> Tracer.unionMs(sts.map(st =>
          (math.max(st.submitMs, s.startMs), math.min(st.doneMs, s.endMs)))).toDouble)
    }.toMap
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val cs = counters()
    def obj(m: collection.Map[String, Double]) =
      m.map { case (k, v) => s""""$k": ${Json.num(v)}""" }.mkString("{", ", ", "}")
    val lines = spans.map { s =>
      s"""{"run": "${s.run}", "id": ${s.id}, "parent": ${if (s.parent < 0) "null" else s.parent}, """ +
        s""""name": "${s.name}", "start_ns": ${s.startNs - nanos0}, "end_ns": ${s.endNs - nanos0}, """ +
        s""""counters": ${obj(cs(s.id))}, "attrs": ${obj(s.attrs)}}"""
    }
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Tracer {
  /** Total length covered by a set of [start, end) intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.filter(p => p._2 > p._1).sortBy(_._1)) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** JVM-wide collector time (driver and local executors share the JVM). */
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
