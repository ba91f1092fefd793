package lshbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success => TaskSuccess}
import org.apache.spark.scheduler._

/** One recorded span: a call into a layer, timed from the benchmark. */
final case class Span(id: Int, name: String, parent: Int, batch: Int,
                      startMs: Long, endMs: Long, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark task counters of one span, read from the [[ExecListener]]. */
final case class Exec(jobs: Int, stages: Int, tasks: Int, taskBusyS: Double,
                      driverGapS: Double, gcS: Double, shuffleWriteMb: Double,
                      shuffleReadMb: Double, inputMb: Double, outputMb: Double,
                      spillMb: Double, failedTasks: Int) {
  /** The reported counters by metric name (output bytes are used for
    * write amplification only). */
  def fields: Seq[(String, Double)] = Seq(
    "jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
    "task_busy_s" -> taskBusyS, "driver_gap_s" -> driverGapS, "gc_s" -> gcS,
    "shuffle_write_mb" -> shuffleWriteMb, "shuffle_read_mb" -> shuffleReadMb,
    "input_mb" -> inputMb, "spill_mb" -> spillMb,
    "failed_tasks" -> failedTasks.toDouble)
}

object Exec {
  val Names: Seq[String] = Exec(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0).fields.map(_._1)
  def unit(name: String): String = name match {
    case "jobs" | "stages" | "tasks" | "failed_tasks" => "count"
    case x if x.endsWith("_mb") => "MB"
    case _ => "s"
  }
}

/** Spans kept in memory and written out when the run ends. With tracing
  * off, [[apply]] only runs the body: no job group, no record. With
  * tracing on, each span sets a Spark job group of its own for its
  * duration, so [[ExecListener]] can attribute every task to it. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  val listener = new ExecListener
  if (enabled) sc.addSparkListener(listener)

  def apply[T](name: String, batch: Int = -1)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val outerGroup = Option(sc.getLocalProperty(Tracer.JobGroupKey))
      sc.setJobGroup(Tracer.group(id), name)
      stack = id :: stack
      val ms0 = System.currentTimeMillis(); val ns0 = System.nanoTime()
      try body
      finally {
        val ns1 = System.nanoTime(); val ms1 = System.currentTimeMillis()
        stack = stack.tail
        outerGroup match {
          case Some(g) => sc.setJobGroup(g, "")
          case None => sc.clearJobGroup()
        }
        spans += Span(id, name, parent, batch, ms0, ms1, ns0, ns1)
      }
    }

  def all: Seq[Span] = spans.toSeq
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** A span's duration minus the part of it its child spans cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(c => (c.startNs, c.endNs))
    s.seconds - Tracer.covered(kids.toSeq, s.startNs, s.endNs) / 1e9
  }

  /** Task counters of a span and every span under it. Call [[drain]]
    * first. */
  def exec(s: Span): Exec = {
    def subtree(id: Int): Seq[Int] =
      id +: spans.filter(_.parent == id).toSeq.flatMap(c => subtree(c.id))
    listener.exec(subtree(s.id).map(Tracer.group).toSet,
      s.startMs, s.endMs)
  }

  def drain(): Unit = if (enabled) org.apache.spark.LshBenchShim.drainListeners(sc)
}

object Tracer {
  /** The local property Spark stores the job group under. */
  val JobGroupKey = "spark.jobGroup.id"
  def group(spanId: Int): String = s"lshbench-span-$spanId"

  /** Length of the union of `[a, b)` intervals clipped to `[lo, hi)`. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = Long.MinValue; var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}

private final case class TaskRec(group: String, launchMs: Long, finishMs: Long,
                                 runMs: Long, gcMs: Long, shuffleWrite: Long,
                                 shuffleRead: Long, input: Long, output: Long,
                                 spill: Long, failed: Boolean)

/** Collects job, stage and task events by job group. */
final class ExecListener extends SparkListener {

  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobs = new ConcurrentHashMap[String, Integer]()
  private val stages = new ConcurrentHashMap[String, Integer]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()

  private def bump(m: ConcurrentHashMap[String, Integer], g: String): Unit =
    m.merge(g, 1, (a: Integer, b: Integer) => Integer.valueOf(a + b))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.JobGroupKey))).getOrElse("")
    bump(jobs, g)
    e.stageInfos.foreach(s => stageGroup.putIfAbsent(s.stageId, g))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach(bump(stages, _))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = Option(stageGroup.get(e.stageId)).getOrElse("")
    val m = e.taskMetrics
    val info = e.taskInfo
    val failed = e.reason != TaskSuccess
    if (m == null)
      tasks.add(TaskRec(g, info.launchTime, info.finishTime, 0, 0, 0, 0, 0, 0, 0, failed))
    else
      tasks.add(TaskRec(g, info.launchTime, info.finishTime, m.executorRunTime,
        m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
        m.diskBytesSpilled, failed))
  }

  def exec(groups: Set[String], startMs: Long, endMs: Long): Exec = {
    val ts = tasks.asScala.filter(t => groups(t.group)).toSeq
    val mb = 1e6
    val busyMs = Tracer.covered(ts.map(t => (t.launchMs, t.finishMs)), startMs, endMs)
    Exec(
      jobs = groups.toSeq.map(g => Option(jobs.get(g)).map(_.intValue).getOrElse(0)).sum,
      stages = groups.toSeq.map(g => Option(stages.get(g)).map(_.intValue).getOrElse(0)).sum,
      tasks = ts.size,
      taskBusyS = ts.map(_.runMs).sum / 1e3,
      driverGapS = math.max(0L, endMs - startMs - busyMs) / 1e3,
      gcS = ts.map(_.gcMs).sum / 1e3,
      shuffleWriteMb = ts.map(_.shuffleWrite).sum / mb,
      shuffleReadMb = ts.map(_.shuffleRead).sum / mb,
      inputMb = ts.map(_.input).sum / mb,
      outputMb = ts.map(_.output).sum / mb,
      spillMb = ts.map(_.spill).sum / mb,
      failedTasks = ts.count(_.failed))
  }
}
