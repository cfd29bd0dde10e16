package kgbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One traced call: wall-clock bounds in epoch ms (to line up with Spark's
  * task timestamps) plus nanoTime bounds for the duration itself.
  */
final case class Span(id: Int, name: String, parent: Int, run: String,
    startMs: Long, startNs: Long, var endMs: Long = 0L, var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder for the single client thread. Spans nest by
  * call structure; nothing is written until [[jsonLines]] is asked for.
  */
final class Tracer(val runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil

  def span[A](name: String)(f: => A): A = {
    val s = Span(spans.length, name, open.headOption.map(_.id).getOrElse(-1), runId,
      System.currentTimeMillis(), System.nanoTime())
    spans += s
    open = s :: open
    try f
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      open = open.tail
    }
  }

  def all: Seq[Span] = spans.toSeq

  def named(name: String): Span = spans.findLast(_.name == name)
    .getOrElse(throw new NoSuchElementException(s"no span $name"))

  /** Duration minus the time covered by direct children (children of one
    * thread never overlap, so their durations add).
    */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  def jsonLines: Seq[String] = spans.toSeq.map { s =>
    Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.run,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "seconds" -> s.seconds,
      "self_seconds" -> selfSeconds(s)))
  }
}

final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long, runMs: Long,
    cpuNs: Long, gcMs: Long, shuffleWriteBytes: Long, spillBytes: Long)

/** The benchmark's own listener: every finished task and every job start,
  * kept raw so they can be attributed to spans by time window afterwards.
  */
final class EngineListener extends SparkListener {
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  // (jobId, submission ms, stage ids)
  private val jobs = new ConcurrentLinkedQueue[(Int, Long, Seq[Int])]()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null)
      tasks.add(TaskRec(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled + m.memoryBytesSpilled))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.add((e.jobId, e.time, e.stageIds))

  /** Engine totals for the tasks that finished and jobs that started inside
    * `[fromMs, toMs]`.
    */
  def window(sc: SparkContext, fromMs: Long, toMs: Long): Window = {
    org.apache.spark.ListenerDrain(sc)
    val ts = tasks.asScala.filter(t => t.finishMs >= fromMs && t.finishMs <= toMs).toSeq
    val js = jobs.asScala.filter(j => j._2 >= fromMs && j._2 <= toMs).toSeq
    Window(ts, js.map(j => (j._2, j._3)), (toMs - fromMs) / 1e3)
  }
}

final case class Window(tasks: Seq[TaskRec], jobs: Seq[(Long, Seq[Int])], wallS: Double) {
  def cpuS: Double = tasks.map(_.cpuNs).sum / 1e9
  def runS: Double = tasks.map(_.runMs).sum / 1e3
  def gcS: Double = tasks.map(_.gcMs).sum / 1e3
  def shuffleWriteBytes: Long = tasks.map(_.shuffleWriteBytes).sum
  def spillBytes: Long = tasks.map(_.spillBytes).sum

  /** Slowest over median task run time, in the Spark stage that spent the
    * most task time in this window (mixing stages would compare a
    * one-task final aggregate with a wide scan).
    */
  def taskSkew: Double =
    if (tasks.isEmpty) 0.0
    else {
      val heaviest = tasks.groupBy(_.stageId).values.maxBy(_.map(_.runMs).sum)
      val rs = heaviest.map(_.runMs.toDouble).sorted
      rs.last / math.max(Stats.median(rs), 1.0)
    }

  /** Mean delay from a job's submission to its first task launch. */
  def firstTaskDelayS: Double = {
    val byStage = tasks.groupBy(_.stageId).view.mapValues(_.map(_.launchMs).min).toMap
    val delays = jobs.flatMap { case (submitted, stages) =>
      val firsts = stages.flatMap(byStage.get)
      if (firsts.isEmpty) None else Some((firsts.min - submitted) / 1e3)
    }
    if (delays.isEmpty) 0.0 else delays.sum / delays.length
  }

  def busyFrac(cores: Int): Double = if (wallS <= 0) 0.0 else runS / (wallS * cores)
}
