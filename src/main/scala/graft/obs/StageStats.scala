package graft.obs

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.graft.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** The engine's stage listener: one [[StageStats.Stage]] per completed
  * stage, plus the job count. Every reader first drains the asynchronous
  * listener bus, so what it returns covers every job that finished before
  * the call; no caller has to guess with a sleep.
  */
final class StageStats private (sc: SparkContext) extends SparkListener {
  import StageStats.{Shuffle, Stage}

  // all callbacks run on the bus thread; readers lock the same monitor
  private val completed = mutable.ArrayBuffer.empty[Stage]
  private val durations = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private var jobCount = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobCount += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskInfo != null && e.taskInfo.successful)
      durations.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val m = si.taskMetrics
    val submitted = si.submissionTime.getOrElse(0L)
    completed += Stage(si.stageId, si.name.takeWhile(_ != '\n'), submitted,
      si.completionTime.getOrElse(0L) - submitted, si.numTasks,
      if (m == null) 0L else m.executorRunTime,
      if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      durations.remove(si.stageId).fold(Seq.empty[Long])(_.toSeq))
  }

  /** Blocks until every event posted so far has reached this listener. */
  private def drain(): Unit = BusDrain(sc)

  /** Forgets everything recorded so far. */
  def reset(): Unit = { drain(); synchronized { completed.clear(); durations.clear(); jobCount = 0 } }

  def jobs: Int = { drain(); synchronized(jobCount) }

  /** Completed stages in submission order. */
  def stages: Seq[Stage] = { drain(); synchronized(completed.toSeq) }.sortBy(_.submitted)

  /** Max over median successful-task duration of the stage with the largest
    * total task time, the stage a hot key would serialize; -1 when no
    * stage ran 4 or more tasks (the ratio means nothing on tiny stages).
    */
  def stragglerRatio: Double = {
    val heavy = stages.map(_.taskMs.sorted).filter(_.size >= 4)
    if (heavy.isEmpty) -1.0
    else {
      val durs = heavy.maxBy(_.sum)
      val median = durs(durs.size / 2).toDouble
      if (median > 0) durs.last / median else -1.0
    }
  }

  /** Shuffle bytes over every recorded stage, with the stage that wrote most. */
  def shuffle: Shuffle = {
    val all = { drain(); synchronized(completed.toSeq) }
    val writers = all.filter(_.shuffleWrite > 0)
    Shuffle(all.map(_.shuffleRead).sum, all.map(_.shuffleWrite).sum,
      if (writers.isEmpty) None else Some(writers.maxBy(_.shuffleWrite)))
  }
}

object StageStats {

  /** One completed stage: `wallMs` from submission to completion,
    * `runTimeMs` the summed executor run time of its tasks, `taskMs` the
    * durations of its successful tasks.
    */
  final case class Stage(id: Int, name: String, submitted: Long, wallMs: Long, tasks: Int,
      runTimeMs: Long, shuffleRead: Long, shuffleWrite: Long, taskMs: Seq[Long])

  final case class Shuffle(readBytes: Long, writeBytes: Long, peak: Option[Stage])

  /** Registers a new listener on `sc` after draining the bus, so no event of
    * an earlier job reaches it.
    */
  def attach(sc: SparkContext): StageStats = {
    BusDrain(sc)
    val s = new StageStats(sc)
    sc.addSparkListener(s)
    s
  }
}
