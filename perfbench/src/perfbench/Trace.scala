package perfbench

import scala.collection.mutable
import org.apache.spark.Success
import org.apache.spark.scheduler._

/** Work counted for one job group: one query in one phase. */
final class GroupStats {
  var jobs = 0
  var stages = 0
  var stagesRetried = 0
  var tasks = 0
  var tasksFailed = 0
  var taskMs = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  /** Per completed stage: the durations of its successful tasks. */
  val stageTaskMs = mutable.ArrayBuffer.empty[Seq[Long]]
}

/** Attributes Spark jobs, stages and tasks to the job group that was set on
  * the calling thread when the job started. The benchmark sets one group per
  * query and phase (`pb|<query>|construct`, `pb|<query>|execute`).
  */
final class GroupListener extends SparkListener {
  private val groups = mutable.HashMap.empty[String, GroupStats]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val stageTasks = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  private def stats(g: String): GroupStats = groups.getOrElseUpdate(g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("(none)")
    stats(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    if (e.stageInfo.attemptNumber() > 0)
      stageGroup.get(e.stageInfo.stageId).foreach(stats(_).stagesRetried += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val s = stats(g)
      s.tasks += 1
      if (e.reason != Success) s.tasksFailed += 1
      val m = e.taskMetrics
      if (m != null) {
        s.taskMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        if (e.reason == Success)
          stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
            m.executorRunTime
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageGroup.get(info.stageId).foreach { g =>
      val s = stats(g)
      s.stages += 1
      s.stageTaskMs += stageTasks.remove((info.stageId, info.attemptNumber()))
        .map(_.toSeq).getOrElse(Seq.empty)
    }
  }

  /** Stats of one group; the listener bus must have been drained first. */
  def group(g: String): GroupStats = synchronized(groups.getOrElse(g, new GroupStats))
}

/** One timed interval of one query, in epoch milliseconds. */
final case class Span(name: String, query: String, parent: Option[String],
    startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

object Span {
  /** Duration of `s` less the part of it that its children cover. */
  def selfMs(s: Span, children: Seq[Span]): Double = {
    val iv = children.map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) covered += curB - curA
    s.ms - covered
  }
}
