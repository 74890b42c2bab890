package runbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Task metrics summed per stage key. Jobs are attributed by the job
  * group the traced replay sets around each stage (`setJobGroup(key)`);
  * jobs outside any group land under "untagged".
  */
final class StageMetrics extends SparkListener {

  final class Group {
    var shuffleBytes = 0L
    var spillBytes = 0L
    var tasks = 0L
    val taskMsByStage = mutable.Map[Int, mutable.ArrayBuffer[Long]]()

    /** max/median task time of the group's busiest Spark stage. */
    def skew: Double =
      if (taskMsByStage.isEmpty) 1.0
      else {
        val busiest = taskMsByStage.values.maxBy(_.sum)
        val med = Stats.median(busiest.map(_.toDouble).toSeq)
        busiest.max / math.max(med, 1.0)
      }
  }

  private val stageGroup = mutable.Map[Int, String]()
  private val groups = mutable.Map[String, Group]()
  private var jobCount = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("untagged")
    e.stageIds.foreach(stageGroup(_) = g)
    jobCount += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = groups.getOrElseUpdate(stageGroup.getOrElse(e.stageId, "untagged"), new Group)
    g.tasks += 1
    g.taskMsByStage.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      g.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      g.spillBytes += m.diskBytesSpilled
    }
  }

  def reset(): Unit = synchronized {
    groups.clear(); jobCount = 0L
  }

  /** Per-group figures and totals accumulated since [[reset]]. */
  def snapshot(): (Map[String, (Long, Double)], Long, Long, Long) = synchronized {
    (groups.map { case (k, g) => k -> (g.shuffleBytes, g.skew) }.toMap,
     jobCount, groups.values.map(_.tasks).sum, groups.values.map(_.spillBytes).sum)
  }
}
