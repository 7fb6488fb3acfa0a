package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Benchmark-registered SparkListener: every job and stage with its wall
  * interval, and task metrics summed per stage. Per-cycle counts are taken
  * afterwards by attributing stages to cycle intervals, so they do not
  * depend on when the asynchronous listener bus delivers an event. */
final class Counters extends SparkListener {
  import Counters._

  private val stages = mutable.ArrayBuffer.empty[Stage]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val sums = mutable.Map.empty[Int, TaskSums]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // a job's result stage has the highest id of its stages; its details
    // are the long call site of the action that started the job
    val result = e.stageInfos.sortBy(_.stageId).lastOption
    jobs(e.jobId) = Job(e.jobId, Clock.fromEpochMs(e.time), Long.MaxValue,
      result.map(_.stageId).getOrElse(-1), result.map(_.details).getOrElse(""))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endNs = Clock.fromEpochMs(e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime)
      stages += Stage(i.stageId, i.name, Clock.fromEpochMs(s), Clock.fromEpochMs(c), i.numTasks,
        // the polling source's scans run in a DataSourceRDD over JDBC
        i.rddInfos.exists(_.name.contains("DataSourceRDD")))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = sums.getOrElseUpdate(e.stageId, TaskSums())
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.deserializeMs += m.executorDeserializeTime
      s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead
      s.shuffleRecords += m.shuffleReadMetrics.recordsRead
      s.recordsRead += m.inputMetrics.recordsRead
    }
  }

  /** Stages that started inside `[startNs, endNs]`. */
  def stagesIn(startNs: Long, endNs: Long): Seq[Stage] =
    synchronized(stages.filter(s => s.startNs >= startNs && s.startNs <= endNs).toList)

  /** Jobs that started inside `[startNs, endNs]`. */
  def jobsIn(startNs: Long, endNs: Long): Seq[Job] =
    synchronized(jobs.values.filter(j => j.startNs >= startNs && j.startNs <= endNs).toList)

  /** Tasks of the result stages of `js`. */
  def resultTasks(js: Seq[Job]): Int = synchronized {
    val ids = js.map(_.resultStage).toSet
    stages.filter(s => ids.contains(s.id)).map(_.tasks).sum
  }

  def taskSums(stageIds: Iterable[Int]): TaskSums = synchronized {
    val t = TaskSums()
    stageIds.flatMap(sums.get).foreach { s =>
      t.runMs += s.runMs; t.cpuNs += s.cpuNs
      t.deserializeMs += s.deserializeMs; t.shuffleBytes += s.shuffleBytes
      t.shuffleRecords += s.shuffleRecords; t.recordsRead += s.recordsRead
    }
    t
  }
}

object Counters {
  final case class Stage(id: Int, name: String, startNs: Long, endNs: Long,
                         tasks: Int, scansJdbc: Boolean)
  /** `site` is the long call site (a stack trace) of the job's action. */
  final case class Job(id: Int, startNs: Long, endNs: Long, resultStage: Int, site: String)
  final case class TaskSums(var runMs: Long = 0, var cpuNs: Long = 0,
                            var deserializeMs: Long = 0, var shuffleBytes: Long = 0,
                            var shuffleRecords: Long = 0, var recordsRead: Long = 0)

  def register(sc: SparkContext): Counters = {
    val c = new Counters
    sc.addSparkListener(c)
    c
  }
}
