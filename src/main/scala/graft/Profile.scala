package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.bridge

/** The Spark work one piece of driver code executed: every job
  * submitted under the job group [[Profile.apply]] sets for it, and the
  * stages and tasks of those jobs. Counts, bytes and memory depend on
  * the plan and the data, not on the host's speed, which is what makes
  * them fit to gate on where wall time is not.
  *
  * @param jobs          jobs submitted (eager construction jobs included)
  * @param stages        stages that ran (first attempts; skipped stages
  *                      never run and are not counted)
  * @param oneTaskStages stages that ran as a single task
  * @param shuffleStages shuffle-map stages (the stages that write a shuffle)
  * @param taskCpuS      executor CPU seconds summed over all tasks
  * @param shuffleBytes  shuffle-write bytes summed over all tasks
  * @param peakMem       largest peak execution memory of one task
  * @param stageNames    the stages' call-site names, in submission order
  */
final case class Profile(jobs: Int, stages: Int, oneTaskStages: Int, shuffleStages: Int,
    taskCpuS: Double, shuffleBytes: Long, peakMem: Long, stageNames: Seq[String])

object Profile {

  /** Runs `body` under a fresh job group and returns its result with
    * the work of every job submitted under that group. Spark carries
    * the group to the threads it runs a query's broadcasts and
    * subqueries on, so their jobs count; a job another thread submits
    * at the same time does not. Task-end events post asynchronously,
    * so the listener bus is drained before the counts are read.
    * Profiles do not nest: the inner one would replace the outer
    * one's group.
    */
  def apply[T](spark: SparkSession)(body: => T): (T, Profile) = {
    val sc = spark.sparkContext
    val group = s"graft-profile-${java.util.UUID.randomUUID()}"
    val counter = new Counter(group)
    sc.addSparkListener(counter)
    sc.setJobGroup(group, "graft.Profile")
    try {
      val out = body
      bridge.drainListenerBus(sc, 60000L)
      (out, counter.profile)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(counter)
    }
  }

  /** Called on the bus thread, read on the caller's: all synchronized. */
  private final class Counter(group: String) extends SparkListener {
    private var jobs, stages, oneTaskStages, shuffleStages = 0
    private var taskCpuNs, shuffleBytes, peakMem = 0L
    private val names = Seq.newBuilder[String]
    private val ours = scala.collection.mutable.Set.empty[Int]

    private def inGroup(p: java.util.Properties): Boolean =
      p != null && p.getProperty("spark.jobGroup.id") == group

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (inGroup(e.properties)) jobs += 1
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val si = e.stageInfo
      if (inGroup(e.properties) && si.attemptNumber() == 0) {
        ours += si.stageId
        stages += 1
        if (si.numTasks == 1) oneTaskStages += 1
        if (bridge.isShuffleMapStage(si)) shuffleStages += 1
        names += si.name
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null && ours(e.stageId)) {
        taskCpuNs += m.executorCpuTime
        shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        peakMem = math.max(peakMem, m.peakExecutionMemory)
      }
    }

    def profile: Profile = synchronized {
      Profile(jobs, stages, oneTaskStages, shuffleStages, taskCpuNs / 1e9,
        shuffleBytes, peakMem, names.result())
    }
  }
}
