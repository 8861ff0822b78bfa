package layerbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Raw engine events of a traced pass, as delivered by the benchmark's own
  * listeners. Every record carries wall-clock epoch milliseconds so it can
  * be attributed to the step whose time window contains it: job groups are
  * not used, because streaming micro-batches run their jobs on the stream
  * thread, outside the caller's job group. */
final case class JobRec(id: Int, start: Long, var end: Long = -1L)
final case class StageRec(id: Int, submitted: Long, completed: Long)
final case class TaskRec(stage: Int, launch: Long, durationMs: Long, runMs: Long,
    cpuNs: Long, gcMs: Long, shuffleWrite: Long, shuffleRead: Long,
    spill: Long, recordsIn: Long, output: Long)
final case class PlanRec(start: Long, ms: Long)
final case class BatchRec(start: Long, triggerMs: Long, walMs: Long)

final class Trace(spark: SparkSession) {
  val jobs = ArrayBuffer[JobRec]()
  val stages = ArrayBuffer[StageRec]()
  val tasks = ArrayBuffer[TaskRec]()
  val plans = ArrayBuffer[PlanRec]()
  val batches = ArrayBuffer[BatchRec]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      jobs += JobRec(e.jobId, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        val i = e.stageInfo
        stages += StageRec(i.stageId, i.submissionTime.getOrElse(-1L),
          i.completionTime.getOrElse(-1L))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) tasks += TaskRec(e.stageId, info.launchTime, info.duration,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.diskBytesSpilled, m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten)
    }
  }

  private def planned(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) Trace.this.synchronized {
      plans += PlanRec(phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = planned(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = planned(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      Trace.this.synchronized { batches += BatchRec(start, ms("triggerExecution"), ms("walCommit")) }
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait for every posted event, then stop listening. */
  def detach(): Unit = {
    org.apache.spark.layerbench.Internals.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Engine-layer figures for the window [t0, t1] (epoch ms). */
  def window(t0: Long, t1: Long): Map[String, Double] = synchronized {
    def in(t: Long) = t >= t0 && t <= t1
    val js = jobs.filter(j => in(j.start))
    val stageIds = stages.filter(s => in(s.submitted)).map(_.id).toSet
    val ts = tasks.filter(t => in(t.launch))
    // union of job intervals, clipped to the window
    val busyMs = js.map(j => (j.start, if (j.end < 0) t1 else math.min(j.end, t1)))
      .sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((acc, reach), (a, b)) =>
        val lo = math.max(a, reach)
        if (b > lo) (acc + (b - lo), math.max(reach, b)) else (acc, reach)
      }._1
    val byStage = ts.groupBy(_.stage)
    val straggler = stages.filter(s => in(s.submitted) && s.completed > s.submitted)
      .flatMap(s => byStage.get(s.id).map(g => (g.map(_.durationMs).max, s.completed - s.submitted)))
      .maxByOption(_._1)
    val ps = plans.filter(p => in(p.start))
    val bs = batches.filter(b => in(b.start))
    val busyS = busyMs / 1e3
    val taskS = ts.map(_.runMs).sum / 1e3
    val mb = 1024.0 * 1024.0
    Map(
      "plan.ms" -> ps.map(_.ms).sum.toDouble,
      "driver.jobs" -> js.size.toDouble,
      "driver.stages" -> stageIds.size.toDouble,
      "driver.tasks" -> ts.size.toDouble,
      "driver.job_busy_s" -> busyS,
      "microbatch.batches" -> bs.size.toDouble,
      "microbatch.trigger_ms" -> bs.map(_.triggerMs).sum.toDouble,
      "microbatch.wal_ms" -> bs.map(_.walMs).sum.toDouble,
      "exec.task_s" -> taskS,
      "exec.cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "exec.gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "exec.longest_task_s" -> straggler.map(_._1 / 1e3).getOrElse(0.0),
      "exec.longest_task_stage_s" -> straggler.map(_._2 / 1e3).getOrElse(0.0),
      "exec.shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / mb,
      "exec.shuffle_read_mb" -> ts.map(_.shuffleRead).sum / mb,
      "exec.spill_mb" -> ts.map(_.spill).sum / mb,
      "exec.records_in" -> ts.map(_.recordsIn).sum.toDouble,
      "exec.output_mb" -> ts.map(_.output).sum / mb)
  }

  def jobsIn(t0: Long, t1: Long): Seq[JobRec] = synchronized {
    jobs.filter(j => j.start >= t0 && j.start <= t1).toSeq
  }
}
