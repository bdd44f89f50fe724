package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark's own counters behind each span.
  *
  * A `SparkListener` records every job with the job group it ran under
  * (the benchmark sets one group per span; a streaming query runs its
  * batches under its run id), and folds task metrics into per-stage
  * totals. A `StreamingQueryListener` records each micro-batch's progress,
  * keyed by the same run id. SQL executions are recorded with whether their
  * plan reads the display timeline (has a `tsec` column), so the actions
  * `App.refresh` runs on it can be counted from outside. Everything is kept in memory and rendered by
  * [[toJson]] once the run is over.
  */
final class Counters extends SparkListener {

  private final class Job(val id: Int, val group: String, val submitMs: Long,
                          val stages: Seq[Int]) {
    var endMs: Long = -1L
  }

  private final class Stage {
    var tasks = 0
    var runMs = 0L
    var maxTaskMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var peakMem = 0L
  }

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stages = mutable.Map[Int, Stage]()
  private val sql = mutable.ArrayBuffer[Map[String, Any]]()
  private val batches = mutable.ArrayBuffer[Map[String, Any]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs(e.jobId) = new Job(e.jobId, group, e.time, e.stageIds)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val st = stages.getOrElseUpdate(e.stageId, new Stage)
      st.tasks += 1
      st.runMs += m.executorRunTime
      st.maxTaskMs = math.max(st.maxTaskMs, m.executorRunTime)
      st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      st.peakMem = math.max(st.peakMem, m.peakExecutionMemory)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      sql += Map("id" -> s.executionId, "time_ms" -> s.time,
        "description" -> s.description,
        "timeline" -> s.physicalPlanDescription.contains("tsec"))
    }
    case _ =>
  }

  /** The micro-batch side, registered with `spark.streams.addListener`. */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Counters.this.synchronized {
        val p = e.progress
        val d = p.durationMs
        def dur(k: String): Long = if (d.containsKey(k)) d.get(k).longValue else 0L
        batches += Map("group" -> p.runId.toString, "batch" -> p.batchId,
          "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
          "trigger_ms" -> dur("triggerExecution"), "add_batch_ms" -> dur("addBatch"),
          "input_rows" -> p.numInputRows)
      }
  }

  /** Jobs seen so far, and how many of them have ended. */
  def jobCounts: (Int, Int) = synchronized((jobs.size, jobs.values.count(_.endMs >= 0)))

  def toJson: Map[String, Any] = synchronized {
    val perJob = stages.groupBy { case (s, _) => stageJob.getOrElse(s, -1) }
    Map(
      "jobs" -> jobs.values.map { j =>
        val st = perJob.getOrElse(j.id, Map.empty).values
        Map("id" -> j.id, "group" -> j.group, "submit_ms" -> j.submitMs,
          "end_ms" -> j.endMs, "tasks" -> st.map(_.tasks).sum,
          "run_ms" -> st.map(_.runMs).sum,
          "max_task_ms" -> (if (st.isEmpty) 0L else st.map(_.maxTaskMs).max),
          "shuffle_read" -> st.map(_.shuffleRead).sum,
          "shuffle_write" -> st.map(_.shuffleWrite).sum,
          "spill" -> st.map(_.spill).sum,
          "peak_mem" -> (if (st.isEmpty) 0L else st.map(_.peakMem).max))
      }.toSeq,
      "sql" -> sql.toSeq,
      "batches" -> batches.toSeq)
  }
}
