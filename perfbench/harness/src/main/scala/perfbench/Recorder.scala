package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Counts the work Spark does, from outside the engine.
  *
  * Always on: per-execution totals of task CPU and GC time, and task
  * counts, which the end-to-end `cpu_s` needs. With `detail` set (the traced
  * phase only) it also writes one record per task, job, stage and stream
  * trigger, from which `metrics.py` derives the per-layer metrics.
  *
  * Events are tagged with the execution running when they are handled.
  * That is right only because [[Main]] drains the listener bus before it
  * moves to the next execution. */
final class Recorder(out: Record) extends SparkListener {
  @volatile var tag: String = "setup"
  @volatile var detail: Boolean = false

  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val tasks = new AtomicLong
  val failedTasks = new AtomicLong

  def reset(): Unit = Seq(cpuNs, gcMs, tasks, failedTasks).foreach(_.set(0L))

  private val jobOfStage = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    e.stageIds.foreach(s => jobOfStage.put(s, e.jobId))
    if (detail) {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      out.write("job_start", tag, "job" -> e.jobId, "t" -> e.time,
        "desc" -> desc)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (detail) out.write("job_end", tag, "job" -> e.jobId, "t" -> e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (detail) out.write("stage", tag, "stage" -> e.stageInfo.stageId)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = Option(e.taskMetrics)
    val cpu = m.map(_.executorCpuTime).getOrElse(0L)
    val gc = m.map(_.jvmGCTime).getOrElse(0L)
    cpuNs.addAndGet(cpu)
    gcMs.addAndGet(gc)
    tasks.incrementAndGet()
    if (e.taskInfo.failed) failedTasks.incrementAndGet()
    if (detail) out.write("task", tag,
      "job" -> Option(jobOfStage.get(e.stageId)).getOrElse(-1),
      "t0" -> e.taskInfo.launchTime, "t1" -> e.taskInfo.finishTime,
      "cpu_ns" -> cpu, "gc_ms" -> gc,
      "shuffle_w" -> m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      "spill" -> m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled)
        .getOrElse(0L))
  }

  /** Stream triggers: durations by phase and the state operators' progress. */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = if (detail) {
      val p = e.progress
      def d(k: String): Long =
        Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val ops = p.stateOperators.toSeq
      out.write("trigger", tag,
        "batch" -> p.batchId,
        "t0" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "ms" -> p.batchDuration,
        "add_batch_ms" -> d("addBatch"),
        "offsets_ms" -> (d("latestOffset") + d("getBatch") +
          d("commitOffsets")),
        "planning_ms" -> d("queryPlanning"),
        "wal_ms" -> d("walCommit"),
        "state_rows_total" -> ops.map(_.numRowsTotal).sum,
        "state_rows_updated" -> ops.map(_.numRowsUpdated).sum,
        "state_commit_ms" -> ops.map(_.commitTimeMs).sum,
        "state_memory_bytes" -> ops.map(_.memoryUsedBytes).sum,
        "state_stores" -> ops.map(_.numStateStoreInstances.toLong).sum,
        "rows_dropped_late" -> ops.map(_.numRowsDroppedByWatermark).sum)
    }
  }
}
