package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One job of an op: its description (or call site), wall time and tasks. */
final case class JobRecord(desc: String, wallS: Double, tasks: Long) {
  def json: String =
    f"""{"desc":${OpRecord.quote(desc)},"wall_s":$wallS%.3f,"tasks":$tasks}"""
}

/** One stream trigger: its duration by phase, the rows its sources
  * admitted, and its state operators' progress, summed over the
  * trigger's stateful operators. */
final case class TriggerRecord(query: String, batch: Long, ms: Long,
    addBatchMs: Long, offsetsMs: Long, planningMs: Long, walMs: Long,
    inputRows: Long, stateRowsTotal: Long, stateRowsUpdated: Long,
    stateCommitMs: Long, stateMemoryBytes: Long, stateStores: Long,
    rowsDroppedLate: Long) {
  def json: String =
    s"""{"query":${OpRecord.quote(query)},"batch":$batch,"ms":$ms,""" +
      s""""add_batch_ms":$addBatchMs,"offsets_ms":$offsetsMs,""" +
      s""""planning_ms":$planningMs,"wal_ms":$walMs,""" +
      s""""input_rows":$inputRows,""" +
      s""""state_rows_total":$stateRowsTotal,""" +
      s""""state_rows_updated":$stateRowsUpdated,""" +
      s""""state_commit_ms":$stateCommitMs,""" +
      s""""state_memory_bytes":$stateMemoryBytes,"state_stores":$stateStores,""" +
      s""""rows_dropped_late":$rowsDroppedLate}"""
}

/** Where one op's seconds went: wall time, task CPU and GC, the jobs,
  * stages and tasks it ran, their shuffle and spill bytes, its longest
  * jobs and one entry per stream trigger. The keys are the benchmark's
  * per-layer metric names. */
final case class OpRecord(wallS: Double, cpuS: Double, gcS: Double,
    jobs: Long, stages: Long, tasks: Long, taskFailures: Long,
    shuffleBytes: Long, spillBytes: Long, taskMsSum: Long, taskMsMax: Long,
    topJobs: Seq[JobRecord], triggers: Seq[TriggerRecord]) {
  def json: String =
    f"""{"wall_s":$wallS%.3f,"cpu_s":$cpuS%.3f,"spark.gc_s":$gcS%.3f,""" +
      s""""spark.jobs":$jobs,"spark.stages":$stages,"spark.tasks":$tasks,""" +
      s""""spark.task_failures":$taskFailures,""" +
      s""""spark.shuffle_bytes":$shuffleBytes,"spark.spill_bytes":$spillBytes,""" +
      s""""task_ms_sum":$taskMsSum,"task_ms_max":$taskMsMax,""" +
      s""""top_jobs":${topJobs.map(_.json).mkString("[", ",", "]")},""" +
      s""""triggers":${triggers.map(_.json).mkString("[", ",", "]")}}"""
}

object OpRecord {
  /** A JSON string literal: quote, backslash and every control character
    * escaped. */
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** The one listener of the dev mains: a `SparkListener` plus a
  * `StreamingQueryListener`, attached once per session with [[OpRecorder.attach]]
  * and removed with [[detach]].
  *
  * [[measure]] runs one op and returns its [[OpRecord]]. The listener bus
  * is asynchronous, so a job's last task-end events and a stream's last
  * progress event can arrive after the action returned; `measure` drains
  * the bus before it resets the counters and again after the op, so a
  * record holds exactly the events its op caused. */
final class OpRecorder private (spark: SparkSession) extends SparkListener {
  private val sc = spark.sparkContext

  private final class Job(val desc: String, val start: Long) {
    @volatile var end: Long = -1L
    val tasks = new AtomicLong
  }

  private val cpuNs, gcMs, stages, tasks, failures, shuffle, spill,
    taskMsSum, taskMsMax = new AtomicLong
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val jobOfStage = new ConcurrentHashMap[Int, Int]()
  private val triggers = new ConcurrentLinkedQueue[TriggerRecord]()

  private def reset(): Unit = {
    Seq(cpuNs, gcMs, stages, tasks, failures, shuffle, spill, taskMsSum,
      taskMsMax).foreach(_.set(0L))
    jobs.clear(); jobOfStage.clear(); triggers.clear()
  }

  /** Runs `body` and returns its value with the record of what it ran. */
  def measure[A](body: => A): (A, OpRecord) = {
    ListenerBusDrain(sc)
    reset()
    val t0 = System.nanoTime()
    val a = body
    val wall = (System.nanoTime() - t0) / 1e9
    ListenerBusDrain(sc)
    val now = System.currentTimeMillis
    val js = jobs.values.asScala.toSeq.map { j =>
      JobRecord(j.desc, ((if (j.end >= 0) j.end else now) - j.start) / 1e3,
        j.tasks.get)
    }
    (a, OpRecord(wall, cpuNs.get / 1e9, gcMs.get / 1e3, js.size,
      stages.get, tasks.get, failures.get, shuffle.get, spill.get,
      taskMsSum.get, taskMsMax.get, js.sortBy(-_.wallS).take(3),
      triggers.asScala.toSeq))
  }

  /** Stops listening: removes both listeners [[OpRecorder.attach]] added. */
  def detach(): Unit = {
    sc.removeSparkListener(this)
    spark.streams.removeListener(streams)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    e.stageIds.foreach(s => jobOfStage.put(s, e.jobId))
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description")))
      .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name))
      .getOrElse("?")
    jobs.put(e.jobId, new Job(desc.takeWhile(_ != '\n'), e.time)): Unit
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet(): Unit

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    Option(e.taskMetrics).foreach { m =>
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    val ms = e.taskInfo.duration
    taskMsSum.addAndGet(ms)
    taskMsMax.accumulateAndGet(ms, math.max)
    tasks.incrementAndGet()
    if (e.taskInfo.failed) failures.incrementAndGet()
    Option(jobOfStage.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
      .foreach(_.tasks.incrementAndGet())
  }

  private val streams: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Long =
        Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val ops = p.stateOperators.toSeq
      triggers.add(TriggerRecord(Option(p.name).getOrElse("anon"), p.batchId,
        p.batchDuration, d("addBatch"),
        d("latestOffset") + d("getBatch") + d("commitOffsets"),
        d("queryPlanning"), d("walCommit"), p.numInputRows,
        ops.map(_.numRowsTotal).sum, ops.map(_.numRowsUpdated).sum,
        ops.map(_.commitTimeMs).sum, ops.map(_.memoryUsedBytes).sum,
        ops.map(_.numStateStoreInstances.toLong).sum,
        ops.map(_.numRowsDroppedByWatermark).sum)): Unit
    }
  }
}

object OpRecorder {
  /** A recorder listening to `spark`'s jobs and streams. */
  def attach(spark: SparkSession): OpRecorder = {
    val r = new OpRecorder(spark)
    spark.sparkContext.addSparkListener(r)
    spark.streams.addListener(r.streams)
    r
  }
}
