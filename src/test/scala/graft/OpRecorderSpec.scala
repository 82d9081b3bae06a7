package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.scalatest.funsuite.AnyFunSuite

/** The per-op record: batch counters, one entry per stream trigger, and a
  * window that the listener-bus drain closes. */
class OpRecorderSpec extends AnyFunSuite {
  lazy val spark = gps.TestSpark.spark
  lazy val recorder = gps.TestSpark.recorder

  /** A batch query with one shuffle, run under job description `desc`.
    * `collect`, unlike [[Eval.rows]]'s observation, returns without
    * waiting for any listener event. */
  private def batch(desc: String): Long = {
    spark.sparkContext.setJobDescription(desc)
    try spark.range(0, 2000, 1, 4).groupBy(col("id") % 7).count()
      .collect().length.toLong
    finally spark.sparkContext.setJobDescription(null)
  }

  /** A stateful stream over exactly two triggers; returns their batch ids. */
  private def stream(name: String): Seq[Long] = {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Int]
    engine.Core.withConfs(spark)("spark.sql.shuffle.partitions" -> "2") {
      // data before the start: the first trigger is a data trigger, not
      // an idle progress report
      mem.addData(1, 2, 3)
      val q = mem.toDF().groupBy("value").count()
        .writeStream.format("memory").queryName(name)
        .outputMode("complete").start()
      try {
        q.processAllAvailable()
        mem.addData(3, 4); q.processAllAvailable()
        q.recentProgress.map(_.batchId).toSeq
      } finally q.stop()
    }
  }

  test("a batch query with one shuffle: stages, tasks, CPU and shuffle") {
    val stageTasks = new AtomicLong
    val counter = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stageTasks.addAndGet(e.stageInfo.numTasks): Unit
    }
    spark.sparkContext.addSparkListener(counter)
    try {
      val (rows, rec) = recorder.measure { stageTasks.set(0); batch("shuffle") }
      assert(rows == 7)
      assert(rec.stages >= 2)
      assert(rec.tasks == stageTasks.get)
      assert(rec.cpuS > 0)
      assert(rec.shuffleBytes > 0)
      assert(rec.jobs >= 1 && rec.topJobs.nonEmpty)
      assert(rec.taskMsMax <= rec.taskMsSum)
      assert(rec.triggers.isEmpty)
    } finally spark.sparkContext.removeSparkListener(counter)
  }

  test("a stateful stream of two triggers: one entry per trigger") {
    val (batches, rec) = recorder.measure(stream("rec_state"))
    assert(batches.size == 2)
    assert(rec.triggers.map(_.batch) == batches)
    assert(rec.triggers.forall(t => t.query == "rec_state" && t.stateStores > 0))
    assert(rec.triggers.map(_.inputRows) == Seq(3L, 2L))
    assert(rec.triggers.forall(_.stateMemoryBytes > 0))
    assert(rec.triggers.map(_.stateRowsTotal).last == 4)
    assert(rec.json.contains("\"add_batch_ms\":"))
  }

  test("back-to-back records do not share events, even when events arrive late") {
    val (_, alone1) = recorder.measure { batch("first"); stream("rec_first") }
    val (_, alone2) = recorder.measure(batch("second"))
    // listeners ahead of the recorder that sleep 200 ms per event, so every
    // event reaches the recorder late
    val seen = new AtomicLong
    def slow(): Unit = { Thread.sleep(200); seen.incrementAndGet(): Unit }
    val slowJobs = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = slow()
      override def onJobEnd(e: SparkListenerJobEnd): Unit = slow()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        slow()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = slow()
    }
    val slowStreams = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = slow()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.sparkContext.addSparkListener(slowJobs)
    spark.streams.addListener(slowStreams)
    val late = OpRecorder.attach(spark)
    try {
      var seenAtReturn = 0L
      val (_, rec1) = late.measure {
        batch("first"); stream("rec_first"); seenAtReturn = seen.get
      }
      val (_, rec2) = late.measure(batch("second"))
      // the events really were late: the body returned before they landed
      assert(seen.get > seenAtReturn)
      assert(rec1.triggers.size == alone1.triggers.size)
      assert(rec1.jobs == alone1.jobs && rec1.tasks == alone1.tasks)
      assert(rec2.triggers.isEmpty)
      assert(rec2.jobs == alone2.jobs && rec2.tasks == alone2.tasks)
      assert(rec2.topJobs.map(_.desc).forall(_ == "second"))
    } finally {
      spark.sparkContext.removeSparkListener(late)
      spark.sparkContext.removeSparkListener(slowJobs)
      spark.streams.removeListener(slowStreams)
    }
  }
}
