package graft

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Dev harness: run one streaming query with a progress listener and
  * print each microbatch's duration breakdown (addBatch / getBatch /
  * commitOffsets / walCommit) plus state-store metrics — the feedback
  * loop for trigger-bounding and state-posture tuning.
  *
  * {{{ sbt "runMain graft.StreamProfile /root/testdata/sf0.1 stream_stateful_merge" }}}
  */
object StreamProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1)
    val spark = DevSession.builder()
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    engine.Core.pinOracleSession(spark)
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val dur = p.durationMs
        val state = Option(p.stateOperators).toSeq.flatten.map { so =>
          s"rowsTotal=${so.numRowsTotal} updated=${so.numRowsUpdated} " +
            s"removed=${so.numRowsRemoved} commitMs=${so.commitTimeMs} " +
            s"memUsed=${so.memoryUsedBytes}"
        }.mkString(" | ")
        val durAll = dur.entrySet().toArray.mkString(" ")
        println(s"[profile] batch=${p.batchId} rows=${p.numInputRows} " +
          s"$durAll :: $state")
      }
    })
    names.foreach { n =>
      val t0 = System.nanoTime()
      val c = SparkEntry.queries(n)(spark, sfDir).count()
      println(f"[profile] $n total ${(System.nanoTime() - t0) / 1e9}%.2f s ($c rows)")
      engine.ScratchCache.drain()
    }
    spark.stop()
  }
}
