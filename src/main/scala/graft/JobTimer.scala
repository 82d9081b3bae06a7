package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev harness: run one query and print per-job wall time, and per
  * stage its tasks, task CPU and shuffle bytes, to localize where a
  * plan-bound query spends its seconds.
  *
  * {{{ sbt "runMain graft.JobTimer /root/testdata/sf0.1 search_prf" }}}
  */
object JobTimer {
  def main(args: Array[String]): Unit = {
    val spark = DevSession.builder().getOrCreate()
    engine.Core.pinOracleSession(spark)
    spark.sparkContext.setLogLevel("ERROR")
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    val tasks = new java.util.concurrent.atomic.AtomicInteger(0)
    val sites = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        starts.put(j.jobId, System.nanoTime())
        // the final stage's name is the action's callsite — the cheapest
        // per-job "who asked for this" label for job-count autopsies
        val desc = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
        sites.put(j.jobId, desc.getOrElse(
          j.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n'))
            .getOrElse("?"))): Unit
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val t0 = Option(starts.get(j.jobId)).getOrElse(0L)
        println(f"JOB ${j.jobId}%3d  ${(System.nanoTime() - t0) / 1e9}%6.2f s" +
          f"  ${Option(sites.get(j.jobId)).getOrElse("?")}")
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks)
        val i = s.stageInfo
        val m = i.taskMetrics
        println(f"  STAGE ${i.stageId}%3d  ${i.numTasks}%3d tasks" +
          f"  cpu ${m.executorCpuTime / 1e9}%6.2f s" +
          f"  shuffle read ${m.shuffleReadMetrics.totalBytesRead}%10d B" +
          f"  write ${m.shuffleWriteMetrics.bytesWritten}%10d B" +
          s"  ${i.name.takeWhile(_ != '\n')}")
      }
    })
    // warm-up for JIT/codegen parity with Bench
    try SparkEntry.queries("agg_hash")(spark, args(0)).count()
    catch { case _: Throwable => }
    for (n <- args.drop(1)) {
      // "conf:key=value" args set session conf between timed ops — the
      // knob sweep harness (e.g. trigger counts via the .mft confs)
      // "drain" between ops reproduces the bench's cache discipline:
      // without it, a repeated op's ScratchCache.persist frames resolve
      // to the previous run's InMemoryRelation via the CacheManager and
      // the run measures replay, not recompute
      if (n == "drain") {
        engine.ScratchCache.drain()
        System.gc()
        println("DRAIN")
      } else if (n.startsWith("conf:")) {
        n.stripPrefix("conf:").split("=", 2) match {
          case Array(k, v) =>
            spark.conf.set(k, v)
            println(s"CONF $k=$v")
          case _ => // a valueless conf: arg must not abort the sweep
            System.err.println(s"CONF ignored (no '='): $n")
        }
      } else {
      stages.set(0); tasks.set(0)
      val t0 = System.nanoTime()
      val c = Eval.rows(SparkEntry.queries(n)(spark, args(0)))
      println(f"TOTAL $n: ${(System.nanoTime() - t0) / 1e9}%.2f s " +
        f"($c rows, ${stages.get()} stages, ${tasks.get()} tasks)")
      }
    }
    spark.stop()
  }
}
