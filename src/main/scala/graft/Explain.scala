package graft

/** Dev harness: print the executed (physical) plan of named queries —
  * the `.explain("formatted")` iteration loop for exchange/sort/codegen
  * auditing, without attaching a debugger or enabling the UI.
  *
  * {{{ sbt "runMain graft.Explain /root/testdata/sf0.1 nmea_fix_pipeline" }}}
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = args.drop(1)
    val spark = DevSession.builder()
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    engine.Core.pinOracleSession(spark)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      // EXECUTE THIS df first: under AQE the pre-execution plan is
      // provisional (isFinalPlan=false) with no codegen spans — and
      // count() would finalize a DIFFERENT QueryExecution, not this one
      df.collect()
      // the post-exec render shows "== Final Plan ==" then the initial
      // plan again — count only the final section or everything doubles
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      println(s"==== $n ====")
      // shuffle vs broadcast vs reused counted separately: a ReusedExchange
      // is not a new exchange, and broadcast/shuffle is exactly the
      // distinction a plan audit cares about. A shuffle prints as bare
      // "Exchange hashpartitioning..." at any tree depth, so count by
      // subtraction rather than a line-prefix regex.
      val nAll = "Exchange".r.findAllMatchIn(plan).length
      val nBc = "BroadcastExchange".r.findAllMatchIn(plan).length
      val nRe = "ReusedExchange".r.findAllMatchIn(plan).length
      println("shuffle_exchanges=" + (nAll - nBc - nRe) +
        " broadcast_exchanges=" + nBc +
        " reused_exchanges=" + nRe +
        " sorts=" + "\\bSort\\b".r.findAllMatchIn(plan).length +
        // post-execution the final plan renders codegen as "*(id)"
        // prefixes; distinct ids = spans
        " codegen_spans=" +
        "\\*\\((\\d+)\\)".r.findAllMatchIn(plan).map(_.group(1)).toSet.size)
      df.explain("formatted")
      engine.ScratchCache.drain()
    }
    spark.stop()
  }
}
