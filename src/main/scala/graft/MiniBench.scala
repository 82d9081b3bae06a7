package graft

/** Dev harness: time individual queries by name (2 runs each, drained
  * and GC'd in between, after an agg_hash warm-up) without paying for
  * the full 200+-query [[Bench]] sweep.
  *
  * {{{ sbt "runMain graft.MiniBench /root/testdata/sf0.1 dedup_minhash" }}}
  */
object MiniBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1)
    val spark = DevSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    engine.Core.pinOracleSession(spark)
    // builder-iteration conf injection: SPARK_GRAFT_CONF="k=v;k2=v2"
    // applies runtime confs before the timed loop (e.g. the semdedup.k
    // or *.mft knobs) — the full Bench never reads this
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";")
      .filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v)
      })
    try SparkEntry.queries("agg_hash")(spark, sfDir).count()
    catch { case _: Throwable => }
    for (n <- names; i <- 1 to 2) {
      val t0 = System.nanoTime()
      val c = Eval.rows(SparkEntry.queries(n)(spark, sfDir))
      val dt = (System.nanoTime() - t0) / 1e9
      engine.ScratchCache.drain()
      System.gc()
      println(f"MINIBENCH $n run$i: $dt%.2f s ($c rows)")
    }
    spark.stop()
  }
}
