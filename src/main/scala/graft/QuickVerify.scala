package graft

/** Dev harness: dump a SUBSET of queries (by name) plus their oracle SQL
  * for `tools/selfcheck.py`, without running all 60 like [[Verify]].
  * Writes one parquet dir and one `<name>.sql` per query; build
  * `oracle_sql.json` from those for selfcheck.
  *
  * {{{ sbt "runMain graft.QuickVerify /root/testdata/sf0.01 /tmp/qv q1 q2" }}}
  */
object QuickVerify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1); val names = args.drop(2)
    val spark = DevSession.builder()
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    engine.Core.pinOracleSession(spark)
    // oracle comparisons run at the pinned 16-cell operating points —
    // never inherit ScaleProbe's √N confs (the Verify discipline)
    Seq("spark.graft.knng.k", "spark.graft.semdedup.k")
      .foreach(spark.conf.unset)
    new java.io.File(outDir).mkdirs()
    names.foreach { n =>
      SparkEntry.queries(n)(spark, sfDir).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$n")
      engine.ScratchCache.drain()
      val sql = SparkEntry.oracleSql.getOrElse(n, "")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/$n.sql"), sql)
      println(s"QV dumped $n")
    }
    spark.stop()
  }
}
