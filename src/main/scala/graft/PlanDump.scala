package graft

/** Throwaway: print the formatted plan of a named query. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = DevSession.builder().getOrCreate()
    engine.Core.pinOracleSession(spark)
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.queries(args(1))(spark, args(0))
    df.explain("formatted")
    spark.stop()
  }
}
