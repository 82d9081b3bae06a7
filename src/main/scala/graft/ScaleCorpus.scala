package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Writes a `scale`× replica of a scale-factor dir's `documents`,
  * `embeddings`, `events`, `orders` and `lineitem` tables, so any op that
  * reads only those five tables can be timed over a bigger corpus with
  * [[Bench]]'s record:
  *
  * {{{
  * sbt "runMain graft.ScaleCorpus 10"   # sf0.1 → /tmp/graft_scale10
  * SPARK_GRAFT_SF_DIR=/tmp/graft_scale10 SPARK_GRAFT_BENCH_ONLY=pipeline_online \
  *   SPARK_GRAFT_CPUS=$(nproc) SPARK_GRAFT_BENCH_OUT=/tmp/b.json \
  *   sbt "runMain graft.Bench"
  * }}}
  *
  * Ops that read any other table (`customer`, `part`, ...) fail over it.
  * A `spark.graft.*` setting reaches Bench's session as a `-D` system
  * property, e.g. `JAVA_TOOL_OPTIONS=-Dspark.graft.maxFilesPerTrigger=2`
  * for more, smaller triggers, or the cell-count recipe k ∝ √N
  * (`spark.graft.knng.k` and `spark.graft.semdedup.k` at max(16,
  * ⌈√(2000 × scale)⌉) for sf0.1's 2000 vectors).
  *
  * Replica k offsets ids so keys stay unique and cross-table joins stay
  * consistent: doc_id and vec_id by k·1e5; event_id, user_id and
  * o_custkey by k·1e6 (`stream_asof_enrich` joins user_id to o_custkey,
  * and event_id % 10 drives the cdc/merge ops); o_orderkey and l_orderkey
  * by k·1e7. Document text gets a ` salt<k>` token, so replicas are
  * near-duplicates of each other only. Timestamps and dates are not
  * offset: replicas are more users over the same activity window.
  */
object ScaleCorpus {
  def write(spark: SparkSession, base: String, out: String, scale: Int): Unit = {
    require(scale >= 1, s"scale must be at least 1, got $scale")
    def replicate(table: String, src: DataFrame)(
        replica: (DataFrame, Long) => DataFrame): Unit =
      (0 until scale).map(k => replica(src, k.toLong)).reduce(_ union _)
        .write.mode("overwrite").parquet(s"$out/$table.parquet")
    def read(table: String) = spark.read.parquet(s"$base/$table.parquet")
    replicate("documents", read("documents"))((df, k) => df
      .withColumn("doc_id", col("doc_id") + k * 100000L)
      .withColumn("text", concat(col("text"), lit(s" salt$k"))))
    replicate("embeddings", read("embeddings"))((df, k) =>
      df.withColumn("vec_id", col("vec_id") + k * 100000L))
    replicate("events", engine.Core.t(spark, base, "events"))((df, k) => df
      .withColumn("event_id", col("event_id") + k * 1000000L)
      .withColumn("user_id", col("user_id") + k * 1000000L))
    replicate("orders", read("orders"))((df, k) => df
      .withColumn("o_orderkey", col("o_orderkey") + k * 10000000L)
      .withColumn("o_custkey", col("o_custkey") + k * 1000000L))
    replicate("lineitem", read("lineitem"))((df, k) =>
      df.withColumn("l_orderkey", col("l_orderkey") + k * 10000000L))
  }

  /** `runMain graft.ScaleCorpus <scale> [base] [out]`. */
  def main(args: Array[String]): Unit = {
    val scale = args.headOption.map(_.toInt).getOrElse(10)
    val base = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(2).getOrElse(s"/tmp/graft_scale$scale")
    // engine.Core.t reads events' naive timestamps as UTC instants
    val spark = DevSession.builder()
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    write(spark, base, out, scale)
    println(s"[scale] wrote the ${scale}x corpus of $base to $out")
    spark.stop()
  }
}
