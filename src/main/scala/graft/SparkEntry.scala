package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates every declared engine query (SURVEY.md §2 Table B) from the
  * operator modules into the driver's `queries`/`oracleSql` maps.
  */
object SparkEntry {

  private def all: Map[String, engine.Q] =
    engine.rel.RelQueries.queries ++
    engine.rel.FnQueries.queries ++
    engine.rel.UdafQueries.queries ++
    engine.rel.GpsQueries.queries ++
    engine.stream.StreamQueries.queries ++
    engine.llm.LlmQueries.queries ++
    engine.llm.SearchQueries.queries

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The full NMEA pipeline: synthesize sentences → parse → assemble fixes
    * → quality-gate → per-device-hour trip summary (SURVEY.md §7.2 M0). */
  def entry(spark: SparkSession): DataFrame =
    all("nmea_fix_pipeline").fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { case (k, q) => k -> q.fn }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    all.collect { case (k, q) if q.oracle.isDefined =>
      k -> q.oracle.get.replaceAll("\\s+", " ").trim
    }
}
