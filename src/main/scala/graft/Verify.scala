package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args: run only these queries (builder iteration;
    // the driver always passes exactly two args = the full sweep)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    engine.Core.pinOracleSession(spark)
    // Oracle runs happen at the PINNED operating points: the √N cell
    // counts a scaled run sets (as `-D` properties, see ScaleCorpus)
    // parameterize the ENGINE, but the DuckDB oracles hard-pin the
    // 16-cell replay — an inherited setting would report false
    // mismatches on correct results. Clear them up front so the
    // oracle comparison can never diverge from the replayed SQL.
    Seq("spark.graft.knng.k", "spark.graft.semdedup.k")
      .foreach(spark.conf.unset)
    new java.io.File(outDir).mkdirs()
    // A query dump must never go stale: if `outDir` survives from an
    // earlier run, old parquet would silently hash-compare against the
    // CURRENT oracle SQL (this produced round 3's phantom
    // nmea_fix_pipeline red row). So: delete a query's prior dump BEFORE
    // its first attempt — covering process death mid-run, not just an
    // in-process failure — retry once on failure, and if the retry also
    // fails leave nothing behind, so the gate reports the query as
    // missing/err instead of comparing stale output.
    def deleteRecursive(p: java.nio.file.Path): Unit =
      if (Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
      }
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      val dest = Paths.get(s"$outDir/$name")
      deleteRecursive(dest)
      def run(): Unit = fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(dest.toString)
      try {
        try run()
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}; retrying once")
          engine.ScratchCache.drain()
          run()
        }
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed twice: ${e.getMessage}")
        deleteRecursive(dest)
      }
      finally engine.ScratchCache.drain() // per-query persist lifetime
    }
    // every string JSON-escaped, control chars included — a tab or CR
    // in the SQL would otherwise make the json.load of the compare fail
    // and silently zero the correctness gate
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${OpRecord.quote(k)}: ${OpRecord.quote(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
