package graft

import org.apache.spark.sql.SparkSession

/** Session sizing shared by the dev harnesses: as many local cores, and as
  * many shuffle partitions, as the machine has, or `SPARK_GRAFT_CPUS` when
  * it is set. [[Bench]] and [[Verify]] keep their own 32-core default.
  */
object DevSession {
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.trim.toIntOption)
    .filter(_ > 0).getOrElse(Runtime.getRuntime.availableProcessors)

  /** A builder with the box-sized master, shuffle width and no UI. */
  def builder(): SparkSession.Builder = {
    val n = cores
    SparkSession.builder().master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.ui.enabled", "false")
  }
}
