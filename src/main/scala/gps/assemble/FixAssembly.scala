package gps.assemble

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import gps.stream.FixAssembler

/** Batch GPS-fix assembly — the reference's stateful merge
  * (`$Nmea[$CurrentUTC][field] = value`, class.nmea.parser.php:173-187
  * etc.), run by [[gps.stream.FixAssembler]]'s per-device fold over a
  * batch frame, plus the quality gate the reference declares but never
  * applies.
  *
  * Fixes are keyed by the run of the carried utc, not by time-of-day
  * alone (the reference's midnight collision, SURVEY.md §1.5.9);
  * incomplete fixes (GoodEnough :126-129) are dropped, not leaked forever
  * (:18).
  */
object FixAssembly {

  /** Parsed sentences (device, line_no, stype, fields...) → one row per
    * GoodEnough fix. */
  def assemble(parsed: DataFrame): DataFrame =
    FixAssembler.assemble(parsed).toDF()

  /** The declared-but-never-applied quality filter (:13, :40-77), applied:
    * minSats ≤ numsat, hdop ≤ maxHdop, vdop ≤ maxVdop (null DOP passes,
    * matching "no data ⇒ no objection"). */
  def qualityFilter(fixes: DataFrame, minSats: Int = 4, maxHdop: Double = 10,
      maxVdop: Double = 10): DataFrame =
    fixes.filter(
      (col("numsat").isNull || col("numsat") >= minSats) &&
      (col("hdop").isNull || col("hdop") <= maxHdop) &&
      (col("vdop").isNull || col("vdop") <= maxVdop))
}
