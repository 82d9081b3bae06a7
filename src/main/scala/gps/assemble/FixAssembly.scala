package gps.assemble

import org.apache.spark.sql.DataFrame
import gps.stream.FixAssembler

/** Batch GPS-fix assembly as a DataFrame: [[gps.stream.FixAssembler]]'s
  * per-device fold over a batch frame. perfbench's harness times it as
  * its `assemble` layer.
  */
object FixAssembly {

  /** Parsed sentences (device, line_no, stype, fields...) → one row per
    * GoodEnough fix. */
  def assemble(parsed: DataFrame): DataFrame =
    FixAssembler.assemble(parsed).toDF()
}
