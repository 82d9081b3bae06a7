package gps

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import gps.stream.FixAssembler
import gps.parse.{NmeaFunctions => NF}

/** End-to-end golden stream (FIXTURES.md §2): multi-sentence groups,
  * duplicates, late/unknown/bad-checksum lines, pre-fix sentences,
  * midnight wrap — assembled fix table must match the reference's
  * *intended* merge semantics. */
class FixAssemblySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ck(payload: String): String = {
    val x = payload.getBytes("ASCII").foldLeft(0)((a, b) => a ^ b)
    f"$$$payload*$x%02X"
  }

  // two complete fix-seconds for device A across midnight, one incomplete
  val lines: Seq[(String, Long, String)] = Seq(
    // pre-fix GSA: no current fix yet → dropped (ref piles under key 0, :29)
    ("A", 1L, ck("GPGSA,A,3,01,02,,,,,,,,,,,2.0,1.0,1.5")),
    // fix 1: 23:59:59 on 2024-03-01
    ("A", 2L, ck("GPGGA,235959,4807.0380,N,01131.0000,E,1,08,0.9,545.4,M,46.9,M,,")),
    ("A", 3L, ck("GPGSA,A,3,04,05,,09,12,,,24,,,,,2.5,1.3,2.1")),
    ("A", 4L, ck("GPGSV,2,1,08,01,40,083,46,02,17,308,41,12,07,344,39,14,22,228,45")),
    ("A", 5L, ck("GPGSV,2,2,08,18,16,041,42,19,13,087,38,22,08,115,31,27,04,157,25")),
    ("A", 6L, ck("GPRMC,235959,A,4807.0380,N,01131.0000,E,022.4,084.4,010324,003.1,W")),
    ("A", 7L, ck("GPVTG,054.7,T,034.4,M,022.4,N,041.5,K")),
    // duplicate GGA same second — last-writer-wins on alt (:173-187)
    ("A", 8L, ck("GPGGA,235959,4807.0380,N,01131.0000,E,1,09,0.8,600.0,M,46.9,M,,")),
    // fix 2: 00:00:00 next day (midnight wrap — new fix, not same key)
    ("A", 9L, ck("GPGGA,000000,4916.4500,N,12311.1200,W,1,07,1.1,100.0,M,40.0,M,,")),
    ("A", 10L, ck("GPRMC,000000,A,4916.4500,N,12311.1200,W,010.0,084.4,020324,003.1,W")),
    // unknown type → dropped (:112)
    ("A", 11L, ck("GPZDA,000001,02,03,2024,00,00")),
    // bad checksum → dropped (we validate; ref doesn't — :168)
    ("A", 12L, "$GPGGA,000001,4916.4500,N,12311.1200,W,1,07,1.1,100.0,M,40.0,M,,*00"),
    // incomplete fix: GGA only, no RMC date → GoodEnough false (:126-129)
    ("A", 13L, ck("GPGGA,000130,4916.4500,N,12311.1200,W,1,07,1.1,100.0,M,40.0,M,,")),
    // device B interleaved — independent state
    ("B", 2L, ck("GPGGA,120000,5000.0000,S,00100.0000,W,1,05,2.0,10.0,M,1.0,M,,")),
    ("B", 3L, ck("GPRMC,120000,A,5000.0000,S,00100.0000,W,005.0,010.0,150324,001.0,E")))

  private def assemble(ls: Seq[(String, Long, String)]) = FixAssembler.assemble(
    NF.parseSentences(ls.toDF("device", "line_no", "line"))).toDF()

  lazy val fixes = assemble(lines).collect()

  test("complete fixes only, per device (GoodEnough gate)") {
    assert(fixes.map(r => (r.getAs[String]("device"), r.getAs[String]("utc")))
      .toSet == Set(("A", "235959"), ("A", "000000"), ("B", "120000")))
  }

  test("midnight wrap produces two distinct fixes with correct event time") {
    val byUtc = fixes.filter(_.getAs[String]("device") == "A")
      .map(r => r.getAs[String]("utc") ->
        r.getAs[java.sql.Timestamp]("fix_time").toInstant.toString).toMap
    assert(byUtc("235959") == "2024-03-01T23:59:59Z")
    assert(byUtc("000000") == "2024-03-02T00:00:00Z")
  }

  test("last-writer-wins merge: duplicate GGA overwrites alt/numsat/hdop") {
    val f1 = fixes.find(r => r.getAs[String]("utc") == "235959").get
    assert(f1.getAs[Double]("alt") == 600.0)
    assert(f1.getAs[Int]("numsat") == 9)
    assert(f1.getAs[Double]("hdop") == 0.8)
    // fields from other sentences survive the duplicate
    assert(f1.getAs[Double]("vdop") == 2.1)
    assert(f1.getAs[Double]("speed_kmph") == 41.5)
  }

  test("GSV satellites accumulate across the sentence group (8 sats)") {
    val f1 = fixes.find(r => r.getAs[String]("utc") == "235959").get
    assert(f1.getAs[Int]("n_sats_view") == 8)
    // the fix keeps the count; the parse keeps every satellite, in order
    val prns = NF.parseSentences(lines.toDF("device", "line_no", "line"))
      .filter(col("stype") === "GPGSV").orderBy("line_no")
      .select(col("sats_in_view.prn")).as[Seq[Int]].collect().flatten.toList
    assert(prns == List(1, 2, 12, 14, 18, 19, 22, 27))
  }

  test("types_seen records the sentence families merged into the fix") {
    val f1 = fixes.find(r => r.getAs[String]("utc") == "235959").get
    assert(f1.getAs[String]("types_seen") == "GPGGA,GPGSA,GPGSV,GPRMC,GPVTG")
  }

  test("quality filter drops low-sat fixes (intended :13,:40-77 semantics)") {
    val gated = FixAssembler.qualityFilter(assemble(lines), minSats = 6)
    // device B has numsat=5 → dropped
    assert(gated.select("device").as[String].collect().toSet == Set("A"))
  }

  test("a device's last fix is emitted with no later sentence to close it") {
    val last = Seq(
      ("C", 1L, ck("GPGGA,101500,4807.0380,N,01131.0000,E,1,06,1.0,12.0,M,46.9,M,,")),
      ("C", 2L, ck("GPRMC,101500,A,4807.0380,N,01131.0000,E,003.0,084.4,050324,003.1,W")),
      ("C", 3L, ck("GPVTG,054.7,T,034.4,M,003.0,N,005.6,K")))
    val rows = assemble(last).collect()
    assert(rows.map(r => (r.getAs[String]("device"), r.getAs[String]("utc"),
      r.getAs[Double]("speed_kmph"))).toSeq == Seq(("C", "101500", 5.6)))
    // device A's last open fix (13: GGA only) is flushed too, and dropped
    // by GoodEnough, not emitted
    assert(!fixes.exists(_.getAs[String]("utc") == "000130"))
  }

  test("a line replayed with its original line_no does not change a fix") {
    // the second GSV of fix 1 and the duplicate GGA, replayed after fix 2
    val again = assemble(lines ++ lines.filter(l => l._2 == 5L || l._2 == 8L))
    assert(again.collect().map(_.toString).sorted.toSeq ==
      fixes.map(_.toString).sorted.toSeq)
    val f1 = again.filter(col("utc") === "235959").head()
    assert(f1.getAs[Int]("n_sats_view") == 8)
  }
}
