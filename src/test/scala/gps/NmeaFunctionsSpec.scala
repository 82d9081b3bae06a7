package gps

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import gps.parse.{NmeaFunctions => NF}

/** Shared local session for all specs. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Golden-sentence tests — the reference's own documented examples
  * (class.nmea.parser.php:145-333, values precomputed in FIXTURES.md §1). */
class NmeaFunctionsSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val GGA = "$GPGGA,123519,4807.038,N,01131.000,E,1,08,0.9,545.4,M,46.9,M,,*47"
  val GLL = "$GPGLL,4916.45,N,12311.12,W,225444,A,*1D"
  val GSA = "$GPGSA,A,3,04,05,,09,12,,,24,,,,,2.5,1.3,2.1*39"
  val GSV = "$GPGSV,2,1,08,01,40,083,46,02,17,308,41,12,07,344,39,14,22,228,45*75"
  val RMC = "$GPRMC,123519,A,4807.038,N,01131.000,E,022.4,084.4,230394,003.1,W*6A"
  val VTG = "$GPVTG,054.7,T,034.4,M,005.5,N,010.2,K*48"

  def parse1(line: String) = {
    val df = Seq(("d1", 1L, line)).toDF("device", "line_no", "line")
    NF.parseSentences(df).collect()
  }

  test("sentence type tag (SetNmeaType :137-140)") {
    val df = Seq(GGA, GLL, GSA, GSV, RMC, VTG, "$GPZDA,x*00").toDF("line")
    val types = df.select(NF.sentenceType($"line")).as[String].collect()
    assert(types.toSeq == Seq("GPGGA", "GPGLL", "GPGSA", "GPGSV", "GPRMC",
      "GPVTG", "GPZDA"))
  }

  test("checksum XOR fold validates all six golden sentences") {
    val df = Seq(GGA, GLL, GSA, GSV, RMC, VTG).toDF("line")
    assert(df.filter(NF.checksumValid($"line")).count() == 6)
  }

  test("corrupted checksum / missing checksum rejected, lenient passes") {
    val bad = Seq(GGA.dropRight(1) + "8", "$GPGGA,123519,4807.038,N")
      .toDF("line")
    assert(bad.filter(NF.checksumValid($"line")).count() == 0)
    assert(bad.filter(NF.checksumValid($"line", lenient = true)).count() == 2)
  }

  test("GPGGA golden values (:145-168, FIXTURES.md)") {
    val r = parse1(GGA)
    assert(r.length == 1)
    val row = r(0)
    assert(row.getAs[String]("stype") == "GPGGA")
    assert(row.getAs[String]("utc") == "123519")
    assert(row.getAs[Double]("lat") == 48.1173)
    assert(row.getAs[Double]("lon") == 11.516667)
    assert(row.getAs[String]("ns") == "N")
    assert(row.getAs[String]("ew") == "E")
    assert(row.getAs[Int]("quality") == 1)
    assert(row.getAs[Int]("numsat") == 8)
    assert(row.getAs[Double]("hdop") == 0.9)
    assert(row.getAs[Double]("alt") == 545.4)
    assert(row.getAs[Double]("geoidal") == 46.9)
    assert(row.isNullAt(row.fieldIndex("dgps_age")))
  }

  test("GPGLL golden values — intended semantics, no dataStatus fatal (§1.5.1)") {
    val row = parse1(GLL)(0)
    assert(row.getAs[String]("utc") == "225444")
    assert(row.getAs[Double]("lat") == 49.274167)
    assert(row.getAs[Double]("lon") == -123.185333) // W ⇒ negative
    assert(row.getAs[String]("status") == "A")
  }

  test("GPGSA golden values: PRN holes dropped, vdop checksum-clean (:243)") {
    val row = parse1(GSA)(0)
    assert(row.getAs[String]("select_mode") == "A")
    assert(row.getAs[Int]("fix_mode") == 3)
    assert(row.getSeq[Int](row.fieldIndex("sats")).toList == List(4, 5, 9, 12, 24))
    assert(row.getAs[Double]("pdop") == 2.5)
    assert(row.getAs[Double]("hdop") == 1.3)
    assert(row.getAs[Double]("vdop") == 2.1) // ref stores "2.1*39"
  }

  test("GPGSV keeps all four satellites (ref keeps 1 — :261 'needs fixing')") {
    val row = parse1(GSV)(0)
    assert(row.getAs[Int]("gsv_messages") == 2)
    assert(row.getAs[Int]("gsv_msgnum") == 1)
    assert(row.getAs[Int]("satview") == 8)
    val sats = row.getSeq[org.apache.spark.sql.Row](row.fieldIndex("sats_in_view")).toList
    assert(sats.map(s => (s.getInt(0), s.getInt(1), s.getInt(2), s.getInt(3)))
      == List((1, 40, 83, 46), (2, 17, 308, 41), (12, 7, 344, 39),
        (14, 22, 228, 45)))
  }

  test("GPRMC golden values + UTC epoch (:275-287; TZ pinned — §1.5.10)") {
    val row = parse1(RMC)(0)
    assert(row.getAs[String]("utc") == "123519")
    assert(row.getAs[String]("status") == "A")
    assert(row.getAs[Double]("speed_knots") == 22.4)
    assert(row.getAs[Double]("track_deg") == 84.4)
    assert(row.getAs[String]("date") == "230394")
    assert(row.getAs[Double]("magvar") == 3.1)
    // 1994-03-23T12:35:19Z = epoch 764426119 (2-digit-year pivot: 94 → 1994)
    assert(row.getAs[java.sql.Timestamp]("fix_time").getTime == 764426119000L)
  }

  test("GPVTG golden values (:307-315)") {
    val row = parse1(VTG)(0)
    assert(row.getAs[Double]("track_deg") == 54.7)
    assert(row.getAs[Double]("track_mag_deg") == 34.4)
    assert(row.getAs[Double]("speed_knots") == 5.5)
    assert(row.getAs[Double]("speed_kmph") == 10.2)
  }

  test("unknown sentence types silently dropped (:112)") {
    val df = Seq(("d", 1L, "$GPZDA,201530.00,04,07,2002,00,00*60"))
      .toDF("device", "line_no", "line")
    assert(NF.parseSentences(df).count() == 0)
  }

  test("fixUTC strips fractional seconds (:391-394)") {
    val df = Seq("123519.50").toDF("u")
    assert(df.select(NF.fixUtc($"u")).as[String].head() == "123519")
  }

  test("2-digit-year pivot: 69 → 2069, 70 → 1970 (:94)") {
    val df = Seq(("010169", "000000"), ("010170", "000000"))
      .toDF("d", "u")
    val ts = df.select(NF.nmeaTimestamp($"u", $"d")).as[java.sql.Timestamp]
      .collect()
    assert(ts(0).toInstant.toString.startsWith("2069-01-01"))
    assert(ts(1).toInstant.toString.startsWith("1970-01-01"))
  }

  test("checksumValid agrees with the two-evaluation formula on generated " +
      "lines (ScalaCheck)") {
    import org.scalacheck.{Gen, Prop, Test}
    import org.scalacheck.rng.Seed
    // the formula that evaluated the declared checksum twice
    def twice(line: org.apache.spark.sql.Column) =
      NF.declaredChecksum(line).isNotNull &&
        NF.declaredChecksum(line) === NF.checksum(NF.payload(line))
    val bodyChar = Gen.frequency(8 -> Gen.numChar, 3 -> Gen.const(','),
      2 -> Gen.const('.'), 2 -> Gen.alphaUpperChar, 1 -> Gen.alphaLowerChar,
      1 -> Gen.const('*'), 1 -> Gen.oneOf(" -$!~"))
    val line: Gen[Option[String]] = for {
      stype <- Gen.oneOf("GPGGA", "GPGSA", "GPGSV", "GPRMC", "GPVTG", "GPZDA")
      rest <- Gen.listOf(bodyChar).map(_.mkString)
      body = s"$stype,$rest"
      ck = body.getBytes("UTF-8").foldLeft(0)(_ ^ _) & 0xff
      hex = f"$ck%02X"
      suffix <- Gen.oneOf(
        Gen.const(s"*$hex"),                            // correct
        Gen.const(s"*${hex.toLowerCase}"),              // lowercase
        Gen.choose(1, 255).map(x => f"*${ck ^ x}%02X"), // corrupt
        Gen.const(""),                                  // missing
        Gen.const("*"),                                 // empty
        Gen.const(s"*${hex.take(1)}"),                  // truncated
        Gen.listOfN(2, Gen.oneOf("GZgz!- .,")).map("*" + _.mkString), // non-hex
        Gen.hexStr.map(h => s"*${h.take(6)}"))          // any short hex
      full = s"$$$body$suffix"
      cut <- Gen.frequency(6 -> Gen.const(full.length),
        1 -> Gen.choose(0, full.length))                // truncated line
      l <- Gen.frequency(20 -> Gen.const(Some(full.take(cut))),
        1 -> Gen.const(None))
    } yield l
    // A batch agrees when both formulas return the same rows, or both
    // throw the same error class.
    def outcome(df: org.apache.spark.sql.DataFrame,
        c: org.apache.spark.sql.Column) =
      scala.util.Try(df.select(c).collect().map(_.get(0)).toSeq).toEither
        .left.map(e => e.getClass.getName)
    var seen = Set.empty[Any]
    var thrown = 0
    val prop = Prop.forAllNoShrink(Gen.listOfN(16, line)) { lines =>
      val df = spark.sparkContext.parallelize(lines, 2).toDF("line")
      val (a, b) = (outcome(df, twice($"line")),
        outcome(df, NF.checksumValid($"line")))
      b.foreach(seen ++= _)
      if (b.isLeft) thrown += 1
      a == b
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(40)
      .withInitialSeed(Seed(20261017L)), prop)
    assert(res.passed, res.status.toString)
    // both outcomes occur, never null, and no batch throws
    assert(seen == Set(true, false), s"checksumValid outcomes: $seen")
    assert(thrown == 0, s"$thrown of 40 batches threw")
  }

  test("a declared checksum with a sign or past Int.MaxValue drops the " +
      "line, not the query") {
    val body = GGA.drop(1).takeWhile(_ != '*')
    // conv reads `-7` as 2^64 - 7; 80000000 is Int.MaxValue + 1; 20 hex
    // digits overflow conv itself
    val bad = Seq("-7", "80000000", "F" * 20).map(x => s"$$$body*$x")
    val lines = (GGA +: bad).toDF("line")
    assert(lines.select(NF.checksumValid($"line")).as[Boolean].collect()
      .toSeq == Seq(true, false, false, false))
    val parsed = NF.parseSentences((GGA +: bad).zipWithIndex
      .map { case (l, i) => ("d1", i.toLong, l) }
      .toDF("device", "line_no", "line"))
    assert(parsed.select("line_no").as[Long].collect().toSeq == Seq(0L))
  }

  test("deg2dec worked example: 4807.038,N → 48.1173 (code, not the wrong :333 comment)") {
    val df = Seq(("4807.038", "N"), ("4807.038", "S")).toDF("c", "h")
    val r = df.select(NF.deg2dec($"c", $"h")).as[Double].collect()
    assert(r(0) == 48.1173 && r(1) == -48.1173)
  }
}
