package gps.parse

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Column-expression NMEA parsing library — every transform of the
  * reference parser (class.nmea.parser.php) re-expressed as pure Catalyst
  * column math: no UDFs on the hot path, and every generated method small
  * enough to JIT-compile (≥1e5 lines/s/core target, BASELINE.md).
  *
  * Corrections over the reference (SURVEY.md §1.5): checksums are
  * validated (XOR fold — the reference never checks, :168) and stripped
  * before field split (:243 contamination), fractional seconds handled
  * (:391-394), 2-digit-year pivot per :86-95 with the session pinned UTC
  * (the reference's local-TZ mktime bug :94).
  */
object NmeaFunctions {

  /** Sentence families the reference dispatches on
    * (class.nmea.parser.php:106-111); [[parseSentences]] drops every
    * other type. Sorted, so FixAssembler's type bitmask lists a fix's
    * families in this order. */
  val SentenceTypes: Seq[String] =
    Seq("GPGGA", "GPGLL", "GPGSA", "GPGSV", "GPRMC", "GPVTG")

  /** Sentence tag: chars 2..6, uppercased/trimmed
    * (SetNmeaType, class.nmea.parser.php:137-140). */
  def sentenceType(line: Column): Column =
    upper(trim(substring(line, 2, 5)))

  /** Payload between '$' and '*' (checksum scope per NMEA-0183). */
  def payload(line: Column): Column =
    substring_index(substring(line, 2, 1000000), "*", 1)

  /** XOR-fold checksum of the payload, as the custom codegen'd Catalyst
    * expression [[NmeaChecksum]] (the per-char higher-order-function
    * formulation ran interpreted — HOFs are CodegenFallback — and
    * dominated the whole pipeline at bench scale). */
  def checksum(payloadCol: Column): Column = NmeaChecksum(payloadCol)

  /** Declared checksum suffix (hex after '*'), as an int; null if absent,
    * and null, not an error, if it does not fit an int: `conv` reads a
    * signed suffix (`*-7`) as 2^64 - 7, `*80000000` is past Int.MaxValue,
    * and under ANSI `conv` itself throws past 16 hex digits, so a suffix
    * that long is not converted (a real one has two). Such a line fails
    * [[checksumValid]] and is dropped, instead of failing the query. */
  def declaredChecksum(line: Column): Column = {
    val hex = substring_index(line, "*", -1)
    when(line.contains("*") && length(hex) <= 16,
      conv(hex, 16, 10).try_cast("int"))
  }

  /** True iff the line carries a checksum and it matches the XOR fold;
    * false, never null, for a null line or one without a checksum.
    * `lenient = true` reproduces the reference (no validation, :168).
    * The declared checksum is evaluated once: it is null exactly when the
    * comparison is, since the fold of a non-null line is never null. */
  def checksumValid(line: Column, lenient: Boolean = false): Column =
    if (lenient) lit(true)
    else coalesce(declaredChecksum(line) === checksum(payload(line)), lit(false))

  /** Comma-split fields of the checksum-stripped payload; f(0) is the
    * sentence tag (the reference splits the raw line, :171 etc., leaving
    * `*hh` stuck to last fields — we strip first). */
  def fields(line: Column): Column = split(payload(line), ",")

  /** fixUTC (:391-394): drop fractional seconds from hhmmss[.sss]. */
  def fixUtc(utc: Column): Column = substring_index(utc, ".", 1)

  /** degree2decimal (:339-351): ddmm.mmmm + hemisphere → signed decimal
    * degrees rounded to 6 dp (the reference's number_format rounds too,
    * despite its comment claiming truncation). Returns DOUBLE, not the
    * reference's string. Null-safe on empty fields. */
  def deg2dec(coord: Column, hemi: Column): Column = {
    val c = coord.cast("double")
    val deg = floor(c / 100.0)
    val dec = round(deg + (c - deg * 100.0) / 60.0, 6)
    when(c.isNull, lit(null).cast("double"))
      .otherwise(when(hemi.isin("S", "W"), -dec).otherwise(dec))
  }

  /** NMEAtoUnixTime (:86-95): hhmmss + ddmmyy → TIMESTAMP, with the PHP
    * mktime 2-digit-year pivot (0-69 → 2000s, 70-99 → 1900s) and UTC
    * pinned (the reference uses local TZ — bug, SURVEY.md §1.5.10). */
  def nmeaTimestamp(utc: Column, date: Column): Column = {
    val u = fixUtc(utc)
    val yy = substring(date, 5, 2).cast("int")
    val yyyy = when(yy < 70, yy + 2000).otherwise(yy + 1900)
    // timezone passed EXPLICITLY: NMEA wall-clock fields are UTC by spec,
    // and the 7-arg overload keeps fix_time correct for any caller — not
    // just sessions that happen to set spark.sql.session.timeZone=UTC
    make_timestamp(
      yyyy,
      substring(date, 3, 2).cast("int"),
      substring(date, 1, 2).cast("int"),
      substring(u, 1, 2).cast("int"),
      substring(u, 3, 2).cast("int"),
      substring(u, 5, 2).cast("int").cast("decimal(8,6)"),
      lit("UTC"))
  }

  private def nn(c: Column): Column = when(c =!= "", c) // empty field → null

  /** GPGGA (:170-188): fix data. Input: df with `line`; adds typed cols. */
  def parseGga(f: Column): Seq[(String, Column)] = Seq(
    "utc" -> fixUtc(nn(f(1))),
    "lat" -> deg2dec(nn(f(2)), f(3)),
    "ns" -> nn(f(3)),
    "lon" -> deg2dec(nn(f(4)), f(5)),
    "ew" -> nn(f(5)),
    "quality" -> nn(f(6)).cast("int"),
    "numsat" -> nn(f(7)).cast("int"),
    "hdop" -> nn(f(8)).cast("double"),
    "alt" -> nn(f(9)).cast("double"),
    "geoidal" -> nn(f(11)).cast("double"),
    "dgps_age" -> nn(f(13)).cast("double"),
    "dgps_station" -> nn(f(14)))

  /** GPGLL (:201-207) — intended semantics (the reference fatals on an
    * undefined dataStatus() call; SURVEY.md §1.5.1). */
  def parseGll(f: Column): Seq[(String, Column)] = Seq(
    "lat" -> deg2dec(nn(f(1)), f(2)),
    "ns" -> nn(f(2)),
    "lon" -> deg2dec(nn(f(3)), f(4)),
    "ew" -> nn(f(4)),
    "utc" -> fixUtc(nn(f(5))),
    "status" -> nn(f(6)))

  /** GPGSA (:224-244): active satellites + DOPs. PRN slots 3..14 collapse
    * to a compact array (the reference keeps 12 positional columns with
    * holes). vdop is clean here because the checksum was stripped (:243). */
  def parseGsa(f: Column): Seq[(String, Column)] = Seq(
    "select_mode" -> nn(f(1)),
    "fix_mode" -> nn(f(2)).cast("int"),
    // explicit 12-slot array (codegen'd element_at), lambda only does the
    // null test: HOFs run interpreted, so keeping split()/element_at OUT
    // of the lambda body matters — a sequence+transform formulation
    // re-evaluated the full split per slot, dominating the parse cost
    "sats" -> filter(
      array((3 to 14).map(i => nn(f(i))): _*),
      _.isNotNull).cast("array<int>"),
    "pdop" -> nn(f(15)).cast("double"),
    "hdop" -> nn(f(16)).cast("double"),
    "vdop" -> nn(f(17)).cast("double"))

  /** GPGSV (:262-272): satellites in view. The reference keeps only the
    * first satellite per sentence ("needs fixing" :261); we keep all four
    * slots as an array of structs. */
  def parseGsv(f: Column): Seq[(String, Column)] = Seq(
    "gsv_messages" -> nn(f(1)).cast("int"),
    "gsv_msgnum" -> nn(f(2)).cast("int"),
    "satview" -> nn(f(3)).cast("int"),
    // four explicit slot structs (codegen'd), null-gate lambda only —
    // same interpreted-HOF trap as GSA's PRN slots
    "sats_in_view" -> filter(
      array((0 until 4).map(i =>
        struct(
          nn(f(i * 4 + 4)).cast("int").as("prn"),
          nn(f(i * 4 + 5)).cast("int").as("elev"),
          nn(f(i * 4 + 6)).cast("int").as("azimuth"),
          nn(f(i * 4 + 7)).cast("int").as("snr"))): _*),
      s => s.getField("prn").isNotNull))

  /** GPRMC (:289-302): recommended minimum. Carries the date — the only
    * sentence that lets us build a full timestamp (fixUTCKey's unfinished
    * intent, :379-383). The reference skips RMC's lat/lon; we parse them. */
  def parseRmc(f: Column): Seq[(String, Column)] = Seq(
    "utc" -> fixUtc(nn(f(1))),
    "status" -> nn(f(2)),
    "lat" -> deg2dec(nn(f(3)), f(4)),
    "ns" -> nn(f(4)),
    "lon" -> deg2dec(nn(f(5)), f(6)),
    "ew" -> nn(f(6)),
    "speed_knots" -> nn(f(7)).cast("double"),
    "track_deg" -> nn(f(8)).cast("double"),
    "date" -> nn(f(9)),
    "magvar" -> nn(f(10)).cast("double"),
    "magvar_ew" -> nn(f(11)),
    "fix_time" -> nmeaTimestamp(nn(f(1)), nn(f(9))))

  /** GPVTG (:317-328): track & ground speed. */
  def parseVtg(f: Column): Seq[(String, Column)] = Seq(
    "track_deg" -> nn(f(1)).cast("double"),
    "track_mag_deg" -> nn(f(3)).cast("double"),
    "speed_knots" -> nn(f(5)).cast("double"),
    "speed_kmph" -> nn(f(7)).cast("double"))

  /** Full dispatch parse (ParseLine :103-114): one wide row per valid
    * sentence, `stype` tagged, unknown types dropped (:112), bad checksums
    * dropped unless lenient (:168 — the reference never validates).
    *
    * Input must have columns `line` (raw sentence) plus any passthrough
    * columns (device, line_no). Single projection — no per-type
    * union/shuffle — so it vectorizes over a text scan at scale.
    *
    * The wide projection stays OUT of whole-stage codegen, on purpose: its
    * `filter` higher-order functions (GSA's `sats`, GSV's `sats_in_view`)
    * are CodegenFallback, so Spark runs it as a plain projection whose
    * generated code is split into small methods (under 1 KB each) that
    * HotSpot JIT-compiles. A HOF-free form of the same projection fuses
    * into one `processNext` of about 28 KB. HotSpot never compiles a
    * method over 8000 bytes (`DontCompileHugeMethods`), so that form runs
    * interpreted, which costs about what the HOFs save. A consumer
    * that prunes columns must keep one HOF column live, as
    * FixAssembler.assemble does with `size(sats_in_view)`. PlanSpec pins
    * every whole-stage-codegen method of the parse paths at ≤ 8000 bytes.
    */
  def parseSentences(df: DataFrame, lenient: Boolean = false): DataFrame = {
    val passthrough = df.columns.filter(_ != "line").map(col).toSeq
    val typed = df
      .withColumn("stype", sentenceType(col("line")))
      .filter(col("stype").isin(SentenceTypes: _*))
      .filter(checksumValid(col("line"), lenient))
      // materialize the split ONCE as its own column: ~40 downstream
      // references (several under interpreted HOF subtrees where CSE
      // doesn't exist) would each re-split the line otherwise —
      // CollapseProject keeps this projection separate because the
      // expression is non-cheap and multiply-referenced
      .withColumn("__fields", fields(col("line")))
    val fc = col("__fields")
    // one wide projection: per-type columns gated by stype, same-named
    // columns across types (utc, lat, speed_knots, ...) coalesced.
    def gate(t: String, cs: Seq[(String, Column)]): Seq[(String, Column)] =
      cs.map { case (name, c) => (name, when(col("stype") === t, c)) }
    val all: Seq[(String, Column)] =
      gate("GPGGA", parseGga(fc)) ++ gate("GPGLL", parseGll(fc)) ++
        gate("GPGSA", parseGsa(fc)) ++ gate("GPGSV", parseGsv(fc)) ++
        gate("GPRMC", parseRmc(fc)) ++ gate("GPVTG", parseVtg(fc))
    val merged = all.groupBy(_._1).toSeq.sortBy(_._1).map { case (name, cs) =>
      cs.map(_._2).reduce((a, b) => coalesce(a, b)).as(name)
    }
    typed.select(passthrough ++ Seq(col("stype")) ++ merged: _*)
  }
}
