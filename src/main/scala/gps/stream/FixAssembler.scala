package gps.stream

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.{col, size, when}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import gps.parse.NmeaFunctions.SentenceTypes

/** One parsed NMEA sentence, narrowed to the fields a [[StreamFix]] is built
  * from: [[FixAssembler.assemble]] selects these from the output of
  * NmeaFunctions.parseSentences (names bind, column order is free), with
  * the GSV satellite list reduced to its count. No field is an array, so
  * neither this row's encoder nor the state's needs MapObjects. */
case class ParsedSentence(
    device: String,
    line_no: Long,
    stype: String,
    utc: Option[String],
    date: Option[String],
    fix_time: Option[java.sql.Timestamp],
    lat: Option[Double],
    lon: Option[Double],
    quality: Option[Int],
    numsat: Option[Int],
    hdop: Option[Double],
    vdop: Option[Double],
    alt: Option[Double],
    speed_knots: Option[Double],
    speed_kmph: Option[Double],
    track_deg: Option[Double],
    n_sats_view: Option[Int])

/** An emitted (closed) GPS fix. */
case class StreamFix(
    device: String,
    utc: String,
    date: Option[String],
    fix_time: Option[java.sql.Timestamp],
    lat: Option[Double],
    lon: Option[Double],
    quality: Option[Int],
    numsat: Option[Int],
    hdop: Option[Double],
    vdop: Option[Double],
    alt: Option[Double],
    speed_knots: Option[Double],
    speed_kmph: Option[Double],
    track_deg: Option[Double],
    n_sats_view: Int,
    complete: Boolean,
    types_seen: String)

/** Per-device stream state: the fix currently being assembled — exactly the
  * reference's `$CurrentUTC` cursor + `$Nmea[$CurrentUTC]` open row
  * (class.nmea.parser.php:22,25), except bounded: closed fixes are emitted
  * downstream instead of accumulating forever (the reference never evicts —
  * SURVEY.md §4.2). `current.n_sats_view` holds the satellites counted so
  * far; `types` is the open fix's sentence-type flag set (:173 etc.) as a
  * bitmask over [[gps.parse.NmeaFunctions.SentenceTypes]]. */
case class FixBuffer(current: Option[ParsedSentence], maxLineNo: Long,
    types: Int)

/** GPS-fix assembly, batch and streaming — the flagship stateful operator
  * (SURVEY.md B42) and the only fix assembly there is. One per-device
  * `Fold`, keyed by the `device` column, folds sentences in arrival
  * (`line_no`) order; a timestamped sentence whose utc differs from the
  * open fix closes it (emit), mirroring ParseLine's behavior one-to-one
  * while scaling across devices/executors. Batch and stream differ only
  * in how a device's sentences reach the fold and when its last fix is
  * flushed (see [[FixAssembler.assemble]]). Fixes are keyed by the run of
  * the carried utc, not by time-of-day alone (the reference's midnight
  * collision, SURVEY.md §1.5.9); incomplete fixes (GoodEnough :126-129)
  * are dropped, not leaked forever (:18).
  *
  * The typed boundary is kept flat. The fold reads only the 17 columns of
  * [[ParsedSentence]], so Catalyst prunes every other parse column (GSA's
  * `sats`, the GSV slot details, magvar, ...) out of the parse projection;
  * grouping by the column needs no per-row deserialization to find the
  * key; and no input, state or output encoder has an array field.
  */
object FixAssembler {

  /** GoodEnough (:126-129). */
  private def goodEnough(p: ParsedSentence): Boolean =
    p.date.isDefined && p.utc.isDefined && p.lat.isDefined && p.lon.isDefined

  private def typeBit(stype: String): Int = 1 << SentenceTypes.indexOf(stype)

  /** Mutable working copy of the open fix — the last-writer-wins field
    * merge of `$Nmea[$CurrentUTC][field] = value` (class.nmea.parser.php
    * :173-187 etc.). Folding into vars allocates only per fix open/close,
    * not per sentence: last writer wins, GSV satellite counts add up (:261
    * intended semantics: every satellite of the group is kept), `utc` is
    * pinned at open. */
  private final class OpenFix(p: ParsedSentence, var types: Int) {
    val utc = p.utc // fix key — constant within the open fix
    var line_no = p.line_no; var stype = p.stype
    var date = p.date; var fix_time = p.fix_time
    var lat = p.lat; var lon = p.lon; var quality = p.quality
    var numsat = p.numsat; var hdop = p.hdop; var vdop = p.vdop
    var alt = p.alt; var speed_knots = p.speed_knots
    var speed_kmph = p.speed_kmph; var track_deg = p.track_deg
    var n_sats_view = p.n_sats_view.getOrElse(0)

    def add(s: ParsedSentence): Unit = {
      line_no = s.line_no; stype = s.stype
      if (s.date.isDefined) date = s.date
      if (s.fix_time.isDefined) fix_time = s.fix_time
      if (s.lat.isDefined) lat = s.lat
      if (s.lon.isDefined) lon = s.lon
      if (s.quality.isDefined) quality = s.quality
      if (s.numsat.isDefined) numsat = s.numsat
      if (s.hdop.isDefined) hdop = s.hdop
      if (s.vdop.isDefined) vdop = s.vdop
      if (s.alt.isDefined) alt = s.alt
      if (s.speed_knots.isDefined) speed_knots = s.speed_knots
      if (s.speed_kmph.isDefined) speed_kmph = s.speed_kmph
      if (s.track_deg.isDefined) track_deg = s.track_deg
      n_sats_view += s.n_sats_view.getOrElse(0)
      types |= typeBit(s.stype)
    }

    def toSentence(device: String): ParsedSentence = ParsedSentence(
      device = device, line_no = line_no, stype = stype, utc = utc,
      date = date, fix_time = fix_time, lat = lat, lon = lon,
      quality = quality, numsat = numsat, hdop = hdop, vdop = vdop,
      alt = alt, speed_knots = speed_knots, speed_kmph = speed_kmph,
      track_deg = track_deg, n_sats_view = Some(n_sats_view))
  }

  private def toFix(p: ParsedSentence, types: Int): StreamFix =
    StreamFix(
      device = p.device, utc = p.utc.getOrElse(""), date = p.date,
      fix_time = p.fix_time, lat = p.lat, lon = p.lon, quality = p.quality,
      numsat = p.numsat, hdop = p.hdop, vdop = p.vdop, alt = p.alt,
      speed_knots = p.speed_knots, speed_kmph = p.speed_kmph,
      track_deg = p.track_deg,
      n_sats_view = p.n_sats_view.getOrElse(0),
      complete = goodEnough(p),
      // SentenceTypes is sorted, so this is the batch assembly's
      // array_join(array_sort(collect_set(stype)), ",")
      types_seen = SentenceTypes.indices.filter(i => (types >> i & 1) == 1)
        .map(SentenceTypes).mkString(","))

  /** Watermark delay AND per-fix eviction cushion. A fix whose device has
    * been silent for this long past the fix's own event time is closed and
    * emitted by timeout; rows disordered by less than this are never
    * dropped as late. The synth log is time-ordered (event_id is monotone
    * in ts), so real disorder is only same-second interleaving. */
  val WatermarkDelay = "10 minutes"
  private val CushionMs = 10 * 60 * 1000L

  private val Empty = FixBuffer(None, -1L, 0)

  /** The fold itself: one device's sentences, in `line_no` order, folded
    * into closed fixes from a `prior` buffer. A timestamped sentence whose
    * utc differs from the open fix closes it; every other sentence merges
    * into the open fix. Only GoodEnough fixes are emitted; [[buffer]] is
    * the state to carry on. Holds one open fix, whatever the history. */
  private final class Fold(device: String, prior: FixBuffer) {
    private var maxLineNo = prior.maxLineNo
    private var open: OpenFix =
      prior.current.map(new OpenFix(_, prior.types)).orNull

    private def close(f: OpenFix): Option[StreamFix] =
      Some(f.toSentence(device)).filter(goodEnough).map(toFix(_, f.types))

    /** Folds in one sentence; returns the fix it closes, if emittable. */
    def add(s: ParsedSentence): Option[StreamFix] = {
      // replayed/duplicate lines at or before the high-water mark are
      // ignored (exactly-once against source replays)
      if (s.line_no <= maxLineNo) return None
      maxLineNo = s.line_no
      if (s.utc.isDefined && (open == null || open.utc != s.utc)) {
        val closed = Option(open).flatMap(close)
        open = new OpenFix(s, typeBit(s.stype))
        closed
      } else {
        // a pre-fix, timestamp-less sentence is dropped: the reference
        // piles these under key 0 (:29), which is never GoodEnough
        if (open != null) open.add(s)
        None
      }
    }

    /** The still-open fix, if emittable. */
    def last: Option[StreamFix] = Option(open).flatMap(close)

    def buffer: FixBuffer =
      if (open == null) FixBuffer(None, maxLineNo, 0)
      else FixBuffer(Some(open.toSentence(device)), maxLineNo, open.types)
  }

  /** Batch form: the whole device, sorted by `line_no`, from an empty
    * buffer. Fixes stream out as they close; the last open fix is flushed
    * at the end of the group, since no later sentence will close it. */
  private def foldBatch(device: String,
      sorted: Iterator[ParsedSentence]): Iterator[StreamFix] = {
    val fold = new Fold(device, Empty)
    sorted.flatMap(fold.add) ++ fold.last
  }

  /** Stream form: one trigger's sentences of a device, sorted here, from
    * the device's state. Emits every fix closed in this trigger and keeps
    * the still-open fix in state for the next. An event-time timeout at
    * the open fix's own time + cushion flushes and removes the state of a
    * silent device instead of keeping it forever — the reference's
    * unbounded `$Nmea` defect (class.nmea.parser.php:18,25; SURVEY.md
    * §4.2), fixed. */
  private def foldStream(device: String, it: Iterator[ParsedSentence],
      state: GroupState[FixBuffer]): Iterator[StreamFix] = {
    if (state.hasTimedOut) {
      // Silent device: close and emit the open fix, drop the state.
      // Known tradeoff: removal also discards maxLineNo, the replay
      // high-water mark — a duplicate line replayed AFTER eviction but
      // still inside the watermark window re-assembles as a fresh fix and
      // can double-emit. Accepted: eviction fires one full cushion
      // (10 min) past the fix's own event time, so such a replay must be
      // >10 min late yet non-late by watermark — impossible here, since
      // the cushion equals the watermark delay; keeping tombstones would
      // reintroduce the reference's unbounded-state defect for a replay
      // pattern the source (monotone line_no per device) cannot produce.
      val out = state.getOption.flatMap(new Fold(device, _).last)
      state.remove()
      return out.iterator
    }
    val fold = new Fold(device, state.getOption.getOrElse(Empty))
    // strict: the state is written only after the whole trigger is folded
    val out = it.toSeq.sortBy(_.line_no).flatMap(fold.add)
    val buf = fold.buffer
    state.update(buf)
    // Timeouts must be re-armed on every invocation. The open fix's own
    // event time anchors the timeout; a fix that has no RMC yet inherits
    // the current watermark as its anchor (it still evicts one cushion
    // after the stream moves on). Both anchors are >= the current
    // watermark, which setTimeoutTimestamp requires. Before the first
    // watermark there is no anchor for a fix without an RMC: it stays
    // unarmed until its device's next sentence. Anchoring it on the
    // initial zero watermark would evict it at the first advance and
    // split the fix at the first trigger boundary. Such a fix cannot be
    // emitted without an RMC, so the unarmed state never holds output.
    val wm = state.getCurrentWatermarkMs()
    buf.current.flatMap(_.fix_time).map(_.getTime)
      .orElse(Some(wm).filter(_ > 0))
      .foreach(a => state.setTimeoutTimestamp(math.max(a, wm) + CushionMs))
    out.iterator
  }

  /** Assembly over the output of NmeaFunctions.parseSentences, streaming
    * or batch: one row per GoodEnough fix. Both forms run the same
    * `Fold`. A batch frame runs it once per device through
    * `flatMapSortedGroups`, which adds `line_no` to the sort the grouping
    * needs anyway; it emits fixes as they close and flushes each device's
    * last fix, so a device's memory is one open fix, not its history. A
    * stream runs it through `flatMapGroupsWithState`, per trigger, with
    * event-time state eviction (watermark on `fix_time`, carried by RMC
    * sentences).
    *
    * Eviction IS the watermark contract: a sentence arriving more than
    * [[WatermarkDelay]] of event time after its fix opened may find the
    * fix already flushed (and may itself be dropped as late) — the stream
    * then differs from batch for that fix. That horizon is the necessary
    * price of bounded state (the alternative is the reference's
    * grow-forever map); real fixes span ~1 second, so the 10-minute
    * cushion is ~600x the observed intra-fix spread.
    *
    * `size(sats_in_view)` keeps the parse's GSV `filter` higher-order
    * function live, which keeps the parse projection out of whole-stage
    * codegen; see NmeaFunctions.parseSentences for why that matters. */
  def assemble(parsed: DataFrame): Dataset[StreamFix] = {
    import parsed.sparkSession.implicits._
    val narrow = parsed.select(
      Seq("device", "line_no", "stype", "utc", "date", "fix_time", "lat",
        "lon", "quality", "numsat", "hdop", "vdop", "alt", "speed_knots",
        "speed_kmph", "track_deg").map(col) :+
        // null, not size's legacy -1, for the non-GSV sentences
        when(col("sats_in_view").isNotNull, size(col("sats_in_view")))
          .as("n_sats_view"): _*)
    if (parsed.isStreaming)
      narrow.withWatermark("fix_time", WatermarkDelay)
        .groupBy(col("device")).as[String, ParsedSentence]
        .flatMapGroupsWithState(OutputMode.Append,
          GroupStateTimeout.EventTimeTimeout)(foldStream)
    else
      narrow.groupBy(col("device")).as[String, ParsedSentence]
        .flatMapSortedGroups(col("line_no"))(foldBatch)
  }

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
