package gps

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import gps.parse.{NmeaFunctions => NF}
import gps.stream.FixAssembler

/** Streaming semantics: watermark late-drop, stateful fix assembly
  * incrementally across triggers, stream ≡ batch equivalence
  * (FIXTURES.md §2; SURVEY.md B41-B42). */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ck(payload: String): String = {
    val x = payload.getBytes("ASCII").foldLeft(0)((a, b) => a ^ b)
    f"$$$payload*$x%02X"
  }

  private val fix1 = Seq(
    ("A", 10L, ck("GPGGA,120000,4807.0380,N,01131.0000,E,1,08,0.9,545.4,M,46.9,M,,")),
    ("A", 11L, ck("GPGSA,A,3,04,05,,09,12,,,24,,,,,2.5,1.3,2.1")),
    ("A", 12L, ck("GPRMC,120000,A,4807.0380,N,01131.0000,E,022.4,084.4,010324,003.1,W")))
  private val fix1Vtg = ("A", 13L, ck("GPVTG,054.7,T,034.4,M,022.4,N,041.5,K"))
  private val fix2 = Seq(
    ("A", 20L, ck("GPGGA,120001,4807.0380,N,01131.0000,E,1,08,0.9,545.4,M,46.9,M,,")),
    ("A", 21L, ck("GPRMC,120001,A,4807.0380,N,01131.0000,E,010.0,084.4,010324,003.1,W")),
    ("A", 30L, ck("GPGGA,999999,0000.0000,N,00000.0000,E,1,00,0.0,0.0,M,0.0,M,,")))

  test("stateful fix assembly across triggers: late VTG enriches the open fix") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(String, Long, String)]
    val parsed = NF.parseSentences(
      mem.toDF().toDF("device", "line_no", "line"))
    val q = FixAssembler.assemble(parsed).toDF()
      .writeStream.format("memory").queryName("sfix")
      .outputMode("append").start()
    try {
      mem.addData(fix1: _*) // fix1 still open — nothing emitted
      q.processAllAvailable()
      assert(spark.table("sfix").count() == 0)
      mem.addData(fix1Vtg +: fix2: _*) // VTG joins fix1, then fix2 closes it
      q.processAllAvailable()
      val rows = spark.table("sfix").orderBy("utc").collect()
      assert(rows.map(_.getAs[String]("utc")).toSeq == Seq("120000", "120001"))
      val f1 = rows(0)
      assert(f1.getAs[Double]("speed_kmph") == 41.5) // VTG made it in
      assert(f1.getAs[Double]("vdop") == 2.1)        // GSA made it in
      assert(f1.getAs[Boolean]("complete"))
    } finally q.stop()
  }

  test("stream ≡ batch: assembler gives identical fixes on the golden stream") {
    val all = (fix1 :+ fix1Vtg) ++ fix2
    val batch = FixAssembler.assemble(
      NF.parseSentences(all.toDF("device", "line_no", "line")))
      .collect().filter(_.complete)
      .map(f => (f.device, f.utc, f.speed_kmph, f.types_seen))
    assert(batch.toSet == Set(
      ("A", "120000", Some(41.5), "GPGGA,GPGSA,GPRMC,GPVTG"),
      ("A", "120001", None, "GPGGA,GPRMC")))
  }

  test("stream ≡ batch fold ≡ plain-Scala merge on generated device logs " +
      "(ScalaCheck)") {
    import org.scalacheck.{Gen, Prop, Test}
    import org.scalacheck.Prop.propBoolean
    import org.scalacheck.rng.Seed
    import org.apache.spark.sql.Row
    implicit val sc = spark.sqlContext
    def hms(sec: Int) =
      f"${sec / 3600 % 24}%02d${sec / 60 % 60}%02d${sec % 60}%02d"
    def dmy(sec: Int) = f"${1 + sec / 86400}%02d0324"
    def num(lo: Int, hi: Int, fmt: String) = Gen.choose(lo, hi).map(fmt.format(_))
    def all[T](gs: Seq[Gen[T]]): Gen[List[T]] =
      gs.foldRight(Gen.const(List.empty[T]))((g, acc) =>
        for (x <- g; xs <- acc) yield x :: xs)
    val lat = num(0, 89999999, "%08d").map(d => s"${d.take(4)}.${d.drop(4)}")
    val lon = num(0, 179999999, "%09d").map(d => s"${d.take(5)}.${d.drop(5)}")
    val dop = Gen.choose(5, 99).map(d => s"${d / 10}.${d % 10}")
    def gga(sec: Int) = for {
      la <- lat; lo <- lon; n <- num(3, 12, "%02d"); h <- dop
      alt <- num(0, 9999, "%d")
    } yield s"GPGGA,${hms(sec)},$la,N,$lo,E,1,$n,$h,$alt.0,M,46.9,M,,"
    def rmc(sec: Int) = for {
      la <- lat; lo <- lon; kn <- num(0, 999, "%03d")
    } yield s"GPRMC,${hms(sec)},A,$la,N,$lo,E,$kn.4,084.4,${dmy(sec)},003.1,W"
    val gsa = for (p <- dop; h <- dop; v <- dop)
      yield s"GPGSA,A,3,04,05,,09,12,,,24,,,,,$p,$h,$v"
    val vtg = for (kn <- num(0, 999, "%03d"); km <- num(0, 999, "%03d"))
      yield s"GPVTG,054.7,T,034.4,M,$kn.4,N,$km.5,K"
    // one GSV sentence of 0-4 satellites; empty slots keep the 16 fields
    val gsv = Gen.choose(0, 4).flatMap(k => Gen.listOfN(k,
        num(1, 32, "%02d").map(prn => s"$prn,40,083,46")))
      .map(ss => s"GPGSV,1,1,${ss.size}," +
        (ss ++ Seq.fill(4 - ss.size)(",,,")).mkString(","))
    // one fix second: the sentences that may carry its timestamp, with GSA
    // and VTG following RMC, and sometimes a second GGA (last writer wins)
    def fix(sec: Int) = for {
      g <- Gen.option(gga(sec)); vs <- Gen.listOfN(2, gsv).flatMap(Gen.someOf(_))
      r <- Gen.frequency(4 -> rmc(sec).map(Some(_)), 1 -> Gen.const(None))
      after <- Gen.someOf(gsa, vtg); g2 <- Gen.frequency(1 -> gga(sec)
        .map(Some(_)), 4 -> Gen.const(None))
    } yield g.toSeq ++ vs ++ r.toSeq ++ after ++ g2
    // a device: untimed sentences before its first fix, then 1-6 fixes
    def device(start: Int) = for {
      pre <- Gen.choose(0, 2).flatMap(Gen.listOfN(_, Gen.oneOf(gsa, gsv, vtg)))
      off <- Gen.choose(0, 3); n <- Gen.choose(1, 6)
      fixes <- all((0 until n).map(i => fix(start + off + i)))
    } yield pre ++ fixes.flatten
    // devices interleaved in arrival order, line_no = arrival index; about
    // one line in ten is replayed later with its original line_no; the
    // shared start keeps every device inside the watermark, one log in two
    // crossing midnight
    val log: Gen[Seq[(String, Long, String)]] = for {
      start <- Gen.oneOf(43200, 86396)
      devs <- Gen.choose(1, 3).flatMap(k => all(Seq.fill(k)(device(start))))
      mix <- Gen.choose(0L, Long.MaxValue)
      order = new scala.util.Random(mix).shuffle(
        devs.indices.flatMap(d => Seq.fill(devs(d).size)(d)))
      arrived = order.zipWithIndex.foldLeft((Vector.empty[(String, Long,
          String)], Map.empty[Int, Int])) { case ((acc, pos), (d, i)) =>
        (acc :+ ((s"D$d", i.toLong, ck(devs(d)(pos.getOrElse(d, 0))))),
          pos.updated(d, pos.getOrElse(d, 0) + 1))
      }._1
      replays <- all(arrived.indices.map(i => Gen.frequency(9 -> Gen.const(None),
        1 -> Gen.choose(i + 0.5, arrived.size + 0.5).map(k => Some(k -> i)))))
    } yield (arrived.indices.map(i => i.toDouble -> arrived(i)) ++
      replays.flatten.map { case (k, i) => k -> arrived(i) }).sortBy(_._1).map(_._2)
    val cols = Seq("device", "utc", "date", "fix_time", "lat", "lon",
      "quality", "numsat", "hdop", "vdop", "alt", "speed_knots",
      "speed_kmph", "track_deg", "n_sats_view", "types_seen")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.map(col): _*).collect().map(_.mkString("|")).sorted.toSeq
    // The reference: the windowed merge semantics, in plain Scala over the
    // parse rows of one device: replays dropped, the last non-null utc
    // carried forward, one fix per run of the carried utc, per field the
    // last non-null value by line_no, satellite counts summed, the sorted
    // set of sentence types, and GoodEnough.
    def merge(device: String, parsed: Seq[Row]): Seq[String] = {
      val byArrival = parsed.distinctBy(_.getAs[Long]("line_no"))
        .sortBy(_.getAs[Long]("line_no"))
      val carried = byArrival.scanLeft(Option.empty[String])((u, r) =>
        Option(r.getAs[String]("utc")).orElse(u)).tail
      val runs = byArrival.zip(carried).collect { case (r, Some(u)) => (u, r) }
        .foldLeft(Vector.empty[(String, Vector[Row])]) {
          case (acc, (u, r)) if acc.lastOption.exists(_._1 == u) =>
            acc.init :+ (u -> (acc.last._2 :+ r))
          case (acc, (u, r)) => acc :+ (u -> Vector(r))
        }
      runs.map { case (utc, rs) =>
        def last(c: String): Any =
          rs.reverseIterator.map(_.getAs[Any](c)).find(_ != null).orNull
        val sats = rs.map(r =>
          Option(r.getAs[collection.Seq[Row]]("sats_in_view")).fold(0)(_.size))
        Seq(device, utc) ++ cols.slice(2, 14).map(last) :+ sats.sum :+
          rs.map(_.getAs[String]("stype")).distinct.sorted.mkString(",")
      }.filter(f => Seq(2, 4, 5).forall(f(_) != null)) // date, lat, lon
        .map(_.mkString("|"))
    }
    var fixesSeen, casesRun = 0
    val prop = Prop.forAllNoShrink(log, Gen.listOfN(3, Gen.choose(0, 1000))) {
        (lines, cuts) =>
      casesRun += 1
      // No sentinel closes a device's last fix: the batch fold flushes it;
      // in the stream, the heartbeat's timeout does.
      val input = lines.toDF("device", "line_no", "line")
      val batch = FixAssembler.assemble(NF.parseSentences(input)).toDF()
      val reference = NF.parseSentences(input).collect().toSeq
        .groupBy(_.getAs[String]("device"))
        .flatMap { case (d, ps) => merge(d, ps) }.toSeq.sorted
      val mem = MemoryStream[(String, Long, String)]
      val q = FixAssembler.assemble(NF.parseSentences(
          mem.toDF().toDF("device", "line_no", "line"))).toDF()
        .writeStream.format("memory").queryName(s"prop_$casesRun")
        .outputMode("append").start()
      val streamed = try {
        val at = (0 +: cuts.map(_ * lines.size / 1000) :+ lines.size).sorted
        at.zip(at.tail).foreach { case (a, b) =>
          mem.addData(lines.slice(a, b): _*); q.processAllAvailable()
        }
        // a heartbeat a day later moves the watermark past every fix; the
        // batch after it runs the timeout sweep that emits every open fix
        Seq(0, 1).foreach { i =>
          mem.addData(("__wm__", lines.size + 100L + i, ck(s"GPRMC,13000$i," +
            "A,0000.0000,N,00000.0000,E,000.0,084.4,030324,003.1,W")))
          q.processAllAvailable()
        }
        spark.table(s"prop_$casesRun").filter(col("device") =!= "__wm__")
      } finally q.stop()
      val (b, r, st) = (rows(batch), reference, rows(streamed))
      fixesSeen += b.size
      Prop.all(
        (batch.filter(!col("complete")).isEmpty) :| "batch emitted an incomplete fix",
        (b == r) :| s"batch fold vs reference:\n${b.diff(r)}\n${r.diff(b)}",
        (st == b) :| s"stream vs batch fold:\n${st.diff(b)}\n${b.diff(st)}")
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(8)
      .withInitialSeed(Seed(20261017L)), prop)
    assert(res.passed, res.status.toString)
    assert(fixesSeen > 20, s"only $fixesSeen fixes in $casesRun logs")
  }

  test("event-time timeout closes and evicts a silent device's open fix (B42)") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(String, Long, String)]
    val parsed = NF.parseSentences(
      mem.toDF().toDF("device", "line_no", "line"))
    val q = FixAssembler.assemble(parsed).toDF()
      .writeStream.format("memory").queryName("evict")
      .outputMode("append").start()
    try {
      mem.addData(fix1: _*) // A's fix at 12:00:00 — open, nothing emitted
      q.processAllAvailable()
      assert(spark.table("evict").filter(col("device") === "A").count() == 0)
      // a different device advances event time to 13:00 → after this
      // batch the watermark is 12:50, past A's 12:10 eviction anchor
      mem.addData(("B", 100L,
        ck("GPRMC,130000,A,4807.0380,N,01131.0000,E,010.0,084.4,010324,003.1,W")))
      q.processAllAvailable()
      // the next batch's timeout sweep fires for A: the open fix emits
      // WITHOUT any closing sentence from A, and A's state is removed
      mem.addData(("B", 101L,
        ck("GPRMC,130100,A,4807.0380,N,01131.0000,E,010.0,084.4,010324,003.1,W")))
      q.processAllAvailable()
      val a = spark.table("evict").filter(col("device") === "A").collect()
      assert(a.length == 1, s"expected A's fix flushed by timeout: ${a.toSeq}")
      assert(a(0).getAs[String]("utc") == "120000")
      assert(a(0).getAs[Boolean]("complete"))
      assert(a(0).getAs[String]("types_seen") == "GPGGA,GPGSA,GPRMC")
    } finally q.stop()
  }

  test("watermark drops late data across triggers (B41)") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Double)]
    def ts(min: Int) = java.sql.Timestamp.from(
      java.time.Instant.parse("2024-01-01T10:00:00Z").plusSeconds(min * 60L))
    val agg = mem.toDF().toDF("ts", "v")
      .withWatermark("ts", "5 minutes")
      .groupBy(window(col("ts"), "10 minutes"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("wmtest")
      .outputMode("append").start()
    try {
      mem.addData((ts(1), 1.0), (ts(5), 1.0)) // window 10:00-10:10
      q.processAllAvailable()
      mem.addData((ts(30), 1.0)) // advances watermark to 10:25 → closes w1
      q.processAllAvailable()
      mem.addData((ts(2), 9.0)) // LATE: before watermark → dropped
      q.processAllAvailable()
      mem.addData((ts(60), 1.0)) // close the 10:30 window too
      q.processAllAvailable()
      val n = spark.table("wmtest")
        .select(date_format(col("window.start"), "HH:mm").as("w"), col("n"))
        .as[(String, Long)].collect().toMap
      assert(n("10:00") == 2) // late row NOT counted
      assert(n("10:30") == 1)
    } finally q.stop()
  }

  test("replayed lines (same line_no) are idempotent in the assembler") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(String, Long, String)]
    val parsed = NF.parseSentences(
      mem.toDF().toDF("device", "line_no", "line"))
    val q = FixAssembler.assemble(parsed).toDF()
      .writeStream.format("memory").queryName("replay")
      .outputMode("append").start()
    try {
      mem.addData(fix1: _*)
      q.processAllAvailable()
      mem.addData(fix1: _*) // full replay of the open fix — must not dup
      q.processAllAvailable()
      mem.addData(fix2: _*)
      q.processAllAvailable()
      val utcs = spark.table("replay").select("utc").as[String].collect()
      assert(utcs.count(_ == "120000") == 1)
    } finally q.stop()
  }

  test("RocksDB state store: flagship merge + stateful joins result-identical") {
    // Spark's own provider key on the session reaches every stateful
    // query's runToMemory; every stateful query must produce
    // byte-identical results under either store — the deployment knob
    // for 100x key cardinality must never be a semantics knob
    val sf = "/root/testdata/sf0.001"
    val qs = engine.stream.StreamQueries.queries
    Seq("stream_stateful_merge", "stream_join_stream", "stream_dedup")
      .foreach { id =>
        val base = qs(id).fn(spark, sf).collect().map(_.toString).sorted.toSeq
        val rocks = engine.Core.withConfs(spark)(
            "spark.sql.streaming.stateStore.providerClass" ->
              ("org.apache.spark.sql.execution.streaming.state." +
                "RocksDBStateStoreProvider"))(
          qs(id).fn(spark, sf).collect().map(_.toString).sorted.toSeq)
        assert(rocks == base, s"$id differs under RocksDB")
        assert(rocks.nonEmpty, s"$id returned no rows")
      }
  }

  test("fix assembly invariant under files per trigger and state-store count") {
    // trigger admission and the store count size the work, never the
    // result: any file split and any store count must assemble the
    // identical fix set (decomposition invariance)
    val sf = "/root/testdata/sf0.001"
    val q = engine.stream.StreamQueries.queries("stream_stateful_merge")
    def run(): (Seq[String], Int) = {
      val (rows, rec) = TestSpark.recorder.measure(
        q.fn(spark, sf).collect().map(_.toString).sorted.toSeq)
      (rows, rec.triggers.count(_.query == "graft_merge_sink"))
    }
    val (base, baseTriggers) = run()
    assert(base.nonEmpty)
    // 4 of the source's 32 files per trigger: 8 data triggers where the
    // default admits the whole log in one
    val (alt, altTriggers) = engine.Core.withConfs(spark)(
      engine.stream.StreamQueries.MaxFilesPerTriggerKey -> "4")(run())
    assert(altTriggers > baseTriggers,
      s"the split ran $altTriggers triggers, the default $baseTriggers")
    assert(alt == base, "merge result depends on files per trigger")

    // 6 devices × 5 fixes, device-interleaved, over 3 triggers; the store
    // count is the shuffle width the stream starts under
    val log = (0 until 5).flatMap { i =>
      ('A' to 'F').flatMap { dv =>
        val t = f"1200${i * 7 + dv - 'A'}%02d"
        val lat = f"48${dv - 'A'}%02d.${i}%04d"
        Seq(s"GPGGA,$t,$lat,N,01131.0000,E,1,0${5 + i},0.9,545.4,M,46.9,M,,",
          s"GPRMC,$t,A,$lat,N,01131.0000,E,02$i.4,084.4,010324,003.1,W")
          .map(l => (dv.toString, ck(l)))
      }
    }.zipWithIndex.map { case ((dv, l), n) => (dv, n.toLong, l) }
    def fold(width: Int): (Seq[String], Seq[Long]) =
      engine.Core.withConfs(spark)(
          "spark.sql.shuffle.partitions" -> width.toString) {
        implicit val sc = spark.sqlContext
        val mem = MemoryStream[(String, Long, String)]
        val sq = FixAssembler.assemble(NF.parseSentences(
            mem.toDF().toDF("device", "line_no", "line"))).toDF()
          .writeStream.format("memory").queryName(s"width_$width")
          .outputMode("append").start()
        try {
          log.grouped(log.size / 3 + 1).foreach { part =>
            mem.addData(part: _*); sq.processAllAvailable()
          }
          // a heartbeat a day later: its timeout sweep emits every open fix
          Seq(0, 1).foreach { i =>
            mem.addData(("__wm__", log.size + 100L + i, ck(s"GPRMC,13000$i," +
              "A,0000.0000,N,00000.0000,E,000.0,084.4,030324,003.1,W")))
            sq.processAllAvailable()
          }
          (spark.table(s"width_$width").filter(col("device") =!= "__wm__")
            .collect().map(_.toString).sorted.toSeq,
            sq.recentProgress.flatMap(_.stateOperators)
              .map(_.numStateStoreInstances).distinct.toSeq)
        } finally sq.stop()
      }
    val (one, oneStores) = fold(1)
    val (eight, eightStores) = fold(8)
    assert(oneStores == Seq(1L) && eightStores == Seq(8L),
      s"store counts $oneStores / $eightStores")
    assert(one.size == 30, s"${one.size} fixes, expected 30")
    assert(eight == one, "fixes depend on the state-store count")
  }

  test("stream-stream interval join: cross-trigger pairs join, watermark drops late") {
    import org.apache.spark.sql.functions.{col, expr}
    implicit val sc = spark.sqlContext
    val clicks = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val purchases = MemoryStream[(Long, Long, java.sql.Timestamp)]
    def side(m: MemoryStream[(Long, Long, java.sql.Timestamp)], as: String) =
      m.toDF().toDF("event_id", "user_id", "ts")
        .withWatermark("ts", "10 minutes").alias(as)
    val joined = side(clicks, "c").join(side(purchases, "p"),
        expr("""c.user_id = p.user_id AND
                p.ts >= c.ts AND p.ts <= c.ts + interval 1 hour"""))
      .select(col("c.event_id").as("click_id"),
        col("p.event_id").as("purchase_id"))
    val q = joined.writeStream.format("memory").queryName("ssj_spec")
      .outputMode("append").start()
    def ts(min: Int) = java.sql.Timestamp.valueOf(
      f"2024-01-01 ${10 + min / 60}%02d:${min % 60}%02d:00")
    try {
      // click buffered in trigger 1, its purchase arrives in trigger 2:
      // the join must pair ACROSS triggers from buffered state
      clicks.addData((1L, 7L, ts(0)))
      q.processAllAvailable()
      purchases.addData((100L, 7L, ts(30)))
      q.processAllAvailable()
      // advance both watermarks past click 1's join horizon (+1h +10m)
      clicks.addData((2L, 7L, ts(300)))
      purchases.addData((101L, 7L, ts(300)))
      q.processAllAvailable()
      // in-window for click 1 but behind the watermark: state is evicted
      // and the row is dropped — NO pair may appear
      purchases.addData((102L, 7L, ts(40)))
      q.processAllAvailable()
      val pairs = spark.table("ssj_spec").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((1L, 100L), (2L, 101L)), pairs.toString)
    } finally q.stop()
  }
}
