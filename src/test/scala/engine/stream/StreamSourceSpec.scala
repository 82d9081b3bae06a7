package engine.stream

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import gps.TestSpark

/** Pins the file layout that the flagship's bounded-trigger posture
  * depends on. `maxFilesPerTrigger=N` only bounds a trigger if the
  * published source has MORE than N files — round 3 found a bare
  * `orderBy` write AQE-coalesced to 4 files, silently turning the
  * "bounded" stream into one whole-log trigger. */
class StreamSourceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val Mft = engine.stream.StreamQueries.MaxFilesPerTriggerKey
  import spark.implicits._

  test("win_sessionize (batch) agrees with stream_session window-for-window") {
    // same 30-minute gap, two execution models: the batch gaps-and-islands
    // rollup and Structured Streaming's session_window must segment
    // identically (an event at exactly last+gap opens a new session in both)
    val sf = "/root/testdata/sf0.001"
    val batch = graft.SparkEntry.queries("win_sessionize")(spark, sf)
      .select("user_id", "session_start_us", "n_events", "sum_value")
      .collect().map(_.toSeq).toSet
    val stream = graft.SparkEntry.queries("stream_session")(spark, sf)
      .select("user_id", "session_start", "n_events", "sum_value")
      .collect().map(_.toSeq).toSet
    assert(batch == stream)
    assert(batch.nonEmpty)
  }

  test("stream_cusum: multi-trigger fold lands on the batch ts_cusum " +
      "statistic exactly (prefix-fold state at every cut point)") {
    val sf = "/root/testdata/sf0.001"
    val batch = graft.SparkEntry.queries("ts_cusum")(spark, sf)
      .collect().map(_.toSeq).toSeq
    def run(): Seq[Seq[Any]] =
      graft.SparkEntry.queries("stream_cusum")(spark, sf)
        .collect().map(_.toSeq).toSeq
    val multi = engine.Core.withConfs(spark)(Mft -> "11")(run())
    val single = run()
    assert(multi == single && single == batch)
    assert(batch.exists(_.last == true), "alarms must fire on the fixture")
  }

  test("stream_ewma: multi-trigger ring-buffer fold lands on batch " +
      "ts_ewma value-for-value") {
    val sf = "/root/testdata/sf0.001"
    val batch = graft.SparkEntry.queries("ts_ewma")(spark, sf)
      .collect().map(_.toSeq).toSeq
    def run(): Seq[Seq[Any]] =
      graft.SparkEntry.queries("stream_ewma")(spark, sf)
        .collect().map(_.toSeq).toSeq
    val multi = engine.Core.withConfs(spark)(Mft -> "11")(run())
    val single = run()
    assert(multi == single && single == batch)
    assert(batch.nonEmpty)
  }

  test("stream_upsert_sink: trigger split does not change the folded state") {
    // last-writer-wins by a total sequence is associative, so the 3-round
    // fold (mft=11) must land on exactly the single-trigger default's
    // state — this pin is what keeps the cross-batch merge path exercised
    // now that the op's default replays a static corpus in ONE trigger
    val sf = "/root/testdata/sf0.001"
    def run(): Seq[Seq[Any]] =
      graft.SparkEntry.queries("stream_upsert_sink")(spark, sf)
        .collect().map(_.toSeq).toSeq
    val multi = engine.Core.withConfs(spark)(Mft -> "11")(run())
    val single = run()
    assert(multi == single)
    assert(multi.nonEmpty)
  }

  test("stream_cdc_apply: trigger split does not change the applied state, " +
      "and tombstoned keys are absent from the served view") {
    // tombstone retention in the fold is what makes last-writer-wins
    // associative over deletes: the 3-round fold (mft=11) must land on
    // exactly the single-trigger default's served view
    val sf = "/root/testdata/sf0.001"
    def run(): Seq[Seq[Any]] =
      graft.SparkEntry.queries("stream_cdc_apply")(spark, sf)
        .collect().map(_.toSeq).toSeq
    val multi = engine.Core.withConfs(spark)(Mft -> "11")(run())
    val single = run()
    assert(multi == single)
    assert(multi.nonEmpty)
    // every key whose LAST change is a delete must be missing; every
    // other key present exactly once with its last non-recomputed row
    import org.apache.spark.sql.functions._
    val last = engine.Core.t(spark, sf, "events")
      .groupBy(col("user_id"))
      .agg(max(col("event_id")).as("last_seq"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val served = single.map(r => r.head.asInstanceOf[Long]).toSet
    last.foreach { case (k, seq) =>
      if (seq % 10 == 0)
        assert(!served.contains(k), s"tombstoned key $k resurrected")
      else assert(served.contains(k), s"live key $k missing")
    }
    assert(last.exists(_._2 % 10 == 0),
      "testdata should contain at least one final-delete key")
  }

  test("stream_scd2_apply: trigger split does not change the dimension " +
      "table — boundary-spanning runs merge instead of splitting") {
    // the run-length merge fold is associative only because a state run
    // crossing a trigger boundary coalesces with the carried open run;
    // the 3-round fold must equal the single-trigger default AND the
    // batch scd2_build
    val sf = "/root/testdata/sf0.001"
    def run(): Seq[Seq[Any]] =
      graft.SparkEntry.queries("stream_scd2_apply")(spark, sf)
        .collect().map(_.toSeq).toSeq
    val multi = engine.Core.withConfs(spark)(Mft -> "11")(run())
    val single = run()
    val batch = graft.SparkEntry.queries("scd2_build")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(multi == single)
    assert(single == batch, "online fold diverged from scd2_build")
    assert(batch.nonEmpty)
  }

  test("stream_topk: trigger split does not change the leaderboard") {
    // top-k selection is associative (topk(topk(A) ∪ B) = topk(A ∪ B)),
    // so the 3-round fold must land on the single-trigger default's
    // state — the pin that keeps the cross-batch merge path exercised
    val sf = "/root/testdata/sf0.001"
    def run(): Seq[Seq[Any]] =
      graft.SparkEntry.queries("stream_topk")(spark, sf)
        .collect().map(_.toSeq).toSeq
    val multi = engine.Core.withConfs(spark)(Mft -> "11")(run())
    val single = run()
    assert(multi == single)
    assert(multi.nonEmpty)
    // per-type ranks are dense 1..k and capped at the depth
    multi.groupBy(_.head).values.foreach { g =>
      assert(g.size <= 5 && g.map(_(1)) == (1 to g.size).toSeq)
    }
  }

  test("stream_asof_enrich: trigger split does not change the enrichment " +
      "and matches batch join_asof") {
    // under time-ordered admission, "latest dimension seen so far" is
    // the event-time as-of for ANY split point — state carries exactly
    // the last dimension row per key across triggers, so the 3-trigger
    // run must equal the single-trigger default AND the batch operator
    val sf = "/root/testdata/sf0.001"
    def run(): Seq[Seq[Any]] =
      graft.SparkEntry.queries("stream_asof_enrich")(spark, sf)
        .collect().map(_.toSeq).toSeq
    val multi = engine.Core.withConfs(spark)(Mft -> "11")(run())
    val single = run()
    assert(multi == single)
    assert(multi.nonEmpty)
    val batch = graft.SparkEntry.queries("join_asof")(spark, sf)
      .select(col("event_id"), col("user_id"), col("matched_order"))
      .collect().map(_.toSeq).toSeq
    assert(multi == batch,
      "streaming as-of enrichment diverged from batch join_asof")
  }

  test("the trigger-size override splits a sized source and leaves an " +
      "unsized one in one trigger") {
    // the decomposition tests above compare a run under the override
    // with the default run; if the override were ignored, both would be
    // single-trigger and those tests would check nothing
    val sf = "/root/testdata/sf0.001"
    val recorder = graft.OpRecorder.attach(spark)
    // neither query runs a no-data trigger: the upsert fold is
    // stateless, and a complete-mode aggregation evicts nothing
    def triggers(q: String, sink: String): Int = {
      val (_, rec) = recorder.measure(engine.Core.withConfs(spark)(Mft -> "11")(
        graft.SparkEntry.queries(q)(spark, sf).collect()))
      rec.triggers.count(_.query == sink)
    }
    assert(triggers("stream_upsert_sink", "upsert_fold") >= 3)
    // stream_watermark_late's oracle holds only for a single trigger
    assert(triggers("stream_watermark_late", "graft_wm_sink") == 1)
  }

  test("ordered publish yields >maxFilesPerTrigger contiguous-range files") {
    val df = (0 until 10000).map(i => (i.toLong, s"row$i")).toDF("k", "v")
    val tag = "spec_layout_" + System.nanoTime() // unique: force a fresh publish
    val dir = StreamQueries.publishSource(df, tag, orderedBy = Some("k"))
    try {
      val parts = new java.io.File(dir).listFiles()
        .filter(f => f.getName.startsWith("part-") && !f.getName.endsWith(".crc"))
        .sortBy(_.getName)
      assert(parts.length == 32,
        s"expected 32 range files (AQE must not coalesce), got ${parts.length}")
      // admission order (mtime, path) must follow key order: file k's max
      // key < file k+1's min key, and mtimes strictly increase
      assert(parts.sliding(2).forall { case Array(a, b) =>
        a.lastModified < b.lastModified })
      val ranges = parts.map { f =>
        val r = spark.read.parquet(f.getPath).agg(min("k"), max("k")).head()
        (r.getLong(0), r.getLong(1))
      }
      assert(ranges.sliding(2).forall { case Array((_, amax), (bmin, _)) =>
        amax < bmin }, s"ranges not contiguous-ordered: ${ranges.toSeq}")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(new java.io.File(dir))
      // publishOnce's commit-step lock file sits BESIDE the published dir
      // — without this the per-run unique tag strands one .lock in /tmp
      // per spec execution (r3 advisor)
      rm(new java.io.File(dir + ".lock"))
    }
  }

  test("maintenance_compact collapses the fragmented layout 64 -> 4 files") {
    graft.SparkEntry.queries("maintenance_compact")(
      spark, "/root/testdata/sf0.001").collect()
    // the op's scratch dirs follow engine.Core.scratchRoot (r18) — a
    // hardcoded /tmp here NPE'd on a fresh box and false-passed against
    // stale pre-scratchRoot artifacts on a dev box (r18 review)
    def parts(p: String) = Option(new java.io.File(
        s"${engine.Core.scratchRoot}/$p").listFiles())
      .getOrElse(Array.empty)
      .count(f => f.getName.startsWith("part-") && !f.getName.endsWith(".crc"))
    assert(parts("graft_frag_v1__root_testdata_sf0_001") == 64)
    assert(parts("graft_compacted__root_testdata_sf0_001") == 4)
  }
}
