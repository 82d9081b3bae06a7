package engine.stream

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import engine.Core.{t, r4}
import engine.Q
import gps.parse.{NmeaFunctions, NmeaSynth}
import gps.stream.FixAssembler

/** Structured Streaming surface (SURVEY.md §2 B5, B38–B43).
  *
  * Real streaming execution under `Trigger.AvailableNow` with memory sinks
  * so each query terminates and returns a DataFrame the driver can verify;
  * event-time windows are also expressed batch-side where DuckDB can check
  * them (the contract's batch-equivalent oracle strategy).
  *
  * Session settings: a run's width, no-data and micro-batch planning
  * settings are scoped with [[engine.Core.withConfs]], the only way
  * engine code changes a session setting. The state-store provider is
  * not scoped: a RocksDB run (off-heap, disk-spillable state) sets
  * Spark's own `spark.sql.streaming.stateStore.providerClass` on the
  * session, and StreamingSpec pins that results do not depend on it.
  */
object StreamQueries {

  /** Files in an ordered source ([[publishSource]] with `orderedBy`).
    * A caller that admits this many files per trigger replays the whole
    * source in one trigger. */
  private[engine] val SourceFiles = 32

  /** The one trigger-size setting: files admitted per trigger by every
    * source opened with a `maxFilesPerTrigger`, in place of the size its
    * caller passed. Trigger count drives a micro-batch run's fixed cost,
    * so this is a deployment decision made once, not a query option.
    * Sources opened without a size stay single-trigger under it. */
  val MaxFilesPerTriggerKey = "spark.graft.maxFilesPerTrigger"

  /** Write a batch df to a scratch parquet dir and open it as a stream.
    * The content is a deterministic function of (query, sf dir), so an
    * existing complete dir (_SUCCESS) is reused instead of rewritten —
    * the merge source is 600k rows and rebuilding it dominated the
    * streaming flagship's bench time. `maxFilesPerTrigger` is the
    * caller's trigger size; [[MaxFilesPerTriggerKey]] overrides it. */
  private[engine] def asFileStream(spark: SparkSession, df: DataFrame, tag: String,
      singleFile: Boolean = false, orderedBy: Option[String] = None,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val dir = publishSource(df, tag, singleFile, orderedBy)
    val reader = spark.readStream.schema(df.schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger",
      spark.conf.getOption(MaxFilesPerTriggerKey).fold(n)(_.toInt)))
    reader.parquet(dir)
  }

  /** Publish the batch df as the stream's file-source directory; returns
    * the dir. Package-private so StreamingSpec can pin the file layout
    * that `maxFilesPerTrigger` bounding depends on. */
  private[stream] def publishSource(df: DataFrame, tag: String,
      singleFile: Boolean = false, orderedBy: Option[String] = None): String = {
    // tag MUST be sf-qualified by the caller — the cache is per content;
    // v-suffix = source format version (bump on content change).
    // publishOnce = temp dir + atomic rename (no cross-process races).
    engine.Core.publishOnce(s"${engine.Core.scratchRoot}/graft_stream_src_v1_$tag") { tmp =>
      val out = orderedBy match {
        // EXPLICIT 32-way range partitioning ⇒ 32 part files where file
        // k's key range precedes file k+1's, modeling a log that arrives
        // in order. (A bare orderBy is AQE-coalesced to ~4 files — fewer
        // than maxFilesPerTrigger, which silently un-bounds the trigger;
        // an explicit repartition count is exempt from AQE coalescing.)
        // comma-separated names form a composite admission key (e.g.
        // "tu,event_id" — ts-major with a unique tiebreak), so batch
        // boundaries can never interleave an earlier-ts row into a
        // later trigger when ts is not monotone in the surrogate id
        case Some(c) =>
          val ks = c.split(",").map(n => col(n.trim)).toSeq
          df.repartitionByRange(SourceFiles, ks: _*).sortWithinPartitions(ks: _*)
        case None => if (singleFile) df.coalesce(1) else df
      }
      out.write.mode("overwrite").parquet(tmp)
      // FileStreamSource admits files by (mtime, path); a parallel write
      // leaves mtimes unordered, so stagger them in part-name order to
      // make multi-trigger admission follow the sort order
      if (orderedBy.isDefined) {
        val parts = new java.io.File(tmp).listFiles()
          .filter(_.getName.startsWith("part-")).sortBy(_.getName)
        val base = System.currentTimeMillis() - parts.length * 2000L
        parts.zipWithIndex.foreach { case (f, i) =>
          // loud failure: silently unordered mtimes would let triggers
          // admit files out of key order and the watermark would then
          // drop later files' rows as late — wrong answers, no error
          require(f.setLastModified(base + i * 2000L),
            s"could not stagger mtime of $f — file-stream admission order" +
              " would be undefined")
        }
      }
    }
  }

  /** Run `body` (a foreachBatch stream-to-completion and its store
    * reads) under micro-batch planning confs, scoped by
    * [[engine.Core.withConfs]]:
    *
    *  - `spark.sql.shuffle.partitions` = [[engine.Core.SmallFrameWidth]]:
    *    trigger frames are batch-sized; 32-way exchanges pay 4× the
    *    task-scheduling overhead of the data's actual width;
    *  - constraint propagation OFF: it re-derives the constraint set
    *    per Project/Filter/Join node per ACTION per TRIGGER, and on the
    *    wide signature plans (32 minhash slots + 8 band keys per row)
    *    that driver CPU dominates small-batch planning — measured −14%
    *    on pipeline_online at sf0.1 with byte-identical results.
    *    Disabling it can only drop INFERRED predicates (IsNotNull,
    *    transitive join filters) — an optimization, never semantics;
    *    every consumer of these runs stays oracle-gated.
    *  - adaptive execution OFF: AQE materializes every exchange
    *    as its own serialized query stage (a Spark job each, with a
    *    driver re-optimize between) — the right trade on TB shuffles,
    *    pure overhead on batch-sized trigger frames whose partition
    *    count is already pinned above. Same-JVM A/B on pipeline_online
    *    at sf0.1: 9.7-9.8 s with AQE → 9.2-9.6 s without, stages
    *    100 → 87 — a small (~3-5%) but consistently-signed win whose
    *    real content is the 13 fewer serialized stage barriers per
    *    run; byte-identical results. The store FOLDS that rely on
    *    AQE's small-output coalescing (AppendTable.compact,
    *    compactIndexSegments) all run in the separate maintenance ops,
    *    OUTSIDE this wrapper — per-trigger appends are batch-sized and
    *    write small files either way.
    *
    * On a real cluster all three are per-job deployment confs; scoping
    * them to the trigger loop is the local analogue. */
  private[engine] def withMicroBatchConfs[T](s: SparkSession)(body: => T): T =
    engine.Core.withConfs(s)(
      "spark.sql.shuffle.partitions" -> engine.Core.SmallFrameWidth.toString,
      "spark.sql.constraintPropagation.enabled" -> "false",
      "spark.sql.adaptive.enabled" -> "false")(body)

  /** Run a stream to completion: one `Trigger.AvailableNow` pass over
    * everything its sources hold, named `name`, under a fresh checkpoint
    * that is deleted afterwards. The only place engine code starts a
    * stream. It scopes no setting: a caller that plans its triggers under
    * other settings wraps the call.
    *
    * The checkpoint (WAL + state stores) is transient by design here —
    * one-shot AvailableNow run, memory or foreachBatch sink — so it goes
    * to the scratch root (tmpfs when available): state-store commits were
    * the dominant IO (and run-to-run variance) of every stateful stream
    * on a disk-backed /tmp. A real deployment with a durable sink needs a
    * durable checkpoint instead — that's a recovery requirement, not a
    * throughput choice. */
  private[engine] def runToCompletion(writer: DataStreamWriter[Row],
      name: String): Unit = {
    val ck = new java.io.File(
      s"${engine.Core.scratchRoot}/graft_ckpt_${name}_${java.util.UUID.randomUUID}")
    // start() is inside the try: it can throw after creating checkpoint
    // dirs, and a stranded dir on tmpfs is leaked RAM
    try writer.queryName(name).option("checkpointLocation", ck.getPath)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    finally engine.Core.deleteRecursively(ck)
  }

  /** Run a streaming df to completion into a memory sink; return result.
    *
    * Stateful streams pin the shuffle width at first start (AQE is off
    * for stateful workloads), and every stateful operator then runs one
    * state store per partition, each paying WAL + commit IO per
    * trigger; the run pins [[engine.Core.SmallFrameWidth]]. */
  private def runToMemory(spark: SparkSession, sdf: DataFrame, name: String,
      mode: String = "append", noDataBatches: Boolean = true): DataFrame = {
    spark.catalog.dropTempView(name) // tolerate re-runs within a session
    // noDataBatches=false skips the trailing empty microbatch that only
    // advances the watermark and evicts state. Callers may opt out ONLY
    // when the sink result cannot depend on it (e.g. a complete-mode agg
    // whose dedup filter already ran in the data batches); any query
    // whose OUTPUT needs a watermark sweep — timeout-evicted fixes,
    // append-mode window finalization — must keep it true.
    engine.Core.withConfs(spark)(
        "spark.sql.streaming.noDataMicroBatches.enabled" ->
          noDataBatches.toString,
        "spark.sql.shuffle.partitions" ->
          engine.Core.SmallFrameWidth.toString)(
      runToCompletion(sdf.writeStream.format("memory").outputMode(mode), name))
    spark.table(name)
  }

  /** The events table as a streaming file source, published once per sf
    * and shared by the window queries (B38-B40). */
  private def eventsStream(s: SparkSession, d: String): DataFrame =
    asFileStream(s,
      t(s, d, "events").select(col("event_id"), col("user_id"), col("ts"),
        col("event_type"), col("value")),
      s"events_${d.replaceAll("[^a-zA-Z0-9]", "_")}")

  /** B38: tumbling event-time window (the per-second fix keying :172,
    * widened to hours), executed as a real stream: file source → windowed
    * agg → complete-mode memory sink. A single AvailableNow batch makes
    * complete mode emit exactly the batch result, so the DuckDB
    * date_trunc oracle holds verbatim. Complete+memory is the *harness*
    * sink (it must buffer the whole result); a production deployment runs
    * the same agg in append mode behind a watermark to a real sink, which
    * emits each window once and keeps state bounded — exactly the shape
    * B41 (stream_watermark_late) demonstrates. */
  private val streamTumbling = Q(
    (s, d) => {
      val agg = eventsStream(s, d)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        // 2-dp value summed as exact integer cents: order-free at any
        // scale AND trigger-decomposition-free — a streaming partial agg
        // must merge identically however the input splits into batches
        .agg(count(lit(1)).as("n"),
          r4(sum(round(col("value") * 100, 0).cast("long")) / 100.0)
            .as("sum_value"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:00").as("h"),
          col("event_type"), col("n"), col("sum_value"))
      runToMemory(s, agg, "graft_tumble_sink", mode = "complete")
        .orderBy("h", "event_type")
    },
    Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS h,
        event_type, count(*) AS n,
        round(sum(CAST(round(value * 100, 0) AS BIGINT)) / 100.0, 4)
          AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY h, event_type"""))

  /** B39: sliding window (2h length, 1h slide) as a real stream — each
    * event lands in two windows; oracle unnests both window starts. */
  private val streamSliding = Q(
    (s, d) => {
      val agg = eventsStream(s, d)
        .groupBy(window(col("ts"), "2 hours", "1 hour"))
        .agg(count(lit(1)).as("n"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:00").as("ws"),
          col("n"))
      runToMemory(s, agg, "graft_slide_sink", mode = "complete")
        .orderBy("ws")
    },
    Some("""SELECT strftime(ws, '%Y-%m-%d %H:00') AS ws, count(*) AS n
      FROM (SELECT unnest([date_trunc('hour', ts),
                           date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS ws
            FROM events)
      GROUP BY 1 ORDER BY ws"""))

  /** B40: session window — trip segmentation by gap (the fix-gap semantics
    * of UTC keying) as a real stream; complete mode merges sessions across
    * the batch. Oracle = lag+cumsum island detection. */
  private val streamSession = Q(
    (s, d) => {
      val agg = eventsStream(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"),
          r4(sum(round(col("value") * 100, 0).cast("long")) / 100.0)
            .as("sum_value"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("session_start"),
          col("n_events"), col("sum_value"))
      runToMemory(s, agg, "graft_session_sink", mode = "complete")
        .orderBy("user_id", "session_start")
    },
    Some("""WITH marked AS (
        SELECT user_id, ts, value,
          CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                 >= INTERVAL 30 MINUTE OR
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
          THEN 1 ELSE 0 END AS new_session
        FROM events),
      islands AS (
        SELECT user_id, ts, value,
          sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM marked)
      SELECT user_id, epoch_us(min(ts)) AS session_start,
        count(*) AS n_events,
        round(sum(CAST(round(value * 100, 0) AS BIGINT)) / 100.0, 4)
          AS sum_value
      FROM islands GROUP BY user_id, sid
      ORDER BY user_id, session_start"""))

  /** B5 + B41: real streaming file source → watermark → tumbling agg →
    * memory sink, Trigger.AvailableNow. Single batch ⇒ watermark starts at
    * epoch and drops nothing, so the batch oracle holds exactly (late-drop
    * behavior itself is unit-tested with a two-batch MemoryStream). */
  private val streamWatermarkLate = Q(
    (s, d) => {
      // single file ⇒ one batch ⇒ the watermark (which only advances
      // *between* batches) drops nothing and complete mode emits every
      // window — exactly the batch oracle. Late-drop semantics are
      // unit-tested with a two-batch MemoryStream (StreamingSpec).
      val src = asFileStream(s, t(s, d, "events")
        .select(col("ts"), col("event_type"), col("value")), s"wm_${d.replaceAll("[^a-zA-Z0-9]", "_")}",
        singleFile = true)
      val agg = src
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:00").as("h"),
          col("n"))
      runToMemory(s, agg, "graft_wm_sink", mode = "complete")
        .orderBy("h")
    },
    Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS h,
        count(*) AS n
      FROM events GROUP BY 1 ORDER BY h"""))

  /** B43: streaming deduplication — duplicate sentence suppression
    * (last-writer-wins :173-187 degenerated to identical replays). The
    * source replays every event twice; dropDuplicates restores exact
    * counts. */
  private val streamDedup = Q(
    (s, d) => {
      val ev = t(s, d, "events").select(col("event_id"), col("user_id"),
        col("ts"))
      val doubled = ev.unionAll(ev)
      val src = asFileStream(s, doubled, s"dedupv2_${d.replaceAll("[^a-zA-Z0-9]", "_")}")
      // dropDuplicatesWithinWatermark, NOT dropDuplicates: plain dedup
      // state lives forever (one entry per event_id ever seen — the
      // unbounded-state anti-pattern at 100 TB); the watermark form
      // evicts a key once the watermark passes its event time + delay,
      // which is the semantics replay suppression needs (replays arrive
      // promptly, not days later). Exact here: a single AvailableNow
      // admission processes all rows before the watermark first advances
      // (a production run evicts continuously across its many triggers;
      // replay pairs share a ts, so co-admission keeps them in-window).
      val deduped = src.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark("event_id")
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
      // noDataBatches=false: the trailing empty batch only evicts expired
      // dedup keys (the output of this complete-mode agg is fixed after
      // the last data batch); eviction semantics are pinned by
      // StreamingSpec's two-batch MemoryStream test, not by this run.
      // Two stateful operators here (the watermark dedup + the agg): at
      // the session's 32 partitions they paid 64 store commits per
      // trigger; the small-frame width measured 3.06 -> 2.05 s warm at
      // sf0.1 (MiniBench A/B, 32 -> 8), with results width-invariant.
      runToMemory(s, deduped, "graft_dedup_sink", mode = "complete",
        noDataBatches = false)
        .orderBy("user_id")
    },
    Some("""SELECT user_id, count(DISTINCT event_id) AS n_events
      FROM events GROUP BY user_id ORDER BY user_id"""),
    doc = "complete-mode agg after streaming dropDuplicates")

  /** B42: the flagship as a *real stream* — synthesized NMEA lines flow
    * through flatMapGroupsWithState fix assembly (per-device state), then
    * the same trip summary as the batch pipeline; the oracle is the same
    * arithmetic reconstruction over events.
    *
    * Scale posture: the log is served as range-partitioned files admitted
    * a few per trigger (`maxFilesPerTrigger`), so a trigger's per-device
    * buffer in [[FixAssembler]] is a bounded slice (~batch_rows/devices),
    * never the whole log; open fixes of devices that go silent are closed
    * by the assembler's event-time timeout. The single `__wm__` heartbeat
    * line (1h past the last event) advances the final watermark so every
    * device's last open fix flushes via timeout — the heartbeat's own fix
    * is behind the final watermark and is never emitted.
    *
    * The fold reads a 17-column, array-free row per sentence and keys by
    * the `device` column, so the parse computes only what a fix keeps.
    * Parse and fold are the bulk of this op's task CPU; its parse is
    * deliberately kept out of whole-stage codegen (see
    * NmeaFunctions.parseSentences). */
  private val streamStatefulMerge = Q(
    (s, d) => {
      val lines = NmeaSynth.readLog(s, d)
      val hbTs = col("mx") + expr("INTERVAL 1 HOUR")
      val heartbeat = t(s, d, "events")
        .agg(max(col("ts")).as("mx"), max(col("event_id")).as("meid"))
        .select(lit("__wm__").as("device"),
          (col("meid") * 10 + 100).as("line_no"),
          NmeaSynth.withChecksum(concat_ws(",",
            lit("GPRMC"), date_format(hbTs, "HHmmss"), lit("A"),
            lit("0000.0000"), lit("N"), lit("00000.0000"), lit("E"),
            lit("000.0"), lit("084.4"), date_format(hbTs, "ddMMyy"),
            lit("003.1"), lit("W"))).as("line"))
      // the per-trigger buffer bound is O(maxFilesPerTrigger × file size)
      // — an absolute cap independent of total log length (a 2000-file
      // production log still admits 16 files per trigger), which is what
      // keeps FixAssembler's per-device it.toSeq slice bounded at scale
      val src = asFileStream(s, lines.unionByName(heartbeat),
        s"mergev3_${d.replaceAll("[^a-zA-Z0-9]", "_")}",
        orderedBy = Some("line_no"), maxFilesPerTrigger = Some(16))
      val fixes = FixAssembler.assemble(NmeaFunctions.parseSentences(src))
      // ~150 devices over Core.SmallFrameWidth stores: assembly
      // parallelism is capped by device count anyway (~19 devices/store
      // at 8), and the store count sets per-trigger WAL+commit IO
      val out = runToMemory(s, fixes.toDF(), "graft_merge_sink")
      out.filter(col("device") =!= "__wm__")
        .filter(col("complete"))
        .filter(col("numsat") >= 5 && col("hdop") <= 8.0)
        .groupBy(col("device"),
          date_format(date_trunc("hour", col("fix_time")), "yyyy-MM-dd HH:00")
            .as("hour"))
        .agg(count(lit(1)).as("n_fixes"),
          round(avg(col("lat")), 6).as("avg_lat"),
          round(avg(col("lon")), 6).as("avg_lon"),
          r4(max(col("speed_knots"))).as("max_knots"))
        .orderBy("device", "hour")
    },
    Some("""WITH f AS (
        SELECT user_id, date_trunc('second', ts) AS sec,
               arg_max(value, event_id) AS value
        FROM events GROUP BY 1, 2
      ), g AS (
        SELECT user_id, sec, value,
          fmod(value, 90.0) - 45.0 AS lat0,
          fmod(value * 7.0, 180.0) - 90.0 AS lon0,
          fmod(value, 60.0) AS knots0,
          fmod(value, 10.0) AS hdop,
          user_id % 8 + 4 AS numsat
        FROM f
      ), p AS (
        SELECT user_id, sec, hdop, numsat, round(knots0, 2) AS knots,
          (CASE WHEN lat0 < 0 THEN -1 ELSE 1 END) *
            round(floor(abs(lat0))
              + round((abs(lat0) - floor(abs(lat0))) * 60.0, 4) / 60.0, 6) AS lat,
          (CASE WHEN lon0 < 0 THEN -1 ELSE 1 END) *
            round(floor(abs(lon0))
              + round((abs(lon0) - floor(abs(lon0))) * 60.0, 4) / 60.0, 6) AS lon
        FROM g
      )
      SELECT CAST(user_id AS VARCHAR) AS device,
        strftime(date_trunc('hour', sec), '%Y-%m-%d %H:00') AS hour,
        count(*) AS n_fixes,
        round(avg(lat), 6) AS avg_lat,
        round(avg(lon), 6) AS avg_lon,
        round(max(knots), 4) AS max_knots
      FROM p
      WHERE hdop <= 8.0 AND numsat >= 5
      GROUP BY 1, 2
      ORDER BY device, hour"""))

  /** B5b: stream-STATIC join — the enrich-with-dimension pattern: every
    * micro-batch joins against a broadcast static profile table.
    * Stateless (no watermark, no state store): the static side is fixed
    * for the run, so this is the one streaming join that scales with
    * ZERO state — at 100 TB the dimension broadcasts once per executor
    * and the stream never shuffles. */
  private val streamJoinStatic = Q(
    (s, d) => {
      val prof = t(s, d, "events").groupBy(col("user_id"))
        .agg(count(lit(1)).as("user_n"))
      val joined = eventsStream(s, d)
        .filter(col("event_type") === "purchase")
        .join(broadcast(prof), "user_id")
        .select(col("event_id"), col("user_id"), col("user_n"),
          r4(col("value")).as("value"))
      runToMemory(s, joined, "graft_sjoin_sink").orderBy("event_id")
    },
    Some("""SELECT e.event_id, e.user_id, p.user_n, round(e.value, 4) AS value
      FROM events e
      JOIN (SELECT user_id, count(*) AS user_n FROM events GROUP BY user_id) p
        ON e.user_id = p.user_id
      WHERE e.event_type = 'purchase'
      ORDER BY e.event_id"""))

  /** B5c: stream-STREAM interval join — click→purchase attribution: each
    * purchase pairs with the same user's clicks in the preceding hour.
    * Both sides carry a watermark and the join condition bounds event
    * time BOTH ways, so Spark derives a state-eviction horizon for each
    * side — the stream-stream join form whose state is bounded at scale
    * (an unconstrained-time join would buffer both streams forever).
    * Exact under AvailableNow: admission order cannot drop rows because
    * the watermark only advances between triggers. */
  private val streamJoinStream = Q(
    (s, d) => {
      val san = d.replaceAll("[^a-zA-Z0-9]", "_")
      def side(typ: String, as: String) = asFileStream(s,
          t(s, d, "events").filter(col("event_type") === typ)
            .select(col("event_id"), col("user_id"), col("ts")),
          s"sj_${typ}_$san")
        .withWatermark("ts", "2 hours").alias(as)
      val joined = side("click", "c").join(side("purchase", "p"),
          expr("""c.user_id = p.user_id AND
                  p.ts >= c.ts AND p.ts <= c.ts + interval 1 hour"""))
        .select(col("c.event_id").as("click_id"),
          col("p.event_id").as("purchase_id"), col("c.user_id").as("user_id"))
      // few hundred active users ⇒ 8 state partitions; 32 would mean 4x
      // the per-trigger store commits for no extra parallelism
      runToMemory(s, joined, "graft_ssjoin_sink")
        .orderBy("click_id", "purchase_id")
    },
    Some("""SELECT c.event_id AS click_id, p.event_id AS purchase_id,
        c.user_id AS user_id
      FROM (SELECT * FROM events WHERE event_type = 'click') c
      JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        ON c.user_id = p.user_id
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
      ORDER BY click_id, purchase_id"""))

  /** B5d: streaming UPSERT sink via `foreachBatch` — the merge pattern
    * for sinks with no native upsert (plain parquet here; the same shape
    * drives JDBC/key-value merges): each micro-batch folds into a keyed
    * state table as `arg_max` by event seq over (previous state ∪ batch).
    * Correct under ANY batch split because last-writer-wins by a total
    * sequence is associative — the multi-trigger run (maxFilesPerTrigger)
    * and the DuckDB whole-table oracle agree by construction. State
    * carries ONE row per key (not history), so the merge read+rewrite is
    * O(keys + batch) per trigger.
    *
    * Each version is written to a FRESH dir and the [[VersionedTable]]
    * CURRENT pointer is swapped atomically — a crash anywhere leaves the
    * previous version readable (the delete-then-move it replaces had a
    * window where no state table existed at all). */
  private val streamUpsertSink = Q(
    (s, d) => {
      val san = d.replaceAll("[^a-zA-Z0-9]", "_")
      val state = new java.io.File(s"${engine.Core.scratchRoot}/graft_upsert_state_$san")
      VersionedTable.destroy(state) // fresh fold — the run IS the replay
      val src = asFileStream(s,
        t(s, d, "events").select(col("event_id"), col("user_id"),
          col("event_type"), col("value")),
        // single-trigger default for the static replay: last-writer-wins
        // by a total sequence is associative, so any split folds to the
        // same state (StreamSourceSpec pins the 11-files = 3-round split
        // against this default); each extra trigger costs a full state
        // read+rewrite+commit cycle
        s"upsert_${san}", orderedBy = Some("event_id"),
        maxFilesPerTrigger = Some(SourceFiles))
      val mergeBatch: (DataFrame, Long) => Unit = (batch, batchId) => {
        val sp = batch.sparkSession
        val prev = VersionedTable.read(sp, state).getOrElse(
          sp.emptyDataFrame.select(lit(0L).as("user_id"),
            lit(0L).as("last_event_id"), lit("").as("last_type"),
            lit(0.0).as("last_value")).limit(0))
        val up = batch.select(col("user_id"), col("event_id"),
            col("event_type"), col("value"))
          .unionByName(prev.select(col("user_id"),
            col("last_event_id").as("event_id"),
            col("last_type").as("event_type"),
            col("last_value").as("value")))
          .groupBy(col("user_id"))
          .agg(max(col("event_id")).as("last_event_id"),
            expr("max_by(event_type, event_id)").as("last_type"),
            expr("max_by(value, event_id)").as("last_value"))
        VersionedTable.commit(up, state, batchId)
      }
      runToCompletion(src.writeStream.foreachBatch(mergeBatch), "upsert_fold")
      VersionedTable.read(s, state)
        .getOrElse(sys.error(s"upsert state missing at $state"))
        .select(col("user_id"), col("last_event_id"), col("last_type"),
          r4(col("last_value")).as("last_value"))
        .orderBy("user_id")
    },
    Some("""SELECT user_id, max(event_id) AS last_event_id,
        arg_max(event_type, event_id) AS last_type,
        round(arg_max(value, event_id), 4) AS last_value
      FROM events GROUP BY user_id ORDER BY user_id"""))

  // ------------------------------------------------------ B5e stream_topk
  /** Leaderboard depth per event type. */
  private val TopKDepth = 5

  /** B5e: continuous per-group TOP-K maintenance — the streaming
    * leaderboard: each micro-batch folds into a per-event-type
    * top-[[TopKDepth]] state table (rank by value desc, ties to the
    * lower event_id) under the [[VersionedTable]] atomic pointer. Top-k
    * selection is ASSOCIATIVE — topk(topk(A) ∪ B) = topk(A ∪ B) — so
    * the fold lands on the identical state under ANY trigger split
    * (StreamSourceSpec pins a 3-round split against the single-trigger
    * default) and the whole-log DuckDB window oracle agrees by
    * construction. The streaming complement of the batch
    * `topk_per_group`, and the shape of every "current top sellers"
    * dashboard tile.
    *
    * Scale posture: state carries ≤ types × k rows, so the per-trigger
    * merge is O(batch + types·k) — the batch ranks through one
    * WindowGroupLimit heap inside its own exchange, the union with the
    * bounded store re-ranks ≤ types × 2k rows, and the commit rewrites
    * only the tiny state table. Nothing in the trigger path scales with
    * the log's history. */
  private val streamTopk = Q(
    (s, d) => {
      val san = d.replaceAll("[^a-zA-Z0-9]", "_")
      val state = new java.io.File(s"${engine.Core.scratchRoot}/graft_topk_state_$san")
      VersionedTable.destroy(state) // fresh fold — the run IS the replay
      val src = asFileStream(s,
        t(s, d, "events").select(col("event_id"), col("event_type"),
          col("value")),
        s"topk_$san", orderedBy = Some("event_id"),
        maxFilesPerTrigger = Some(SourceFiles))
      val rankW = Window.partitionBy(col("event_type"))
        .orderBy(col("value").desc, col("event_id"))
      val mergeBatch: (DataFrame, Long) => Unit = (batch, batchId) => {
        val sp = batch.sparkSession
        val prev = VersionedTable.read(sp, state).getOrElse(
          sp.emptyDataFrame.select(lit(0L).as("event_id"),
            lit("").as("event_type"), lit(0.0).as("value")).limit(0))
        val top = batch.select(col("event_id"), col("event_type"),
            col("value"))
          .unionByName(prev)
          .withColumn("r", row_number().over(rankW))
          .filter(col("r") <= TopKDepth).drop("r")
        VersionedTable.commit(top, state, batchId)
      }
      runToCompletion(src.writeStream.foreachBatch(mergeBatch), "topk_fold")
      VersionedTable.read(s, state)
        .getOrElse(sys.error(s"topk state missing at $state"))
        .withColumn("rank", row_number().over(rankW))
        .select(col("event_type"), col("rank"), col("event_id"),
          r4(col("value")).as("value"))
        .orderBy("event_type", "rank")
    },
    Some(s"""SELECT event_type,
        row_number() OVER (PARTITION BY event_type
          ORDER BY value DESC, event_id) AS rank,
        event_id, round(value, 4) AS value
      FROM events QUALIFY rank <= $TopKDepth
      ORDER BY event_type, rank"""))

  // ------------------------------------------------ B5g stream_cdc_apply
  /** B5g: CDC CHANGELOG APPLY — the Debezium→lakehouse merge shape:
    * a keyed change stream of upserts (`I`/`U`) and deletes (`D`,
    * tombstones), applied to a keyed state table via `foreachBatch`.
    * The changelog is derived deterministically from `events`
    * (seq = event_id; every 10th change is a delete) so the whole-log
    * DuckDB oracle replays it declaratively.
    *
    * The delete handling is what distinguishes this from
    * [[streamUpsertSink]]: the fold RETAINS tombstone rows in state
    * (last-writer-wins over op included), and deleted keys are filtered
    * only at read time. Tombstone retention is what makes the fold
    * ASSOCIATIVE — drop a tombstone during the fold and a key whose
    * last change is a delete would resurrect its previous version when
    * an earlier batch's row merges later; retained, any trigger split
    * lands on the identical state (StreamSourceSpec pins a 3-round
    * split). A production applier purges tombstones after a compaction
    * horizon (Kafka compacted-topic semantics) — a retention decision
    * outside the fold's correctness contract.
    *
    * Scale posture: state is ONE row per live-or-tombstoned key; each
    * trigger's merge is O(keys + batch) — one groupBy over
    * (state ∪ batch) with max_by(_, seq) per column, committed under
    * the [[VersionedTable]] atomic pointer. At 100 TB the state table
    * is hash-partitioned on the key and the merge is partition-local
    * (the batch shuffles once on the same key). */
  private val streamCdcApply = Q(
    (s, d) => {
      val san = d.replaceAll("[^a-zA-Z0-9]", "_")
      val state = new java.io.File(s"${engine.Core.scratchRoot}/graft_cdc_state_$san")
      VersionedTable.destroy(state) // fresh fold — the run IS the replay
      val src = asFileStream(s,
        t(s, d, "events").select(col("event_id").as("seq"), col("user_id"),
          when(col("event_id") % 10 === 0, lit("D"))
            .when(col("event_id") % 10 < 4, lit("I"))
            .otherwise(lit("U")).as("op"),
          col("event_type"), col("value")),
        s"cdc_$san", orderedBy = Some("seq"),
        maxFilesPerTrigger = Some(SourceFiles))
      val mergeBatch: (DataFrame, Long) => Unit = (batch, batchId) => {
        val sp = batch.sparkSession
        val prev = VersionedTable.read(sp, state).getOrElse(
          sp.emptyDataFrame.select(lit(0L).as("user_id"),
            lit(0L).as("seq"), lit("").as("op"),
            lit("").as("event_type"), lit(0.0).as("value")).limit(0))
        val up = batch.select(col("user_id"), col("seq"), col("op"),
            col("event_type"), col("value"))
          .unionByName(prev)
          .groupBy(col("user_id"))
          .agg(max(col("seq")).as("seq"),
            expr("max_by(op, seq)").as("op"),
            expr("max_by(event_type, seq)").as("event_type"),
            expr("max_by(value, seq)").as("value"))
        VersionedTable.commit(up, state, batchId)
      }
      runToCompletion(src.writeStream.foreachBatch(mergeBatch), "cdc_apply")
      VersionedTable.read(s, state)
        .getOrElse(sys.error(s"cdc state missing at $state"))
        .filter(col("op") =!= "D") // tombstoned keys leave the served view
        .select(col("user_id"), col("seq").as("last_seq"),
          col("event_type").as("last_type"), r4(col("value")).as("last_value"))
        .orderBy("user_id")
    },
    Some("""WITH cdc AS (SELECT event_id AS seq, user_id,
          CASE WHEN event_id % 10 = 0 THEN 'D'
               WHEN event_id % 10 < 4 THEN 'I' ELSE 'U' END AS op,
          event_type, value FROM events),
        last AS (SELECT user_id, max(seq) AS last_seq,
          arg_max(op, seq) AS op, arg_max(event_type, seq) AS last_type,
          round(arg_max(value, seq), 4) AS last_value
        FROM cdc GROUP BY user_id)
      SELECT user_id, last_seq, last_type, last_value
      FROM last WHERE op <> 'D' ORDER BY user_id"""))

  // ------------------------------------------------ B5h stream_scd2_apply
  /** B5h: TYPE-2 DIMENSION maintained ONLINE — scd2_build as a
    * cross-run fold (the warehouse CDC→SCD2 merge job): closed
    * versions land once in an append-only archive
    * ([[engine.stream.AppendTable]]); each key's OPEN run (version
    * counter, state, valid_from, event count) lives under the
    * [[VersionedTable]] pointer and folds with each batch.
    *
    * The fold is RUN-LENGTH MERGE: the batch's rows collapse to runs
    * (the scd2_build window logic at batch scale), the key's open run
    * is prepended as run 0, and adjacent same-state runs coalesce — so
    * a state run spanning a trigger boundary merges instead of
    * splitting, which is exactly what makes the fold associative under
    * ANY split of the ordered log (StreamSourceSpec pins a 3-round
    * split ≡ the batch scd2_build; the DuckDB oracle is scd2_build's
    * verbatim). Version numbers stay absolute: each user's runs are
    * renumbered from its carried base, closed runs take their
    * successor's valid_from as valid_to before they are archived.
    *
    * Scale posture: per trigger, runs-in-batch is one keyed window at
    * batch scale; the open-state merge touches O(touched keys) rows;
    * closed versions append O(batch) — nothing reads the closed
    * archive on the ingest path. At rest the archive partitions by
    * valid_from date and the open table by key hash — the standard
    * warehouse layout this op models. */
  private val streamScd2Apply = Q(
    (s, d) => {
      val san = d.replaceAll("[^a-zA-Z0-9]", "_")
      val closedStore = new java.io.File(s"${engine.Core.scratchRoot}/graft_scd2_closed_$san")
      val openState = new java.io.File(s"${engine.Core.scratchRoot}/graft_scd2_open_$san")
      AppendTable.destroy(closedStore) // fresh fold — the run IS the replay
      VersionedTable.destroy(openState)
      val src0 = t(s, d, "events").select(col("event_id"), col("user_id"),
        col("event_type"), unix_micros(col("ts")).as("tu"))
      val closedSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("version",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("state",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("valid_from",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("valid_to",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_events",
          org.apache.spark.sql.types.LongType)))
      val mergeBatch: (DataFrame, Long) => Unit = (batch, batchId) => {
        val sp = batch.sparkSession
        val byTime = Window.partitionBy(col("user_id"))
          .orderBy(col("tu"), col("event_id"))
        val bruns = batch
          .withColumn("chg", when(lag(col("event_type"), 1).over(byTime)
            === col("event_type"), 0).otherwise(1))
          .withColumn("bver", sum(col("chg")).over(
            byTime.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy(col("user_id"), col("bver"))
          .agg(first(col("event_type")).as("state"),
            min(struct(col("tu"), col("event_id"))).as("fst"),
            count(lit(1)).as("n_events"))
          .select(col("user_id"), col("bver"), col("state"),
            col("fst").getField("tu").as("vf"), col("n_events"))
        val prev = VersionedTable.read(sp, openState).getOrElse(
          sp.emptyDataFrame.select(lit(0L).as("user_id"),
            lit(0L).as("version"), lit("").as("state"),
            lit(0L).as("valid_from"), lit(0L).as("n_events")).limit(0))
        val touched = bruns.select(col("user_id")).distinct()
        val prevTouched = prev.join(touched, Seq("user_id"), "leftsemi")
        // prepend each touched key's open run as run 0, carry the
        // absolute version base, coalesce adjacent same-state runs
        val allRuns = prevTouched
          .select(col("user_id"), lit(0L).as("bver"), col("state"),
            col("valid_from").as("vf"), col("n_events"))
          .unionByName(bruns)
          .join(prevTouched.select(col("user_id"),
            (col("version") - 1).as("pbase")), Seq("user_id"), "left")
          .withColumn("pbase", coalesce(col("pbase"), lit(0L)))
        val byRun = Window.partitionBy(col("user_id")).orderBy(col("bver"))
        val folded = allRuns
          .withColumn("chg2", when(lag(col("state"), 1).over(byRun)
            === col("state"), 0).otherwise(1))
          .withColumn("ver2", sum(col("chg2")).over(
            byRun.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy(col("user_id"), col("ver2"))
          .agg(first(col("state")).as("state"), min(col("vf")).as("vf"),
            sum(col("n_events")).as("n_events"),
            first(col("pbase")).as("pbase"))
          .withColumn("version", col("pbase") + col("ver2"))
          .withColumn("valid_to", lead(col("vf"), 1).over(
            Window.partitionBy(col("user_id")).orderBy(col("ver2"))))
        val closed = folded.filter(col("valid_to").isNotNull)
          .select(col("user_id"), col("version"), col("state"),
            col("vf").as("valid_from"), col("valid_to"), col("n_events"))
        val newOpen = folded.filter(col("valid_to").isNull)
          .select(col("user_id"), col("version"), col("state"),
            col("vf").as("valid_from"), col("n_events"))
        val untouched = prev.join(touched, Seq("user_id"), "left_anti")
        AppendTable.append(closed, closedStore, batchId)
        VersionedTable.commit(untouched.unionByName(newOpen), openState,
          batchId)
      }
      // admission ordered by event time (event_id only tiebreaks equal
      // tu) — the run-length fold and the whole-log oracle both order
      // by (ts, event_id), so the trigger partition must too; ordering
      // by event_id alone would rest on the testdata's undocumented
      // ts-monotone-in-event_id invariant
      val src = asFileStream(s, src0, s"scd2v2_$san",
        orderedBy = Some("tu,event_id"), maxFilesPerTrigger = Some(SourceFiles))
      runToCompletion(src.writeStream.foreachBatch(mergeBatch), "scd2_apply")
      val closed = AppendTable.read(s, closedStore, closedSchema)
        .withColumn("is_current", lit(false))
      val open = VersionedTable.read(s, openState)
        .getOrElse(sys.error(s"scd2 open state missing at $openState"))
        .select(col("user_id"), col("version"), col("state"),
          col("valid_from"), lit(null: java.lang.Long).as("valid_to"),
          col("n_events"))
        .withColumn("is_current", lit(true))
      closed.unionByName(open)
        .select(col("user_id"), col("version"), col("state"),
          col("valid_from"), col("valid_to"), col("is_current"),
          col("n_events"))
        .orderBy("user_id", "version")
    },
    // whole-log oracle: scd2_build's chain verbatim — the online fold
    // must reproduce the batch dimension table exactly
    Some("""WITH marked AS (
        SELECT user_id, ts, event_id, event_type,
          CASE WHEN lag(event_type) OVER
                 (PARTITION BY user_id ORDER BY ts, event_id) = event_type
               THEN 0 ELSE 1 END AS chg
        FROM events),
      runs AS (
        SELECT user_id, ts, event_id, event_type,
          sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS version
        FROM marked),
      vers AS (
        SELECT user_id, version, min(event_type) AS state,
          min(ts) AS fst, count(*) AS n_events
        FROM runs GROUP BY user_id, version)
      SELECT user_id, CAST(version AS BIGINT) AS version, state,
        epoch_us(fst) AS valid_from,
        epoch_us(lead(fst) OVER (PARTITION BY user_id ORDER BY version))
          AS valid_to,
        lead(fst) OVER (PARTITION BY user_id ORDER BY version) IS NULL
          AS is_current,
        n_events
      FROM vers ORDER BY user_id, version"""))

  // ------------------------------------------------ B5f stream_asof_enrich
  /** Union-row of the as-of enrich stream: a dimension VERSION (`ok`
    * set) or an EVENT (`event_id` set), both keyed and timestamped —
    * the CDC-enriched-topic shape (dimension updates and facts ride one
    * ordered log). */
  case class AsofRow(k: Long, at: java.sql.Timestamp,
      ok: Option[Long], event_id: Option[Long])
  case class AsofOut(event_id: Long, user_id: Long,
      matched_order: Long)

  /** Per-key as-of fold: rows sort by (time, dim-before-event at ties —
    * the batch NULLS FIRST discipline; as-of is <=), dimension rows
    * advance the carried version, event rows emit it. State is ONE long
    * per key (the latest dimension version seen), never history. */
  private def asofFold(key: Long, rows: Iterator[AsofRow],
      state: org.apache.spark.sql.streaming.GroupState[Long])
      : Iterator[AsofOut] = {
    // full microsecond instant, not getTime's milliseconds — a
    // dimension version landing in the same millisecond as (but after)
    // an event must still sort after it; today's dimension rows are
    // date-aligned (micros = 0) but intraday sources are not
    val sorted = rows.toSeq.sortBy(r =>
      (r.at.getTime * 1000 + r.at.getNanos / 1000 % 1000,
        r.event_id.isDefined, r.event_id.getOrElse(0L)))
    var last: Option[Long] = state.getOption
    val out = Seq.newBuilder[AsofOut]
    sorted.foreach { r =>
      r.ok match {
        case Some(o) => last = Some(o)
        case None =>
          last.foreach(o => out += AsofOut(r.event_id.get, key, o))
      }
    }
    last.foreach(state.update)
    out.result().iterator
  }

  /** B5f: STREAMING as-of enrich — join_asof's streaming twin, the
    * price-as-of-trade / config-as-of-event merge every real pipeline
    * runs daily: an event stream is enriched with
    * the LATEST-at-or-before dimension version, generalizing the
    * reference's `$CurrentUTC` carry-forward (class.nmea.parser.php:22,
    * :227-243 — each sentence stamped with the last time seen) from one
    * global scalar to per-key dimension state. Dimension versions and
    * events ride ONE time-ordered log (the CDC-enriched-topic shape);
    * `flatMapGroupsWithState` keyed by the join key carries exactly the
    * last dimension row per key — O(keys) state, no history — so under
    * ordered admission "latest seen so far" ≡ the event-time as-of, and
    * the output equals batch join_asof for ANY trigger split
    * (StreamSourceSpec pins the 3-trigger ≡ single-trigger ≡ batch
    * equivalence).
    *
    * Shape at 100 TB: per trigger the fold touches only the batch's
    * rows plus one shuffled (key, long) state row per ACTIVE key — the
    * state store, not the dimension table, absorbs the history; no
    * re-scan of either side ever happens. */
  private val streamAsofEnrich = Q(
    (s, d) => {
      import s.implicits._
      val san = d.replaceAll("[^a-zA-Z0-9]", "_")
      val dim = t(s, d, "orders")
        .groupBy(col("o_custkey").as("k"), col("o_orderdate").as("at"))
        .agg(max(col("o_orderkey")).as("ok"))
        .select(col("k"), col("at").cast("timestamp").as("at"), col("ok"),
          lit(null: java.lang.Long).as("event_id"))
      val ev = t(s, d, "events")
        .select(col("user_id").as("k"), col("ts").as("at"),
          lit(null: java.lang.Long).as("ok"), col("event_id"))
      val src = asFileStream(s, dim.unionByName(ev), s"asofen_$san",
        orderedBy = Some("at"), maxFilesPerTrigger = Some(SourceFiles))
      val enriched = src.as[AsofRow].groupByKey(_.k)
        .flatMapGroupsWithState(
          org.apache.spark.sql.streaming.OutputMode.Append,
          org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)(
          asofFold)
      // few hundred active keys ⇒ 8 state partitions (the
      // stream_join_stream sizing rationale)
      runToMemory(s, enriched.toDF(), "graft_asofen_sink")
        .orderBy("event_id")
    },
    Some("""SELECT event_id, user_id, ok AS matched_order
      FROM events ASOF JOIN
        (SELECT o_custkey AS k, o_orderdate AS at, max(o_orderkey) AS ok
         FROM orders GROUP BY 1, 2) o
        ON events.user_id = o.k AND events.ts >= o.at
      ORDER BY event_id"""))

  // --------------------------------------------------- B5i stream_cusum
  case class CusumRow(event_id: Long, event_type: String, us: Long, c: Long)
  case class CusumOut(event_id: Long, event_type: String, cusum: Long,
      is_alarm: Boolean)

  /** Per-series CUSUM fold: rows sort by (us, event_id) within the
    * trigger, the carried statistic is ONE long per series —
    * max(0, S + (c − k − aad/2)) is a left fold, so any trigger split
    * of the ordered log lands on the identical per-event statistic
    * (state at a cut point IS the prefix fold; StreamSourceSpec pins
    * 3-trigger ≡ single ≡ batch ts_cusum). */
  private def cusumFold(calib: Map[String, (Long, Long)])(
      key: String, rows: Iterator[CusumRow],
      state: org.apache.spark.sql.streaming.GroupState[Long])
      : Iterator[CusumOut] = {
    val (k, aad) = calib(key)
    var s = state.getOption.getOrElse(0L)
    val out = rows.toSeq.sortBy(r => (r.us, r.event_id)).map { r =>
      s = math.max(0L, s + (r.c - k - aad / 2))
      // alarm threshold shared with batch ts_cusum — one constant, one
      // oracle; a CusumH change cannot desynchronize the twins
      CusumOut(r.event_id, key, s, s > engine.rel.RelQueries.CusumH * aad)
    }
    state.update(s)
    out.iterator
  }

  /** B5i: STREAMING CUSUM — ts_cusum's streaming twin: the mean-shift
    * alarm evaluated per event AS IT ARRIVES, per series, against
    * pre-trained calibration. Batch ts_cusum distributes the recurrence
    * via the prefix-sum − running-min identity; the streaming form runs
    * the LITERAL max(0, S + y) fold, carrying one long of state per
    * series — the two are provably the same statistic, and the oracle
    * (the batch chain verbatim) makes that an executed check rather
    * than a claim.
    *
    * Calibration (per-series reference k and deviation aad — two
    * integers) is trained offline and closed over like a shipped config
    * (the quantile_sketch_incremental pre-declared-grid discipline;
    * here it is derived from the same corpus so the oracle can replay
    * it). State is O(series), never history; per trigger the fold
    * touches only the batch's rows. Ordered admission (us-major,
    * event_id tiebreak) is the file-source contract every stateful
    * stream here rides. */
  private val streamCusum = Q(
    (s, d) => {
      import s.implicits._
      val san = d.replaceAll("[^a-zA-Z0-9]", "_")
      val base = t(s, d, "events")
        .select(col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"),
          round(col("value") * 100, 0).cast("long").as("c"))
      val tk = base.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("c")).as("s1"))
        .withColumn("k", expr("s1 div n"))
        .select(col("event_type"), col("n"), col("k"))
      // (event_type, aad, k): series-cardinality calibration scalars
      val calib = engine.Core.boundedCollect(
          base.join(broadcast(tk), "event_type")
            .groupBy(col("event_type"))
            .agg(expr("sum(abs(c - k)) div max(n)").as("aad"),
              max(col("k")).as("k")),
          1024, "stream_cusum per-series calibration (one row per " +
            "event_type — the shipped-config table, never corpus rows)")
        .map(r => r.getString(0) -> ((r.getLong(2), r.getLong(1)))).toMap
      val src = asFileStream(s, base, s"cusum_$san",
        orderedBy = Some("us,event_id"), maxFilesPerTrigger = Some(SourceFiles))
      val out = src.as[CusumRow].groupByKey(_.event_type)
        .flatMapGroupsWithState(
          org.apache.spark.sql.streaming.OutputMode.Append,
          org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)(
          cusumFold(calib))
      // 5 series ⇒ 8 state partitions (the stream_join_stream sizing)
      runToMemory(s, out.toDF(), "graft_cusum_sink")
        .orderBy("event_id")
    },
    Some(engine.rel.RelQueries.cusumSql))

  // ---------------------------------------------------- B5j stream_ewma
  case class EwmaRow(event_id: Long, user_id: Long, us: Long, c: Long)
  case class EwmaOut(event_id: Long, user_id: Long, ewma: Double)

  /** Per-series EWMA fold: state is the RING of the last K−1 cents
    * (most recent first) — exactly the window the finite-K weight
    * ladder reads, so any trigger split reproduces batch ts_ewma
    * value-for-value (the state at a cut point IS the ring the next
    * batch's first row needs). Weights 2^(K-1-i), numerator and
    * denominator exact BIGINT, the one division + floor-form round
    * identical to the batch op. */
  private def ewmaFold(key: Long, rows: Iterator[EwmaRow],
      state: org.apache.spark.sql.streaming.GroupState[Seq[Long]])
      : Iterator[EwmaOut] = {
    // weight ladder and ring length derive from the SHARED EwmaK so the
    // streaming twin can never desynchronize from batch ts_ewma
    val K = engine.rel.RelQueries.EwmaK
    var hist: Seq[Long] = state.getOption.getOrElse(Seq.empty)
    val out = rows.toSeq.sortBy(r => (r.us, r.event_id)).map { r =>
      val window = r.c +: hist // current + up to K-1 priors
      val num = window.zipWithIndex.map { case (c, i) => c * (1L << (K - 1 - i)) }.sum
      val den = window.zipWithIndex.map { case (_, i) => 1L << (K - 1 - i) }.sum
      hist = window.take(K - 1)
      EwmaOut(r.event_id, key,
        math.floor(num.toDouble / (den.toDouble * 100.0) * 1e4 + 0.5) / 1e4)
    }
    state.update(hist)
    out.iterator
  }

  /** B5j: STREAMING EWMA — ts_ewma's streaming twin: the finite-K
    * (K=8, α=1/2) smoothed value emitted per event as it arrives, per
    * user series. Where stream_cusum's state is one scalar (the fold
    * is associative-after-prefix), the truncated EWMA's state is the
    * LAST K−1 OBSERVATIONS — the minimal ring buffer that makes the
    * weight ladder readable at a batch cut; both are O(series), never
    * history. The oracle is batch ts_ewma's lag-chain SQL verbatim,
    * and StreamSourceSpec pins 3-trigger ≡ single ≡ batch. */
  private val streamEwma = Q(
    (s, d) => {
      import s.implicits._
      val san = d.replaceAll("[^a-zA-Z0-9]", "_")
      val base = t(s, d, "events")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("us"),
          round(col("value") * 100, 0).cast("long").as("c"))
      val src = asFileStream(s, base, s"ewma_$san",
        orderedBy = Some("us,event_id"), maxFilesPerTrigger = Some(SourceFiles))
      val out = src.as[EwmaRow].groupByKey(_.user_id)
        .flatMapGroupsWithState(
          org.apache.spark.sql.streaming.OutputMode.Append,
          org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)(
          ewmaFold)
      runToMemory(s, out.toDF(), "graft_ewma_sink")
        .orderBy("event_id")
    },
    Some(engine.rel.RelQueries.ewmaSql))

  val queries: Map[String, Q] = Map(
    "stream_asof_enrich" -> streamAsofEnrich,
    "stream_cusum" -> streamCusum,
    "stream_ewma" -> streamEwma,
    "stream_topk" -> streamTopk,
    "stream_tumbling" -> streamTumbling,
    "stream_join_static" -> streamJoinStatic,
    "stream_join_stream" -> streamJoinStream,
    "stream_upsert_sink" -> streamUpsertSink,
    "stream_cdc_apply" -> streamCdcApply,
    "stream_scd2_apply" -> streamScd2Apply,
    "stream_sliding" -> streamSliding,
    "stream_session" -> streamSession,
    "stream_watermark_late" -> streamWatermarkLate,
    "stream_dedup" -> streamDedup,
    "stream_stateful_merge" -> streamStatefulMerge)
}
