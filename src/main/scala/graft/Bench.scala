package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Per-round benchmark main: times every SparkEntry query at the
  * SPARK_GRAFT_SF_DIR scale factor and emits ONE metric JSON line.
  *
  * The JSON is printed to stdout AND written to bench_out.json (or
  * $SPARK_GRAFT_BENCH_OUT) so the driver can parse it even when a build
  *-tool logger prefixes stdout lines. A warm-up pass (scan + small agg)
  * runs before the timed loop so the first timed query doesn't absorb
  * session/JIT/codegen start-up. */
object Bench {
  /** Fixed run order, so round-over-round per-query deltas compare the
    * same heap states: stateful streams and cross-run stores run FIRST
    * on a fresh heap, since they are the most allocation-sensitive
    * (state stores + per-trigger sinks) and the drain+GC between queries
    * cannot undo fragmentation from 90 earlier queries. The rest run
    * alphabetically. */
  private def runOrderKey(name: String): (Int, String) =
    (if (name.startsWith("stream_") || name == "dedup_incremental" ||
       name == "pipeline_online" || name == "pipeline_online_hybrid") 0
     else 1, name)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // contract: the bench runs local[32] unless the driver overrides
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    engine.Core.pinOracleSession(spark)
    // The only unpartitioned windows in the engine run over bounded
    // model-artifact frames — enumerated and enforced by PlanSpec's
    // allowlist test — so WindowExec's per-plan "No Partition Defined"
    // warning is pure noise here, and letting it repeat would bury a
    // future REAL warning class in the bench tail. Silence exactly that
    // logger; everything else stays at WARN.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    // every timed run's record: jobs, tasks, task CPU, shuffle and
    // per-trigger phases, next to its wall time
    val recorder = OpRecorder.attach(spark)
    val queries = SparkEntry.queries
    /** One run of `q`: its seconds (-1 on a crash, never a flatteringly
      * fast time-to-failure) and its record. Its jobs carry `q` as their
      * description unless a phase of the op names its own. */
    def timed(q: String): (Double, OpRecord) = {
      val (ok, rec) = recorder.measure {
        try {
          engine.Core.describe(spark, q)(Eval.rows(queries(q)(spark, sfDir)))
          true
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $q FAILED: ${e.getMessage}")
          false
        }
      }
      (if (ok) rec.wallS else -1.0, rec)
    }
    // warm-up: touch the scan path, shuffle machinery, codegen cache,
    // AND the streaming stack (MicroBatchExecution, file source, memory
    // sink) — the run order puts stateful streams FIRST on the fresh
    // heap, so without a streaming warm-up the first stream op absorbs
    // all of that machinery's JIT inside its timed window
    for (w <- Seq("scan_parquet", "agg_hash", "stream_join_static"))
      try queries(w)(spark, sfDir).count()
      catch { case _: Throwable => }
    // Best-of-2 per query, with a BLOCKING cache drain and a full GC
    // between timed runs: lazy unpersist and GC pressure from earlier
    // queries would otherwise leak into later timed regions. `t1` is the
    // op's cold cost in this order: it pays every build no earlier op
    // shared with it (keyed frames, model memos, published scratch
    // sources). `t2` reuses what survives the drain: the session-keyed
    // frames and memos, which later ops of one pass also read, and the
    // deterministic scratch sources. An op whose only cache was its own
    // (dedup_eval, pipeline_pretrain, ann_recall_report, search_passage,
    // sim_search_pq_indexed, stream_bm25_probe) rebuilds in `t2` too, so
    // its best-of-2 is its whole cost.
    // SPARK_GRAFT_BENCH_ONLY restricts the timed sweep to a comma-
    // separated id list — same warm-up, same best-of-2 semantics, so a
    // targeted number is comparable to the full sweep's
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val ordered = queries.keys.toSeq
      .filter(name => only.forall(_.contains(name)))
      .sortBy(runOrderKey)
    val results = ordered.map { name =>
      def once(): (Double, Seq[String], OpRecord) = {
        engine.ScratchCache.drainBuiltLog() // discard pre-window noise
        val (dt, rec) = timed(name)
        val built = engine.ScratchCache.drainBuiltLog()
        engine.ScratchCache.drain() // blocking; outside the timed region
        (dt, built, rec)
      }
      val (first, built1, rec1) = once()
      System.gc()
      val (second, built2, rec2) = once()
      System.gc()
      // min over SUCCESSFUL runs only: a bare min() would let the -1.0
      // failure sentinel shadow a valid time when exactly one run is
      // transiently flaky. -1 only if both runs failed.
      val best = Seq(first, second).filter(_ >= 0) match {
        case Nil => -1.0
        case xs  => xs.min
      }
      (name, best, first, second, built1 ++ built2, Seq(rec1, rec2))
    }
    val qs = results.map { case (k, v, _, _, _, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // per-op attribution: both raw runs, each with its record, plus the
    // shared keyed-cache entries this op was FIRST to register (and so
    // paid the one-time build for). With best-of-2, a shared build lands
    // in t1 and the kept min is usually the build-free t2 — the column
    // explains round-over-round deltas where an op inherited (or shed) a
    // build because a cache-sharing sibling entered the sweep.
    val attribution = results.map { case (k, _, t1, t2, built, recs) =>
      val bl = built.map(OpRecord.quote).mkString("[", ",", "]")
      val rl = recs.map(_.json).mkString("[", ",", "]")
      f""""$k":{"t1":$t1%.3f,"t2":$t2%.3f,"built":$bl,"runs":$rl}"""
    }.mkString("{", ",", "}")
    // hard failures (-1) are visible per-query but must not subtract
    // from the reported total — and they are surfaced as a first-class
    // count + id list so a partially-broken sweep can never read as a
    // faster total
    val total = results.map(_._2).filter(_ >= 0).sum
    val failedIds = results.collect { case (k, v, _, _, _, _) if v < 0 => k }
    val failedList = failedIds.map("\"" + _ + "\"").mkString("[", ",", "]")
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    // per-query band vs the PREVIOUS round's committed bench_out.json,
    // read before this run overwrites it (corpus-growth ratios can't see
    // per-row constant blowups; the bench band can — see DriftCheck).
    // Report-only; rides the artifact.
    //
    // SELF-ADJUDICATING: every flagged op is re-run in-process, each run
    // after a blocking cache drain + GC, and the timings ride the flag
    // entry, so transient box load during the timed window shows as
    // rerun ≈ prev (the flag carries its own refutation) while a real
    // plan regression reproduces (rerun ≈ cur). The re-runs see any
    // process-lifetime keyed caches already built — so they measure the
    // op's steady-state cost, which is exactly what the band is banding
    // (one-time builds are already visible in `built`).
    //
    // FAIL-CLOSED: a missing, unreadable or malformed previous artifact
    // emits "drift_error" with the exception and stderr gets the stack,
    // so an empty "drift" map always means the gate RAN clean.
    val (drift, driftError) = {
      val prevPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_PREV", out)
      try {
        val prevQ = DriftCheck.readQueries(prevPath)
        // a READABLE-but-unparseable previous artifact (truncated
        // mid-write) parses to an empty map without throwing — which
        // would re-open the fail-open hole the catch below closes; a
        // real bench artifact always has queries
        if (prevQ.isEmpty)
          throw new IllegalStateException(
            s"previous bench artifact $prevPath parsed to an empty queries map")
        val flags = DriftCheck.check(prevQ,
          results.map { case (k, v, _, _, _, _) => k -> v }.toMap)
        // the ISOLATED TRIPLE: one re-run can be unlucky either way;
        // three isolated runs + the median decide, and the whole
        // protocol rides the artifact so a flag's disposition is
        // machine-readable (DriftCheck.adjudicate, unit-pinned by
        // DriftCheckSpec)
        val adjudicated = flags.map { case (q, p, c, r) =>
          val triple = (1 to 3).map { _ =>
            engine.ScratchCache.drainBuiltLog(): Unit
            System.gc()
            val rr = timed(q)._1
            engine.ScratchCache.drain()
            rr
          }
          val (med, cleared) = DriftCheck.adjudicate(p, triple)
          System.err.println(
            f"[bench] DRIFT $q: $p%.2f -> $c%.2f s ($r%.1fx); " +
            s"isolated triple ${triple.map(t => f"$t%.2f").mkString("/")}" +
            f" s, median $med%.2f => " +
            (if (cleared) "CLEARED (environmental)" else "SUSTAINED"))
          (q, p, c, r, triple, med, cleared)
        }
        val json = adjudicated.map { case (q, p, c, r, tr, med, cl) =>
          val rr = tr.head
          val rrRatio = if (p > 0 && rr >= 0) rr / p else -1.0
          val trList = tr.map(t => f"$t%.3f").mkString("[", ",", "]")
          f""""$q":{"prev":$p%.3f,"cur":$c%.3f,"ratio":$r%.1f,"rerun":$rr%.3f,"rerun_ratio":$rrRatio%.1f,"isolated":$trList,"isolated_median":$med%.3f,"cleared":$cl}"""
        }.mkString("{", ",", "}")
        (json, "null")
      } catch { case e: Throwable =>
        System.err.println(s"[bench] drift gate FAILED on $prevPath:")
        e.printStackTrace()
        ("{}", OpRecord.quote((e.getClass.getSimpleName + ": " +
          Option(e.getMessage).getOrElse("")).take(300)))
      }
    }
    // the FULL record (with the per-query map + drift + attribution)
    // goes to the file. stdout gets TWO metric lines, so a per-query
    // comparator reading stdout keeps the map:
    //   1. FIRST, a total line WITH the per-query map (ms precision,
    //      ~5.5 KB at 226 queries) — a parser that reads the full
    //      stdout stream recovers per-query/geomean/scaling from it.
    //   2. LAST, the short (< 1 KB) total line — identical totals,
    //      guaranteed to survive a bounded tail-capture window intact.
    // Ordering is the safety argument: a tail window truncates the
    // STREAM HEAD, so the short final line always parses (a single long
    // line as the ONLY metric line loses its head to such a window, and
    // the bench parse returns null). Both lines
    // carry the same totals, so any parser strategy (first parseable,
    // last parseable, scan-all) reads a correct total, and per-query
    // data is available to any full-stream reader.
    val qsShort = results
      .map { case (k, v, _, _, _, _) => f""""$k":$v%.3f""" }
      .mkString("{", ",", "}")
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","ran":${results.size - failedIds.size},"failed":${failedIds.size},"failed_ids":$failedList,"queries":$qs,"drift":$drift,"drift_error":$driftError,"attribution":$attribution,"sf":"$sfDir"}"""
    val inlineLine =
      s"""{"metric":"total","value":$total,"unit":"sec","ran":${results.size - failedIds.size},"failed":${failedIds.size},"failed_ids":$failedList,"queries":$qsShort,"sf":"$sfDir"}"""
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","ran":${results.size - failedIds.size},"failed":${failedIds.size},"failed_ids":$failedList,"queries_in":"$out","sf":"$sfDir"}"""
    println(inlineLine)
    println(line)
    try Files.writeString(Paths.get(out), full + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $out: ${e.getMessage}")
    }
    spark.stop()
  }
}
