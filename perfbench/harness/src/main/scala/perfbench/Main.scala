package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import gps.assemble.FixAssembly
import gps.parse.{NmeaFunctions, NmeaSynth}

/** One benchmark run of one workload in a fresh JVM.
  *
  * {{{
  * java -cp <classpath> perfbench.Main --workload gps_batch --tables <dir>
  *   --run-dir <dir> --seconds 5 --trace 0 --cores 4 --launched-ms <epoch ms>
  * }}}
  *
  * Sets up the session once, timed from `--launched-ms` (when the process
  * was launched) until the session is ready and has read its input table,
  * so the set-up time includes the JVM's start, class loading and the
  * engine's first-session initialisation. Then it runs the workload's query
  * once cold and then warm, in a closed loop (one client; the next
  * execution starts when the previous one has finished) for `--seconds`, and
  * with `--trace 1` a traced phase that also times each layer's prefix.
  *
  * The warm loop has no warm-up executions. The first warm executions are
  * still up to a fifth slower than later ones, while the JIT compiles the
  * driver's planning and scheduling code, so `warm_s` is the time of an
  * early warm session; the benchmark's time budget has no room to wait for
  * the JIT to settle. The cold execution writes its result to
  * `<run-dir>/result` for the oracle check instead of to the noop sink; a
  * run cannot afford an extra execution for it.
  *
  * Everything measured goes to `<run-dir>/record.jsonl`; `run.py` turns it
  * into metrics. The engine is only called through its public functions.
  */
object Main {
  type Query = (SparkSession, String) => DataFrame

  /** @param query the `SparkEntry` query the workload times
    * @param table the input table whose rows the workload counts as input
    * @param rowsPerInput input rows per table row (NMEA lines per event)
    * @param prefixes growing prefixes of the query, one per layer boundary,
    *   timed in the traced phase; a layer's self time is its prefix's time
    *   minus the previous prefix's */
  final case class Workload(query: String, table: String, rowsPerInput: Long,
      prefixes: Seq[(String, Query)])

  private val read: Query = (s, d) => NmeaSynth.readLog(s, d)
  private val parse: Query =
    (s, d) => NmeaFunctions.parseSentences(NmeaSynth.readLog(s, d))
  private val assemble: Query = (s, d) => FixAssembly.assemble(parse(s, d))

  val workloads: Map[String, Workload] = Map(
    "gps_batch" -> Workload("nmea_fix_pipeline", "events", 6,
      Seq("read" -> read, "parse" -> parse, "assemble" -> assemble)),
    "gps_stream" -> Workload("stream_stateful_merge", "events", 6,
      Seq("read" -> read, "parse" -> parse)),
    "llm_online" -> Workload("pipeline_online", "documents", 1, Nil))

  /** The fewest executions a timed phase reports, however short `--seconds`
    * is. The stream workloads take seconds per execution whatever the input
    * size, so more would not fit the benchmark's time budget. */
  val MinWarm = 2
  val MinTraced = 2

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val w = workloads(opt("workload"))
    val tables = opt("tables")
    val runDir = opt("run-dir")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val launchedMs = opt("launched-ms").toLong
    val full: Query = graft.SparkEntry.queries(w.query)

    val rec = new Record(s"$runDir/record.jsonl")
    val recorder = new Recorder(rec)
    var spark: SparkSession = null
    try {
      spark = session(cores, runDir)
      val n = engine.Core.t(spark, tables, w.table).count()
      rec.write("setup", "setup",
        "s" -> (System.currentTimeMillis - launchedMs) / 1e3,
        "input_rows" -> n * w.rowsPerInput)
      val s = spark
      s.sparkContext.addSparkListener(recorder)
      s.streams.addListener(recorder.streams)

      def exec(tag: String, kind: String, q: Query, hash: Boolean = true,
          sink: Option[String] = None): Unit = {
        engine.ScratchCache.drainBuiltLog()
        recorder.reset()
        recorder.tag = tag
        val e0 = System.currentTimeMillis
        val t0 = System.nanoTime
        var tb = t0
        var result: Either[String, (Long, Long)] = Left("not run")
        try {
          val df = q(s, tables)
          tb = System.nanoTime
          result = Right(evaluate(df, sink, hash))
        } catch { case e: Throwable => result = Left(e.toString) }
        val t1 = System.nanoTime
        val e1 = System.currentTimeMillis
        PerfbenchBus.drain(s.sparkContext)
        // The execution's totals, read before the traced phase's sink query
        // below adds work of its own.
        val totals = Seq[(String, Any)](
          "kind" -> kind, "e0" -> e0, "e1" -> e1,
          "wall_s" -> (t1 - t0) / 1e9, "action_s" -> (t1 - tb) / 1e9,
          "rows" -> result.toOption.map(_._1),
          "checksum" -> result.toOption.map(_._2),
          "error" -> result.left.toOption,
          "cpu_s" -> recorder.cpuNs.get / 1e9,
          "gc_s" -> recorder.gcMs.get / 1e3,
          "tasks" -> recorder.tasks.get,
          "failed_tasks" -> recorder.failedTasks.get,
          "cache_builds" -> engine.ScratchCache.drainBuiltLog().size)
        recorder.tag = "aux"
        val aux = if (recorder.detail && result.isRight) sinkCounts(s, w) else Nil
        val store = storeUsage()
        rec.write("exec", tag, totals ++ aux ++ Seq(
          "store_bytes" -> store._1, "store_files" -> store._2): _*)
        engine.ScratchCache.drain()
        PerfbenchBus.drain(s.sparkContext)
        recorder.tag = "idle"
        System.gc()
      }

      exec("first", "first", full, sink = Some(s"$runDir/result"))
      val t0 = System.nanoTime
      var i = 0
      while (i < MinWarm || since(t0) < seconds) {
        exec(s"warm$i", "warm", full)
        i += 1
      }
      if (traced) {
        recorder.detail = true
        val t1 = System.nanoTime
        var n = 0
        while (n < MinTraced || since(t1) < seconds / 2) {
          w.prefixes.foreach { case (name, q) =>
            exec(s"t$n.$name", s"prefix.$name", q, hash = false)
          }
          exec(s"t$n.full", "traced", full)
          n += 1
        }
        recorder.detail = false
      }

      val heap = retainedHeap()
      val scratchBytes = usage(new File(engine.Core.scratchRoot))._1
      val oracle = graft.SparkEntry.oracleSql
      rec.write("end", "end", "heap_bytes" -> heap,
        "scratch_bytes" -> scratchBytes,
        "oracle" -> oracle(w.query),
        "batch_oracle" -> oracle("nmea_fix_pipeline"))
    } finally {
      if (spark != null) spark.stop()
      rec.close()
    }
  }

  private def since(t0: Long): Double = (System.nanoTime - t0) / 1e9

  /** Heap in use once garbage collection stops freeing memory. Spark's
    * ContextCleaner removes cached and checkpointed blocks only after a GC
    * has shown their RDDs unreachable, on its own thread, so one GC can leave
    * blocks that the next would free; collect until the heap stops
    * shrinking by more than 1%, at most eight times. */
  private def retainedHeap(): Long = {
    val mem = ManagementFactory.getMemoryMXBean
    var prev = Long.MaxValue
    var used = 0L
    var i = 0
    while (i < 8) {
      System.gc()
      Thread.sleep(300)
      used = mem.getHeapMemoryUsage.getUsed
      if (used > prev * 0.99) i = 8 else { prev = used; i += 1 }
    }
    used
  }

  private def session(cores: Int, runDir: String): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$runDir/local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    engine.Core.pinOracleSession(s)
    s
  }

  private val observations = new AtomicLong

  /** Evaluates every output column through the noop sink, as `graft.Eval`
    * does, or writes them to `sink`. The row count and a content checksum
    * ride the same execution as an observation. The checksum is the sum of
    * per-row `xxhash64` values taken mod 2^31-1, so it does not depend on row
    * order and cannot overflow. */
  def evaluate(df: DataFrame, sink: Option[String], hash: Boolean)
      : (Long, Long) = {
    val obs = new Observation(s"perfbench_${observations.incrementAndGet()}")
    val n = count(lit(1)).as("n")
    val observed =
      if (hash) df.observe(obs, n, sum(pmod(xxhash64(
        df.columns.sorted.toIndexedSeq.map(df.col): _*),
        lit(2147483647L))).as("ck"))
      else df.observe(obs, n)
    sink match {
      case None => observed.write.format("noop").mode("overwrite").save()
      case Some(path) => observed.write.mode("overwrite").parquet(path)
    }
    df.sparkSession.sparkContext.setJobDescription(null)
    val m = obs.get
    (m("n").asInstanceOf[Long],
      m.get("ck").flatMap(Option(_)).map(_.asInstanceOf[Long]).getOrElse(0L))
  }

  /** Fixes the streaming fold emitted, read from its memory sink. */
  private def sinkCounts(s: SparkSession, w: Workload): Seq[(String, Any)] =
    if (w.query != "stream_stateful_merge") Nil
    else {
      val r = s.table("graft_merge_sink").filter(col("device") =!= "__wm__")
        .agg(count(lit(1)), sum(when(col("complete"), 1L).otherwise(0L)))
        .head()
      PerfbenchBus.drain(s.sparkContext)
      Seq("sink_fixes" -> r.getLong(0), "sink_complete" -> r.getLong(1))
    }

  /** Bytes and files of the engine's stores under the scratch root: every
    * entry except the deterministic source caches (the NMEA log and the
    * stream sources), which are written once and only read afterwards. */
  private def storeUsage(): (Long, Long) = {
    val cache = Seq("graft_nmea_log_", "graft_stream_src_")
    Option(new File(engine.Core.scratchRoot).listFiles()).toSeq.flatten
      .filterNot(f => cache.exists(f.getName.startsWith))
      .map(usage)
      .foldLeft((0L, 0L)) { case ((b, n), (b1, n1)) => (b + b1, n + n1) }
  }

  private def usage(f: File): (Long, Long) =
    if (f.isFile) (f.length, 1L)
    else Option(f.listFiles()).toSeq.flatten.map(usage)
      .foldLeft((0L, 0L)) { case ((b, n), (b1, n1)) => (b + b1, n + n1) }
}
