package engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A declared engine query: the Spark plan plus (optionally) an ANSI-SQL
  * oracle the driver runs in DuckDB over the same parquet tables.
  *
  * Determinism contract (SURVEY.md §5.2): every query ends with a total
  * ORDER BY over a unique key, all doubles in the final projection are
  * rounded to 4 dp, timestamps are projected as epoch integers or
  * dates/strings (never raw TIMESTAMP), and NULL sort keys are avoided
  * (Spark sorts NULLS FIRST, DuckDB NULLS LAST by default).
  */
final case class Q(
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    doc: String = "")

object Core {
  /** Local scratch root for engine state stores, serving indexes, sink
    * outputs, and source caches — tmpfs (/dev/shm) when present, else
    * /tmp; override with SPARK_GRAFT_SCRATCH.
    *
    * Why tmpfs: these paths are the LOCAL-SCRATCH tier of the engine
    * (a deployment maps them to node-local SSD / memory, the same tier
    * Spark puts shuffle files and RocksDB state on — the checkpoint
    * dirs here already preferred /dev/shm). This box's disk is SHARED
    * with noisy neighbors: measured 22 MB/s sequential write under
    * neighbor load vs GB/s quiet — a 1.5× uniform inflation of every
    * store-heavy bench number, and the exact mechanism behind r17's
    * false drift flags (the two flagged ops read a persisted IVF index
    * from /tmp). State I/O must not ride a contended medium the engine
    * doesn't control; data corpora (testdata, the probes' scaled
    * replicas) stay on disk — they are the workload, not the engine.
    * Capacity: every store here is MBs at bench SFs and destroyed or
    * UUID-scoped per run; /dev/shm is 126 GiB on this box — but a
    * container-default /dev/shm is 64 MB, which would ENOSPC the first
    * store fold, so tmpfs is only preferred when it has real headroom
    * (≥ 2 GiB usable; r18 advisor). Streaming checkpoint dirs route
    * through here too, so SPARK_GRAFT_SCRATCH covers ALL engine state. */
  lazy val scratchRoot: String = sys.env.getOrElse("SPARK_GRAFT_SCRATCH", {
    val shm = new java.io.File("/dev/shm")
    val minUsable = 2L << 30
    if (shm.isDirectory && shm.canWrite && shm.getUsableSpace >= minUsable) {
      val d = new java.io.File(shm, "graft")
      d.mkdirs()
      d.getPath
    } else "/tmp"
  })

  /** Load one driver testdata table from the given scale-factor dir.
    *
    * `events.ts` has changed physical type across testdata generations —
    * TIMESTAMP(NANOS) through r9, TIMESTAMP_NTZ(micros) from r10 — so the
    * loader adapts to the RESOLVED read schema instead of assuming one:
    *   - TIMESTAMP(NANOS): Spark 4 rejects it outright
    *     ([PARQUET_TYPE_ILLEGAL]) unless `nanosAsLong` surfaces it as a
    *     long; floor-divide to micros — exactly DuckDB's ns→us truncation.
    *   - TIMESTAMP_NTZ: cast to session-TZ timestamp. Every harness pins
    *     spark.sql.session.timeZone=UTC, so the naive datetimes map to the
    *     same instants DuckDB reads from the same file.
    * The `nanosAsLong` conf must hold at SCAN time, not just schema
    * inference — the parquet reader re-reads the session conf at action
    * time, so a set-read-restore around the lazy frame would throw at
    * execution, and leaving it set session-wide makes every LATER
    * nanos-typed parquet silently read as raw longs (r11 advisor). The
    * retry therefore normalizes the legacy file ONCE into a scratch copy
    * (ts as plain BIGINT nanos) under [[publishOnce]], with the conf
    * scoped strictly to that eager write job and restored in a finally —
    * subsequent loads and every other read run with the flag off. */
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      import org.apache.spark.sql.types.{LongType, TimestampNTZType}
      val raw =
        try spark.read.parquet(s"$dir/$name.parquet")
        catch {
          case e: org.apache.spark.sql.AnalysisException
              if e.getCondition != null &&
                e.getCondition.contains("PARQUET_TYPE_ILLEGAL") =>
            val key = "spark.sql.legacy.parquet.nanosAsLong"
            // scratch name = stable path-hash prefix + a hash of the
            // source's fingerprint: a regenerated events.parquet at the
            // same path (the doc'd testdata drift) gets a FRESH
            // normalization instead of silently serving the previous
            // generation's rows, and the prefix lets it find and delete
            // the superseded generations of the SAME source (keying on the
            // combined digest alone would accumulate one scratch copy per
            // testdata regeneration, unboundedly)
            def md5hex(x: String) = java.security.MessageDigest
              .getInstance("MD5").digest(x.getBytes("UTF-8"))
              .map("%02x".format(_)).mkString
            val pathH = md5hex(s"$dir/$name").take(16)
            val metaH = md5hex(srcFingerprint(dir, name)).take(16)
            val scratch = s"$scratchRoot/graft_nanos_norm_${pathH}_$metaH"
            publishOnce(scratch) { tmp =>
              withConfs(spark)(key -> "true")(
                spark.read.parquet(s"$dir/$name.parquet").write.parquet(tmp))
            }
            // prune AFTER the publish (never inside the writer — the
            // staging dir is a `<scratch>.tmp.<uuid>` sibling and an
            // in-callback sweep would delete its own data pre-move):
            // only exact-shape superseded generations of this source.
            // SINGLE-PROCESS ASSUMPTION: the sweep takes
            // no cross-process lock, so it is safe only under the
            // repo's sequential-runs convention (memory: bench/verify
            // never run concurrently). The age guard below is defense
            // in depth — a generation touched in the last 10 minutes
            // (a concurrent JVM's fresh publish, or one it is likely
            // still scanning) is left for a later sweep.
            val cur = s"graft_nanos_norm_${pathH}_$metaH"
            val gen = s"graft_nanos_norm_${pathH}_[0-9a-f]{16}".r
            val cutoff = System.currentTimeMillis - 10 * 60 * 1000L
            Option(new java.io.File(scratchRoot).listFiles()).foreach(
              _.filter(f => gen.pattern.matcher(f.getName).matches() &&
                  f.getName != cur && f.lastModified < cutoff)
                .foreach(deleteRecursively))
            spark.read.parquet(scratch)
        }
      raw.schema("ts").dataType match {
        case LongType => // nanos surfaced as long (legacy testdata)
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampNTZType =>
          raw.withColumn("ts", col("ts").cast("timestamp"))
        case _ => raw // already session-TZ timestamp
      }
    } else spark.read.parquet(s"$dir/$name.parquet")

  /** Round a double column to 4 dp — the t2 hash-determinism discipline. */
  def r4(c: Column): Column = round(c, 4)

  /** Shuffle width and state-store count of the engine's small frames in
    * session `s`: stateful streams, micro-batch trigger bodies and the
    * id-pair or top-k-scale iterations (graph rounds, the ANN recall
    * report, connected components). Each exchange and each state store
    * costs task scheduling, and each store a WAL write and a commit per
    * trigger, whatever the data's width.
    *
    * min(8, cores). The cap: on a 32-core box the merge stream read
    * 16 stores ≈ 12.6-13.8 s, 8 ≈ 6.4 s and 4 ≈ 6.4 s, so 8 sits at the
    * commit-cost floor with parallelism to spare. The cores: stores past
    * the session's task slots cannot commit at once, they queue. On a
    * 4-core box the merge stream's summed state commit read 1.28 s with
    * 8 stores, 0.74 s with 4 and 0.10 s with 1, and warm 2.46, 2.17 and
    * 2.30 s: one store serializes the fold onto one core. Bench and
    * Verify (32 cores by default) get 8; a 4-core session gets 4.
    *
    * A stream's store count is fixed for the life of its checkpoint;
    * every stream here runs under a fresh one
    * ([[engine.stream.StreamQueries.runToCompletion]]), so no run meets
    * a width recorded under another session. */
  def smallFrameWidth(s: SparkSession): Int =
    smallFrameWidthFor(s.sparkContext.defaultParallelism)

  /** [[smallFrameWidth]] of a session with `cores` task slots. */
  private[engine] def smallFrameWidthFor(cores: Int): Int = math.min(8, cores)

  /** Run `body` with `settings` in force on the session `s`, then put
    * each key back as it was: its prior value, or unset when it had
    * none, in reverse order, also when `body` throws. This is the only
    * place engine code changes a session setting (CoreSpec's source
    * scan fails on any other). */
  def withConfs[T](s: SparkSession)(settings: (String, String)*)(body: => T): T = {
    val prior = settings.map { case (k, _) => k -> s.conf.getOption(k) }
    try {
      settings.foreach { case (k, v) => s.conf.set(k, v) }
      body
    } finally prior.reverseIterator.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Run `body` with Spark job description `label` on this thread, then
    * put back the description that was there before (or none), also
    * when `body` throws. Jobs started in `body` carry the label, and so
    * do AQE's query-stage jobs and threads started in `body`, which copy
    * the thread's local properties. This is the only place engine and
    * harness code set a job description (CoreSpec's source scan fails
    * on any other). */
  def describe[T](s: SparkSession, label: String)(body: => T): T = {
    val sc = s.sparkContext
    val prior = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try body finally sc.setJobDescription(prior)
  }

  /** A cell-count conf as read at ORACLE-BUILD time: the same session
    * conf the engine query reads at run time, so an oracle string built
    * through this can never pin a different k than the plan it replays
    * (the r14 ADVICE conf/oracle divergence — `spark.graft.knng.k` /
    * `spark.graft.semdedup.k` vs a hand-inlined `LIMIT 16`). Consumers
    * must be `def`s so the string is rebuilt after conf changes; with
    * no session up yet, the engine default (16) applies.
    *
    * Harnesses PIN their session via [[pinOracleSession]] right after
    * building it: the engine side (cellAssign) reads the conf from the
    * SparkSession explicitly passed to the query fn, so resolving the
    * oracle's k through a thread-local lookup could interpolate a
    * DIFFERENT session's k in a multi-session or multi-threaded driver
    * (r16 ADVICE). The active/default-session lookup remains only as
    * the no-pin fallback. */
  @volatile private var oracleSession: Option[SparkSession] = None
  def pinOracleSession(s: SparkSession): Unit = oracleSession = Some(s)
  def oracleK(key: String): Int =
    oracleSession
      .orElse(SparkSession.getActiveSession)
      .orElse(SparkSession.getDefaultSession)
      .map(_.conf.get(key, "16")).getOrElse("16").toInt

  /** The executable driver-collect contract (r15 verdict item 8): every
    * driver-side `.collect()` in the engine reads a MODEL-SIZED artifact
    * — centroids ≤ k, one BPE merge per round, perceptron gradient ≤
    * feature count, probed cells ≤ the isin-pruning practicality bound —
    * never corpus rows. Routing a collect through this declares that
    * bound at the call site and ENFORCES it: a frame with more than
    * `max` rows throws instead of silently starting to scale with the
    * corpus, and the fetch itself is capped at max+1 rows (the failure
    * path moves O(max), not O(N)). `limit` composes under an existing
    * tighter limit and, on an ordered frame, takes the ordered prefix —
    * semantics of every adopted site are unchanged. */
  def boundedCollect[T](ds: org.apache.spark.sql.Dataset[T], max: Int,
      what: String): Seq[T] = {
    val rows = ds.limit(max + 1).collect().toSeq
    require(rows.length <= max,
      s"boundedCollect($what) exceeded its declared bound of $max rows" +
        " — a driver-side collect is growing with the corpus")
    rows
  }

  /** Source fingerprint of a parquet table (part names + lengths +
    * mtimes) for driver-side model memo keys: a cache keyed by corpus
    * DIR alone serves a stale model if the corpus is regenerated
    * in-place during one JVM session — the same drift the events
    * scratch-copy key above guards against. Missing table
    * → empty string (the memoized builder will fail on read anyway). */
  def srcFingerprint(dir: String, name: String): String = {
    val f = new java.io.File(s"$dir/$name.parquet")
    val parts =
      if (f.isDirectory) f.listFiles().sortBy(_.getName).toSeq
      else if (f.exists()) Seq(f)
      else Seq.empty
    parts.map(p => s"${p.getName}:${p.length}:${p.lastModified}")
      .mkString(",")
  }

  /** Session-cache key for a frame derived from ONE source table:
    * prefix + corpus dir + the table's [[srcFingerprint]]. Every
    * [[ScratchCache.persistKeyed]] site must key THROUGH this (not the
    * dir alone) — the keyed frames are drain-exempt, so a dir-only key
    * would serve stale cached partitions after an in-place testdata
    * regeneration, exactly the staleness the driver-side model memos
    * already guard against. */
  def fpKey(prefix: String, dir: String, table: String): String =
    s"$prefix:$dir#${srcFingerprint(dir, table)}"

  /** Eager localCheckpoint that also RESETS plan statistics.
    *
    * `Dataset.localCheckpoint` truncates lineage but deliberately carries
    * the origin plan's `Statistics` onto the resulting `LogicalRDD`. In an
    * iterative loop whose round-r frame self-joins the round-(r-1)
    * checkpoint k times, `SizeInBytesOnlyStatsPlanVisitor.visitJoin`
    * multiplies the children's sizeInBytes, so the carried estimate grows
    * as k^r in BIT LENGTH — by round 16 of [[llm.CurateQueries.bpeTrain]]
    * (k=3) it is a ~10^7-bit BigInt and the driver spends MINUTES per
    * round in Toom-Cook multiplies inside stats estimation (measured:
    * 248 s for a 169-row round; thread dumps pin `BigInteger.multiply`
    * under `visitJoin`). Round-tripping the checkpointed RDD through
    * `createDataFrame` drops the inherited stats back to the constant
    * `defaultSizeInBytes`, capping estimation cost per round. The extra
    * InternalRow↔Row conversion is per-partition and linear — noise for
    * the bounded model-artifact frames these loops carry. */
  def checkpointFresh(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint()
    ck.sparkSession.createDataFrame(ck.rdd, ck.schema)
  }

  /** Register a scratch dir for deletion when the owning SparkSession's
    * context stops. For run-UUID-scoped state dirs whose RESULT frame is
    * lazy (a parquet scan of the dir): the dir can't be destroyed inside
    * the query builder — the caller hasn't executed the plan yet — but
    * must not leak on tmpfs either (no OS aging there). Session stop is
    * the first point the engine knows no plan can still read the dir.
    * One listener per context deletes every dir registered on it, so a
    * caller that runs n times adds one listener, not n. Idempotent per
    * dir; the age-guarded sibling sweeps stay as backstop for crashed
    * JVMs. */
  def cleanupAtSessionStop(spark: SparkSession, dir: java.io.File): Unit =
    stopCleanup.computeIfAbsent(spark.sparkContext, sc => {
      val dirs = java.util.concurrent.ConcurrentHashMap.newKeySet[java.io.File]()
      sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
          stopCleanup.remove(sc)
          dirs.forEach(d => deleteRecursively(d))
        }
      })
      dirs
    }).add(dir): Unit

  /** The dirs [[cleanupAtSessionStop]] deletes, per live context. */
  private val stopCleanup = new java.util.concurrent.ConcurrentHashMap[
    org.apache.spark.SparkContext, java.util.Set[java.io.File]]()

  /** Per-published-directory JVM monitors: `FileChannel.lock` throws
    * OverlappingFileLockException when two threads of ONE JVM contend for
    * the same .lock file, so same-dir publishes must serialize in-process
    * — but publishes of unrelated dirs (parallel suites, independent
    * stream sources) must not (r3 advisor: a global `synchronized` here
    * serialized the slow `write` step JVM-wide). */
  private val publishMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Publish a deterministic scratch dataset at `dir` exactly once.
    * Writers produce into a unique temp dir (outside the cross-process
    * lock — the write is the slow part), then take an exclusive
    * cross-process file lock for the commit step: re-check `_SUCCESS`,
    * clear a marker-less leftover from a crashed writer, and atomically
    * rename into place. A publish that completed while we were producing
    * ours is a win, never a delete target — the lock closes the
    * re-check→delete window that a marker-only protocol leaves open
    * (a TOCTOU race). A failed produce step deletes its
    * own temp dir instead of stranding it in /tmp. A publish that moves
    * its dir into place logs the dir's name as built
    * ([[ScratchCache.drainBuiltLog]]), so Bench attributes the one-time
    * write to the op that paid for it. */
  def publishOnce(dir: String)(write: String => Unit): String =
    // canonical key: aliased spellings ("/tmp//x", "/tmp/x/") must map to
    // ONE monitor or same-dir publishes would race after all (r4 review).
    // The map grows one entry per distinct dir ever published — bounded
    // by the handful of scratch datasets a session uses.
    publishMonitors.computeIfAbsent(
      new java.io.File(dir).getCanonicalPath, _ => new Object).synchronized {
      val dest = new java.io.File(dir)
      val marker = new java.io.File(dest, "_SUCCESS")
      if (!marker.exists()) {
        val tmp = new java.io.File(dir + ".tmp." + java.util.UUID.randomUUID)
        try write(tmp.getPath)
        catch { case e: Throwable => deleteRecursively(tmp); throw e }
        val lockCh = java.nio.channels.FileChannel.open(
          java.nio.file.Paths.get(dir + ".lock"),
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE)
        val lock = lockCh.lock()
        try {
          if (marker.exists()) deleteRecursively(tmp) // concurrent publish won
          else {
            if (dest.exists()) deleteRecursively(dest) // crashed, marker-less
            try {
              java.nio.file.Files.move(tmp.toPath, dest.toPath,
                java.nio.file.StandardCopyOption.ATOMIC_MOVE)
              ScratchCache.logBuilt(dest.getName)
            } catch { case _: java.io.IOException => // lost a non-locking race
              deleteRecursively(tmp)
            }
          }
        } finally { lock.release(); lockCh.close() }
      }
      dir
    }

  /** Deletes `f` and everything under it, children first; a failed
    * `delete()` is ignored. */
  private[engine] def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }
}

/** Registry for intra-query persisted frames. A query builder can mark a
  * frame that several downstream joins share (`ScratchCache.persist`);
  * the harness (Verify/Bench) drains the registry after materializing
  * each query so cached partitions never accumulate across a 200+-query
  * session — persist lifetime is one query, not one SparkSession. */
object ScratchCache {
  private val frames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
  private val keyed = scala.collection.mutable.HashMap.empty[String, DataFrame]
  private val keyMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  def persist(df: DataFrame): DataFrame = synchronized {
    val p = df.persist(); frames += p; p
  }
  /** Persist shared ACROSS queries within one session, keyed by a content
    * id that must pin everything the frame depends on (sf dir included).
    * For derived tables several operators share — minhash signatures,
    * simhash near-dup pairs, hashed shingle sets — the first query to
    * need one computes it and the rest reuse it, exactly as a 100 TB
    * pipeline materializes a signature table once and feeds every
    * downstream dedup stage from it. Exempt from [[drain]] (lifetime =
    * session); the frames are id+hash tables, orders of magnitude
    * smaller than their source text. A keyed frame stays only where a
    * later op of one pass reads it: a frame read by one op alone is that
    * op's [[persist]], since a pipeline pass never runs an op twice.
    *
    * Builds hold a per-key monitor, never the registry's lock: the
    * by-name `df` may run whole Spark jobs, and ann_recall_report's rung
    * lanes build different keys at once (at local[32], `eu` beside
    * `srp16`, and `ivfrank_np4` beside `ivfrank_np8`). Same-key callers
    * serialize (one build, everyone else reuses). */
  def persistKeyed(key: String)(df: => DataFrame): DataFrame =
    keyMonitors.computeIfAbsent(key, _ => new Object).synchronized {
      synchronized(keyed.get(key)).getOrElse {
        val p = df.persist()
        synchronized { builtLog += key; keyed.put(key, p) }
        p
      }
    }
  /** Keys first REGISTERED (hence first materialized, and paid for)
    * since the last call, and the names of dirs [[Core.publishOnce]]
    * wrote — the bench drains this per timing window to attribute
    * one-time shared builds to the op that triggered them (three
    * same-round totals spanned 85-103 s, and per-op deltas were
    * uninterpretable without knowing which op paid each shared build). */
  private val builtLog = scala.collection.mutable.ArrayBuffer.empty[String]
  private[engine] def logBuilt(name: String): Unit = synchronized {
    builtLog += name: Unit
  }
  def drainBuiltLog(): Seq[String] = synchronized {
    val r = builtLog.toList; builtLog.clear(); r
  }
  /** Blocking by default: a lazy unpersist leaks block-eviction work into
    * whatever runs next (a bench drifted 2-4x on untouched queries with
    * `blocking = false` drains in between). */
  def drain(blocking: Boolean = true): Unit = synchronized {
    frames.foreach(_.unpersist(blocking)); frames.clear()
  }
}
