package engine.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import engine.Core.deleteRecursively
import org.apache.spark.sql.types.StructType

/** Bloom sidecar spec for [[AppendTable]] segments: `key` names the
  * probe column readers prune on (sidecar file = `_BLOOM.<key>`), `of`
  * derives the key frame from segment rows — an identity select for a
  * scalar store column, an explode for array-valued band keys. Worth
  * writing only for HIGH-cardinality keys (digests, md5 band keys): a
  * small key domain (e.g. the SRP store's 64 (band, bv) values) puts
  * every value in every segment and the sidecar prunes nothing. */
final case class BloomSpec(key: String, of: DataFrame => DataFrame,
    fanout: Long = 1L)

object BloomSpec {
  /** Sidecar over a scalar store column. */
  def column(key: String): BloomSpec =
    BloomSpec(key, _.select(org.apache.spark.sql.functions.col(key)))
}

/** A crash-safe APPEND-ONLY parquet table for foreachBatch sinks: each
  * commit writes a fresh segment directory (`seg-<id>/`) and then
  * atomically rewrites the `MANIFEST` file (tmp + POSIX rename) to
  * include it. Readers list segments from the manifest ONLY, so a dying
  * writer can never expose torn parquet files — the window that plain
  * `mode("append").parquet(dir)` leaves open (a half-written part-file
  * in the directory IS the table to the next reader). This is the
  * append-side sibling of [[VersionedTable]]'s replace-and-swap: commits
  * stay O(batch) — no rewrite of prior segments — which is the posture
  * an ever-growing signature archive needs. The same shape at cluster
  * scale is a transactional table format's manifest/commit-log doing
  * precisely this under the hood.
  *
  * Crash analysis, single writer (a foreachBatch sink is):
  *  - die mid-segment-write: the segment is not in the manifest —
  *    invisible; the retried batch id overwrites the same segment dir.
  *  - die between segment write and manifest rename: same — invisible,
  *    idempotent re-commit (the manifest add is a set-insert).
  *  - die mid-rename: POSIX rename is atomic — readers see the old or
  *    the new manifest, never a partial one.
  *  - die AFTER the manifest rename but before the engine checkpoints
  *    the batch: the replayed batch finds its segment already
  *    manifest-listed and must NOT rewrite it — `mode("overwrite")`
  *    deletes-then-writes, so a second death mid-rewrite would leave
  *    the manifest pointing at a torn segment. Batch content per id is
  *    deterministic (same source offsets), so the replay no-ops.
  */
object AppendTable {

  /** Pending DEFERRED Bloom-sidecar builds, keyed by canonical store
    * root. [[append]] publishes the segment (write + manifest) and lets
    * the sidecar build — a separate Spark job that only accelerates
    * FUTURE probes — run on a sibling thread, overlapping the trigger's
    * later stages (guide §2.6: per-trigger wall time is the sum of
    * sequential driver actions). Every sidecar-dependent operation
    * ([[readPruned]], [[purgeKeys]], [[compact]], [[destroy]], and the
    * next [[append]] to the same store) settles the pending build first,
    * so no reader can observe a missing-or-torn sidecar and the
    * single-writer ordering is preserved; plain [[read]]/[[readSegment]]
    * never touch sidecars and need not wait. The sidecar file itself is
    * written tmp + atomic rename as defence in depth. A build failure
    * rethrows at settle — fail loud, never a silently bare segment. */
  private val pendingBloom =
    new java.util.concurrent.ConcurrentHashMap[String, (Thread,
      java.util.concurrent.atomic.AtomicReference[Throwable])]()

  private def settleBloom(root: java.io.File): Unit = {
    val p = pendingBloom.remove(root.getCanonicalPath)
    if (p != null) {
      p._1.join()
      val e = p._2.get()
      if (e != null) throw e
    }
  }

  private[stream] def deferBloom(root: java.io.File)(body: => Unit): Unit = {
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val t = new Thread(() =>
      try body catch { case e: Throwable => err.set(e) })
    t.setName(s"graft-bloom-${root.getName}")
    // occupancy guard: a clobbered slot would silently orphan a pending
    // build — never joined, its error swallowed. Callers settle first
    // by discipline; make the discipline a guarantee.
    val prev = pendingBloom.putIfAbsent(root.getCanonicalPath, (t, err))
    if (prev != null)
      throw new IllegalStateException(
        s"deferBloom: a sidecar build is already pending for $root — " +
        "settle it first (single-writer contract)")
    t.start()
  }

  /** Settle any pending deferred sidecar build for `root` — the public
    * teardown hook for ops whose LAST append has no later
    * sidecar-dependent access to settle through (the serve/read phase
    * never probes): without it the build's Spark job could still be in
    * flight when the op returns, bleeding into whatever the caller
    * times next. Rethrows a deferred build failure (fail loud). */
  def settle(root: java.io.File): Unit = settleBloom(root)

  private def manifest(root: java.io.File): java.io.File =
    new java.io.File(root, "MANIFEST")

  /** Raw manifest lines: segment names plus `#`-prefixed metadata
    * (currently only the folded-batch high-water mark). */
  private def manifestLines(root: java.io.File): Seq[String] = {
    val m = manifest(root)
    if (m.isFile)
      java.nio.file.Files.readAllLines(m.toPath)
        .toArray(Array.empty[String]).toSeq.filter(_.nonEmpty)
    else Seq.empty
  }

  private def segments(root: java.io.File): Seq[String] =
    manifestLines(root).filterNot(_.startsWith("#"))

  /** Highest batch id ever folded into a `seg-c*` segment by [[compact]]
    * (-1 before any fold). [[append]] must no-op for ids at or below it:
    * after a compaction, a crash-recovery REPLAY of an earlier committed
    * batch no longer finds its `seg-<id>` in the manifest (it was folded
    * away), and without this mark the replay would re-write and re-list
    * the segment — duplicating its rows in every subsequent read. The
    * mark keeps per-id idempotence across compactions even for a
    * strictly sequential post-compaction restart. */
  def foldedHighWater(root: java.io.File): Long =
    manifestLines(root).find(_.startsWith("#folded:"))
      .map(_.stripPrefix("#folded:").toLong).getOrElse(-1L)

  private def writeManifest(root: java.io.File, tmpTag: String,
      segs: Seq[String], folded: Long): Unit = {
    val meta = if (folded >= 0) Seq(s"#folded:$folded") else Seq.empty
    val tmp = new java.io.File(root, s"MANIFEST.tmp.$tmpTag")
    java.nio.file.Files.writeString(tmp.toPath,
      (meta ++ segs).mkString("", "\n", "\n"))
    java.nio.file.Files.move(tmp.toPath, manifest(root).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** All committed rows (manifest-listed segments only); empty DataFrame
    * of `schema` when nothing has committed. */
  def read(spark: SparkSession, root: java.io.File,
      schema: StructType): DataFrame = {
    val segs = segments(root)
    if (segs.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        schema)
    else
      spark.read.schema(schema)
        .parquet(segs.map(s => new java.io.File(root, s).getPath): _*)
  }

  /** Rows of batch `id`'s own committed segment (empty frame if the id
    * is not manifest-listed — e.g. already folded). For readers that
    * need exactly one batch's appended rows (its verdicts), which live
    * nowhere else: an O(batch) read that replaces scanning the archive
    * and post-filtering to the batch's ids. */
  def readSegment(spark: SparkSession, root: java.io.File,
      schema: StructType, id: Long): DataFrame = {
    val seg = s"seg-$id"
    if (segments(root).contains(seg))
      spark.read.schema(schema)
        .parquet(new java.io.File(root, seg).getPath)
    else
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
  }

  /** Commit `df` as segment `id`. Idempotent per id: an uncommitted
    * retry overwrites its own (invisible) segment; a retry whose
    * segment is already manifest-listed — or whose id was folded into a
    * `seg-c*` by a [[compact]] (the [[foldedHighWater]] mark) — no-ops
    * entirely: rewriting a committed segment would reopen the torn-file
    * window the manifest exists to close, and re-listing a folded id
    * would duplicate its rows.
    *
    * `bloom`: optionally front the segment with a Bloom sidecar over its
    * probe-key values ([[BloomSpec]]). The build is DEFERRED to a
    * sibling thread (see [[pendingBloom]]) — the manifest may briefly
    * list a segment whose sidecar is still being written; that is safe
    * because readers treat a missing sidecar as always-scan and every
    * sidecar-dependent access settles the build first. */
  def append(df: DataFrame, root: java.io.File, id: Long,
      bloom: Option[BloomSpec] = None): Unit = {
    settleBloom(root) // single-writer ordering across deferred builds
    root.mkdirs()
    val seg = s"seg-$id"
    if (id <= foldedHighWater(root) || segments(root).contains(seg)) return
    df.write.mode("overwrite").parquet(new java.io.File(root, seg).getPath)
    val cur = segments(root)
    if (!cur.contains(seg))
      writeManifest(root, id.toString, cur :+ seg, foldedHighWater(root))
    // the sidecar build is its own Spark job that only benefits FUTURE
    // probes — defer it to a sibling thread so the caller's next stage
    // overlaps it; settled before any sidecar-dependent access (above).
    // Listing the segment before its sidecar lands is safe: readers
    // treat a missing sidecar as always-scan, and the atomic rename in
    // writeBloom means no reader can ever see a torn sidecar file.
    bloom.foreach(b =>
      deferBloom(root)(writeBloom(df.sparkSession, root, seg, b)))
  }

  /** Per-segment Bloom sidecar file (`_BLOOM.<key>` inside the segment
    * dir — the `_` prefix keeps it invisible to the parquet reader). */
  private def bloomFile(root: java.io.File, seg: String, key: String) =
    new java.io.File(new java.io.File(root, seg), s"_BLOOM.$key")

  /** Segment row count from the parquet footers — driver-side metadata,
    * no Spark job (the count used to be its own job per append, pure
    * per-trigger overhead on the ingest path). */
  private def footerRowCount(segDir: java.io.File): Long =
    Option(segDir.listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.startsWith("part-")
        && f.getName.endsWith(".parquet"))
      .map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getPath),
          new org.apache.hadoop.conf.Configuration())
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }.sum

  private def writeBloom(spark: SparkSession, root: java.io.File,
      seg: String, bloom: BloomSpec): Unit = {
    import org.apache.spark.sql.functions.col
    val segDir = new java.io.File(root, seg)
    val keys = bloom.of(spark.read.parquet(segDir.getPath))
      .toDF("k").select(col("k").cast("string")).na.drop()
    // sizing bound: segment ROWS ≥ non-null distinct keys for a scalar
    // key; an array key (band keys) explodes to rows × slots, so scale
    // by the spec's declared fan-out. Overestimating n only lowers the
    // realized fpp (a bigger, stricter filter) — pruning stays correct.
    val n = math.max(footerRowCount(segDir) * bloom.fanout, 1L)
    // fpp sized to the PROBE, not the lookup: a trigger tests ~segment-
    // sized key batches against each sidecar, so P(falsely scanning a
    // segment) ≈ n·fpp per probe batch — 0.01/n holds that at ~1%.
    // Cost is 1.44·log2(1/fpp) bits/key (≈5 bytes/key at n=1e6): the
    // sidecar stays orders of magnitude smaller than its segment.
    val bf = keys.stat.bloomFilter("k", n, math.max(0.01 / n, 1e-12))
    // tmp + atomic rename: with deferred builds a probe may race this
    // write — it must observe a complete sidecar or none at all
    val dest = bloomFile(root, seg, bloom.key)
    val tmp = new java.io.File(dest.getPath + ".tmp")
    val out = new java.io.FileOutputStream(tmp)
    try bf.writeTo(out) finally out.close()
    java.nio.file.Files.move(tmp.toPath, dest.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
  }

  /** Result of a Bloom-pruned read: the frame over the surviving
    * segments plus the scanned/total counts (the maintenance
    * observability hook AppendTableSpec pins skip counts through). */
  final case class PrunedRead(df: DataFrame, segmentsScanned: Int,
      segmentsTotal: Int)

  /** Read ONLY the segments whose `_BLOOM.<key>` sidecar might contain
    * at least one of `probe`'s `key` values; segments without a sidecar
    * are always scanned (pruning is an optimization, never a filter).
    *
    * CONTRACT: the returned frame omits segments that provably contain
    * no probe-key matches, so it is a valid store side only for
    * consumers that restrict to rows with `key` ∈ probe — equi-, semi-
    * or anti-joins on `key`, membership flags. Bloom false positives
    * only ADD segments (conservative).
    *
    * The membership test is distributed: the serialized sidecars
    * broadcast to the probe's partitions, each partition short-circuits
    * a sidecar once hit, and only the hit-index set (bounded by the
    * segment count) returns to the driver — the probe keys themselves
    * never do. */
  def readPruned(spark: SparkSession, root: java.io.File,
      schema: StructType, key: String, probe: DataFrame): PrunedRead = {
    // settle any deferred sidecar build first: the latest segment's
    // sidecar is exactly what THIS probe wants to prune with,
    // racing it degrades to always-scan-while-the-build-competes, and a
    // deferred build failure on a store only ever probed here must
    // still rethrow (fail loud, per pendingBloom's contract).
    settleBloom(root)
    val segs = segments(root)
    if (segs.isEmpty) return PrunedRead(read(spark, root, schema), 0, 0)
    val (hit, bare) = bloomCandidates(spark, root, segs, key, probe)
    val chosen = segs.filter(sg => hit.contains(sg) || bare.contains(sg))
    val df =
      if (chosen.isEmpty)
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      else
        spark.read.schema(schema)
          .parquet(chosen.map(s => new java.io.File(root, s).getPath): _*)
    PrunedRead(df, chosen.size, segs.size)
  }

  /** Sidecar membership test shared by [[readPruned]] and [[purgeKeys]]:
    * (segments whose Bloom might contain a probe key, segments with no
    * sidecar — always candidates). The test is distributed: serialized
    * sidecars broadcast to the probe's partitions, each partition
    * short-circuits a sidecar once hit, and only the hit-index set
    * (bounded by the segment count) returns to the driver — the probe
    * keys themselves never do. */
  private def bloomCandidates(spark: SparkSession, root: java.io.File,
      segs: Seq[String], key: String,
      probe: DataFrame): (Set[String], Set[String]) = {
    import org.apache.spark.sql.functions.col
    val (withB, bare) = segs.partition(bloomFile(root, _, key).isFile)
    val hit: Set[String] =
      if (withB.isEmpty) Set.empty
      else {
        val bytes = withB.map(sg => java.nio.file.Files
          .readAllBytes(bloomFile(root, sg, key).toPath)).toArray
        val bc = spark.sparkContext.broadcast(bytes)
        try {
          import spark.implicits._
          val idx = probe.select(col(key).cast("string")).na.drop()
            .as[String].mapPartitions { it =>
              val bfs = bc.value.map(b =>
                org.apache.spark.util.sketch.BloomFilter.readFrom(
                  new java.io.ByteArrayInputStream(b)))
              val hits = new Array[Boolean](bfs.length)
              var remaining = bfs.length
              while (remaining > 0 && it.hasNext) {
                val v = it.next()
                var i = 0
                while (i < bfs.length) {
                  if (!hits(i) && bfs(i).mightContainString(v)) {
                    hits(i) = true; remaining -= 1
                  }
                  i += 1
                }
              }
              hits.zipWithIndex.collect { case (true, i) => i }.iterator
            }.collect() // ≤ |segments| × partitions ints by construction
                        // (values index bfs) — the one non-Dataset
                        // collect, outside Core.boundedCollect's reach.
                        // Driver-side toSet replaces the old .distinct():
                        // a shuffle stage bought nothing on a result this
                        // small, and on the ingest path the probe runs
                        // once per trigger (one fewer stage per probe).
          idx.toSet[Int].map(withB)
        } finally bc.destroy()
      }
    (hit, bare.toSet)
  }

  /** MAINTENANCE: delete every row whose `key` ∈ `keys` — the
    * right-to-be-forgotten / key-retraction rewrite a long-lived store
    * owes its upstream. SURGICAL, never O(store): segments whose Bloom
    * sidecar provably excludes every purge key are left untouched (no
    * I/O beyond the sidecar test); each segment that actually holds a
    * match is rewritten as an anti-joined `seg-c<n>` twin (the fold
    * namespace, so batch-id appends can never collide) with a fresh
    * sidecar, and ONE atomic manifest swap publishes all twins
    * together — a death pre-swap leaves every twin invisible, a death
    * post-swap leaves unreferenced old dirs the sweep (or the next
    * compact) clears. A candidate segment whose matches turn out to be
    * Bloom false positives is NOT rewritten (purged content ≡ current
    * content — rewriting would churn I/O for nothing).
    *
    * The numeric batch ids of rewritten segments fold into the
    * `#folded:` high-water mark: a crash-recovery replay of such a
    * batch must no-op, not resurrect the purged rows from the
    * deterministic source replay — THE correctness edge of deletion
    * from an idempotent-append log. Same single-writer contract as
    * [[compact]].
    *
    * Returns (segmentsRewritten, segmentsTotal). */
  def purgeKeys(spark: SparkSession, root: java.io.File,
      schema: StructType, key: String, keys: DataFrame,
      bloom: Option[BloomSpec] = None): (Int, Int) = {
    import org.apache.spark.sql.functions.col
    settleBloom(root)
    val segs = segments(root)
    if (segs.isEmpty) return (0, 0)
    val (hit, bare) = bloomCandidates(spark, root, segs, key, keys)
    val candidates = segs.filter(sg => hit.contains(sg) || bare.contains(sg))
    if (candidates.isEmpty) return (0, segs.size)
    val k = keys.select(col(key)).distinct()
    var gen = segs.filter(_.startsWith("seg-c"))
      .map(_.stripPrefix("seg-c").toLong).maxOption.getOrElse(-1L) + 1
    val replaced = candidates.flatMap { sg =>
      val cur = spark.read.schema(schema)
        .parquet(new java.io.File(root, sg).getPath)
      val purged = cur.join(k, Seq(key), "left_anti")
      if (purged.count() == cur.count()) None // Bloom false positive
      else {
        val twin = s"seg-c$gen"; gen += 1
        purged.write.mode("overwrite")
          .parquet(new java.io.File(root, twin).getPath)
        bloom.foreach(b => writeBloom(spark, root, twin, b))
        Some(sg -> twin)
      }
    }.toMap
    if (replaced.isEmpty) return (0, segs.size)
    val hw = (replaced.keys.toSeq.filterNot(_.startsWith("seg-c"))
      .map(_.stripPrefix("seg-").toLong) :+ foldedHighWater(root)).max
    writeManifest(root, s"p$gen", segs.map(sg => replaced.getOrElse(sg, sg)),
      hw)
    replaced.keys.foreach(sg => deleteRecursively(new java.io.File(root, sg)))
    (replaced.size, segs.size)
  }

  /** MAINTENANCE: fold every committed segment into one range-clustered
    * segment without changing read results — the small-file remedy for
    * a long-running ingest, whose one-parquet-append-per-trigger layout
    * otherwise accumulates files without bound (the lakehouse
    * `OPTIMIZE` applied to the store layout). The rows
    * are rewritten range-clustered on `clusterKeys` so per-file min/max
    * stats stay narrow and a later keyed probe (the stores are probed
    * by digest / band key) prunes files.
    *
    * Same commit discipline as [[append]]: write the folded segment
    * (named `seg-c<n>`, outside the batch-id namespace so a later
    * trigger id can never collide with it), atomically swap the
    * MANIFEST to list only it, then sweep the superseded segment dirs.
    * A death mid-write or pre-swap leaves the fold invisible; a death
    * post-swap leaves unreferenced old dirs the next compact sweeps.
    * MUST NOT run concurrently with a writer (single-writer contract);
    * SEQUENTIAL replays of folded batch ids are safe — the manifest's
    * `#folded:` high-water mark makes [[append]] no-op for them, so a
    * post-compaction restart can never double-append a folded batch.
    *
    * `nFiles` ≤ 0 (default) sizes the range partitions to the DATA
    * (repartitionByRange without an explicit count — AQE coalesces
    * adjacent small ranges, so a small store still folds to ~1 file
    * while a large one fans out). A pinned count remains available for
    * layout tests, but a fixed 1 is a SINGLE-THREADED sort of the whole
    * store — the O(store · log store)/1-core fold the 100× probe
    * flagged at 12.9× on the index twin (r18): exactly the bottleneck
    * class a fold must not have, since the store is the thing that
    * grows. Range clustering (and so zone-map pruning) holds at any
    * file count — the ranges are global across the fold's files. */
  def compact(spark: SparkSession, root: java.io.File, schema: StructType,
      clusterKeys: Seq[String], nFiles: Int = 0,
      bloom: Option[BloomSpec] = None): Unit = {
    import org.apache.spark.sql.functions.col
    settleBloom(root)
    val segs = segments(root)
    if (segs.size <= 1) return
    val gen = segs.filter(_.startsWith("seg-c"))
      .map(_.stripPrefix("seg-c").toLong).maxOption.getOrElse(-1L) + 1
    val folded = s"seg-c$gen"
    val all = read(spark, root, schema)
    val clustered =
      if (nFiles > 0) all.repartitionByRange(nFiles, clusterKeys.map(col): _*)
      else all.repartitionByRange(clusterKeys.map(col): _*)
    clustered
      .sortWithinPartitions(clusterKeys.map(col): _*)
      .write.mode("overwrite")
      .parquet(new java.io.File(root, folded).getPath)
    bloom.foreach(b => writeBloom(spark, root, folded, b))
    // the folded high-water: every numeric batch id being folded away
    // (plus any earlier fold's mark) — append() refuses these ids from
    // now on, keeping replay idempotence across the fold
    val hw = (segs.filterNot(_.startsWith("seg-c"))
      .map(_.stripPrefix("seg-").toLong) :+ foldedHighWater(root)).max
    writeManifest(root, s"c$gen", Seq(folded), hw)
    Option(root.listFiles()).foreach(_.filter(f => f.isDirectory &&
        f.getName.startsWith("seg-") && f.getName != folded)
      .foreach(deleteRecursively))
  }

  /** Committed segment count — the maintenance observability hook
    * ([[compact]]'s before/after pin). */
  def segmentCount(root: java.io.File): Int = segments(root).size

  /** Data file count across committed segments (part-files only). */
  def fileCount(root: java.io.File): Int = segments(root).map { sg =>
    Option(new java.io.File(root, sg).listFiles()).toSeq.flatten
      .count(f => f.isFile && f.getName.startsWith("part-"))
  }.sum

  /** Remove the table entirely (fresh-run reset). */
  def destroy(root: java.io.File): Unit = {
    // join (never delete under a running sidecar build) but do NOT
    // rethrow a deferred failure: the table is being deleted, so a
    // stale build error is moot — rethrowing here would poison the
    // NEXT fresh run of an op whose previous invocation died after
    // deferring (the fail-loud path is settle()/the dependent ops)
    val p = pendingBloom.remove(root.getCanonicalPath)
    if (p != null) {
      p._1.join()
      Option(p._2.get()).foreach(e => System.err.println(
        s"[AppendTable] discarding deferred sidecar failure on destroy " +
        s"of $root: ${e.getMessage}"))
    }
    deleteRecursively(root)
  }
}
