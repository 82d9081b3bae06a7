package engine.stream

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import gps.TestSpark

/** Pins [[AppendTable.compact]]'s contract (r13 verdict item 6): the
  * fold changes the store's LAYOUT only — read results are the same row
  * multiset before and after, the segment/file counts actually shrink,
  * and a second compaction of an already-folded store is a no-op. */
class AppendTableSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("compact folds segments losslessly and is idempotent") {
    val root = new java.io.File(
      s"${engine.Core.scratchRoot}/graft_appendtable_spec_${java.util.UUID.randomUUID}")
    try {
      // 5 per-trigger appends, several files each (repartition(3)) —
      // the small-file accumulation a long-running ingest produces
      val schema = Seq((0L, "x")).toDF("id", "k").schema
      (0 until 5).foreach { i =>
        val df = (0 until 40).map(j => (i * 100L + j, s"k${j % 7}"))
          .toDF("id", "k").repartition(3)
        AppendTable.append(df, root, i.toLong)
      }
      assert(AppendTable.segmentCount(root) == 5)
      val filesBefore = AppendTable.fileCount(root)
      assert(filesBefore >= 15, s"expected >=15 part files, $filesBefore")
      val before = AppendTable.read(spark, root, schema)
        .collect().map(_.toSeq).toSeq.sortBy(_.toString)
      AppendTable.compact(spark, root, schema, Seq("k", "id"), nFiles = 1)
      assert(AppendTable.segmentCount(root) == 1)
      assert(AppendTable.fileCount(root) == 1)
      // superseded segment dirs are swept
      assert(Option(root.listFiles()).toSeq.flatten
        .count(f => f.isDirectory && f.getName.startsWith("seg-")) == 1)
      val after = AppendTable.read(spark, root, schema)
        .collect().map(_.toSeq).toSeq.sortBy(_.toString)
      assert(before == after, "compaction changed read results")
      // single-segment store: compact is a no-op (same manifest)
      val manifestBefore = java.nio.file.Files.readString(
        new java.io.File(root, "MANIFEST").toPath)
      AppendTable.compact(spark, root, schema, Seq("k", "id"))
      assert(java.nio.file.Files.readString(
        new java.io.File(root, "MANIFEST").toPath) == manifestBefore)
      // appends keep working after a fold (fresh trigger id)
      AppendTable.append(Seq((900L, "z")).toDF("id", "k"), root, 9L)
      assert(AppendTable.segmentCount(root) == 2)
      assert(AppendTable.read(spark, root, schema).count() == 201)
    } finally {
      AppendTable.destroy(root)
    }
  }

  test("a post-compaction replay of a folded batch id is a no-op " +
      "(folded high-water mark)") {
    val root = new java.io.File(
      s"${engine.Core.scratchRoot}/graft_appendtable_spec_${java.util.UUID.randomUUID}")
    try {
      val schema = Seq((0L, "x")).toDF("id", "k").schema
      val b0 = Seq((0L, "a"), (1L, "b")).toDF("id", "k")
      val b1 = Seq((2L, "c")).toDF("id", "k")
      AppendTable.append(b0, root, 0L)
      AppendTable.append(b1, root, 1L)
      AppendTable.compact(spark, root, schema, Seq("id"))
      assert(AppendTable.foldedHighWater(root) == 1L)
      // crash-recovery replay of batch 1 (committed before the fold but
      // not engine-checkpointed): its seg-1 is no longer manifest-listed,
      // so without the high-water mark append() would re-list it and
      // every read would double batch 1's rows
      AppendTable.append(b1, root, 1L)
      assert(AppendTable.read(spark, root, schema).count() == 3,
        "replayed folded batch duplicated its rows")
      assert(AppendTable.segmentCount(root) == 1)
      // a genuinely NEW batch id above the mark still appends
      AppendTable.append(Seq((9L, "z")).toDF("id", "k"), root, 2L)
      assert(AppendTable.read(spark, root, schema).count() == 4)
      // and a second fold carries the mark forward monotonically
      AppendTable.compact(spark, root, schema, Seq("id"))
      assert(AppendTable.foldedHighWater(root) == 2L)
      AppendTable.append(Seq((99L, "q")).toDF("id", "k"), root, 2L)
      assert(AppendTable.read(spark, root, schema).count() == 4)
    } finally {
      AppendTable.destroy(root)
    }
  }

  test("readPruned skips segments whose Bloom sidecar excludes every " +
      "probe key, never drops matching rows") {
    val root = new java.io.File(
      s"${engine.Core.scratchRoot}/graft_appendtable_spec_${java.util.UUID.randomUUID}")
    try {
      val schema = Seq((0L, "x")).toDF("id", "dg").schema
      val bl = Some(BloomSpec.column("dg"))
      // 3 bloomed segments with disjoint key ranges + 1 legacy segment
      // without a sidecar
      (0 until 3).foreach { i =>
        val df = (0 until 50).map(j => (i * 100L + j, s"dg-$i-$j"))
          .toDF("id", "dg")
        AppendTable.append(df, root, i.toLong, bl)
      }
      AppendTable.append(Seq((900L, "legacy-0")).toDF("id", "dg"), root, 3L)
      // probe keys only from segment 1 → exactly seg-1 + the sidecar-
      // less legacy segment are scanned
      val p1 = AppendTable.readPruned(spark, root, schema, "dg",
        Seq("dg-1-7", "dg-1-9").toDF("dg"))
      assert(p1.segmentsTotal == 4)
      assert(p1.segmentsScanned == 2,
        s"expected seg-1 + legacy, scanned ${p1.segmentsScanned}")
      assert(p1.df.filter(col("dg") === "dg-1-7").count() == 1,
        "pruned read dropped a matching row")
      // probe keys matching nothing → only the legacy segment scans
      val p0 = AppendTable.readPruned(spark, root, schema, "dg",
        Seq("nope-1", "nope-2").toDF("dg"))
      assert(p0.segmentsScanned == 1)
      assert(p0.df.count() == 1) // just the legacy row
      // a bloomed compact re-fronts the folded segment: pruning still
      // works after the fold
      AppendTable.compact(spark, root, schema, Seq("dg"), bloom = bl)
      val pc = AppendTable.readPruned(spark, root, schema, "dg",
        Seq("nope-3").toDF("dg"))
      assert(pc.segmentsTotal == 1)
      assert(pc.segmentsScanned == 0, "folded segment lost its sidecar")
      val pd = AppendTable.readPruned(spark, root, schema, "dg",
        Seq("dg-2-4").toDF("dg"))
      assert(pd.segmentsScanned == 1)
      assert(pd.df.filter(col("dg") === "dg-2-4").count() == 1)
    } finally {
      AppendTable.destroy(root)
    }
  }

  test("append with a BloomSpec leaves its _BLOOM.<key> sidecar on disk " +
      "when it returns") {
    val root = new java.io.File(
      s"${engine.Core.scratchRoot}/graft_appendtable_spec_${java.util.UUID.randomUUID}")
    try {
      val df = (0 until 20).map(j => (j.toLong, s"dg-$j")).toDF("id", "dg")
      AppendTable.append(df, root, 0L, Some(BloomSpec.column("dg")))
      // no settle, no sleep: the sidecar is complete the moment append
      // returns, and no tmp file is left beside it
      val seg = new java.io.File(root, "seg-0")
      assert(new java.io.File(seg, "_BLOOM.dg").isFile,
        "append returned before its sidecar landed")
      assert(!new java.io.File(seg, "_BLOOM.dg.tmp").exists())
    } finally {
      AppendTable.destroy(root)
    }
  }

  test("purgeKeys rewrites only the segments holding purge keys, raises " +
      "the folded high-water so a replay cannot resurrect purged rows") {
    val root = new java.io.File(
      s"${engine.Core.scratchRoot}/graft_appendtable_spec_${java.util.UUID.randomUUID}")
    try {
      val schema = Seq((0L, "x")).toDF("id", "dg").schema
      val bl = Some(BloomSpec.column("dg"))
      // 3 bloomed segments with disjoint key ranges
      def batch(i: Int) = (0 until 50).map(j => (i * 100L + j, s"dg-$i-$j"))
        .toDF("id", "dg")
      (0 until 3).foreach(i => AppendTable.append(batch(i), root, i.toLong, bl))
      val (rw, tot) = AppendTable.purgeKeys(spark, root, schema, "dg",
        Seq("dg-1-7", "dg-1-9", "absent-key").toDF("dg"), bl)
      assert((rw, tot) == ((1, 3)), s"expected 1/3 rewritten, got $rw/$tot")
      val after = AppendTable.read(spark, root, schema)
      assert(after.count() == 148)
      assert(after.filter(col("dg").isin("dg-1-7", "dg-1-9")).count() == 0,
        "purged keys survived")
      assert(after.filter(col("dg") === "dg-1-8").count() == 1,
        "purge dropped a non-matching row from the rewritten segment")
      // the rewritten twin carries a fresh sidecar: probes of surviving
      // seg-1 keys still prune to one segment
      val p = AppendTable.readPruned(spark, root, schema, "dg",
        Seq("dg-1-8").toDF("dg"))
      assert(p.segmentsScanned == 1, "purged twin lost its sidecar")
      // crash-recovery replay of the purged batch id must NO-OP: the
      // deterministic source replay would otherwise resurrect the
      // purged rows — the correctness edge deletion adds to an
      // idempotent-append log
      assert(AppendTable.foldedHighWater(root) == 1L)
      AppendTable.append(batch(1), root, 1L, bl)
      assert(AppendTable.read(spark, root, schema).count() == 148,
        "replay of a purged batch resurrected deleted rows")
      // untouched segments keep their original names (no churn)
      assert(AppendTable.segmentCount(root) == 3)
      // purging keys no segment holds is a clean no-op: nothing
      // rewrites, nothing changes
      val (rw2, tot2) = AppendTable.purgeKeys(spark, root, schema, "dg",
        Seq("nope-1").toDF("dg"), bl)
      assert((rw2, tot2) == ((0, 3)))
      assert(AppendTable.read(spark, root, schema).count() == 148)
    } finally {
      AppendTable.destroy(root)
    }
  }

  test("VersionedTable keep=K retains exactly the K newest snapshots; " +
      "readAt serves them consistently and refuses anything else") {
    val root = new java.io.File(
      s"${engine.Core.scratchRoot}/graft_versioned_spec_${java.util.UUID.randomUUID}")
    try {
      (0 until 4).foreach { i =>
        VersionedTable.commit(
          (0 to i).map(j => (j.toLong, s"r$j")).toDF("id", "k"),
          root, i.toLong, keep = 3)
      }
      // 4 commits, keep 3: v0 pruned, v1..v3 retained newest-first
      assert(VersionedTable.retainedVersions(root) == Seq(3L, 2L, 1L))
      assert(VersionedTable.readAt(spark, root, 0L).isEmpty,
        "pruned snapshot must not read")
      (1 to 3).foreach { v =>
        val snap = VersionedTable.readAt(spark, root, v.toLong)
        assert(snap.isDefined, s"retained v$v unreadable")
        assert(snap.get.count() == v + 1, s"v$v content drifted")
      }
      // current read still serves the newest version
      assert(VersionedTable.read(spark, root).get.count() == 4)
      // a torn dir ABOVE the pointer (crashed future build) is not a
      // readable snapshot — the pointer defines what committed
      new java.io.File(root, "v9").mkdirs()
      assert(VersionedTable.readAt(spark, root, 9L).isEmpty)
      assert(!VersionedTable.retainedVersions(root).contains(9L))
      // default keep=1 prunes back to current-only (pre-r19 behavior)
      VersionedTable.commit(Seq((0L, "x")).toDF("id", "k"), root, 10L)
      assert(VersionedTable.retainedVersions(root) == Seq(10L))
      assert(VersionedTable.readAt(spark, root, 3L).isEmpty)
    } finally {
      VersionedTable.destroy(root)
    }
  }
}
