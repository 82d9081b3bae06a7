package engine

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import gps.TestSpark
import engine.llm.{LlmQueries, MultimodalQueries, TextFunctions, VectorFunctions}

/** LLM-pipeline operator tests (SURVEY.md §2 B47-B51) on the sf0.001
  * driver testdata: MinHash estimates vs exact Jaccard, SimHash hamming
  * separation, ANN recall vs the brute-force baseline, and the
  * multimodal decode-stub plumbing. */
class LlmSpec extends AnyFunSuite with org.scalatest.BeforeAndAfterAll {
  lazy val spark = TestSpark.spark
  private val Mft = engine.stream.StreamQueries.MaxFilesPerTriggerKey
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"

  // persist-marked frames (minhash/jaccard signatures) must not outlive
  // the suite — outside Verify/Bench nothing else drains the registry
  override def afterAll(): Unit = engine.ScratchCache.drain()

  test("minhash estimate tracks exact shingle Jaccard on near-dup pairs") {
    val exact = LlmQueries.queries("dedup_ngram_jaccard").fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val est = LlmQueries.queries("dedup_minhash").fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(exact.nonEmpty, "testdata should contain planted near-dup pairs")
    // every exact near-dup (j >= 0.8) must surface as an LSH candidate
    // with an estimate within 0.25 (k=32 ⇒ σ ≈ sqrt(j(1-j)/32) ≈ 0.07)
    exact.foreach { case (pair, j) =>
      assert(est.contains(pair), s"LSH missed exact pair $pair (j=$j)")
      assert(math.abs(est(pair) - j) <= 0.25, s"$pair est=${est(pair)} j=$j")
    }
  }

  test("simhash separates near-dups from unrelated docs (synthetic vocab)") {
    // large synthetic vocabulary (the testdata's 30-word vocab is too
    // small for simhash to discriminate — that query is oracle-checked
    // for mechanics instead); near-dup = 10 of 200 tokens replaced
    val base = (0 until 200).map(i => s"w${i % 120}")
    val near = base.updated(3, "x1").updated(50, "x2").updated(99, "x3")
    val far = (0 until 200).map(i => s"v${i % 120}")
    val df = Seq((0L, base.mkString(" ")), (1L, near.mkString(" ")),
      (2L, far.mkString(" ")), (3L, base.mkString(" ")))
      .toDF("doc_id", "text")
    val sims = LlmQueries.simhashOf(df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(sims(a) ^ sims(b))
    assert(ham(0L, 3L) == 0, "identical docs must hash identically")
    assert(ham(0L, 1L) < ham(0L, 2L),
      s"near-dup ${ham(0L, 1L)} should beat unrelated ${ham(0L, 2L)}")
    // banded pair generation finds exactly the close pairs
    val pairs = LlmQueries.simhashPairs(df, 8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 3L)))
  }

  test("simhash NULL contract: a zero-signature doc vanishes through the " +
      "band join, matching the aggregate replay's missing row") {
    // SimHash60 yields NULL for a doc with zero contributing tokens,
    // while the DuckDB aggregate replay emits NO ROW for such a doc.
    // The two are indistinguishable only through a band JOIN (NULL
    // bands explode to nothing; a missing row joins to nothing) — so
    // the contract is: simhash is consumed via band joins ONLY. Any
    // future query projecting `sim` directly must model the NULL in its
    // oracle (LEFT JOIN in the SQL CTE) or it will row-count-mismatch.
    // This test pins the vanishing behavior the contract relies on.
    val df = Seq((0L, Option("a b c a b c a b c")),
      (1L, Option("a b c a b c a b d")),
      (2L, Option.empty[String])) // null text → NULL signature
      .toDF("doc_id", "text")
    val sims = LlmQueries.simhashOf(df).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None
        else Some(r.getLong(1)))).toMap
    assert(sims(2L).isEmpty, "degenerate doc must carry a NULL signature")
    assert(sims(0L).isDefined && sims(1L).isDefined)
    val pairs = LlmQueries.simhashPairs(df, 8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L),
      "NULL-signature doc leaked into the band join")
  }

  test("dedup_embedding_clusters: components are consistent with the " +
      "banded pair frame") {
    val pairs = LlmQueries.queries("dedup_embedding_banded").fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val rows = LlmQueries.queries("dedup_embedding_clusters").fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val members = rows.map(_._1).toSet
    // exactly the ids appearing in some verified pair are clustered
    assert(members == pairs.flatMap(p => Seq(p._1, p._2)).toSet)
    val rep = rows.map(r => r._1 -> r._2).toMap
    // both ends of every edge share a component; labels are component
    // minima (rep <= every member, and the rep labels itself)
    pairs.foreach { case (a, b) => assert(rep(a) == rep(b), s"$a~$b split") }
    rows.foreach { case (v, l, _) => assert(l <= v && rep(l) == l) }
    // sizes count members per label
    val bySize = rows.groupBy(_._2).view.mapValues(_.length).toMap
    rows.foreach { case (_, l, sz) => assert(sz == bySize(l)) }
  }

  test("dedup_embedding: banded default is a subset of conf-gated exact") {
    val q = LlmQueries.queries("dedup_embedding")
    // default mode = banded (the 100 TB plan, flipped in r7)
    val banded = q.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    spark.conf.set("spark.graft.dedupEmbedding.mode", "exact")
    try {
      val exact = q.fn(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(exact.nonEmpty, "testdata should contain embedding near-dups")
      // exact-cosine verification of candidates ⇒ never a false positive,
      // and the surviving pairs carry identical cosines
      assert(banded.keySet.subsetOf(exact.keySet),
        s"banded emitted non-pairs: ${banded.keySet -- exact.keySet}")
      banded.foreach { case (k, v) => assert(v == exact(k)) }
      // every sf0.001 pair sits AT the 0.45 margin (cos 0.45-0.48), the
      // worst case for SRP collision (theory: ~0.56 per pair with 4x4-bit
      // bands); deterministic md5 planes make the observed 5/7 stable —
      // assert the conservative floor. Recall → 1 as cosine → 1.
      assert(banded.size * 2 >= exact.size,
        s"banded recall ${banded.size}/${exact.size} below 0.5 at the margin")
    } finally spark.conf.unset("spark.graft.dedupEmbedding.mode")
  }

  test("dedup_incremental: multi-batch streamed result == single-pass batch") {
    // decomposition invariance in Spark alone (the oracle pins it vs
    // DuckDB): survivors of the batched run against the growing signature
    // store must equal "docs minus every higher id of an est>=0.5 pair"
    // computed in one pass over the whole corpus. mft=11 forces the
    // 3-batch cross-trigger path (the op's default replays in ONE
    // trigger since r13 — this pin is what keeps the split exercised)
    val streamed = engine.Core.withConfs(spark)(Mft -> "11") {
      LlmQueries.queries("dedup_incremental").fn(spark, sf)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    val dropped = LlmQueries.queries("dedup_minhash").fn(spark, sf)
      .select("db").collect().map(_.getLong(0)).toSet
    val all = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed == (all -- dropped))
    assert(dropped.nonEmpty, "testdata should contain planted near-dups")
  }

  test("sample_temperature: upsamples rare strata, downsamples common, " +
      "achieves target rates") {
    val out = LlmQueries.queries("sample_temperature").fn(spark, sf).collect()
    val rates = out.map(r =>
      r.getAs[String]("lang") -> r.getAs[Double]("sample_rate")).toMap
    assert(rates.values.exists(_ > 1.0), "some stratum must upsample")
    assert(rates.values.exists(_ < 1.0), "some stratum must downsample")
    // copy indices are dense 1..k per doc; k=1 wherever rate < 1
    out.groupBy(_.getAs[Long]("doc_id")).values.foreach { g =>
      val copies = g.map(_.getAs[Int]("copy")).sorted.toList
      assert(copies == (1 to copies.max).toList, copies.toString)
      if (rates(g.head.getAs[String]("lang")) < 1.0)
        assert(copies.max == 1, "downsampled stratum cannot replicate")
    }
    // achieved per-stratum volume tracks c*rate (stochastic rounding is
    // per-doc Bernoulli on the fractional part: 4*sqrt(c) is > 4 sigma)
    val byLang = out.groupBy(_.getAs[String]("lang"))
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    byLang.foreach { case (l, g) =>
      val expect = docs(l) * rates(l)
      assert(math.abs(g.length - expect) <= 4 * math.sqrt(docs(l).toDouble),
        s"$l emitted ${g.length}, expected ~$expect")
    }
  }

  test("decontaminate_incremental: batch decomposition does not change " +
      "verdicts") {
    // a verdict is f(batch doc, static eval index) — re-running with ONE
    // big trigger instead of three nightly batches must be identical
    def run(): Seq[Seq[Any]] =
      LlmQueries.queries("decontaminate_incremental").fn(spark, sf)
        .collect().map(_.toSeq).toSeq
    // 3 nightly batches
    val batched = engine.Core.withConfs(spark)(Mft -> "11")(run())
    val single = run() // default: one trigger
    assert(batched == single)
    assert(batched.nonEmpty, "fixture plants contaminated train docs")
  }

  test("dedup_exact_incremental: batch decomposition does not change " +
      "survivors, and streamed == single-pass dedup_exact") {
    // ordered admission makes "first ingestion of the digest" ≡ "lowest
    // doc_id of the digest", so any trigger split must reproduce the
    // whole-corpus exact-dedup survivor set
    def run(): Seq[Long] =
      LlmQueries.queries("dedup_exact_incremental").fn(spark, sf)
        .select("doc_id").collect().map(_.getLong(0)).toSeq
    val batched = engine.Core.withConfs(spark)(Mft -> "11")(run()) // 3 batches
    val single = run() // default: one trigger
    assert(batched == single)
    val exact = LlmQueries.queries("dedup_exact").fn(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(batched == exact, "incremental store diverged from dedup_exact")
  }

  test("corpus_report_incremental: any trigger split folds to the " +
      "one-pass data card") {
    // every statistic is a mergeable partial (counts/sums/min/max +
    // digest-count deltas), so the 3-batch fold, the single-trigger
    // fold, and the whole-corpus corpus_report must agree row-for-row
    def run(): Seq[Seq[Any]] =
      LlmQueries.queries("corpus_report_incremental").fn(spark, sf)
        .collect().map(_.toSeq).toSeq
    val multi = engine.Core.withConfs(spark)(Mft -> "11")(run()) // 3 batches
    val single = run()
    val batch = LlmQueries.queries("corpus_report").fn(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(multi == single)
    assert(single == batch, "incremental fold diverged from corpus_report")
    assert(batch.nonEmpty)
  }

  test("quantile_sketch_incremental: any trigger split folds to the " +
      "batch sketch's estimates") {
    // bin-count vectors add associatively over a FIXED calibration
    // grid, so the 3-batch fold, the single-trigger fold, and the batch
    // agg_quantile_sketch's est column must agree exactly
    def run(): Seq[Seq[Any]] =
      engine.llm.IncrementalDedup.queries("quantile_sketch_incremental")
        .fn(spark, sf).collect().map(_.toSeq).toSeq
    val multi = engine.Core.withConfs(spark)(Mft -> "11")(run()) // 3 batches
    val single = run()
    val batch = engine.rel.RelQueries.queries("agg_quantile_sketch")
      .fn(spark, sf).collect()
      .map(r => Seq(r.getString(0), r.getDouble(1), r.getDouble(2)))
      .toSeq
    assert(multi == single)
    assert(single == batch,
      "incremental fold diverged from agg_quantile_sketch's estimates")
    assert(batch.nonEmpty)
  }

  test("corpus_drift_incremental: any trigger split folds to the " +
      "one-pass drift report") {
    // term-count deltas are associative, so the 3-batch fold, the
    // single-trigger fold, and the batch corpus_drift must agree
    def run(): Seq[Seq[Any]] =
      LlmQueries.queries("corpus_drift_incremental").fn(spark, sf)
        .collect().map(_.toSeq).toSeq
    val multi = engine.Core.withConfs(spark)(Mft -> "11")(run()) // 3 batches
    val single = run()
    val batch = LlmQueries.queries("corpus_drift").fn(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(multi == single)
    assert(single == batch, "incremental fold diverged from corpus_drift")
    assert(batch.nonEmpty)
  }

  test("dedup_exact_incremental: null-text docs dedup across triggers " +
      "(sentinel digest, not a NULL join key)") {
    // a NULL digest groups fine INSIDE a batch but never equi-joins the
    // store — without the sentinel, the second null-text doc of a later
    // trigger survives, diverging from dedup_exact's grouped-NULL window
    val dir = java.nio.file.Files.createTempDirectory("graft_nulltext")
      .toFile
    Seq((0L, "alpha beta", "en", "s", 10L),
        (1L, null.asInstanceOf[String], "en", "s", 0L),
        (2L, "alpha beta", "en", "s", 10L),
        (3L, null.asInstanceOf[String], "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    // 32 range-partitioned source files, 1 per trigger ⇒ each doc
    // arrives in its own micro-batch: the cross-batch path is exercised
    val kept = engine.Core.withConfs(spark)(Mft -> "1") {
      LlmQueries.queries("dedup_exact_incremental").fn(spark, dir.getPath)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    assert(kept == Set(0L, 1L),
      s"expected first copy of each content group (incl the null group), got $kept")
  }

  test("dedup_embedding_incremental: streamed survivors == whole-corpus " +
      "banded screen") {
    // decomposition invariance in Spark alone: survivors of the batched
    // run against the growing SRP store must equal "vectors minus every
    // higher id of a verified banded pair" from the single-pass operator.
    // mft=11 forces the 3-batch cross-trigger path (default = 1 trigger)
    val streamed = engine.Core.withConfs(spark)(Mft -> "11") {
      LlmQueries.queries("dedup_embedding_incremental")
        .fn(spark, sf).collect().map(_.getLong(0)).toSet
    }
    val dropped = LlmQueries.queries("dedup_embedding_banded").fn(spark, sf)
      .select("vb").collect().map(_.getLong(0)).toSet
    val all = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(streamed == (all -- dropped))
    assert(dropped.nonEmpty, "fixture plants near-dup vectors")
  }

  test("VersionedTable.commitDir: multi-table versions swap atomically; " +
      "a torn build is invisible") {
    import engine.stream.VersionedTable
    val root = new java.io.File(
      s"/tmp/graft_vt_dir_test_${java.util.UUID.randomUUID}")
    try {
      VersionedTable.commitDir(root, 0L) { dir =>
        Seq((1L, "a")).toDF("id", "v")
          .write.parquet(new java.io.File(dir, "t1").getPath)
        Seq((2L, "b")).toDF("id", "v")
          .write.parquet(new java.io.File(dir, "t2").getPath)
      }
      val v0 = VersionedTable.currentDir(root).get
      assert(spark.read.parquet(new java.io.File(v0, "t1").getPath)
        .count() == 1)
      // crashed build: v1 half-written (one table only, garbage bytes),
      // pointer never swapped — readers must still resolve v0
      val torn = new java.io.File(root, "v1/t1")
      torn.mkdirs()
      java.nio.file.Files.writeString(
        new java.io.File(torn, "part-0.parquet").toPath, "NOT PARQUET")
      assert(VersionedTable.currentDir(root).get.getName == "v0")
      // the retried build reuses the orphan id, clears it, and publishes
      VersionedTable.commitDir(root, 1L) { dir =>
        Seq((3L, "c")).toDF("id", "v")
          .write.parquet(new java.io.File(dir, "t1").getPath)
        Seq((4L, "d")).toDF("id", "v")
          .write.parquet(new java.io.File(dir, "t2").getPath)
      }
      val v1 = VersionedTable.currentDir(root).get
      assert(v1.getName == "v1")
      assert(spark.read.parquet(new java.io.File(v1, "t2").getPath)
        .collect().map(_.getLong(0)).toSeq == Seq(4L))
      // re-committing the CURRENT version id is an idempotent no-op (a
      // foreachBatch replayed across the crash window between the state
      // commit and the engine checkpoint) — state must stay v1, intact,
      // and the write closure must not run
      var reran = false
      VersionedTable.commitDir(root, 1L)(_ => reran = true)
      assert(!reran, "replayed commit re-ran its write closure")
      assert(VersionedTable.currentDir(root).get.getName == "v1")
      assert(spark.read.parquet(new java.io.File(v1, "t2").getPath)
        .collect().map(_.getLong(0)).toSeq == Seq(4L))
      // a crash between tmp-write and rename leaves CURRENT.tmp.* strays;
      // the next commit sweeps them
      java.nio.file.Files.writeString(
        new java.io.File(root, "CURRENT.tmp.9").toPath, "v9")
      VersionedTable.commitDir(root, 2L) { dir =>
        Seq((5L, "e")).toDF("id", "v")
          .write.parquet(new java.io.File(dir, "t1").getPath)
      }
      assert(VersionedTable.currentDir(root).get.getName == "v2")
      assert(!new java.io.File(root, "CURRENT.tmp.9").exists(),
        "stale CURRENT.tmp stray survived the next commit")
    } finally VersionedTable.destroy(root)
  }

  test("AppendTable: torn writer leaves the previous version readable") {
    import engine.stream.AppendTable
    val root = new java.io.File(
      s"/tmp/graft_append_tbl_test_${java.util.UUID.randomUUID}")
    try {
      val schema = Seq((1L, "a")).toDF("id", "v").schema
      // nothing committed yet: read is empty, not an error
      assert(AppendTable.read(spark, root, schema).count() == 0)
      AppendTable.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root, 0L)
      assert(AppendTable.read(spark, root, schema).count() == 2)
      // simulate a writer dying mid-batch: a half-written segment dir
      // (torn part-file, no _SUCCESS) and a stray manifest tmp exist,
      // but the manifest was never swapped
      val torn = new java.io.File(root, "seg-1")
      torn.mkdirs()
      java.nio.file.Files.writeString(
        new java.io.File(torn, "part-00000.parquet").toPath, "NOT PARQUET")
      java.nio.file.Files.writeString(
        new java.io.File(root, "MANIFEST.tmp.1").toPath, "seg-0\nseg-1\n")
      // the store still reads at the previous version — the torn segment
      // is invisible (plain mode("append") dirs would throw here)
      val rows = AppendTable.read(spark, root, schema)
        .collect().map(_.getLong(0)).toSet
      assert(rows == Set(1L, 2L))
      // the retried batch id overwrites its torn segment and commits
      AppendTable.append(Seq((3L, "c")).toDF("id", "v"), root, 1L)
      assert(AppendTable.read(spark, root, schema).count() == 3)
      // re-commit of an already-committed id is idempotent (no dup entry)
      // AND must not touch the segment on disk: a streaming replay that
      // rewrote a manifest-listed segment could die mid-overwrite and
      // leave the manifest pointing at a torn directory
      val segFiles = Option(new java.io.File(root, "seg-1").listFiles())
        .get.map(f => f.getName -> f.lastModified).toMap
      AppendTable.append(Seq((3L, "c")).toDF("id", "v"), root, 1L)
      assert(AppendTable.read(spark, root, schema).count() == 3)
      val after = Option(new java.io.File(root, "seg-1").listFiles())
        .get.map(f => f.getName -> f.lastModified).toMap
      assert(after == segFiles, "replay of a committed id rewrote its segment")
    } finally AppendTable.destroy(root)
  }

  test("ann recall vs brute-force top-k") {
    val bf = LlmQueries.queries("sim_search_topk").fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = LlmQueries.queries("sim_search_ann").fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf & ann).size.toDouble / bf.size
    // 4x4-bit SRP bands on random 64-dim vectors: candidates cover most
    // true neighbors; assert a sane floor rather than an exact value
    assert(recall >= 0.4, s"ANN recall $recall too low (${bf.size} truths)")
  }

  test("recall-ladder second operating points clear their floors " +
      "(ann_recall_report rows)") {
    // the report's wider/finer points must actually RAISE the middle of
    // the ladder (r12 verdict item 4): 8x2 banding collides 2-bit
    // buckets (measured 0.96 at sf0.01), nprobe=8 scans half the corpus
    // (0.80), K=256 is the canonical FAISS 8-bit PQ code (0.40, up from
    // 0.16 at K=16 — the verdict's M=8 split measured FLAT, so the
    // codebook size is the knob that moves PQ on isotropic data)
    val bf = LlmQueries.queries("sim_search_topk").fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("qid", "cid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (bf & got).size.toDouble / bf.size
    }
    val annHi = recallOf(LlmQueries.srpAnnTopK(spark, sf, 8, 2))
    val ivfHi = recallOf(LlmQueries.ivfTopK(spark, sf, 8))
    val pqHi = recallOf(llm.CurateQueries.pqAdcTopKFor(spark, sf, 4, 16, 256))
    assert(annHi >= 0.8, s"ann 8x2 recall $annHi below floor")
    assert(ivfHi >= 0.65, s"ivf nprobe=8 recall $ivfHi below floor")
    assert(pqHi >= 0.3, s"pq K=256 recall $pqHi below floor")
    // the r14 residual-encoded rungs are well-formed (ranked 1..<=5 per
    // query, candidates only from the query's probed cells by
    // construction); the RECALL claim — residual hurts on isotropic
    // data (0.08/0.24 vs raw 0.16/0.40 at sf0.01) — is documented in
    // ann_recall_report, whose oracle pins the exact row content. Here
    // only the K-monotonicity that held in every measurement: more
    // residual centroids never rank WORSE than fewer.
    val res16 = llm.CurateQueries.ivfPqResidualTopK(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    res16.groupBy(_._1).values.foreach { g =>
      assert(g.map(_._3).sorted.toSeq == (1 to g.length), "rank density")
    }
    val r16 = recallOf(llm.CurateQueries.ivfPqResidualTopK(spark, sf))
    val r256 = recallOf(
      llm.CurateQueries.ivfPqResidualTopK(spark, sf, 4, 16, 256))
    assert(r256 >= r16 - 1e-9,
      s"residual K=256 recall $r256 fell below K=16's $r16")
  }

  test("ivf indexed probe equals the inline recompute") {
    // the parquet round trip of codebook + postings is bit-exact, so the
    // persisted-index serving path must reproduce sim_search_ivf row for
    // row (same cells, same candidates, same tie-broken ranks, same
    // rounded cosines)
    val inline = LlmQueries.queries("sim_search_ivf").fn(spark, sf)
      .collect().map(_.toSeq).toSeq
    val indexed = LlmQueries.queries("sim_search_ivf_indexed").fn(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(inline == indexed)
  }

  test("stream_ann_probe: streamed answers equal the batch probe for the " +
      "shared queries") {
    // a probe answer is f(query, static index): the streaming path must
    // reproduce the batch indexed probe row-for-row on the queries both
    // serve (qid < 5), whatever trigger the query landed in. mft=16
    // forces the 2-batch serving split (default = 1 trigger)
    val streamed = engine.Core.withConfs(spark)(Mft -> "16") {
      LlmQueries.queries("stream_ann_probe").fn(spark, sf)
        .filter("qid < 5").collect().map(_.toSeq).toSeq
    }
    val batch = LlmQueries.queries("sim_search_ivf_indexed").fn(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("ivf recall vs brute-force top-k") {
    val bf = LlmQueries.queries("sim_search_topk").fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = LlmQueries.queries("sim_search_ivf").fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf & ivf).size.toDouble / bf.size
    // probing 4 of 16 cells scans ~25% of a random corpus; near-neighbors
    // concentrate in the probed cells, so recall clears a floor well above
    // the scan fraction. The 2-round Lloyd-trained codebook holds 0.52
    // here and 0.60 at sf0.1 (deterministic given the fixture; on uniform-
    // random synthetic vectors training is worth little — its value is on
    // real, clustered embedding distributions) — bound tightened 0.4→0.5
    assert(recall >= 0.5, s"IVF recall $recall too low (${bf.size} truths)")
    // at THIS fixture scale every query's 4 probed cells hold >= 5 other
    // vectors, so a full top-5 per query must come back; fewer rows means
    // probing or re-rank dropped candidates it should have kept
    assert(ivf.size == 25, s"expected 5 queries x top-5, got ${ivf.size}")
  }

  test("bpe-ish token counting: letter/digit/punct classes, empty-text guard") {
    import org.apache.spark.sql.functions._
    val pat = "[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\s]+"
    val df = Seq("don't stop, world99!", "", "   ", "...").toDF("text")
      .select(size(regexp_extract_all(col("text"), lit(pat), lit(0))).as("n"))
    // don|'|t|stop|,|world|9|9|! = 9; empty/whitespace = 0; ... = 1 run
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(9, 0, 0, 1))
    // the chars_per_bpe_token guard: zero tokens must yield NULL, not a
    // division blow-up (testdata has no empty docs; this pins the guard)
    val guarded = Seq(("", 0L)).toDF("text", "n_chars")
      .select(when(
        size(regexp_extract_all(col("text"), lit(pat), lit(0))) > 0,
        col("n_chars") / size(regexp_extract_all(col("text"), lit(pat), lit(0))))
        .as("r"))
    assert(guarded.collect().head.isNullAt(0))
  }

  test("multimodal decode stub: deterministic, fixed-width features") {
    val out = MultimodalQueries.queries("multimodal_features").fn(spark, sf)
    val histIdx = (0 until 16).map(i => out.columns.indexOf(f"hist_$i%02d"))
    assert(histIdx.forall(_ >= 0), "16 flattened histogram columns")
    val rows = out.collect()
    assert(rows.length > 0)
    rows.foreach { r =>
      val hist = histIdx.map(r.getDouble)
      assert(math.abs(hist.sum - 1.0) < 0.01, "histogram normalized")
      assert(r.getInt(1) > 0) // n_bytes
    }
    // pure function of payload: same input row twice → same features
    val m = MultimodalQueries.MediaRow(7L, "hello graft".getBytes("UTF-8"), 10, 10, 3)
    val (f1, f2) = (MultimodalQueries.decodeStub(m), MultimodalQueries.decodeStub(m))
    assert(f1.hist.sameElements(f2.hist) && f1.sample_hex == f2.sample_hex &&
      f1.n_bytes == f2.n_bytes)
  }

  test("srp lsh code: identical vectors collide, codes are stable") {
    val df = Seq((1L, Array(1.0f, 2.0f, -3.0f, 0.5f)),
                 (2L, Array(1.0f, 2.0f, -3.0f, 0.5f)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), VectorFunctions.srpCode(
        VectorFunctions.asDouble(col("embedding")), 16, 4).as("code"))
    val codes = df.collect().map(_.getLong(1))
    assert(codes(0) == codes(1))
    assert(codes(0) >= 0 && codes(0) < (1L << 16))
  }

  test("fingerprint: exact duplicate texts share fingerprints") {
    val df = Seq((1L, "a b c d e f"), (2L, "a b c d e f"), (3L, "x y z w q r"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextFunctions.fingerprint(
        TextFunctions.shingles3(TextFunctions.tokens(col("text")))).as("fp"))
    val fp = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fp(1L) == fp(2L) && fp(1L) != fp(3L))
  }

  test("frame sampling: extents, stride, and short-payload edge cases") {
    import engine.llm.MultimodalQueries.{MediaRow, frameSampleStub}
    def mk(n: Int) = MediaRow(1L, Array.tabulate(n)(_.toByte), 0, 0, 1)
    // shorter than one frame: exactly one partial frame
    val one = frameSampleStub(mk(10)).toList
    assert(one.map(f => (f.frame_idx, f.offset, f.frame_bytes)) ==
      List((0, 0, 10)))
    // 64*9 bytes = 9 frames, every 4th => frames 0,4,8 all full
    val nine = frameSampleStub(mk(64 * 9)).toList
    assert(nine.map(_.frame_idx) == List(0, 4, 8))
    assert(nine.forall(_.frame_bytes == 64))
    // 64*8+5 bytes = 9 frames, frame 8 is the 5-byte tail
    val tail = frameSampleStub(mk(64 * 8 + 5)).toList
    assert(tail.last.frame_bytes == 5 && tail.last.offset == 512)
    assert(frameSampleStub(mk(0)).isEmpty)
  }

  test("resize stub: identity-scale raster, clamping, degenerate payloads") {
    import engine.llm.MultimodalQueries.{MediaRow, resizeStub}
    // an 8-wide, 8-row raster resized to 8×8 is the identity: every
    // source byte survives in reading order
    val ident = resizeStub(MediaRow(1L,
      Array.tabulate(64)(_.toByte), 8, 0, 1))
    assert(ident.src_rows == 8 && ident.thumb_hex ==
      (0 until 64).map(i => f"$i%02x").mkString)
    assert(ident.thumb_mean == 31.5, "mean of 0..63")
    // payload shorter than one raster row: every sampled index clamps
    // into the payload — single row, columns stride the 3 bytes
    val tiny = resizeStub(MediaRow(2L, Array[Byte](10, 20, 30), 100, 0, 1))
    assert(tiny.src_rows == 1 && tiny.thumb_hex.length == 128)
    assert(tiny.thumb_hex.grouped(2).toSet.subsetOf(Set("0a", "14", "1e")))
    // empty payload: empty thumb, zero mean, zero rows
    val empty = resizeStub(MediaRow(3L, Array.empty[Byte], 16, 0, 1))
    assert(empty.thumb_hex == "" && empty.thumb_mean == 0.0 &&
      empty.src_rows == 0)
  }

  test("clusterPairs: chain + clique + transitive closure, singletons absent") {
    // a 12-node CHAIN (diameter 11 — needs pointer halving, near-dup data
    // never exercises it), a 3-clique with redundant edges, and a
    // transitive 2-path; nodes 100+ appear in no pair and must be absent
    val chain = (0L until 11L).map(i => (i, i + 1))
    val clique = Seq((20L, 21L), (21L, 22L), (20L, 22L))
    val vee = Seq((31L, 30L), (31L, 32L))
    val out = LlmQueries.clusterPairs(
        (chain ++ clique ++ vee).toDF("da", "db"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.size == 18, s"12 + 3 + 3 member rows, got ${out.size}")
    (0L to 11L).foreach(v => assert(out(v) == (0L, 12L), s"chain node $v"))
    (20L to 22L).foreach(v => assert(out(v) == (20L, 3L), s"clique node $v"))
    (30L to 32L).foreach(v => assert(out(v) == (30L, 3L), s"vee node $v"))
  }

  test("simhash band cap counts DISTINCT signatures: a duplicate " +
      "mega-group larger than the cap still pairs in full") {
    // 20 identical docs (> SimhashBandCap = 16): under the r11 doc-count
    // cap every bucket they occupied read 'hot' and the most-duplicated
    // content emitted NO pairs (r11 advisor). The equality pass must
    // surface all 190 hamming-0 pairs regardless of any cap.
    val base = (0 until 200).map(i => s"w${i % 120}").mkString(" ")
    val df = (0L until 20L).map(i => (i, base)).toDF("doc_id", "text")
    val pairs = LlmQueries.simhashPairs(df, 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.length == 190, s"expected C(20,2)=190, got ${pairs.length}")
    assert(pairs.forall(_._3 == 0), "identical docs pair at hamming 0")
  }

  test("simhash band cap parameter: cap=0 drops banded CROSS-signature " +
      "pairs but never the identical-signature pass") {
    val base = (0 until 200).map(i => s"w${i % 120}")
    val near = base.updated(3, "x1").updated(50, "x2").updated(99, "x3")
    val df = Seq((0L, base.mkString(" ")), (1L, near.mkString(" ")),
      (3L, base.mkString(" "))).toDF("doc_id", "text")
    def pairs(cap: Int) = LlmQueries.simhashPairs(df, 8, cap).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // default cap: the near-dup (cross-signature) pair AND the
    // identical pair both surface
    assert(pairs(LlmQueries.SimhashBandCap)
      .intersect(Set((0L, 1L), (0L, 3L), (1L, 3L))).size == 3)
    // cap=0: every bucket is hot, so banded cross-signature candidates
    // vanish — but the identical docs still pair via the equality pass
    assert(pairs(0) == Set((0L, 3L)),
      "equality pass must survive any cap; banded candidates must not")
  }

  test("sample_cluster_weighted: singletons always survive; clique members " +
      "carry weight 1/size") {
    // 4 identical docs (hamming-0 clique) + 3 mutually-distant singletons
    // (the LlmSpec synthetic-vocab trick: disjoint 200-token vocabularies)
    val cliqueText = (0 until 200).map(i => s"w${i % 120}").mkString(" ")
    def far(p: String) = (0 until 200).map(i => s"$p${i % 120}").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("scw").toString
    ((0L until 4L).map(i => (i, cliqueText)) ++
      Seq((10L, far("x")), (11L, far("y")), (12L, far("z"))))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val kept = LlmQueries.queries("sample_cluster_weighted").fn(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    engine.ScratchCache.drain()
    Seq(10L, 11L, 12L).foreach(v =>
      assert(kept.get(v).contains((1L, 1.0)), s"singleton $v must survive"))
    kept.filterKeys(_ < 4L).values.foreach { case (sz, w) =>
      assert(sz == 4L && w == 0.25, "clique members carry weight 1/4")
    }
  }

  test("mine_hard_negatives: negatives cross the label boundary, ranks " +
      "are cosine-ordered, margin is pos - neg") {
    val rows = llm.LlmQueries.queries("mine_hard_negatives").fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getInt(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))
    assert(rows.nonEmpty)
    val anchorLabel = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.groupBy(_._1).foreach { case (qid, g) =>
      assert(g.map(_._2).sorted.toSeq == (1 to g.size), s"ranks not dense for $qid")
      assert(g.size <= 5)
      g.foreach { case (_, _, negId, negLabel, cos, posCos, margin) =>
        assert(negLabel != anchorLabel(qid),
          s"negative $negId shares anchor $qid's label")
        assert(negLabel == anchorLabel(negId), "neg_label is not the corpus label")
        assert(math.abs(margin - (posCos - cos)) < 2e-4,
          s"margin drifted: $margin vs ${posCos - cos}")
      }
      // cosine non-increasing in rank
      val byRank = g.sortBy(_._2).map(_._5)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
  }

  test("dedup_bloom_screen: zero false negatives on planted cross-slice " +
      "duplicates; false positives occur and stay bounded at this fill") {
    // planted: odd docs 1,3 duplicate even docs 0,2; odd 5..199 unique
    val rows = (0L until 200L).map { i =>
      val text = if (i == 1L) "planted dup zero"
        else if (i == 3L) "planted dup two"
        else if (i == 0L) "planted dup zero"
        else if (i == 2L) "planted dup two"
        else s"unique doc number $i payload"
      (i, text)
    }
    val df = rows.toDF("doc_id", "text")
    val got = llm.LlmQueries.bloomScreenFrame(df).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getBoolean(2))).toMap
    assert(got.size == 100) // one row per odd candidate
    // the Bloom guarantee: every exact duplicate is a hit
    assert(got(1L) == (true, true) && got(3L) == (true, true))
    got.foreach { case (id, (hit, exact)) =>
      if (exact) assert(hit, s"false negative at $id — Bloom broke") }
    // FP accounting: deterministic hashes, ~98 unique candidates over a
    // ~400-position fill → some FPs are expected, most candidates clean
    val fps = got.count { case (_, (hit, exact)) => hit && !exact }
    assert(fps < 50, s"$fps FPs of 98 unique — fill ratio out of regime")
    // the real testdata run must also be FN-free (no planted cross-slice
    // dups there, so this pins only the one-sided-error direction)
    val real = llm.LlmQueries.queries("dedup_bloom_screen").fn(spark, sf)
      .collect().map(r => (r.getBoolean(1), r.getBoolean(2)))
    assert(real.nonEmpty)
    real.foreach { case (hit, exact) => if (exact) assert(hit) }
  }

  test("sim_search_ivf_filtered: every result shares the query's label, " +
      "recall vs the exact pre-filter scan clears the IVF floor") {
    val anchorLabel = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val ivf = llm.LlmQueries.queries("sim_search_ivf_filtered").fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(4)))
    assert(ivf.nonEmpty)
    ivf.foreach { case (qid, cid, label) =>
      assert(label == anchorLabel(qid), s"($qid,$cid) crosses the filter")
      assert(label == anchorLabel(cid), "label is not the corpus label")
    }
    val exact = llm.LlmQueries.queries("sim_search_filtered").fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val got = ivf.map(r => (r._1, r._2)).toSet
    val recall = (exact intersect got).size.toDouble / exact.size
    // the measured point is 0.28 at sf0.001 (deterministic — md5 seeds,
    // tie-broken ranks): ~50 same-label vectors spread over 16 cells
    // with 4 probed is exactly the selective-filter regime the op's doc
    // calls out (production over-probes when filters are selective); at
    // sf0.01 the same pipeline measures 0.6. The floor pins the
    // mechanism works at all, not a serving-grade recall.
    assert(recall >= 0.2, s"filtered-IVF recall $recall (np=4 of 16 cells)")
  }

  test("sim_search_range: equals brute force, and the angular zone-map " +
      "prune is lossless (no dropped cell holds a match)") {
    val tau = 0.25
    val (asg, live, out) = llm.LlmQueries.rangeSearchParts(spark, sf, tau)
    // 1. end result == brute-force range over the unit corpus
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("n", sqrt(aggregate(col("v"), lit(0d),
        (a, x) => a + x * x)))
      .select(col("vec_id"), transform(col("v"), x => x / col("n")).as("u"))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("u").as("qu"))
    val brute = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        aggregate(zip_with(col("qu"), col("u"), (a, b) => a * b),
          lit(0d), (a, x) => a + x).as("cos"))
      .filter(col("cos") >= tau)
      .select(col("qid"), col("vec_id"), round(col("cos"), 4).as("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val got = out.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got == brute, s"range result drifted: ${got.size} vs ${brute.size}")
    assert(got.nonEmpty, "tau=0.25 should match some neighbors at sf0.001")
    // 2. pruning soundness: for every (query, cell) the bound dropped,
    // the true max cosine over that cell's members stays below tau
    val liveSet = live.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cellMax = asg.select(col("vec_id"), col("cent_id"))
      .join(e, "vec_id")
      .join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("cent_id"),
        aggregate(zip_with(col("qu"), col("u"), (a, b) => a * b),
          lit(0d), (a, x) => a + x).as("cos"))
      .groupBy(col("qid"), col("cent_id")).agg(max(col("cos")).as("m"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
    cellMax.foreach { case ((qid, cid), m) =>
      if (!liveSet.contains((qid, cid)))
        assert(m < tau, s"pruned cell ($qid,$cid) holds a match: max cos $m")
    }
  }

  test("quality_perplexity: per-lang terciles are balanced, score agrees " +
      "with text_unigram_logprob, tail = highest-perplexity (lowest " +
      "surprisal rank is head)") {
    val out = LlmQueries.queries("quality_perplexity").fn(spark, sf)
      .collect()
    assert(out.nonEmpty)
    // 1. score_micro is the unigram op's avg_surprisal on the micronat
    // grid (same model, same quantization; rounding to int micronats)
    val uni = LlmQueries.queries("text_unigram_logprob").fn(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    out.foreach { r =>
      val want = math.round(uni(r.getLong(0)) * 1e6).toDouble
      val got = r.getLong(3).toDouble
      // r4 on avg_surprisal loses sub-1e-4-nat detail; allow that slack
      assert(math.abs(got - want) <= 120,
        s"doc ${r.getLong(0)}: score_micro $got vs unigram $want")
    }
    // 2. per-lang buckets are terciles: each bucket holds between
    // floor(n/3)-ties and ceil(n/3)+ties docs; with distinct scores the
    // split is exact, with ties a whole tie-group lands in one bucket
    val byLang = out.groupBy(_.getString(1))
    byLang.foreach { case (lang, rows) =>
      val n = rows.length
      val counts = rows.groupBy(_.getString(4)).view.mapValues(_.length)
      Seq("head", "middle", "tail").foreach { b =>
        val c = counts.getOrElse(b, 0)
        assert(c > 0 && c <= 2 * n / 3 + 1,
          s"$lang bucket $b count $c of $n not tercile-shaped")
      }
      // 3. ordering: every head score <= every middle score <= tail
      def maxOf(b: String) = rows.filter(_.getString(4) == b)
        .map(_.getLong(3)).maxOption.getOrElse(Long.MinValue)
      def minOf(b: String) = rows.filter(_.getString(4) == b)
        .map(_.getLong(3)).minOption.getOrElse(Long.MaxValue)
      assert(maxOf("head") <= minOf("middle") &&
        maxOf("middle") <= minOf("tail"),
        s"$lang bucket score ranges overlap beyond ties")
      // 4. kept = not tail
      rows.foreach(r =>
        assert(r.getBoolean(5) == (r.getString(4) != "tail")))
    }
  }

  test("cluster_dbscan matches the brute union-find recompute over the " +
      "banded epsilon graph; all three roles populated") {
    val pairs = LlmQueries.srpNearDupPairs(spark, sf, 0.3)
      .select(col("va"), col("vb"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val nbrs = (pairs ++ pairs.map(p => (p._2, p._1)))
      .groupBy(_._1).map { case (v, es) => v -> es.map(_._2).toSet }
    val core = nbrs.filter(_._2.size >= 3).keySet
    // union-find over core-core edges, labels = component min
    val parent = scala.collection.mutable.Map(core.map(v => v -> v).toSeq: _*)
    def find(v: Long): Long = {
      var r = v
      while (parent(r) != r) r = parent(r)
      r
    }
    pairs.foreach { case (a, b) =>
      if (core(a) && core(b)) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
    }
    val coreLbl = core.map(v => v -> find(v)).toMap
    val got = graft.SparkEntry.queries("cluster_dbscan")(spark, sf)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    val roles = got.values.groupBy(_._1).view.mapValues(_.size).toMap
    assert(roles.keySet == Set("core", "border", "noise"),
      s"all three roles must be populated, got $roles")
    got.foreach { case (v, (role, cl)) =>
      if (core(v)) {
        assert(role == "core" && cl == coreLbl(v), s"vec $v core label")
      } else if (nbrs.get(v).exists(_.exists(core))) {
        assert(role == "border", s"vec $v must be border")
        assert(cl == nbrs(v).filter(core).map(coreLbl).min,
          s"vec $v border cluster = min core-neighbor cluster")
      } else {
        assert(role == "noise" && cl == -1L, s"vec $v must be noise")
      }
    }
  }

  test("graph_k_core equals the brute peel run to FIXPOINT (R=8 is " +
      "convergent on the fixture), degrees counted within the core") {
    val pairs = LlmQueries.srpNearDupPairs(spark, sf, 0.3)
      .select(col("va"), col("vb"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = (pairs ++ pairs.map(p => (p._2, p._1))).toSet
    var surv = edges.map(_._1)
    var rounds = 0
    var changed = true
    while (changed) {
      val deg = edges.toSeq.filter(e => surv(e._1) && surv(e._2))
        .groupBy(_._1).view.mapValues(_.size).toMap
      val next = surv.filter(v => deg.getOrElse(v, 0) >= 2)
      changed = next != surv
      if (changed) rounds += 1
      surv = next
    }
    assert(rounds <= 8, s"fixture must converge within R=8, took $rounds")
    val coreDeg = edges.toSeq.filter(e => surv(e._1) && surv(e._2))
      .groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val got = LlmQueries.queries("graph_k_core").fn(spark, sf)
      .collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getLong(2)))).toMap
    got.foreach { case (v, (inCore, dg)) =>
      assert(inCore == surv(v), s"vec $v membership")
      assert(dg == coreDeg.getOrElse(v, 0L), s"vec $v core degree")
      if (inCore) assert(dg >= 2L, s"vec $v: core member must keep >= k")
    }
    assert(got.values.exists(_._1) && got.values.exists(!_._1),
      "both core and shell must be populated")
  }
}
