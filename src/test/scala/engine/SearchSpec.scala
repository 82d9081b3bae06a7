package engine

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import gps.TestSpark
import engine.llm.SearchQueries

/** Retrieval / corpus-structuring operator tests (SURVEY.md §2 B53):
  * chunk coverage algebra, BM25 against a hand-computed oracle, RRF
  * fusion consistency, k-means assignment optimality, and Matryoshka
  * two-stage recall vs the exact top-k. */
class SearchSpec extends AnyFunSuite with org.scalatest.BeforeAndAfterAll {
  lazy val spark = TestSpark.spark
  private val Mft = engine.stream.StreamQueries.MaxFilesPerTriggerKey
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"

  override def afterAll(): Unit = engine.ScratchCache.drain()

  test("text_chunk covers every token, respects window/stride geometry") {
    val docs = Core.t(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val chunks = SearchQueries.queries("text_chunk").fn(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .groupBy(_._1)
    assert(chunks.keySet == docs.keySet)
    val (w, s) = (32, 24)
    chunks.foreach { case (id, cs) =>
      val toks = docs(id).split(" ")
      val sorted = cs.sortBy(_._2)
      // chunk ids are 0..k contiguous; each chunk is exactly the token
      // window [i*s, i*s+w) of the source doc
      assert(sorted.map(_._2).toSeq == sorted.indices.toSeq)
      sorted.foreach { case (_, ci, nTok, chunk) =>
        val expect = toks.slice(ci * s, ci * s + w)
        assert(nTok == expect.length, s"doc $id chunk $ci token count")
        assert(chunk == expect.mkString(" "), s"doc $id chunk $ci text")
      }
      // coverage: the last chunk reaches the end of the document, and
      // every non-final chunk is full-width
      val last = sorted.last
      assert(last._2 * s + last._3 == toks.length,
        s"doc $id: final chunk must end at the last token")
      sorted.init.foreach(c => assert(c._3 == w))
    }
  }

  test("search_bm25 matches a hand-computed BM25 on a 4-doc corpus") {
    val tiny = Seq(
      (0L, "apple banana apple"),
      (1L, "apple banana cherry cherry"),
      (2L, "banana banana banana date"),
      (3L, "cherry date egg")).toDF("doc_id", "text")
    val got = SearchQueries.bm25TopK(tiny).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getInt(3)))
      .toMap
    // reference BM25 (k1=1.2, b=0.75, query terms = distinct terms of
    // the query doc, micronat-quantized per-term partials)
    val corpus = Map(
      0L -> Seq("apple", "banana", "apple"),
      1L -> Seq("apple", "banana", "cherry", "cherry"),
      2L -> Seq("banana", "banana", "banana", "date"),
      3L -> Seq("cherry", "date", "egg"))
    val n = corpus.size.toDouble
    val avgdl = corpus.values.map(_.size).sum / n
    val dfm = corpus.values.flatMap(_.distinct).groupBy(identity)
      .map { case (t, xs) => t -> xs.size.toDouble }
    def score(q: Long, c: Long): Long = {
      val qts = corpus(q).distinct
      val tfs = corpus(c).groupBy(identity).map { case (t, xs) =>
        t -> xs.size.toDouble }
      qts.flatMap { t =>
        tfs.get(t).map { tf =>
          val idf = math.log(1.0 + (n - dfm(t) + 0.5) / (dfm(t) + 0.5))
          val dl = corpus(c).size.toDouble
          val tfw = tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
          math.round(idf * tfw * 1e6)
        }
      }.sum
    }
    for (q <- corpus.keys; c <- corpus.keys if q != c) {
      val exp = score(q, c)
      if (exp != 0L)
        assert(got((q, c))._1 == exp, s"bm25($q, $c)")
      else assert(!got.contains((q, c)), s"bm25($q, $c) should be absent")
    }
    // ranks are dense 1..k per query in micronat-sum order
    got.groupBy(_._1._1).values.foreach { perQ =>
      val byRank = perQ.values.toSeq.sortBy(_._2)
      assert(byRank.map(_._2) == (1 to byRank.size))
      assert(byRank.map(-_._1) == byRank.map(-_._1).sorted,
        "rank order must follow descending micronat score")
    }
  }

  test("search_hybrid_rrf fuses exactly the two modality top-10 lists") {
    val fused = SearchQueries.queries("search_hybrid_rrf").fn(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getInt(2), r.getDouble(3)))
      .toMap
    val lex = SearchQueries.queries("search_bm25").fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val e = Core.t(spark, sf, "embeddings")
    val vec = {
      import engine.llm.VectorFunctions._
      val u = e.filter(col("embedding").isNotNull)
        .select(col("vec_id"), asDouble(col("embedding")).as("v"))
        .withColumn("u", transform(col("v"), x => x / sqrt(dot(col("v"), col("v")))))
      val q = u.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("u").as("qu"))
      u.join(broadcast(q), col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("cid"),
          dot(col("qu"), col("u")).as("cos"))
        .withColumn("vr", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
            .orderBy(col("cos").desc, col("cid"))))
        .filter(col("vr") <= 10)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(3)).toMap
    }
    assert(fused.nonEmpty && lex.nonEmpty && vec.nonEmpty)
    fused.foreach { case (key @ (q, c), (_, s)) =>
      val exp = lex.get(key).map(r => 1.0 / (60 + r)).getOrElse(0.0) +
        vec.get(key).map(r => 1.0 / (60 + r)).getOrElse(0.0)
      assert(exp > 0.0, s"fused pair $key must come from some modality")
      assert(math.abs(s - exp) < 5e-5, s"rrf($q, $c): got $s want $exp")
    }
  }

  test("cluster_kmeans assigns each vector to its max-cosine centroid " +
      "and sizes partition the corpus") {
    val asg = SearchQueries.queries("cluster_kmeans").fn(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val nVec = Core.t(spark, sf, "embeddings")
      .filter(col("embedding").isNotNull).count()
    assert(asg.length.toLong == nVec, "every vector must be assigned")
    assert(asg.map(_._2).distinct.length > 1, "multiple clusters in use")
    // sizes are consistent with the assignment itself and sum to n
    val bySize = asg.groupBy(_._2).map { case (c, xs) => c -> xs.length }
    asg.foreach { case (v, c, _, sz) =>
      assert(sz == bySize(c), s"vec $v cluster-size")
    }
    assert(bySize.values.sum.toLong == nVec)
    // the reported cosine is the max over the trained codebook
    val e = engine.llm.LlmQueries.unitEmbeddings(spark, sf)
      .filter(col("u").isNotNull)
    val cents = engine.llm.LlmQueries
      .trainedSphericalCells(spark, sf, e)
    val vecs = e.collect().map(r =>
      r.getLong(0) -> r.getSeq[Double](1)).toMap
    asg.foreach { case (v, c, cosR, _) =>
      val best = cents.map { case (cid, cu) =>
        vecs(v).zip(cu).map { case (a, b) => a * b }.sum -> cid
      }.maxBy(x => (x._1, -x._2))
      assert(best._2 == c, s"vec $v assigned $c but argmax is ${best._2}")
      assert(math.abs(cosR - best._1) < 5e-4, s"vec $v cosine")
    }
  }

  test("ann_recall_report covers every (rung, query) cell with a " +
      "consistent hits/recall pair") {
    val rows = SearchQueries.queries("ann_recall_report").fn(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.map(_._1).toSet ==
      Set("ann", "ann_b8x2", "ivf", "ivf_np8", "ivfpq", "matryoshka",
        "pq_adc", "pq_k256", "pq_res", "pq_res256"))
    val nq = engine.llm.LlmQueries.queries("sim_search_topk").fn(spark, sf)
      .select(col("qid")).distinct().count()
    rows.groupBy(_._1).values.foreach(g =>
      assert(g.map(_._2).toSet.size.toLong == nq,
        "one row per (method, query)"))
    rows.foreach { case (m, q, hits, rec) =>
      assert(hits >= 0 && hits <= 5, s"$m/$q hits=$hits")
      assert(math.abs(rec - hits / 5.0) < 5e-5, s"$m/$q recall")
    }
    // the report's matryoshka row must agree with a direct recompute
    // against the exact top-k
    val exact = engine.llm.LlmQueries.queries("sim_search_topk")
      .fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val mrl = SearchQueries.queries("sim_search_matryoshka").fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byQ = mrl.groupBy(_._1).map { case (q, xs) =>
      q -> xs.count(exact.contains).toLong }
    rows.filter(_._1 == "matryoshka").foreach { case (_, q, hits, _) =>
      assert(hits == byQ.getOrElse(q, 0L), s"matryoshka q$q hits")
    }
  }

  test("stream_bm25_probe: trigger split does not change verdicts, and " +
      "the probed subset equals the batch ranker") {
    def run(): Map[(Long, Long), (Int, Double)] =
      SearchQueries.queries("stream_bm25_probe").fn(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getInt(2), r.getDouble(3))).toMap
    // 2 serving batches
    val multi = engine.Core.withConfs(spark)(Mft -> "16")(run())
    val single = run() // default: one trigger
    assert(multi == single,
      "a verdict is f(query, static index) — trigger split must not matter")
    // queries 0-4 are exactly search_bm25's query set: scores and ranks
    // must agree with the batch ranker
    val batch = SearchQueries.queries("search_bm25").fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getInt(2), r.getDouble(3))).toMap
    assert(batch.nonEmpty)
    batch.foreach { case (k, v) =>
      assert(multi.get(k).contains(v), s"probe diverged from batch at $k")
    }
  }

  test("pipeline_online: store contents equal the batch replay, the " +
      "served index is the survivor corpus, and any trigger split agrees") {
    import org.apache.spark.sql.types._
    def run(): Seq[Seq[Any]] =
      SearchQueries.queries("pipeline_online").fn(spark, sf)
        .collect().map(_.toSeq).toSeq
    // 3 ingest batches
    val multi = engine.Core.withConfs(spark)(Mft -> "11")(run())
    val san = sf.replaceAll("[^a-zA-Z0-9]", "_")
    // store contents AFTER the run == the batch operators' replay
    val dgSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("dg", StringType), StructField("kept", BooleanType)))
    val exactKept = engine.stream.AppendTable.read(spark,
        new java.io.File(s"${engine.Core.scratchRoot}/graft_online_dg_$san"), dgSchema)
      .filter(col("kept")).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val batchExact = llm.LlmQueries.queries("dedup_exact").fn(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(exactKept == batchExact,
      "digest store diverged from dedup_exact")
    val sigSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("g", ArrayType(LongType)),
      StructField("bks", ArrayType(StringType)),
      StructField("kept", BooleanType)))
    val nearKept = engine.stream.AppendTable.read(spark,
        new java.io.File(s"${engine.Core.scratchRoot}/graft_online_sig_$san"), sigSchema)
      .filter(col("kept")).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    // batch replay of stage 2: minhash est>=0.5 pairs among exact
    // survivors, higher id dropped
    val pairs = llm.LlmQueries.queries("dedup_minhash").fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => batchExact(a) && batchExact(b) }
    assert(nearKept == batchExact -- pairs.map(_._2).toSet,
      "signature store diverged from the batch minhash screen")
    // the CURRENT index version serves exactly the survivor corpus, and
    // the probe equals the batch ranker over it. Storage pin (r13
    // verdict item 1): after a 3-trigger ingest the version holds
    // exactly 3 immutable segments — the O(batch)-per-commit layout —
    // and the MERGED per-segment df deltas equal a df recompute over
    // the unioned postings (the exactness claim of the delta merge)
    val idxRoot = new java.io.File(s"${engine.Core.scratchRoot}/graft_online_idx_$san")
    val segsDir = new java.io.File(idxRoot, "segments")
    assert(Option(segsDir.listFiles()).toSeq.flatten
      .count(_.isDirectory) == 3,
      "3-trigger ingest must commit exactly 3 index segments")
    val (iPosts, iDfs, _) = llm.SearchQueries.readSegIndex(spark, idxRoot)
    assert(iPosts.select("doc_id").distinct().collect()
      .map(_.getLong(0)).toSet == nearKept,
      "served index does not cover exactly the survivors")
    val mergedDf = iDfs.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val recompDf = iPosts.groupBy(col("term")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(mergedDf == recompDf,
      "merged per-segment df deltas diverged from a full recompute")
    // probe stages of the funnel == the batch ranker over the survivor
    // corpus (count and exact integer micronat score sum)
    val survDocs = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id").isin(nearKept.toSeq: _*))
      .select(col("doc_id"), col("text"))
    val batchAns = SearchQueries.bm25TopK(survDocs).agg(
        count(lit(1)).cast("long"), sum(col("ms")).cast("long"))
      .head
    val funnel = multi.map(r => r.head.toString -> r(1)).toMap
    assert(funnel("5_probe_answers") == batchAns.getLong(0))
    assert(funnel("6_probe_ms_sum") == batchAns.getLong(1))
    assert(multi.nonEmpty)
    // decomposition: a single-trigger ingest lands on the identical
    // funnel (stores and index rebuilt from scratch by the replay)
    val single = engine.Core.withConfs(spark)(Mft -> "32")(run())
    assert(multi == single)
  }

  test("pipeline_online_hybrid: stores equal the batch replays, the " +
      "served indexes cover exactly the survivors, and any split agrees") {
    import org.apache.spark.sql.types._
    def run(): Seq[Seq[Any]] =
      SearchQueries.queries("pipeline_online_hybrid").fn(spark, sf)
        .collect().map(_.toSeq).toSeq
    // 3 ingest batches
    val multi = engine.Core.withConfs(spark)(Mft -> "11")(run())
    val san = sf.replaceAll("[^a-zA-Z0-9]", "_")
    // lexical stores: same merges as pipeline_online — dg kept ==
    // dedup_exact, sig kept == exact minus the minhash drops
    val dgSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("dg", StringType), StructField("kept", BooleanType)))
    val exactKept = engine.stream.AppendTable.read(spark,
        new java.io.File(s"${engine.Core.scratchRoot}/graft_onlineh_dg_$san"), dgSchema)
      .filter(col("kept")).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val batchExact = llm.LlmQueries.queries("dedup_exact").fn(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(exactKept == batchExact, "digest store diverged")
    val sigSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("g", ArrayType(LongType)),
      StructField("bks", ArrayType(StringType)),
      StructField("kept", BooleanType)))
    val nearKept = engine.stream.AppendTable.read(spark,
        new java.io.File(s"${engine.Core.scratchRoot}/graft_onlineh_sig_$san"), sigSchema)
      .filter(col("kept")).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val mhPairs = llm.LlmQueries.queries("dedup_minhash").fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => batchExact(a) && batchExact(b) }
    assert(nearKept == batchExact -- mhPairs.map(_._2).toSet,
      "signature store diverged from the batch minhash screen")
    // vector store: kept == an independent single-shot banded recompute
    // over the near-kept survivors' embeddings (band-collide + exact
    // cos >= 0.45, higher id dropped — the dedup_embedding_incremental
    // semantics applied to this pipeline's participant set)
    val emb = Core.t(spark, sf, "embeddings")
      .filter(col("vec_id").isin(nearKept.toSeq: _*))
      .select(col("vec_id"), col("embedding"))
    val sig = llm.IncrementalDedup.srpSigOf(emb)
      .filter(col("code").isNotNull)
    val bands = sig.select(col("vec_id"), col("u"),
        explode(llm.VectorFunctions.codeBands(col("code"), 4, 4)).as("bb"))
      .select(col("vec_id"), col("u"), col("bb.band").as("band"),
        col("bb.bv").as("bv"))
    val expDropped = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col("x.vec_id") < col("y.vec_id"))
      .filter(llm.VectorFunctions.dot(col("x.u"), col("y.u")) >= 0.45)
      .select(col("y.vec_id")).distinct().collect()
      .map(_.getLong(0)).toSet
    val vecSchema = llm.IncrementalDedup.srpStoreSchema(emb.limit(0))
    val vecRows = engine.stream.AppendTable.read(spark,
        new java.io.File(s"${engine.Core.scratchRoot}/graft_onlineh_vec_$san"), vecSchema)
      .select("vec_id", "kept").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val participants = emb.select("vec_id").collect()
      .map(_.getLong(0)).toSet
    assert(vecRows.keySet == participants,
      "vector store must archive every near-kept survivor's signature")
    assert(vecRows.filter(_._2).keySet == participants -- expDropped,
      "vector verdicts diverged from the single-shot banded recompute")
    val survivors = nearKept -- expDropped
    // both serving indexes cover exactly the final survivors: the BM25
    // segment union's doc set, and the vector posting store's vec set
    // (survivors that have an embedding)
    val idxRoot = new java.io.File(s"${engine.Core.scratchRoot}/graft_onlineh_idx_$san")
    assert(Option(new java.io.File(idxRoot, "segments").listFiles())
      .toSeq.flatten.count(_.isDirectory) == 3,
      "3-trigger ingest must commit exactly 3 BM25 segments")
    val (iPosts, _, _) = llm.SearchQueries.readSegIndex(spark, idxRoot)
    assert(iPosts.select("doc_id").distinct().collect()
      .map(_.getLong(0)).toSet == survivors,
      "BM25 index does not cover exactly the survivors")
    val vpostSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("cent_id", LongType),
      StructField("u", ArrayType(DoubleType))))
    val vposts = engine.stream.AppendTable.read(spark,
        new java.io.File(s"${engine.Core.scratchRoot}/graft_onlineh_vpost_$san"), vpostSchema)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(vposts == participants -- expDropped,
      "vector index does not cover exactly the surviving vectors")
    // decomposition: the single-trigger replay lands on the same funnel
    val single = engine.Core.withConfs(spark)(Mft -> "32")(run())
    assert(multi == single)
    assert(multi.nonEmpty)
  }

  test("compaction MID-INGEST: 2 commits -> compact -> replay + 2 more " +
      "commits; manifest lists every segment and the served view equals " +
      "the single-shot index (r15 verdict item 5)") {
    val idxRoot = new java.io.File("/tmp/graft_midcompact_spec")
    engine.stream.VersionedTable.destroy(idxRoot)
    val docs = Core.t(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    def part(i: Int) = docs.filter(pmod(col("doc_id"), lit(4)) === i)
    // trigger 0, 1 → compact → trigger 2 (plus its crash-replay) → 3:
    // the r14 advisor's version-collision scenario run END-TO-END — the
    // compaction advances the manifest version counter mid-ingest, and
    // the resumed ingest must still list every later batch's segment
    SearchQueries.commitIndexSegment(spark, idxRoot, 0L, part(0))
    SearchQueries.commitIndexSegment(spark, idxRoot, 1L, part(1))
    SearchQueries.compactIndexSegments(spark, idxRoot)
    assert(SearchQueries.idxSegments(idxRoot) == Seq("seg-c0"))
    SearchQueries.commitIndexSegment(spark, idxRoot, 2L, part(2))
    // replayed batch id (post-compaction vid == 2 as well — exactly the
    // collision the monotonic counter exists for) must be a real no-op
    SearchQueries.commitIndexSegment(spark, idxRoot, 2L, part(2))
    SearchQueries.commitIndexSegment(spark, idxRoot, 3L, part(3))
    val segs = SearchQueries.idxSegments(idxRoot)
    assert(segs == Seq("seg-c0", "seg-2", "seg-3"),
      s"a segment went unlisted: $segs")
    // served view ≡ the single-shot index over the identical corpus
    val batchRoot = new java.io.File("/tmp/graft_midcompact_batch")
    engine.stream.VersionedTable.destroy(batchRoot)
    SearchQueries.commitIndexSegment(spark, batchRoot, 0L, docs)
    val (p1, d1, g1) = SearchQueries.readSegIndex(spark, idxRoot)
    val (p2, d2, g2) = SearchQueries.readSegIndex(spark, batchRoot)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(p1) == rows(p2), "postings diverged")
    assert(rows(d1) == rows(d2), "merged dfs diverged")
    assert(rows(g1) == rows(g2), "global stats diverged")
    engine.stream.VersionedTable.destroy(idxRoot)
    engine.stream.VersionedTable.destroy(batchRoot)
  }

  test("maintenance_index_compact: the folded index serves the batch " +
      "ranking, one segment survives, and a re-fold is a no-op") {
    val rows = SearchQueries.queries("maintenance_index_compact")
      .fn(spark, sf)
      .select(col("qid"), col("cid"), col("rank"), col("score"))
      .collect().map(_.toSeq).toSeq
    // post-fold serving == the batch search_bm25 ranking over the same
    // corpus — the strongest losslessness statement available in-engine
    // (df-delta merge and counter avgdl equal the single-table compute)
    val batch = SearchQueries.queries("search_bm25").fn(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(rows == batch, "folded-index serving diverged from batch BM25")
    val san = sf.replaceAll("[^a-zA-Z0-9]", "_")
    val root = new java.io.File(s"${engine.Core.scratchRoot}/graft_idxcmp_$san")
    val segs = Option(new java.io.File(root, "segments").listFiles())
      .toSeq.flatten.filter(_.isDirectory).map(_.getName)
    assert(segs == Seq("seg-c0"),
      s"expected exactly the folded segment, found $segs")
    // single-segment index: a second fold must not commit anything
    val cur = engine.stream.VersionedTable.currentDir(root).get
    llm.SearchQueries.compactIndexSegments(spark, root)
    assert(engine.stream.VersionedTable.currentDir(root).get == cur,
      "re-fold of a single-segment index committed a new version")
  }

  test("maintenance_ivf_compact: the folded posting store serves the " +
      "inline IVF ranking bit-for-bit, one segment survives") {
    val full = SearchQueries.queries("maintenance_ivf_compact")
      .fn(spark, sf).collect().map(_.toSeq).toSeq
    // post-fold serving == the inline (never-persisted, never-folded)
    // IVF compute — the strongest losslessness statement available:
    // neither the 4-segment layout nor the fold may move one score bit
    val inline = llm.LlmQueries.queries("sim_search_ivf").fn(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(full.map(_.take(4)) == inline,
      "folded IVF store serving diverged from the inline IVF ranking")
    assert(full.map(_.drop(4)).distinct == Seq(Seq(4L, 1L)),
      s"segment counts drifted: ${full.map(_.drop(4)).distinct}")
    val san = sf.replaceAll("[^a-zA-Z0-9]", "_")
    val store = new java.io.File(s"${engine.Core.scratchRoot}/graft_ivfcmp_$san")
    assert(engine.stream.AppendTable.segmentCount(store) == 1,
      "fold left more than one segment")
  }

  test("segmented index: ingest resuming after a compaction with a " +
      "batch id equal to the current version still lands its segment") {
    // r14 advisor: version ids used to BE batch ids, so a compaction
    // (which advances the version counter past them) could leave the
    // next batch id equal to the current version — and commitDir's
    // idempotent-replay guard would swallow the manifest update,
    // silently dropping the batch's documents from the served index.
    // Version ids are now a monotonic counter for ingest AND compaction.
    val root = new java.io.File(
      s"${engine.Core.scratchRoot}/graft_idxcollide_${java.util.UUID.randomUUID}")
    try {
      val docs = spark.read.parquet(s"$sf/documents.parquet")
        .select(col("doc_id"), col("text"))
      llm.SearchQueries.commitIndexSegment(spark, root, 0L,
        docs.filter(col("doc_id") < 10))
      llm.SearchQueries.commitIndexSegment(spark, root, 1L,
        docs.filter(col("doc_id") >= 10 && col("doc_id") < 20))
      llm.SearchQueries.compactIndexSegments(spark, root)
      // versions so far: v0 (batch 0), v1 (batch 1), v2 (the fold) —
      // the resumed ingest's next batch id is 2 == current version id
      assert(engine.stream.VersionedTable.currentDir(root)
        .get.getName == "v2")
      llm.SearchQueries.commitIndexSegment(spark, root, 2L,
        docs.filter(col("doc_id") >= 20 && col("doc_id") < 30))
      assert(llm.SearchQueries.idxSegments(root) == Seq("seg-c0", "seg-2"),
        "colliding batch id's segment was not manifest-listed")
      val (posts, _, glob) = llm.SearchQueries.readSegIndex(spark, root)
      assert(posts.filter(col("doc_id") === 25).count() > 0,
        "post-compaction batch's documents missing from the served index")
      // the global doc counter saw all three batches
      assert(glob.select(col("n_docs")).head.getLong(0) == 30)
      // and a replay of the same batch id is still a no-op
      llm.SearchQueries.commitIndexSegment(spark, root, 2L,
        docs.filter(col("doc_id") >= 20 && col("doc_id") < 30))
      assert(llm.SearchQueries.idxSegments(root) == Seq("seg-c0", "seg-2"))
    } finally engine.stream.VersionedTable.destroy(root)
  }

  test("graph_label_prop matches a driver-side recompute over the kNN " +
      "edges") {
    val out = SearchQueries.queries("graph_label_prop").fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getBoolean(3)))
    val edges = SearchQueries.queries("sim_knn_graph").fn(spark, sf)
      .select(col("vec_id"), col("nbr_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    var lbl = out.map(r => r._1 -> r._2).toMap
    val l0 = lbl
    for (_ <- 1 to 3) {
      lbl = lbl.map { case (v, _) =>
        val votes = (edges.getOrElse(v, Seq.empty).map(lbl) :+ lbl(v))
          .groupBy(identity).view.mapValues(_.size).toSeq
        v -> votes.minBy { case (l, c) => (-c, l) }._1
      }
    }
    out.foreach { case (v, lab0, lab3, changed) =>
      assert(lab0 == l0(v))
      assert(lab3 == lbl(v), s"node $v propagated label diverged")
      assert(changed == (lab3 != lab0))
    }
    assert(out.exists(_._4), "no label ever changed — degenerate test")
  }

  test("graph_shortest_path matches a driver-side 4-hop BFS over the " +
      "symmetrized kNN edges") {
    val got = SearchQueries.queries("graph_shortest_path").fn(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val knn = SearchQueries.queries("sim_knn_graph").fn(spark, sf)
      .select(col("vec_id"), col("nbr_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = (knn ++ knn.map(_.swap)).distinct
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    var dist = (0L until 5L).map(_ -> 0).toMap
    for (h <- 1 to 4) {
      val next = dist.toSeq.flatMap { case (v, dv) =>
        adj.getOrElse(v, Set.empty).map(_ -> (dv + 1)) }
      dist = (dist.toSeq ++ next).groupBy(_._1).view
        .mapValues(_.map(_._2).min).toMap
      val _ = h
    }
    assert(got == dist, "BFS distance map diverged")
    // non-degenerate: the fixture graph must reach past the seeds'
    // direct neighbors
    assert(got.values.max >= 2, "no node at distance >= 2 — degenerate")
    assert(got.values.count(_ == 0) == 5)
  }

  test("sample_global_shuffle: shard and position are pure functions of " +
      "doc_id, positions are dense per shard, shards balanced") {
    val rows = llm.CurateQueries.queries("sample_global_shuffle")
      .fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(rows.length == 500)
    // dense 1..n positions within each shard, no duplicates
    rows.groupBy(_._2).foreach { case (sh, rs) =>
      assert(rs.map(_._3).sorted.toSeq == (1 to rs.length).toSeq,
        s"shard $sh positions not dense")
      // hash balance: no shard dominates (8 shards, 500 docs)
      assert(rs.length > 20 && rs.length < 125, s"shard $sh unbalanced")
    }
    // re-derivability: a second run yields the identical manifest
    val again = llm.CurateQueries.queries("sample_global_shuffle")
      .fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(rows.toSeq == again.toSeq)
    // the shuffle actually shuffles: within-shard position order is not
    // doc_id order
    val byShard = rows.groupBy(_._2).head._2.sortBy(_._3).map(_._1)
    assert(byShard != byShard.sorted, "hash order degenerated to id order")
  }

  test("search_snippet: each snippet is the doc's contiguous window at " +
      "snip_start with at least one query-term hit") {
    val rows = SearchQueries.queries("search_snippet").fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getInt(3), r.getLong(4), r.getString(5)))
    assert(rows.nonEmpty)
    val text = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { case (qid, cid, rank, start, hits, snip) =>
      assert(rank >= 1 && rank <= 3)
      assert(hits >= 1, s"($qid,$cid) snippet has no query-term hit")
      val toks = text(cid).split(" ")
      val expect = toks.slice(start, start + 10).mkString(" ")
      assert(snip == expect,
        s"($qid,$cid) snippet is not the doc window at $start")
    }
    // one snippet per (query, candidate)
    assert(rows.map(r => (r._1, r._2)).distinct.length == rows.length)
  }

  test("blocked kNN recall is MEASURED at two cell counts (the √N " +
      "recipe's recall trade, in-engine)") {
    // r14 verdict item 5: the blocking-recall trade of the √N cell
    // recipe was asserted from the SemDeDup literature; measure it.
    // On the isotropic testdata, within-cell (nprobe=1-equivalent)
    // recall@3 sits ≈ 0.26 at k=16 and ≈ 0.26 at k=32 (sf0.001,
    // sample mod 3) — the documented isotropic-data ceiling (clustered
    // real embeddings sit far higher); more cells can only shrink
    // cells, so recall must not RISE materially with k.
    def at(k: Int): Double = {
      spark.conf.set("spark.graft.knng.k", k.toString)
      try SearchQueries.blockedKnnRecall(spark, sf, 3)
      finally spark.conf.unset("spark.graft.knng.k")
    }
    val r16 = at(16)
    val r32 = at(32)
    assert(r16 > 0.15 && r16 <= 1.0, s"k=16 recall out of band: $r16")
    assert(r32 > 0.15 && r32 <= 1.0, s"k=32 recall out of band: $r32")
    assert(r16 >= r32 - 0.05,
      s"recall rose with cell count (k16=$r16, k32=$r32) — the blocked " +
        "build is not measuring what it claims")
  }

  test("hot-cell cap: sub-blocked pair enumeration equals the uncapped " +
      "result on both consumers, and spreads the grid across tasks") {
    // r14 verdict item 3: the √N recipe balances AVERAGE cell size; a
    // hot cell re-quadratizes O(cell²) in one reducer. The cap hash-
    // splits cells into sub-blocks and gives every sub-block PAIR its
    // own reducer — an EXACT re-layout, so forcing it on (cap=8 makes
    // every ~31-member sf0.001 cell split 4-ways, a 4×4 grid per cell)
    // must reproduce the default output bit-for-bit.
    def runBoth(q: String): (Seq[Seq[Any]], Seq[Seq[Any]]) = {
      val base = SearchQueries.queries(q).fn(spark, sf)
        .collect().map(_.toSeq).toSeq
      spark.conf.set("spark.graft.cellcap", "8")
      try {
        val capped = SearchQueries.queries(q).fn(spark, sf)
        // the grid join must key its exchanges on the sub-block columns
        // — that spread IS the fix (without it the hot cell still lands
        // in one task and the cap is decorative)
        val planStr = capped.queryExecution.executedPlan.toString
        assert(planStr.contains("pj"),
          s"$q cap-active plan lost the sub-block join keys")
        (base, capped.collect().map(_.toSeq).toSeq)
      } finally spark.conf.unset("spark.graft.cellcap")
    }
    for (q <- Seq("dedup_semantic", "sim_knn_graph")) {
      val (base, capped) = runBoth(q)
      assert(capped == base,
        s"$q: sub-blocked enumeration diverged from the uncapped result")
    }
  }

  test("dedup_semantic: verdicts match a brute recompute within clusters " +
      "and drops are a subset of the exact all-pairs screen") {
    val e = engine.llm.LlmQueries.unitEmbeddings(spark, sf)
      .filter(col("u").isNotNull)
    val vecs = e.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // family consistency target: cluster blocking only RESTRICTS the
    // pair set, so every semantic drop (at ANY k) must be droppable by
    // the exact all-pairs screen at the same threshold
    spark.conf.set("spark.graft.dedupEmbedding.mode", "exact")
    val exactDroppable = try
      engine.llm.LlmQueries.queries("dedup_embedding").fn(spark, sf)
        .select("vb").collect().map(_.getLong(0)).toSet
      finally spark.conf.unset("spark.graft.dedupEmbedding.mode")
    // verify at the serving default AND a doubled cell count (the
    // corpus-proportional-k scale knob, r13 verdict item 3): verdicts
    // match a brute within-cell recompute, drops ⊆ exact, at both
    def verifyAt(k: Int): Set[Long] = {
      val rows = (if (k == 16)
          SearchQueries.queries("dedup_semantic").fn(spark, sf)
        else {
          spark.conf.set("spark.graft.semdedup.k", k.toString)
          try SearchQueries.queries("dedup_semantic").fn(spark, sf)
          finally spark.conf.unset("spark.graft.semdedup.k")
        }).collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      // independent recompute: unit vectors + argmax assignment
      // collected, a vector is dropped iff some smaller-id same-cell
      // vector has cos >= 0.45 with it
      val cents = engine.llm.LlmQueries.trainedSphericalCells(
        spark, sf, e, k)
      def cellOf(v: Seq[Double]): Long = cents.map { case (cid, cu) =>
        v.zip(cu).map { case (a, b) => a * b }.sum -> cid
      }.maxBy(x => (x._1, -x._2))._2
      val cells = vecs.map { case (id, v) => id -> cellOf(v) }
      rows.foreach { case (id, c, kept) =>
        assert(c == cells(id), s"vec $id cell (k=$k)")
        val expectDrop = vecs.keys.exists(o => o < id && cells(o) == c &&
          vecs(o).zip(vecs(id)).map { case (a, b) => a * b }.sum >= 0.45)
        assert(kept == !expectDrop, s"vec $id verdict (k=$k)")
      }
      assert(rows.length == vecs.size)
      val dropped = rows.filter(!_._3).map(_._1).toSet
      assert(dropped.subsetOf(exactDroppable),
        s"semantic drops outside the exact screen (k=$k): " +
          s"${dropped -- exactDroppable}")
      dropped
    }
    assert(verifyAt(16).nonEmpty,
      "fixture plants same-cell near-dup vectors")
    verifyAt(32)
  }

  test("cluster_topics agrees with a recount through cluster_kmeans") {
    val topics = SearchQueries.queries("cluster_topics").fn(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
    assert(topics.nonEmpty)
    // ranks dense 1..<=5 per cluster, counts non-increasing in rank
    topics.groupBy(_._1).values.foreach { g =>
      val sorted = g.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to sorted.length))
      assert(sorted.map(-_._4).toSeq == sorted.map(-_._4).sorted.toSeq)
    }
    // independent recount: cluster_kmeans assignment joined to document
    // tokens must reproduce each reported (cluster, term) count
    val asg = SearchQueries.queries("cluster_kmeans").fn(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val docs = Core.t(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val counts = docs.toSeq.flatMap { case (id, text) =>
      asg.get(id).toSeq.flatMap(c => text.split(" ").map(t => (c, t)))
    }.groupBy(identity).map { case (k, xs) => k -> xs.size.toLong }
    topics.foreach { case (c, _, term, cnt) =>
      assert(counts.get((c, term)).contains(cnt),
        s"cluster $c term '$term': reported $cnt, recount ${counts.get((c, term))}")
    }
  }

  test("search_phrase matches a brute phrase-occurrence recompute") {
    val docs = Core.t(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq).toMap
    val got = SearchQueries.queries("search_phrase").fn(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(got.nonEmpty)
    // brute recompute: the leading bigram of each query doc, counted as
    // overlapping stride-1 occurrences in every other doc, top-10 by
    // (count desc, id) — the full semantics, not a smoke property
    val expect = (0L to 4L).flatMap { qid =>
      val phrase = docs(qid).take(2)
      val matches = docs.toSeq.filter(_._1 != qid).flatMap { case (cid, w) =>
        val n = w.sliding(2).count(_ == phrase)
        if (n > 0) Some((cid, n.toLong)) else None
      }
      matches.sortBy { case (cid, n) => (-n, cid) }.take(10).zipWithIndex
        .map { case ((cid, n), i) => (qid, cid, i + 1, n) }
    }
    assert(got.sortBy(r => (r._1, r._3)).toSeq == expect)
  }

  test("search_mlt selects the top-tfidf query terms and ranks by BM25 " +
      "over exactly those") {
    val docs = Core.t(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq).toMap
    val n = docs.size.toDouble
    val dfm = docs.values.flatMap(_.distinct).groupBy(identity)
      .map { case (t, xs) => t -> xs.size.toDouble }
    val avgdl = docs.values.map(_.size).sum / n
    def idf(t: String) = math.log(1.0 + (n - dfm(t) + 0.5) / (dfm(t) + 0.5))
    val got = SearchQueries.queries("search_mlt").fn(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(got.nonEmpty)
    val expect = (0L to 4L).flatMap { qid =>
      // MLT term selection: top-5 by micronat tf·idf, tie on term
      val tfq = docs(qid).groupBy(identity).map { case (t, xs) => t -> xs.size }
      val sel = tfq.toSeq.map { case (t, tf) =>
        (t, math.round(tf * idf(t) * 1e6)) }
        .sortBy { case (t, sc) => (-sc, t) }.take(5).map(_._1).toSet
      // BM25 over the selected terms, query tf = 1 (the bm25Rank form)
      val scores = docs.toSeq.filter(_._1 != qid).flatMap { case (cid, w) =>
        val tfc = w.groupBy(identity)
          .map { case (t, xs) => t -> xs.size.toDouble }
        val partials = sel.toSeq.flatMap { t => tfc.get(t).map { tf =>
          val tfw = tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * w.size / avgdl))
          math.round(idf(t) * tfw * 1e6) } }
        if (partials.nonEmpty) Some((cid, partials.sum)) else None
      }
      scores.sortBy { case (cid, sc) => (-sc, cid) }.take(10).zipWithIndex
        .map { case ((cid, sc), i) => (qid, cid, i + 1,
          BigDecimal(sc / 1e6)
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) }
    }
    assert(got.sortBy(r => (r._1, r._3)).toSeq == expect)
  }

  test("search_passage ranks docs by their best chunk-BM25 passage") {
    val docsM = Core.t(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq).toMap
    val (w, st) = (32, 24)
    def chunksOf(toks: Seq[String]): Seq[(Int, Seq[String])] = {
      val last = if (toks.size <= w) 0 else (toks.size - w + st - 1) / st
      (0 to last).map(i => i -> toks.slice(i * st, i * st + w))
    }
    val chunks = docsM.toSeq.flatMap { case (id, toks) =>
      chunksOf(toks).map { case (ci, cw) => (id, ci, cw) } }
    val nC = chunks.size.toDouble
    val avgcl = chunks.map(_._3.size).sum / nC
    val dfm = chunks.flatMap(_._3.distinct).groupBy(identity)
      .map { case (t, xs) => t -> xs.size.toDouble }
    def idf(t: String) = math.log(1.0 + (nC - dfm(t) + 0.5) / (dfm(t) + 0.5))
    val got = SearchQueries.queries("search_passage").fn(spark, sf)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getDouble(4)))
    assert(got.nonEmpty)
    // brute recompute: every chunk BM25-scored as its own unit, each
    // candidate doc reduced to its best (score, chunk) passage, docs
    // ranked by that passage score
    val expect = (0L to 4L).flatMap { qid =>
      val qts = docsM(qid).distinct.toSet
      val perChunk = chunks.filter(_._1 != qid).flatMap { case (cid, ci, cw) =>
        val tfc = cw.groupBy(identity)
          .map { case (t, xs) => t -> xs.size.toDouble }
        val partials = qts.toSeq.flatMap(t => tfc.get(t).map { tf =>
          val tfw = tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * cw.size / avgcl))
          math.round(idf(t) * tfw * 1e6) })
        if (partials.nonEmpty) Some(((cid, ci), partials.sum)) else None
      }
      val best = perChunk.groupBy(_._1._1).map { case (cid, xs) =>
        val b = xs.sortBy { case ((_, ci), ms) => (-ms, ci) }.head
        (cid, b._1._2, b._2) }.toSeq
      best.sortBy { case (cid, _, ms) => (-ms, cid) }.take(10).zipWithIndex
        .map { case ((cid, ci, ms), i) => (qid, cid, ci, i + 1,
          BigDecimal(ms / 1e6)
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) }
    }
    assert(got.sortBy(r => (r._1, r._4)).toSeq == expect)
  }

  test("sim_knn_graph: neighbors are the exact within-cell top-k, at " +
      "the serving default and a doubled cell count") {
    val e = engine.llm.LlmQueries.unitEmbeddings(spark, sf)
      .filter(col("u").isNotNull)
    val vecs = e.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // brute recompute: exact cosine top-3 among same-cell vectors,
    // tie-broken on neighbor id — the zip/sum fold is left-to-right
    // like the engine's DoubleArrayDot, so the doubles are identical;
    // verified at k=16 AND k=32 (the √N scale knob, the dedup_semantic
    // two-k discipline)
    def verifyAt(k: Int): Unit = {
      val got = (if (k == 16)
          SearchQueries.queries("sim_knn_graph").fn(spark, sf)
        else {
          spark.conf.set("spark.graft.knng.k", k.toString)
          try SearchQueries.queries("sim_knn_graph").fn(spark, sf)
          finally spark.conf.unset("spark.graft.knng.k")
        }).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      assert(got.nonEmpty)
      val cents = engine.llm.LlmQueries.trainedSphericalCells(spark, sf, e, k)
      def cellOf(v: Seq[Double]): Long = cents.map { case (cid, cu) =>
        v.zip(cu).map { case (a, b) => a * b }.sum -> cid
      }.maxBy(x => (x._1, -x._2))._2
      val cells = vecs.map { case (id, v) => id -> cellOf(v) }
      val expect = vecs.keys.toSeq.sorted.flatMap { id =>
        val nbrs = vecs.keys.toSeq
          .filter(o => o != id && cells(o) == cells(id))
          .map(o => (o, vecs(id).zip(vecs(o)).map { case (a, b) => a * b }.sum))
          .sortBy { case (o, c) => (-c, o) }.take(3)
        nbrs.zipWithIndex.map { case ((o, c), i) => (id, i + 1, o,
          BigDecimal(c).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) }
      }
      assert(got.sortBy(r => (r._1, r._2)).toSeq == expect, s"k=$k")
    }
    verifyAt(16)
    verifyAt(32)
  }

  test("knng/semdedup oracle SQL interpolates the session cell-count " +
      "conf (r15 verdict item 3 — no conf/oracle divergence)") {
    // default session: both chains pin the 16-cell codebook
    assert(SearchQueries.queries("sim_knn_graph").oracle.get
      .contains("LIMIT 16"))
    assert(SearchQueries.queries("dedup_semantic").oracle.get
      .contains("LIMIT 16"))
    // non-default conf: the REBUILT oracle string carries the same k
    // the engine reads (queries is a def; Core.oracleK reads the
    // active session), per conf key independently
    spark.conf.set("spark.graft.knng.k", "8")
    try {
      val knn = SearchQueries.queries("sim_knn_graph").oracle.get
      assert(knn.contains("LIMIT 8") && !knn.contains("LIMIT 16"))
      for (op <- Seq("graph_pagerank", "graph_label_prop",
          "graph_triangle_count", "sim_knn_graph_incremental"))
        assert(SearchQueries.queries(op).oracle.get.contains("LIMIT 8"),
          op)
      // semdedup.k unset → dedup_semantic stays at its own default
      assert(SearchQueries.queries("dedup_semantic").oracle.get
        .contains("LIMIT 16"))
      // and the engine side honors the same conf: ≤ 8 distinct cells
      val cells = SearchQueries.queries("sim_knn_graph").fn(spark, sf)
        .select(col("vec_id")).distinct().count()
      assert(cells > 0)
    } finally spark.conf.unset("spark.graft.knng.k")
    spark.conf.set("spark.graft.semdedup.k", "12")
    try assert(SearchQueries.queries("dedup_semantic").oracle.get
      .contains("LIMIT 12"))
    finally spark.conf.unset("spark.graft.semdedup.k")
  }

  test("search_autocomplete completes every query prefix with the " +
      "frequency-ranked vocabulary") {
    val docs = Core.t(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq).toMap
    val wf = docs.values.flatten.groupBy(identity)
      .map { case (w, xs) => w -> xs.size.toLong }
    val got = SearchQueries.queries("search_autocomplete").fn(spark, sf)
      .collect().map(r =>
        (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3),
          r.getLong(4)))
    assert(got.nonEmpty)
    val expect = (0L to 4L).flatMap { qid =>
      docs(qid).map(_.take(2)).distinct.sorted.flatMap { pfx =>
        wf.toSeq.filter(_._1.startsWith(pfx))
          .sortBy { case (w, c) => (-c, w) }.take(5).zipWithIndex
          .map { case ((w, c), i) => (qid, pfx, i + 1, w, c) }
      }
    }
    assert(got.sortBy(r => (r._1, r._2, r._3)).toSeq ==
      expect.sortBy(r => (r._1, r._2, r._3)))
  }

  test("graph_pagerank matches a brute power iteration over the kNN " +
      "edges and conserves damped mass") {
    val edges = SearchQueries.queries("sim_knn_graph").fn(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(2))
    val nodes = engine.llm.LlmQueries.unitEmbeddings(spark, sf)
      .filter(col("u").isNotNull)
      .select("vec_id").collect().map(_.getLong(0)).toSeq.sorted
    val got = SearchQueries.queries("graph_pagerank").fn(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == nodes.toSet)
    // brute recompute with the identical nano-grid quantization:
    // contribution = round(pr/outdeg * 1e9) summed as longs, damped
    // update on the same double literals — must match bit-for-bit
    val n = nodes.size.toDouble
    val od = edges.groupBy(_._1).map { case (s, xs) => s -> xs.size }
    val inEdges = edges.groupBy(_._2)
    var pr = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to 10) {
      val contrib = pr.map { case (u, p) =>
        u -> od.get(u).map(o => math.round(p / o * 1e9)).getOrElse(0L) }
      pr = nodes.map { v =>
        val im = inEdges.getOrElse(v, Array.empty[(Long, Long)])
          .map { case (u, _) => contrib(u) }.sum
        v -> (0.15 / n + 0.85 * (im.toDouble / 1e9))
      }.toMap
    }
    nodes.foreach { v =>
      assert(got(v) == math.round(pr(v) * 1e9),
        s"vec $v: engine ${got(v)} vs recompute ${math.round(pr(v) * 1e9)}")
    }
    // damped mass: total ≤ 1 (dangling leakage only shrinks it) and
    // ≥ the undamped floor Σ (1−d)/N = 0.15
    val mass = got.values.map(_ / 1e9).sum
    assert(mass <= 1.0 + 1e-6 && mass >= 0.15 - 1e-6, s"mass $mass")
    // centrality must DISCRIMINATE (not a constant vector)
    assert(got.values.toSet.size > 1)
  }

  test("sim_search_rerank_mmr: pick 1 is the relevance top-1 and the " +
      "selected set is no less diverse than the plain top-k") {
    val mmr = SearchQueries.queries("sim_search_rerank_mmr").fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(mmr.nonEmpty)
    val plain = engine.llm.LlmQueries.queries("sim_search_topk").fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(1)))
    val e = Core.t(spark, sf, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Long, b: Long): Double = {
      val (x, y) = (e(a), e(b))
      val d = x.zip(y).map { case (p, q) => p * q }.sum
      d / (math.sqrt(x.map(p => p * p).sum) * math.sqrt(y.map(p => p * p).sum))
    }
    def avgPairSim(ids: Seq[Long]): Double = {
      val ps = for (i <- ids.indices; j <- i + 1 until ids.size)
        yield cos(ids(i), ids(j))
      ps.sum / ps.size
    }
    mmr.groupBy(_._1).foreach { case (qid, g) =>
      assert(g.size == 5 && g.map(_._2).sorted.toSeq == (1 to 5))
      val top = plain.filter(_._1 == qid).sortBy(_._2).map(_._3).toSeq
      assert(g.minBy(_._2)._3 == top.head,
        s"qid $qid: MMR pick 1 must be the relevance top-1")
      val mmrSim = avgPairSim(g.sortBy(_._2).map(_._3).toSeq)
      val topSim = avgPairSim(top)
      assert(mmrSim <= topSim + 1e-9,
        s"qid $qid: MMR set less diverse ($mmrSim) than plain top-5 ($topSim)")
    }
  }

  test("sim_knn_graph_incremental: any trigger split folds to the batch " +
      "kNN graph") {
    // pair generation is decomposition-invariant (a pair materializes
    // when its later member arrives) and the per-node top-k fold is
    // associative, so the 3-round fold, the single-trigger fold, and
    // the batch sim_knn_graph must agree row-for-row
    def run(): Seq[Seq[Any]] =
      SearchQueries.queries("sim_knn_graph_incremental").fn(spark, sf)
        .collect().map(_.toSeq).toSeq
    val multi = engine.Core.withConfs(spark)(Mft -> "11")(run()) // 3 batches
    val single = run()
    val batch = SearchQueries.queries("sim_knn_graph").fn(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(multi == single)
    assert(single == batch, "incremental fold diverged from sim_knn_graph")
    assert(batch.nonEmpty)
  }

  test("search_spell: deletion-key candidates are COMPLETE for edit " +
      "distance <= 1, ranks follow corpus frequency") {
    val rows = SearchQueries.queries("search_spell").fn(spark, sf)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2),
        r.getLong(3), r.getInt(4)))
    assert(rows.nonEmpty)
    // brute-force ground truth: every (typo, word) with levenshtein <= 1
    val wf = Core.t(spark, sf, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val typos = wf.keys.filter(_.length >= 3).toSeq.sorted.take(5)
      .map(w => w.take(1) + w.drop(2))
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j), d(i)(j - 1)) + 1,
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val truth = (for {
      t <- typos; (w, c) <- wf if lev(t, w) <= 1
    } yield (t, w, c)).groupBy(_._1).view.mapValues(
      _.sortBy { case (_, w, c) => (-c, w) }.take(3)
        .map { case (_, w, c) => (w, c) }.toSeq).toMap
    rows.groupBy(_._1).foreach { case (typo, g) =>
      val got = g.sortBy(_._2).map(r => (r._3, r._4)).toSeq
      assert(got == truth(typo),
        s"$typo: engine $got vs brute-force ${truth(typo)}")
      g.foreach { case (t, _, w, _, dist) =>
        assert(dist == lev(t, w), s"dist drifted for ($t,$w)") }
    }
    assert(rows.groupBy(_._1).keySet == truth.filter(_._2.nonEmpty).keySet)
  }

  test("search_boolean: MUST/MUST_NOT semantics hold doc-by-doc against " +
      "the raw token sets") {
    val rows = SearchQueries.queries("search_boolean").fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    val docToks = Core.t(spark, sf, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("w")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val n = docToks.size.toDouble
    // recompute each query's AND set (top-3 tf·idf) and NOT term with
    // the op's own quantization
    val df = docToks.values.flatMap(_.distinct).groupBy(identity)
      .view.mapValues(_.size).toMap
    def termRank(qid: Long): Seq[String] = {
      val tf = docToks(qid).groupBy(identity).view.mapValues(_.size)
      tf.map { case (t, f) =>
        val idf = math.log(1.0 + ((n - df(t)) + 0.5) / (df(t) + 0.5))
        (t, math.round(f * idf * 1e6))
      }.toSeq.sortBy { case (t, ts) => (-ts, t) }.map(_._1)
    }
    (0L until 5L).foreach { qid =>
      val ranked = termRank(qid)
      val andSet = ranked.take(3)
      val notTerm = ranked.last
      val expect = docToks.collect { case (id, w)
        if id != qid && andSet.forall(w.contains) && !w.contains(notTerm) =>
          id -> andSet.map(t => w.count(_ == t).toLong).sum
      }.toMap
      val got = rows.filter(_._1 == qid).map(r => r._2 -> r._3).toMap
      assert(got == expect, s"qid $qid: ${got.size} vs ${expect.size}")
    }
  }

  test("rank_eval metrics recompute from the rankers' own outputs") {
    val rows = SearchQueries.queries("rank_eval").fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getLong(5)))
      .toMap
    assert(rows.size == 10) // 2 rankers x 5 queries
    // ground truth = exact cosine top-5 (sim_search_topk's own ranking)
    val rel = engine.llm.LlmQueries.queries("sim_search_topk")
      .fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val disc = Seq(1000000L, 630930L, 500000L, 430677L, 386853L)
    val rcp = Seq(1000000L, 500000L, 333333L, 250000L, 200000L)
    def expect(ranked: Seq[(Long, Long, Int)], ranker: String): Unit =
      ranked.groupBy(_._1).foreach { case (qid, rs) =>
        val hits = rs.filter(t => rel((qid, t._2)))
        val mrr = if (hits.isEmpty) 0.0
          else hits.map(t => rcp(t._3 - 1)).max / 1e6
        val dcg = hits.map(t => disc(t._3 - 1)).sum
        val (gm, gn, gr, gh) = rows((ranker, qid))
        assert(gh == hits.size, s"$ranker/$qid hits")
        assert(math.abs(gm - math.rint(mrr * 1e4) / 1e4) < 1e-9,
          s"$ranker/$qid mrr")
        assert(math.abs(gn - math.rint(dcg / 2948460.0 * 1e4) / 1e4)
          < 1.01e-4, s"$ranker/$qid ndcg") // r4 HALF_UP vs rint slack
        assert(math.abs(gr - hits.size / 5.0) < 1e-9, s"$ranker/$qid rec")
      }
    val lex = SearchQueries.queries("search_bm25").fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .filter(_._3 <= 5).toSeq
    val hyb = SearchQueries.queries("search_hybrid_rrf").fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .filter(_._3 <= 5).toSeq
    expect(lex, "bm25")
    expect(hyb, "hybrid_rrf")
    // the point of the table: fusion dominates the lexical ranker here
    (0L until 5L).foreach { q =>
      assert(rows(("hybrid_rrf", q))._3 >= rows(("bm25", q))._3,
        s"hybrid recall >= bm25 at qid $q")
    }
  }

  test("sim_search_matryoshka reranks into high recall vs exact top-k") {
    val exact = engine.llm.LlmQueries.queries("sim_search_topk")
      .fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val mrl = SearchQueries.queries("sim_search_matryoshka").fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mrl.nonEmpty)
    val recall = (exact intersect mrl).size.toDouble / exact.size
    assert(recall >= 0.8,
      s"matryoshka recall@5 $recall vs exact top-5 (coarse depth 100)")
  }

  test("embedding_outlier_knn: score is 1 - mean neighbor cosine (sorted " +
      "fold) from the shared kNN graph; neighborless vectors score 1.0") {
    val sf = "/root/testdata/sf0.001"
    val g = SearchQueries.knnGraphFrame(spark, sf)
      .select(col("vec_id"), col("cos"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val got = SearchQueries.queries("embedding_outlier_knn").fn(spark, sf)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val allIds = engine.llm.LlmQueries.unitCorpus(spark, sf)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(got.keySet == allIds, "one row per corpus vector")
    allIds.foreach { v =>
      val (k, o) = got(v)
      g.get(v) match {
        case Some(cs) =>
          val scos = cs.sorted.foldLeft(0.0)(_ + _)
          val expect =
            math.floor((1.0 - scos / cs.length) * 1e4 + 0.5) / 1e4
          assert(k == cs.length.toLong && math.abs(o - expect) < 1e-9,
            s"vec $v outlier")
        case None =>
          assert(k == 0L && o == 1.0, s"vec $v: neighborless must score 1.0")
      }
    }
    // the score must separate the corpus, not collapse to a constant
    // (no singleton cells at this fixture's 500/16 density, so the
    // neighborless branch is covered by the per-vector case split above)
    val scores = got.values.map(_._2)
    assert(got.values.exists(_._1 == 3L) && scores.min < scores.max)
  }

  test("DeferredCommit refuses a second defer on an occupied slot; " +
      "settle rethrows a deferred failure and clears the slot") {
    // occupancy guard (r21 verdict item 9): the capstones' trigger loop
    // settles before each defer by discipline — a double defer would
    // orphan the pending commit (never joined, failure swallowed), so
    // it must throw instead
    val c = new SearchQueries.DeferredCommit
    val gate = new java.util.concurrent.CountDownLatch(1)
    c.defer { gate.await() }
    val e = intercept[IllegalStateException] { c.defer { () } }
    assert(e.getMessage.contains("already pending"))
    gate.countDown()
    c.settle() // joins, no error
    // fail loud: a deferred commit failure surfaces at the next settle
    c.defer { throw new RuntimeException("commit-boom") }
    val f = intercept[RuntimeException] { c.settle() }
    assert(f.getMessage == "commit-boom")
    c.settle() // slot cleared — idempotent
    // quietJoin joins without rethrowing (failure-path cleanup)
    c.defer { throw new RuntimeException("masked") }
    c.quietJoin()
    c.settle() // the quiet join cleared the slot
  }
}
