package graft
import org.apache.spark.sql.functions._

/** Scaled-corpus probe over the LLM-pipeline operators — the committed
  * artifacts (`scaleprobe.json`, `scaleprobe30.json` in the repo root)
  * are the round-over-round regression gate: each 10× run loads the
  * previous committed timings and fails loudly (exit 1) if any
  * operator's runtime grew more than [[ScaleProbe.RegressionFactor]]× —
  * the signal that a plan quietly lost its banding/broadcast/pruning
  * and went super-linear. Timings on this box carry ±1-2 s noise (see
  * bench discipline note, SURVEY §4.2), hence the deliberately loose
  * factor: the gate catches complexity-class regressions, not jitter.
  *
  * `runMain graft.ScaleProbe 30` runs the FRONTIER probe instead: the
  * top-8 ops by committed 10× probe time, on a 30× corpus, written to
  * `scaleprobe30.json` with each op's t30/t10 ratio. The 15× gate at
  * 10× says nothing about the 100× trend for ops in the 11-14× band;
  * ~linear scaling predicts t30/t10 ≈ scale/10, so any ratio above the
  * scale-proportional line ([[FrontierFactor]] × scale/30 — 3.3 at
  * 30×, 11.0 at 100×) is flagged in the artifact and on stdout, not as
  * a hard failure (absolute times at larger scales carry
  * proportionally more noise). */
object ScaleProbe {
  /** Loose on purpose: ~constant-factor noise passes, O(n²) does not. */
  val RegressionFactor = 15.0
  /** 30×/10× ratio above which an op's scaling trend is flagged:
    * linear = 3.0, plus the same ~10% slack the 15×-at-10× gate uses.
    * The run generalizes this per scale (1.1 × scale/10 — identical at
    * 30×, 11.0 at the 100× frontier); the named constant stays as the
    * documented 30× anchor.
    * An op whose OUTPUT grows faster than the corpus (pair emitters
    * under replication: every salted replica of a train doc covers
    * every replica of an eval doc) is held to its output growth
    * instead — time tracking true result size is output-bound, not a
    * plan pathology; the flag is for super-linearity BEYOND what the
    * result itself forces. */
  val FrontierFactor = 3.3
  private def artifactPath(scale: Int): String =
    if (scale == 10) "/root/repo/scaleprobe.json"
    else s"/root/repo/scaleprobe$scale.json"

  def main(args: Array[String]): Unit = {
    val scale = args.headOption.map(_.toInt).getOrElse(10)
    val spark = DevSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    engine.Core.pinOracleSession(spark)
    val base = "/root/testdata/sf0.1"
    val out = s"/tmp/graft_scale$scale"
    // scaled documents: replicas get distinct ids and a salt token so
    // replicas are near-dups of each other only within plant groups
    val docs = spark.read.parquet(s"$base/documents.parquet")
    val n = 100000L
    val big = (0 until scale).map { k =>
      docs.withColumn("doc_id", col("doc_id") + lit(k * n))
        .withColumn("text", concat(col("text"), lit(s" salt$k")))
    }.reduce(_ unionAll _)
    big.write.mode("overwrite").parquet(s"$out/documents.parquet")
    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    (0 until scale).map(k =>
      emb.withColumn("vec_id", col("vec_id") + lit(k * n)))
      .reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    // the relational/stream ops read the TPC-H-ish tables — replicate
    // them too, id-offset per replica so keys stay unique and
    // cross-table joins stay consistent:
    // events.user_id and orders.o_custkey share the +k·1e6 offset
    // (stream_asof_enrich joins them), o_orderkey/l_orderkey share
    // +k·1e7, and event_id's +k·1e6 offset preserves event_id % 10
    // (the cdc/merge op derivation). ts/date columns are NOT offset —
    // replicas model more users over the same activity window, so
    // per-user spines (ts_gapfill) and cohort windows keep their
    // density while the key space scales.
    val ev = engine.Core.t(spark, base, "events")
    (0 until scale).map(k => ev
        .withColumn("event_id", col("event_id") + lit(k * 1000000L))
        .withColumn("user_id", col("user_id") + lit(k * 1000000L)))
      .reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    val ord = spark.read.parquet(s"$base/orders.parquet")
    (0 until scale).map(k => ord
        .withColumn("o_orderkey", col("o_orderkey") + lit(k * 10000000L))
        .withColumn("o_custkey", col("o_custkey") + lit(k * 1000000L)))
      .reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$out/orders.parquet")
    val li = spark.read.parquet(s"$base/lineitem.parquet")
    (0 until scale).map(k => li
        .withColumn("l_orderkey", col("l_orderkey") + lit(k * 10000000L)))
      .reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    println(s"SCALE wrote ${scale}x corpus: " +
      spark.read.parquet(s"$out/documents.parquet").count() + " docs")
    // GC barrier between the corpus-build job and the timed loop: the
    // ops run bench-ordered with the allocation-sensitive streaming/
    // store ops FIRST precisely to see a fresh heap (Bench doc), but in
    // this JVM the scaled-corpus write just churned it — without the
    // barrier dedup_incremental measured 18-22 s here vs 7-14 s
    // standalone on the identical corpus
    engine.ScratchCache.drain()
    System.gc()
    spark.conf.set("spark.graft.dedupEmbedding.mode", "banded")
    // the SemDeDup/IVF scale recipe the cluster-blocked ops document:
    // cell count ∝ √N (the probe corpus has 2000 × scale vectors), so
    // assignment O(N·k) and within-cell pair work O(N·⟨cell⟩) both grow
    // as N^1.5 — a FIXED 16-cell codebook is quadratic and measured so
    // (graph_pagerank 6.15× at 3× data in a fixed-k probe)
    val knnK = math.max(16, math.ceil(math.sqrt(2000.0 * scale)).toInt)
    spark.conf.set("spark.graft.knng.k", knnK.toString)
    spark.conf.set("spark.graft.semdedup.k", knnK.toString)
    val tenProbe = readPrev(artifactPath(10))
    // explicit op names after the scale arg override the roster — the
    // debug path for smoking a new op at an arbitrary scale without a
    // full probe run; the artifact write is SKIPPED in override mode so
    // a partial run can never clobber a committed roster artifact
    val opsOverride = args.drop(1).toSeq
    val ops = (if (opsOverride.nonEmpty) opsOverride
      else if (scale == 10) fullOps
      // scale=100: the top-8 frontier (the 30× trend set) PLUS the
      // output-bound pair emitters, whose us_per_row_vs10x/vs30x fields
      // keep "output-bound" a measured claim rather than a label
      else if (scale == 100)
        // tokenize_decode stays on the 100× roster by name: it once
        // scaled superlinearly (fixed by the narrow-posting-path
        // rewrite), and the clean ratio must remain a MEASURED artifact
        // even now that the op is fast enough to fall out of the top-8.
        // The frontier roster is not extrapolated from the batch-heavy
        // top-8 alone — the streaming capstone stateful ops and one op
        // per LLM family ride by name (stream_stateful_merge,
        // stream_scd2_apply; dedup's dedup_embedding_banded, sim-search's
        // sim_search_ivfpq_indexed, curation's pack_sequences)
        withProxies(tenProbe.toSeq.sortBy(-_._2).take(8).map(_._1) ++
          Seq("decontaminate_incremental", "dedup_edit_distance",
            "dedup_ngram_jaccard", "tokenize_decode",
            "stream_stateful_merge", "stream_scd2_apply",
            "dedup_embedding_banded", "sim_search_ivfpq_indexed",
            "pack_sequences"))
      // frontier probe: the top-8 ops by committed 10× probe time —
      // the worst absolute trends are exactly where a super-linear
      // term shows first
      else withProxies(tenProbe.toSeq.sortBy(-_._2).take(8).map(_._1)))
      // BENCH-IDENTICAL run order via the SHARED key (see
      // SparkEntry.benchOrderKey): unordered, dedup_simhash paid the
      // pair-table build in the probe but read dedup_clusters' cache in
      // the bench — a 20× "growth" that was pure accounting.
      .sortBy(SparkEntry.benchOrderKey)
    // the self-regression gate only runs at 10x (frontier runs are
    // flagged by ratio, not gated), so only read the prior artifact there
    val prev = if (scale == 10) readPrev(artifactPath(10)) else Map.empty[String, Double]
    // ops whose replica-physics flags demand measured work counters:
    // after the TIMED run — which stays
    // counter-free so sec/us_per_row remain comparable to previous
    // rounds' artifacts — the op replays once with
    // spark.graft.probe.counters on, and the drained counters
    // (candidate_pairs band collisions, epsilon edges/points) ride the
    // artifact, so "the result set grows ~scale², not the plan" is a
    // number, never a flag-note narrative
    val counterOps = Set("pipeline_online", "pipeline_online_hybrid",
      "cluster_dbscan")
    val results = ops.map { q =>
      val t0 = System.nanoTime()
      val c = Eval.rows(SparkEntry.queries(q)(spark, out))
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"SCALE $q: $sec%.2f s ($c rows)")
      engine.ScratchCache.drain(); System.gc()
      val counters: Map[String, Long] = if (!counterOps(q)) Map.empty
        else {
          try engine.Core.withConfs(spark)(
              "spark.graft.probe.counters" -> "true") {
            engine.Core.drainProbeCounters(): Unit // pre-window noise
            Eval.rows(SparkEntry.queries(q)(spark, out)): Unit
            engine.Core.drainProbeCounters()
          } finally { engine.ScratchCache.drain(); System.gc() }
        }
      counters.toSeq.sortBy(_._1).foreach { case (k, v) =>
        println(s"SCALE $q counter $k=$v") }
      (q, sec, c, counters)
    }
    // the √N recipe's RECALL trade, measured
    // in-engine — within-cell kNN recall vs the exact corpus-wide top-k
    // on a deterministic query sample, at BOTH the oracle-pinned 16
    // cells and the √N-scaled count. On this replica-built corpus the
    // true neighbors are mostly exact replicas (which always share a
    // cell), so these numbers are a FLOOR check here; the sf-native
    // two-k trade is pinned in SearchSpec.
    val knngRecall = if (scale != 10) Nil
      else Seq(16, knnK).distinct.map { k =>
        engine.Core.withConfs(spark)("spark.graft.knng.k" -> k.toString) {
          val r = engine.llm.SearchQueries.blockedKnnRecall(spark, out, 101)
          engine.ScratchCache.drain(); System.gc()
          println(f"SCALE knng_recall k=$k: $r%.3f")
          (k, r)
        }
      }
    // screen/ranking quality as probe fields —
    // dedup_eval's MinHash precision/recall and rank_eval's hybrid
    // nDCG@5 ride the 10× artifact the way knng_recall does, so screen
    // quality is trend-gated against corpus growth, not point-measured
    // at sf0.01
    // opsOverride gate: debug/override runs skip the
    // artifact write, so paying two pair-table queries for discarded
    // output is pure waste — only the full 10× artifact run measures.
    val qualityFields =
      if (scale != 10 || opsOverride.nonEmpty) "" else {
        val de = SparkEntry.queries("dedup_eval")(spark, out)
          .select(col("screen_recall"), col("screen_precision"))
          .collect().head
        val ndRow = SparkEntry.queries("rank_eval")(spark, out)
          .filter(col("ranker") === "hybrid_rrf")
          .agg(avg(col("ndcg5"))).collect().head
        // avg over an empty/NULL slice is NULL — emit no fields rather
        // than throw mid-probe
        if (ndRow.isNullAt(0)) "" else {
          val nd = ndRow.getDouble(0)
          engine.ScratchCache.drain(); System.gc()
          println(f"SCALE dedup_recall=${de.getDouble(0)}%.4f " +
            f"dedup_precision=${de.getDouble(1)}%.4f rank_ndcg5=$nd%.4f")
          f""" "dedup_recall": ${de.getDouble(0)}%.4f,""" +
            f""" "dedup_precision": ${de.getDouble(1)}%.4f,""" +
            f""" "rank_ndcg5": $nd%.4f,"""
        }
      }
    val tenRows = readPrevRows(artifactPath(10))
    // round-over-round per-row-cost band: the
    // within-round vs10x/vs30x ratios only see growth across SCALES;
    // a per-row constant that creeps ACROSS ROUNDS at fixed scale is
    // invisible to them. Read the previous committed 10× artifact's
    // us_per_row before this run overwrites it, ride it per op as
    // us_per_row_prev, and flag >3×-past-floor growth (DriftCheck's
    // bench-band discipline). Report-only, like the bench band.
    val prevProbeUs: Map[String, (Double, Double)] =
      if (scale == 10 && opsOverride.isEmpty)
        DriftCheck.readProbe(artifactPath(10))
      else Map.empty
    val usFlags = DriftCheck.checkProbe(prevProbeUs,
      results.flatMap { case (q, sec, c, _) =>
        if (c == 0) None else Some(q -> (sec, sec * 1e6 / c))
      }.toMap)
    usFlags.foreach { case (q, p, c, r) =>
      println(f"SCALE US_PER_ROW DRIFT $q: $p%.2f -> $c%.2f us/row ($r%.1fx)")
    }
    // scale-aware flag line derived FROM the documented 30× anchor
    // (FrontierFactor × scale/30 ≡ 1.1 × linear): at 100× linear is
    // 10.0, so the bare 30× constant would flag every perfectly-linear
    // op; deriving keeps the constant live instead of dead-and-stale
    val flagFactor = FrontierFactor * scale / 30.0
    val rowsNow = results.map { case (q, _, c, _) => q -> c }.toMap
    val flagged = if (scale == 10) Nil
      else results.flatMap { case (q, sec, c, _) =>
        // eval ops emit a 1-row metrics frame, so their own output
        // can't express their workload: dedup_eval's cost IS the two
        // pair tables it evaluates, which grow quadratically in replica
        // multiplicity under this corpus's replication scheme (cliques
        // of `scale` replicas → pairs ∝ scale², measured: ngram rows
        // ×58 at 100×). workGrowthProxy points such an op at the pair
        // emitter whose MEASURED output growth in the SAME run is its
        // workload; the proxy op is forced into the run set below, and
        // the proxied rows ride the artifact, so the allowance is a
        // same-run measurement, never a hand-waved constant.
        val growthOf = (op: String, rows: Long) =>
          tenRows.get(op).filter(_ > 0)
            .map(r10 => rows.toDouble / r10).getOrElse(1.0)
        val outGrowth = workGrowthProxy.get(q)
          .flatMap(p => rowsNow.get(p).map(r => growthOf(p, r)))
          .getOrElse(growthOf(q, c))
        tenProbe.get(q)
          .filter(t10 => t10 > 0 && sec / t10 > flagFactor &&
            sec / t10 > 1.1 * outGrowth)
          .map(t10 => (q, sec / t10))
      }
    val thirty = readPrev(artifactPath(30))
    val thirtyRows = readPrevRows(artifactPath(30))
    val json = results.map { case (q, sec, c, cnt) =>
      val ratio = if (scale == 10) ""
        else tenProbe.get(q).map(t10 =>
          f""", "vs10x": ${sec / t10}%.2f""").getOrElse("")
      // time-per-output-row (µs) for EVERY op (a
      // per-row constant blowup — quadratic in doc LENGTH, not corpus
      // size — is invisible to every corpus-growth ratio on replicated
      // same-length docs; the absolute per-row cost is the number that
      // moves). The vs-ratios against the committed 10×/30× artifacts
      // still ride only the 100× output-bound run, where they are the
      // defensible trend claim.
      val perRow = if (c == 0) ""
        else {
          val us = sec * 1e6 / c
          def vs(tag: String, prev: Map[String, Double],
              prevRows: Map[String, Long]): String =
            (for { tp <- prev.get(q); rp <- prevRows.get(q) if rp > 0 }
              yield us / (tp * 1e6 / rp))
              .map(v => f""", "us_per_row_vs$tag": $v%.2f""").getOrElse("")
          val prevUs = prevProbeUs.get(q)
            .map { case (_, p) => f""", "us_per_row_prev": $p%.2f""" }
            .getOrElse("")
          f""", "us_per_row": $us%.2f""" + prevUs +
            (if (scale != 100) "" else s"${vs("10x", tenProbe, tenRows)}${
              vs("30x", thirty, thirtyRows)}")
        }
      // measured work counters from the untimed
      // counter replay; edges_per_point derived when both ε-graph
      // counters are present so the flag_notes' "edges-per-point stays
      // ~scale" claim is directly readable
      val counters = if (cnt.isEmpty) "" else {
        val derived = (for {
          e <- cnt.get("epsilon_edges"); p <- cnt.get("epsilon_points")
          if p > 0
        } yield f""", "edges_per_point": ${e.toDouble / p}%.2f""")
          .getOrElse("")
        cnt.toSeq.sorted.map { case (k, v) => s""""$k": $v""" }
          .mkString(""", "counters": {""", ", ", s"$derived}")
      }
      f"""    "$q": {"sec": $sec%.2f, "rows": $c$ratio$perRow$counters}"""
    }.mkString(
      s"""{\n  "sf_base": "sf0.1", "scale": $scale,""" +
        s""" "flagged": [${flagged.map("\"" + _._1 + "\"").mkString(", ")}],""" +
        (if (flagged.isEmpty || flagged.forall(f => !flagNotes.contains(f._1))) ""
         else "\n  \"flag_notes\": {" + flagged.flatMap { case (q, _) =>
           flagNotes.get(q).map(n => s""""$q": "$n"""") }
           .mkString(", ") + "},") +
        (if (scale == 10) "" else workGrowthProxy.collect {
          case (q, p) if results.exists(_._1 == q) =>
            s""""$q": "$p"""" }.mkString(" \"growth_proxy\": {", ", ", "},")
          match { case " \"growth_proxy\": {}," => ""; case s0 => s0 }) +
        // cross-round band field ONLY where the band actually ran
        // (scale 10, full roster): an unconditional `[]` at 30×/100×
        // would read as "band clean" when the band never executed — the
        // empty-map-means-clean fail-open the bench's drift_error
        // prevents. Likewise a MISSING/unparseable previous artifact
        // makes prevProbeUs empty, usFlags vacuously empty, and `[]`
        // would still read as "band clean" — emit an explicit
        // probe_band_error marker instead, mirroring the bench's
        // drift_error fail-closed.
        (if (scale != 10 || opsOverride.nonEmpty) ""
         else if (prevProbeUs.isEmpty)
           s""" "probe_band_error": "previous 10x artifact missing or unparseable - cross-round us_per_row band did NOT run","""
         else s""" "us_per_row_flagged": [${
           usFlags.map("\"" + _._1 + "\"").mkString(", ")}],""") +
        (if (knngRecall.isEmpty) ""
         else knngRecall.map { case (k, r) => f""""k$k": $r%.3f""" }
           .mkString(" \"knng_recall\": {", ", ", "},")) +
        qualityFields +
        "\n  \"ops\": {\n",
      ",\n", "\n  }\n}\n")
    if (opsOverride.nonEmpty)
      println("SCALE override mode: artifact NOT written")
    else {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(artifactPath(scale)), json)
      println(s"SCALE wrote ${artifactPath(scale)}")
    }
    flagged.foreach { case (q, r) =>
      println(f"SCALE FRONTIER FLAG $q: ${r}%.1fx its 10x time (linear = ${scale / 10.0}%.1f)")
    }
    val regressions = if (scale != 10) Nil
      else results.flatMap { case (q, sec, _, _) =>
        prev.get(q).filter(p => p > 0 && sec / p > RegressionFactor)
          .map(p => f"$q: ${p}%.2f -> $sec%.2f s (${sec / p}%.1fx)")
      }
    spark.stop()
    if (regressions.nonEmpty) {
      regressions.foreach(r => println(s"SCALE REGRESSION $r"))
      sys.exit(1)
    }
  }

  /** Eval ops whose 1-row metrics output cannot express their workload
    * → the pair emitter whose output growth IS that workload (see the
    * flag computation). The proxy is forced into every frontier/100×
    * run set so its growth is measured in the same run. */
  private val workGrowthProxy = Map("dedup_eval" -> "dedup_ngram_jaccard")

  private def withProxies(ops0: Seq[String]): Seq[String] =
    (ops0 ++ ops0.flatMap(workGrowthProxy.get)).distinct

  /** Mechanism notes for flags the probe can still raise on ops whose
    * cost model carries a LEGITIMATE super-linear term under the
    * replica-built corpus — emitted into the artifact beside the flag
    * so a reader sees the adjudication where the number is, and a flag
    * without a note stays a loud unexplained regression. */
  private val flagNotes = Map(
    "pipeline_online" -> ("replica-clique pair physics: within-batch " +
      "minhash candidates grow ~(scale/10)^2 per clique under corpus " +
      "replication (real corpora do not grow clique size with corpus " +
      "size); linear stages dominate — check the 30x->100x trend is " +
      "sublinear before suspecting a plan change"),
    "pipeline_online_hybrid" -> ("same replica-clique pair physics as " +
      "pipeline_online, plus the SRP vector screen's band collisions " +
      "over exact-identical replica vectors"),
    "cluster_dbscan" -> ("replica-clique edge physics: the probe " +
      "replicates each embedding VERBATIM (vec_id offset only), so " +
      "every replica lands in every sibling's eps-ball and the " +
      "neighborhood edge list grows ~(scale/10)^2 per base vector " +
      "while output rows grow linearly; the banded screen emits " +
      "exactly those true pairs (they all share bands by identity), " +
      "so the growth is the result set's, not a plan regression — a " +
      "real corpus does not replicate vectors with the corpus size. " +
      "Check edges-per-point stays ~scale before suspecting the plan"))

  private val fullOps = Seq("dedup_exact", "dedup_minhash", "dedup_simhash",
    "dedup_ngram_jaccard", "dedup_embedding", "dedup_embedding_banded",
    "dedup_clusters", "dedup_containment", "dedup_edit_distance",
    "dedup_incremental", "sim_search_topk",
    "sim_search_ann", "sim_search_ivf", "text_analysis",
    "text_token_stats", "text_fingerprint", "text_unigram_logprob",
    "sample_hash", "dedup_lines", "pii_scrub", "pack_sequences",
    "dedup_spans", "sample_stratified", "tokenize_ids",
    "embedding_quantize", "embedding_pq",
    // url canon/caps, temperature resample, persisted
    // ANN index + ADC probes, cross-run stores, z-order rewrite
    "dedup_url", "sample_temperature", "sim_search_ivf_indexed",
    "sim_search_pq_adc", "decontaminate_incremental",
    "dedup_embedding_incremental", "stream_ann_probe",
    "pipeline_pretrain",
    // linear quality gate, per-stratum data card,
    // cluster-weighted soft dedup
    "quality_classifier", "corpus_report", "sample_cluster_weighted",
    "multimodal_resize", "text_bigram_logprob",
    // the tokenizer encode path + the B53 retrieval
    // family (chunking, lexical/hybrid retrieval, clustering, MRL)
    "tokenize_bpe_apply", "text_chunk", "search_bm25",
    "search_hybrid_rrf", "cluster_kmeans", "sim_search_matryoshka",
    "corpus_mixture_plan", "dedup_exact_incremental",
    "sim_search_ivfpq_indexed", "quality_classifier_train",
    "stream_bm25_probe", "cluster_topics",
    // the online ingest→dedup-stores→index→serve
    // capstone and the SemDeDup cluster-blocked embedding screen
    "pipeline_online", "dedup_semantic",
    // the AppendTable store fold + the hybrid online
    // capstone
    "maintenance_store_compact", "pipeline_online_hybrid",
    "maintenance_index_compact",
    // positional phrase retrieval, MoreLikeThis,
    // the cluster-blocked kNN graph build, chunk-granular passage
    // retrieval, the incremental data card. stream_topk is NOT probed —
    // like stream_upsert_sink it reads `events` (not in the probe
    // corpus) and its cost is trigger-count-dominated, not plan-bound
    "search_phrase", "search_mlt", "sim_knn_graph",
    "search_passage", "corpus_report_incremental", "graph_pagerank",
    "tokenize_report", "tokenize_vocab_coverage", "sample_quality_topk",
    "search_autocomplete",
    // the IVF posting-store fold (vector twin of
    // maintenance_index_compact), contrastive hard-negative mining,
    // snippet generation
    "maintenance_ivf_compact", "mine_hard_negatives", "search_snippet",
    "graph_label_prop", "sim_search_range", "search_spell",
    "search_boolean", "embedding_dim_stats", "sample_anneal",
    "corpus_drift", "graph_triangle_count", "dedup_bloom_screen",
    "sim_search_rerank_mmr", "tokenize_decode",
    "corpus_drift_incremental", "sim_knn_graph_incremental",
    "quality_classifier_eval", "sim_search_filtered",
    "sim_search_ivf_filtered", "search_facets", "search_prf",
    "multimodal_phash_dedup",
    "rank_eval", "multimodal_align", "search_bm25f", "pipeline_rag",
    "corpus_heavy_hitters", "dedup_eval",
    // the relational/stream wave
    // over the now-replicated events/orders/lineitem tables — sketch
    // aggs, the asof family, the CDC/SCD2 streaming folds, DPP, the
    // dynamic-overwrite sink, and the batch MERGE twin
    "agg_decimal", "agg_histogram", "agg_quantile_sketch",
    "quantile_sketch_incremental", "attribution", "retention_cohorts",
    "ts_gapfill", "join_asof_tolerance", "join_asof_nearest",
    "join_partition_pruned", "sink_dynamic_overwrite", "observe_metrics",
    "maintenance_stats_analyze", "stream_cdc_apply", "stream_scd2_apply",
    "stream_asof_enrich", "merge_into",
    // the no-equi-key range join — THE shape whose candidate count
    // must be probed at scale (bucket-locality bound, never |C|·|P|) —
    // and the char-entropy quality signal (a full char explode is the
    // widest fan-out in the text family: ~300× row expansion)
    "join_range_bucketed", "text_entropy", "sample_split",
    "corpus_length_histogram",
    // the CCNet perplexity-tercile gate — its tercile window is a
    // per-lang sort of ONE narrow row per doc, the shape to probe —
    // and the OHLC hour-bucket downsample (one partial-agg groupBy
    // over the replicated events table)
    "quality_perplexity", "ts_downsample",
    // the telemetry QA window pair (range-frame z-scores, the
    // sweep-line interval union) + gaps-and-islands streaks, the
    // surgical Bloom-pruned store purge, snapshot retention reads,
    // bounded BFS over the kNN graph, and the per-shard manifest
    // window (shard count is the deployment's parallelism knob — the
    // fixed-8 probe point stresses the within-shard rank)
    "ts_anomaly", "ts_interval_union", "win_streaks",
    "maintenance_purge_keys", "maintenance_time_travel",
    "graph_shortest_path", "sample_global_shuffle",
    // finite-K EWMA smoothing, bitmap-word exact
    // distinct, density clustering over the banded epsilon graph
    "ts_ewma", "agg_bitmap_distinct", "cluster_dbscan",
    "agg_bitmap_retention", "embedding_outlier_knn", "ts_cusum",
    "ts_acf", "embedding_drift", "agg_bitmap_funnel",
    "graph_k_core", "ts_seasonal_baseline")

  /** Previous committed per-op seconds, if an artifact exists. Tolerant
    * flat-regex parse — the file is machine-written by this object. */
  private def readPrev(path: String): Map[String, Double] = {
    val f = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.isRegularFile(f)) return Map.empty
    val txt = java.nio.file.Files.readString(f)
    """"([a-z0-9_]+)": \{"sec": ([0-9.]+)""".r.findAllMatchIn(txt)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  /** Per-op output row counts from a committed artifact — the
    * denominator of the output-growth allowance in the frontier flag. */
  private def readPrevRows(path: String): Map[String, Long] = {
    val f = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.isRegularFile(f)) return Map.empty
    val txt = java.nio.file.Files.readString(f)
    """"([a-z0-9_]+)": \{"sec": [0-9.]+, "rows": ([0-9]+)""".r
      .findAllMatchIn(txt)
      .map(m => m.group(1) -> m.group(2).toLong).toMap
  }
}
