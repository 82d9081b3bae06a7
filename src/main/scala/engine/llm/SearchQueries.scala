package engine.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import engine.Core.{t, r4}
import engine.Q
import TextFunctions._
import VectorFunctions._

/** Retrieval + corpus-structuring surface (SURVEY.md §2 B53): the
  * operators a RAG / pretraining-curation stack runs AROUND the dedup
  * and vector-search ladder that [[LlmQueries]]/[[CurateQueries]] carry —
  * document chunking, lexical (BM25) retrieval, hybrid lexical+vector
  * fusion, k-means corpus clustering, and the Matryoshka two-stage
  * (prefix-dim coarse → full-dim rerank) serving path.
  *
  * Generalizes the reference's retrieval surface (GetNmeaData
  * class.nmea.parser.php:369-371 — "hand back what was ingested") the
  * same way the B49 family does: retrieval over corpus-scale text and
  * vector columns instead of an in-memory array.
  *
  * Scale posture mirrors the house rules: query-side artifacts (query
  * term lists, query vectors, trained centroids) are bounded and ride
  * broadcasts; corpus-side frames shuffle only skinny derived keys
  * (term hashes, ids, micronat scores), never document text; every
  * scoring sum is an integer-micronat aggregation so it is order-free
  * and engine-portable (the text_unigram_logprob discipline).
  */
object SearchQueries {

  private def docs(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")

  // ------------------------------------------------------ B53a text_chunk
  /** Chunk window / stride (tokens). 32/24 gives 1-4 overlapping chunks
    * per driver-testdata doc (10-99 tokens); the 8-token overlap is the
    * context-continuity margin a RAG splitter keeps. */
  private val ChunkW = 32
  private val ChunkS = 24

  /** B53a: sliding token-window document chunking — the splitter that
    * feeds embedding / indexing jobs (RAG ingestion) and the
    * context-length packer. Chunk i of a doc covers tokens
    * [i·S, i·S + W); the last chunk starts at the last stride boundary
    * that still adds tokens, so every token lands in ≥ 1 chunk and no
    * chunk is empty.
    *
    * Pure per-row projection + bounded explode (fan-out = tokens/S, a
    * property of the document, not the corpus): no shuffle anywhere —
    * at 100 TB this is a map-only pass whose output partitioning
    * inherits the scan's, exactly what the downstream embedding UDF
    * wants. The final ORDER BY exists only for the oracle hash. */
  /** The chunk table (doc_id, chunk_id, cw: token array) — the body of
    * [[textChunk]], shared with the chunk-granular retriever
    * ([[searchPassage]]) so the two can never disagree on chunk
    * geometry. */
  private def chunkFrame(s: SparkSession, d: String): DataFrame = {
    val tk = docs(s, d)
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .withColumn("n", size(col("w")))
    // last chunk index = ceil((n-W)/S) = (n - W + S - 1) div S for
    // n > W; 0 otherwise. Ints are tiny, so the double division under
    // floor() is exact.
    val lastIdx = when(col("n") <= ChunkW, lit(0)).otherwise(
      floor((col("n") - lit(ChunkW) + lit(ChunkS - 1)) / lit(ChunkS))
        .cast("int"))
    tk.select(col("doc_id"), col("w"),
        explode(sequence(lit(0), lastIdx)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        slice(col("w"), col("chunk_id") * lit(ChunkS) + lit(1),
          lit(ChunkW)).as("cw"))
  }

  private val textChunk = Q(
    (s, d) => chunkFrame(s, d)
      .select(col("doc_id"), col("chunk_id"),
        size(col("cw")).as("n_tok"),
        array_join(col("cw"), " ").as("chunk"))
      .orderBy("doc_id", "chunk_id"),
    Some(s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') w
               FROM documents),
      nn AS (SELECT doc_id, w, len(w) n FROM tok),
      ch AS (SELECT doc_id, w, unnest(generate_series(0,
               CASE WHEN n <= $ChunkW THEN 0
                 ELSE (n - $ChunkW + ${ChunkS - 1}) // $ChunkS END)) chunk_id
             FROM nn)
      SELECT doc_id, chunk_id,
        len(w[chunk_id*$ChunkS+1 : chunk_id*$ChunkS+$ChunkW]) AS n_tok,
        array_to_string(w[chunk_id*$ChunkS+1 : chunk_id*$ChunkS+$ChunkW],
          ' ') AS chunk
      FROM ch ORDER BY doc_id, chunk_id"""))

  // ----------------------------------------------------- B53b search_bm25
  /** BM25 parameters (the Robertson/Lucene defaults) and the retrieval
    * depth. Written as literal doubles on BOTH engines so the constant
    * folding is bit-identical. */
  private val Bm25K1 = "1.2"
  private val Bm25B = "0.75"
  private val Bm25TopK = 10

  /** The corpus posting table (doc_id, term, tf, dl), built once per
    * corpus and session-cached — the inverted-index base every lexical
    * consumer (search_bm25, search_hybrid_rrf) shares. dl rides each
    * posting via a window over the groupBy's own doc grouping (one
    * exchange; a separate length agg + join would pay a second
    * shuffle). Its 9 consumer ops' summed `t1`: 28.0 s cached, 35.2 s
    * without (sf0.1, 4 cores, medians of 3 Bench runs). */
  private def bm25Postings(docsDf: DataFrame,
      cacheKey: Option[String]): DataFrame = {
    val base = docsDf
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("dl",
        sum(col("tf")).over(Window.partitionBy(col("doc_id"))))
    cacheKey.fold(base)(k => engine.ScratchCache.persistKeyed(k)(base))
  }

  /** The BM25 scoring pipeline to ranked top-k, shared by [[searchBm25]]
    * and [[searchHybridRrf]]. Queries are the first five documents (the
    * id < 5 convention of the vector ladder); a query contributes
    * each of its DISTINCT terms once (the standard bag-of-query-terms
    * form with query-side tf = 1).
    *
    * Per-term partial = idf(t) · tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)),
    * quantized to an integer micronat-style 1e-6 grid BEFORE the
    * per-(query, doc) sum — the sum is over integers, so it is
    * order-free across partitions and bit-identical in DuckDB.
    *
    * Shape at 100 TB: postings restricted to query terms FIRST (an
    * equi-join against the ≤ queries × query-length broadcast term
    * list), then df/glob attach as broadcasts — the only corpus-scale
    * exchanges are the posting build (one shuffle on (doc_id, term))
    * and the (qid, cid) score aggregation, which is bounded by matches,
    * not by |corpus| × |queries|. */
  private[engine] def bm25TopK(docsDf: DataFrame,
      cacheKey: Option[String] = None): DataFrame = {
    val posts = bm25Postings(docsDf, cacheKey)
    val dfs = posts.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val glob = posts.groupBy(col("doc_id")).agg(first(col("dl")).as("dl"))
      .agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val qt = posts.filter(col("doc_id") < 5)
      .select(col("doc_id").as("qid"), col("term"))
    // df of query terms only — the broadcastable slice of the vocabulary
    val qdf = dfs.join(qt.select(col("term")).distinct(), "term")
    bm25Rank(posts, qt, qdf, glob)
  }

  /** Session-keyed lexical top-10 — (qid, cid, rank) of [[bm25TopK]]
    * over the standard id < 5 queries. The multi-arm consumers
    * (search_hybrid_rrf's lexical arm, rank_eval, pipeline_rag via the
    * hybrid) each re-ran the posting-restriction ranking join per run
    * even though the posting table itself was session-keyed; the ranked
    * slice is ≤ queries × k rows, one frame further down the chain from
    * bm25posts. search_bm25 / search_bm25f / the
    * streaming probe deliberately do NOT read this: each declared
    * lexical query still computes its own serve. With [[cosTopKeyed]]
    * it serves pipeline_rag, rank_eval and search_hybrid_rrf: summed
    * `t1` 5.8 s cached, 15.0 s without the two (sf0.1, 4 cores, medians
    * of 3 Bench runs). */
  private def bm25TopKeyed(s: SparkSession, d: String): DataFrame =
    engine.ScratchCache.persistKeyed(
      engine.Core.fpKey("bm25top", d, "documents"))(
      bm25TopK(docs(s, d),
        Some(engine.Core.fpKey("bm25posts", d, "documents")))
        .select(col("qid"), col("cid"), col("rank")))

  /** Session-keyed exact-cosine top-10 — (qid, cid, vr) over the id < 5
    * queries of [[LlmQueries.unitCorpus]], ordering (cos desc, cid).
    * Shared by search_hybrid_rrf's vector arm and rank_eval's ground
    * truth (its top-5 is this frame's vr <= 5 prefix — identical
    * ordering); sim_search_topk, the declared exact-rank query, still
    * computes its own. Its readers' summed `t1` (with [[bm25TopKeyed]]):
    * 5.8 s cached, 15.0 s without (sf0.1, 4 cores, medians of 3). */
  private def cosTopKeyed(s: SparkSession, d: String): DataFrame =
    engine.ScratchCache.persistKeyed(
      engine.Core.fpKey("costop", d, "embeddings")) {
      val e = LlmQueries.unitCorpus(s, d)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("u").as("qu"))
      e.join(broadcast(q), col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("cid"),
          dot(col("qu"), col("u")).as("cos"))
        .withColumn("vr", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("cos").desc, col("cid"))))
        .filter(col("vr") <= Bm25TopK)
        .select(col("qid"), col("cid"), col("vr"))
    }

  /** The per-term BM25 micronat partial over a joined frame exposing
    * (tf, df, dl, n_docs, avgdl). Literal doubles mirror the oracle's
    * $k1::DOUBLE / $b::DOUBLE casts (1.2 / 0.75 parse to the identical
    * nearest-double in both engines). */
  private def bm25Micronat: Column = {
    // derived from the SAME string constants the oracle interpolates —
    // hard-coded twins silently desynchronize if one side is tuned
    // (r12 advisor); toDouble of "1.2"/"0.75" is the exact literal value
    val k1 = lit(Bm25K1.toDouble); val b = lit(Bm25B.toDouble)
    val idf = log(lit(1.0) +
      ((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    val tfw = (col("tf") * (k1 + lit(1.0))) /
      (col("tf") + k1 * (lit(1.0) - b + b * col("dl") / col("avgdl")))
    round(idf * tfw * lit(1e6), 0).cast("long")
  }

  /** THE BM25 scoring join — shared by the batch ranker and the
    * streaming probe so a scoring change can never diverge them:
    * postings restricted to the broadcast query-term list, df/stats as
    * broadcasts, micronat partials integer-summed per (qid, cid),
    * tie-broken dense top-[[Bm25TopK]]. `posts` must expose (doc_id,
    * term, tf, dl); `qt` (qid, term) distinct; `qdf` (term, df) for the
    * query-term slice; `glob` the 1-row (n_docs, avgdl). */
  private def bm25Rank(posts: DataFrame, qt: DataFrame, qdf: DataFrame,
      glob: DataFrame): DataFrame =
    posts.join(broadcast(qt), "term")
      .filter(col("doc_id") =!= col("qid"))
      .join(broadcast(qdf), "term")
      .crossJoin(broadcast(glob))
      .select(col("qid"), col("doc_id").as("cid"), bm25Micronat.as("m"))
      .groupBy(col("qid"), col("cid")).agg(sum(col("m")).as("ms"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("ms").desc, col("cid"))))
      .filter(col("rank") <= Bm25TopK)

  /** The BM25 chain as oracle CTEs ending in
    * `ltop(qid, cid, ms, rank)` — appended after a WITH opener. `qPred`
    * selects the query documents (batch rankers use the id < 5
    * convention; the streaming probe serves ids < 40). */
  private def bm25SqlCtes(qPred: String = "doc_id < 5",
      src: String = "documents"): String = s""",
      bposts AS (SELECT doc_id, term, count(*) tf
                 FROM (SELECT doc_id, unnest(string_split(text, ' ')) term
                       FROM $src)
                 GROUP BY 1, 2),
      bpdl AS (SELECT doc_id, term, tf,
                 sum(tf) OVER (PARTITION BY doc_id) dl FROM bposts),
      bdfs AS (SELECT term, count(*) df FROM bposts GROUP BY 1),
      bglob AS (SELECT count(*) n_docs, avg(dl) avgdl
                FROM (SELECT doc_id, any_value(dl) dl FROM bpdl
                      GROUP BY 1)),
      bqt AS (SELECT doc_id qid, term FROM bposts WHERE $qPred),
      bsc AS (SELECT q.qid, p.doc_id cid,
               CAST(round(
                 ln(1.0 + ((g.n_docs - f.df)::DOUBLE + 0.5) /
                   (f.df::DOUBLE + 0.5)) *
                 ((p.tf * ($Bm25K1::DOUBLE + 1.0)) /
                  (p.tf + $Bm25K1::DOUBLE *
                    (1.0 - $Bm25B::DOUBLE +
                     $Bm25B::DOUBLE * p.dl / g.avgdl))) * 1e6, 0)
                 AS BIGINT) m
              FROM bpdl p JOIN bqt q
                ON p.term = q.term AND p.doc_id <> q.qid
              JOIN bdfs f ON f.term = p.term
              CROSS JOIN bglob g),
      bagg AS (SELECT qid, cid, sum(m) ms FROM bsc GROUP BY 1, 2),
      ltop AS (SELECT qid, cid, ms,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY ms DESC, cid) rank
               FROM bagg QUALIFY rank <= $Bm25TopK)"""

  /** B53b: BM25 top-k lexical retrieval over the corpus posting table —
    * the keyword half of a hybrid retrieval stack. */
  private val searchBm25 = Q(
    (s, d) => bm25TopK(docs(s, d), Some(engine.Core.fpKey("bm25posts", d, "documents")))
      .select(col("qid"), col("cid"), col("rank"),
        r4(col("ms") / lit(1e6)).as("score"))
      .orderBy("qid", "rank"),
    Some(("WITH " + bm25SqlCtes().trim.stripPrefix(",")) + s"""
      SELECT qid, cid, rank, round(ms::DOUBLE / 1e6, 4) AS score
      FROM ltop ORDER BY qid, rank"""))

  // -------------------------------------------------- B53q search_facets
  /** B53v: FACETED result aggregation — the navigation rail beside the
    * ranked list: per query, the BM25 top-[[Bm25TopK]] candidates
    * rolled up by (lang, source) with a hit count and the facet's best
    * rank (what orders facet values in the UI). Facets are an
    * AGGREGATION over the match set, not a filter — the complement of
    * [[searchBoolean]]'s MUST/MUST_NOT, and the other half of every
    * retrieval serving API (Lucene facets / Elasticsearch aggs).
    *
    * Shape: the expensive work is the shared [[bm25TopK]] chain
    * (session-keyed postings, match-bounded agg); faceting itself
    * joins the ≤ queries × k candidate frame to the docs' metadata
    * columns (a broadcast of the candidate ids into the metadata scan
    * at 100 TB — never the reverse) and aggregates queries × facets
    * rows. */
  private val searchFacets = Q(
    (s, d) => {
      val top = bm25TopK(docs(s, d),
        Some(engine.Core.fpKey("bm25posts", d, "documents")))
        .select(col("qid"), col("cid"), col("rank"))
      val meta = docs(s, d).select(col("doc_id").as("cid"), col("lang"),
        col("source"))
      top.join(meta, "cid")
        .groupBy(col("qid"), col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"), min(col("rank")).as("best_rank"))
        .orderBy("qid", "lang", "source")
    },
    Some(("WITH " + bm25SqlCtes().trim.stripPrefix(",")) + s""",
      fmeta AS (SELECT doc_id AS cid, lang, source FROM documents)
      SELECT t.qid, m.lang, m.source, count(*) AS n_docs,
        min(t.rank) AS best_rank
      FROM ltop t JOIN fmeta m USING (cid)
      GROUP BY 1, 2, 3 ORDER BY qid, lang, source"""))

  // --------------------------------------------------- B53j search_phrase
  /** Phrase window width (tokens). 2 is the testdata operating point:
    * the driver corpus's ~30-word vocabulary makes longer literal
    * phrases vanishingly rare (a leading 3-gram matches ≤ 2 docs at
    * sf0.01, and two query docs match nothing), while leading bigrams
    * match ~28 docs per query — the regime where positional RANKING is
    * actually exercised. The width is semantic, not structural: any
    * value ≥ 2 runs the same plan. */
  private val PhraseW = 2

  /** B53j: exact PHRASE retrieval — each query doc's LEADING
    * [[PhraseW]]-token phrase searched against the corpus at phrase
    * granularity, ranked by phrase term frequency (occurrence count).
    * The positional query BM25's bag-of-terms scoring cannot express —
    * "new york" as a unit, not `new AND york` — and the retrieval twin
    * of dedup_spans: the identical stride-1 token-window hashing
    * ([[TokenWindowHash]]), pointed at serving instead of dedup.
    * Generalizes the reference's substring-match retrieval intent
    * (GetNmeaData class.nmea.parser.php:369-371 hands back sentences
    * matched by exact key) to corpus-scale positional text search.
    *
    * Shape at 100 TB: windows hash per doc inside the codegen'd
    * expression (window TEXT never leaves the row — only 60-bit hashes
    * explode); the query-phrase set (≤ |queries| rows) broadcasts, so
    * the corpus posting stream filters map-side and the only
    * aggregation exchange carries (qid, cid, count) match rows —
    * bounded by phrase MATCHES, not by the corpus. A 100 TB corpus with
    * selective phrases shuffles almost nothing. */
  private val searchPhrase = Q(
    (s, d) => {
      val wh = docs(s, d).select(col("doc_id"),
        posexplode(TokenWindowHash(tokens(col("text")),
          PhraseW, 1, tail = false, 15)).as(Seq("p", "h")))
      val qp = wh.filter(col("doc_id") < 5 && col("p") === 0)
        .select(col("doc_id").as("qid"), col("h"))
      wh.join(broadcast(qp), "h")
        .filter(col("doc_id") =!= col("qid"))
        .groupBy(col("qid"), col("doc_id"))
        .agg(count(lit(1)).as("ptf"))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("ptf").desc, col("doc_id"))))
        .filter(col("rank") <= Bm25TopK)
        .select(col("qid"), col("doc_id").as("cid"), col("rank"),
          col("ptf"))
        .orderBy("qid", "rank")
    },
    Some(s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') w
               FROM documents),
      pwin AS (SELECT doc_id,
          unnest(CASE WHEN len(w) >= $PhraseW
                 THEN generate_series(0, len(w) - $PhraseW) ELSE [0] END) AS p,
          unnest(CASE WHEN len(w) >= $PhraseW
                 THEN list_transform(generate_series(0, len(w) - $PhraseW),
                   i -> array_to_string(w[i+1 : i+$PhraseW], ' '))
                 ELSE [array_to_string(w, ' ')] END) AS win
        FROM tok),
      pwh AS (SELECT doc_id, p,
               ('0x' || substr(md5(win), 1, 15))::BIGINT AS h FROM pwin),
      pqp AS (SELECT doc_id qid, h FROM pwh WHERE doc_id < 5 AND p = 0),
      pm AS (SELECT q.qid, w.doc_id cid, count(*) AS ptf
             FROM pwh w JOIN pqp q ON w.h = q.h AND w.doc_id <> q.qid
             GROUP BY 1, 2)
      SELECT qid, cid,
        row_number() OVER (PARTITION BY qid ORDER BY ptf DESC, cid) AS rank,
        ptf
      FROM pm QUALIFY rank <= $Bm25TopK ORDER BY qid, rank"""))

  // ------------------------------------------------------ B53k search_mlt
  /** Query-doc terms an MLT query keeps (by tf·idf). */
  private val MltM = 5

  /** B53k: "more-like-this" retrieval — find documents similar to a
    * given one by extracting its top-[[MltM]] terms by tf·idf and
    * running THOSE as a BM25 query (the Lucene MoreLikeThis shape).
    * Where search_bm25 scores ALL of a query doc's distinct terms, MLT
    * selects the doc's most DISCRIMINATIVE terms first — at web scale
    * the difference between a 5-term index probe and a 100-term one,
    * and the operator behind every "related documents" panel.
    *
    * Term selection score = tf(q,t) · idf(t) (the Lucene MLT ranking),
    * micronat-quantized BEFORE the rank so the selected term set is
    * bit-identical in the oracle. Scoring then reuses [[bm25Rank]] —
    * THE scoring join of the lexical family — so MLT can never diverge
    * from search_bm25 semantics.
    *
    * Shape at 100 TB: term selection touches only the query docs'
    * postings (≤ queries × doc-length rows) joined against the
    * query-term df slice — all broadcast-sized; the corpus-scale
    * work is the shared posting build (session-keyed, one shuffle,
    * amortized across the lexical family) and the match-bounded
    * scoring agg, identical to search_bm25's posture. */
  private val searchMlt = Q(
    (s, d) => {
      val posts = bm25Postings(docs(s, d),
        Some(engine.Core.fpKey("bm25posts", d, "documents")))
      val dfs = posts.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val glob = posts.groupBy(col("doc_id")).agg(first(col("dl")).as("dl"))
        .agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
      val qposts = posts.filter(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), col("term"), col("tf"))
      // df slice of the query docs' vocabulary — broadcastable by
      // construction (≤ queries × doc length terms)
      val qdf0 = dfs.join(broadcast(qposts.select(col("term")).distinct()),
        "term")
      val idf = log(lit(1.0) +
        ((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5)))
      val mqt = qposts.join(broadcast(qdf0), "term")
        .crossJoin(broadcast(glob))
        .select(col("qid"), col("term"),
          round(col("tf") * idf * lit(1e6), 0).cast("long").as("ts"))
        .withColumn("trank", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("ts").desc, col("term"))))
        .filter(col("trank") <= MltM)
        .select(col("qid"), col("term"))
      val mdf = dfs.join(broadcast(mqt.select(col("term")).distinct()),
        "term")
      bm25Rank(posts, mqt, mdf, glob)
        .select(col("qid"), col("cid"), col("rank"),
          r4(col("ms") / lit(1e6)).as("score"))
        .orderBy("qid", "rank")
    },
    Some(("WITH " + bm25SqlCtes().trim.stripPrefix(",")) + s""",
      mq0 AS (SELECT doc_id qid, term, tf FROM bpdl WHERE doc_id < 5),
      msel AS (SELECT q.qid, q.term,
                CAST(round(q.tf * ln(1.0 +
                  ((g.n_docs - f.df)::DOUBLE + 0.5) /
                  (f.df::DOUBLE + 0.5)) * 1e6, 0) AS BIGINT) ts
               FROM mq0 q JOIN bdfs f USING (term) CROSS JOIN bglob g),
      mqt AS (SELECT qid, term,
                row_number() OVER (PARTITION BY qid
                  ORDER BY ts DESC, term) trank
              FROM msel QUALIFY trank <= $MltM),
      msc AS (SELECT q.qid, p.doc_id cid,
               CAST(round(
                 ln(1.0 + ((g.n_docs - f.df)::DOUBLE + 0.5) /
                   (f.df::DOUBLE + 0.5)) *
                 ((p.tf * ($Bm25K1::DOUBLE + 1.0)) /
                  (p.tf + $Bm25K1::DOUBLE *
                    (1.0 - $Bm25B::DOUBLE +
                     $Bm25B::DOUBLE * p.dl / g.avgdl))) * 1e6, 0)
                 AS BIGINT) m
              FROM bpdl p JOIN mqt q
                ON p.term = q.term AND p.doc_id <> q.qid
              JOIN bdfs f ON f.term = p.term
              CROSS JOIN bglob g),
      magg AS (SELECT qid, cid, sum(m) ms FROM msc GROUP BY 1, 2),
      mtop AS (SELECT qid, cid, ms,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY ms DESC, cid) rank
               FROM magg QUALIFY rank <= $Bm25TopK)
      SELECT qid, cid, rank, round(ms::DOUBLE / 1e6, 4) AS score
      FROM mtop ORDER BY qid, rank"""))

  // ------------------------------------------------- B53n search_boolean
  /** AND-set size for boolean retrieval. */
  private val BoolM = 3

  /** B53u: BOOLEAN retrieval — conjunctive (`AND`) posting-list
    * intersection with a `NOT` screen, the query algebra ranked
    * retrieval sits on (Lucene's BooleanQuery MUST/MUST_NOT): a doc
    * matches iff it contains ALL [[BoolM]] of the query's top-tf·idf
    * terms ([[searchMlt]]'s selection, micronat-quantized) and NOT the
    * query's least-discriminative term. Each match carries the summed
    * occurrence count of its AND terms — exact integers, no float
    * discipline.
    *
    * Shape at 100 TB: intersection-by-counting — the corpus posting
    * stream filters map-side against the broadcast AND set, and the
    * only exchange carries (qid, doc_id) match rows aggregated to
    * `count == M` (bounded by the RAREST term's postings, the boolean
    * planner's classic bound); the NOT screen is a per-query anti-join
    * against one term's postings. No corpus text rides any shuffle. */
  private val searchBoolean = Q(
    (s, d) => {
      val posts = bm25Postings(docs(s, d),
        Some(engine.Core.fpKey("bm25posts", d, "documents")))
      val dfs = posts.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val glob = posts.groupBy(col("doc_id")).agg(first(col("dl")).as("dl"))
        .agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
      val qposts = posts.filter(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), col("term"), col("tf"))
      val qdf0 = dfs.join(broadcast(qposts.select(col("term")).distinct()),
        "term")
      val idf = log(lit(1.0) +
        ((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5)))
      val ranked = qposts.join(broadcast(qdf0), "term")
        .crossJoin(broadcast(glob))
        .select(col("qid"), col("term"),
          round(col("tf") * idf * lit(1e6), 0).cast("long").as("ts"))
        .withColumn("trank", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("ts").desc, col("term"))))
        .withColumn("nterms", count(lit(1)).over(
          Window.partitionBy(col("qid"))))
      val qand = ranked.filter(col("trank") <= BoolM)
        .select(col("qid"), col("term"))
      val qnot = ranked.filter(col("trank") === col("nterms"))
        .select(col("qid"), col("term"))
      val matched = posts.join(broadcast(qand), "term")
        .filter(col("doc_id") =!= col("qid"))
        .groupBy(col("qid"), col("doc_id"))
        .agg(count(lit(1)).as("nm"), sum(col("tf")).as("and_tf"))
        .filter(col("nm") === BoolM)
      val neg = posts.join(broadcast(qnot), "term")
        .select(col("qid"), col("doc_id"))
      matched.join(neg, Seq("qid", "doc_id"), "left_anti")
        .select(col("qid"), col("doc_id"), col("and_tf"))
        .orderBy("qid", "doc_id")
    },
    Some(("WITH " + bm25SqlCtes().trim.stripPrefix(",")) + s""",
      xq0 AS (SELECT doc_id qid, term, tf FROM bpdl WHERE doc_id < 5),
      xsel AS (SELECT q.qid, q.term,
                CAST(round(q.tf * ln(1.0 +
                  ((g.n_docs - f.df)::DOUBLE + 0.5) /
                  (f.df::DOUBLE + 0.5)) * 1e6, 0) AS BIGINT) ts
               FROM xq0 q JOIN bdfs f USING (term) CROSS JOIN bglob g),
      xrk AS (SELECT qid, term,
                row_number() OVER (PARTITION BY qid
                  ORDER BY ts DESC, term) trank,
                count(*) OVER (PARTITION BY qid) nterms
              FROM xsel),
      xand AS (SELECT qid, term FROM xrk WHERE trank <= $BoolM),
      xnot AS (SELECT qid, term FROM xrk WHERE trank = nterms),
      xmatch AS (SELECT q.qid, p.doc_id, sum(p.tf)::BIGINT AS and_tf
                 FROM bpdl p JOIN xand q
                   ON p.term = q.term AND p.doc_id <> q.qid
                 GROUP BY 1, 2 HAVING count(*) = $BoolM),
      xneg AS (SELECT n.qid, p.doc_id FROM bpdl p JOIN xnot n USING (term))
      SELECT m.qid, m.doc_id, m.and_tf FROM xmatch m
      ANTI JOIN xneg g ON g.qid = m.qid AND g.doc_id = m.doc_id
      ORDER BY m.qid, m.doc_id"""))

  // -------------------------------------------------- B53p search_snippet
  /** Query terms kept for snippet retrieval (3, not [[MltM]]'s 5: the
    * 30-word testdata vocabulary makes wider term sets match nearly
    * every position, degenerating the window argmax) / snippet window
    * width in tokens / candidate docs per query. */
  private val SnipM = 3

  /** The best-window highlight stage over an arbitrary candidate frame
    * (qid, cid, rank) with query terms (qid, term) — shared by
    * search_snippet (BM25 candidates) and pipeline_rag (hybrid
    * candidates), so retrieval and highlighting can never drift. Both
    * inputs must already be persisted (they are referenced by several
    * broadcast subtrees). The optimal window can always start AT a
    * matched position, so the argmax enumerates matched starts only —
    * O(matches²) per candidate, never O(doc_len²); everything here is
    * ≤ queries × candidates × matches rows. */
  private def snippetStage(s: SparkSession, d: String,
      top: DataFrame, sqt: DataFrame): DataFrame = {
    val mpos = engine.ScratchCache.persist(docs(s, d)
      .join(broadcast(top.select(col("cid").as("doc_id")).distinct()),
        Seq("doc_id"), "leftsemi")
      .select(col("doc_id").as("cid"),
        posexplode(tokens(col("text"))).as(Seq("p", "term")))
      .join(broadcast(top), Seq("cid"))
      .join(broadcast(sqt), Seq("qid", "term"))
      .select(col("qid"), col("cid"), col("rank"), col("p")))
    val hits = mpos.as("a").join(mpos.as("b"),
        col("a.qid") === col("b.qid") && col("a.cid") === col("b.cid") &&
          col("b.p") >= col("a.p") && col("b.p") < col("a.p") + SnipW)
      .groupBy(col("a.qid").as("qid"), col("a.cid").as("cid"),
        col("a.rank").as("rank"), col("a.p").as("p"))
      .agg(count(lit(1)).as("h"))
    val best = hits.withColumn("brk", row_number().over(
        Window.partitionBy(col("qid"), col("cid"))
          .orderBy(col("h").desc, col("p"))))
      .filter(col("brk") === 1)
    best.join(docs(s, d).select(col("doc_id").as("cid"), col("text")),
        Seq("cid"))
      .select(col("qid"), col("cid"), col("rank"),
        col("p").cast("int").as("snip_start"),
        col("h").cast("long").as("snip_hits"),
        concat_ws(" ", slice(tokens(col("text")),
          col("p").cast("int") + lit(1), lit(SnipW))).as("snippet"))
      .orderBy("qid", "rank")
  }
  private val SnipW = 10
  private val SnipTop = 3

  /** B53p: SNIPPET (highlight) generation — the serving step after
    * ranking that every search UI runs: for each of the query's
    * top-[[SnipTop]] BM25 candidates, the best [[SnipW]]-token window
    * — the one containing the most query-term occurrences (ties → the
    * earliest window), emitted with its start, hit count, and text.
    * Query terms are the top-[[SnipM]] tf·idf terms of the query doc
    * (the [[searchMlt]] selection — selective enough to make the
    * window argmax meaningful). The optimal window can always start AT
    * a matched position (shifting a window right to its first hit
    * keeps every hit), so the argmax enumerates matched starts only —
    * O(matches²) per candidate, never O(doc_len²).
    *
    * Shape at 100 TB: ranking is the shared posting-table BM25; the
    * snippet stage touches ONLY the ≤ queries × [[SnipTop]] candidate
    * docs (broadcast ids restrict the token explode), so its cost is
    * serving-bounded, not corpus-bounded. */
  private val searchSnippet = Q(
    (s, d) => {
      val posts = bm25Postings(docs(s, d),
        Some(engine.Core.fpKey("bm25posts", d, "documents")))
      // dfs/glob/sqt/top are each referenced by several broadcast
      // subtrees; persisted so the duplicated subplans don't re-execute
      // per reference (the searchPrf stage-count lesson — all frames
      // here are vocabulary- or serving-scale, never corpus-scale)
      val dfs = engine.ScratchCache.persist(
        posts.groupBy(col("term")).agg(count(lit(1)).as("df")))
      val glob = engine.ScratchCache.persist(
        posts.groupBy(col("doc_id")).agg(first(col("dl")).as("dl"))
          .agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl")))
      val qposts = posts.filter(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), col("term"), col("tf"))
      val qdf0 = dfs.join(broadcast(qposts.select(col("term")).distinct()),
        "term")
      val idf = log(lit(1.0) +
        ((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5)))
      val sqt = engine.ScratchCache.persist(
        qposts.join(broadcast(qdf0), "term")
          .crossJoin(broadcast(glob))
          .select(col("qid"), col("term"),
            round(col("tf") * idf * lit(1e6), 0).cast("long").as("ts"))
          .withColumn("trank", row_number().over(
            Window.partitionBy(col("qid"))
              .orderBy(col("ts").desc, col("term"))))
          .filter(col("trank") <= SnipM)
          .select(col("qid"), col("term")))
      val sdf = dfs.join(broadcast(sqt.select(col("term")).distinct()),
        "term")
      val top = engine.ScratchCache.persist(
        bm25Rank(posts, sqt, sdf, glob)
          .filter(col("rank") <= SnipTop)
          .select(col("qid"), col("cid"), col("rank")))
      snippetStage(s, d, top, sqt)
    },
    Some(("WITH " + bm25SqlCtes().trim.stripPrefix(",")) + s""",
      ntok AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
      nq0 AS (SELECT doc_id qid, term, tf FROM bpdl WHERE doc_id < 5),
      nsel AS (SELECT q.qid, q.term,
                CAST(round(q.tf * ln(1.0 +
                  ((g.n_docs - f.df)::DOUBLE + 0.5) /
                  (f.df::DOUBLE + 0.5)) * 1e6, 0) AS BIGINT) ts
               FROM nq0 q JOIN bdfs f USING (term) CROSS JOIN bglob g),
      nqt AS (SELECT qid, term,
                row_number() OVER (PARTITION BY qid
                  ORDER BY ts DESC, term) trank
              FROM nsel QUALIFY trank <= $SnipM),
      nsc AS (SELECT q.qid, p.doc_id cid,
               CAST(round(
                 ln(1.0 + ((g.n_docs - f.df)::DOUBLE + 0.5) /
                   (f.df::DOUBLE + 0.5)) *
                 ((p.tf * ($Bm25K1::DOUBLE + 1.0)) /
                  (p.tf + $Bm25K1::DOUBLE *
                    (1.0 - $Bm25B::DOUBLE +
                     $Bm25B::DOUBLE * p.dl / g.avgdl))) * 1e6, 0)
                 AS BIGINT) m
              FROM bpdl p JOIN nqt q
                ON p.term = q.term AND p.doc_id <> q.qid
              JOIN bdfs f ON f.term = p.term
              CROSS JOIN bglob g),
      nagg AS (SELECT qid, cid, sum(m) ms FROM nsc GROUP BY 1, 2),
      nrk AS (SELECT qid, cid,
                row_number() OVER (PARTITION BY qid
                  ORDER BY ms DESC, cid) rank
              FROM nagg QUALIFY rank <= $SnipTop),
      ntk AS (SELECT doc_id cid,
                unnest(generate_series(1, len(w))) - 1 AS p,
                unnest(w) AS term
              FROM ntok WHERE doc_id IN (SELECT cid FROM nrk)),
      nmp AS (SELECT r.qid, t.cid, r.rank, t.p
              FROM ntk t JOIN nrk r ON r.cid = t.cid
              JOIN nqt q ON q.qid = r.qid AND q.term = t.term),
      nh AS (SELECT a.qid, a.cid, a.rank, a.p, count(*) h
             FROM nmp a JOIN nmp b ON a.qid = b.qid AND a.cid = b.cid
               AND b.p >= a.p AND b.p < a.p + $SnipW
             GROUP BY 1, 2, 3, 4),
      nb AS (SELECT qid, cid, rank, p, h,
              row_number() OVER (PARTITION BY qid, cid
                ORDER BY h DESC, p) brk
             FROM nh QUALIFY brk = 1)
      SELECT nb.qid, nb.cid, nb.rank, CAST(nb.p AS INT) AS snip_start,
        nb.h::BIGINT AS snip_hits,
        array_to_string(ntok.w[nb.p + 1 : nb.p + $SnipW], ' ') AS snippet
      FROM nb JOIN ntok ON ntok.doc_id = nb.cid
      ORDER BY nb.qid, nb.rank"""))

  // -------------------------------------------------- B53m search_passage
  /** B53m: chunk-granular PASSAGE retrieval — the RAG serving shape:
    * BM25 over the [[chunkFrame]] chunk table (each chunk scored as its
    * own retrieval unit, with chunk-level df / length stats), then each
    * candidate DOC reduced to its best-scoring passage and docs ranked
    * by that passage score. What a RAG stack actually serves: the
    * passage to stuff into context, found without whole-doc length
    * dilution (a 10-page doc with one relevant paragraph outranks a
    * diffusely-relevant one). Composes the EXACT chunk geometry of
    * text_chunk — the shared builder makes retriever/splitter drift
    * impossible.
    *
    * Shape at 100 TB: chunk posting build = one shuffle on
    * ((doc, chunk), term) — same order as the doc posting build since
    * chunks partition tokens (the ~1.33× overlap factor is the W/S
    * stride overlap, a constant); query terms/df/stats ride broadcasts
    * exactly like search_bm25; the per-(query, doc) best-passage rank
    * and final top-k are match-bounded WindowGroupLimit heaps. */
  private val searchPassage = Q(
    (s, d) => {
      val posts = engine.ScratchCache.persist(
        chunkFrame(s, d)
          .select(col("doc_id"), col("chunk_id"),
            explode(col("cw")).as("term"))
          .groupBy(col("doc_id"), col("chunk_id"), col("term"))
          .agg(count(lit(1)).as("tf"))
          .withColumn("dl", sum(col("tf")).over(
            Window.partitionBy(col("doc_id"), col("chunk_id")))))
      val dfs = posts.groupBy(col("term")).agg(count(lit(1)).as("df"))
      // "docs" of this index are chunks: n_docs/avgdl are chunk count
      // and mean chunk length, so bm25Micronat reads them unchanged
      val glob = posts.groupBy(col("doc_id"), col("chunk_id"))
        .agg(first(col("dl")).as("dl"))
        .agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
      val qt = docs(s, d).filter(col("doc_id") < 5)
        .select(col("doc_id").as("qid"),
          explode(tokens(col("text"))).as("term")).distinct()
      val qdf = dfs.join(broadcast(qt.select(col("term")).distinct()),
        "term")
      val scored = posts.join(broadcast(qt), "term")
        .filter(col("doc_id") =!= col("qid"))
        .join(broadcast(qdf), "term")
        .crossJoin(broadcast(glob))
        .select(col("qid"), col("doc_id").as("cid"), col("chunk_id"),
          bm25Micronat.as("m"))
        .groupBy(col("qid"), col("cid"), col("chunk_id"))
        .agg(sum(col("m")).as("ms"))
      scored.withColumn("br", row_number().over(
          Window.partitionBy(col("qid"), col("cid"))
            .orderBy(col("ms").desc, col("chunk_id"))))
        .filter(col("br") === 1)
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("ms").desc, col("cid"))))
        .filter(col("rank") <= Bm25TopK)
        .select(col("qid"), col("cid"), col("chunk_id"), col("rank"),
          r4(col("ms") / lit(1e6)).as("score"))
        .orderBy("qid", "rank")
    },
    Some(s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') w
               FROM documents),
      nn AS (SELECT doc_id, w, len(w) n FROM tok),
      ch AS (SELECT doc_id, w, unnest(generate_series(0,
               CASE WHEN n <= $ChunkW THEN 0
                 ELSE (n - $ChunkW + ${ChunkS - 1}) // $ChunkS END)) chunk_id
             FROM nn),
      cwt AS (SELECT doc_id, chunk_id,
               w[chunk_id*$ChunkS+1 : chunk_id*$ChunkS+$ChunkW] cw FROM ch),
      cposts AS (SELECT doc_id, chunk_id, term, count(*) tf
                 FROM (SELECT doc_id, chunk_id, unnest(cw) term FROM cwt)
                 GROUP BY 1, 2, 3),
      cpdl AS (SELECT doc_id, chunk_id, term, tf,
                sum(tf) OVER (PARTITION BY doc_id, chunk_id) cl
               FROM cposts),
      cdfs AS (SELECT term, count(*) df FROM cposts GROUP BY 1),
      cglob AS (SELECT count(*) n_chunks, avg(cl) avgcl
                FROM (SELECT doc_id, chunk_id, any_value(cl) cl
                      FROM cpdl GROUP BY 1, 2)),
      cqt AS (SELECT DISTINCT doc_id qid, term
              FROM (SELECT doc_id, unnest(w) term FROM tok
                    WHERE doc_id < 5)),
      csc AS (SELECT q.qid, p.doc_id cid, p.chunk_id,
               sum(CAST(round(
                 ln(1.0 + ((g.n_chunks - f.df)::DOUBLE + 0.5) /
                   (f.df::DOUBLE + 0.5)) *
                 ((p.tf * ($Bm25K1::DOUBLE + 1.0)) /
                  (p.tf + $Bm25K1::DOUBLE *
                    (1.0 - $Bm25B::DOUBLE +
                     $Bm25B::DOUBLE * p.cl / g.avgcl))) * 1e6, 0)
                 AS BIGINT)) ms
              FROM cpdl p JOIN cqt q
                ON p.term = q.term AND p.doc_id <> q.qid
              JOIN cdfs f ON f.term = p.term
              CROSS JOIN cglob g
              GROUP BY 1, 2, 3),
      cbest AS (SELECT qid, cid, chunk_id, ms,
                 row_number() OVER (PARTITION BY qid, cid
                   ORDER BY ms DESC, chunk_id) br
                FROM csc),
      ctop AS (SELECT qid, cid, chunk_id, ms,
                row_number() OVER (PARTITION BY qid
                  ORDER BY ms DESC, cid) rank
               FROM cbest WHERE br = 1 QUALIFY rank <= $Bm25TopK)
      SELECT qid, cid, chunk_id, rank,
        round(ms::DOUBLE / 1e6, 4) AS score
      FROM ctop ORDER BY qid, rank"""))

  // ------------------------------------------------ B53n search_autocomplete
  /** Completion prefix length and depth. */
  private val AcPfx = 2
  private val AcTopK = 5

  /** B53n: PREFIX completion — the edge-n-gram suggester (Lucene's
    * suggest family): for each [[AcPfx]]-char prefix appearing in a
    * query doc (ids < 5), the top-[[AcTopK]] corpus words sharing that
    * prefix ranked by corpus frequency. The type-ahead primitive every
    * search box runs; at rest the prefix→word table IS the edge-ngram
    * index a suggester serves from.
    *
    * Shape at 100 TB: the word-frequency table is the vocabulary — a
    * model artifact built by the one posting shuffle (never
    * corpus-cardinality downstream); query prefixes (≤ queries ×
    * doc-length, distinct) broadcast; completion = one vocab-scale
    * join + a WindowGroupLimit heap per (query, prefix). */
  private val searchAutocomplete = Q(
    (s, d) => {
      val wf = docs(s, d)
        .select(explode(tokens(col("text"))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      // edge n-grams of EVERY length 1..AcPfx (distinct — a 1-char
      // word's length-1 and length-2 edges coincide), so a query
      // prefix shorter than AcPfx still completes: prefix-key equality
      // at the query prefix's own length ≡ startsWith
      val edges = wf.select(col("word"), col("cnt"),
          explode(array((1 to AcPfx).map(l =>
            substring(col("word"), 1, l)): _*)).as("pfx"))
        .distinct()
      val qp = docs(s, d).filter(col("doc_id") < 5)
        .select(col("doc_id").as("qid"),
          explode(tokens(col("text"))).as("w"))
        .select(col("qid"), substring(col("w"), 1, AcPfx).as("pfx"))
        .distinct()
      edges.join(broadcast(qp), "pfx")
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("qid"), col("pfx"))
            .orderBy(col("cnt").desc, col("word"))))
        .filter(col("rank") <= AcTopK)
        .select(col("qid"), col("pfx"), col("rank"), col("word"),
          col("cnt"))
        .orderBy("qid", "pfx", "rank")
    },
    Some(s"""WITH aw AS (SELECT unnest(string_split(text, ' ')) AS word
               FROM documents),
      awf AS (SELECT word, count(*) AS cnt FROM aw GROUP BY word),
      awe AS (SELECT DISTINCT word, cnt, pfx FROM (
               SELECT word, cnt, unnest(list_transform(
                 generate_series(1, $AcPfx), l -> substr(word, 1, l::INT)))
                 AS pfx
               FROM awf)),
      aqp AS (SELECT DISTINCT doc_id qid, substr(w, 1, $AcPfx) AS pfx
              FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                    FROM documents WHERE doc_id < 5)),
      ac AS (SELECT q.qid, q.pfx, f.word, f.cnt,
               row_number() OVER (PARTITION BY q.qid, q.pfx
                 ORDER BY f.cnt DESC, f.word) AS rank
             FROM awe f JOIN aqp q ON f.pfx = q.pfx
             QUALIFY rank <= $AcTopK)
      SELECT qid, pfx, rank, word, cnt
      FROM ac ORDER BY qid, pfx, rank"""))

  // --------------------------------------------------- B53m search_spell
  /** Suggestions kept per typo. */
  private val SpellTopK = 3

  /** B53t: SPELL CORRECTION via the SymSpell deletion neighborhood —
    * the suggester beside [[searchAutocomplete]]: every vocabulary word
    * is indexed under its 1-deletion variants (plus itself); a typo
    * probes the index under ITS 1-deletion variants (plus itself), so
    * key equality proposes exactly the words within one
    * insert/delete/substitute step (delete hits `del1(w) ∋ t`, insert
    * hits `del1(t) ∋ w`, substitute hits `del1(w) ∩ del1(t) ≠ ∅`);
    * candidates are then verified with true `levenshtein ≤ 1` (the
    * key-intersection route alone would also admit transpositions —
    * Damerau distance 1, edit distance 2) and ranked by corpus
    * frequency. Typos are derived deterministically from the corpus
    * (2nd char deleted from the 5 alphabetically-first words of length
    * ≥ 3) so the oracle replays them.
    *
    * The SymSpell trade at scale: the index is O(V·L) short keys built
    * once beside the vocabulary (a model artifact, like the
    * autocomplete edge table), and a query is a handful of broadcast
    * key probes — versus O(V) levenshtein evaluations per query for
    * the scan form. The expensive verify runs only on key-collision
    * candidates, which the 1-deletion key structure bounds. */
  private val searchSpell = Q(
    (s, d) => {
      def delKeys(w: Column): Column = array_distinct(concat(
        array(w),
        transform(sequence(lit(1), length(w)), i =>
          concat(w.substr(lit(1), i - 1), w.substr(i + 1, length(w))))))
      val wf = docs(s, d)
        .select(explode(tokens(col("text"))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      val vocabKeys = wf.select(col("word"), col("cnt"),
        explode(delKeys(col("word"))).as("key"))
      val typos = wf.filter(length(col("word")) >= 3)
        .orderBy(col("word")).limit(5)
        .select(concat(col("word").substr(lit(1), lit(1)),
          col("word").substr(lit(3), length(col("word")))).as("typo"))
      val typoKeys = typos
        .select(col("typo"), explode(delKeys(col("typo"))).as("key"))
      vocabKeys.join(broadcast(typoKeys), "key")
        .select(col("typo"), col("word"), col("cnt")).distinct()
        .withColumn("dist", levenshtein(col("typo"), col("word")))
        .filter(col("dist") <= 1)
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("typo"))
            .orderBy(col("cnt").desc, col("word"))))
        .filter(col("rank") <= SpellTopK)
        .select(col("typo"), col("rank"), col("word").as("suggestion"),
          col("cnt"), col("dist"))
        .orderBy("typo", "rank")
    },
    Some(s"""WITH sw AS (SELECT unnest(string_split(text, ' ')) AS word
               FROM documents),
      swf AS (SELECT word, count(*) AS cnt FROM sw GROUP BY word),
      svk AS (SELECT word, cnt, unnest(list_distinct(list_append(
                 list_transform(generate_series(1, length(word)),
                   i -> substr(word, 1, i::INT - 1)
                     || substr(word, i::INT + 1, length(word))),
                 word))) AS key
              FROM swf),
      sty AS (SELECT substr(word, 1, 1) || substr(word, 3, length(word))
                 AS typo
              FROM swf WHERE length(word) >= 3 ORDER BY word LIMIT 5),
      stk AS (SELECT typo, unnest(list_distinct(list_append(
                 list_transform(generate_series(1, length(typo)),
                   i -> substr(typo, 1, i::INT - 1)
                     || substr(typo, i::INT + 1, length(typo))),
                 typo))) AS key
              FROM sty),
      scand AS (SELECT DISTINCT t.typo, v.word, v.cnt
                FROM stk t JOIN svk v USING (key)),
      sver AS (SELECT typo, word, cnt,
                 levenshtein(typo, word)::INT AS dist
               FROM scand WHERE levenshtein(typo, word) <= 1)
      SELECT typo,
        row_number() OVER (PARTITION BY typo
          ORDER BY cnt DESC, word) AS rank,
        word AS suggestion, cnt, dist
      FROM sver QUALIFY rank <= $SpellTopK ORDER BY typo, rank"""))

  // ------------------------------------------------- B53s search_prf
  /** PRF parameters: feedback depth / expansion terms added. */
  private val PrfFb = 3
  private val PrfE = 3

  /** B53s: PSEUDO-RELEVANCE FEEDBACK — the RM3/Rocchio query-expansion
    * loop classical IR runs when queries are short: rank once with
    * BM25, treat the top-[[PrfFb]] results as relevant, mine their
    * top-[[PrfE]] tf·idf terms NOT already in the query, and re-rank
    * with the expanded term set. Recall-oriented retrieval's standard
    * second pass (Lucene MoreLikeThis generalized to feedback), and the
    * lexical analogue of [[sim_search_rerank_mmr]]'s serve-side
    * post-processing.
    *
    * Shape: both ranking passes are the shared [[bm25Rank]]
    * match-bounded join; the feedback mining touches only the
    * ≤ queries × [[PrfFb]] feedback docs' postings (broadcast-sized),
    * scored with the [[searchMlt]] micronat-quantized selection so the
    * expanded term set is bit-identical in the oracle. Expansion adds
    * ≤ [[PrfE]] broadcast terms per query — the second pass costs the
    * same as the first however large the corpus. */
  private val searchPrf = Q(
    (s, d) => {
      val posts = bm25Postings(docs(s, d),
        Some(engine.Core.fpKey("bm25posts", d, "documents")))
      // dfs/glob/orig are each referenced by BOTH ranking passes (and
      // the expansion scorer); left lazy, every broadcast subtree
      // re-executes its whole chain as its own job — the query ran 103
      // stages / 2275 tasks on a 5k-doc corpus, all scheduling overhead.
      // Persisting the small shared frames (vocabulary- and query-scale)
      // collapses the duplicates; lifetime is this query (drained).
      val dfs = engine.ScratchCache.persist(
        posts.groupBy(col("term")).agg(count(lit(1)).as("df")))
      val glob = engine.ScratchCache.persist(
        posts.groupBy(col("doc_id")).agg(first(col("dl")).as("dl"))
          .agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl")))
      val orig = engine.ScratchCache.persist(
        posts.filter(col("doc_id") < 5)
          .select(col("doc_id").as("qid"), col("term")).distinct())
      // first pass: share posts/dfs/glob with the second pass instead of
      // re-deriving them through bm25TopK (which recomputes all three)
      val qdf0 = dfs.join(broadcast(orig.select(col("term")).distinct()),
        "term")
      val fb = bm25Rank(posts, orig, qdf0, glob)
        .filter(col("rank") <= PrfFb).select(col("qid"), col("cid"))
      val fbTerms = engine.ScratchCache.persist(
        posts.join(broadcast(fb), col("doc_id") === col("cid"))
          .groupBy(col("qid"), col("term")).agg(sum(col("tf")).as("ftf")))
      val fdf = dfs.join(broadcast(fbTerms.select(col("term")).distinct()),
        "term")
      val idf = log(lit(1.0) +
        ((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5)))
      val expansion = fbTerms.join(broadcast(fdf), "term")
        .crossJoin(broadcast(glob))
        .select(col("qid"), col("term"),
          round(col("ftf") * idf * lit(1e6), 0).cast("long").as("es"))
        .join(orig, Seq("qid", "term"), "left_anti")
        .withColumn("tr", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("es").desc, col("term"))))
        .filter(col("tr") <= PrfE)
        .select(col("qid"), col("term"))
      val qexp = engine.ScratchCache.persist(orig.unionByName(expansion))
      val qdf = dfs.join(broadcast(qexp.select(col("term")).distinct()),
        "term")
      bm25Rank(posts, qexp, qdf, glob)
        .select(col("qid"), col("cid"), col("rank"),
          r4(col("ms") / lit(1e6)).as("score"))
        .orderBy("qid", "rank")
    },
    Some(("WITH " + bm25SqlCtes().trim.stripPrefix(",")) + s""",
      pfb AS (SELECT qid, cid FROM ltop WHERE rank <= $PrfFb),
      porig AS (SELECT DISTINCT doc_id qid, term FROM bposts
                WHERE doc_id < 5),
      pft AS (SELECT f.qid, p.term, sum(p.tf) AS ftf
              FROM pfb f JOIN bpdl p ON p.doc_id = f.cid GROUP BY 1, 2),
      pes AS (SELECT t.qid, t.term,
               CAST(round(t.ftf * ln(1.0 +
                 ((g.n_docs - f.df)::DOUBLE + 0.5) /
                 (f.df::DOUBLE + 0.5)) * 1e6, 0) AS BIGINT) es
             FROM pft t JOIN bdfs f USING (term) CROSS JOIN bglob g
             ANTI JOIN porig o ON o.qid = t.qid AND o.term = t.term),
      pexp AS (SELECT qid, term FROM (
               SELECT qid, term, row_number() OVER (PARTITION BY qid
                 ORDER BY es DESC, term) tr FROM pes) WHERE tr <= $PrfE),
      pq AS (SELECT qid, term FROM porig
             UNION ALL SELECT qid, term FROM pexp),
      pmsc AS (SELECT q.qid, p.doc_id cid,
               CAST(round(
                 ln(1.0 + ((g.n_docs - f.df)::DOUBLE + 0.5) /
                   (f.df::DOUBLE + 0.5)) *
                 ((p.tf * ($Bm25K1::DOUBLE + 1.0)) /
                  (p.tf + $Bm25K1::DOUBLE *
                    (1.0 - $Bm25B::DOUBLE +
                     $Bm25B::DOUBLE * p.dl / g.avgdl))) * 1e6, 0)
                 AS BIGINT) m
              FROM bpdl p JOIN pq q
                ON p.term = q.term AND p.doc_id <> q.qid
              JOIN bdfs f ON f.term = p.term
              CROSS JOIN bglob g),
      pagg AS (SELECT qid, cid, sum(m) ms FROM pmsc GROUP BY 1, 2),
      ptop AS (SELECT qid, cid, ms,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY ms DESC, cid) rank
               FROM pagg QUALIFY rank <= $Bm25TopK)
      SELECT qid, cid, rank, round(ms::DOUBLE / 1e6, 4) AS score
      FROM ptop ORDER BY qid, rank"""))

  // ------------------------------------------- B53r sim_search_rerank_mmr
  /** MMR parameters: relevance weight λ, diversity weight (1−λ)
    * spelled as its own literal — `1 - 0.7` in IEEE doubles is
    * 0.30000000000000004, NOT the 0.3 the DuckDB oracle parses, so
    * both engines must multiply by the literal 0.3 (the k1/b
    * discipline from bm25Micronat) — candidate depth, picks. */
  private val MmrLambda = 0.7
  private val MmrDiv = 0.3
  private val MmrDepth = 10
  private val MmrK = 5

  /** B53w: MAXIMAL MARGINAL RELEVANCE rerank — the diversified top-k
    * every retrieval-for-RAG stack runs after similarity ranking
    * (Carbonell & Goldstein '98): greedily pick [[MmrK]] of the cosine
    * top-[[MmrDepth]], each pick maximizing
    * λ·relevance − (1−λ)·max-similarity-to-already-picked — near-dup
    * results (which the isotropic testdata's replica structure and any
    * real corpus both produce) stop crowding out coverage. The greedy
    * loop is UNROLLED ([[MmrK]] is a constant): each round is a
    * max-sim join against the selected set and a per-query argmax —
    * every frame is ≤ queries × depth rows, so the whole rerank is
    * broadcast-local at any corpus size (the heavy work stays in the
    * candidate generation, here the [[LlmQueries]] brute scan, in
    * production the ANN index).
    *
    * Determinism: MMR scores snap to the integer micronat grid before
    * each argmax (identical 0.7/0.3 literals, left-to-right
    * arithmetic, exact-order dots), ties break to the lower cid — the
    * oracle unrolls the same picks as CTEs. */
  private val simSearchRerankMmr = Q(
    (s, d) => {
      val e = LlmQueries.unitCorpus(s, d)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("u").as("qu"))
      val top = engine.ScratchCache.persist(
        e.join(broadcast(q), col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id").as("cid"),
            dot(col("qu"), col("u")).as("rel"))
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("qid"))
              .orderBy(col("rel").desc, col("cid"))))
          .filter(col("rk") <= MmrDepth)
          .select(col("qid"), col("cid"), col("rel")))
      val withU = top.join(e.select(col("vec_id").as("cid"), col("u")),
        "cid")
      val pair = engine.ScratchCache.persist(withU.as("a")
        .join(withU.as("b"),
          col("a.qid") === col("b.qid") && col("a.cid") =!= col("b.cid"))
        .select(col("a.qid").as("qid"), col("a.cid").as("cid"),
          col("b.cid").as("oid"), dot(col("a.u"), col("b.u")).as("sim")))
      def mmrScore(ms: Column): Column =
        round((lit(MmrLambda) * col("rel") - lit(MmrDiv) * ms)
          * 1e6, 0).cast("long")
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("sc").desc, col("cid"))
      var sel = top.withColumn("sc", mmrScore(lit(0.0)))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("qid"), col("cid"), lit(1).as("pick"))
      for (k <- 2 to MmrK) {
        val ms = pair.join(sel.select(col("qid"), col("cid").as("oid")),
            Seq("qid", "oid"))
          .groupBy(col("qid"), col("cid")).agg(max(col("sim")).as("ms"))
        val picked = top.join(sel.select(col("qid"), col("cid")),
            Seq("qid", "cid"), "left_anti")
          .join(ms, Seq("qid", "cid"))
          .withColumn("sc", mmrScore(col("ms")))
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("qid"), col("cid"), lit(k).as("pick"))
        // truncate lineage per pick (the bpeApply discipline): without
        // it each round replans the whole union-of-windows chain and
        // the constant-size rerank pays seconds of planning.
        // coalesce(1): sel is ≤ queries × k rows BY CONSTRUCTION (a
        // bounded selection-state frame at any corpus size), but the
        // union inherits the window exchanges' full partitioning — each
        // round's checkpoint job then runs shuffle-width tasks to pin a
        // handful of rows, and every downstream join schedules that
        // many more (r22: 1118 tasks across the op for a 25-row
        // result). One partition is the honest size.
        sel = engine.Core.checkpointFresh(
          sel.unionByName(picked).coalesce(1))
      }
      sel.join(top, Seq("qid", "cid"))
        .select(col("qid"), col("pick"), col("cid"), r4(col("rel")).as("rel"))
        .orderBy("qid", "pick")
    },
    Some {
      def pickCte(k: Int): String = s""",
      mms$k AS (SELECT p.qid, p.cid, max(p.sim) AS ms
               FROM mpair p JOIN msel${k - 1} s
                 ON s.qid = p.qid AND s.cid = p.oid
               GROUP BY 1, 2),
      mpk$k AS (SELECT qid, cid, $k AS pick FROM (
               SELECT t.qid, t.cid,
                 row_number() OVER (PARTITION BY t.qid ORDER BY
                   CAST(round((0.7 * t.rel - 0.3 * m.ms) * 1e6, 0)
                     AS BIGINT) DESC, t.cid) rn
               FROM mtop t JOIN mms$k m
                 ON m.qid = t.qid AND m.cid = t.cid
               ANTI JOIN msel${k - 1} s
                 ON s.qid = t.qid AND s.cid = t.cid)
             WHERE rn = 1),
      msel$k AS (SELECT qid, cid FROM msel${k - 1}
              UNION ALL SELECT qid, cid FROM mpk$k)"""
      LlmQueries.unitSql + s""",
      meu AS (SELECT vec_id, u FROM e WHERE u IS NOT NULL),
      mq AS (SELECT vec_id qid, u qu FROM meu WHERE vec_id < 5),
      msc AS (SELECT q.qid, e2.vec_id cid,
               list_sum(list_transform(list_zip(q.qu, e2.u),
                 p -> p[1]*p[2])) rel
             FROM mq q, meu e2 WHERE e2.vec_id <> q.qid),
      mtop AS (SELECT qid, cid, rel FROM (
               SELECT qid, cid, rel, row_number() OVER (PARTITION BY qid
                 ORDER BY rel DESC, cid) rk FROM msc) WHERE rk <= $MmrDepth),
      mpair AS (SELECT a.qid, a.cid, b.cid oid,
               list_sum(list_transform(list_zip(ua.u, ub.u),
                 p -> p[1]*p[2])) sim
             FROM mtop a JOIN mtop b
               ON a.qid = b.qid AND a.cid <> b.cid
             JOIN meu ua ON ua.vec_id = a.cid
             JOIN meu ub ON ub.vec_id = b.cid),
      mpk1 AS (SELECT qid, cid, 1 AS pick FROM (
               SELECT qid, cid, row_number() OVER (PARTITION BY qid
                 ORDER BY CAST(round((0.7 * rel - 0.3 * 0.0) * 1e6, 0)
                   AS BIGINT) DESC, cid) rn
               FROM mtop) WHERE rn = 1),
      msel1 AS (SELECT qid, cid FROM mpk1)""" +
      (2 to MmrK).map(pickCte).mkString + s"""
      SELECT p.qid, p.pick, p.cid, round(t.rel, 4) AS rel
      FROM (${(1 to MmrK).map(k => s"SELECT * FROM mpk$k")
        .mkString(" UNION ALL ")}) p
      JOIN mtop t ON t.qid = p.qid AND t.cid = p.cid
      ORDER BY p.qid, p.pick"""
    })

  // ----------------------------------------------- B53c search_hybrid_rrf
  /** B53c: hybrid lexical+vector retrieval via reciprocal-rank fusion
    * (RRF, k=60): score(q,doc) = Σ_modality 1/(60 + rank_modality) over
    * the BM25 top-10 ([[bm25TopK]]) and the brute-force cosine top-10
    * (the sim_search_topk plan at depth 10) — the fusion every serious
    * retrieval stack runs because rank-space fusion needs no score
    * normalization across modalities. doc_id and vec_id index the same
    * items (TESTDATA: row i of `documents` ↔ row i of `embeddings`).
    *
    * RRF arithmetic is two exact IEEE divisions + one two-term sum, so
    * the doubles are bit-identical in DuckDB with no quantization
    * needed. Both inputs are top-k frames (≤ queries × k rows); the
    * fusion join and final rank are driver-trivial at any corpus size —
    * the heavy lifting stays inside the two modality chains. */
  private val searchHybridRrf = Q(
    (s, d) => {
      // both modality arms are the session-keyed ranked slices
      // ([[bm25TopKeyed]] / [[cosTopKeyed]]); the fusion below is the
      // per-run work, ≤ queries × 2k rows
      val lex = bm25TopKeyed(s, d)
        .select(col("qid"), col("cid"), col("rank").as("lr"))
      val vec = cosTopKeyed(s, d)
      lex.join(vec, Seq("qid", "cid"), "full_outer")
        .withColumn("rrf",
          coalesce(lit(1.0) / (lit(60) + col("lr")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("vr")), lit(0.0)))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("rrf").desc, col("cid"))))
        .filter(col("rank") <= Bm25TopK)
        .select(col("qid"), col("cid"), col("rank"),
          r4(col("rrf")).as("score"))
        .orderBy("qid", "rank")
    },
    Some(LlmQueries.unitSql + bm25SqlCtes() + s""",
      heu AS (SELECT vec_id, u FROM e WHERE u IS NOT NULL),
      hq AS (SELECT vec_id qid, u qu FROM heu WHERE vec_id < 5),
      hsc AS (SELECT hq.qid, heu.vec_id cid,
               list_sum(list_transform(list_zip(hq.qu, heu.u),
                 p -> p[1] * p[2])) cos
              FROM hq, heu WHERE heu.vec_id <> hq.qid),
      vtop AS (SELECT qid, cid,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY cos DESC, cid) vr
               FROM hsc QUALIFY vr <= $Bm25TopK),
      fused AS (SELECT coalesce(l.qid, v.qid) qid,
                  coalesce(l.cid, v.cid) cid,
                  coalesce(1.0::DOUBLE / (60 + l.rank), 0.0::DOUBLE) +
                  coalesce(1.0::DOUBLE / (60 + v.vr), 0.0::DOUBLE) rrf
                FROM ltop l FULL OUTER JOIN vtop v
                  ON l.qid = v.qid AND l.cid = v.cid)
      SELECT qid, cid,
        row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, cid) rank,
        round(rrf, 4) AS score
      FROM fused QUALIFY rank <= $Bm25TopK ORDER BY qid, rank"""))

  // ---------------------------------------------------- B60 pipeline_rag
  /** Candidates served per query by the RAG pipeline. */
  private val RagK = 3

  /** B60: RAG SERVING CAPSTONE — the end-to-end retrieve→highlight pass
    * a retrieval-augmented-generation stack runs per query, composed
    * ENTIRELY from this engine's own operators (the pipeline_curate
    * composition argument applied to serving): hybrid lexical+vector
    * retrieval ([[searchHybridRrf]] — BM25 and brute-cosine fused by
    * RRF) cut to the top-[[RagK]] candidates, then each candidate
    * reduced to its best [[SnipW]]-token highlight window over the
    * query's top-tf·idf terms (the shared [[snippetStage]]) — the
    * (score, passage) rows a generation loop stuffs into context.
    *
    * Shape: both modality chains are the shared corpus-scale rankers
    * (posting joins + broadcast queries — no corpus text in any
    * exchange); everything after the fusion is ≤ queries × [[RagK]]
    * rows. The capstone's value is the composition pin: retrieval,
    * fusion, term selection, and highlighting all reuse the exact
    * operators verified individually, so the served context can never
    * drift from what the per-operator oracles check. */
  private val pipelineRag = Q(
    (s, d) => {
      val posts = bm25Postings(docs(s, d),
        Some(engine.Core.fpKey("bm25posts", d, "documents")))
      val dfs = engine.ScratchCache.persist(
        posts.groupBy(col("term")).agg(count(lit(1)).as("df")))
      val glob = engine.ScratchCache.persist(
        posts.groupBy(col("doc_id")).agg(first(col("dl")).as("dl"))
          .agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl")))
      val qposts = posts.filter(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), col("term"), col("tf"))
      val qdf0 = dfs.join(broadcast(qposts.select(col("term")).distinct()),
        "term")
      val idf = log(lit(1.0) +
        ((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5)))
      val sqt = engine.ScratchCache.persist(
        qposts.join(broadcast(qdf0), "term")
          .crossJoin(broadcast(glob))
          .select(col("qid"), col("term"),
            round(col("tf") * idf * lit(1e6), 0).cast("long").as("ts"))
          .withColumn("trank", row_number().over(
            Window.partitionBy(col("qid"))
              .orderBy(col("ts").desc, col("term"))))
          .filter(col("trank") <= SnipM)
          .select(col("qid"), col("term")))
      val hyb = engine.ScratchCache.persist(
        searchHybridRrf.fn(s, d).filter(col("rank") <= RagK))
      val top = hyb.select(col("qid"), col("cid"), col("rank"))
      snippetStage(s, d, top, sqt)
        .join(hyb.select(col("qid"), col("cid"), col("score")),
          Seq("qid", "cid"))
        .select(col("qid"), col("rank"), col("cid"), col("score"),
          col("snip_start"), col("snip_hits"), col("snippet"))
        .orderBy("qid", "rank")
    },
    Some(LlmQueries.unitSql + bm25SqlCtes() + s""",
      heu AS (SELECT vec_id, u FROM e WHERE u IS NOT NULL),
      hq AS (SELECT vec_id qid, u qu FROM heu WHERE vec_id < 5),
      hsc AS (SELECT hq.qid, heu.vec_id cid,
               list_sum(list_transform(list_zip(hq.qu, heu.u),
                 p -> p[1] * p[2])) cos
              FROM hq, heu WHERE heu.vec_id <> hq.qid),
      vtop AS (SELECT qid, cid,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY cos DESC, cid) vr
               FROM hsc QUALIFY vr <= $Bm25TopK),
      fused AS (SELECT coalesce(l.qid, v.qid) qid,
                  coalesce(l.cid, v.cid) cid,
                  coalesce(1.0::DOUBLE / (60 + l.rank), 0.0::DOUBLE) +
                  coalesce(1.0::DOUBLE / (60 + v.vr), 0.0::DOUBLE) rrf
                FROM ltop l FULL OUTER JOIN vtop v
                  ON l.qid = v.qid AND l.cid = v.cid),
      gtop AS (SELECT qid, cid, rank, round(rrf, 4) AS score FROM (
                 SELECT qid, cid, rrf,
                   row_number() OVER (PARTITION BY qid
                     ORDER BY rrf DESC, cid) rank
                 FROM fused) WHERE rank <= $RagK),
      ntok AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
      nq0 AS (SELECT doc_id qid, term, tf FROM bpdl WHERE doc_id < 5),
      nsel AS (SELECT q.qid, q.term,
                CAST(round(q.tf * ln(1.0 +
                  ((g.n_docs - f.df)::DOUBLE + 0.5) /
                  (f.df::DOUBLE + 0.5)) * 1e6, 0) AS BIGINT) ts
               FROM nq0 q JOIN bdfs f USING (term) CROSS JOIN bglob g),
      nqt AS (SELECT qid, term,
                row_number() OVER (PARTITION BY qid
                  ORDER BY ts DESC, term) trank
              FROM nsel QUALIFY trank <= $SnipM),
      ntk AS (SELECT doc_id cid,
                unnest(generate_series(1, len(w))) - 1 AS p,
                unnest(w) AS term
              FROM ntok WHERE doc_id IN (SELECT cid FROM gtop)),
      nmp AS (SELECT r.qid, t.cid, r.rank, r.score, t.p
              FROM ntk t JOIN gtop r ON r.cid = t.cid
              JOIN nqt q ON q.qid = r.qid AND q.term = t.term),
      nh AS (SELECT a.qid, a.cid, a.rank, a.score, a.p, count(*) h
             FROM nmp a JOIN nmp b ON a.qid = b.qid AND a.cid = b.cid
               AND b.p >= a.p AND b.p < a.p + $SnipW
             GROUP BY 1, 2, 3, 4, 5),
      nb AS (SELECT qid, cid, rank, score, p, h,
              row_number() OVER (PARTITION BY qid, cid
                ORDER BY h DESC, p) brk
             FROM nh QUALIFY brk = 1)
      SELECT nb.qid, nb.rank, nb.cid, nb.score,
        CAST(nb.p AS INT) AS snip_start, nb.h::BIGINT AS snip_hits,
        array_to_string(ntok.w[nb.p + 1 : nb.p + $SnipW], ' ') AS snippet
      FROM nb JOIN ntok ON ntok.doc_id = nb.cid
      ORDER BY nb.qid, nb.rank"""))

  // ---------------------------------------------------- B53y search_bm25f
  /** Title length (tokens) and field weights for the BM25F split. */
  private val BmfTitle = 5
  private val BmfWTitle = 2L
  private val BmfWBody = 1L

  /** B53y: FIELD-WEIGHTED BM25 (simple BM25F, Robertson & Zaragoza):
    * documents split into a title field (first [[BmfTitle]] tokens —
    * synthesized here; real corpora carry real field columns) and a
    * body, with per-field weights folded BEFORE saturation: weighted
    * tf = [[BmfWTitle]]·tf_title + [[BmfWBody]]·tf_body, weighted
    * doc length = Σ_field w_f·|field|, then the ordinary BM25
    * saturation over the weighted quantities — the one-pass BM25F
    * every fielded search engine ships (title hits outrank body hits
    * at equal raw tf because the weighting happens inside the
    * saturation, NOT as a post-hoc score boost, which over-rewards
    * long titles).
    *
    * Implementation is [[bm25Rank]] VERBATIM on re-based postings
    * (wtf → tf, wdl → dl, field-blind df): a weighted field model is
    * a projection change, not a new scorer — the sharing that keeps
    * the lexical family's score discipline in one place. Weighted tf
    * and dl are exact integers; everything downstream is the shared
    * micronat chain. */
  private val searchBm25f = Q(
    (s, d) => {
      val tk = docs(s, d).select(col("doc_id"), tokens(col("text")).as("w"))
      val posts = tk
        .select(col("doc_id"), (size(col("w")) + BmfTitle).cast("long")
            .as("dl"),
          posexplode(col("w")).as(Seq("p", "term")))
        .groupBy(col("doc_id"), col("term"))
        .agg(sum(when(col("p") < BmfTitle, BmfWTitle)
          .otherwise(BmfWBody)).as("tf"), first(col("dl")).as("dl"))
      val dfs = posts.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val glob = tk.agg(count(lit(1)).as("n_docs"),
        avg((size(col("w")) + BmfTitle).cast("long")).as("avgdl"))
      val qt = posts.filter(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), col("term"))
      val qdf = dfs.join(broadcast(qt.select(col("term")).distinct()),
        "term")
      bm25Rank(posts, qt, qdf, glob)
        .select(col("qid"), col("cid"), col("rank"),
          r4(col("ms") / lit(1e6)).as("score"))
        .orderBy("qid", "rank")
    },
    Some(s"""WITH ftk AS (SELECT doc_id, string_split(text, ' ') AS w
                FROM documents),
      fps AS (SELECT doc_id, len(w) + $BmfTitle AS dl, w,
                unnest(generate_series(1, len(w))) AS p
              FROM ftk),
      fpost AS (SELECT doc_id, w[p] AS term,
                  sum(CASE WHEN p <= $BmfTitle THEN $BmfWTitle
                    ELSE $BmfWBody END)::BIGINT AS tf,
                  min(dl)::BIGINT AS dl
                FROM fps GROUP BY 1, 2),
      fdfs AS (SELECT term, count(*) AS df FROM fpost GROUP BY 1),
      fglob AS (SELECT count(*) AS n_docs,
                  avg(len(w) + $BmfTitle) AS avgdl FROM ftk),
      fqt AS (SELECT doc_id AS qid, term FROM fpost WHERE doc_id < 5),
      fsc AS (SELECT q.qid, p.doc_id AS cid,
               CAST(round(
                 ln(1.0 + ((g.n_docs - f.df)::DOUBLE + 0.5) /
                   (f.df::DOUBLE + 0.5)) *
                 ((p.tf * ($Bm25K1::DOUBLE + 1.0)) /
                  (p.tf + $Bm25K1::DOUBLE *
                    (1.0 - $Bm25B::DOUBLE +
                     $Bm25B::DOUBLE * p.dl / g.avgdl))) * 1e6, 0)
                 AS BIGINT) m
              FROM fpost p JOIN fqt q
                ON p.term = q.term AND p.doc_id <> q.qid
              JOIN fdfs f ON f.term = p.term
              CROSS JOIN fglob g),
      fagg AS (SELECT qid, cid, sum(m) AS ms FROM fsc GROUP BY 1, 2)
      SELECT qid, cid,
        row_number() OVER (PARTITION BY qid ORDER BY ms DESC, cid) AS rank,
        round(ms::DOUBLE / 1e6, 4) AS score
      FROM fagg QUALIFY rank <= $Bm25TopK ORDER BY qid, rank"""))

  // ------------------------------------------------------ B53x rank_eval
  /** Eval cut-off and the micronat metric constants: per-rank nDCG
    * discounts round(1e6/log2(rank+1)) and reciprocal ranks
    * round(1e6/rank) — hard integer literals in BOTH engines (log2 of a
    * constant never runs at query time; engine libm ulps can't
    * diverge), and the ideal DCG for a full 5-relevant set is their
    * prefix sum. */
  private val EvalK = 5
  private val EvalDisc = Seq(1000000L, 630930L, 500000L, 430677L, 386853L)
  private val EvalRecip = Seq(1000000L, 500000L, 333333L, 250000L, 200000L)
  private val EvalIdcg = EvalDisc.sum // 2948460

  /** B53x: RANKING EVALUATION — the nDCG@5 / MRR / recall@5 quality
    * table every retrieval stack keeps beside its rankers (trec_eval /
    * BEIR's reporting), and the lexical/hybrid counterpart of
    * [[annRecallReport]]'s ANN rungs: the engine measures its OWN
    * serving quality in-engine. Ground truth is the exact-cosine top-5
    * per query (the sim_search_topk ranking — semantic relevance as the
    * gold labels, the standard weak-supervision eval when no human
    * judgments exist); the evaluated systems are the shipped
    * [[bm25TopK]] lexical ranker and the [[searchHybridRrf]] fusion,
    * both cut at rank 5. Per (ranker, query): MRR (reciprocal rank of
    * the first relevant), binary-gain nDCG@5, recall@5, and the hit
    * count. The hybrid row dominating the lexical row is the result a
    * real eval exists to demonstrate — fusing the cosine modality back
    * in recovers the semantic matches BM25's 30-word-vocabulary tf
    * signal misses.
    *
    * Metric arithmetic rides the integer micronat grid end to end
    * ([[EvalDisc]]/[[EvalRecip]] lookups summed as longs, the ideal DCG
    * a constant); only the final three ratios divide and r4. Shape: all
    * frames past the two ranking chains are ≤ queries × k rows — the
    * eval is serving-bounded, not corpus-bounded, at any scale. */
  private val rankEval = Q(
    (s, d) => {
      // ground truth = the keyed exact-cosine frame's top-5 prefix
      // (identical (cos desc, cid) ordering — see [[cosTopKeyed]])
      val rel = cosTopKeyed(s, d).filter(col("vr") <= EvalK)
        .select(col("qid"), col("cid"))
      val lex = bm25TopKeyed(s, d)
        .filter(col("rank") <= EvalK)
        .select(lit("bm25").as("ranker"), col("qid"), col("cid"),
          col("rank"))
      val hyb = searchHybridRrf.fn(s, d)
        .filter(col("rank") <= EvalK)
        .select(lit("hybrid_rrf").as("ranker"), col("qid"), col("cid"),
          col("rank"))
      val disc = array(EvalDisc.map(lit(_)): _*)
      val rcp = array(EvalRecip.map(lit(_)): _*)
      lex.unionByName(hyb)
        .join(broadcast(rel.withColumn("hit", lit(1))),
          Seq("qid", "cid"), "left")
        .groupBy(col("ranker"), col("qid"))
        .agg(
          sum(coalesce(col("hit"), lit(0))).as("hits"),
          sum(when(col("hit").isNotNull, element_at(disc, col("rank")))
            .otherwise(lit(0L))).as("dcgm"),
          max(when(col("hit").isNotNull, element_at(rcp, col("rank")))
            .otherwise(lit(0L))).as("mrrm"))
        .select(col("ranker"), col("qid"),
          r4(col("mrrm").cast("double") / lit(1e6)).as("mrr"),
          r4(col("dcgm").cast("double") / lit(EvalIdcg.toDouble))
            .as("ndcg5"),
          r4(col("hits").cast("double") / lit(EvalK.toDouble))
            .as("recall5"),
          col("hits").cast("long").as("n_hits"))
        .orderBy("ranker", "qid")
    },
    Some(LlmQueries.unitSql + bm25SqlCtes() + s""",
      veu AS (SELECT vec_id, u FROM e WHERE u IS NOT NULL),
      vq AS (SELECT vec_id qid, u qu FROM veu WHERE vec_id < 5),
      vsc AS (SELECT vq.qid, veu.vec_id cid,
               list_sum(list_transform(list_zip(vq.qu, veu.u),
                 p -> p[1] * p[2])) cos
              FROM vq, veu WHERE veu.vec_id <> vq.qid),
      vrel AS (SELECT qid, cid FROM (
               SELECT qid, cid, row_number() OVER (PARTITION BY qid
                 ORDER BY cos DESC, cid) rr FROM vsc) WHERE rr <= $EvalK),
      vtop AS (SELECT qid, cid,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY cos DESC, cid) vr
               FROM vsc QUALIFY vr <= $Bm25TopK),
      vfused AS (SELECT coalesce(l.qid, v.qid) qid,
                  coalesce(l.cid, v.cid) cid,
                  coalesce(1.0::DOUBLE / (60 + l.rank), 0.0::DOUBLE) +
                  coalesce(1.0::DOUBLE / (60 + v.vr), 0.0::DOUBLE) rrf
                FROM ltop l FULL OUTER JOIN vtop v
                  ON l.qid = v.qid AND l.cid = v.cid),
      vrk AS (SELECT 'bm25' ranker, qid, cid, rank FROM ltop
                WHERE rank <= $EvalK
              UNION ALL
              SELECT 'hybrid_rrf' ranker, qid, cid, rank FROM (
                SELECT qid, cid, row_number() OVER (PARTITION BY qid
                  ORDER BY rrf DESC, cid) rank FROM vfused)
                WHERE rank <= $EvalK),
      vdt AS (SELECT unnest([1,2,3,4,5]) rank,
                unnest([${EvalDisc.mkString(",")}]) dm,
                unnest([${EvalRecip.mkString(",")}]) rm),
      vj AS (SELECT r.ranker, r.qid, r.rank,
               CASE WHEN x.cid IS NOT NULL THEN 1 ELSE 0 END hit
             FROM vrk r LEFT JOIN vrel x
               ON x.qid = r.qid AND x.cid = r.cid),
      vm AS (SELECT ranker, qid, sum(hit)::BIGINT hits,
               sum(CASE WHEN hit = 1 THEN d.dm ELSE 0 END)::BIGINT dcgm,
               max(CASE WHEN hit = 1 THEN d.rm ELSE 0 END)::BIGINT mrrm
             FROM vj JOIN vdt d USING (rank) GROUP BY 1, 2)
      SELECT ranker, qid,
        round(mrrm::DOUBLE / 1e6, 4) AS mrr,
        round(dcgm::DOUBLE / $EvalIdcg.0, 4) AS ndcg5,
        round(hits::DOUBLE / $EvalK.0, 4) AS recall5,
        hits AS n_hits
      FROM vm ORDER BY ranker, qid"""))

  // -------------------------------------------------- B53d cluster_kmeans
  /** B53d: partitional corpus clustering — assign every embedding to its
    * nearest trained spherical centroid (the memoized 16-cell codebook
    * of the IVF family, [[LlmQueries.trainedSphericalCells]]) and report
    * the assignment cosine + cluster size. This is the domain-discovery
    * / SemDeDup-prep view of the corpus: dedup_embedding_clusters gives
    * connected components of near-dup PAIRS; k-means gives a total
    * partition of ALL vectors, duplicates or not.
    *
    * Plan: broadcast codebook → one map-side hash-agg argmax per vector
    * (the lloydRound max_by shape — no window sort over the corpus) →
    * cluster sizes via one ≤K-row agg broadcast back. The corpus never
    * shuffles; at 100 TB the assignment is a map-only pass over the
    * embedding scan. */
  private val clusterKmeans = Q(
    (s, d) => {
      import s.implicits._
      val e = LlmQueries.unitCorpus(s, d)
      val cents = LlmQueries.trainedSphericalCells(s, d, e)
        .toDF("cent_id", "cu")
      val asg = engine.ScratchCache.persist(
        e.join(broadcast(cents))
          .select(col("vec_id"), col("cent_id"),
            dot(col("u"), col("cu")).as("cd"))
          .groupBy(col("vec_id"))
          .agg(expr("max_by(struct(cent_id, cd), struct(cd, -cent_id))")
            .as("b"))
          .select(col("vec_id"), col("b.cent_id").as("cent_id"),
            col("b.cd").as("cd")))
      val sizes = asg.groupBy(col("cent_id"))
        .agg(count(lit(1)).as("cluster_size"))
      asg.join(broadcast(sizes), "cent_id")
        .select(col("vec_id"), col("cent_id"), r4(col("cd")).as("cos"),
          col("cluster_size"))
        .orderBy("vec_id")
    },
    Some(LlmQueries.coarseChainSql + s""",
      kasgx AS (SELECT eu.vec_id, c.cent_id,
                 list_sum(list_transform(list_zip(eu.u, c.cu),
                   p -> p[1] * p[2])) AS cd
                FROM eu CROSS JOIN c2 c),
      kasg AS (SELECT vec_id, cent_id, cd FROM kasgx
               QUALIFY row_number() OVER (PARTITION BY vec_id
                 ORDER BY cd DESC, cent_id) = 1)
      SELECT vec_id, cent_id, round(cd, 4) AS cos,
        count(*) OVER (PARTITION BY cent_id) AS cluster_size
      FROM kasg ORDER BY vec_id"""))

  // ------------------------------------------------ B53h cluster_topics
  /** B53h: cluster LABELING — the readout that makes [[clusterKmeans]]'s
    * partition a domain-discovery tool: top-5 terms per cluster by
    * term frequency over the cluster's member documents (doc_id ↔
    * vec_id row pairing). A corpus-curation review reads exactly this
    * table to decide which clusters are boilerplate/spam/code/prose
    * before setting mixture weights.
    *
    * Shape: assignment is the broadcast-codebook map-side argmax (no
    * corpus shuffle); term postings explode BEFORE the assignment join,
    * so the id-keyed join and the (cent_id, term) count shuffle carry
    * only ids, terms and counts — document text never rides an
    * exchange. Output is ≤ K × 5 rows. */
  private val clusterTopics = Q(
    (s, d) => {
      import s.implicits._
      val e = LlmQueries.unitCorpus(s, d)
      val cents = LlmQueries.trainedSphericalCells(s, d, e)
        .toDF("cent_id", "cu")
      val asg = e.join(broadcast(cents))
        .select(col("vec_id"), col("cent_id"),
          dot(col("u"), col("cu")).as("cd"))
        .groupBy(col("vec_id"))
        .agg(expr("max_by(cent_id, struct(cd, -cent_id))").as("cent_id"))
      val posts = docs(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      posts.join(asg, col("doc_id") === col("vec_id"))
        .groupBy(col("cent_id"), col("term"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("cent_id"))
            .orderBy(col("cnt").desc, col("term"))))
        .filter(col("rank") <= 5)
        .select(col("cent_id"), col("rank"), col("term"), col("cnt"))
        .orderBy("cent_id", "rank")
    },
    Some(LlmQueries.coarseChainSql + s""",
      tasgx AS (SELECT eu.vec_id, c.cent_id,
                 list_sum(list_transform(list_zip(eu.u, c.cu),
                   p -> p[1] * p[2])) AS cd
                FROM eu CROSS JOIN c2 c),
      tasg AS (SELECT vec_id, cent_id FROM tasgx
               QUALIFY row_number() OVER (PARTITION BY vec_id
                 ORDER BY cd DESC, cent_id) = 1),
      tterms AS (SELECT a.cent_id,
                   unnest(string_split(d.text, ' ')) term
                 FROM documents d JOIN tasg a ON a.vec_id = d.doc_id),
      tcnt AS (SELECT cent_id, term, count(*) cnt FROM tterms
               GROUP BY 1, 2)
      SELECT cent_id,
        row_number() OVER (PARTITION BY cent_id
          ORDER BY cnt DESC, term) AS rank,
        term, cnt
      FROM tcnt QUALIFY rank <= 5 ORDER BY cent_id, rank"""))

  // --------------------------------------------- B53i dedup_semantic
  /** Within-cluster drop threshold — the embedding-dedup family's 0.45
    * margin (dedup_embedding / dedup_embedding_banded use the same), so
    * the three screens' verdicts are directly comparable. */
  private val SemThr = 0.45

  /** B53i: SemDeDup-style CLUSTER-BLOCKED semantic dedup (Abbas et al.
    * 2023, arXiv:2303.09540): assign every embedding to its k-means
    * cell (the memoized spherical codebook every IVF/cluster consumer
    * shares), enumerate candidate pairs WITHIN a cell only, exact-cosine
    * verify, and drop the higher id of every pair at cos ≥ [[SemThr]].
    * The third blocking strategy of the embedding-dedup family — exact
    * (conf-gated all-pairs yardstick), SRP-banded (global LSH screen),
    * and now cluster-blocked, where the corpus structure a curation
    * stack ALREADY maintains (cluster_kmeans / cluster_topics) doubles
    * as the dedup index: near-semantic duplicates land in the same cell
    * far more often than random LSH bands collide, which is why
    * SemDeDup scales to web corpora. Emits every assigned vector with
    * its cell and verdict — the per-modality analogue of the exact
    * screens' survivor tables.
    *
    * Shape at 100 TB: assignment is the broadcast-codebook map-side
    * argmax (no corpus shuffle); the pair join shuffles skinny
    * (vec_id, cell, u) rows ONCE on cent_id and enumerates within-cell
    * only — O(Σ cell²), bounded by cell size, with k scaled ∝ corpus
    * (the SemDeDup recipe: hold ⟨cell⟩ constant) via
    * `spark.graft.semdedup.k` (default 16, the test-scale point; the
    * oracle replays the default — a larger k is the scale experiment
    * knob, SearchSpec pins drops ⊆ exact at BOTH 16 and 32; measured
    * on the 10× corpus, 20k vectors: warm 0.48 s at k=16 vs 0.71 s at
    * k=64 — the +4× broadcast-argmax dots cost ~0.2 s while the
    * within-cell quadratic term SHRINKS, which is exactly why the
    * SemDeDup recipe holds ⟨cell⟩ constant by growing k) and
    * re-clustering as the skew remedy for a runaway cell. Candidate
    * verification is the codegen'd exact dot — no recall loss inside a
    * cell, recall across cells is the clustering's blocking
    * approximation (the published trade). */
  /** Default hot-cell cap (`spark.graft.cellcap`): sub-block pair tasks
    * verify at most cap² ≈ 4.2M cosines each. */
  private val CellCapDefault = 2048

  /** Coarse-cell assignment of the unit corpus (vec_id, cent_id, u) —
    * the shared front half of [[dedupSemantic]] / [[knnGraphFrame]]. */
  private def cellAssign(s: SparkSession, d: String, confKey: String)
      : DataFrame = {
    import s.implicits._
    val e = LlmQueries.unitCorpus(s, d)
    val k = s.conf.get(confKey, "16").toInt
    val cents = LlmQueries.trainedSphericalCells(s, d, e, k)
      .toDF("cent_id", "cu")
    engine.ScratchCache.persist(
      e.join(broadcast(cents))
        .select(col("vec_id"), col("u"), col("cent_id"),
          dot(col("u"), col("cu")).as("cd"))
        .groupBy(col("vec_id"))
        .agg(expr("max_by(cent_id, struct(cd, -cent_id))").as("cent_id"),
          first(col("u")).as("u")))
  }

  /** Every within-cell ORDERED pair of an assignment frame, as
    * (cent_id, vec_id, u, nbr_id, nu) — the shared enumerator of
    * [[dedupSemantic]] and [[knnGraphFrame]], with a HOT-CELL CAP (r14
    * verdict item 3). The √N cell recipe balances AVERAGE cell size,
    * but a clustered real corpus concentrates mass: one hot cell
    * re-quadratizes the self-join O(cell²) inside a single reducer
    * (the isotropic testdata hides this). Cells above
    * `spark.graft.cellcap` members are hash-split into nsb = ⌈m/cap⌉
    * sub-blocks and every DIRECTED sub-block pair (i, j) becomes its
    * own reducer task — the a-side replicates across partner js, the
    * b-side across partner is, and the join keys (cent_id, i, j)
    * spread the grid over nsb² tasks of ≤ cap² pair-verifies each.
    * The enumerated pair set is EXACTLY the uncapped one (a pair with
    * sub-blocks (i, j) meets in task (cell, i, j) and nowhere else), so
    * semantics — and the oracle — are unchanged at any scale;
    * SearchSpec pins cap-active ≡ uncapped on both consumers. Below
    * the cap nsb = 1 and the grid degenerates to the plain cell
    * equi-join. */
  private def cellPairs(s: SparkSession, asg: DataFrame): DataFrame = {
    val cap = s.conf.get("spark.graft.cellcap",
      CellCapDefault.toString).toInt
    // one row per cell — bounded by the cell count (~√N under the
    // recipe), always broadcastable
    val nsbF = asg.groupBy(col("cent_id"))
      .agg(ceil(count(lit(1)) / lit(cap)).cast("int").as("nsb"))
    val sb = asg.join(broadcast(nsbF), "cent_id")
      .withColumn("sb", pmod(hash(col("vec_id")), col("nsb")).cast("int"))
    val aRep = sb
      .withColumn("pj", explode(sequence(lit(0), col("nsb") - 1)))
      .select(col("cent_id"), col("vec_id"), col("u"),
        col("sb"), col("pj"))
    val bRep = sb
      .withColumn("pi", explode(sequence(lit(0), col("nsb") - 1)))
      .select(col("cent_id").as("bcent"), col("vec_id").as("nbr_id"),
        col("u").as("nu"), col("sb").as("bsb"), col("pi"))
    aRep.join(bRep,
        col("cent_id") === col("bcent") && col("pj") === col("bsb") &&
          col("sb") === col("pi"))
      .select(col("cent_id"), col("vec_id"), col("u"),
        col("nbr_id"), col("nu"))
  }

  private def dedupSemantic = Q(
    (s, d) => {
      val asg = cellAssign(s, d, "spark.graft.semdedup.k")
      val dropped = cellPairs(s, asg)
        .filter(col("vec_id") < col("nbr_id") &&
          dot(col("u"), col("nu")) >= SemThr)
        .select(col("nbr_id").as("vec_id")).distinct()
      asg.join(dropped.withColumn("_dup", lit(1)), Seq("vec_id"), "left")
        .select(col("vec_id"), col("cent_id"),
          col("_dup").isNull.as("kept"))
        .orderBy("vec_id")
    },
    Some(LlmQueries.coarseChainSqlK(
      engine.Core.oracleK("spark.graft.semdedup.k")) + s""",
      sdx AS (SELECT eu.vec_id, c.cent_id,
               list_sum(list_transform(list_zip(eu.u, c.cu),
                 p -> p[1] * p[2])) AS cd
              FROM eu CROSS JOIN c2 c),
      sda AS (SELECT vec_id, cent_id FROM sdx
              QUALIFY row_number() OVER (PARTITION BY vec_id
                ORDER BY cd DESC, cent_id) = 1),
      sdd AS (SELECT DISTINCT b.vec_id
              FROM sda a JOIN sda b
                ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
              JOIN eu ua ON ua.vec_id = a.vec_id
              JOIN eu ub ON ub.vec_id = b.vec_id
              WHERE list_sum(list_transform(list_zip(ua.u, ub.u),
                p -> p[1] * p[2])) >= $SemThr)
      SELECT s.vec_id, s.cent_id, (dd.vec_id IS NULL) AS kept
      FROM sda s LEFT JOIN sdd dd ON dd.vec_id = s.vec_id
      ORDER BY s.vec_id"""))

  // ----------------------------------------------- B53l sim_knn_graph
  /** Neighbors kept per vector in the kNN graph. */
  private val KnnK = 3

  /** B53l: cluster-blocked k-nearest-neighbor GRAPH build — for EVERY
    * corpus vector, its top-[[KnnK]] cosine neighbors among the vectors
    * sharing its coarse cell (the memoized spherical codebook every
    * IVF/cluster consumer shares). The all-vectors generalization of
    * sim_search_topk's 5-query serving path, and the primitive a modern
    * curation stack builds ONCE and reads everywhere: SemDeDup-style
    * pruning, density/outlier estimation, label propagation, kNN
    * distillation — all start from this table. Extends the reference's
    * "serve everything ingested" readout (GetNmeaData
    * class.nmea.parser.php:369-371) from a keyed lookup to an
    * all-pairs-structured derived table.
    *
    * Shape at 100 TB: identical to [[dedupSemantic]] — broadcast-
    * codebook map-side argmax assignment (no corpus shuffle), ONE
    * exchange on cent_id, within-cell self-join bounded by O(Σ cell²)
    * with the cell count scaled ∝ corpus to hold ⟨cell⟩ constant (the
    * SemDeDup recipe); the per-vector top-k is a rank inside the cell
    * partition, never a global sort. Neighbors across cell boundaries
    * are the clustering's blocking approximation — exactly IVF serving
    * at nprobe=1, the published build-time trade (NN-Descent or
    * multi-probe assignment are the refinement paths; the blocked
    * exact-verify core is what they refine). */
  /** The ranked kNN frame (vec_id, rank ≤ [[KnnK]], nbr_id, cos) —
    * [[simKnnGraph]]'s body, shared with [[graphPagerank]] so the
    * centrality pass runs over exactly the edges the graph op emits.
    *
    * Cell count = `spark.graft.knng.k` (default 16, the test-scale
    * point the oracle replays — the dedup_semantic contract). The scale
    * recipe is k ∝ √N (cells AND cell size grow as √N, balancing the
    * O(N·k) assignment against the O(N·⟨cell⟩) pair enumeration —
    * total O(N^1.5), vs quadratic at any FIXED k). A replicated 30×
    * corpus (round 14) measured the fixed-16 build super-linear (6.15×
    * at 3× data) and linear under the √N recipe; a scaled run sets the
    * key as a `-D` property (README, "Scale sanity"). At 100 TB the
    * coarse quantizer goes hierarchical (IVF-HNSW / two-level k-means),
    * which refines this same blocking without changing the within-cell
    * exact-verify core. */
  private[engine] def knnGraphFrame(s: SparkSession, d: String): DataFrame = {
    // SESSION-keyed (a deterministic corpus-scale encode is a model
    // artifact, not query work): the ranked edge table is the
    // shared substrate of SEVEN readouts (sim_knn_graph, pagerank,
    // label_prop, triangle_count, shortest_path, embedding_outlier_knn,
    // blockedKnnRecall), each of which re-ran the assignment +
    // within-cell pair verify per bench run. The frame is (long, long,
    // double, int) × N·K — id-table scale, orders of magnitude under
    // its source. Its 6 consumer ops' summed t1: 8.6 s cached, 32.2 s
    // without (sf0.1, 4 cores, medians of 3 Bench runs). Key includes
    // the cell-count conf: a run under a
    // √N-scaled spark.graft.knng.k must not read the 16-cell artifact.
    val cells = s.conf.get("spark.graft.knng.k", "16").toInt
    engine.ScratchCache.persistKeyed(
      engine.Core.fpKey(s"knng_edges_c$cells", d, "embeddings"))(
      cellPairs(s, cellAssign(s, d, "spark.graft.knng.k"))
        .filter(col("vec_id") =!= col("nbr_id"))
        .select(col("vec_id"), col("nbr_id"),
          dot(col("u"), col("nu")).as("cos"))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("vec_id"))
            .orderBy(col("cos").desc, col("nbr_id"))))
        .filter(col("rank") <= KnnK))
  }

  /** Measured WITHIN-CELL recall of the blocked kNN build against the
    * exact corpus-wide top-[[KnnK]], over the deterministic query
    * sample `vec_id % sampleMod == 0` — r14 verdict item 5: the √N
    * cell recipe's recall trade was asserted from the SemDeDup
    * literature; this measures it in-engine at whatever (corpus, k)
    * point the session confs select. SearchSpec pins small-scale
    * floors at two k points. The exact side is a broadcast-sample
    * nested-loop over the corpus (|sample| · N dots — a QA readout's
    * budget, not a serving path). */
  def blockedKnnRecall(s: SparkSession, d: String, sampleMod: Int)
      : Double = {
    val e = LlmQueries.unitCorpus(s, d)
    val q = e.filter(pmod(col("vec_id"), lit(sampleMod.toLong)) === 0)
      .select(col("vec_id").as("qid"), col("u").as("qu"))
    val exact = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nbr_id"),
        dot(col("qu"), col("u")).as("cos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("cos").desc, col("nbr_id"))))
      .filter(col("rk") <= KnnK)
      .select(col("qid"), col("nbr_id"))
    val blocked = knnGraphFrame(s, d) // honors spark.graft.knng.k
      .select(col("vec_id").as("qid"), col("nbr_id"))
      .join(q.select(col("qid")), Seq("qid"), "leftsemi")
    val tot = exact.count()
    if (tot == 0) 0.0
    else exact.join(blocked, Seq("qid", "nbr_id"), "leftsemi")
      .count().toDouble / tot
  }

  private def simKnnGraph = Q(
    (s, d) => knnGraphFrame(s, d)
      .select(col("vec_id"), col("rank"), col("nbr_id"),
        r4(col("cos")).as("cosine"))
      .orderBy("vec_id", "rank"),
    Some(LlmQueries.coarseChainSqlK(
      engine.Core.oracleK("spark.graft.knng.k")) + knnSqlCtes + s"""
      SELECT vec_id,
        row_number() OVER (PARTITION BY vec_id
          ORDER BY cos DESC, nbr_id) AS rank,
        nbr_id, round(cos, 4) AS cosine
      FROM gp QUALIFY rank <= $KnnK ORDER BY vec_id, rank"""))

  // ------------------------------------------ B53z embedding_outlier_knn
  /** B53z: kNN-DISTANCE OUTLIER SCORE — for every corpus vector, 1 −
    * (mean cosine to its top-[[KnnK]] blocked neighbors): the classic
    * distance-based outlier readout (the k-distance core of LOF,
    * Breunig et al. 2000, without the density ratio) and the third
    * consumer of the kNN graph the curation stack builds once
    * (sim_knn_graph → pagerank / label-prop / THIS). High score =
    * isolated in embedding space — the rare-or-junk tail a pipeline
    * inspects before sampling; near-zero = deep inside a dense region.
    * Vectors alone in their coarse cell have no neighbors and score
    * 1.0 with k_found = 0 (the blocked build's honest answer, not an
    * imputed one).
    *
    * Shape at 100 TB: the graph build is the shared cluster-blocked
    * pass (O(N^1.5) under the √N cell recipe); this op adds ONE
    * key-partitioned agg over the edge list plus a left join back to
    * the corpus ids. Float discipline: the neighbor cosines are summed
    * over the ASCENDING-sorted list in both engines (a fixed fold
    * order, the dot-product rule applied to an aggregation), and the
    * mean's one division + the floor-form 4-dp round are the same IEEE
    * sequence everywhere. */
  private val embeddingOutlierKnn = Q(
    (s, d) => {
      val g = knnGraphFrame(s, d)
        .groupBy(col("vec_id"))
        .agg(count(lit(1)).as("k_found"),
          aggregate(sort_array(collect_list(col("cos"))), lit(0.0),
            (a, x) => a + x).as("scos"))
      LlmQueries.unitCorpus(s, d).select(col("vec_id"))
        .join(g, Seq("vec_id"), "left")
        .withColumn("q", when(col("k_found").isNull, lit(1.0))
          .otherwise(lit(1.0) - col("scos") / col("k_found").cast("double")))
        .select(col("vec_id"),
          coalesce(col("k_found"), lit(0L)).as("k_found"),
          (floor(col("q") * lit(1e4) + lit(0.5)) / lit(1e4)).as("outlier"))
        .orderBy("vec_id")
    },
    Some(LlmQueries.coarseChainSqlK(
      engine.Core.oracleK("spark.graft.knng.k")) + knnSqlCtes + s""",
      okn AS (SELECT vec_id, cos FROM (
               SELECT vec_id, cos, row_number() OVER (PARTITION BY vec_id
                 ORDER BY cos DESC, nbr_id) AS rank FROM gp)
              WHERE rank <= $KnnK),
      oks AS (SELECT vec_id, count(*) AS k_found,
               list_sum(list_sort(list(cos))) AS scos
              FROM okn GROUP BY vec_id)
      SELECT eu.vec_id, coalesce(k.k_found, 0)::BIGINT AS k_found,
        floor((CASE WHEN k.vec_id IS NULL THEN 1.0
               ELSE 1.0 - k.scos / k.k_found END) * 1e4 + 0.5) / 1e4
          AS outlier
      FROM eu LEFT JOIN oks k ON k.vec_id = eu.vec_id
      ORDER BY eu.vec_id"""))

  /** The within-cell pair CTEs (assignment → same-cell cosine pairs),
    * ending in `gp(vec_id, nbr_id, cos)` over coarseChainSql's
    * `eu`/`c2` — shared by [[simKnnGraph]] and [[graphPagerank]]. */
  private def knnSqlCtes: String = """,
      gax AS (SELECT eu.vec_id, c.cent_id,
               list_sum(list_transform(list_zip(eu.u, c.cu),
                 p -> p[1] * p[2])) AS cd
              FROM eu CROSS JOIN c2 c),
      ga AS (SELECT vec_id, cent_id FROM gax
             QUALIFY row_number() OVER (PARTITION BY vec_id
               ORDER BY cd DESC, cent_id) = 1),
      gp AS (SELECT a.vec_id, b.vec_id nbr_id,
               list_sum(list_transform(list_zip(ua.u, ub.u),
                 p -> p[1] * p[2])) AS cos
             FROM ga a JOIN ga b
               ON a.cent_id = b.cent_id AND a.vec_id <> b.vec_id
             JOIN eu ua ON ua.vec_id = a.vec_id
             JOIN eu ub ON ub.vec_id = b.vec_id)"""

  // ----------------------------------- B58d sim_knn_graph_incremental
  /** B58d: the kNN similarity graph maintained ONLINE — [[simKnnGraph]]
    * as a cross-run fold, the incremental-ANN-maintenance job a
    * continuously-fed embedding corpus runs instead of rebuilding the
    * graph nightly. The coarse quantizer is a PRE-EXISTING model
    * artifact (trained before going online — the production posture;
    * here the shared [[LlmQueries.trainedSphericalCells]] codebook, so
    * the oracle's 16-cell replay matches). Per ingest batch:
    *
    *  1. assign the batch's vectors to cells (broadcast codebook;
    *     unit-normalization is [[LlmQueries.unitEmbeddings]]'s exact
    *     expression chain, so every cosine is bit-identical to the
    *     batch build);
    *  2. read ONLY the member-store segments that can hold the batch's
    *     cells ([[engine.stream.AppendTable.readPruned]] on cent_id —
    *     segment skipping, not a full-store scan);
    *  3. enumerate the batch's new within-cell pairs — batch×prior in
    *     BOTH directions plus batch×batch (a≠b). Each unordered pair
    *     is generated exactly once, when its LATER member arrives, so
    *     the union over any trigger split is exactly the batch build's
    *     pair universe;
    *  4. fold into the graph state: per-node top-[[KnnK]] over
    *     (state ∪ new edges) — associative (the stream_topk identity:
    *     topk(topk(A) ∪ B) = topk(A ∪ B)), committed under the
    *     [[engine.stream.VersionedTable]] atomic pointer;
    *  5. append the batch's (cell, vector) rows to the member store —
    *     O(batch) written, never O(store).
    *
    * Decomposition invariance (3) + fold associativity (4) make ANY
    * trigger split land on the batch [[simKnnGraph]] result exactly —
    * the whole-corpus DuckDB oracle is simKnnGraph's verbatim, and
    * SearchSpec pins a 3-round split. Per-trigger cost is
    * O(batch × cellmates) pair dots + O(keys) state rewrite; nothing
    * scales with total history except the pruned member read. */
  private def simKnnGraphIncremental = Q(
    (s, d) => {
      import s.implicits._
      val san = d.replaceAll("[^a-zA-Z0-9]", "_")
      val memberStore = new java.io.File(s"${engine.Core.scratchRoot}/graft_knngm_store_$san")
      val graphState = new java.io.File(s"${engine.Core.scratchRoot}/graft_knng_state_$san")
      engine.stream.AppendTable.destroy(memberStore) // fresh replay
      engine.stream.VersionedTable.destroy(graphState)
      val k = s.conf.get("spark.graft.knng.k", "16").toInt
      val cents = LlmQueries.trainedSphericalCells(s, d,
        LlmQueries.unitCorpus(s, d), k).toDF("cent_id", "cu")
      // the batch-side unitization — unitEmbeddings' exact op chain
      def unitize(batch: DataFrame): DataFrame = batch
        .select(col("vec_id"), asDouble(col("embedding")).as("v"))
        .withColumn("nrm", norm(col("v")))
        .select(col("vec_id"), transform(col("v"), x => x / col("nrm"))
          .as("u"))
        .filter(col("u").isNotNull)
      def asgOf(batch: DataFrame): DataFrame = unitize(batch)
        .join(broadcast(cents))
        .select(col("vec_id"), col("u"), col("cent_id"),
          dot(col("u"), col("cu")).as("cd"))
        .groupBy(col("vec_id"))
        .agg(expr("max_by(cent_id, struct(cd, -cent_id))").as("cent_id"),
          first(col("u")).as("u"))
      val src0 = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val memberSchema = asgOf(src0.limit(0)).schema
      val mergeBatch: (DataFrame, Long) => Unit = (batch, batchId) => {
        val sp = batch.sparkSession
        val basg = asgOf(batch).persist() // one micro-batch lifetime
        try {
          val prior = engine.stream.AppendTable.readPruned(sp, memberStore,
            memberSchema, "cent_id", basg.select(col("cent_id"))).df
          val bp = basg.select(col("cent_id").as("bc"),
            col("vec_id").as("bid"), col("u").as("bu"))
          val pm = prior.select(col("cent_id").as("pc"),
            col("vec_id").as("pid"), col("u").as("pu"))
          // batch×prior, both directions + batch×batch (a ≠ b)
          val bxp = bp.join(pm, col("bc") === col("pc"))
          val newEdges = bxp.select(col("bid").as("vec_id"),
              col("pid").as("nbr_id"), dot(col("bu"), col("pu")).as("cos"))
            .unionByName(bxp.select(col("pid").as("vec_id"),
              col("bid").as("nbr_id"), dot(col("pu"), col("bu")).as("cos")))
            .unionByName(bp.as("x").join(bp.as("y"),
                col("x.bc") === col("y.bc") && col("x.bid") =!= col("y.bid"))
              .select(col("x.bid").as("vec_id"), col("y.bid").as("nbr_id"),
                dot(col("x.bu"), col("y.bu")).as("cos")))
          val prev = engine.stream.VersionedTable.read(sp, graphState)
            .getOrElse(sp.emptyDataFrame.select(lit(0L).as("vec_id"),
              lit(0L).as("nbr_id"), lit(0.0).as("cos")).limit(0))
          val merged = prev.unionByName(newEdges)
            .withColumn("rk", row_number().over(
              Window.partitionBy(col("vec_id"))
                .orderBy(col("cos").desc, col("nbr_id"))))
            .filter(col("rk") <= KnnK)
            .select(col("vec_id"), col("nbr_id"), col("cos"))
          engine.stream.VersionedTable.commit(merged, graphState, batchId)
          engine.stream.AppendTable.append(basg, memberStore, batchId)
        } finally { basg.unpersist(); () }
      }
      val src = engine.stream.StreamQueries.asFileStream(s, src0,
        s"knngincr_$san", orderedBy = Some("vec_id"),
        maxFilesPerTrigger = Some(engine.stream.StreamQueries.SourceFiles))
      engine.stream.StreamQueries.withMicroBatchConfs(s)(
        engine.stream.StreamQueries.runToCompletion(
          src.writeStream.foreachBatch(mergeBatch), "knng_incr"))
      engine.stream.VersionedTable.read(s, graphState)
        .getOrElse(sys.error(s"knn graph state missing at $graphState"))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("vec_id"))
            .orderBy(col("cos").desc, col("nbr_id"))))
        .select(col("vec_id"), col("rank"), col("nbr_id"),
          r4(col("cos")).as("cosine"))
        .orderBy("vec_id", "rank")
    },
    // whole-corpus oracle: the batch sim_knn_graph chain verbatim
    Some(LlmQueries.coarseChainSqlK(
      engine.Core.oracleK("spark.graft.knng.k")) + knnSqlCtes + s"""
      SELECT vec_id,
        row_number() OVER (PARTITION BY vec_id
          ORDER BY cos DESC, nbr_id) AS rank,
        nbr_id, round(cos, 4) AS cosine
      FROM gp QUALIFY rank <= $KnnK ORDER BY vec_id, rank"""))

  // ------------------------------------------ B58c graph_triangle_count
  /** B58c: TRIANGLE COUNT + local clustering coefficient over the kNN
    * similarity graph — the community-density readout beside
    * [[graphPagerank]] (centrality) and [[graphLabelProp]] (label
    * smoothing): a node in a tight duplicate/boilerplate community
    * closes most of its wedges (coefficient → 1), an isolated bridge
    * doc closes none — the standard graph feature curation stacks use
    * to find template farms that pairwise dedup under-counts. Directed
    * kNN edges are symmetrized to distinct undirected pairs first;
    * each triangle a<b<c is enumerated ONCE (ordered wedge (a<b)(b<c)
    * closed by the (a,c) edge — the classic compact-forward algorithm)
    * and credited to all three corners.
    *
    * Shape at 100 TB: the wedge join is bounded by Σ deg² ≤ N·(2k)²
    * (degree ≤ 2·[[KnnK]] by construction), the closure check is one
    * more equi-join against the edge table, and every frame is (long,
    * long) pairs — O(N·k²) total with no corpus payload anywhere. All
    * integer counts; the only double is the final coefficient ratio. */
  private def graphTriangleCount = Q(
    (s, d) => {
      val und = engine.ScratchCache.persist(
        knnGraphFrame(s, d)
          .select(least(col("vec_id"), col("nbr_id")).as("a"),
            greatest(col("vec_id"), col("nbr_id")).as("b"))
          .distinct())
      val tri = und.as("x")
        .join(und.as("y"), col("y.a") === col("x.b"))
        .select(col("x.a").as("ta"), col("x.b").as("tb"),
          col("y.b").as("tc"))
        .join(und.select(col("a").as("ta"), col("b").as("tc")),
          Seq("ta", "tc"))
      val perNode = tri
        .select(explode(array(col("ta"), col("tb"), col("tc")))
          .as("vec_id"))
        .groupBy(col("vec_id")).agg(count(lit(1)).as("triangles"))
      val deg = und
        .select(explode(array(col("a"), col("b"))).as("vec_id"))
        .groupBy(col("vec_id")).agg(count(lit(1)).as("degree"))
      deg.join(perNode, Seq("vec_id"), "left")
        .select(col("vec_id"), col("degree"),
          coalesce(col("triangles"), lit(0L)).as("triangles"),
          engine.Core.r4(when(col("degree") > 1,
              lit(2.0) * coalesce(col("triangles"), lit(0L)) /
                (col("degree") * (col("degree") - 1)))
            .otherwise(lit(0.0))).as("clustering"))
        .orderBy("vec_id")
    },
    Some(LlmQueries.coarseChainSqlK(
      engine.Core.oracleK("spark.graft.knng.k")) + knnSqlCtes + s""",
      ted AS (SELECT vec_id, nbr_id FROM (
               SELECT vec_id, nbr_id,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY cos DESC, nbr_id) rank
               FROM gp) WHERE rank <= $KnnK),
      tund AS (SELECT DISTINCT least(vec_id, nbr_id) a,
                 greatest(vec_id, nbr_id) b FROM ted),
      ttri AS (SELECT x.a ta, x.b tb, y.b tc
               FROM tund x JOIN tund y ON y.a = x.b
               JOIN tund z ON z.a = x.a AND z.b = y.b),
      tpn AS (SELECT v AS vec_id, count(*) triangles FROM (
               SELECT unnest([ta, tb, tc]) v FROM ttri) GROUP BY 1),
      tdg AS (SELECT v AS vec_id, count(*) degree FROM (
               SELECT unnest([a, b]) v FROM tund) GROUP BY 1)
      SELECT d.vec_id, d.degree,
        COALESCE(t.triangles, 0)::BIGINT AS triangles,
        round(CASE WHEN d.degree > 1
          THEN 2.0 * COALESCE(t.triangles, 0) / (d.degree * (d.degree - 1))
          ELSE 0.0 END, 4) AS clustering
      FROM tdg d LEFT JOIN tpn t USING (vec_id)
      ORDER BY d.vec_id"""))

  // ----------------------------------------------- B58 graph_pagerank
  /** Power-iteration rounds / damping factor (the canonical 0.85). */
  private val PrRounds = 10
  private val PrDamp = "0.85"

  /** B58: PageRank CENTRALITY over the kNN similarity graph — the
    * readout that turns [[simKnnGraph]]'s edge table into a per-doc
    * importance signal: a document central to its semantic neighborhood
    * scores high, an outlier scores ≈ (1−d)/N. Curation stacks use
    * exactly this over similarity/link graphs for quality weighting and
    * diversity-aware sampling; it also demonstrates the engine's
    * iterative-dataflow posture on GRAPHS (the BPE trainer and the
    * pointer-halving CC are the sequence/set counterparts).
    *
    * Determinism discipline: per round, each node's contribution
    * pr/outdeg is quantized to an integer NANO grid BEFORE the in-sum
    * (order-free long addition — the micronat rule at 1e-9, matching
    * the lloydRound norm grid), and the damped update
    * (1−d)/N + d·(Σ/1e9) uses the same double literals in both engines;
    * dangling leakage (a node in a singleton cell has no out-edges) is
    * NOT redistributed — the simple variant, identical on both sides.
    *
    * Shape at 100 TB: E = N·k edges; each round is one edge join on src
    * (edges pre-partitioned by src, pr co-partitioned — one exchange of
    * (id, long) rows) + one in-sum shuffle on dst, O(E) per round with
    * [[engine.Core.checkpointFresh]] truncating lineage per round (the
    * tokenize_bpe_apply discipline). Rounds are a fixed constant; no
    * driver-side data movement beyond the 1-scalar node count.
    *
    * Early-exit on convergence: CONSIDERED AND REJECTED (r17 verdict
    * item 8). A hash-preserving exit needs an EXACT fixed point — only
    * then are the skipped rounds no-ops — and on the nano grid that
    * never happens inside 10 rounds: per-round deltas shrink by the
    * damping factor (0.85×) from an initial ~1/N ≈ 5e-5, so crossing
    * the 5e-10 rounding threshold takes ~ln(1e5)/ln(1/0.85) ≈ 60
    * rounds. A TOLERANCE exit (the L∞ < 1e-6 variant) fires around
    * round 5 but changes pr_nano in the ~1e3 low bits — and the static
    * CTE-unroll oracle cannot mirror a data-dependent round count, so
    * the hash contract breaks. Fixed 10 rounds stays: cost is linear
    * in E and the constant is the contract both engines execute. */
  private def graphPagerank = Q(
    (s, d) => {
      // the whole iteration runs over N·k integer edge rows — 32-wide
      // exchanges paid pure task-scheduling overhead per round (the
      // cluster_dbscan / graph_k_core conf rationale; a cluster sizes
      // this to edge count in the job conf)
      engine.Core.withConfs(s)("spark.sql.shuffle.partitions" ->
          engine.Core.smallFrameWidth(s).toString) {
      val rawEdges = knnGraphFrame(s, d)
        .select(col("vec_id").as("src"), col("nbr_id").as("dst"))
      // out-degree folded into the persisted edge table ONCE (a window
      // over the src partitioning, no extra shuffle) — the per-round
      // plan then runs ONE join (pr) instead of two (od + pr), 10×
      val edges = engine.ScratchCache.persist(rawEdges
        .repartition(col("src"))
        .withColumn("od", count(lit(1)).over(
          Window.partitionBy(col("src")))))
      val nodes = engine.ScratchCache.persist(
        LlmQueries.unitCorpus(s, d).select(col("vec_id")))
      val n = nodes.count().toDouble
      val damp = lit(PrDamp.toDouble)
      val base = lit(0.15) / lit(n)
      var pr = nodes.withColumn("pr", lit(1.0) / lit(n))
      for (r <- 1 to PrRounds) {
        val contrib = edges
          .join(pr.withColumnRenamed("vec_id", "src"), "src")
          .select(col("dst"),
            round(col("pr") / col("od") * lit(1e9), 0).cast("long")
              .as("m"))
          .groupBy(col("dst")).agg(sum(col("m")).as("im"))
        val next = nodes.join(contrib.withColumnRenamed("dst", "vec_id"),
            Seq("vec_id"), "left")
          .select(col("vec_id"),
            (base + damp *
              (coalesce(col("im"), lit(0L)).cast("double") / lit(1e9)))
              .as("pr"))
        // checkpoint every SECOND round, not every round: the eager
        // localCheckpoint is a full driver-scheduled job, and a 2-round
        // lineage is still constant-depth (join + agg + join, twice) —
        // halves the per-op job count with identical integer-grid math
        // (plan statistics stay bounded; checkpointFresh's reset only
        // matters past ~2 self-references per round, see its doc)
        pr = if (r % 2 == 0 || r == PrRounds)
          engine.Core.checkpointFresh(next) else next
      }
      pr.select(col("vec_id"),
          round(col("pr") * lit(1e9), 0).cast("long").as("pr_nano"))
        .orderBy("vec_id")
      }
    },
    Some {
      def prRound(k: Int): String = s""",
      pk$k AS (SELECT e.dst,
               sum(CAST(round(p.pr / o.od * 1e9, 0) AS BIGINT)) im
              FROM ked e JOIN odeg o ON o.src = e.src
              JOIN p${k - 1} p ON p.vec_id = e.src
              GROUP BY 1),
      p$k AS (SELECT nd.vec_id,
               0.15::DOUBLE / nn.n + $PrDamp::DOUBLE *
                 (coalesce(c.im, 0)::DOUBLE / 1e9) AS pr
              FROM nodes nd CROSS JOIN nn
              LEFT JOIN pk$k c ON c.dst = nd.vec_id)"""
      LlmQueries.coarseChainSqlK(
      engine.Core.oracleK("spark.graft.knng.k")) + knnSqlCtes + s""",
      ked AS (SELECT vec_id src, nbr_id dst FROM (
               SELECT vec_id, nbr_id,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY cos DESC, nbr_id) rank
               FROM gp) WHERE rank <= $KnnK),
      nodes AS (SELECT vec_id FROM eu),
      nn AS (SELECT count(*) n FROM nodes),
      odeg AS (SELECT src, count(*) od FROM ked GROUP BY 1),
      p0 AS (SELECT vec_id, 1.0::DOUBLE / nn.n AS pr
             FROM nodes CROSS JOIN nn)""" +
      (1 to PrRounds).map(prRound).mkString + s"""
      SELECT vec_id, CAST(round(pr * 1e9, 0) AS BIGINT) AS pr_nano
      FROM p$PrRounds ORDER BY vec_id"""
    })

  // ------------------------------------------- B58b graph_label_prop
  /** Label-propagation rounds. */
  private val LpRounds = 3

  /** B58b: LABEL PROPAGATION over the kNN similarity graph — the
    * community-smoothing readout beside [[graphPagerank]]'s centrality:
    * each node repeatedly adopts the MAJORITY label among itself and
    * its kNN neighbors (ties → the smallest label), [[LpRounds]]
    * synchronous rounds. Curation stacks run exactly this to denoise
    * sparse domain/quality labels over a similarity graph (a mislabeled
    * doc inside a coherent neighborhood flips; boundary docs surface as
    * `changed`). All-integer counts ⇒ no float discipline needed; the
    * oracle unrolls the rounds as CTEs over the same edge table.
    *
    * Shape at 100 TB: per round one src-keyed edge join + one
    * (id, label) count shuffle = O(E) = O(N·k), lineage truncated per
    * round ([[engine.Core.checkpointFresh]]); rounds are a fixed
    * constant; no driver-side data. */
  private def graphLabelProp = Q(
    (s, d) => {
      val edges = engine.ScratchCache.persist(knnGraphFrame(s, d)
        .select(col("vec_id").as("src"), col("nbr_id").as("dst"))
        .repartition(col("src")))
      val l0 = engine.ScratchCache.persist(
        engine.Core.t(s, d, "embeddings")
          .select(col("vec_id"), col("label"))
          .join(LlmQueries.unitCorpus(s, d).select(col("vec_id")),
            Seq("vec_id"), "leftsemi"))
      var lbl = l0
      for (_ <- 1 to LpRounds) {
        val votes = edges
          .join(lbl.withColumnRenamed("vec_id", "dst"), "dst")
          .select(col("src").as("vec_id"), col("label"))
          .unionByName(lbl)
          .groupBy(col("vec_id"), col("label"))
          .agg(count(lit(1)).as("c"))
        lbl = engine.Core.checkpointFresh(
          votes.groupBy(col("vec_id"))
            .agg(expr("max_by(label, struct(c, -label))").as("label")))
      }
      l0.withColumnRenamed("label", "label0")
        .join(lbl, "vec_id")
        .select(col("vec_id"), col("label0"), col("label"),
          (col("label") =!= col("label0")).as("changed"))
        .orderBy("vec_id")
    },
    Some {
      def lpRound(r: Int): String = s""",
      lpv$r AS (SELECT e.src AS vec_id, l.label, count(*) c
               FROM lped e JOIN lp${r - 1} l ON l.vec_id = e.dst
               GROUP BY 1, 2
               UNION ALL SELECT vec_id, label, 1 FROM lp${r - 1}),
      lps$r AS (SELECT vec_id, label, sum(c) c FROM lpv$r GROUP BY 1, 2),
      lp$r AS (SELECT vec_id, label FROM lps$r
              QUALIFY row_number() OVER (PARTITION BY vec_id
                ORDER BY c DESC, label) = 1)"""
      LlmQueries.coarseChainSqlK(
      engine.Core.oracleK("spark.graft.knng.k")) + knnSqlCtes + s""",
      lped AS (SELECT vec_id src, nbr_id dst FROM (
               SELECT vec_id, nbr_id,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY cos DESC, nbr_id) rank
               FROM gp) WHERE rank <= $KnnK),
      lp0 AS (SELECT eb.vec_id, eb.label FROM embeddings eb
              JOIN eu ON eu.vec_id = eb.vec_id)""" +
      (1 to LpRounds).map(lpRound).mkString + s"""
      SELECT a.vec_id, a.label AS label0, b.label AS label,
        (a.label <> b.label) AS changed
      FROM lp0 a JOIN lp$LpRounds b ON b.vec_id = a.vec_id
      ORDER BY a.vec_id"""
    })

  // ------------------------------------------- B58e graph_shortest_path
  /** BFS hop bound. */
  private val SpHops = 4

  /** B58e: BOUNDED SHORTEST PATH (k-hop BFS) over the kNN similarity
    * graph — min hop count from the standard seed set (vec_id < 5, the
    * query convention) to every node within [[SpHops]] hops, over the
    * SYMMETRIZED edges. The classic neighborhood-expansion readout a
    * curation stack runs to ask "what sits N similarity steps from
    * this (flagged / seed / query) set" — contamination blast radius,
    * labeled-seed expansion, dataset neighborhoods — and beside
    * pagerank (global centrality) and label-prop (local majority), the
    * remaining classic propagation primitive the graph family lacked.
    *
    * Synchronous relaxation, not frontier-delta: each round re-expands
    * the WHOLE reached set and re-takes min(dist) — a few extra
    * integer-tuple rows at this fan-out, in exchange for
    * round-for-round equality with the oracle's unrolled CTEs (and
    * no reachability corner when a shorter path arrives late).
    * All-integer distances ⇒ no float discipline needed.
    *
    * Shape at 100 TB: per round one dst-keyed edge join + one min
    * shuffle = O(E) = O(N·k), rounds a fixed constant, lineage
    * truncated per round ([[engine.Core.checkpointFresh]]); the right
    * production variant past a few hops is bidirectional/weighted
    * Δ-stepping, which changes the frontier policy, not this join
    * shape. */
  private def graphShortestPath = Q(
    (s, d) => {
      val g = knnGraphFrame(s, d)
        .select(col("vec_id").as("v"), col("nbr_id").as("u"))
      val edges = engine.ScratchCache.persist(
        g.unionByName(g.select(col("u").as("v"), col("v").as("u")))
          .distinct().repartition(col("v")))
      var dist = LlmQueries.unitCorpus(s, d)
        .filter(col("vec_id") < 5)
        .select(col("vec_id").as("v"), lit(0).as("dist"))
      for (_ <- 1 to SpHops) {
        dist = engine.Core.checkpointFresh(
          dist.unionByName(
              edges.join(dist, "v")
                .select(col("u").as("v"), (col("dist") + 1).as("dist")))
            .groupBy(col("v"))
            .agg(min(col("dist")).as("dist")))
      }
      dist.select(col("v").as("vec_id"), col("dist"))
        .orderBy("vec_id")
    },
    Some {
      def hop(r: Int): String = s""",
      sp$r AS (SELECT v, min(dist) AS dist FROM (
               SELECT v, dist FROM sp${r - 1}
               UNION ALL
               SELECT e.u, s.dist + 1 FROM sp${r - 1} s
               JOIN sped e ON e.v = s.v) GROUP BY v)"""
      LlmQueries.coarseChainSqlK(
        engine.Core.oracleK("spark.graft.knng.k")) + knnSqlCtes + s""",
      spk AS (SELECT vec_id v, nbr_id u FROM (
               SELECT vec_id, nbr_id,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY cos DESC, nbr_id) rank
               FROM gp) WHERE rank <= $KnnK),
      sped AS (SELECT v, u FROM spk UNION SELECT u, v FROM spk),
      sp0 AS (SELECT vec_id AS v, 0 AS dist FROM eu WHERE vec_id < 5)""" +
      (1 to SpHops).map(hop).mkString + s"""
      SELECT v AS vec_id, dist FROM sp$SpHops ORDER BY vec_id"""
    })

  // ------------------------------------------ B53e sim_search_matryoshka
  /** Matryoshka prefix dims / coarse depth / final depth. A trained MRL
    * embedding concentrates signal in a short prefix (P of 8-16 serves
    * well); the driver's synthetic embeddings are isotropic, so the
    * prefix carries only P/64 of the direction — P=32 (half the bytes)
    * at coarse depth 100 holds recall@5 ≈ 0.88 on them (SearchSpec
    * pins ≥ 0.8). The I/O shape is what matters: stage 1 reads P/64 of
    * the vector bytes, stage 2 reads C full vectors per query. */
  private val MrlP = 32
  private val MrlC = 100
  private val MrlTopK = 5

  /** B53e: two-stage Matryoshka retrieval — coarse-rank the corpus by
    * the RE-NORMALIZED first-[[MrlP]]-dim prefix cosine (an MRL
    * embedding's low-dim head), keep the top-[[MrlC]] per query, rerank
    * those by full-dimension cosine. The standard accuracy/IO trade of
    * MRL serving: stage 1 touches P/64 of the vector bytes (a columnar
    * scan of a prefix column at rest), stage 2 touches C full vectors
    * per query instead of the corpus. Recall vs the exact top-k is
    * asserted in SearchSpec; determinism is the vector ladder's —
    * exact-order dots, sqrt, tie-broken ranks. Vectors whose prefix is
    * identically zero have no coarse direction and are excluded by the
    * pn > 0 guard on BOTH engines. */
  private val simSearchMatryoshka = Q(
    (s, d) => {
      val e = LlmQueries.unitCorpus(s, d)
      val pe = e
        .select(col("vec_id"), slice(col("u"), 1, MrlP).as("p"))
        .withColumn("pn", norm(col("p")))
        .filter(col("pn") > 0)
        .select(col("vec_id"),
          transform(col("p"), x => x / col("pn")).as("pu"))
      val qp = pe.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("pu").as("qpu"))
      val coarse = pe.join(broadcast(qp), col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("cid"),
          dot(col("qpu"), col("pu")).as("pcos"))
        .withColumn("crk", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("pcos").desc, col("cid"))))
        .filter(col("crk") <= MrlC)
        .select(col("qid"), col("cid"))
      val qv = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("u").as("qu"))
      e.join(broadcast(coarse), col("vec_id") === col("cid"))
        .join(broadcast(qv), Seq("qid"))
        .select(col("qid"), col("cid"), dot(col("qu"), col("u")).as("cos"))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("cos").desc, col("cid"))))
        .filter(col("rank") <= MrlTopK)
        .select(col("qid"), col("cid"), col("rank"),
          r4(col("cos")).as("cosine"))
        .orderBy("qid", "rank")
    },
    Some(LlmQueries.unitSql + s""",
      meu AS (SELECT vec_id, u FROM e WHERE u IS NOT NULL),
      mpp AS (SELECT vec_id, u[1:$MrlP] p FROM meu),
      mpn AS (SELECT vec_id, p,
               sqrt(list_sum(list_transform(p, x -> x * x))) pn FROM mpp),
      mpe AS (SELECT vec_id, list_transform(p, x -> x / pn) pu
              FROM mpn WHERE pn > 0),
      mq AS (SELECT vec_id qid, pu qpu FROM mpe WHERE vec_id < 5),
      ms1 AS (SELECT mq.qid, mpe.vec_id cid,
               list_sum(list_transform(list_zip(mq.qpu, mpe.pu),
                 p -> p[1] * p[2])) pcos
              FROM mq, mpe WHERE mpe.vec_id <> mq.qid),
      mc1 AS (SELECT qid, cid FROM ms1
              QUALIFY row_number() OVER (PARTITION BY qid
                ORDER BY pcos DESC, cid) <= $MrlC),
      ms2 AS (SELECT mc1.qid, mc1.cid,
               list_sum(list_transform(list_zip(a.u, b.u),
                 p -> p[1] * p[2])) cos
              FROM mc1 JOIN meu a ON a.vec_id = mc1.qid
                       JOIN meu b ON b.vec_id = mc1.cid)
      SELECT qid, cid,
        row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) rank,
        round(cos, 4) AS cosine
      FROM ms2 QUALIFY rank <= $MrlTopK ORDER BY qid, rank"""))

  // ------------------------------------------- B53f ann_recall_report
  /** Runs `bodies` with at most `lanes` of them at once and waits for
    * all; the first failure rethrows after every body has finished, so
    * a crashed lane never leaves the others running unseen. One lane runs
    * them in order on the caller's thread. Threads are created here, so
    * they inherit the caller's job description. Used only by
    * [[annRecallReport]]'s rung fan-out. */
  private def inLanes(lanes: Int)(bodies: Seq[() => Unit]): Unit = {
    if (lanes <= 1) { bodies.foreach(_.apply()); return }
    val sem = new java.util.concurrent.Semaphore(lanes)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = bodies.map { b =>
      val t = new Thread(() => {
        sem.acquire()
        try b() catch { case e: Throwable => errs.add(e): Unit }
        finally sem.release()
      })
      t.start(); t
    }
    ts.foreach(_.join())
    if (!errs.isEmpty) throw errs.peek()
  }

  /** B53f: in-engine retrieval QA — recall@5 of every approximate
    * search rung (SRP-ANN, IVF, PQ-ADC, Matryoshka) against the exact
    * brute-force top-5, per query and per method. The eval harness a
    * production vector-serving stack runs after every index rebuild:
    * index-quality regressions (a bad codebook round, an over-pruned
    * probe list) surface as recall drops BEFORE queries do. Composes
    * the already-verified search operators — both here and in the
    * oracle, which nests each rung's full replayed SQL chain as a CTE
    * (DuckDB scopes nested WITHs per subquery, so the chains compose
    * without renaming).
    *
    * Cost/scale: the expensive part IS the searches (each already
    * plan-audited); this report adds only top-k-frame joins —
    * ≤ methods × queries × 5 rows. */
  private val annRecallReport = Q(
    (s, d) => {
      import s.implicits._
      // every frame past the rungs' corpus scans is query-scale (top-k
      // lists, the ≤ methods × queries grid) — 32-wide exchanges paid
      // pure task scheduling across 10 rungs (the cluster_dbscan /
      // graph_pagerank conf rationale; at 32 the report ran 85 stages /
      // 1312 tasks warm for 50 rows). Materialized eagerly inside
      // the scope so the caller's action replays rows, not the plan.
      // AQE off for the report window (the withMicroBatchConfs
      // rationale applied here): with AQE on, every exchange of every
      // rung's serve materialized as its own serialized stage job —
      // ~150 driver futures for top-k-scale frames whose partition
      // count is already pinned. Measured at sf0.1: warm 4.8–6.3 s
      // with AQE → 3.4–3.8 s without, cold flat. Semantics-free
      // (results oracle-gated); the rung threads plan inside this
      // window by design. Not withMicroBatchConfs:
      // constraint propagation stays on, so the plans stay as measured.
      engine.Core.withConfs(s)(
          "spark.sql.shuffle.partitions" ->
            engine.Core.smallFrameWidth(s).toString,
          "spark.sql.adaptive.enabled" -> "false") {
      // the exact ground truth is consumed TWICE (the hit join and the
      // completeness grid) and Spark does not dedupe common subplans
      // across join branches — unpersisted, the brute-force corpus scan
      // ran once per consumer; persisted for this op, it runs once
      val brute = engine.ScratchCache.persist(
        LlmQueries.queries("sim_search_topk").fn(s, d)
          .select(col("qid"), col("cid"), lit(1L).as("hit")))
      // Two operating points per approximate rung (r12 verdict item 4):
      // the serving default, and a wider/finer point — SRP rebanded 8×2
      // (2-bit buckets collide far more often than 4-bit: more
      // candidates, higher recall, same coded corpus), IVF probing 8 of
      // 16 cells (half the corpus instead of a quarter), PQ at K=256
      // centroids per subspace (the canonical FAISS 8-bit-code point;
      // the verdict's suggested M=8 split was MEASURED FLAT at 0.16 on
      // this data — splitting finer can't fix 16-cell-per-subspace
      // quantization noise, more centroids can). Recall@5 measured at
      // sf0.01: ann 0.40 → 0.96 (8×2), ivf 0.56 → 0.80 (nprobe 8),
      // pq_adc 0.16 → 0.40 (K=256), matryoshka 0.92. The r14
      // residual-encoded IVF-PQ points (FAISS by_residual=true, its
      // IndexIVFPQ default): ivfpq raw 0.16 (= pq_adc — the nprobe-4
      // cell restriction costs nothing beyond K=16 quantization noise
      // here), pq_res 0.08, pq_res256 0.24 — residual encoding HALVES
      // recall at K=16 and stays below raw at K=256 (0.24 vs 0.40),
      // because on isotropic vectors the coarse centroids explain ~no
      // variance: the residual is the raw vector minus a near-random
      // direction, which breaks the subspace structure the raw encode
      // had. On clustered real-corpus embeddings the sign flips (the
      // published FAISS default exists for that regime); measuring the
      // regime-dependence in-engine is this report's purpose. CEILING: the
      // vectors are ISOTROPIC synthetic (TESTDATA.md) — neighbors
      // barely concentrate, so the cheap rungs are structurally bounded
      // below 1 (PQ hardest: quantization error ≈ full variance on
      // random data). On clustered real-corpus embeddings the same
      // ladder concentrates toward 1; the REPORT is the deliverable.
      val rungs: Seq[(String, () => DataFrame)] = Seq(
        "ann" -> (() => LlmQueries.queries("sim_search_ann").fn(s, d)),
        "ann_b8x2" -> (() => LlmQueries.srpAnnTopK(s, d, 8, 2)),
        "ivf" -> (() => LlmQueries.queries("sim_search_ivf").fn(s, d)),
        "ivf_np8" -> (() => LlmQueries.ivfTopK(s, d, 8)),
        "matryoshka" -> (() => simSearchMatryoshka.fn(s, d)),
        "pq_adc" -> (() => LlmQueries.queries("sim_search_pq_adc").fn(s, d)),
        "pq_k256" -> (() => CurateQueries.pqAdcTopKFor(s, d, 4, 16, 256)),
        "ivfpq" -> (() =>
          CurateQueries.queries("sim_search_ivfpq_indexed").fn(s, d)),
        "pq_res" -> (() => CurateQueries.ivfPqResidualTopK(s, d)),
        "pq_res256" -> (() => CurateQueries.ivfPqResidualTopK(s, d, 4, 16, 256)))
      // The ten rungs are mutually independent serving queries (disjoint
      // or memo-guarded index builds; every shared sub-frame sits behind
      // a keyed/once cache), so each top-k frame — ≤ queries × topK rows
      // — is materialized in one of a few lanes. checkpointFresh per
      // rung also severs the 10 corpus-scan subtrees from the final grid
      // plan, which the optimizer re-planned as one 10-branch union.
      // Lanes scale with the master's cores (cores/4, capped at 4, so a
      // master under 8 cores runs the rungs in order): cold, each rung
      // trains its index or codebook first, and 10 concurrent builds
      // thrashed the heap (117 s t1 against ~18 s serial), and a fixed
      // 4 lanes on an 8-thread master took 14.3 s where the serial form
      // took 6.9 s on 32 threads. Warm, the lanes pay: at local[32] on 4
      // cores t2 read 6.5-8.6 s with 4 lanes against 11.2-12.3 s in order.
      val lanes = math.max(1, math.min(4,
        s.sparkContext.defaultParallelism / 4))
      val rungTop = new Array[DataFrame](rungs.size)
      inLanes(lanes)(rungs.zipWithIndex.map { case ((m, f), i) =>
        () => rungTop(i) = engine.Core.checkpointFresh(
          f().select(lit(m).as("method"), col("qid"), col("cid")))
      })
      val hits = rungTop.reduce(_ unionAll _)
        .join(brute, Seq("qid", "cid"), "left")
        .groupBy(col("method"), col("qid"))
        .agg(count(col("hit")).as("h"))
      // every (method, query) cell must exist: a rung that emits NOTHING
      // for a query (collision-free bands, an over-pruned probe list —
      // exactly the regression this report exists to catch) is
      // recall 0.0, not a silently missing row
      val grid = brute.select(col("qid")).distinct()
        .crossJoin(rungs.map(_._1).toDF("method"))
      engine.Core.checkpointFresh(
        grid.join(hits, Seq("method", "qid"), "left")
          .select(col("method"), col("qid"),
            coalesce(col("h"), lit(0L)).as("hits"),
            r4(coalesce(col("h"), lit(0L)).cast("double") / lit(5.0))
              .as("recall"))
          .orderBy("method", "qid"))
      }
    },
    Some {
      def nest(q: Q): String = q.oracle.get
      s"""WITH arb AS (${nest(LlmQueries.queries("sim_search_topk"))}),
        arm1 AS (${nest(LlmQueries.queries("sim_search_ann"))}),
        arm1b AS (${LlmQueries.srpAnnOracleSqlFor(8, 2)}),
        arm2 AS (${nest(LlmQueries.queries("sim_search_ivf"))}),
        arm2b AS (${LlmQueries.ivfOracleSql("vec_id < 5", 8)}),
        arm3 AS (${nest(simSearchMatryoshka)}),
        arm4 AS (${nest(LlmQueries.queries("sim_search_pq_adc"))}),
        arm4b AS (${CurateQueries.pqAdcOracleSqlFor(4, 16, 256)}),
        armI AS (${nest(CurateQueries.queries("sim_search_ivfpq_indexed"))}),
        arm5 AS (${CurateQueries.pqResidualOracleSql()}),
        arm5b AS (${CurateQueries.pqResidualOracleSql(4, 16, 256)}),
        arsel AS (SELECT 'ann' AS method, qid, cid FROM arm1
          UNION ALL SELECT 'ann_b8x2', qid, cid FROM arm1b
          UNION ALL SELECT 'ivf', qid, cid FROM arm2
          UNION ALL SELECT 'ivf_np8', qid, cid FROM arm2b
          UNION ALL SELECT 'matryoshka', qid, cid FROM arm3
          UNION ALL SELECT 'pq_adc', qid, cid FROM arm4
          UNION ALL SELECT 'pq_k256', qid, cid FROM arm4b
          UNION ALL SELECT 'ivfpq', qid, cid FROM armI
          UNION ALL SELECT 'pq_res', qid, cid FROM arm5
          UNION ALL SELECT 'pq_res256', qid, cid FROM arm5b),
        arhits AS (SELECT s.method, s.qid, count(b.cid) h
                   FROM arsel s LEFT JOIN arb b
                     ON b.qid = s.qid AND b.cid = s.cid
                   GROUP BY 1, 2),
        argrid AS (SELECT m.method, q.qid
                   FROM (SELECT unnest(['ann', 'ann_b8x2', 'ivf',
                     'ivf_np8', 'ivfpq', 'matryoshka', 'pq_adc',
                     'pq_k256', 'pq_res', 'pq_res256'])
                     AS method) m
                   CROSS JOIN (SELECT DISTINCT qid FROM arb) q)
      SELECT g.method, g.qid, coalesce(h.h, 0)::BIGINT AS hits,
        round(coalesce(h.h, 0)::DOUBLE / 5.0, 4) AS recall
      FROM argrid g LEFT JOIN arhits h
        ON h.method = g.method AND h.qid = g.qid
      ORDER BY g.method, g.qid"""
    })

  // ------------------------------------------- B53g stream_bm25_probe
  /** B53g: ONLINE lexical retrieval — the [[streamAnnProbe]] twin for
    * the keyword modality, completing serving-time hybrid retrieval: an
    * offline job builds the BM25 index ONCE (posting table + per-term
    * df + corpus stats, three co-versioned tables under one
    * [[engine.stream.VersionedTable]] atomic pointer — a probe must
    * never see new postings with old stats), then query documents
    * arrive as an ordered file stream and each micro-batch is answered
    * from the static index via the SHARED [[bm25Rank]] join — results
    * append O(batch) per trigger. A verdict is f(query text, static
    * index), so any trigger split hash-matches the whole-query-set
    * replay (SearchSpec pins a 2-trigger split).
    *
    * Shape at 100 TB: the posting table is the serving index (bucketed
    * by term hash at rest so a probe prunes to its query terms'
    * buckets); df-of-query-terms and the 1-row stats ride broadcasts;
    * per-trigger work is bounded by batch query terms × matching
    * postings, never the corpus. */
  private val streamBm25Probe = Q(
    (s, d) => {
      val QMax = 40
      val san = d.replaceAll("[^a-zA-Z0-9]", "_")
      // ---- offline index build (replace-on-rebuild state): each call
      // commits a fresh version; no other op reads this index
      val idxRoot = new java.io.File(s"${engine.Core.scratchRoot}/graft_bm25_index_$san")
      locally {
        val posts = bm25Postings(docs(s, d), Some(engine.Core.fpKey("bm25posts", d, "documents")))
        val dfs = posts.groupBy(col("term")).agg(count(lit(1)).as("df"))
        val glob = posts.groupBy(col("doc_id"))
          .agg(first(col("dl")).as("dl"))
          .agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
        val id = engine.stream.VersionedTable.currentDir(idxRoot)
          .map(_.getName.stripPrefix("v").toLong + 1).getOrElse(0L)
        engine.stream.VersionedTable.commitDir(idxRoot, id) { dir =>
          posts.write.parquet(new java.io.File(dir, "postings").getPath)
          dfs.write.parquet(new java.io.File(dir, "dfs").getPath)
          glob.write.parquet(new java.io.File(dir, "stats").getPath)
        }
      }
      // ---- probe: pure function of (query batch, static index)
      val resRoot = new java.io.File(s"${engine.Core.scratchRoot}/graft_bm25probe_res_$san")
      engine.stream.AppendTable.destroy(resRoot) // fresh replay
      def probe(batch: DataFrame): DataFrame = {
        val sp = batch.sparkSession
        val cur = engine.stream.VersionedTable.currentDir(idxRoot).get
        val iPosts = sp.read.parquet(new java.io.File(cur, "postings").getPath)
        val iDfs = sp.read.parquet(new java.io.File(cur, "dfs").getPath)
        val iGlob = sp.read.parquet(new java.io.File(cur, "stats").getPath)
        val qt = batch
          .select(col("doc_id").as("qid"),
            explode(tokens(col("text"))).as("term"))
          .distinct()
        val qdf = iDfs.join(qt.select(col("term")).distinct(), "term")
        bm25Rank(iPosts, qt, qdf, iGlob)
          .select(col("qid"), col("cid"), col("rank"),
            r4(col("ms") / lit(1e6)).as("score"))
      }
      val src0 = docs(s, d).filter(col("doc_id") < QMax)
        .select(col("doc_id"), col("text"))
      val resSchema = probe(src0.limit(0)).schema
      // single-trigger default (an answer is f(query, static index);
      // SearchSpec pins the 16-files = 2-batch serving split)
      val src = engine.stream.StreamQueries.asFileStream(s, src0,
        s"bm25q_$san", orderedBy = Some("doc_id"),
        maxFilesPerTrigger = Some(engine.stream.StreamQueries.SourceFiles))
      val serveBatch: (DataFrame, Long) => Unit = (batch, batchId) =>
        engine.stream.AppendTable.append(probe(batch), resRoot, batchId)
      engine.stream.StreamQueries.withMicroBatchConfs(s)(
        engine.stream.StreamQueries.runToCompletion(
          src.writeStream.foreachBatch(serveBatch), "bm25_probe"))
      engine.stream.AppendTable.read(s, resRoot, resSchema)
        .orderBy("qid", "rank")
    },
    Some(("WITH " + bm25SqlCtes("doc_id < 40").trim.stripPrefix(",")) + s"""
      SELECT qid, cid, rank, round(ms::DOUBLE / 1e6, 4) AS score
      FROM ltop ORDER BY qid, rank"""))

  // ------------------------------------- segmented BM25 index (B54 layout)
  /** The SEGMENTED index layout [[pipelineOnline]] maintains: version
    * `v<id>/` under the [[engine.stream.VersionedTable]] pointer holds
    * ONLY a `SEGMENTS` manifest (one line per live segment); the posting
    * data lives in immutable `segments/seg-<batchId>/` directories, each
    * carrying the batch's `postings/` (doc_id, term, tf, dl), its
    * per-segment `dfs/` (term, df) DELTA, and a 1-row `stats/` counter
    * table (n_docs, dl_sum). A commit writes one O(batch) segment plus a
    * few-line manifest — never the cumulative posting set (r13 verdict:
    * the previous full-rewrite commit was O(corpus) read+write I/O per
    * trigger, the one shipped design that contradicted the 100 TB
    * posture). Readers merge at query time: postings = manifest-listed
    * segment union, df = Σ per-segment df (term counts are disjoint-
    * segment sums, so the merge is exact), n_docs/avgdl from the summed
    * counters (all-integer sums < 2^53, so avgdl ≡ avg(dl) bit-exactly).
    * This is the Lucene / lakehouse commit shape: append-only segments
    * + an atomic manifest swap, with compaction a SEPARATE maintenance
    * concern, not an ingest-path cost.
    *
    * Crash safety (single writer, the foreachBatch contract): a death
    * mid-segment-write leaves an unreferenced dir the replayed batch id
    * overwrites; a death between segment write and manifest commit is
    * the same (the segment is invisible until its manifest lands); the
    * manifest commit itself is [[engine.stream.VersionedTable]]'s atomic
    * pointer swap. Version ids are a monotonic counter shared by ingest
    * commits AND compactions (never raw batch ids — a post-compaction
    * batch id could equal the current version and be silently
    * swallowed by the replay guard); a replayed BATCH is detected by
    * its segment already being manifest-listed. */
  private[engine] def idxSegments(idxRoot: java.io.File): Seq[String] =
    engine.stream.VersionedTable.currentDir(idxRoot).map { cur =>
      java.nio.file.Files
        .readAllLines(new java.io.File(cur, "SEGMENTS").toPath)
        .toArray(Array.empty[String]).toSeq.filter(_.nonEmpty)
    }.getOrElse(Seq.empty)

  /** The merged read view of the segmented index: (postings, dfs, glob)
    * exactly as [[bm25Rank]] wants them. The df merge shuffles only the
    * per-segment (term, df) deltas — vocabulary-scale, never
    * posting-scale — and the stats merge is a counter sum. */
  private[engine] def readSegIndex(sp: SparkSession,
      idxRoot: java.io.File): (DataFrame, DataFrame, DataFrame) = {
    val segs = idxSegments(idxRoot)
    def paths(sub: String) = segs.map(sg =>
      new java.io.File(idxRoot, s"segments/$sg/$sub").getPath)
    val posts = sp.read.parquet(paths("postings"): _*)
    val dfs = sp.read.parquet(paths("dfs"): _*)
      .groupBy(col("term")).agg(sum(col("df")).as("df"))
    val glob = sp.read.parquet(paths("stats"): _*)
      .agg(sum(col("n_docs")).as("nd"), sum(col("dl_sum")).as("ds"))
      .select(col("nd").as("n_docs"),
        (col("ds").cast("double") / col("nd")).as("avgdl"))
    (posts, dfs, glob)
  }

  /** Commit one batch's survivor documents as a fresh index segment +
    * manifest version. O(batch) I/O: tokenization, the (doc_id, term)
    * shuffle, and all three writes touch this batch's docs only. The
    * drop rule only ever drops the NEWER doc, so a batch's survivors
    * are final the moment they pass — segments never need rewriting. */
  private[engine] def commitIndexSegment(sp: SparkSession, idxRoot: java.io.File,
      batchId: Long, survivors: DataFrame,
      posts: Option[DataFrame] = None): Unit = {
    val segName = s"seg-$batchId"
    val cur = idxSegments(idxRoot)
    if (cur.contains(segName)) return // committed replay: no-op
    // `posts`: callers that already hold the survivors' posting rows
    // (e.g. a doc-range slice of the shared corpus posting table —
    // tokenization is per-document, so a doc subset's postings ARE the
    // corresponding subset of the corpus posting table) pass them and
    // skip the per-segment tokenize+shuffle chain; the streaming
    // capstones keep deriving postings from the batch (their survivors
    // exist only at trigger time).
    writeIndexSegmentData(sp, idxRoot, segName,
      posts.getOrElse(bm25Postings(survivors, None)))
    appendSegmentManifest(idxRoot, segName)
  }

  /** The DATA half of [[commitIndexSegment]]: write one segment's
    * postings + df/stats deltas, no manifest touch. Segment data dirs
    * are disjoint; only the manifest append below is single-writer. */
  private def writeIndexSegmentData(sp: SparkSession,
      idxRoot: java.io.File, segName: String, segIn: DataFrame): Unit = {
    val segDir = new java.io.File(idxRoot, s"segments/$segName")
    val pDir = new java.io.File(segDir, "postings")
    segIn.write.mode("overwrite").parquet(pDir.getPath)
    // derive the deltas from the segment's own parquet — one extra
    // O(batch) scan instead of recomputing the tokenize+shuffle chain
    val segPosts = sp.read.parquet(pDir.getPath)
    segPosts.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .write.mode("overwrite")
      .parquet(new java.io.File(segDir, "dfs").getPath)
    segPosts.groupBy(col("doc_id")).agg(first(col("dl")).as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("dl_sum"))
      .write.mode("overwrite")
      .parquet(new java.io.File(segDir, "stats").getPath)
  }

  /** The MANIFEST half of [[commitIndexSegment]]: list an
    * already-written segment in a fresh manifest version. Single-writer
    * (the VersionedTable contract); replay-idempotent. */
  private def appendSegmentManifest(idxRoot: java.io.File,
      segName: String): Unit = {
    val cur = idxSegments(idxRoot)
    if (cur.contains(segName)) return
    // Version ids are a MONOTONIC COUNTER (current + 1), never the
    // batch id: a compaction also advances the counter, so an ingest
    // resuming after one could present a batch id equal to the current
    // version — and commitDir's idempotent-replay early return would
    // silently skip listing the batch's segment. Replay
    // idempotence for THIS batch id is the `cur.contains(segName)`
    // check above, which is what actually identifies a replay.
    val vid = engine.stream.VersionedTable.currentDir(idxRoot)
      .map(_.getName.stripPrefix("v").toLong + 1).getOrElse(0L)
    engine.stream.VersionedTable.commitDir(idxRoot, vid) { dir =>
      dir.mkdirs() // parquet writers mkdir implicitly; a bare file must
      java.nio.file.Files.writeString(
        new java.io.File(dir, "SEGMENTS").toPath,
        (cur :+ segName).mkString("", "\n", "\n"))
    }
  }

  // --------------------------------- B57 index segment-merge maintenance
  /** MAINTENANCE: fold the segmented BM25 index's live segments into ONE
    * merged segment under a fresh manifest version — the Lucene
    * segment-merge / lakehouse-OPTIMIZE half of the segmented layout
    * ([[commitIndexSegment]] keeps ingest commits O(batch); THIS keeps
    * the segment count bounded over a long ingest, off the ingest
    * path). The folded segment's df/stats are re-derived from its own
    * written postings (the per-segment-delta discipline), which equals
    * the merged deltas exactly — term counts over the union ≡ Σ
    * disjoint-segment counts — so serving is bit-identical before and
    * after. Postings rewrite range-clustered on (term, doc_id): a
    * probe's query-term restriction then prunes row groups by min/max
    * term stats.
    *
    * Single-writer contract, like [[engine.stream.AppendTable
    * .compact]]: must not run concurrently with an ingest, and the
    * folded segment name (`seg-c<n>`) sits outside the batch-id
    * namespace so a later trigger id can never collide. The manifest
    * version id advances past the current one; a crash mid-fold leaves
    * the unreferenced half-written segment for the next fold's
    * overwrite, and the old manifest keeps serving. */
  private[engine] def compactIndexSegments(s: SparkSession,
      idxRoot: java.io.File): Unit = {
    val segs = idxSegments(idxRoot)
    if (segs.size <= 1) return
    val gen = segs.filter(_.startsWith("seg-c"))
      .map(_.stripPrefix("seg-c").toLong).maxOption.getOrElse(-1L) + 1
    val folded = s"seg-c$gen"
    val (posts, _, _) = readSegIndex(s, idxRoot)
    // data-sized range partitioning (no explicit count — AQE coalesces
    // small folds to ~1 file): a pinned 1 was a single-threaded sort of
    // the ENTIRE index, measured 12.9× past linear at the 100× probe.
    // The ranges stay global across files, so term-range zone-map
    // pruning is unchanged.
    writeIndexSegmentData(s, idxRoot, folded,
      posts.repartitionByRange(col("term"), col("doc_id"))
        .sortWithinPartitions(col("term"), col("doc_id")))
    val vid = engine.stream.VersionedTable.currentDir(idxRoot)
      .map(_.getName.stripPrefix("v").toLong + 1).getOrElse(0L)
    engine.stream.VersionedTable.commitDir(idxRoot, vid) { dir =>
      dir.mkdirs()
      java.nio.file.Files.writeString(
        new java.io.File(dir, "SEGMENTS").toPath, folded + "\n")
    }
    Option(new java.io.File(idxRoot, "segments").listFiles())
      .foreach(_.filter(f => f.isDirectory && f.getName != folded)
        .foreach(engine.Core.deleteRecursively))
  }

  /** B57: the index-maintenance operator exercising
    * [[compactIndexSegments]] end-to-end with a losslessness oracle:
    * build a 4-segment BM25 index over ordered doc_id ranges of the
    * full corpus (the [[commitIndexSegment]] ingest shape, no dedup),
    * fold to one segment, and serve the standard id < 5 BM25 top-10
    * from the folded index — which must equal search_bm25's whole-corpus
    * ranking EXACTLY (the df-delta merge and the counter-derived avgdl
    * are the equalities under test), with the before/after segment
    * counts riding every row (4 → 1). */
  private val maintenanceIndexCompact = Q(
    (s, d) => {
      val san = d.replaceAll("[^a-zA-Z0-9]", "_")
      val idxRoot = new java.io.File(s"${engine.Core.scratchRoot}/graft_idxcmp_$san")
      engine.stream.VersionedTable.destroy(idxRoot) // fresh replay
      val corpus = docs(s, d).select(col("doc_id"), col("text"))
      // the 4-segment ingest is TEST SCAFFOLDING for the fold under
      // test — build the slices as doc_id-range filters of the shared
      // session posting table (the bm25posts artifact every search op
      // reads) instead of tokenizing each quarter from scratch:
      // tokenization is per-document, so the filtered rows are
      // bit-identical to a per-slice bm25Postings run
      val allPosts = bm25Postings(docs(s, d),
        Some(engine.Core.fpKey("bm25posts", d, "documents")))
      val maxId = corpus.agg(max(col("doc_id"))).head.getLong(0)
      (0 until 4).foreach { i =>
        val lo = (maxId + 1) * i / 4
        val hi = (maxId + 1) * (i + 1) / 4
        writeIndexSegmentData(s, idxRoot, s"seg-$i",
          allPosts.filter(col("doc_id") >= lo && col("doc_id") < hi))
        appendSegmentManifest(idxRoot, s"seg-$i")
      }
      val segBefore = idxSegments(idxRoot).size
      compactIndexSegments(s, idxRoot)
      val segAfter = idxSegments(idxRoot).size
      val (iPosts, iDfs, iGlob) = readSegIndex(s, idxRoot)
      val qt = iPosts.filter(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), col("term"))
      val qdf = iDfs.join(qt.select(col("term")).distinct(), "term")
      bm25Rank(iPosts, qt, qdf, iGlob)
        .select(col("qid"), col("cid"), col("rank"),
          r4(col("ms") / lit(1e6)).as("score"),
          lit(segBefore).cast("long").as("seg_before"),
          lit(segAfter).cast("long").as("seg_after"))
        .orderBy("qid", "rank")
    },
    Some(("WITH " + bm25SqlCtes().trim.stripPrefix(",")) + s"""
      SELECT qid, cid, rank, round(ms::DOUBLE / 1e6, 4) AS score,
        4::BIGINT AS seg_before, 1::BIGINT AS seg_after
      FROM ltop ORDER BY qid, rank"""))

  // --------------------------------- B59 IVF posting-store compaction
  /** B59: the VECTOR twin of [[maintenanceIndexCompact]] (r14 verdict
    * item 4) — [[pipelineOnlineHybrid]]'s IVF posting store grows one
    * cell-clustered segment per trigger forever; this is the
    * maintenance fold that keeps it bounded, off the ingest path.
    * Replays a 4-append posting-store ingest (the hybrid capstone's 4b
    * shape, no screens: ordered vec_id ranges assigned to the shared
    * offline spherical codebook, appended cell-clustered), serves the
    * standard id < 5 / nprobe 4 probe, folds the store into ONE
    * cell-clustered segment via [[engine.stream.AppendTable.compact]],
    * and serves the SAME probe from the folded store — which must be
    * bit-equal (the losslessness oracle; SearchSpec pins before ≡
    * after, 4 → 1 segments). Clustered on `cent_id` because that is
    * the store's probe key: a probe's nprobe-cell restriction prunes
    * row groups by min/max stats (cell cardinality is 16 — deliberately
    * NOT Bloom-sidecar'd, per the [[engine.stream.BloomSpec]] note).
    * Output = the folded-store probe + the before/after segment
    * counts; oracle = the shared IVF replay, which the segment layout
    * must be invisible to. */
  private val maintenanceIvfCompact = Q(
    (s, d) => {
      import s.implicits._
      val san = d.replaceAll("[^a-zA-Z0-9]", "_")
      val store = new java.io.File(s"${engine.Core.scratchRoot}/graft_ivfcmp_$san")
      engine.stream.AppendTable.destroy(store) // fresh replay
      val e = LlmQueries.unitCorpus(s, d)
      val cents = LlmQueries.trainedSphericalCells(s, d, e)
        .toDF("cent_id", "cu")
      def assignCells(vk: DataFrame): DataFrame = vk
        .join(broadcast(cents))
        .select(col("vec_id"), col("u"), col("cent_id"),
          dot(col("u"), col("cu")).as("cd"))
        .groupBy(col("vec_id"))
        .agg(expr("max_by(cent_id, struct(cd, -cent_id))").as("cent_id"),
          first(col("u")).as("u"))
      val schema = assignCells(e.limit(0)).schema
      val maxId = e.agg(max(col("vec_id"))).head.getLong(0)
      (0 until 4).foreach { i =>
        val lo = (maxId + 1) * i / 4
        val hi = (maxId + 1) * (i + 1) / 4
        engine.stream.AppendTable.append(
          assignCells(e.filter(col("vec_id") >= lo && col("vec_id") < hi))
            .repartitionByRange(col("cent_id"))
            .sortWithinPartitions(col("cent_id")),
          store, i.toLong)
      }
      val segBefore = engine.stream.AppendTable.segmentCount(store)
      engine.stream.AppendTable.compact(s, store, schema, Seq("cent_id"))
      val segAfter = engine.stream.AppendTable.segmentCount(store)
      ivfProbeStore(s, store, schema, e, cents)
        .select(col("qid"), col("cid"), col("rank"), col("cosine"),
          lit(segBefore).cast("long").as("seg_before"),
          lit(segAfter).cast("long").as("seg_after"))
        .orderBy("qid", "rank")
    },
    Some(LlmQueries.ivfOracleSql(extraCols =
      ", 4::BIGINT AS seg_before, 1::BIGINT AS seg_after")))

  /** The id < 5 / nprobe 4 IVF probe served from an [[engine.stream
    * .AppendTable]] posting store — [[pipelineOnlineHybrid]]'s serve
    * arm and [[maintenanceIvfCompact]]'s losslessness yardstick. */
  private[engine] def ivfProbeStore(s: SparkSession, store: java.io.File,
      schema: org.apache.spark.sql.types.StructType, e: DataFrame,
      cents: DataFrame): DataFrame = {
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("cd").desc, col("cent_id"))
    val vq = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("u").as("qu"))
    val qprobe = vq.join(broadcast(cents))
      .select(col("qid"), col("cent_id"),
        dot(col("qu"), col("cu")).as("cd"))
      .withColumn("rk", row_number().over(wq)).filter(col("rk") <= 4)
      .select(col("qid"), col("cent_id"))
    engine.stream.AppendTable.read(s, store, schema)
      .join(broadcast(qprobe), Seq("cent_id"))
      .filter(col("vec_id") =!= col("qid"))
      .join(broadcast(vq), Seq("qid"))
      .select(col("qid"), col("vec_id").as("cid"),
        dot(col("qu"), col("u")).as("cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("cos").desc, col("cid"))))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("cid"), col("rank"),
        r4(col("cos")).as("cosine"))
  }

  // ----------------------------------- shared online screen stages (B54/B56)
  /** Stage-1 EXACT screen of the online pipelines (the
    * dedup_exact_incremental merge): append digest verdicts to the
    * store, return the batch rows that passed. Shared by
    * [[pipelineOnline]] and [[pipelineOnlineHybrid]] so the two
    * capstones' screens can never diverge. */
  private def exactScreenBatch(dgStore: java.io.File,
      dgSchema: org.apache.spark.sql.types.StructType,
      dgOf: DataFrame => DataFrame)(b: DataFrame, batchId: Long)
      : DataFrame = {
    val sp = b.sparkSession
    val wMin = Window.partitionBy(col("dg")).orderBy(col("doc_id"))
    val sig = dgOf(b).withColumn("rn", row_number().over(wMin))
    // Bloom-pruned store probe (r14 verdict item 2): only segments whose
    // digest sidecar might contain one of THIS batch's digests are
    // scanned — a grown store's untouched segments cost no I/O. The
    // distinct below runs over that PRUNED read (bounded by matching
    // segments), never the whole archive (the per-trigger O(store)
    // shuffle the r14 verdict flagged).
    val pruned = engine.stream.AppendTable.readPruned(sp, dgStore,
      dgSchema, "dg", sig.select(col("dg")))
    // kept ⇔ first-in-batch (rn = 1) AND digest absent from the store:
    // ONE left join on dg — which reuses the window's hash partitioning
    // on dg for the batch side — where the old anti-join-then-rejoin
    // shape (fresh by dg, then mark by doc_id) paid two extra exchanges
    // per trigger for the identical verdict set (guide §2.4: two
    // operations keyed the same way share one exchange).
    val storeDg = pruned.df.select(col("dg")).distinct()
      .withColumn("_s", lit(1))
    val v1 = sig.join(storeDg, Seq("dg"), "left")
      .withColumn("kept", col("rn") === 1 && col("_s").isNull)
      .select(col("doc_id"), col("dg"), col("kept"))
    engine.stream.AppendTable.append(v1, dgStore, batchId,
      Some(engine.stream.BloomSpec.column("dg")))
    // survivors via the JUST-WRITTEN segment, not v1's lineage: v1
    // embeds the window + store-probe anti-join chain, and returning it
    // unmaterialized made every downstream consumer (the minhash
    // signature build, the index commit) re-execute that whole chain —
    // the segment parquet is the same verdict set already materialized,
    // an O(batch) read (the minhashScreenBatch caller-read discipline).
    // REPLAY-AFTER-FOLD corner (r18 review): if this batch id was
    // folded by AppendTable.compact, readSegment returns empty — but so
    // did the old lineage path (the folded store already contains this
    // batch's digests, so v1's anti-join marks everything non-fresh):
    // both formulations yield zero survivors there. The corner is
    // unreachable for these callers — their stores are run-scoped
    // (destroyed at run start) and nothing compacts mid-ingest; the
    // AppendTable replay contract guards STORE integrity (no
    // double-append), not per-batch survivor recovery.
    b.join(engine.stream.AppendTable
        .readSegment(b.sparkSession, dgStore, dgSchema, batchId)
        .filter(col("kept")).select(col("doc_id")),
      Seq("doc_id"), "leftsemi")
  }

  /** Stage-2 MINHASH screen (the dedup_incremental merge, fed stage-1
    * output): signatures of the exact survivors band-join the store and
    * the batch itself; est ≥ 0.5 against any earlier doc drops the
    * newer one; all signatures append with verdicts. The caller reads
    * the store back for this batch's kept ids (materialized by the
    * append — no recompute). */
  private def minhashScreenBatch(sigStore: java.io.File,
      sigSchema: org.apache.spark.sql.types.StructType)
      (exactKept: DataFrame, batchId: Long): Unit = {
    val sp = exactKept.sparkSession
    // a sub-stage label; jobs between two sub()s keep the caller's label
    def sub[T](tag: String)(body: => T): T =
      engine.Core.describe(sp, s"mh:$tag#$batchId")(body)
    val sig = LlmQueries.minhashSignatures(exactKept, spread = false)
      .withColumn("bks", LlmQueries.bandKeys(col("g"))).persist()
    try {
      def bandsOf(t: DataFrame) = t.select(col("doc_id"),
        posexplode(col("bks")).as(Seq("j", "bk")))
      val bands = bandsOf(sig)
      // Bloom-pruned store read: a segment sharing NO md5 band key with
      // this batch can contribute no candidate pair — skip its I/O
      // (pruning on bk alone is conservative: the join still requires
      // the band index j to match)
      val prevSig = sub("probe")(
        engine.stream.AppendTable.readPruned(sp, sigStore,
          sigSchema, "bk", bands.select(col("bk")))).df
      // ONE candidate join (r21 verdict item 3, guide §2.4): the old
      // store×batch and batch×batch band joins shared the (j, bk) key
      // and the SAME `o.doc_id < n.doc_id` drop rule — ordered
      // admission makes every store id smaller than every batch id, so
      // uniting the store bands WITH the batch bands on the older side
      // computes the identical candidate bag in one join (two joins +
      // a result union → one join: one candidate stage per trigger
      // instead of two, and `dropped`'s est verify consumes ONE
      // subtree). No broadcast hint: a same-box A/B (MiniBench ×2)
      // measured the explicit broadcast(bands) slower — three blocking
      // broadcast builds per trigger cost more than 8-partition
      // exchanges of batch-sized frames; on a cluster the planner still
      // broadcasts the O(batch) side by its own size estimate.
      val olds = bandsOf(prevSig).unionByName(bands)
      val cand = olds.as("o").join(bands.as("n"),
          col("n.j") === col("o.j") && col("n.bk") === col("o.bk") &&
            col("o.doc_id") < col("n.doc_id"))
        .select(col("o.doc_id").as("da"), col("n.doc_id").as("db"))
      val sigOnly = (t: DataFrame) => t.select(col("doc_id"), col("g"))
      val dropped = cand
        .join(sigOnly(prevSig).unionByName(sigOnly(sig))
          .toDF("da", "ga"), "da")
        .join(sigOnly(sig).toDF("db", "gb"), "db")
        .filter(LlmQueries.estJaccard(col("ga"), col("gb")) >= 0.5)
        .select(col("db").as("doc_id")).distinct()
      sub("append")(engine.stream.AppendTable.append(
        sig.join(dropped.withColumn("_d", lit(1)), Seq("doc_id"), "left")
          .withColumn("kept", col("_d").isNull).drop("_d"),
        sigStore, batchId, Some(LlmQueries.bandKeyBloom)))
    } finally { sig.unpersist(); () }
  }

  /** One-slot deferred-commit runner for the online capstones: a
    * trigger's INDEX-side commits (the BM25 posting segment, the
    * hybrid's IVF posting append) feed only the SERVE phase and later
    * maintenance folds — never the next trigger's screens — so they run
    * on a sibling thread, overlapped by the next trigger's screen work
    * (per-trigger wall time is the sum of sequential driver actions).
    * Beside [[inLanes]], this is the only place engine code starts a
    * thread; CoreSpec's source scan pins that. `settle` at the next
    * trigger's start serializes the
    * single-writer manifest chain (and keeps ONE commit in flight);
    * `settle` before serve makes the stores visible to the readout; a
    * deferred failure rethrows at settle — fail loud, never a silently
    * missing segment. The thread is created inside the trigger, so its
    * jobs inherit (and may re-tag) the trigger's description. */
  private[engine] final class DeferredCommit {
    private val slot = new java.util.concurrent.atomic.AtomicReference[
      (Thread, java.util.concurrent.atomic.AtomicReference[Throwable])]()
    def settle(): Unit = {
      val p = slot.getAndSet(null)
      if (p != null) {
        p._1.join()
        val e = p._2.get()
        if (e != null) throw e
      }
    }
    /** Join without rethrowing — for failure-path cleanup where a
      * commit error must not mask the original exception. */
    def quietJoin(): Unit = {
      val p = slot.getAndSet(null)
      if (p != null) p._1.join()
    }
    def defer(body: => Unit): Unit = {
      val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val t = new Thread(() =>
        try body catch { case e: Throwable => err.set(e) })
      t.setName("graft-online-commit")
      // occupancy guard: overwriting a live slot
      // would orphan the pending commit — never joined, its failure
      // swallowed, the single-writer manifest chain broken. Callers
      // settle first by discipline; enforce it before starting the
      // thread so a violation leaks nothing.
      if (!slot.compareAndSet(null, (t, err)))
        throw new IllegalStateException(
          "DeferredCommit.defer: a commit is already pending — settle it " +
          "first (single-writer manifest chain)")
      t.start()
    }
  }

  // ---------------------------------------------------- B54 pipeline_online
  /** CAPSTONE №3 — the ONLINE composition the two batch capstones leave
    * open (r12 verdict item 2): one trigger-sequenced run wiring the
    * persisted stores and serving indexes that exist separately as
    * dedup_exact_incremental / dedup_incremental / stream_bm25_probe
    * into the ingest-while-serving loop a production corpus service
    * runs (the reference analogue: the caller feeding `ParseLine`
    * class.nmea.parser.php:103 while `GetNmeaData` :369 serves reads).
    * Per trigger over the ordered document stream:
    *
    *  1. EXACT screen — digest anti-join against the cross-run digest
    *     store, first-ingestion-wins, verdicts appended O(batch);
    *  2. NEAR-DUP screen — minhash signatures of the exact survivors
    *     band-join the signature store (+ the batch against itself),
    *     est ≥ 0.5 against any earlier exact-survivor drops the doc
    *     (the partner's own minhash survival is irrelevant — the
    *     dedup_incremental rule); signatures append with verdicts;
    *  3. INDEX maintenance — the batch's survivors committed as ONE
    *     immutable posting segment + df/stats deltas, published by an
    *     atomic manifest version under the
    *     [[engine.stream.VersionedTable]] pointer (a probe never sees
    *     new postings with old stats, and a trigger's commit I/O is
    *     O(batch), never O(corpus) — see [[commitIndexSegment]]);
    *  4. SERVE — after the run, the standard id < 5 query set is
    *     answered from the CURRENT index version via the shared
    *     [[bm25Rank]] join.
    *
    * Output: the per-stage funnel (pipeline_pretrain's accounting
    * shape) with the probe row count and the exact integer micronat
    * score sum as the serving stages — so the oracle pins the probe
    * CONTENT, not just its cardinality. Ordered admission makes every
    * stage decomposition-invariant (SearchSpec pins the 3-batch split
    * and that the store/index contents equal the batch replay), so the
    * oracle composes the already-pinned chains: dedup_exact's QUALIFY,
    * dedup_minhash's est restricted to exact survivors, and the BM25
    * chain over the survivor corpus. */
  private val pipelineOnline = Q(
    (s, d) => {
      val san = d.replaceAll("[^a-zA-Z0-9]", "_")
      val dgStore = new java.io.File(s"${engine.Core.scratchRoot}/graft_online_dg_$san")
      val sigStore = new java.io.File(s"${engine.Core.scratchRoot}/graft_online_sig_$san")
      val idxRoot = new java.io.File(s"${engine.Core.scratchRoot}/graft_online_idx_$san")
      engine.stream.AppendTable.destroy(dgStore)
      engine.stream.AppendTable.destroy(sigStore)
      engine.stream.VersionedTable.destroy(idxRoot) // fresh replay
      val corpus = docs(s, d).select(col("doc_id"), col("text"))
      def dgOf(batch: DataFrame): DataFrame = batch.select(col("doc_id"),
        coalesce(md5(lower(trim(col("text")))), lit("<null-text>")).as("dg"))
      val dgSchema = dgOf(corpus.limit(0)).schema
        .add("kept", "boolean", nullable = false)
      val sigSchema = LlmQueries
        .minhashSignatures(corpus.limit(0), spread = false)
        .withColumn("bks", LlmQueries.bandKeys(col("g"))).schema
        .add("kept", "boolean", nullable = false)
      val commits = new DeferredCommit
      val mergeBatch: (DataFrame, Long) => Unit = (batch, batchId) => {
        val sp = batch.sparkSession
        // NOT persisted: the batch is a 16-file parquet slice whose three
        // re-reads (digest screen, survivor semi-join, index commit) cost
        // less than a cache round-trip — the persist added an
        // InMemoryRelation layer per trigger for data the scan re-serves
        // from page cache (r21 A/B; the r20 verdict's "drop the second
        // foreachBatch persist" candidate).
        val b = batch
        // per-stage job descriptions: free at run time, and they let
        // OpRecorder's top_jobs split a trigger's cost by stage instead
        // of attributing everything to writeStream.start
        def stage[T](tag: String)(body: => T): T =
          engine.Core.describe(sp, s"online:$tag#$batchId")(body)
        // serialize with the PREVIOUS trigger's deferred index commit
        // (single-writer manifest chain; rethrows its failure here)
        commits.settle()
        // 1-2. exact + minhash screens (the shared stage helpers)
        val exactKept = stage("exact")(
          exactScreenBatch(dgStore, dgSchema, dgOf)(b, batchId))
        stage("minhash")(
          minhashScreenBatch(sigStore, sigSchema)(exactKept, batchId))
        // 3. SEGMENTED index maintenance ([[commitIndexSegment]]):
        // this batch's survivors become ONE immutable segment
        // (postings + df delta + stats counters) and the new version
        // is just a manifest listing prior segments + it — O(batch)
        // read AND write I/O per trigger, the maintenance a 100 TB
        // index demands (a full-rewrite commit re-reads and rewrites
        // the cumulative posting set every trigger)
        // the batch's verdicts live exactly in its own segment — an
        // O(batch) read, never an archive scan post-filtered to ids
        val keptBatch = engine.stream.AppendTable.readSegment(sp,
            sigStore, sigSchema, batchId)
          .filter(col("kept")).select(col("doc_id"))
        // DEFERRED: the segment commit feeds only serve/maintenance
        // (never the next trigger's screens), so it overlaps the next
        // trigger's screen work; keptBatch targets this batch's own
        // sig segment, which later appends never rewrite.
        // The deferred job must not re-execute the foreachBatch frame:
        // using `b` outside its trigger is unsupported
        // by Structured Streaming — it only happens to work while the
        // file source's batch plan pins concrete parquet files (and a
        // probe shows the batch frame exposes no inputFiles to re-read
        // from). So the survivors frame is MATERIALIZED on the trigger
        // thread (one eager O(batch) job: batch scan + segment
        // semijoin) and the deferred thread replays rows, never the
        // trigger-scoped plan. The expensive half of the commit —
        // tokenize, posting shuffle, segment + delta writes — stays
        // deferred.
        val survivors = stage("index")(engine.Core.checkpointFresh(
          b.join(keptBatch, Seq("doc_id"), "leftsemi")))
        commits.defer(stage("index")(
          commitIndexSegment(sp, idxRoot, batchId, survivors)))
      }
      // the trigger-sequenced ingest: 2 "nightly batches" by default —
      // the multi-trigger composition IS this capstone's subject (unlike
      // the single-store ops whose default replays one trigger), and two
      // triggers exercise every cross-batch path (store probes with a
      // non-empty store, an index version superseding another) at 2/3
      // the cost of three; SearchSpec pins the 3-batch split
      val src = engine.stream.StreamQueries.asFileStream(s, corpus,
        s"online_$san", orderedBy = Some("doc_id"),
        maxFilesPerTrigger = Some(16))
      try {
        engine.stream.StreamQueries.withMicroBatchConfs(s) {
          engine.stream.StreamQueries.runToCompletion(
            src.writeStream.foreachBatch(mergeBatch), "online_ingest")
          // the LAST trigger's deferred index commit must land before
          // the serve readout (rethrows its failure). Settled inside the
          // conf scope: the commit thread plans batch-sized frames, and
          // settling after the restore let a still-running commit plan
          // under whatever the session restored to.
          commits.settle()
        }
      } finally commits.quietJoin() // failure path: join without masking
      // 4. serve from the CURRENT index version — the merged segment
      // view; the shared bm25Rank join pins scoring identity.
      // The serve readout runs under the SAME micro-batch confs as the
      // trigger loop (AQE off, pinned small shuffle width) and is
      // materialized eagerly inside the scope: its frames are
      // store-scale (two batch-sized segments + the ≤8-row funnel), and
      // with AQE on, every one of its ~12 exchanges became its own
      // serialized stage job — 19 driver-scheduled jobs for a 6-row
      // report. checkpointFresh pins the result so the caller's action
      // replays 6 rows, not the plan, under whatever confs the session
      // restores to.
      engine.Core.describe(s, "online:serve") {
      engine.stream.StreamQueries.withMicroBatchConfs(s) {
      val (iPosts, iDfs, iGlob) = readSegIndex(s, idxRoot)
      val qt = iPosts.filter(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), col("term"))
      val qdf = iDfs.join(qt.select(col("term")).distinct(), "term")
      val ans = bm25Rank(iPosts, qt, qdf, iGlob)
      val kept1 = engine.stream.AppendTable.read(s, dgStore, dgSchema)
        .filter(col("kept"))
      val kept2 = engine.stream.AppendTable.read(s, sigStore, sigSchema)
        .filter(col("kept"))
      def funnel(stage: String, v: Column, src0: DataFrame): DataFrame =
        src0.agg(coalesce(v, lit(0L)).as("n"))
          .select(lit(stage).as("stage"), col("n").cast("long").as("n"))
      // stages 5 and 6 aggregate the SAME ans frame — as two union
      // branches they executed the whole bm25Rank serve chain twice
      // (Spark does not dedupe common subplans across branches); ONE
      // agg producing both rows runs it once
      val ans56 = ans
        .agg(count(lit(1)).cast("long").as("a5"),
          coalesce(sum(col("ms")), lit(0L)).cast("long").as("a6"))
        .select(explode(array(
          struct(lit("5_probe_answers").as("stage"), col("a5").as("n")),
          struct(lit("6_probe_ms_sum").as("stage"), col("a6").as("n"))))
          .as("f"))
        .select(col("f.stage").as("stage"), col("f.n").as("n"))
      engine.Core.checkpointFresh(
        funnel("1_ingested", count(lit(1)), corpus)
          .unionByName(funnel("2_exact_kept", count(lit(1)), kept1))
          .unionByName(funnel("3_near_kept", count(lit(1)), kept2))
          .unionByName(funnel("4_index_postings", count(lit(1)), iPosts))
          .unionByName(ans56)
          .orderBy("stage"))
      }}
    },
    Some(LlmQueries.shingleSql + LlmQueries.minhashSqlCtes + s""",
      pok AS (SELECT doc_id FROM documents
              QUALIFY row_number() OVER (
                PARTITION BY md5(lower(trim(text))) ORDER BY doc_id) = 1),
      pnd AS (SELECT DISTINCT e.db FROM est e
              JOIN pok a ON a.doc_id = e.da
              JOIN pok b ON b.doc_id = e.db
              WHERE e.e >= 0.5),
      psv AS (SELECT doc_id FROM pok
              WHERE doc_id NOT IN (SELECT db FROM pnd)),
      sdocs AS (SELECT d.doc_id, d.text FROM documents d
                JOIN psv USING (doc_id))""" +
      bm25SqlCtes("doc_id < 5", "sdocs") + """,
      f1 AS (SELECT '1_ingested' stage, count(*)::BIGINT n FROM documents),
      f2 AS (SELECT '2_exact_kept', count(*)::BIGINT FROM pok),
      f3 AS (SELECT '3_near_kept', count(*)::BIGINT FROM psv),
      f4 AS (SELECT '4_index_postings', count(*)::BIGINT FROM bposts),
      f5 AS (SELECT '5_probe_answers', count(*)::BIGINT FROM ltop),
      f6 AS (SELECT '6_probe_ms_sum', coalesce(sum(ms), 0)::BIGINT
             FROM ltop)
      SELECT * FROM f1 UNION ALL SELECT * FROM f2 UNION ALL
      SELECT * FROM f3 UNION ALL SELECT * FROM f4 UNION ALL
      SELECT * FROM f5 UNION ALL SELECT * FROM f6 ORDER BY stage"""))

  // -------------------------------------------- B56 pipeline_online_hybrid
  /** CAPSTONE №4 — [[pipelineOnline]] with the VECTOR modality wired in
    * (r13 verdict item 2): the lexical capstone proved
    * ingest-while-serving for BM25 only; a production corpus service
    * also screens embeddings and serves HYBRID retrieval. Per trigger
    * over the ordered document stream:
    *
    *  1-2. exact + minhash screens — the SAME [[exactScreenBatch]] /
    *       [[minhashScreenBatch]] merges pipeline_online runs;
    *  3.   VECTOR screen — the near-kept survivors' embeddings run the
    *       SRP signature-store merge
    *       ([[IncrementalDedup.srpMergeBatch]], the
    *       dedup_embedding_incremental engine): band-join the store +
    *       the batch, exact cosine ≥ 0.45 against any smaller id drops
    *       the newer document; docs WITHOUT an embedding pass untouched
    *       (at sf0.1 the corpus has 2.5× more docs than vectors);
    *  4.   index maintenance, BOTH modalities O(batch): the BM25
    *       posting segment over the final survivors
    *       ([[commitIndexSegment]]) + the IVF posting append —
    *       surviving vectors assigned to the OFFLINE-trained spherical
    *       codebook (broadcast argmax, map-side; a serving stack trains
    *       its coarse quantizer offline and assigns online), appended
    *       cell-clustered to the vector posting store;
    *  5.   SERVE — hybrid RRF (k=60) for the id < 5 queries:
    *       the lexical arm from the merged segment index via the shared
    *       [[bm25Rank]], the vector arm an IVF probe (nprobe 4 of 16
    *       cells) over the vector posting store, top-10 each,
    *       reciprocal-rank fused top-10 — search_hybrid_rrf's fusion
    *       run against the ONLINE stores instead of batch frames.
    *
    * Output: the funnel with both modalities' stage counts plus an
    * exact integer content checksum of the fused answers
    * (Σ qid·1000003 + cid·31 + rank — order-free, pins the (qid, cid,
    * rank) multiset; the pipeline_online ms-sum discipline without
    * assuming RRF doubles sum associatively). Ordered admission keeps
    * every stage decomposition-invariant; SearchSpec pins the 3-batch
    * split ≡ the single-trigger replay and the store/index contents
    * against the batch operators. */
  private val pipelineOnlineHybrid = Q(
    (s, d) => {
      import s.implicits._
      val san = d.replaceAll("[^a-zA-Z0-9]", "_")
      val dgStore = new java.io.File(s"${engine.Core.scratchRoot}/graft_onlineh_dg_$san")
      val sigStore = new java.io.File(s"${engine.Core.scratchRoot}/graft_onlineh_sig_$san")
      val vecStore = new java.io.File(s"${engine.Core.scratchRoot}/graft_onlineh_vec_$san")
      val vpostStore = new java.io.File(s"${engine.Core.scratchRoot}/graft_onlineh_vpost_$san")
      val idxRoot = new java.io.File(s"${engine.Core.scratchRoot}/graft_onlineh_idx_$san")
      Seq(dgStore, sigStore, vecStore, vpostStore)
        .foreach(engine.stream.AppendTable.destroy)
      engine.stream.VersionedTable.destroy(idxRoot) // fresh replay
      val corpus = docs(s, d).select(col("doc_id"), col("text"))
      def dgOf(batch: DataFrame): DataFrame = batch.select(col("doc_id"),
        coalesce(md5(lower(trim(col("text")))), lit("<null-text>")).as("dg"))
      val dgSchema = dgOf(corpus.limit(0)).schema
        .add("kept", "boolean", nullable = false)
      val sigSchema = LlmQueries
        .minhashSignatures(corpus.limit(0), spread = false)
        .withColumn("bks", LlmQueries.bandKeys(col("g"))).schema
        .add("kept", "boolean", nullable = false)
      val embAll = engine.Core.t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val vecSchema = IncrementalDedup.srpStoreSchema(embAll.limit(0))
      // the OFFLINE codebook artifact (trainedSphericalCells' memo,
      // shared with the whole IVF/cluster family)
      val cents = LlmQueries.trainedSphericalCells(s, d,
        LlmQueries.unitCorpus(s, d)).toDF("cent_id", "cu")
      def assignCells(vk: DataFrame): DataFrame = vk
        .join(broadcast(cents))
        .select(col("vec_id"), col("u"), col("cent_id"),
          dot(col("u"), col("cu")).as("cd"))
        .groupBy(col("vec_id"))
        .agg(expr("max_by(cent_id, struct(cd, -cent_id))").as("cent_id"),
          first(col("u")).as("u"))
      val vpostSchema = assignCells(
        engine.stream.AppendTable.read(s, vecStore, vecSchema)).schema
      val commits = new DeferredCommit
      val mergeBatch: (DataFrame, Long) => Unit = (batch, batchId) => {
        val sp = batch.sparkSession
        // b NOT persisted — see pipelineOnline's mergeBatch
        val b = batch
        // per-stage job descriptions, as pipelineOnline's mergeBatch
        def stage[T](tag: String)(body: => T): T =
          engine.Core.describe(sp, s"onlineh:$tag#$batchId")(body)
        // serialize with the previous trigger's deferred commits
        commits.settle()
        // 1-2. the shared lexical screens
        val exactKept = stage("exact")(
          exactScreenBatch(dgStore, dgSchema, dgOf)(b, batchId))
        stage("minhash")(
          minhashScreenBatch(sigStore, sigSchema)(exactKept, batchId))
        // per-trigger verdict reads are segment-targeted (O(batch)):
        // a batch's verdicts live exactly in its own store segment
        val nearKeptB = engine.stream.AppendTable
          .readSegment(sp, sigStore, sigSchema, batchId)
          .filter(col("kept")).select(col("doc_id"))
        // 3. vector screen on the near-kept survivors' embeddings
        // (doc_id ↔ vec_id row pairing; in a real ingest the vector
        // rides the stream — fetching by the batch's ids is the same
        // batch-bounded read)
        val embB = embAll.join(
          nearKeptB.withColumnRenamed("doc_id", "vec_id"),
          Seq("vec_id"), "leftsemi")
        stage("vec")(
          IncrementalDedup.srpMergeBatch(vecStore, vecSchema)(embB, batchId))
        val vecDroppedB = engine.stream.AppendTable
          .readSegment(sp, vecStore, vecSchema, batchId)
          .filter(!col("kept")).select(col("vec_id").as("doc_id"))
        val keptB = nearKeptB.join(vecDroppedB, Seq("doc_id"), "left_anti")
        // 4a + 4b DEFERRED (the pipelineOnline rationale): both
        // index-side commits feed only serve/maintenance, so they run
        // one after the other on the commit thread, overlapped by the
        // next trigger's screens. The segment reads inside target this
        // batch's own store segments, which later appends never
        // rewrite.
        val vk = engine.stream.AppendTable
          .readSegment(sp, vecStore, vecSchema, batchId)
          .filter(col("kept") && col("u").isNotNull)
        // survivors materialized on the trigger thread so the deferred
        // commit never re-executes the foreachBatch frame — see
        // pipelineOnline's mergeBatch
        val survivors = stage("index")(engine.Core.checkpointFresh(
          b.join(keptB, Seq("doc_id"), "leftsemi")))
        commits.defer {
          // 4a. BM25 posting segment over the final survivors (O(batch))
          stage("index")(
            commitIndexSegment(sp, idxRoot, batchId, survivors))
          // 4b. IVF posting append: this batch's surviving vectors,
          // broadcast-codebook argmax cells, cell-clustered at rest so
          // a probe's cell filter prunes row groups.
          // hash-clustered, not range-clustered: repartitionByRange
          // runs a RANGE-SAMPLING pass over the batch before the
          // exchange — a whole extra per-trigger job for a layout
          // property the probe doesn't need (cell row-group pruning
          // only wants rows of one cell adjacent, which
          // hash-partition + within-file sort already gives; global
          // file ORDER is irrelevant to a cent_id equi-probe). The
          // off-ingest maintenance fold (AppendTable.compact) keeps
          // range clustering.
          stage("ivf")(engine.stream.AppendTable.append(
            assignCells(vk)
              .repartition(col("cent_id"))
              .sortWithinPartitions(col("cent_id")),
            vpostStore, batchId))
        }
      }
      // 2 "nightly batches" by default, as pipeline_online — the
      // multi-trigger composition is the subject; SearchSpec pins the
      // 3-batch split
      val src = engine.stream.StreamQueries.asFileStream(s, corpus,
        s"onlineh_$san", orderedBy = Some("doc_id"),
        maxFilesPerTrigger = Some(16))
      try {
        engine.stream.StreamQueries.withMicroBatchConfs(s) {
          engine.stream.StreamQueries.runToCompletion(
            src.writeStream.foreachBatch(mergeBatch), "onlineh_ingest")
          // the LAST trigger's deferred commits must land before serve,
          // settled inside the conf scope as in pipelineOnline
          commits.settle()
        }
      } finally commits.quietJoin() // failure path: join without masking
      // 5. SERVE hybrid RRF from the online stores, under micro-batch
      // confs + eager materialization, as pipelineOnline's serve — the
      // hybrid adds the vector arm but the frames stay store-scale
      engine.Core.describe(s, "onlineh:serve") {
      engine.stream.StreamQueries.withMicroBatchConfs(s) {
      val (iPosts, iDfs, iGlob) = readSegIndex(s, idxRoot)
      val qt = iPosts.filter(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), col("term"))
      val qdf = iDfs.join(qt.select(col("term")).distinct(), "term")
      val lex = bm25Rank(iPosts, qt, qdf, iGlob)
        .select(col("qid"), col("cid"), col("rank").as("lr"))
      val vq = LlmQueries.unitCorpus(s, d).filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("u").as("qu"))
      val wq = Window.partitionBy(col("qid"))
        .orderBy(col("cd").desc, col("cent_id"))
      val qprobe = vq.join(broadcast(cents))
        .select(col("qid"), col("cent_id"),
          dot(col("qu"), col("cu")).as("cd"))
        .withColumn("rk", row_number().over(wq)).filter(col("rk") <= 4)
        .select(col("qid"), col("cent_id"))
      val vposts = engine.stream.AppendTable.read(s, vpostStore, vpostSchema)
      val vec = vposts.join(broadcast(qprobe), Seq("cent_id"))
        .filter(col("vec_id") =!= col("qid"))
        .join(broadcast(vq), Seq("qid"))
        .select(col("qid"), col("vec_id").as("cid"),
          dot(col("qu"), col("u")).as("cos"))
        .withColumn("vr", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("cos").desc, col("cid"))))
        .filter(col("vr") <= Bm25TopK)
        .select(col("qid"), col("cid"), col("vr"))
      val fused = lex.join(vec, Seq("qid", "cid"), "full_outer")
        .withColumn("rrf",
          coalesce(lit(1.0) / (lit(60) + col("lr")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("vr")), lit(0.0)))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("rrf").desc, col("cid"))))
        .filter(col("rank") <= Bm25TopK)
        .select(col("qid"), col("cid"), col("rank"))
      val kept1 = engine.stream.AppendTable.read(s, dgStore, dgSchema)
        .filter(col("kept"))
      val kept2 = engine.stream.AppendTable.read(s, sigStore, sigSchema)
        .filter(col("kept"))
      val vecDropped = engine.stream.AppendTable.read(s, vecStore, vecSchema)
        .filter(!col("kept")).select(col("vec_id").as("doc_id"))
      val kept3 = kept2.select(col("doc_id"))
        .join(vecDropped, Seq("doc_id"), "left_anti")
      def funnel(stage: String, v: Column, src0: DataFrame): DataFrame =
        src0.agg(coalesce(v, lit(0L)).as("n"))
          .select(lit(stage).as("stage"), col("n").cast("long").as("n"))
      val chk = col("qid") * lit(1000003L) + col("cid") * lit(31L) +
        col("rank")
      // stages 7 and 8 aggregate the SAME fused frame — one agg, both
      // rows, one execution of the hybrid RRF chain (see pipelineOnline)
      val fused78 = fused
        .agg(count(lit(1)).cast("long").as("a7"),
          coalesce(sum(chk), lit(0L)).cast("long").as("a8"))
        .select(explode(array(
          struct(lit("7_hybrid_answers").as("stage"), col("a7").as("n")),
          struct(lit("8_hybrid_chk").as("stage"), col("a8").as("n"))))
          .as("f"))
        .select(col("f.stage").as("stage"), col("f.n").as("n"))
      engine.Core.checkpointFresh(
        funnel("1_ingested", count(lit(1)), corpus)
          .unionByName(funnel("2_exact_kept", count(lit(1)), kept1))
          .unionByName(funnel("3_near_kept", count(lit(1)), kept2))
          .unionByName(funnel("4_vec_kept", count(lit(1)), kept3))
          .unionByName(funnel("5_bm25_postings", count(lit(1)), iPosts))
          .unionByName(funnel("6_vec_postings", count(lit(1)), vposts))
          .unionByName(fused78)
          .orderBy("stage"))
      }}
    },
    Some(LlmQueries.shingleSql + LlmQueries.minhashSqlCtes + s""",
      hok AS (SELECT doc_id FROM documents
              QUALIFY row_number() OVER (
                PARTITION BY md5(lower(trim(text))) ORDER BY doc_id) = 1),
      hnd AS (SELECT DISTINCT e.db FROM est e
              JOIN hok a ON a.doc_id = e.da
              JOIN hok b ON b.doc_id = e.db
              WHERE e.e >= 0.5),
      hsv AS (SELECT doc_id FROM hok
              WHERE doc_id NOT IN (SELECT db FROM hnd)),""" +
      LlmQueries.coarseChainSql.trim.stripPrefix("WITH") +
      LlmQueries.srpSqlCtesFor(4, 4, "h") + s""",
      hvc AS (SELECT DISTINCT x.vec_id ai, y.vec_id bi
              FROM hbands x JOIN hbands y
                ON x.band = y.band AND x.bv = y.bv
                  AND x.vec_id < y.vec_id
              JOIN hsv pa ON pa.doc_id = x.vec_id
              JOIN hsv pb ON pb.doc_id = y.vec_id),
      hvd AS (SELECT DISTINCT c.bi FROM hvc c
              JOIN eu a ON a.vec_id = c.ai
              JOIN eu b ON b.vec_id = c.bi
              WHERE list_sum(list_transform(list_zip(a.u, b.u),
                p -> p[1] * p[2])) >= 0.45),
      hfs AS (SELECT doc_id FROM hsv
              WHERE doc_id NOT IN (SELECT bi FROM hvd)),
      sdocs AS (SELECT d.doc_id, d.text FROM documents d
                JOIN hfs USING (doc_id))""" +
      bm25SqlCtes("doc_id < 5", "sdocs") + s""",
      hvpx AS (SELECT eu.vec_id, c.cent_id,
                list_sum(list_transform(list_zip(eu.u, c.cu),
                  p -> p[1] * p[2])) AS cd
               FROM eu JOIN hfs ON hfs.doc_id = eu.vec_id
               CROSS JOIN c2 c),
      hvp AS (SELECT vec_id, cent_id FROM hvpx
              QUALIFY row_number() OVER (PARTITION BY vec_id
                ORDER BY cd DESC, cent_id) = 1),
      hqpx AS (SELECT eu.vec_id AS qid, c.cent_id,
                list_sum(list_transform(list_zip(eu.u, c.cu),
                  p -> p[1] * p[2])) AS cd
               FROM eu CROSS JOIN c2 c WHERE eu.vec_id < 5),
      hqp AS (SELECT qid, cent_id FROM hqpx
              QUALIFY row_number() OVER (PARTITION BY qid
                ORDER BY cd DESC, cent_id) <= 4),
      hcand AS (SELECT q.qid, p.vec_id AS cid
                FROM hvp p JOIN hqp q USING (cent_id)
                WHERE p.vec_id <> q.qid),
      hsc AS (SELECT hcand.qid, hcand.cid,
               list_sum(list_transform(list_zip(a.u, b.u),
                 p -> p[1] * p[2])) AS cos
              FROM hcand JOIN eu a ON a.vec_id = hcand.qid
                         JOIN eu b ON b.vec_id = hcand.cid),
      hvtop AS (SELECT qid, cid,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY cos DESC, cid) vr
                FROM hsc QUALIFY vr <= $Bm25TopK),
      hfused AS (SELECT coalesce(l.qid, v.qid) qid,
                   coalesce(l.cid, v.cid) cid,
                   coalesce(1.0::DOUBLE / (60 + l.rank), 0.0::DOUBLE) +
                   coalesce(1.0::DOUBLE / (60 + v.vr), 0.0::DOUBLE) rrf
                 FROM ltop l FULL OUTER JOIN hvtop v
                   ON l.qid = v.qid AND l.cid = v.cid),
      hans AS (SELECT qid, cid,
                row_number() OVER (PARTITION BY qid
                  ORDER BY rrf DESC, cid) rank
               FROM hfused QUALIFY rank <= $Bm25TopK),
      g1 AS (SELECT '1_ingested' stage, count(*)::BIGINT n FROM documents),
      g2 AS (SELECT '2_exact_kept', count(*)::BIGINT FROM hok),
      g3 AS (SELECT '3_near_kept', count(*)::BIGINT FROM hsv),
      g4 AS (SELECT '4_vec_kept', count(*)::BIGINT FROM hfs),
      g5 AS (SELECT '5_bm25_postings', count(*)::BIGINT FROM bposts),
      g6 AS (SELECT '6_vec_postings', count(*)::BIGINT FROM hvp),
      g7 AS (SELECT '7_hybrid_answers', count(*)::BIGINT FROM hans),
      g8 AS (SELECT '8_hybrid_chk',
               coalesce(sum(qid * 1000003 + cid * 31 + rank), 0)::BIGINT
             FROM hans)
      SELECT * FROM g1 UNION ALL SELECT * FROM g2 UNION ALL
      SELECT * FROM g3 UNION ALL SELECT * FROM g4 UNION ALL
      SELECT * FROM g5 UNION ALL SELECT * FROM g6 UNION ALL
      SELECT * FROM g7 UNION ALL SELECT * FROM g8 ORDER BY stage"""))

  /** A `def`, not a `val`: the knng/semdedup family's oracle SQL
    * interpolates the session cell-count conf at BUILD time
    * ([[engine.Core.oracleK]]), so the map must be rebuilt per access
    * for a conf set mid-session to reach the oracle string. */
  def queries: Map[String, Q] = Map(
    "text_chunk" -> textChunk,
    "search_bm25" -> searchBm25,
    "search_hybrid_rrf" -> searchHybridRrf,
    "rank_eval" -> rankEval,
    "search_bm25f" -> searchBm25f,
    "pipeline_rag" -> pipelineRag,
    "cluster_kmeans" -> clusterKmeans,
    "sim_search_matryoshka" -> simSearchMatryoshka,
    "ann_recall_report" -> annRecallReport,
    "pipeline_online" -> pipelineOnline,
    "stream_bm25_probe" -> streamBm25Probe,
    "cluster_topics" -> clusterTopics,
    "dedup_semantic" -> dedupSemantic,
    "pipeline_online_hybrid" -> pipelineOnlineHybrid,
    "maintenance_index_compact" -> maintenanceIndexCompact,
    "maintenance_ivf_compact" -> maintenanceIvfCompact,
    "search_phrase" -> searchPhrase,
    "search_mlt" -> searchMlt,
    "search_snippet" -> searchSnippet,
    "sim_knn_graph" -> simKnnGraph,
    "embedding_outlier_knn" -> embeddingOutlierKnn,
    "search_passage" -> searchPassage,
    "graph_pagerank" -> graphPagerank,
    "graph_label_prop" -> graphLabelProp,
    "graph_shortest_path" -> graphShortestPath,
    "graph_triangle_count" -> graphTriangleCount,
    "sim_knn_graph_incremental" -> simKnnGraphIncremental,
    "sim_search_rerank_mmr" -> simSearchRerankMmr,
    "search_prf" -> searchPrf,
    "search_autocomplete" -> searchAutocomplete,
    "search_spell" -> searchSpell,
    "search_boolean" -> searchBoolean,
    "search_facets" -> searchFacets)
}
