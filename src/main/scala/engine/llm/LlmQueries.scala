package engine.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import engine.Core.{t, r4}
import engine.Q
import TextFunctions._
import VectorFunctions._

/** LLM-training-data pipeline surface (SURVEY.md §2 B47-B51 + the driver
  * mandate): deduplication (exact, MinHash+LSH, SimHash, n-gram Jaccard,
  * embedding-cosine), similarity search (brute-force + LSH-banded ANN),
  * text analysis (language-ID, quality scoring, token stats, TF-IDF,
  * fingerprinting) and multimodal column plumbing, over the driver's
  * `documents` and `embeddings` tables.
  *
  * Scale posture: every candidate-generation step is an equi-join on a
  * derived key (shingle posting, LSH band, simhash band) — never an O(n²)
  * cross join — except the two *oracle-exact* quadratic baselines
  * (dedup_embedding, sim_search_topk) kept deliberately as the
  * correctness yardstick for the banded variants; at 100 TB only the
  * banded/broadcast paths run.
  */
object LlmQueries {

  private def docs(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")

  /** dedup_embedding mode switch (session conf). `banded` (the default —
    * flipped in r7 per the r6 verdict: the id a user reaches for first
    * must run the plan that survives 100 TB) draws candidates from
    * SRP-LSH band collisions and exact-cosine-verifies them; its oracle
    * replays the identical plane/code/band pipeline in SQL. `exact` is
    * the conf-gated all-pairs yardstick (LlmSpec verifies banded ⊆ exact
    * with identical cosines). An EXPLICIT flag, not a data-size gate:
    * the r2 advisor showed a row-count gate flips the plan under the
    * oracle's feet the moment an sf crosses the threshold. */
  private val EmbeddingModeKey = "spark.graft.dedupEmbedding.mode"

  /** documents with tokens + distinct 3-shingles attached, hash-spread
    * across the cluster first: the source parquet is one split, and the
    * per-row work downstream (k md5 min-hashes per shingle) is orders of
    * magnitude heavier than the one-column shuffle that spreads it. */
  private def shingled(s: SparkSession, d: String): DataFrame =
    // tokens materialized in their own Project BEFORE shingles3's lambda
    // references them: per-element lambda evaluation re-executes any
    // expression tree embedded in the body (CSE skips lambda-containing
    // trees — the Project path pays this too, not just GenerateExec), so
    // an inline split costs O(tokens²)/doc. CollapseProject keeps the two
    // Projects apart because `w` is consumed more than once and split is
    // non-cheap.
    docs(s, d).repartition(col("doc_id"))
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"), shingles3(col("w")).as("s"))

  /** Explode a COMPUTED array without Catalyst's inferred `size(arr) > 0`
    * pushdown filter re-inlining the array-building expression tree
    * (InferFiltersFromGenerate fires only for inner explode; our arrays
    * are never null, and empty arrays yield a null row we drop). ~2.6x
    * on the shingle-posting fan-outs at sf0.1. */
  private[llm] def explodeNonNull(df: DataFrame, arr: Column, as: String,
      keep: Column*): DataFrame =
    df.select(keep :+ explode_outer(arr).as(as): _*)
      .filter(col(as).isNotNull)

  /** embeddings as L2-normalized double vectors, hash-spread. Normalizing
    * ONCE per row turns every downstream pairwise cosine into a single
    * dot product — the pair loop is the O(n²)/O(candidates) hot path, the
    * per-row prep is O(n); never burn 3 array traversals per pair. */
  private[engine] def unitEmbeddings(s: SparkSession, d: String): DataFrame =
    t(s, d, "embeddings")
      .repartition(col("vec_id"))
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
      .select(col("vec_id"), transform(col("v"), x => x / col("nrm")).as("u"))

  /** The null-filtered unit corpus, persisted ONCE per (session, sf dir)
    * — the shared base frame of the IVF family, cluster_kmeans, the
    * Matryoshka/hybrid retrievers: its 23 consumer ops' summed cold time
    * `t1` read 94.7 s with it and 156.6 s without (sf0.1, 4 cores,
    * medians of 3 Bench runs, every cross-op cache bypassed at once).
    * KEYED persist is load-bearing beyond dedup: Spark's CacheManager matches cache entries by plan
    * sameResult, so if any consumer registered the identical plan via
    * the UNKEYED ScratchCache.persist, the harness's per-query drain
    * would unpersist that shared entry and silently kill the keyed one
    * too — every later consumer would re-scan and re-normalize the
    * corpus. All consumers of this exact frame must come through here. */
  private[engine] def unitCorpus(s: SparkSession, d: String): DataFrame =
    engine.ScratchCache.persistKeyed(engine.Core.fpKey("eu", d, "embeddings"))(
      unitEmbeddings(s, d).filter(col("u").isNotNull))

  /** Shared oracle CTE: unit vectors, same op order as unitEmbeddings so
    * the doubles are bit-identical. */
  private[llm] val unitSql =
    """WITH ed AS (SELECT vec_id,
             list_transform(embedding, x -> x::DOUBLE) v FROM embeddings),
      en AS (SELECT vec_id, v,
             sqrt(list_sum(list_transform(v, x -> x * x))) nrm FROM ed),
      e AS (SELECT vec_id, list_transform(v, x -> x / nrm) u FROM en)"""

  /** Shared oracle CTE: tokens → distinct 3-shingles, mirroring
    * TextFunctions.shingles3 *including* its <3-token fallback to a single
    * whole-doc shingle (generate_series alone would yield an empty list
    * for short docs — a latent divergence if the testdata ever grows
    * short documents). */
  private[llm] val shingleSql =
    """WITH tok AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
      sh AS (SELECT doc_id,
               CASE WHEN len(w) >= 3 THEN list_distinct(list_transform(
                 generate_series(1, len(w) - 2),
                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
               ELSE [array_to_string(w, ' ')] END s FROM tok)"""

  // ------------------------------------------------------------- B47 dedup
  /** B47: exact dedup — hash-partition on the normalized text digest, keep
    * the lowest doc_id per group. One shuffle on a 128-bit key; at 100 TB
    * the digest (32 bytes) shuffles instead of the document body. */
  private val dedupExact = Q(
    (s, d) => {
      // digest computed BEFORE the window and the body dropped, so the
      // exchange carries (digest, doc_id, lang, source, n_chars) — 32-byte
      // keys, never the document text (PlanSpec pins the exchange schema)
      val w = Window.partitionBy(col("dg")).orderBy(col("doc_id"))
      docs(s, d)
        .select(md5(lower(trim(col("text")))).as("dg"),
          col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, lang, source, n_chars FROM documents
      QUALIFY row_number() OVER (
        PARTITION BY md5(lower(trim(text))) ORDER BY doc_id) = 1
      ORDER BY doc_id"""))

  /** Exact n-gram Jaccard near-dup pairs (j >= 0.8) via PREFIX-FILTERED
    * posting candidates + exact set verification.
    *
    * Candidate generation joins only each document's *prefix* — its
    * (|s| − ⌈t·|s|⌉ + 1) rarest shingles under the global (df, shingle)
    * order. Exactness (prefix-filter theorem; Chaudhuri et al. ICDE'06,
    * Xiao et al. WWW'08 "PPJoin"): J(x,y) ≥ t ⇒ |x∩y| ≥ t·max(|x|,|y|)
    * (since |x|+|y|−|x∩y| ≥ max(|x|,|y|)), so x can miss at most
    * |x| − ⌈t·|x|⌉ intersection elements — two prefixes one longer than
    * that MUST share an element. Candidates are then verified with the
    * exact Jaccard over the full shingle sets, so the result is identical
    * to the naive all-pairs oracle.
    *
    * Scale posture: a stop-shingle with document frequency df contributes
    * df² to a naive posting self-join (one hot key = 10¹² pairs at
    * df=10⁶); under the prefix filter a high-df shingle sorts to the
    * *end* of the global order and drops out of every prefix, so posting
    * skew is structurally bounded — no cap heuristic needed, and the
    * result stays provably exact. */
  /** Hashed-shingle frame (doc_id, 60-bit shingle hashes, set size) —
    * the verification-side input of BOTH dedup_ngram_jaccard and
    * dedup_containment, persisted once per session per sf (keyed).
    * Uncached, the tokenize+shingle+repartition subtree re-executes for
    * each of its five consumers. With [[rareCounts]] and
    * [[rarePairCounts]] it serves the same five ops, whose summed `t1`
    * read 23.2 s cached and 35.4 s without the three (sf0.1, 4 cores,
    * medians of 3 Bench runs). Shingles are hashed to 60-bit longs FIRST: long arrays
    * columnar-cache ~3x faster than string arrays and array_intersect
    * compares longs, not strings, in the verify step; the oracle hashes
    * with the same md5 prefix, so results stay provably identical (any
    * collision happens identically in both engines — the oracle's shh
    * CTEs apply list_distinct AFTER hashing, mirroring the
    * distinct-after-hash below). Hashing runs in the codegen'd
    * [[TokenWindowHash]]: the transform+tokenHash60 HOF form
    * evaluated interpreted — 3.5 s per rebuild of this frame at sf0.1
    * vs ~0.3 s; ExprSpec pins byte-identity of the two forms. */
  /** The per-doc 60-bit shingle SET projection on an arbitrary
    * `(doc_id, text)` frame — shared by the corpus-wide [[hashedShingles]]
    * and by [[IncrementalDedup]]'s per-batch decontamination probe (a
    * signature depends only on its own document, so batch == corpus). */
  private[llm] def shingleSetsOf(df: DataFrame): DataFrame =
    df.select(col("doc_id"),
        array_distinct(TokenWindowHash(
          tokens(col("text")), 3, 1, tail = false, 15)).as("s"))
      .withColumn("sz", size(col("s")))

  private def hashedShingles(s: SparkSession, d: String): DataFrame =
    engine.ScratchCache.persistKeyed(engine.Core.fpKey("shingle60", d, "documents"))(
      shingleSetsOf(docs(s, d).repartition(col("doc_id"))))

  private val dedupNgramJaccard = Q(
    (s, d) => {
      val t = 0.8
      val sh = hashedShingles(s, d)
      val posts = explodeNonNull(sh, col("s"), "sh", col("doc_id"), col("sz"))
      // global canonical order = (document frequency asc, shingle asc):
      // rarest shingles first, so prefixes index the most selective
      // keys. df is a window count over the posting frame — ONE
      // exchange (r11 lesson 8); the groupBy+join form paid two.
      val byRarity = Window.partitionBy(col("doc_id"))
        .orderBy(col("df"), col("sh"))
      // persist: consumed twice by the candidate self-join below
      val prefix = engine.ScratchCache.persist(
        posts
          .withColumn("df",
            count(lit(1)).over(Window.partitionBy(col("sh"))))
          .withColumn("rn", row_number().over(byRarity))
          .filter(col("rn") <= col("sz") - ceil(col("sz") * t) + 1)
          .select(col("doc_id"), col("sz"), col("rn"), col("sh")))
      // PPJoin length filter (free, exactness-preserving): J ≥ t ⇒
      // |∩| ≤ min ⇒ t·max(|x|,|y|) ≤ min(|x|,|y|), so size-mismatched
      // pairs can never verify — dropping them AT the join cuts the
      // candidate frame 11.05M → 4.31M at the 10× probe before the
      // exact intersection runs.
      // PPJoin positional filter (Xiao et al. WWW'08 §3.2), also at the
      // join: a match at prefix positions (pa, pb) bounds the overlap by
      // 1 + min(|x|−pa, |y|−pb), and J ≥ t forces overlap ≥
      // ⌈t/(1+t)·(|x|+|y|)⌉ — for a qualifying pair the row of its
      // FIRST common prefix element always satisfies the bound, so
      // dropping the failing (pair, match) rows loses no pair while the
      // distinct sees 4.31M → 1.4M at the 10× probe. The 1e-9 slack
      // keeps the double-arithmetic α strictly loose (a loose filter
      // only costs verify work; a tight one would cost exactness).
      val alpha = ceil((col("a.sz") + col("b.sz")) * lit(t / (1 + t))
        - lit(1e-9))
      val candIds = prefix.as("a")
        .join(prefix.as("b"),
          col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id") &&
            col("b.sz") * t <= col("a.sz") && col("a.sz") * t <= col("b.sz") &&
            lit(1) + least(col("a.sz") - col("a.rn"),
              col("b.sz") - col("b.rn")) >= alpha)
        .select(col("a.doc_id").as("da"), col("a.sz").as("sza"),
          col("b.doc_id").as("db"), col("b.sz").as("szb"))
        .distinct()
      // bound-prune before the exact verify (the dedup_containment
      // discipline): the shared [[rarePairCounts]] table supplies each
      // pair's exact rare-intersection count (0 when the pair shares
      // no rare shingle — the bound degrades to the trivial min-size
      // cap and keeps the pair), rare counts per doc supply the hot
      // remainder, and  inter ≤ n_rare + min(hotA, hotB)  bounds J
      // from above. At sf0.1 this prunes 43.5 k candidates → 256
      // survivors, so the exact array intersection runs on a frame of
      // OUTPUT size — the r11 verify attached both full shingle arrays
      // to every candidate.
      val rc = rareCounts(s, d)
      val imax = col("n_rare") +
        least(col("sza") - col("nra"), col("szb") - col("nrb"))
      val jmax = imax / (col("sza") + col("szb") - imax)
      val maybe = candIds
        .join(rarePairCounts(s, d).select(col("da"), col("db"),
          col("n_rare")), Seq("da", "db"), "left")
        .join(rc.select(col("doc_id").as("da"), col("nr").as("nra")),
          Seq("da"), "left")
        .join(rc.select(col("doc_id").as("db"), col("nr").as("nrb")),
          Seq("db"), "left")
        .na.fill(0L, Seq("n_rare", "nra", "nrb"))
        .filter(jmax >= t)
        .select(col("da"), col("db"), col("sza"), col("szb"))
      val inter = size(array_intersect(col("sa"), col("sb")))
      val j = inter / (col("sza") + col("szb") - inter)
      maybe
        .join(sh.select(col("doc_id").as("da"), col("s").as("sa")), "da")
        .join(sh.select(col("doc_id").as("db"), col("s").as("sb")), "db")
        .filter(j >= t)
        .select(col("da"), col("db"), r4(j).as("jaccard"))
        .orderBy("da", "db")
    },
    Some(shingleSql + """,
      shh AS (SELECT doc_id, list_distinct(list_transform(s,
                x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)) s FROM sh)
      SELECT a.doc_id AS da, b.doc_id AS db,
        round(len(list_intersect(a.s, b.s))::DOUBLE
          / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4) AS jaccard
      FROM shh a JOIN shh b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.s, b.s))::DOUBLE
          / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.8
      ORDER BY da, db"""))

  /** Jaccard CONTAINMENT near-dup — |A∩B| / min(|A|,|B|) ≥ t: catches
    * the doc-inside-doc pathology (boilerplate wrapping, quoted reposts,
    * prefix/suffix duplication) that symmetric Jaccard MISSES (a 10x
    * length ratio caps plain Jaccard at 0.1 even for full containment).
    * Candidates come from a df-CAPPED posting self-join: only shingles
    * appearing in ≤ [[ContainDfCap]] docs propose pairs — the cap bounds
    * the posting join quadratically in df (a df=10⁶ stop-shingle
    * proposes 10¹² pairs uncapped) and is REPLAYED IDENTICALLY in the
    * oracle, so the operator's contract (a high-recall screen: pairs
    * sharing at least one rare shingle) is hash-exact. Verification is
    * the exact containment over full shingle sets, candidates only. */
  private[llm] val ContainDfCap = 20

  /** Rare-shingle postings (df ≤ [[ContainDfCap]]) over the hashed
    * shingle sets, with the set size riding each posting. The df is a
    * window count — ONE posting exchange (the groupBy+join form paid
    * two) — and the cached frame stays
    * hash-partitioned on `sh`, so the candidate self-joins below reuse
    * its partitioning exchange-free. Read only by the builds of
    * [[rareCounts]] and [[rarePairCounts]], which one op runs, so it is
    * persisted for that op. */
  private def rarePosts(s: SparkSession, d: String): DataFrame =
    engine.ScratchCache.persist(
      explodeNonNull(hashedShingles(s, d), col("s"), "sh",
        col("doc_id"), col("sz"))
        .withColumn("df", count(lit(1)).over(Window.partitionBy(col("sh"))))
        .filter(col("df") <= ContainDfCap)
        .select(col("doc_id"), col("sz"), col("sh")))

  /** Per-doc rare-shingle count — the `hot = sz - nr` side of the
    * intersection bound below. One row per doc with ≥ 1 rare shingle.
    * Kept across ops with [[hashedShingles]] (its scaladoc has the
    * measured cost). */
  private def rareCounts(s: SparkSession, d: String): DataFrame =
    engine.ScratchCache.persistKeyed(engine.Core.fpKey("rarecounts", d, "documents"))(
      rarePosts(s, d).groupBy(col("doc_id")).agg(count(lit(1)).as("nr")))

  /** All doc pairs sharing ≥ 1 rare shingle, with their exact
    * RARE-intersection count — `(da, sza, db, szb, n_rare)`. The
    * groupBy IS the pair-dedup exchange a `.distinct()` would pay; n_rare falls out free (sizes are functionally dependent on
    * the ids — riding the keys changes no groups). This is the
    * df-capped candidate table of dedup_containment, the
    * train×eval-filtered candidate source of decontaminate, and the
    * bound input of dedup_ngram_jaccard's verify — the pair table a
    * real pipeline materializes once per corpus; kept across ops with
    * [[hashedShingles]] (its scaladoc has the measured cost). */
  private def rarePairCounts(s: SparkSession, d: String): DataFrame =
    engine.ScratchCache.persistKeyed(engine.Core.fpKey("rarepairs", d, "documents"))(
      rarePosts(s, d).as("a")
        .join(rarePosts(s, d).as("b"),
          col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("da"), col("a.sz").as("sza"),
          col("b.doc_id").as("db"), col("b.sz").as("szb"))
        .agg(count(lit(1)).as("n_rare")))

  private val dedupContainment = Q(
    (s, d) => {
      // Candidates = [[rarePairCounts]]; then the EXACT upper bound
      //   inter ≤ n_rare + min(hotA, hotB),  hot = sz − nr
      // prunes every pair that cannot reach the threshold BEFORE any
      // shingle array attaches — at sf0.1 that is 1.12 M candidates →
      // 256 survivors, so the exact array verify runs on a frame of
      // OUTPUT size, not candidate size. Exactness: n_rare counts the
      // full rare intersection, hot overlap is at most the smaller hot
      // set, and the final exact filter is unchanged — the bound only
      // discards pairs provably below thr, so the oracle's declarative
      // rare-candidates + full-intersection replay still matches.
      val thr = 0.9
      val sh = hashedShingles(s, d)
      val rc = rareCounts(s, d)
      val bound = (col("n_rare") +
        least(col("sza") - col("nra"), col("szb") - col("nrb"))) /
        least(col("sza"), col("szb"))
      val maybe = rarePairCounts(s, d)
        .join(rc.select(col("doc_id").as("da"), col("nr").as("nra")), "da")
        .join(rc.select(col("doc_id").as("db"), col("nr").as("nrb")), "db")
        .filter(bound >= thr)
        .select(col("da"), col("db"), col("sza"), col("szb"))
      val inter = size(array_intersect(col("sa"), col("sb")))
      val cont = inter / least(col("sza"), col("szb"))
      maybe
        .join(sh.select(col("doc_id").as("da"), col("s").as("sa")), "da")
        .join(sh.select(col("doc_id").as("db"), col("s").as("sb")), "db")
        .filter(cont >= thr)
        .select(col("da"), col("db"), r4(cont).as("containment"))
        .orderBy("da", "db")
    },
    Some(shingleSql + s""",
      shh AS (SELECT doc_id, list_distinct(list_transform(s,
                x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)) s FROM sh),
      posts AS (SELECT doc_id, unnest(s) sh FROM shh),
      dfs AS (SELECT sh, count(*) df FROM posts GROUP BY sh),
      rare AS (SELECT p.doc_id, p.sh FROM posts p JOIN dfs USING (sh)
               WHERE dfs.df <= $ContainDfCap),
      cand AS (SELECT DISTINCT a.doc_id da, b.doc_id db
               FROM rare a JOIN rare b
               ON a.sh = b.sh AND a.doc_id < b.doc_id)
      SELECT c.da, c.db,
        round(len(list_intersect(x.s, y.s))::DOUBLE
          / least(len(x.s), len(y.s)), 4) AS containment
      FROM cand c JOIN shh x ON x.doc_id = c.da
                  JOIN shh y ON y.doc_id = c.db
      WHERE len(list_intersect(x.s, y.s))::DOUBLE
          / least(len(x.s), len(y.s)) >= 0.9
      ORDER BY da, db"""))

  /** Benchmark DECONTAMINATION — the train×eval overlap screen every
    * pretraining pipeline runs before training (a training doc that
    * contains a benchmark item poisons the eval): a held-out eval set is
    * carved out deterministically (md5 hash bucket, the sample_hash
    * discipline — reproducible on any cluster, re-derivable from the id
    * alone), and a TRAINING doc is flagged when its shingle set covers
    * ≥ 80% of some eval doc's shingles. Candidates come from the same
    * df-capped rare-shingle postings as dedup_containment, restricted to
    * train×eval — an equi-join whose skew is bounded by the cap; exact
    * coverage verifies candidates only. Output: (train doc, eval doc,
    * coverage) — the drop list plus its evidence. */
  /** Held-out eval membership: md5-bucket < 5 of 100 (≈5% of the
    * corpus). Shared by [[decontaminate]], [[IncrementalDedup]] and the
    * pipeline_pretrain capstone. */
  private[llm] def evalBucket(c: Column): Column = pmod(
    conv(substring(md5(concat_ws("|", lit("evl"), c.cast("string"))),
      1, 8), 16, 10).cast("long"), lit(100)) < 5

  private val decontaminate = Q(
    (s, d) => {
      // [[rarePairCounts]] restricted to mixed train×eval pairs and
      // re-oriented (the pair table is symmetric in its canonical
      // da < db form; membership is f(doc_id), so the filter is a
      // per-row projection) — the shared pair table feeds exact-dedup,
      // containment AND decontamination, exactly how a production
      // pipeline materializes it once. Then the dedup_containment
      // bound, scaled to the eval side:
      //   cov ≤ (n_rare + min(hotT, hotE)) / esz
      // prunes to ~output size before the arrays attach.
      val thr = 0.8
      def isEval(c: Column): Column = evalBucket(c)
      val sh = hashedShingles(s, d)
      val rc = rareCounts(s, d)
      val cand = rarePairCounts(s, d)
        .filter(isEval(col("da")) =!= isEval(col("db")))
        .select(
          when(isEval(col("da")), col("db")).otherwise(col("da")).as("tid"),
          when(isEval(col("da")), col("szb")).otherwise(col("sza")).as("tsz"),
          when(isEval(col("da")), col("da")).otherwise(col("db")).as("eid"),
          when(isEval(col("da")), col("sza")).otherwise(col("szb")).as("esz"),
          col("n_rare"))
      val bound = (col("n_rare") +
        least(col("tsz") - col("nrt"), col("esz") - col("nre"))) /
        col("esz")
      val maybe = cand
        .join(rc.select(col("doc_id").as("tid"), col("nr").as("nrt")), "tid")
        .join(rc.select(col("doc_id").as("eid"), col("nr").as("nre")), "eid")
        .filter(bound >= thr)
        .select(col("tid"), col("eid"), col("esz"))
      val cov = size(array_intersect(col("ts"), col("es"))) / col("esz")
      maybe
        .join(sh.select(col("doc_id").as("tid"), col("s").as("ts")), "tid")
        .join(sh.select(col("doc_id").as("eid"), col("s").as("es")), "eid")
        .filter(cov >= thr)
        .select(col("tid").as("doc_id"), col("eid").as("eval_id"),
          r4(cov).as("coverage"))
        .orderBy("doc_id", "eval_id")
    },
    Some(shingleSql + deconSqlCtes + """
      SELECT tid AS doc_id, eid AS eval_id, round(cov, 4) AS coverage
      FROM dcov WHERE cov >= 0.8
      ORDER BY doc_id, eval_id"""))

  /** The train×eval decontamination CTE chain (follows [[shingleSql]],
    * ending in `dcov(tid, eid, cov)` — every df-capped candidate pair
    * with its exact coverage) — shared by the decontaminate and
    * pipeline_pretrain oracles. */
  private[llm] lazy val deconSqlCtes = s""",
      shh AS (SELECT doc_id, list_distinct(list_transform(s,
                x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)) s FROM sh),
      posts AS (SELECT doc_id, unnest(s) sh FROM shh),
      dfs AS (SELECT sh, count(*) df FROM posts GROUP BY sh),
      rare AS (SELECT p.doc_id, p.sh FROM posts p JOIN dfs USING (sh)
               WHERE dfs.df <= $ContainDfCap),
      dcand AS (SELECT DISTINCT t.doc_id tid, e.doc_id eid
               FROM rare t JOIN rare e ON t.sh = e.sh
               WHERE ('0x' || substr(md5('evl|' || t.doc_id), 1, 8))::BIGINT
                       % 100 >= 5
                 AND ('0x' || substr(md5('evl|' || e.doc_id), 1, 8))::BIGINT
                       % 100 < 5),
      dcov AS (SELECT c.tid, c.eid,
               len(list_intersect(x.s, y.s))::DOUBLE / len(y.s) AS cov
             FROM dcand c JOIN shh x ON x.doc_id = c.tid
                          JOIN shh y ON y.doc_id = c.eid)"""

  /** B48: MinHash + LSH near-dup. k=32 min-wise hashes per doc (one
    * projection, no shuffle), banded 8×4; candidates = pairs sharing a
    * band bucket (equi-join on the band digest — the scale path), then
    * estimated Jaccard = matching signature positions / 32, kept at
    * est >= 0.5. Same hash family (md5) in the oracle ⇒ identical
    * signatures, candidates, and estimates. */
  /** Universal-hash constants for minhash slot i (small enough that
    * a*h+b stays < 2^37: no overflow divergence between JVM wraparound
    * and DuckDB's checked BIGINT). */
  private[llm] val MinhashP = 2147483647L
  private[llm] val MinhashK = 32
  private[llm] val MinhashBands = 8
  private[llm] val MinhashR = 4
  private def mhA(i: Int): Long = 2L * i + 1
  private def mhB(i: Int): Long = 40503L * i + 1231L

  /** k=32 min-wise signature per doc over `(doc_id, text)` rows: one md5
    * per shingle (codegen'd projection after explode), then k min-wise
    * slots as k MIN aggregates over (a_i*h + b_i) mod p — all whole-stage
    * codegen, ONE shuffle of (doc_id, h) postings. The earlier nested-HOF
    * formulation (min over transform(md5...) inside transform(seq(k)))
    * ran interpreted: 48M lambda evals, 226 s at sf0.1; this shape is
    * ~100x cheaper and scale-linear. A signature depends only on its own
    * document, which is what lets dedup_incremental reuse this per-batch
    * against a persisted store. Callers persist the result (referenced
    * several times downstream). `spread=false` skips the initial hash
    * repartition — right when the input already arrives well-split (a
    * file-stream micro-batch), wrong for the single-split source parquet
    * whose heavy per-row hashing must spread across the cluster first. */
  private[llm] def minhashSignatures(docsDf: DataFrame,
      spread: Boolean = true): DataFrame = {
    // shingle hashes via the codegen'd TokenWindowHash (8 nibbles = the
    // minhash posting hash; ExprSpec pins identity with the md5-substr
    // form). Distinctness of the posting multiset is irrelevant: every
    // slot is a MIN over injective affine maps of h, so duplicate
    // shingles can't change any signature — the oracle's
    // distinct-strings-then-hash posts give identical mins.
    val posts = explodeNonNull(
      (if (spread) docsDf.repartition(col("doc_id")) else docsDf)
        .select(col("doc_id"), array_distinct(TokenWindowHash(
          tokens(col("text")), 3, 1, tail = false, 8)).as("s")),
      col("s"), "h0", col("doc_id"))
      .select(col("doc_id"),
        col("h0").bitwiseAND(lit(MinhashP)).as("h"))
    val mins = (0 until MinhashK).map(i =>
      min((col("h") * mhA(i) + mhB(i)) % MinhashP).as(s"g$i"))
    posts.groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until MinhashK).map(i => col(s"g$i")): _*).as("g"))
  }

  /** The 8 LSH band keys of a signature as an array: key j = md5 of
    * slots [j·r, j·r+r). Materializing these WITH the signature is the
    * LSH-index shape a persisted store wants — each doc's banding is
    * computed once ever, not re-derived on every probe of the store. */
  private[llm] def bandKeys(g: Column): Column =
    array((0 until MinhashBands).map(j =>
      md5(concat_ws(",",
        transform(slice(g, j * MinhashR + 1, MinhashR),
          x => x.cast("string"))))): _*)

  /** LSH band postings `(doc_id, j, bk)` of a signature table: band j's
    * key is the md5 of its r signature slots — docs sharing any (j, bk)
    * are near-dup candidates via equi-join. */
  private[llm] def lshBands(sig: DataFrame): DataFrame = sig
    .select(col("doc_id"), posexplode(bandKeys(col("g"))).as(Seq("j", "bk")))

  /** Bloom sidecar spec for signature stores carrying a `bks` band-key
    * array: the sidecar indexes every band key a segment contains, so a
    * probe batch sharing none of them skips the segment entirely (md5
    * keys are high-cardinality — exactly the domain Bloom pruning
    * wants; contrast the SRP store's 64-value (band, bv) space, which
    * is deliberately NOT sidecar'd). */
  private[engine] val bandKeyBloom = engine.stream.BloomSpec("bk",
    t => t.select(explode(col("bks")).as("bk")),
    fanout = MinhashBands.toLong) // rows × bands keys after the explode

  /** Estimated Jaccard from two k-slot signatures: matching positions / k. */
  private[llm] def estJaccard(ga: Column, gb: Column): Column =
    aggregate(zip_with(ga, gb, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x) / lit(MinhashK.toDouble)

  private val dedupMinhash = Q(
    (s, d) => {
      // persist KEYED (session lifetime): the signature table is
      // referenced 4x downstream (band self-join + two est joins) and
      // re-used verbatim by pipeline_curate's near-dup stage — one
      // signature computation per session per sf, exactly how a real
      // pipeline materializes signatures once. Tiny: one row per doc.
      // Its 3 consumers' summed t1: 8.3 s cached, 12.7 s without (sf0.1,
      // 4 cores, medians of 3 Bench runs).
      val sig = engine.ScratchCache.persistKeyed(engine.Core.fpKey("minhash_sig", d, "documents"))(
        minhashSignatures(docs(s, d)))
      val banded = lshBands(sig)
      val cand = banded.as("a")
        .join(banded.as("b"),
          col("a.j") === col("b.j") && col("a.bk") === col("b.bk") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
        .distinct()
      val est = estJaccard(col("sa.g"), col("sb.g"))
      cand
        .join(sig.as("sa"), col("da") === col("sa.doc_id"))
        .join(sig.as("sb"), col("db") === col("sb.doc_id"))
        .filter(est >= 0.5)
        .select(col("da"), col("db"), r4(est).as("est_jaccard"))
        .orderBy("da", "db")
    },
    Some(shingleSql + minhashSqlCtes + """
      SELECT da, db, round(e, 4) AS est_jaccard FROM est
      WHERE e >= 0.5 ORDER BY da, db"""))

  /** SCREEN EVALUATION — precision/recall of the MinHash LSH screen
    * against the exact shingle-Jaccard dedup it fronts (the rank_eval /
    * ann_recall_report / corpus_heavy_hitters discipline applied to the
    * dedup family: the engine measures its own screen in-engine).
    * Ground truth = dedup_ngram_jaccard's exact J ≥ 0.8 pairs; the
    * screen = dedup_minhash's banded est ≥ 0.5 proposals (deliberately
    * the looser threshold — an LSH pre-filter is tuned recall-first,
    * and its false positives are exactly the wasted exact-verify work
    * the precision column prices). One row: pair counts, screen_recall
    * (true pairs the screen proposed), screen_precision (proposals
    * that are true pairs).
    *
    * Both inputs are the SHIPPED operators' own frames, and the oracle
    * composes their oracle SQL verbatim as nested subqueries — the eval
    * can never drift from what the evaluated ops actually compute. All
    * counts exact; the two ratios are int ratios → r4. Everything here
    * is pair-table scale (output-bound, like the inputs). */
  private lazy val dedupEval = Q(
    (s, d) => {
      // each pair table feeds two branches (its count and the hit
      // join): persisted for this op, so each is verified once; their
      // keyed inputs (shingles, signatures) are shared across ops
      val exact = engine.ScratchCache.persist(
        dedupNgramJaccard.fn(s, d).select(col("da"), col("db")))
      val screen = engine.ScratchCache.persist(
        dedupMinhash.fn(s, d).select(col("da"), col("db")))
      val hit = exact.join(screen, Seq("da", "db"), "leftsemi")
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(screen.agg(count(lit(1)).as("n_screen")))
        .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
        .select(col("n_exact"), col("n_screen"), col("n_hit"),
          when(col("n_exact") === 0, lit(0.0))
            .otherwise(r4(col("n_hit").cast("double") /
              col("n_exact").cast("double"))).as("screen_recall"),
          when(col("n_screen") === 0, lit(0.0))
            .otherwise(r4(col("n_hit").cast("double") /
              col("n_screen").cast("double"))).as("screen_precision"))
        .orderBy("n_exact")
    },
    Some(s"""WITH eex AS (SELECT da, db FROM (
               ${dedupNgramJaccard.oracle.get})),
      esc AS (SELECT da, db FROM (${dedupMinhash.oracle.get})),
      ecnt AS (SELECT (SELECT count(*) FROM eex)::BIGINT n_exact,
                 (SELECT count(*) FROM esc)::BIGINT n_screen,
                 (SELECT count(*) FROM eex SEMI JOIN esc
                    USING (da, db))::BIGINT n_hit)
      SELECT n_exact, n_screen, n_hit,
        CASE WHEN n_exact = 0 THEN 0.0::DOUBLE
          ELSE round(n_hit::DOUBLE / n_exact::DOUBLE, 4) END
          AS screen_recall,
        CASE WHEN n_screen = 0 THEN 0.0::DOUBLE
          ELSE round(n_hit::DOUBLE / n_screen::DOUBLE, 4) END
          AS screen_precision
      FROM ecnt ORDER BY n_exact"""))

  /** The minhash signature→band→candidate→estimate CTE chain (everything
    * after [[shingleSql]], ending in `est(da, db, e)`) — shared by the
    * dedup_minhash oracle, the pipeline_curate composition oracle, and
    * the dedup_incremental whole-corpus oracle. */
  private[llm] def minhashSqlCtes: String = {
    val minCols = (0 until 32)
      .map(i => s"min((h * ${mhA(i)} + ${mhB(i)}) % $MinhashP) AS g$i")
      .mkString(", ")
    val gArr = (0 until 32).map(i => s"g$i").mkString("[", ", ", "]")
    s""",
      posts AS (SELECT doc_id, unnest(s) sh FROM sh),
      ph AS (SELECT doc_id,
               ('0x' || substr(md5(sh), 1, 8))::BIGINT & $MinhashP h FROM posts),
      sigc AS (SELECT doc_id, $minCols FROM ph GROUP BY doc_id),
      sig AS (SELECT doc_id, $gArr g FROM sigc),
      bands AS (SELECT doc_id, j,
               md5(array_to_string(g[j*4+1 : j*4+4], ',')) bk
               FROM sig CROSS JOIN generate_series(0, 7) t(j)),
      cand AS (SELECT DISTINCT a.doc_id da, b.doc_id db
               FROM bands a JOIN bands b
               ON a.j = b.j AND a.bk = b.bk AND a.doc_id < b.doc_id),
      est AS (SELECT c.da, c.db,
               list_sum(list_transform(list_zip(sa.g, sb.g),
                 p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END)) / 32.0 e
              FROM cand c
              JOIN sig sa ON sa.doc_id = c.da
              JOIN sig sb ON sb.doc_id = c.db)"""
  }

  /** SimHash near-dup. 60-bit simhash per doc (bit j = sign of Σ±1 over
    * token hashes — computed as 60 parallel SUMs in ONE aggregation, no
    * 60× row blowup), then candidates via 10 disjoint 6-bit bands
    * (pigeonhole: hamming <= 9 ⇒ some band equal, so the banded equi-join
    * is *exact* for the hamming <= 8 threshold — identical to the naive
    * O(n²) oracle). */
  /** Per-doc 60-bit simhash over a (doc_id, text) frame — reusable core
    * shared by the canned query and LlmSpec. A pure per-document scan
    * projection via the codegen'd [[SimHash60]] (r7): the previous
    * explode + 60-slot conditional-SUM aggregate paid a full
    * (doc_id, hash) shuffle per rebuild for what is per-row math;
    * integer ±1 sums are order-free, so the two forms are bit-identical
    * (pinned in ExprSpec) and the DuckDB replay is unchanged. */
  def simhashOf(docsDf: DataFrame): DataFrame =
    docsDf.select(col("doc_id"), SimHash60(tokens(col("text"))).as("sim"))

  /** Band-bucket occupancy cap for simhash candidate generation,
    * counted in DISTINCT SIGNATURES per (band, value) bucket — not
    * documents (r11 advisor). A bucket holding k distinct signatures
    * proposes k(k-1)/2 signature-pair candidates, so hot buckets make
    * the candidate frame quadratic-in-bucket: the r10 scale probe
    * measured 50× runtime growth (7.5 M pairs) on 10× docs because the
    * testdata's 30-word vocabulary packs hundreds of unrelated docs
    * into single buckets. Buckets over the cap are DROPPED — the same
    * df-cap discipline as [[ContainDfCap]]'s shingle postings: a band
    * value shared by MANY DIFFERENT signatures carries no
    * discriminating information (the band-space analogue of a
    * stopword), while genuine near-dup groups stay under it. Counting
    * doc occupancy instead (the r11 form) mis-fired on exactly the
    * dedup target: k > cap IDENTICAL documents fill all ten of their
    * own buckets, every bucket reads 'hot', and the most-duplicated
    * content in the corpus emits no pairs at all. Under the
    * distinct-signature count a single repeated signature contributes
    * occupancy 1, and identical-signature groups additionally pair
    * through an uncapped exact-equality pass (hamming 0 needs no
    * banding). Bounds signature-pair candidates at cap²/2 per bucket ×
    * ≤ 640 buckets (10 bands × 2^6 values) regardless of corpus size.
    * Replayed verbatim in every consuming oracle, so the DuckDB gate
    * sees the identical pair list. A fixed parameter, not a session
    * conf (r11 advisor): the oracles are static SQL, so a runtime knob
    * could silently diverge the gate — callers needing a different cap
    * pass it to [[simhashPairs]] explicitly, outside the oracle-pinned
    * canned queries. */
  private[engine] val SimhashBandCap = 16

  /** Simhash near-dup pairs (hamming <= maxHamming <= 9): exact
    * equality pass for identical signatures + banded candidate
    * generation between DISTINCT signatures — exact per the pigeonhole
    * bound for signature pairs whose shared bands survive the
    * [[SimhashBandCap]] occupancy cap.
    *
    * Candidate enumeration runs at the distinct-signature level, then
    * expands verified signature pairs back to document pairs: band
    * postings, the band self-join, and the hamming verification all
    * scale with |distinct signatures|, never with corpus replication —
    * a corpus of k-fold duplicated documents pays the band join ONCE
    * and the expansion is output-bound (every expanded pair is a real
    * hamming≤k result). The signature frame (doc_id, 60-bit code) is
    * the only corpus-scale exchange. */
  def simhashPairs(docsDf: DataFrame, maxHamming: Int,
      cap: Int = SimhashBandCap): DataFrame = {
    require(maxHamming <= 9, "10 bands of 6 bits are exact only to hamming 9")
    // the signature frame feeds the distinct, the equality pass and the
    // expansion joins; persist it (|docs| rows of (id, 60-bit code)) or
    // the token pipeline runs once per consumer. Hash-spread AFTER the
    // projection, deliberately (r8, measured both ways): spreading
    // before would parallelize the md5 digesting but put `text` on the
    // exchange — 750 MB at the 10x corpus vs 8 MB of (id, sim).
    val sigs = engine.ScratchCache.persist(
      simhashOf(docsDf).repartition(col("doc_id")))
    val dsig = sigs.filter(col("sim").isNotNull)
      .select(col("sim")).distinct()
    val banded = dsig
      .select(col("sim"), explode(codeBands(col("sim"), 10, 6)).as("bb"))
      .select(col("sim"), col("bb.band").as("band"), col("bb.bv").as("bv"))
    // hot-bucket removal costs NO extra shuffle: the (band, bv) key space
    // is at most 640 values, so the occupancy aggregate collapses to a
    // ≤ 640-row frame at any corpus size and rides a broadcast anti-join
    // back onto the band postings
    val hot = banded.groupBy(col("band"), col("bv"))
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") > cap)
      .select(col("band"), col("bv"))
    val ok = banded.join(broadcast(hot), Seq("band", "bv"), "left_anti")
    // signature pairs: banded candidates, hamming-verified BEFORE the
    // doc-level expansion (one bit_count per signature pair, not per
    // doc pair). Bounded by cap²/2 × 640 buckets → broadcastable.
    val spairs = ok.as("x")
      .join(ok.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col("x.sim") < col("y.sim"))
      .select(col("x.sim").as("sa"), col("y.sim").as("sb"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("sa").bitwiseXOR(col("sb"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
    // expansion: docs carrying a paired signature (broadcast semi-join —
    // no corpus shuffle), then the cross product of each signature
    // pair's two groups. Disjoint groups + distinct signature pairs ⇒
    // every doc pair surfaces exactly once, no pair-level distinct.
    val rel = engine.ScratchCache.persist(
      sigs.join(broadcast(spairs.select(col("sa").as("sim"))
          .union(spairs.select(col("sb").as("sim"))).distinct()),
        Seq("sim"), "leftsemi"))
    val cross = rel.as("m")
      .join(broadcast(spairs), col("m.sim") === col("sa"))
      .join(rel.as("n"), col("sb") === col("n.sim"))
      .select(least(col("m.doc_id"), col("n.doc_id")).as("da"),
        greatest(col("m.doc_id"), col("n.doc_id")).as("db"),
        col("hamming"))
    // identical-signature groups: exact equality self-join (hamming 0),
    // NEVER capped — duplicate mega-groups are the primary dedup target
    // and need no banding to find each other. One shuffle of the
    // 16-byte signature frame on the 8-byte signature key.
    val within = sigs.as("m")
      .join(sigs.as("n"),
        col("m.sim") === col("n.sim") &&
          col("m.doc_id") < col("n.doc_id"))
      .select(col("m.doc_id").as("da"), col("n.doc_id").as("db"),
        lit(0).cast("int").as("hamming"))
    cross.union(within)
  }

  /** The simhash signature CTE chain (tokens → ±1 bit sums → 60-bit code,
    * ending in `simh(doc_id, sim)`) — shared by the dedup_simhash oracle
    * and the dedup_clusters oracle. No leading WITH so callers can prefix
    * plain `WITH` or `WITH RECURSIVE`. */
  private val simhashSqlCtes =
    """tok AS (SELECT doc_id, unnest(string_split(text, ' ')) term
               FROM documents),
      th AS (SELECT doc_id, ('0x' || substr(md5(term), 1, 15))::BIGINT h FROM tok),
      bits AS (SELECT doc_id, j,
               sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) sgn
               FROM th CROSS JOIN generate_series(0, 59) t(j) GROUP BY 1, 2),
      simh AS (SELECT doc_id,
               sum(CASE WHEN sgn >= 0 THEN (1::BIGINT << j) ELSE 0 END)::BIGINT sim
             FROM bits GROUP BY 1)"""

  /** The distinct-signature, occupancy-capped, hamming≤8 pair CTE chain
    * (appends to [[simhashSqlCtes]]'s `simh`, ends in
    * `prs(da, db, hamming)`) — the exact SQL replay of [[simhashPairs]]
    * including [[SimhashBandCap]]: same band extraction
    * (`(sim >> j*6) & 63` = codeBands), same hot-bucket drop counted in
    * distinct signatures, same signature-pair verification + group
    * expansion, same uncapped identical-signature equality pass.
    * Shared VERBATIM by the dedup_simhash, dedup_clusters,
    * sample_cluster_weighted and dedup_edit_distance oracles so all
    * four gates compare against the identical pair list. */
  private val simhashPairsSqlCtes = simhashSqlCtes + s""",
      dsig AS (SELECT DISTINCT sim FROM simh),
      bnd AS (SELECT sim, j, (sim >> (j * 6)) & 63 bv
              FROM dsig CROSS JOIN generate_series(0, 9) t(j)),
      hot AS (SELECT j, bv FROM bnd GROUP BY j, bv
              HAVING count(*) > $SimhashBandCap),
      bok AS (SELECT b.sim, b.j, b.bv FROM bnd b
              WHERE NOT EXISTS (SELECT 1 FROM hot h
                                WHERE h.j = b.j AND h.bv = b.bv)),
      scand AS (SELECT DISTINCT a.sim sa, b.sim sb
               FROM bok a JOIN bok b
               ON a.j = b.j AND a.bv = b.bv AND a.sim < b.sim),
      spair AS (SELECT sa, sb,
                CAST(bit_count(xor(sa, sb)) AS INT) hamming
              FROM scand WHERE bit_count(xor(sa, sb)) <= 8),
      prs AS (SELECT least(x.doc_id, y.doc_id) da,
                greatest(x.doc_id, y.doc_id) db, p.hamming
              FROM spair p JOIN simh x ON x.sim = p.sa
                           JOIN simh y ON y.sim = p.sb
              UNION ALL
              SELECT a.doc_id, b.doc_id, CAST(0 AS INT)
              FROM simh a JOIN simh b
              ON a.sim = b.sim AND a.doc_id < b.doc_id)"""

  /** The hamming≤8 simhash pair list, shared VERBATIM by dedup_simhash,
    * dedup_clusters (its edges) and dedup_edit_distance (its candidates)
    * — one signature + banded self-join per session per sf (keyed
    * persist), the pair table a real pipeline materializes once and
    * feeds every downstream consumer from. Its 4 consumers' summed `t1`:
    * 6.8 s cached, 16.2 s without (sf0.1, 4 cores, medians of 3 Bench
    * runs). */
  private def simhashPairs8(s: SparkSession, d: String): DataFrame =
    // no conf in the cache identity: the cap is a fixed parameter on the
    // oracle-pinned path (see [[SimhashBandCap]]), so one pair table per
    // sf dir is always current
    engine.ScratchCache.persistKeyed(engine.Core.fpKey("simhash_pairs8", d, "documents"))(
      simhashPairs(docs(s, d), 8))

  private val dedupSimhash = Q(
    (s, d) => simhashPairs8(s, d).orderBy("da", "db"),
    Some("WITH " + simhashPairsSqlCtes + """
      SELECT da, db, hamming FROM prs ORDER BY da, db"""))

  /** Duplicate CLUSTERS: connected components over the near-dup pair
    * graph — the stage a real dedup pipeline runs after pair generation
    * (pairs only say "a~b"; keeping one doc per GROUP needs the
    * transitive closure: a~b, b~c ⇒ {a,b,c} is one cluster with one
    * canonical representative). Edges here are the exact banded simhash
    * pairs (hamming ≤ 8); each component is labeled by its minimum
    * doc_id and every member reports (rep_id, cluster_size).
    *
    * Algorithm: distributed min-label propagation with POINTER HALVING —
    * per round each node takes the min of its own label, its neighbors'
    * labels, and its label's label (`l(l(v))`, the pointer-jumping hop
    * that collapses label chains geometrically, so rounds are
    * O(log diameter) rather than O(diameter) — the same doubling idea as
    * the large-star/small-star MapReduce CC algorithm). Every step is an
    * equi-join + min-aggregate on (id, label) pairs — each round shuffles
    * only 16-byte rows, never document bodies, and the loop's driver-side
    * footprint is one `count()` per round for the fixpoint test. Exact:
    * labels decrease monotonically and are bounded below by the true
    * component minimum, and the loop runs to an unchanged fixpoint. */
  /** Connected components over an undirected pair list `(da, db)`:
    * returns one row per node appearing in any pair, labeled with its
    * component's minimum id and the component size — the reusable core of
    * dedup_clusters, exposed for LlmSpec's adversarial graphs (long
    * chains, which the pointer-halving round bound must collapse).
    *
    * The pair frame is checkpointed FIRST: both union branches below
    * consume it, and unmaterialized that runs the upstream candidate join
    * twice. Each round's label frame is EAGERLY localCheckpoint'ed — an
    * iterative dataflow that only persists still embeds round k-1's
    * logical plan ~4x in round k's (union + the self-join), so the plan
    * tree grows 4^k and ANALYSIS hangs long before the data is big;
    * checkpointing cuts the plan to the materialized blocks each round.
    * (On a real cluster this would be a reliable `checkpoint()` to the
    * job's checkpoint dir; same shape.) */
  def clusterPairs(pairsDf: DataFrame): DataFrame = {
    val spark = pairsDf.sparkSession
    import spark.implicits._
    // The loop runs at the RDD level, not on DataFrames: each round is
    // an equi-join + min-combine over (long, long) pairs, and the DF
    // formulation paid ~10 driver-scheduled AQE stage jobs + a full
    // Catalyst re-plan PER ROUND for frames a few thousand rows long —
    // on cluster_dbscan that was 90 serialized ~60 ms broadcast/
    // stage futures for 233 total tasks, i.e. the loop's cost was
    // planning, not data (driver work is the scale-killer the
    // executors can't hide). The RDD DAG plans in microseconds,
    // keeps the same shuffle structure (edges hash-partitioned once,
    // ever; per-round 16-byte label shuffles), and the per-row work is
    // min() on longs — no per-row serialization-heavy closures. The
    // partition count is the iteration-job conf (on a real cluster
    // sized to edge count; pinned small here because the frames are
    // id-pair scale).
    val part = new org.apache.spark.HashPartitioner(
      engine.Core.smallFrameWidth(spark))
    val pairs = pairsDf.select(
      col(pairsDf.columns(0)).cast("long"),
      col(pairsDf.columns(1)).cast("long")).as[(Long, Long)].rdd
    // symmetric edge list: propagation must flow both ways. Hash-
    // partitioned on v ONCE — every round joins edges on v against
    // labels carrying the same partitioner, so the static frame never
    // re-shuffles.
    val edges = pairs.flatMap { case (a, b) => Iterator((a, b), (b, a)) }
      .partitionBy(part).persist()
    // seed = least(self, min neighbor): folds the first propagation
    // round into initialization; near-clique components — the near-dup
    // common case — then converge in ONE checked round
    var labels = edges.reduceByKey(part, math.min(_: Long, _: Long))
      .map { case (v, m) => (v, math.min(v, m)) }
      .partitionBy(part).persist()
    var prev: org.apache.spark.rdd.RDD[_] = labels
    var moved = 1L; var rounds = 0
    while (moved > 0 && rounds < 25) {
      // (v,u) ⋈ (v,l) → neighbor propagation (u, l(v)); the join is
      // narrow (both sides co-partitioned on v)
      val viaEdge = edges.join(labels).map { case (_, (u, l)) => (u, l) }
      // pointer-halving hop: (w, l(w)) keyed by l(w) ⋈ (x, l(x)) on
      // l(w) = x → (w, l(l(w)))
      val viaHop = labels.map { case (w, wl) => (wl, w) }.join(labels)
        .map { case (_, (w, xl)) => (w, xl) }
      // the old label rides the combine as the tuple's second slot
      // (MaxValue on the propagate branches, so min() recovers the
      // previous label from the self branch) — the fixpoint test is a
      // filter over THIS round's persisted output, not a second join
      val next = labels.map { case (v, l) => (v, (l, l)) }
        .union(viaEdge.map { case (v, l) => (v, (l, Long.MaxValue)) })
        .union(viaHop.map { case (v, l) => (v, (l, Long.MaxValue)) })
        .reduceByKey(part, (a, b) =>
          (math.min(a._1, b._1), math.min(a._2, b._2)))
        .persist()
      moved = next.filter { case (_, (l, ol)) => l < ol }.count()
      prev.unpersist(blocking = false): Unit
      prev = next
      labels = next.mapValues(_._1) // partitioner-preserving
      rounds += 1
    }
    val sz = labels.map { case (_, l) => (l, 1L) }.reduceByKey(part, _ + _)
    val out = labels.map { case (v, l) => (l, v) }.join(sz)
      .map { case (l, (v, n)) => (v, l, n) }
    // materialize + truncate lineage before releasing the loop's
    // persisted blocks — the returned frame must replay rows, not the
    // whole round history (the DF version's localCheckpoint discipline)
    val ck = out.localCheckpoint()
    ck.count(): Unit
    edges.unpersist(blocking = false)
    prev.unpersist(blocking = false)
    ck.toDF("doc_id", "rep_id", "cluster_size")
  }

  private val dedupClusters = Q(
    (s, d) => clusterPairs(
        simhashPairs8(s, d).select(col("da"), col("db")))
      .orderBy("doc_id"),
    // oracle: transitive closure by recursive CTE (set-semantics UNION
    // terminates it), then min reachable id per node = component label
    Some("WITH RECURSIVE " + simhashPairsSqlCtes + """,
      edges AS (SELECT da v, db u FROM prs
                UNION ALL SELECT db, da FROM prs),
      reach(v, u) AS (SELECT v, u FROM edges
                      UNION
                      SELECT r.v, e.u FROM reach r JOIN edges e ON r.u = e.v),
      lbl AS (SELECT v, least(v, min(u)) rep FROM reach GROUP BY v)
      SELECT v AS doc_id, rep AS rep_id,
        count(*) OVER (PARTITION BY rep) AS cluster_size
      FROM lbl ORDER BY doc_id"""))

  /** CLUSTER-WEIGHTED soft dedup — the SemDeDup/D4 finding applied as a
    * sampler: instead of hard-dropping near-duplicates, keep each doc
    * with probability 1/cluster_size (singletons always survive), so
    * every duplicate GROUP contributes ~one expected copy while intra-
    * group diversity still gets a chance — the downweight-don't-delete
    * curation stage. Membership is the deterministic salted-md5-fraction
    * compare of sample_hash/sample_temperature: kept-or-not is f(doc_id)
    * alone, re-derivable by any downstream stage.
    *
    * Shape: composes two already-verified pieces — the occupancy-capped
    * simhash pair frame → pointer-halving connected components (16-byte
    * label shuffles) → one left join of (doc_id, cluster_size) back to
    * the corpus ids + a per-row hash compare. No new shuffle class; the
    * weight table a 100 TB pipeline materializes is |clustered docs|,
    * orders of magnitude under corpus size. */
  private val sampleClusterWeighted = Q(
    (s, d) => {
      val cl = clusterPairs(
        simhashPairs8(s, d).select(col("da"), col("db")))
        .select(col("doc_id"), col("cluster_size"))
      val u = conv(substring(md5(concat_ws("|", lit("cw"),
        col("doc_id").cast("string"))), 1, 8), 16, 10)
        .cast("long").cast("double") / 4294967296.0
      docs(s, d).select(col("doc_id"))
        .join(cl, Seq("doc_id"), "left")
        .withColumn("cluster_size", coalesce(col("cluster_size"), lit(1L)))
        .withColumn("w", lit(1.0) / col("cluster_size"))
        .filter(u < col("w"))
        .select(col("doc_id"), col("cluster_size"), r4(col("w")).as("weight"))
        .orderBy("doc_id")
    },
    Some("WITH RECURSIVE " + simhashPairsSqlCtes + """,
      edges AS (SELECT da v, db u FROM prs
                UNION ALL SELECT db, da FROM prs),
      reach(v, u) AS (SELECT v, u FROM edges
                      UNION
                      SELECT r.v, e.u FROM reach r JOIN edges e ON r.u = e.v),
      lbl AS (SELECT v, least(v, min(u)) rep FROM reach GROUP BY v),
      cs AS (SELECT v AS doc_id,
               count(*) OVER (PARTITION BY rep) AS cluster_size FROM lbl),
      jw AS (SELECT d.doc_id,
               coalesce(cs.cluster_size, 1) AS cluster_size,
               1::DOUBLE / coalesce(cs.cluster_size, 1) AS w,
               (('0x' || substr(md5('cw|' || d.doc_id), 1, 8))::BIGINT)::DOUBLE
                 / 4294967296.0 AS u
             FROM documents d LEFT JOIN cs USING (doc_id))
      SELECT doc_id, cluster_size, round(w, 4) AS weight
      FROM jw WHERE u < w ORDER BY doc_id"""))

  /** SRP-LSH near-dup pairs over unit vectors `e(vec_id, u)`: 16-bit
    * code, 4 bands × 4 bits, exact-cosine verification at `thr`;
    * returns `(va, vb, cos)` with va < vb. Shared by dedup_embedding's
    * `banded` mode, dedup_embedding_banded and
    * dedup_embedding_clusters.
    *
    * The pipeline runs at two reduced cardinalities (the simhashPairs
    * distinct-signature discipline, taken one level further):
    * EQUIVALENCE CLASSES of identical vectors for the verify, and
    * DISTINCT CODES for the band join — whether two vectors share a
    * band bucket is purely a property of their 16-bit codes (bounded
    * by the 2^16 code space at ANY corpus size), and their cosine is
    * purely a property of their vector contents. The emitted pair set
    * is PROVABLY IDENTICAL to the r11 per-vector banded self-join +
    * per-pair verify, so the declarative oracle SQL is unchanged — but
    * replication no longer multiplies work: the r11 shape paid k²
    * through the band join, a pair-level distinct over the 4×-inflated
    * collision frame, AND one cosine per expanded pair (47.5 M
    * SortMergeJoin'd verifications at the 10× probe); here only the
    * output-bound final expansion scales with replication.
    *
    * Occupancy capping (the simhash mega-bucket discipline) is
    * deliberately ABSENT here: a (band, bv) bucket holds at most
    * 2^12 distinct codes — the code space itself bounds the band join
    * absolutely — and with 16 values per band real corpora fill every
    * bucket within ~2^4 distinct codes, so any cap small enough to
    * ever fire would gut recall wholesale rather than drop outlier
    * buckets. At larger deployments the knob that scales this operator
    * is the code width (more planes/bands via [[VectorFunctions
    * .srpCode]]), not a cap. */
  private[engine] def srpNearDupPairs(s: SparkSession, d: String,
      thr: Double): DataFrame = {
    // EQUIVALENCE CLASSES by vector content: one groupBy(u) exchange
    // (the same bytes the unitEmbeddings repartition already moved)
    // collapses exact-duplicate vectors — the most-replicated content
    // in a crawl corpus — to one representative row carrying its
    // member-id list. Everything downstream (codes, bands, the band
    // self-join, the cosine verify) runs at CLASS cardinality; member
    // expansion happens only for VERIFIED pairs, so that last step is
    // output-bound by construction. A k-fold exact-replicated corpus
    // pays the sf-sized pipeline plus |output| expansion — the old
    // per-vector form paid k² through the band join, the pair-level
    // distinct AND the cosine verify (the 10× probe's 47.5 M
    // SortMergeJoin'd verifications).
    // SESSION-KEYED: the class frame depends only on the corpus, not on
    // the caller's threshold, and five ops (dedup_embedding,
    // dedup_embedding_banded, dedup_embedding_clusters, cluster_dbscan,
    // graph_k_core) consume it — at 100 TB this IS the materialized
    // signature table a dedup pipeline builds once. Their summed t1:
    // 16.3 s cached, 27.7 s without (sf0.1, 4 cores, medians of 3).
    val cls = engine.ScratchCache.persistKeyed(engine.Core.fpKey("srpcls", d, "embeddings"))(
      unitEmbeddings(s, d).filter(col("u").isNotNull)
        .groupBy(col("u"))
        .agg(sort_array(collect_list(col("vec_id"))).as("vids"))
        .withColumn("code", srpCode(col("u"), 16, 64))
        .filter(col("code").isNotNull)
        .withColumn("rid", element_at(col("vids"), 1)))
    val banded = cls.select(col("code")).distinct()
      .select(col("code"), explode(codeBands(col("code"), 4, 4)).as("bb"))
      .select(col("code"), col("bb.band").as("band"), col("bb.bv").as("bv"))
    val cpairs = banded.as("x")
      .join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col("x.code") < col("y.code"))
      .select(col("x.code").as("ca"), col("y.code").as("cb"))
      .distinct() // code-pair dedup at distinct-code scale, never id scale
    // class pairs whose codes collide: distinct-code pairs expanded to
    // the classes carrying each code, plus distinct classes sharing one
    // code (identical codes collide in every band by definition) —
    // together exactly the class pairs the per-vector band join would
    // propose, verified ONCE per class pair
    val crossCls = cpairs
      .join(cls.select(col("code").as("ca"), col("u").as("ua"),
        col("vids").as("va")), "ca")
      .join(cls.select(col("code").as("cb"), col("u").as("ub"),
        col("vids").as("vb")), "cb")
      .select(col("ua"), col("va"), col("ub"), col("vb"))
    val withinCode = cls.as("m")
      .join(cls.as("n"),
        col("m.code") === col("n.code") && col("m.rid") < col("n.rid"))
      .select(col("m.u").as("ua"), col("m.vids").as("va"),
        col("n.u").as("ub"), col("n.vids").as("vb"))
    val verified = crossCls.union(withinCode)
      .withColumn("cos", dot(col("ua"), col("ub")))
      .filter(col("cos") >= thr)
      .select(col("va"), col("vb"), col("cos"))
    // expansion of verified pairs only: cross-class members pairwise
    // (disjoint classes ⇒ each unordered pair once), plus the members
    // of every multi-member class among themselves (identical vectors:
    // cos = dot(u,u), subject to the same threshold — never assumed)
    val cross = verified
      .select(col("cos"), col("vb"), explode(col("va")).as("ai"))
      .select(col("cos"), col("ai"), explode(col("vb")).as("bi"))
      .select(least(col("ai"), col("bi")).as("va"),
        greatest(col("ai"), col("bi")).as("vb"), col("cos"))
    val withinCls = cls.filter(size(col("vids")) > 1)
      .withColumn("cos", dot(col("u"), col("u")))
      .filter(col("cos") >= thr)
      .select(col("cos"), col("vids"), explode(col("vids")).as("ai"))
      .select(col("cos"), col("ai"), explode(col("vids")).as("bi"))
      .filter(col("ai") < col("bi"))
      .select(col("ai").as("va"), col("bi").as("vb"), col("cos"))
    cross.union(withinCls)
  }

  /** SRP plane/code/band CTE chain over `e(vec_id, u)` — 16 md5-derived
    * ±1 hyperplanes × 64 dims, 4 bands of 4 bits, ending in
    * `bands(vec_id, band, bv)` — the SQL replay of [[VectorFunctions
    * .srpCode]] + [[VectorFunctions.codeBands]], shared by the
    * sim_search_ann and dedup_embedding_banded oracles. Same ±1 planes
    * (sign of md5("j:d")'s first bit), same left-to-right plane dots
    * (list_sum order = DoubleArrayDot order ⇒ bit-identical signs). The
    * `u IS NOT NULL` filter mirrors srpCode's NULL-vector guard (NULL
    * code ⇒ excluded from banding); without it the SQL CASE would fold a
    * NULL vector to code 0 and admit it as a candidate. */
  private[llm] def srpSqlCtesFor(nBands: Int, w: Int,
      pfx: String = ""): String = s""",
      ${pfx}planes AS (
        SELECT j, list(CASE WHEN ('0x' || substr(
                 md5(j::VARCHAR || ':' || d::VARCHAR), 1, 1))::BIGINT < 8
               THEN 1.0 ELSE -1.0 END ORDER BY d) AS pl
        FROM generate_series(0, 15) s(j)
        CROSS JOIN generate_series(0, 63) t(d) GROUP BY j),
      ${pfx}codes AS (
        SELECT vec_id,
          sum(CASE WHEN list_sum(list_transform(list_zip(u, pl),
                p -> p[1] * p[2])) >= 0
              THEN (1::BIGINT << j) ELSE 0 END)::BIGINT AS code
        FROM e CROSS JOIN ${pfx}planes WHERE u IS NOT NULL GROUP BY vec_id),
      ${pfx}bands AS (
        SELECT vec_id, j AS band, (code >> (j * $w)) & ${(1 << w) - 1} AS bv
        FROM ${pfx}codes CROSS JOIN generate_series(0, ${nBands - 1}) g(j))"""

  private[llm] val srpSqlCtes = srpSqlCtesFor(4, 4)

  /** Embedding-cosine near-dup pairs (cos >= 0.45), mode-switched by
    * [[EmbeddingModeKey]]: `banded` (DEFAULT) draws candidate pairs from
    * SRP-LSH band collisions and exact-cosine verifies only those — the
    * 100 TB shape, where the O(n²) pair loop must never run; `exact` is
    * the conf-gated all-pairs yardstick (its BNLJ enumeration exists for
    * verification, never deployment). The banded path is a high-recall
    * near-dup *screen* (recall → 1 as cosine → 1; pairs at the 0.45
    * margin can be missed — SRP band-collision probability ≈ 0.54
    * there), which is the semantics a dedup pipeline wants from this
    * operator at scale; the oracle replays the identical deterministic
    * plane/code/band pipeline in SQL, so the gate pins the banded
    * operator's exact output, and LlmSpec asserts banded ⊆ exact with
    * identical cosines and full recall at cosine ≥ 0.9. */
  private val dedupEmbedding = Q(
    (s, d) => {
      val out =
        if (s.conf.get(EmbeddingModeKey, "banded") == "exact") {
          val e = engine.ScratchCache.persist(unitEmbeddings(s, d))
          val c = dot(col("a.u"), col("b.u"))
          e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
            .filter(c >= 0.45)
            .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
              r4(c).as("cosine"))
        } else srpNearDupPairs(s, d, 0.45)
          .select(col("va"), col("vb"), r4(col("cos")).as("cosine"))
      out.orderBy("va", "vb")
    },
    Some(unitSql + srpSqlCtes + """,
      cand AS (SELECT DISTINCT x.vec_id AS ai, y.vec_id AS bi
               FROM bands x JOIN bands y
               ON x.band = y.band AND x.bv = y.bv AND x.vec_id < y.vec_id),
      pr AS (SELECT cand.ai, cand.bi,
               list_sum(list_transform(list_zip(a.u, b.u), p -> p[1] * p[2]))
                 AS cos
             FROM cand JOIN e a ON a.vec_id = cand.ai
                       JOIN e b ON b.vec_id = cand.bi)
      SELECT ai AS va, bi AS vb, round(cos, 4) AS cosine
      FROM pr WHERE cos >= 0.45 ORDER BY va, vb"""))

  /** The banded DEPLOYMENT shape of dedup_embedding as its own verified
    * id: SRP-LSH band collisions propose candidate pairs (equi-join on
    * band keys — the only pair enumeration that runs at 100 TB), exact
    * cosine verifies candidates only, and the oracle replays the
    * identical plane/code/band pipeline in SQL ([[srpSqlCtes]]) — so the
    * gate pins the approximate operator's EXACT deterministic output,
    * not merely a recall bound. The corpus never self-joins: the band
    * posting join's fan-out is collision-bound, and the vectors
    * re-attach to bare id pairs by equi-join.
    *
    * Since r7 flipped dedup_embedding's DEFAULT to banded the two ids
    * coincide under default conf — deliberately kept distinct: this id
    * ignores [[EmbeddingModeKey]], so the banded plan stays oracle-pinned
    * even in a session that conf-gates dedup_embedding to `exact`. */
  private val dedupEmbeddingBanded = Q(
    (s, d) => {
      srpNearDupPairs(s, d, 0.45)
        .select(col("va"), col("vb"), r4(col("cos")).as("cosine"))
        .orderBy("va", "vb")
    },
    Some(unitSql + srpSqlCtes + """,
      cand AS (SELECT DISTINCT x.vec_id AS ai, y.vec_id AS bi
               FROM bands x JOIN bands y
               ON x.band = y.band AND x.bv = y.bv AND x.vec_id < y.vec_id),
      pr AS (SELECT cand.ai, cand.bi,
               list_sum(list_transform(list_zip(a.u, b.u), p -> p[1] * p[2]))
                 AS cos
             FROM cand JOIN e a ON a.vec_id = cand.ai
                       JOIN e b ON b.vec_id = cand.bi)
      SELECT ai AS va, bi AS vb, round(cos, 4) AS cosine
      FROM pr WHERE cos >= 0.45 ORDER BY va, vb"""))

  /** Duplicate clusters for the VECTOR modality — [[clusterPairs]]'
    * min-label propagation run over the [[dedupEmbeddingBanded]] pair
    * frame (shared edge input), so embedding near-dups get the same
    * canonical-rep + cluster-size stage text already has
    * (dedup_clusters): pairs only say "a~b"; the keep-one decision a
    * curation pipeline actually consumes needs the transitive closure.
    * Each vector appearing in any verified pair reports
    * (rep_id = component min id, cluster_size).
    *
    * Shape: edge generation is the banded equi-join (collision-bound,
    * never O(n²)); the CC loop shuffles 16-byte (id, label) rows with
    * O(log diameter) pointer-halving rounds — the identical 100 TB
    * posture as dedup_clusters. Oracle: recursive-CTE transitive
    * closure over the same SQL-replayed pair list. */
  private val dedupEmbeddingClusters = Q(
    (s, d) => {
      clusterPairs(srpNearDupPairs(s, d, 0.45)
          .select(col("va").as("da"), col("vb").as("db")))
        .select(col("doc_id").as("vec_id"), col("rep_id"),
          col("cluster_size"))
        .orderBy("vec_id")
    },
    Some(unitSql.replaceFirst("^WITH ", "WITH RECURSIVE ") + srpSqlCtes + """,
      cand AS (SELECT DISTINCT x.vec_id AS ai, y.vec_id AS bi
               FROM bands x JOIN bands y
               ON x.band = y.band AND x.bv = y.bv AND x.vec_id < y.vec_id),
      pr AS (SELECT cand.ai, cand.bi,
               list_sum(list_transform(list_zip(a.u, b.u), p -> p[1] * p[2]))
                 AS cos
             FROM cand JOIN e a ON a.vec_id = cand.ai
                       JOIN e b ON b.vec_id = cand.bi),
      prs AS (SELECT ai, bi FROM pr WHERE cos >= 0.45),
      edges AS (SELECT ai v, bi u FROM prs
                UNION ALL SELECT bi, ai FROM prs),
      reach(v, u) AS (SELECT v, u FROM edges
                      UNION
                      SELECT r.v, e2.u FROM reach r JOIN edges e2 ON r.u = e2.v),
      lbl AS (SELECT v, least(v, min(u)) rep FROM reach GROUP BY v)
      SELECT v AS vec_id, rep AS rep_id,
        count(*) OVER (PARTITION BY rep) AS cluster_size
      FROM lbl ORDER BY vec_id"""))

  // ------------------------------------------------- B48k cluster_dbscan
  /** DBSCAN ε (cosine floor for neighborhood membership) and the core
    * threshold: a point is core with ≥ [[DbscanMinPts]] ε-neighbors
    * (self excluded — the classic minPts−1 neighbor form). ε = 0.3 on
    * this corpus yields a 135-core / 189-border / 176-noise split at
    * sf0.01 — all three roles populated at every test SF. */
  private val DbscanEps = 0.3
  private val DbscanMinPts = 3

  /** B48k: DENSITY-BASED CLUSTERING (DBSCAN) over the embedding space —
    * the outlier-aware complement to k-means (every point forced into a
    * cell) and to dedup_embedding_clusters (near-dup closure at a tight
    * threshold): each vector is classified `core` (≥ minPts
    * ε-neighbors), `border` (non-core touching a core), or `noise`,
    * and clusters are the connected components of the core-core
    * ε-graph — the curation readout that separates dense semantic
    * regions (over-represented content worth downsampling) from the
    * isolated tail (often junk OR rare-and-valuable; either way the
    * set a pipeline inspects).
    *
    * Shape at 100 TB: the ε-neighborhood is [[srpNearDupPairs]]' banded
    * LSH screen — candidate pairs from band collisions, exact-cosine
    * verified, NEVER all-pairs (grid-free DBSCAN's classic failure is
    * the O(n²) region query; LSH banding is the standard fix for
    * cosine-ε regions). Degrees, core filter, and border assignment
    * are each one key-partitioned aggregation over the pair list; the
    * component loop is [[clusterPairs]]' O(log diameter)
    * pointer-halving over 16-byte rows, CORE rows only. Deterministic
    * throughout: cluster id = component-minimum vec_id, border points
    * take the min core-neighbor cluster, noise carries -1.
    *
    * Oracle: identical plane/code/band replay, recursive-CTE closure
    * over the same core-core edges. */
  private val clusterDbscan = Q(
    (s, d) => {
      // every frame past the pair screen is a few thousand integer
      // rows — 32-way exchanges pay pure task-scheduling overhead, and
      // AQE materializes each of the body's ~10 exchanges as its own
      // serialized stage job (r21 JobTimer: 32 × ~70 ms futures for 2.3
      // of 3.9 warm seconds). Same trade as the capstones' trigger
      // bodies, so the same wrapper: 8-wide exchanges, AQE off,
      // materialized eagerly inside the scope (checkpointFresh) so the
      // caller's action replays rows under whatever confs the session
      // restores to. A/B at sf0.1: 3.9 → 3.4 s warm, byte-identical.
      // (On a cluster this is the epsilon-graph job conf, sized to edge
      // count.)
      engine.stream.StreamQueries.withMicroBatchConfs(s) {
        // edges and core are each consumed by several downstream
        // branches (degrees, core-core pairs, border assignment) —
        // materialize ONCE or each branch re-runs the band-join verify
        val prs = srpNearDupPairs(s, d, DbscanEps)
          .select(col("va").as("v"), col("vb").as("u"))
        val edges = prs.unionByName(prs.select(col("u").as("v"), col("v").as("u")))
          .repartition(col("v")).localCheckpoint()
        val core = edges.groupBy(col("v")).agg(count(lit(1)).as("dg"))
          .filter(col("dg") >= DbscanMinPts).select(col("v"))
          .localCheckpoint()
        val corePairs = edges.filter(col("v") < col("u"))
          .join(core, "v")
          .join(core.select(col("v").as("u")), "u")
          .select(col("v").as("da"), col("u").as("db"))
        val cc = clusterPairs(corePairs)
          .select(col("doc_id").as("v"), col("rep_id").as("rep"))
        // isolated cores (no core neighbor) head their own cluster
        val coreLbl = core.join(cc, Seq("v"), "left")
          .select(col("v"), coalesce(col("rep"), col("v")).as("cluster"))
          .localCheckpoint()
        val border = edges
          .join(coreLbl.select(col("v").as("u"), col("cluster")), "u")
          .join(core, Seq("v"), "left_anti")
          .groupBy(col("v")).agg(min(col("cluster")).as("cluster"))
        val lbl = coreLbl
          .select(col("v"), lit("core").as("role"), col("cluster"))
          .unionByName(border
            .select(col("v"), lit("border").as("role"), col("cluster")))
          .withColumnRenamed("v", "vec_id")
        engine.Core.checkpointFresh(
          unitCorpus(s, d).select(col("vec_id"))
            .join(lbl, Seq("vec_id"), "left")
            .select(col("vec_id"),
              coalesce(col("role"), lit("noise")).as("role"),
              coalesce(col("cluster"), lit(-1L)).as("cluster"))
            .orderBy("vec_id"))
      }
    },
    Some(unitSql.replaceFirst("^WITH ", "WITH RECURSIVE ") + srpSqlCtes + s""",
      cand AS (SELECT DISTINCT x.vec_id AS ai, y.vec_id AS bi
               FROM bands x JOIN bands y
               ON x.band = y.band AND x.bv = y.bv AND x.vec_id < y.vec_id),
      pr AS (SELECT cand.ai, cand.bi,
               list_sum(list_transform(list_zip(a.u, b.u), p -> p[1] * p[2]))
                 AS cos
             FROM cand JOIN e a ON a.vec_id = cand.ai
                       JOIN e b ON b.vec_id = cand.bi),
      prs AS (SELECT ai, bi FROM pr WHERE cos >= $DbscanEps),
      edges AS (SELECT ai v, bi u FROM prs
                UNION ALL SELECT bi, ai FROM prs),
      core AS (SELECT v FROM edges GROUP BY v
               HAVING count(*) >= $DbscanMinPts),
      ce AS (SELECT e2.v, e2.u FROM edges e2
             JOIN core a ON a.v = e2.v JOIN core b ON b.v = e2.u),
      reach(v, u) AS (SELECT v, u FROM ce
                      UNION
                      SELECT r.v, e3.u FROM reach r JOIN ce e3 ON r.u = e3.v),
      creps AS (SELECT v, least(v, min(u)) AS rep FROM reach GROUP BY v),
      clbl AS (SELECT c.v, coalesce(cr.rep, c.v) AS cluster
               FROM core c LEFT JOIN creps cr ON cr.v = c.v),
      brd AS (SELECT e2.v, min(cl.cluster) AS cluster
              FROM edges e2 JOIN clbl cl ON cl.v = e2.u
              WHERE e2.v NOT IN (SELECT v FROM core)
              GROUP BY e2.v),
      roles AS (SELECT v, 'core' AS role, cluster FROM clbl
                UNION ALL SELECT v, 'border' AS role, cluster FROM brd)
      SELECT e.vec_id, coalesce(r.role, 'noise') AS role,
        coalesce(r.cluster, -1)::BIGINT AS cluster
      FROM e LEFT JOIN roles r ON r.v = e.vec_id
      ORDER BY vec_id"""))

  // --------------------------------------------------- B48m graph_k_core
  /** Peel rounds / core threshold. R = 8 covers fixpoint at every test
    * SF (6 rounds at sf0.01, 2 at sf0.1 — sparser graphs peel longer);
    * the contract is "the survivor set after R synchronous peels",
    * which equals the true k-core wherever the peel has converged
    * (LlmSpec pins convergence on the fixture). */
  private val KCoreR = 8
  private val KCoreK = 2

  /** B48m: K-CORE EXTRACTION — the maximal subgraph of the ε-similarity
    * graph in which every member keeps ≥ [[KCoreK]] surviving
    * neighbors: the classic dense-region backbone (Seidman 1983), and
    * the structural complement to cluster_dbscan's per-point density
    * test — DBSCAN asks "how many neighbors do YOU have", the k-core
    * asks it RECURSIVELY (your neighbors must also survive), which is
    * what separates a chain of weakly-attached points from a genuinely
    * dense region. Curation reads the core as the redundancy backbone
    * (downsample candidates) and the peeled shell as the attachment
    * fringe.
    *
    * Synchronous peel, not sequential: each round drops EVERY node
    * whose surviving degree < k at once — the standard distributed
    * k-core schedule (rounds ≤ peel depth, each round one semi-join +
    * one count per edge) — and the oracle unrolls the identical R
    * rounds, so engine ≡ oracle by construction even where R cuts a
    * deeper peel short. Edges are the banded LSH ε-screen shared with
    * cluster_dbscan; all-integer throughout. */
  private val graphKCore = Q(
    (s, d) => {
      engine.Core.withConfs(s)("spark.sql.shuffle.partitions" ->
          engine.Core.smallFrameWidth(s).toString) {
        val prs = srpNearDupPairs(s, d, DbscanEps)
          .select(col("va").as("v"), col("vb").as("u"))
        val edges = prs.unionByName(
            prs.select(col("u").as("v"), col("v").as("u")))
          .repartition(col("v")).localCheckpoint()
        def restrict(sv: DataFrame): DataFrame = edges
          .join(sv, Seq("v"), "leftsemi")
          .join(sv.select(col("v").as("u")), Seq("u"), "leftsemi")
        var surv = edges.select(col("v")).distinct().localCheckpoint()
        // FIXPOINT early exit (result-identical): the peel is monotone
        // (surv_k ⊆ surv_{k-1} — membership passes through the
        // restrict-to-surv semi-joins), so an unchanged survivor COUNT
        // means an unchanged set, and every later round is the identity
        // map. The contract stays "the survivor set after R synchronous
        // peels" — this skips only provably-no-op rounds (at sf0.1 the
        // peel converges in 2 of the 8 budgeted rounds; each skipped
        // round was a full restrict+agg+checkpoint driver job). The
        // count is a ≤|nodes| scan of the just-checkpointed RDD.
        var prevN = -1L
        var fixed = false
        for (_ <- 1 to KCoreR) if (!fixed) {
          surv = engine.Core.checkpointFresh(
            restrict(surv).groupBy(col("v"))
              .agg(count(lit(1)).as("dg"))
              .filter(col("dg") >= KCoreK).select(col("v")))
          val n = surv.count()
          if (n == prevN) fixed = true else prevN = n
        }
        val deg = restrict(surv).groupBy(col("v"))
          .agg(count(lit(1)).as("core_deg"))
        unitCorpus(s, d).select(col("vec_id"))
          .join(surv.select(col("v").as("vec_id"), lit(true).as("m")),
            Seq("vec_id"), "left")
          .join(deg.withColumnRenamed("v", "vec_id"), Seq("vec_id"), "left")
          .select(col("vec_id"),
            coalesce(col("m"), lit(false)).as("in_core"),
            coalesce(col("core_deg"), lit(0L)).as("core_deg"))
          .orderBy("vec_id")
      }
    },
    Some {
      // every kc CTE is referenced 2-3 times downstream; DuckDB inlines
      // plain CTEs per reference, which re-expands the whole SRP band
      // pipeline 2^R times — MATERIALIZED pins each round to one
      // evaluation (measured: the plain form never returned at sf0.01)
      def round(i: Int): String = s""",
      kc$i AS MATERIALIZED (SELECT e2.v FROM edges e2
              JOIN kc${i - 1} a ON a.v = e2.v
              JOIN kc${i - 1} b ON b.v = e2.u
              GROUP BY e2.v HAVING count(*) >= $KCoreK)"""
      unitSql + srpSqlCtes + s""",
      cand AS (SELECT DISTINCT x.vec_id AS ai, y.vec_id AS bi
               FROM bands x JOIN bands y
               ON x.band = y.band AND x.bv = y.bv AND x.vec_id < y.vec_id),
      pr AS (SELECT cand.ai, cand.bi,
               list_sum(list_transform(list_zip(a.u, b.u), p -> p[1] * p[2]))
                 AS cos
             FROM cand JOIN e a ON a.vec_id = cand.ai
                       JOIN e b ON b.vec_id = cand.bi),
      prs AS (SELECT ai, bi FROM pr WHERE cos >= $DbscanEps),
      edges AS MATERIALIZED (SELECT ai v, bi u FROM prs
                UNION ALL SELECT bi, ai FROM prs),
      kc0 AS MATERIALIZED (SELECT DISTINCT v FROM edges)""" +
      (1 to KCoreR).map(round).mkString + s""",
      kdeg AS (SELECT e2.v, count(*) AS core_deg FROM edges e2
               JOIN kc$KCoreR a ON a.v = e2.v
               JOIN kc$KCoreR b ON b.v = e2.u
               GROUP BY e2.v)
      SELECT e.vec_id, (s8.v IS NOT NULL) AS in_core,
        coalesce(d8.core_deg, 0)::BIGINT AS core_deg
      FROM e LEFT JOIN kc$KCoreR s8 ON s8.v = e.vec_id
             LEFT JOIN kdeg d8 ON d8.v = e.vec_id
      ORDER BY e.vec_id"""
    })

  // -------------------------------------------------- B49 similarity search
  /** B49: brute-force cosine top-k. The (tiny) query set is broadcast, so
    * the corpus streams through one codegen'd projection with NO shuffle
    * of the corpus — the right plan at any corpus size; rank ties broken
    * by corpus id for hash determinism. */
  private val simSearchTopk = Q(
    (s, d) => {
      val e = unitEmbeddings(s, d)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("u").as("qu"))
      val c = dot(col("qu"), col("u"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("cid"))
      e.join(broadcast(q), col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("cid"), c.as("cos"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("qid"), col("cid"), col("rank"), r4(col("cos")).as("cosine"))
        .orderBy("qid", "rank")
    },
    Some(unitSql + """,
      q AS (SELECT vec_id qid, u qu FROM e WHERE vec_id < 5),
      sc AS (SELECT q.qid, e.vec_id cid,
               list_sum(list_transform(list_zip(q.qu, e.u), p -> p[1]*p[2])) cos
             FROM q, e WHERE e.vec_id <> q.qid)
      SELECT qid, cid,
        row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank,
        round(cos, 4) AS cosine
      FROM sc QUALIFY rank <= 5 ORDER BY qid, rank"""))

  // ------------------------------------------ B49j sim_search_filtered
  /** B49j: FILTERED vector search — top-k under a metadata predicate
    * (same `label` as the query), with PRE-FILTER semantics: the
    * predicate restricts the candidate set BEFORE ranking, so every
    * query gets its full k among eligible vectors — versus post-filter
    * (rank first, filter after), which silently returns < k when the
    * predicate is selective. The distinction is the central design
    * question of every filtered-ANN system (exactly why vector DBs
    * advertise "filtered search" as a feature, not a WHERE clause).
    *
    * Shape: the filter AND the rank run in one pass — the label
    * equality rides the broadcast-query join condition, so ineligible
    * vectors never reach the ranking window; at 100 TB with a
    * partition-keyed predicate column this is partition pruning plus
    * the [[simSearchTopk]] scan posture. */
  private val simSearchFiltered = Q(
    (s, d) => {
      val e = t(s, d, "embeddings").select(col("vec_id"), col("label"))
        .join(unitEmbeddings(s, d), "vec_id")
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("label").as("qlabel"),
          col("u").as("qu"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("cid"))
      e.join(broadcast(q),
          col("vec_id") =!= col("qid") && col("label") === col("qlabel"))
        .select(col("qid"), col("vec_id").as("cid"), col("label"),
          dot(col("qu"), col("u")).as("cos"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("qid"), col("rank"), col("cid"), col("label"),
          r4(col("cos")).as("cosine"))
        .orderBy("qid", "rank")
    },
    Some(unitSql + """,
      el AS (SELECT e.vec_id, b.label, e.u FROM e
             JOIN embeddings b ON b.vec_id = e.vec_id),
      fq AS (SELECT vec_id qid, label qlabel, u qu FROM el
             WHERE vec_id < 5),
      fsc AS (SELECT q.qid, el.vec_id cid, el.label,
               list_sum(list_transform(list_zip(q.qu, el.u),
                 p -> p[1]*p[2])) cos
             FROM fq q JOIN el
               ON el.vec_id <> q.qid AND el.label = q.qlabel)
      SELECT qid,
        row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank,
        cid, label, round(cos, 4) AS cosine
      FROM fsc QUALIFY rank <= 5 ORDER BY qid, rank"""))

  // --------------------------------------------- B49i sim_search_range
  /** Cosine threshold for the range search — ~2σ of the isotropic
    * testdata's cosine distribution (σ = 1/√64), so each query matches
    * a small but non-empty neighbor set. */
  private val RangeTau = 0.25

  /** The range-search pipeline split into its three stages so LlmSpec
    * can verify the PRUNING BOUND directly (every dropped (query, cell)
    * pair provably contains no match) as well as the end result:
    * returns (cell assignment with member·centroid dot, surviving
    * (qid, cent_id) probe list, final (qid, vec_id, cos) matches). */
  private[engine] def rangeSearchParts(s: SparkSession, d: String,
      tau: Double): (DataFrame, DataFrame, DataFrame) = {
    import s.implicits._
    val e = unitCorpus(s, d)
    val cents = trainedSphericalCells(s, d, e).toDF("cent_id", "cu")
    // cell assignment, carrying the member·centroid dot: min(cd) per
    // cell is the cell's angular ZONE MAP (cos of its widest member
    // angle) — the per-segment stat a 100 TB layout keeps beside each
    // cell partition, exactly like parquet min/max but in angle space
    val w0 = Window.partitionBy(col("vec_id"))
      .orderBy(col("cd").desc, col("cent_id"))
    val asg = engine.ScratchCache.persist(
      e.join(broadcast(cents))
        .select(col("vec_id"), col("cent_id"),
          dot(col("u"), col("cu")).as("cd"))
        .withColumn("rk", row_number().over(w0))
        .filter(col("rk") === 1)
        .select(col("vec_id"), col("cent_id"), col("cd")))
    val zone = asg.groupBy(col("cent_id")).agg(min(col("cd")).as("mincd"))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("u").as("qu"))
    // LOSSLESS cell pruning by the angular triangle inequality: for x
    // in cell c, θ(q,x) >= θ(q,c) − θ(c,x) >= θ(q,c) − acos(mincd), so
    // cos(q,x) <= cos(max(0, θ(q,c) − acos(mincd))) — a cell whose
    // bound falls below τ cannot contain a match and is never scanned.
    // The 1e-9 slack absorbs acos/cos ulp error so a boundary cell is
    // kept, never wrongly dropped (pruning must stay exact; the bound
    // itself never reaches the output, which is pure exact-order dots).
    def clamp(c: Column) = greatest(lit(-1d), least(lit(1d), c))
    val live = q.join(broadcast(cents))
      .select(col("qid"), col("cent_id"), dot(col("qu"), col("cu")).as("qcd"))
      .join(broadcast(zone), "cent_id")
      .filter(cos(greatest(lit(0d),
          acos(clamp(col("qcd"))) - acos(clamp(col("mincd")))))
        + lit(1e-9) >= lit(tau))
      .select(col("qid"), col("cent_id"))
    val out = asg.join(broadcast(live), "cent_id")
      .select(col("qid"), col("vec_id"))
      .filter(col("vec_id") =!= col("qid"))
      .join(e, "vec_id")
      .join(broadcast(q), Seq("qid"))
      .select(col("qid"), col("vec_id"), dot(col("qu"), col("u")).as("cos"))
      .filter(col("cos") >= lit(tau))
      .select(col("qid"), col("vec_id"), r4(col("cos")).as("cos"))
      .orderBy("qid", "vec_id")
    (asg, live, out)
  }

  /** B49i: RANGE (radius) SEARCH — all corpus vectors within cosine
    * [[RangeTau]] of each query, EXACT, with cell-level pruning: the
    * dedup-threshold twin of [[simSearchTopk]] (near-dup screens ask
    * "everything above τ", not "the best k"). Reuses the trained
    * 16-cell spherical codebook; each cell carries a one-double
    * angular zone map (min member·centroid cosine) and a query scans
    * only cells the triangle-inequality bound cannot rule out — the
    * pruning is provably lossless (LlmSpec pins it per dropped cell),
    * so the oracle is plain brute force. On the ISOTROPIC testdata the
    * bound never fires (within-cell angles are wide — the same regime
    * effect ann_recall_report documents for PQ residuals); on clustered
    * real embeddings cells are tight and most of the corpus is never
    * touched. At 100 TB the cell id is the storage partition key and
    * the zone map a per-partition stat, so a pruned cell is a skipped
    * partition scan, not a filtered one. */
  private val simSearchRange = Q(
    (s, d) => rangeSearchParts(s, d, RangeTau)._3,
    Some(unitSql + s""",
      eu AS (SELECT vec_id, u FROM e WHERE u IS NOT NULL),
      q AS (SELECT vec_id qid, u qu FROM eu WHERE vec_id < 5),
      sc AS (SELECT q.qid, e2.vec_id,
               list_sum(list_transform(list_zip(q.qu, e2.u), p -> p[1]*p[2])) cos
             FROM q, eu e2 WHERE e2.vec_id <> q.qid)
      SELECT qid, vec_id, round(cos, 4) AS cos
      FROM sc WHERE cos >= $RangeTau ORDER BY qid, vec_id"""))

  // ------------------------------------------- B49h mine_hard_negatives
  /** B49h: HARD-NEGATIVE MINING — the contrastive-training data op
    * (DPR / SimCLR / E5 recipe): for each anchor, the top-5
    * highest-cosine corpus vectors whose `label` DIFFERS from the
    * anchor's (the confusable negatives a contrastive loss learns
    * most from), each with the anchor's best same-label cosine and the
    * margin (pos − neg; a negative margin marks an anchor whose
    * nearest neighbor crosses the label boundary — the hardest
    * training rows). The anchor set is the id < 5 query convention; in
    * production it is the training batch, equally broadcast-sized.
    *
    * Shape: [[simSearchTopk]]'s — anchors broadcast, the corpus
    * streams through one codegen'd projection (label test + dot), NO
    * corpus shuffle at any scale; the per-anchor rank is a
    * WindowGroupLimit over anchor-keyed rows. */
  private val mineHardNegatives = Q(
    (s, d) => {
      val lbl = t(s, d, "embeddings").select(col("vec_id"), col("label"))
      val e = unitCorpus(s, d).join(lbl, "vec_id")
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("u").as("qu"),
          col("label").as("ql"))
      val sc = e.join(broadcast(q), col("vec_id") =!= col("qid"))
        .select(col("qid"), col("ql"), col("vec_id").as("cid"),
          col("label"), dot(col("qu"), col("u")).as("cos"))
      val pos = sc.filter(col("label") === col("ql"))
        .groupBy(col("qid")).agg(max(col("cos")).as("pos_cos"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("cid"))
      sc.filter(col("label") =!= col("ql"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .join(broadcast(pos), Seq("qid"))
        .select(col("qid"), col("rank"), col("cid").as("neg_id"),
          col("label").as("neg_label"), r4(col("cos")).as("cosine"),
          r4(col("pos_cos")).as("pos_cos"),
          r4(col("pos_cos") - col("cos")).as("margin"))
        .orderBy("qid", "rank")
    },
    Some(unitSql + """,
      eq AS (SELECT e.vec_id, e.u, lb.label
             FROM e JOIN embeddings lb USING (vec_id)
             WHERE e.u IS NOT NULL),
      q AS (SELECT vec_id qid, u qu, label ql FROM eq WHERE vec_id < 5),
      sc AS (SELECT q.qid, q.ql, c.vec_id cid, c.label,
               list_sum(list_transform(list_zip(q.qu, c.u),
                 p -> p[1] * p[2])) cos
             FROM q, eq c WHERE c.vec_id <> q.qid),
      pos AS (SELECT qid, max(cos) pos_cos FROM sc
              WHERE label = ql GROUP BY qid),
      neg AS (SELECT qid, cid, label, cos,
               row_number() OVER (PARTITION BY qid
                 ORDER BY cos DESC, cid) rank
              FROM sc WHERE label <> ql)
      SELECT n.qid, n.rank, n.cid AS neg_id, n.label AS neg_label,
        round(n.cos, 4) AS cosine, round(p.pos_cos, 4) AS pos_cos,
        round(p.pos_cos - n.cos, 4) AS margin
      FROM neg n JOIN pos p USING (qid) WHERE n.rank <= 5
      ORDER BY n.qid, n.rank"""))

  /** ANN via sign-random-projection LSH: 16-bit SRP code per vector,
    * banded 4×4; candidates share a band (equi-join), then exact cosine +
    * top-k *within candidates only*. Approximate w.r.t. the true top-k
    * (recall vs `sim_search_topk` is asserted in LlmSpec) but fully
    * DETERMINISTIC — the hyperplanes are md5-derived — so the oracle
    * replays the identical pipeline in DuckDB: same ±1 planes (sign of
    * md5("j:d")'s first bit), same left-to-right plane dots (list_sum
    * order = DoubleArrayDot order ⇒ bit-identical signs), same banding,
    * candidate join, and tie-broken rank. The oracle's `u IS NOT NULL`
    * filter mirrors srpCode's NULL-vector guard (NULL code ⇒ excluded
    * from banding); without it the SQL CASE would fold a NULL vector to
    * code 0 and admit it as a candidate. (No `--` comments in oracle
    * SQL: SparkEntry collapses newlines.) */
  /** The SRP-ANN top-k at a given banding (nBands bands of w bits over
    * the 16-bit code) — simSearchAnn's body, parameterized so
    * ann_recall_report can measure a second (wider-collision) operating
    * point against the same coded corpus; the banding is a pure
    * function of the code, so every operating point shares the one
    * session-keyed coded frame. */
  private[engine] def srpAnnTopK(s: SparkSession, d: String, nBands: Int,
      bw: Int): DataFrame = {
      // Candidate generation at the DISTINCT-CODE level (the
      // srpCandidatePairs discipline — collision is a property of the
      // codes alone, so the result set is unchanged): the ≤ 2^16
      // distinct codes band once, collide with the ≤ 20 broadcast query
      // band keys, and the surviving (qid, code) set — absolutely
      // bounded by queries × 2^16, a few MB at ANY corpus size — rides
      // a broadcast hash join back onto the corpus scan. The old shape
      // banded every VECTOR (4 posting rows per vector), deduped
      // (qid, cid) over the collision-inflated frame, and broadcast a
      // candidate-ID list that grew LINEARLY with the corpus — the
      // 14.2×-at-10× probe trend and a driver-memory cliff at scale.
      // One code per vector × distinct (qid, code) ⇒ (qid, cid) needs
      // no dedup, and the corpus never shuffles at all.
      // Session-keyed: the per-vector coded corpus is the ANN serving
      // index — built once per corpus, reused across probes
      // (sim_search_ann and ann_recall_report: summed t1 28.0 s cached,
      // 37.0 s without; sf0.1, 4 cores, medians of 3 Bench runs).
      val e = engine.ScratchCache.persistKeyed(engine.Core.fpKey("srp16", d, "embeddings"))(
        unitEmbeddings(s, d)
          .withColumnRenamed("u", "v")
          .withColumn("code", srpCode(col("v"), 16, 64))
          .filter(col("code").isNotNull))
      val banded = e.select(col("code")).distinct()
        .select(col("code"),
          explode(codeBands(col("code"), nBands, bw)).as("bb"))
        .select(col("code"), col("bb.band").as("band"), col("bb.bv").as("bv"))
      val qb = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"),
          explode(codeBands(col("code"), nBands, bw)).as("bb"))
        .select(col("qid"), col("bb.band").as("band"), col("bb.bv").as("bv"))
      val candCodes = banded.join(broadcast(qb), Seq("band", "bv"))
        .select(col("qid"), col("code"))
        .distinct()
      val qv = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val cand = e.join(broadcast(candCodes), Seq("code"))
        .filter(col("vec_id") =!= col("qid"))
        .join(broadcast(qv), Seq("qid"))
      val c = dot(col("qv"), col("v"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("cid"))
      cand.select(col("qid"), col("vec_id").as("cid"), c.as("cos"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("qid"), col("cid"), col("rank"), r4(col("cos")).as("cosine"))
        .orderBy("qid", "rank")
  }

  /** The SRP-ANN top-k replay at a given banding — the full oracle of
    * [[srpAnnTopK]], shared by sim_search_ann (4×4) and the report's
    * wider 8×2 operating point. */
  private[llm] def srpAnnOracleSqlFor(nBands: Int, w: Int): String =
    unitSql + srpSqlCtesFor(nBands, w) + """,
      cand AS (
        SELECT DISTINCT q.vec_id AS qid, c.vec_id AS cid
        FROM bands q JOIN bands c ON q.band = c.band AND q.bv = c.bv
        WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id),
      sc AS (
        SELECT cand.qid, cand.cid,
          list_sum(list_transform(list_zip(eq.u, ec.u), p -> p[1] * p[2])) AS cos
        FROM cand
        JOIN e eq ON eq.vec_id = cand.qid
        JOIN e ec ON ec.vec_id = cand.cid)
      SELECT qid, cid,
        row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank,
        round(cos, 4) AS cosine
      FROM sc QUALIFY rank <= 5 ORDER BY qid, rank"""

  private val simSearchAnn = Q(
    (s, d) => srpAnnTopK(s, d, 4, 4),
    Some(srpAnnOracleSqlFor(4, 4)))

  /** One spherical-k-means (Lloyd) round over unit vectors `e(vec_id,u)`:
    * assign each vector to its max-dot centroid (tie-break by cent_id),
    * then recompute each centroid as the L2-normalized mean of its
    * members; a memberless cell keeps its previous centroid. Per-dim
    * member sums are snapped to an integer NANO grid (round(x·1e9) as
    * long) before summing — double sums are order-dependent in the last
    * ulp under parallel aggregation, integer sums are not (the
    * unigram-logprob discipline), which is what lets DuckDB replay
    * training bit-identically. The corpus never shuffles: assignment is
    * a broadcast join + window over e's existing partitioning, and the
    * update aggregates K·dim fixed-point cells (map-side partial). The
    * codebook itself is a MODEL ARTIFACT (K·dim doubles): each round
    * aggregates it to the driver and re-broadcasts — the standard
    * distributed-k-means shape (Spark MLlib's KMeans does exactly this),
    * NOT a corpus collect; keeping it a lazy DataFrame instead chains
    * every round into one broadcast-subquery lineage that re-plans ~10
    * serial micro-stages at serving time (measured 3x the whole query's
    * wall time at sf0.1). Exact doubles survive the round-trip. */
  private[llm] def lloydRound(e: DataFrame,
      cents: Seq[(Long, Seq[Double])]): Seq[(Long, Seq[Double])] = {
    val s = e.sparkSession
    import s.implicits._
    val cdf = cents.toDF("cent_id", "cu")
    // argmax as ONE hash aggregate (max_by over the (cd, -cent_id)
    // struct ≡ the oracle's row_number ORDER BY cd DESC, cent_id pick),
    // with u riding the group — no window sort, no re-join against e;
    // first(u) is safe: every row of a vec_id group carries the same u
    // the update is ONE 65-slot hash aggregate per cell (64 fixed-point
    // dim sums + member count), map-side partial — the minhash MIN-slot
    // shape — not a posexplode fan-out with a second exchange
    val dimSums = (0 until 64).map(i =>
      sum(round(element_at(col("u"), i + 1) * 1e9, 0).cast("long")).as(s"s$i"))
    val updDs = e.join(broadcast(cdf))
      .select(col("vec_id"), col("u"), col("cent_id"),
        dot(col("u"), col("cu")).as("cd"))
      .groupBy(col("vec_id"))
      .agg(expr("max_by(cent_id, struct(cd, -cent_id))").as("cent_id"),
        first(col("u")).as("u"))
      .groupBy(col("cent_id"))
      .agg(count(lit(1)).as("n"), dimSums: _*)
      .select(col("cent_id"), array((0 until 64).map(i =>
        col(s"s$i").cast("double") / 1e9 / col("n")): _*).as("mv"))
      .select(col("cent_id"),
        transform(col("mv"), x => x / norm(col("mv"))).as("cu"))
      .as[(Long, Seq[Double])]
    val upd = engine.Core.boundedCollect(updDs, cents.size,
      "lloyd cell means").toMap
    cents.map { case (id, cu) => (id, upd.getOrElse(id, cu)) }
  }

  /** The 16-cell spherical coarse codebook, memoized per corpus dir —
    * the CurateQueries `coarseModelCache` discipline applied to the
    * cosine-geometry quantizer: md5-sampled seeds + two
    * [[lloydRound]]s, trained ONCE per corpus and served to every
    * consumer (sim_search_ivf, the ivf index build, cluster_kmeans). A
    * bounded model artifact (16 × 64 doubles); retraining per query
    * would model a pipeline that rebuilds its quantizer every time it
    * answers a search. Its 12 consumer ops' summed `t1`: 67.9 s cached,
    * 100.8 s without (sf0.1, 4 cores, medians of 3 Bench runs). The
    * oracles replay the same two rounds. */
  private val sphericalCellCache = new java.util.concurrent.ConcurrentHashMap[
    String, Seq[(Long, Seq[Double])]]()

  private[engine] def trainedSphericalCells(s: SparkSession, d: String,
      e: DataFrame, k: Int = 16): Seq[(Long, Seq[Double])] = {
    // key carries the embeddings fingerprint (Core.srcFingerprint): a
    // corpus regenerated in-place mid-session retrains instead of
    // serving the previous generation's codebook — and
    // the cell count k, so a non-default consumer (dedup_semantic's
    // corpus-proportional k) never collides with the 16-cell codebook
    // the IVF/cluster family shares
    val fp = engine.Core.srcFingerprint(d, "embeddings")
    sphericalCellCache.computeIfAbsent(s"$d#$k#$fp", _ => {
      import s.implicits._
      val seedDs = e
        .withColumn("h", md5(col("vec_id").cast("string")))
        .orderBy(col("h"), col("vec_id")).limit(k)
        .select(col("vec_id").as("cent_id"), col("u").as("cu"))
        .as[(Long, Seq[Double])]
      val seeds = engine.Core.boundedCollect(seedDs, k, "codebook seeds")
      (1 to 2).foldLeft(seeds)((c, _) => lloydRound(e, c))
    })
  }

  /** The trained spherical coarse quantizer as oracle SQL: unit vectors →
    * md5-sampled seeds → two Lloyd rounds, ending in `c2(cent_id, cu)`
    * over `eu(vec_id, u)` — the shared prefix of every consumer of the
    * 16-cell spherical codebook ([[simSearchIvf]], its indexed variant,
    * and [[SearchQueries]]' cluster_kmeans). */
  private[llm] def coarseChainSql: String = coarseChainSqlK(16)

  /** The coarse chain at an explicit cell count — consumers whose
    * engine side reads a cell-count conf (`spark.graft.knng.k`,
    * `spark.graft.semdedup.k`) build their oracle through this with
    * [[engine.Core.oracleK]] so a non-default conf can never diverge
    * the oracle from the plan it replays (r14 ADVICE / r15 verdict
    * item 3); the IVF family stays at the fixed 16-cell codebook. */
  private[llm] def coarseChainSqlK(k: Int): String =
    unitSql + s""",
      eu AS (SELECT vec_id, u FROM e WHERE u IS NOT NULL),
      c0 AS (SELECT vec_id AS cent_id, u AS cu FROM eu
                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $k)""" +
      lloydSqlRound("c0", 1) + lloydSqlRound("c1", 2)

  /** The Lloyd round as oracle SQL: CTEs a/asg/s/m/c<k> refining `prev`
    * into `c<k>` — the DuckDB replay of [[lloydRound]] (same argmax
    * tie-break, same nano-grid integer sums, same left-to-right norm). */
  private[llm] def lloydSqlRound(prev: String, k: Int): String = s""",
      a$k AS (SELECT eu.vec_id, c.cent_id,
               list_sum(list_transform(list_zip(eu.u, c.cu),
                 p -> p[1] * p[2])) AS cd
             FROM eu CROSS JOIN $prev c),
      asg$k AS (SELECT vec_id, cent_id FROM a$k
             QUALIFY row_number() OVER (PARTITION BY vec_id
               ORDER BY cd DESC, cent_id) = 1),
      s$k AS (SELECT a.cent_id, g.i,
               sum(CAST(round(eu.u[g.i] * 1e9, 0) AS BIGINT)) AS sx,
               count(*) AS n
             FROM asg$k a JOIN eu USING (vec_id)
             CROSS JOIN generate_series(1, 64) g(i)
             GROUP BY 1, 2),
      m$k AS (SELECT cent_id, list((sx::DOUBLE / 1e9) / n ORDER BY i) AS mv
             FROM s$k GROUP BY cent_id),
      c$k AS (SELECT c.cent_id,
               COALESCE(list_transform(m.mv, x -> x / sqrt(list_sum(
                 list_transform(m.mv, y -> y * y)))), c.cu) AS cu
             FROM $prev c LEFT JOIN m$k m USING (cent_id))"""

  /** B49c: ANN via IVF (inverted-file) coarse quantization — the standard
    * billion-vector layout: a small centroid codebook is broadcast like a
    * model artifact; every corpus vector is assigned to its nearest
    * centroid in one map-side pass (no corpus shuffle — the codebook join
    * is a broadcast, the argmax a window over the corpus's existing hash
    * partitioning); a query probes only its `NProbe` nearest cells, so the
    * re-rank scan is NProbe/K of the corpus however large the corpus
    * grows. At 100 TB the cell id doubles as the storage partition key —
    * candidates for a probe are one partition scan, not a shuffle.
    *
    * The codebook is TRAINED: seeds are the K corpus vectors with the
    * smallest md5(vec_id) (a deterministic uniform sample), refined by
    * two spherical-k-means rounds ([[lloydRound]]) — so cells follow the
    * data distribution instead of K arbitrary corpus points, which is
    * what holds recall up at real scale. Deterministic end-to-end: md5
    * seeds, tie-broken argmax, nano-grid integer mean sums — the oracle
    * replays seeding, both training rounds, assignment, probing, and the
    * tie-broken rank bit-identically. Recall vs brute force asserted in
    * LlmSpec. */
  /** The inline IVF top-k at a given probe width — simSearchIvf's body,
    * parameterized so ann_recall_report can measure the nprobe=8
    * operating point (scan fraction NProbe/16 of the corpus) against
    * the same trained codebook. */
  private[engine] def ivfTopK(s: SparkSession, d: String,
      NProbe: Int, sameLabelOnly: Boolean = false): DataFrame = {
      val TopK = 5
      // e consumed 5x (codebook, assignment, probes, both re-attach sides)
      val e = unitCorpus(s, d)
      import s.implicits._
      val cents = trainedSphericalCells(s, d, e).toDF("cent_id", "cu")
      // nearest-centroid ranks, computed ONCE for the whole corpus:
      // broadcast the codebook, rank the K dots per vector. rk=1 is the
      // cell assignment; rk<=NProbe on the query subset is the probe
      // list. Ids only — vectors re-attach by broadcast at the end
      // (no wide-payload keys ride a shuffle or a window sort).
      // SESSION-keyed (the pqcodes discipline): the rank table is a
      // deterministic model artifact of corpus × trained codebook, read
      // by sim_search_ivf, sim_search_ivf_filtered and
      // ann_recall_report's IVF rungs: summed t1 28.3 s cached, 40.7 s
      // without (sf0.1, 4 cores, medians of 3 Bench runs).
      val w0 = Window.partitionBy(col("vec_id"))
        .orderBy(col("cd").desc, col("cent_id"))
      val ranked = engine.ScratchCache.persistKeyed(
        engine.Core.fpKey(s"ivfrank_np$NProbe", d, "embeddings"))(
        e.join(broadcast(cents))
          .select(col("vec_id"), col("cent_id"),
            dot(col("u"), col("cu")).as("cd"))
          .withColumn("rk", row_number().over(w0))
          .filter(col("rk") <= NProbe)
          .select(col("vec_id"), col("cent_id"), col("rk")))
      val asg = ranked.filter(col("rk") === 1) // corpus → its (single) cell
        .select(col("vec_id"), col("cent_id"))
      val qprobe = ranked.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("cent_id"))
      // cell-postings equi-join: each corpus vector sits in exactly one
      // cell and a query's probed cells are distinct, so (qid, cid) pairs
      // are already unique — no dedup step needed (unlike LSH banding)
      val candIds0 = asg.join(broadcast(qprobe), Seq("cent_id"))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("cid"))
      // filtered-ANN mode: the metadata predicate (same label as the
      // query) prunes candidates BEFORE the re-rank — pre-filter
      // semantics inside the probed cells, so the k results are the
      // best ELIGIBLE candidates the probe saw. At 100 TB the label
      // rides the posting row, so this is a pushed filter on the cell
      // partition scan, not a post-rank drop.
      val candIds = if (!sameLabelOnly) candIds0 else {
        val lbl = t(s, d, "embeddings").select(col("vec_id"), col("label"))
        candIds0
          .join(lbl.toDF("cid", "clabel"), "cid")
          .join(broadcast(lbl.filter(col("vec_id") < 5)
            .toDF("qid", "qlabel")), "qid")
          .filter(col("clabel") === col("qlabel"))
          .select(col("qid"), col("cid"), col("clabel").as("label"))
      }
      val qv = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("u").as("qu"))
      val cand = e.join(broadcast(candIds), col("vec_id") === col("cid"))
        .join(broadcast(qv), Seq("qid"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("cid"))
      val extra = if (sameLabelOnly) Seq(col("label")) else Nil
      cand.select(Seq(col("qid"), col("cid"),
          dot(col("qu"), col("u")).as("cos")) ++ extra: _*)
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= TopK)
        .select(Seq(col("qid"), col("cid"), col("rank"),
          r4(col("cos")).as("cosine")) ++ extra: _*)
        .orderBy("qid", "rank")
  }

  private val simSearchIvf = Q(
    (s, d) => ivfTopK(s, d, 4),
    Some(ivfOracleSql()))

  /** B49k: FILTERED search through the IVF index — the indexed twin of
    * [[simSearchFiltered]]: probe nprobe=4 cells as [[simSearchIvf]]
    * does, but apply the metadata predicate (same label as the query)
    * INSIDE the probed cells before the re-rank, so each query's k are
    * the best eligible candidates the probe reached. The composition
    * every filtered-vector-search engine ships: coarse quantization
    * bounds the scan, the predicate prunes the posting rows (label is a
    * posting column → a pushed partition-scan filter at rest), and only
    * eligible vectors pay a distance computation. Recall vs the exact
    * pre-filter scan is the [[simSearchIvf]] trade measured by
    * ann_recall_report — cells are probed by QUERY geometry, so a rare
    * label concentrated in unprobed cells is the known failure mode
    * (the reason production systems over-probe when filters are
    * selective). */
  private val simSearchIvfFiltered = Q(
    (s, d) => ivfTopK(s, d, 4, sameLabelOnly = true),
    Some(coarseChainSql + s""",
      asgx AS (SELECT eu.vec_id, c.cent_id,
                 list_sum(list_transform(list_zip(eu.u, c.cu),
                   p -> p[1] * p[2])) AS cd
               FROM eu CROSS JOIN c2 c),
      asg AS (SELECT vec_id, cent_id FROM asgx
              QUALIFY row_number() OVER (PARTITION BY vec_id
                ORDER BY cd DESC, cent_id) = 1),
      qprobe AS (SELECT vec_id AS qid, cent_id FROM asgx WHERE vec_id < 5
                 QUALIFY row_number() OVER (PARTITION BY vec_id
                   ORDER BY cd DESC, cent_id) <= 4),
      flbl AS (SELECT vec_id, label FROM embeddings),
      cand AS (SELECT q.qid, a.vec_id AS cid, lc.label
               FROM asg a JOIN qprobe q USING (cent_id)
               JOIN flbl lc ON lc.vec_id = a.vec_id
               JOIN flbl lq ON lq.vec_id = q.qid AND lq.label = lc.label
               WHERE a.vec_id <> q.qid),
      sc AS (SELECT cand.qid, cand.cid, cand.label,
               list_sum(list_transform(list_zip(eq.u, ec.u),
                 p -> p[1] * p[2])) AS cos
             FROM cand JOIN eu eq ON eq.vec_id = cand.qid
                       JOIN eu ec ON ec.vec_id = cand.cid)
      SELECT qid, cid,
        row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank,
        round(cos, 4) AS cosine, label
      FROM sc QUALIFY rank <= 5 ORDER BY qid, rank"""))

  /** Shared oracle for both IVF serving paths: seeds → two Lloyd rounds
    * → assignment → nprobe probe → tie-broken re-rank. [[simSearchIvf]]
    * computes this inline; [[simSearchIvfIndexed]] round-trips the
    * codebook and cell postings through parquet between build and probe,
    * which preserves every double bit-exactly, so one replay pins both.
    * `nprobe` parameterizes the report's wider operating point. */
  private[llm] def ivfOracleSql(qPred: String = "vec_id < 5",
      nprobe: Int = 4, extraCols: String = ""): String =
    coarseChainSql + s""",
      asgx AS (SELECT eu.vec_id, c.cent_id,
                 list_sum(list_transform(list_zip(eu.u, c.cu),
                   p -> p[1] * p[2])) AS cd
               FROM eu CROSS JOIN c2 c),
      asg AS (SELECT vec_id, cent_id FROM asgx
              QUALIFY row_number() OVER (PARTITION BY vec_id
                ORDER BY cd DESC, cent_id) = 1),
      qprobe AS (SELECT vec_id AS qid, cent_id FROM asgx WHERE $qPred
                 QUALIFY row_number() OVER (PARTITION BY vec_id
                   ORDER BY cd DESC, cent_id) <= $nprobe),
      cand AS (SELECT q.qid, a.vec_id AS cid
               FROM asg a JOIN qprobe q USING (cent_id)
               WHERE a.vec_id <> q.qid),
      sc AS (SELECT cand.qid, cand.cid,
               list_sum(list_transform(list_zip(eq.u, ec.u),
                 p -> p[1] * p[2])) AS cos
             FROM cand JOIN eu eq ON eq.vec_id = cand.qid
                       JOIN eu ec ON ec.vec_id = cand.cid)
      SELECT qid, cid,
        row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank,
        round(cos, 4) AS cosine$extraCols
      FROM sc QUALIFY rank <= 5 ORDER BY qid, rank"""

  /** Session memo for [[ivfBuildIndex]] (the trainedMerges
    * bpeModelCache pattern): the nightly-index semantics this op
    * documents is build ONCE, serve many — uncached, each call commits
    * a fresh version (a full codebook + partitioned-postings rewrite).
    * Its readers, sim_search_ivf_indexed and stream_ann_probe, summed
    * `t1` 4.6 s cached and 9.5 s without (sf0.1, 4 cores, medians of 3
    * Bench runs). In-memory and fingerprint-keyed: a new process always
    * rebuilds from the parquet inputs. */
  private val ivfIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      (String, String, org.apache.spark.sql.types.StructType)]()

  private def ivfBuildIndex(s: SparkSession, d: String)
      : (String, String, org.apache.spark.sql.types.StructType) = {
    ivfIndexCache.computeIfAbsent(
      s"$d#${engine.Core.srcFingerprint(d, "embeddings")}",
      _ => ivfBuildIndexUncached(s, d))
  }

  /** The offline IVF indexing job: train the codebook (seeds + two
    * [[lloydRound]]s over the persisted unit corpus), assign every
    * vector to its single nearest cell, write `codebook` and
    * cell-PARTITIONED `postings` parquet tables. Returns (cbPath,
    * postPath, postings schema — reads must pass it back or
    * partition-column type inference downcasts cent_id to INT). */
  private def ivfBuildIndexUncached(s: SparkSession, d: String)
      : (String, String, org.apache.spark.sql.types.StructType) = {
    import s.implicits._
    val e = unitCorpus(s, d)
    val cents = trainedSphericalCells(s, d, e).toDF("cent_id", "cu")
    val san = d.replaceAll("[^a-zA-Z0-9]", "_")
    val root = new java.io.File(s"${engine.Core.scratchRoot}/graft_ivf_index_$san")
    // hash-agg argmax (the lloydRound shape) — no window sort over
    // the corpus; u rides the group so postings are self-contained
    val asg = e.join(broadcast(cents))
      .select(col("vec_id"), col("u"), col("cent_id"),
        dot(col("u"), col("cu")).as("cd"))
      .groupBy(col("vec_id"))
      .agg(expr("max_by(cent_id, struct(cd, -cent_id))").as("cent_id"),
        first(col("u")).as("u"))
    val postSchema = asg.schema
    // codebook + postings are CO-VERSIONED under one atomic pointer
    // (VersionedTable.commitDir): a probe must never see a new codebook
    // with old postings, and a crash mid-build must leave the previous
    // index intact — two plain overwrites expose both windows
    val id = engine.stream.VersionedTable.currentDir(root)
      .map(_.getName.drop(1).toLong + 1).getOrElse(0L)
    engine.stream.VersionedTable.commitDir(root, id) { dir =>
      cents.write.parquet(new java.io.File(dir, "codebook").getPath)
      asg.write.partitionBy("cent_id")
        .parquet(new java.io.File(dir, "postings").getPath)
    }
    val cur = engine.stream.VersionedTable.currentDir(root).get
    (new java.io.File(cur, "codebook").getPath,
      new java.io.File(cur, "postings").getPath, postSchema)
  }

  /** Serve a query frame `qv(qid, qu)` from the prebuilt index: rank the
    * read codebook per query, collect the probed-cell set (static
    * partition pruning — at cluster scale DPP does it without the
    * collect), partition-pruned postings scan, broadcast re-rank.
    * Reads ONLY the index tables. */
  private def ivfProbe(s: SparkSession, qv: DataFrame, cbPath: String,
      postPath: String,
      postSchema: org.apache.spark.sql.types.StructType): DataFrame = {
    val NProbe = 4; val TopK = 5
    import s.implicits._
    val cb = s.read.parquet(cbPath)
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("cd").desc, col("cent_id"))
    val qprobe = qv.join(broadcast(cb))
      .select(col("qid"), col("cent_id"),
        dot(col("qu"), col("cu")).as("cd"))
      .withColumn("rk", row_number().over(wq))
      .filter(col("rk") <= NProbe)
      .select(col("qid"), col("cent_id"))
    val cells = engine.Core.boundedCollect(
        qprobe.select(col("cent_id")).distinct().as[Long], 4096,
        "ivf probed cells (isin-pruning practicality bound)")
      .sorted
    val posts = s.read.schema(postSchema).parquet(postPath)
      .filter(col("cent_id").isin(cells: _*))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("cid"))
    posts.join(broadcast(qprobe), Seq("cent_id"))
      .filter(col("vec_id") =!= col("qid"))
      .join(broadcast(qv), Seq("qid"))
      .select(col("qid"), col("vec_id").as("cid"),
        dot(col("qu"), col("u")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("qid"), col("cid"), col("rank"), r4(col("cos")).as("cosine"))
  }

  /** B49d: the PERSISTED-index IVF serving path. [[simSearchIvf]] trains
    * its codebook inside every query run; a production retrieval layout
    * builds the index ONCE — an offline job writes the codebook and the
    * cell postings as tables — and every probe reads the prebuilt index.
    * This operator runs both halves:
    *
    *  - BUILD: train the codebook (same seeds + two [[lloydRound]]s as
    *    sim_search_ivf), assign every corpus vector to its single
    *    nearest cell, write `codebook` and `postings` parquet tables,
    *    postings PARTITIONED BY the cell id — the cell IS the storage
    *    partition key, so probing a cell is a partition-directory scan.
    *  - PROBE: reads ONLY the two index tables. Queries rank the read
    *    codebook (broadcast — K rows), keep their NProbe nearest cells,
    *    and the postings scan is PARTITION-PRUNED to the probed cell
    *    set before the re-rank join (PlanSpec pins the PartitionFilters
    *    line): NProbe/K of the corpus is read however large it grows.
    *
    * The probed-cell set is (queries × NProbe) ids — model-artifact
    * scale — so collecting it turns the read into STATIC partition
    * pruning; at cluster scale the same join prunes via dynamic
    * partition pruning without the collect. Doubles survive the parquet
    * round trip bit-exactly, so the probe result equals sim_search_ivf's
    * inline recompute and [[ivfOracleSql]] pins both (LlmSpec asserts
    * the equality in Spark alone too). */
  private val simSearchIvfIndexed = Q(
    (s, d) => {
      val (cbPath, postPath, postSchema) = ivfBuildIndex(s, d)
      val qv = unitCorpus(s, d)
        .filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("u").as("qu"))
      ivfProbe(s, qv, cbPath, postPath, postSchema).orderBy("qid", "rank")
    },
    Some(ivfOracleSql()))

  // ------------------------------------------------------ B50 text analysis
  /** Synthetic stand-in stopword lists (the testdata vocabulary is 30
    * pipeline words + 'the'/'a'); real deployments swap in real per-
    * language lists — the operator shape (array intersect counts + argmax
    * with deterministic tie-break) is the deliverable. */
  private val stoplists: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "data", "row"),
    "es" -> Seq("join", "hash", "batch"),
    "fr" -> Seq("scan", "column", "filter"),
    "de" -> Seq("order", "window", "group"),
    "zh" -> Seq("spark", "stream", "vector"))

  private def hits(tok: Column, words: Seq[String]): Column =
    size(filter(tok, x => x.isin(words.map(w => w: Any): _*)))

  /** Language-ID by stopword-hit argmax (n-gram-heuristic family), with
    * fixed priority tie-break; emits per-language scores + the table's
    * labeled lang for comparison. */
  private val textLangId = Q(
    (s, d) => {
      val tok = tokens(col("text"))
      val sc = stoplists.map { case (l, ws) => l -> hits(tok, ws) }
      val Seq(en, es, fr, de, zh) = sc.map(_._2)
      val pred = when(en >= greatest(es, fr, de, zh), "en")
        .when(es >= greatest(fr, de, zh), "es")
        .when(fr >= greatest(de, zh), "fr")
        .when(de >= zh, "de").otherwise("zh")
      docs(s, d).select(
        col("doc_id"), col("lang").as("labeled_lang"),
        en.as("score_en"), es.as("score_es"), fr.as("score_fr"),
        de.as("score_de"), zh.as("score_zh"), pred.as("predicted"))
        .orderBy("doc_id")
    },
    Some("""WITH sc AS (SELECT doc_id, lang AS labeled_lang,
        len(list_filter(string_split(text,' '), x -> list_contains(['the','a','data','row'], x))) AS score_en,
        len(list_filter(string_split(text,' '), x -> list_contains(['join','hash','batch'], x))) AS score_es,
        len(list_filter(string_split(text,' '), x -> list_contains(['scan','column','filter'], x))) AS score_fr,
        len(list_filter(string_split(text,' '), x -> list_contains(['order','window','group'], x))) AS score_de,
        len(list_filter(string_split(text,' '), x -> list_contains(['spark','stream','vector'], x))) AS score_zh
      FROM documents)
      SELECT doc_id, labeled_lang, score_en, score_es, score_fr, score_de, score_zh,
        CASE WHEN score_en >= greatest(score_es, score_fr, score_de, score_zh) THEN 'en'
             WHEN score_es >= greatest(score_fr, score_de, score_zh) THEN 'es'
             WHEN score_fr >= greatest(score_de, score_zh) THEN 'fr'
             WHEN score_de >= score_zh THEN 'de'
             ELSE 'zh' END AS predicted
      FROM sc ORDER BY doc_id"""))

  /** Document quality scoring: token stats, stopword ratio, dup-marker
    * flag, and a bounded composite score — the filter signal a pretraining
    * pipeline gates on. Pure arithmetic (identical IEEE in the oracle). */
  /** The quality sub-expressions, shared by textQuality (which emits
    * them) and pipelineCurate (which gates on the composite) so the two
    * can never drift (r4 review). All over `col("text")`. */
  private def avgTokenLen: Column = {
    val nTok = size(tokens(col("text")))
    (length(col("text")) - (nTok - 1)) / nTok
  }
  private def stopwordRatio: Column =
    hits(tokens(col("text")), Seq("the", "a")) / size(tokens(col("text")))
  /** The floor-rounded composite. floor-based rounding, NOT round(): the
    * composite lands exactly on .00005 boundaries (e.g. 32 tokens ⇒
    * 0.37825), where Spark's HALF_UP-on-binary and DuckDB's scaled-rint
    * disagree by one ulp of output; floor(x*1e4 + 0.5)/1e4 is the
    * identical IEEE op sequence in both engines, so the same input double
    * always rounds the same way. */
  private[llm] def qualityScore: Column = {
    val nTok = size(tokens(col("text")))
    val quality = least(lit(1.0), nTok / lit(100.0)) * 0.6 +
      stopwordRatio * 0.2 +
      (lit(1.0) - least(lit(1.0), abs(avgTokenLen - 5.0) / 5.0)) * 0.2
    floor(quality * 10000 + lit(0.5)) / 10000.0
  }

  private val textQuality = Q(
    (s, d) => {
      val tok = tokens(col("text"))
      docs(s, d).select(
        col("doc_id"), col("n_chars"), size(tok).as("n_tokens"),
        size(array_distinct(tok)).as("n_unique"),
        r4(avgTokenLen).as("avg_token_len"),
        r4(stopwordRatio).as("stopword_ratio"),
        array_contains(tok, "dup").as("has_dup_marker"),
        qualityScore.as("quality"))
        .orderBy("doc_id")
    },
    Some("""WITH q AS (SELECT doc_id, n_chars,
        len(string_split(text,' ')) AS n_tokens,
        len(list_distinct(string_split(text,' '))) AS n_unique,
        (length(text) - (len(string_split(text,' ')) - 1))
          / len(string_split(text,' ')) AS avg_token_len,
        len(list_filter(string_split(text,' '), x -> list_contains(['the','a'], x)))
          / len(string_split(text,' ')) AS stopword_ratio,
        list_contains(string_split(text,' '), 'dup') AS has_dup_marker
      FROM documents)
      SELECT doc_id, n_chars, n_tokens, n_unique,
        round(avg_token_len, 4) AS avg_token_len,
        round(stopword_ratio, 4) AS stopword_ratio, has_dup_marker,
        floor((least(1.0, n_tokens / 100.0) * 0.6 + stopword_ratio * 0.2
          + (1.0 - least(1.0, abs(avg_token_len - 5.0) / 5.0)) * 0.2)
          * 10000 + 0.5) / 10000.0 AS quality
      FROM q ORDER BY doc_id"""))

  /** Token counting both ways a pretraining pipeline sizes its data:
    * whitespace tokens (the cheap corpus estimate) and a BPE-ish regex
    * tokenization — letter runs, SINGLE digits (modern BPE vocabularies
    * split numbers per digit), punctuation runs — whose count tracks real
    * tokenizer output closely enough for budget math. chars/token is the
    * compression-ratio signal used to spot boilerplate and non-text.
    * The alternatives match disjoint character classes, so Java-regex
    * (Spark) and RE2 (DuckDB) agree on every match boundary. Pure
    * column math: one codegen'd projection, no shuffle before the sort. */
  /** Count-Min geometry: d hash rows × w counter buckets. w is
    * deliberately TINY for the testdata (vocab ≈ 30 over 16 buckets
    * collides constantly — 11/20 top terms carry a real overestimate
    * at sf0.01) so the error-accounting column is exercised;
    * production sizes w ≈ e/ε for a target additive error ε·N. */
  private val CmsD = 4
  private val CmsW = 16L

  /** FREQUENCY SKETCH heavy hitters — the Count-Min answer to "what are
    * the top terms and how wrong is the sketch about them": the
    * [[CmsD]]×[[CmsW]] counter matrix every streaming frequency monitor
    * keeps (Cormode & Muthukrishnan '05), built relationally (counter
    * (i, b) = Σ counts of terms hashing to b under salt i — exact longs,
    * mergeable across partitions/segments by vector addition, the
    * agg_quantile_sketch posture for frequencies), probed for the exact
    * top-20 terms, each reporting exact count, CMS estimate
    * (min over the d rows), and the overestimate — one-sided by
    * construction (CMS never undercounts; the probe makes that a
    * hash-checked property, and the margin a measured number, the
    * ann_recall_report discipline).
    *
    * Shape at 100 TB: the term-count shuffle is the text_token_stats
    * pass; the counter matrix is ≤ d·w rows built by one map-side-
    * collapsing agg; the probe joins 20 broadcast terms against it.
    * Nothing but (term, count) pairs ride any exchange. */
  private val corpusHeavyHitters = Q(
    (s, d) => {
      def posOf(i: Int, term: Column): Column = pmod(
        conv(substring(md5(concat_ws("|", lit(i.toString), term)), 1, 8),
          16, 10).cast("long"), lit(CmsW))
      val tc = engine.ScratchCache.persist(
        docs(s, d).select(explode(tokens(col("text"))).as("term"))
          .groupBy(col("term")).agg(count(lit(1)).as("cnt")))
      val counters = tc.select((1 to CmsD).map(i =>
          struct(lit(i).as("i"), posOf(i, col("term")).as("b"),
            col("cnt").as("c")).as(s"s$i")): _*)
        .select(explode(array((1 to CmsD).map(i => col(s"s$i")): _*))
          .as("s"))
        .select(col("s.i").as("i"), col("s.b").as("b"), col("s.c").as("c"))
        .groupBy(col("i"), col("b")).agg(sum(col("c")).as("cv"))
      val top = tc.orderBy(col("cnt").desc, col("term")).limit(20)
      val probes = top.select(col("term"), col("cnt"),
          explode(array((1 to CmsD).map(i =>
            struct(lit(i).as("i"), posOf(i, col("term")).as("b"))): _*))
            .as("p"))
        .select(col("term"), col("cnt"), col("p.i").as("i"),
          col("p.b").as("b"))
      probes.join(broadcast(counters), Seq("i", "b"))
        .groupBy(col("term"))
        .agg(first(col("cnt")).as("exact_cnt"), min(col("cv")).as("est_cnt"))
        .select(col("term"), col("exact_cnt"), col("est_cnt"),
          (col("est_cnt") - col("exact_cnt")).as("overest"))
        .orderBy(col("exact_cnt").desc, col("term"))
    },
    Some(s"""WITH htc AS (SELECT term, count(*)::BIGINT AS cnt
               FROM (SELECT unnest(string_split(text, ' ')) AS term
                     FROM documents) GROUP BY 1),
      hrows AS (SELECT unnest(range(1, ${CmsD + 1}))::INT AS i),
      hctr AS (SELECT i,
                 ('0x' || substr(md5(i::VARCHAR || '|' || term), 1, 8))
                   ::BIGINT % $CmsW AS b,
                 sum(cnt)::BIGINT AS cv
               FROM htc CROSS JOIN hrows GROUP BY 1, 2),
      htop AS (SELECT term, cnt FROM htc
               ORDER BY cnt DESC, term LIMIT 20),
      hpr AS (SELECT t.term, t.cnt, r.i,
                ('0x' || substr(md5(r.i::VARCHAR || '|' || t.term), 1, 8))
                  ::BIGINT % $CmsW AS b
              FROM htop t CROSS JOIN hrows r)
      SELECT p.term, min(p.cnt)::BIGINT AS exact_cnt,
        min(c.cv)::BIGINT AS est_cnt,
        (min(c.cv) - min(p.cnt))::BIGINT AS overest
      FROM hpr p JOIN hctr c ON c.i = p.i AND c.b = p.b
      GROUP BY p.term ORDER BY exact_cnt DESC, term"""))

  private val textTokenStats = Q(
    (s, d) => {
      val BpePat = "[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\s]+"
      val nBpe = size(regexp_extract_all(col("text"), lit(BpePat), lit(0)))
      docs(s, d).select(
        col("doc_id"), col("n_chars"),
        size(tokens(col("text"))).as("n_ws_tokens"),
        nBpe.as("n_bpe_tokens"),
        // floor-rounding (not round()): quotient of two small ints lands
        // on .00005 boundaries where the engines' round() disagree
        when(nBpe > 0,
          floor(col("n_chars").cast("double") / nBpe * 10000 + lit(0.5))
            / 10000.0).as("chars_per_bpe_token"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, n_chars,
        len(string_split(text, ' ')) AS n_ws_tokens,
        len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]+'))
          AS n_bpe_tokens,
        CASE WHEN len(regexp_extract_all(text,
            '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]+')) > 0
          THEN floor(CAST(n_chars AS DOUBLE)
            / len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]+'))
            * 10000 + 0.5) / 10000.0 END AS chars_per_bpe_token
      FROM documents ORDER BY doc_id"""))

  /** Within-document REPETITION signals — the Gopher/C4-style quality
    * family (template spam and boilerplate loops repeat n-grams far more
    * than natural text; pretraining pipelines gate on exactly these):
    * duplicate-3-gram fraction (1 − distinct/total), most-frequent-token
    * fraction, most-frequent-2-gram fraction. Shapes: the 3-gram signal
    * is a pure codegen'd projection (array sizes, no shuffle); the
    * top-frequency signals explode n-grams and aggregate per (doc,
    * gram) then per doc — two partial-agg shuffles keyed by doc_id,
    * never a per-row interpreted frequency loop (the minhash HOF
    * lesson). All ratios floor-grid rounded (.00005-boundary rule). */
  private val textRepetition = Q(
    (s, d) => {
      // grams2 references the MATERIALIZED token column `w` (attribute,
      // O(1) per element_at) — never the inline split, whose subtree
      // would re-evaluate per lambda element (O(tokens²)/doc).
      val grams2 = when(size(col("w")) >= 2,
        transform(sequence(lit(1), size(col("w")) - 1), i =>
          concat_ws(" ", element_at(col("w"), i), element_at(col("w"), i + 1))))
        .otherwise(array().cast("array<string>"))
      val base = docs(s, d).select(col("doc_id"), tokens(col("text")).as("w"))
      val s1 = explodeNonNull(base, col("w"), "t", col("doc_id"))
        .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(max(col("c")).as("m1"), sum(col("c")).as("t1"))
      val s2 = explodeNonNull(
          base.select(col("doc_id"), grams2.as("g2")),
          col("g2"), "g", col("doc_id"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(max(col("c")).as("m2"), sum(col("c")).as("t2"))
      def grid(c: Column): Column = floor(c * 10000 + lit(0.5)) / 10000.0
      val dist3 = size(shingles3(col("w")))
      val tot3 = greatest(size(col("w")) - 2, lit(1))
      base
        .join(s1, Seq("doc_id"), "left")
        .join(s2, Seq("doc_id"), "left")
        .select(col("doc_id"), size(col("w")).as("n_tokens"),
          grid(lit(1.0) - dist3 / tot3).as("dup_3gram_frac"),
          grid(col("m1") / col("t1")).as("top_token_frac"),
          grid(col("m2") / col("t2")).as("top_2gram_frac"))
        .orderBy("doc_id")
    },
    Some("""WITH tok AS (SELECT doc_id, string_split(text, ' ') w,
               len(string_split(text, ' ')) n FROM documents),
      g2 AS (SELECT doc_id, unnest(list_transform(
               generate_series(1, len(w) - 1), i -> w[i] || ' ' || w[i+1])) g
             FROM tok WHERE len(w) >= 2),
      c2 AS (SELECT doc_id, g, count(*) c FROM g2 GROUP BY 1, 2),
      s2 AS (SELECT doc_id, max(c) m2, sum(c) t2 FROM c2 GROUP BY 1),
      t1x AS (SELECT doc_id, unnest(w) t FROM tok),
      c1 AS (SELECT doc_id, t, count(*) c FROM t1x GROUP BY 1, 2),
      s1 AS (SELECT doc_id, max(c) m1, sum(c) t1 FROM c1 GROUP BY 1),
      d3 AS (SELECT doc_id, n,
               CASE WHEN n >= 3 THEN len(list_distinct(list_transform(
                 generate_series(1, n - 2),
                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])))
               ELSE 1 END dist3,
               greatest(n - 2, 1) tot3
             FROM tok)
      SELECT d3.doc_id, d3.n AS n_tokens,
        floor((1.0 - dist3 / tot3) * 10000 + 0.5) / 10000.0
          AS dup_3gram_frac,
        floor((m1 / t1) * 10000 + 0.5) / 10000.0 AS top_token_frac,
        floor((m2 / t2) * 10000 + 0.5) / 10000.0 AS top_2gram_frac
      FROM d3 LEFT JOIN s1 USING (doc_id) LEFT JOIN s2 USING (doc_id)
      ORDER BY doc_id"""))

  /** Corpus-level TF-IDF term table: one explode + one agg (map-side
    * partial) + a broadcast of the single-row corpus count. */
  private val textAnalysis = Q(
    (s, d) => {
      val terms = docs(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      val totals = docs(s, d).agg(count(lit(1)).as("n_docs"))
      terms.groupBy(col("term"))
        .agg(countDistinct(col("doc_id")).as("df"), count(lit(1)).as("tf"))
        .crossJoin(broadcast(totals))
        .select(col("term"), col("df"), col("tf"),
          r4(log(col("n_docs") / col("df"))).as("idf"),
          r4(col("tf") * log(col("n_docs") / col("df"))).as("tfidf"))
        .orderBy("term")
    },
    Some("""WITH terms AS (SELECT doc_id, unnest(string_split(text,' ')) term
               FROM documents),
      n AS (SELECT count(*) n_docs FROM documents),
      agg AS (SELECT term, count(DISTINCT doc_id) df, count(*) tf
              FROM terms GROUP BY 1)
      SELECT term, df, tf,
        round(ln(n_docs / df), 4) AS idf,
        round(tf * ln(n_docs / df), 4) AS tfidf
      FROM agg CROSS JOIN n ORDER BY term"""))

  /** Winnowing-style document fingerprint (min shingle digest) — the
    * constant-size per-doc sketch that groups candidate plagiarism/dup
    * sets without pairwise comparison. */
  private val textFingerprint = Q(
    (s, d) => shingled(s, d).select(
        col("doc_id"),
        size(col("s")).as("n_shingles"),
        // fingerprint folded ONCE; fp8 substrings the materialized column
        // instead of re-running the md5-min fold a second time
        fingerprint(col("s")).as("fp"))
      .select(col("doc_id"), col("n_shingles"), col("fp"),
        substring(col("fp"), 1, 8).as("fp8"))
      .orderBy("doc_id"),
    Some(shingleSql + """
      SELECT doc_id, len(s) AS n_shingles,
        list_min(list_transform(s, x -> md5(x))) AS fp,
        substr(list_min(list_transform(s, x -> md5(x))), 1, 8) AS fp8
      FROM sh ORDER BY doc_id"""))

  /** Bounded edit-distance verification over banded candidates: simhash
    * band collisions propose pairs, `levenshtein(a, b, k)` verifies. The
    * THRESHOLD form is the scale-right verify — it runs the banded DP in
    * O(k·n) and bails with -1 past k, vs O(n²) for the unbounded
    * distance; the verify step runs on candidates only, never all pairs.
    * (The oracle's unbounded levenshtein + `<= k` filter is equivalent by
    * definition of the bail-out.) */
  private val dedupEditDistance = Q(
    (s, d) => {
      val k = 200
      val txt = docs(s, d).select(col("doc_id"), col("text"))
      simhashPairs8(s, d)
        .select(col("da"), col("db"))
        // NO repartition here, deliberately (r8, measured): the cached
        // pair table already carries its distinct-exchange partitioning
        // (32-way), so the O(k·n) DP below runs fully parallel straight
        // off the cache. Inserting an explicit keyed repartition hands
        // AQE a fresh 2 MiB shuffle boundary that it coalesces to ~2
        // partitions — the DP then runs near-serial: 60 s vs 4 s.
        .join(txt.toDF("da", "ta"), "da")
        .join(txt.toDF("db", "tb"), "db")
        // free pre-filter: |len(a)-len(b)| > k already implies dist > k,
        // so the DP never runs for length-mismatched pairs (same result,
        // the oracle's unbounded filter subsumes it)
        .filter(abs(length(col("ta")) - length(col("tb"))) <= k)
        .select(col("da"), col("db"),
          levenshtein(col("ta"), col("tb"), k).as("lev"))
        .filter(col("lev") >= 0) // -1 = distance exceeded the bound
        .orderBy("da", "db")
    },
    Some("WITH " + simhashPairsSqlCtes + """
      SELECT p.da, p.db, levenshtein(ta.text, tb.text) AS lev
      FROM prs p JOIN documents ta ON ta.doc_id = p.da
                 JOIN documents tb ON tb.doc_id = p.db
      WHERE levenshtein(ta.text, tb.text) <= 200
      ORDER BY da, db"""))

  /** Unigram log-probability quality score — the cheap statistical-LM
    * proxy (avg per-token surprisal under the corpus unigram model):
    * gibberish and boilerplate-free rare text scores HIGH surprisal,
    * template spam LOW. Two aggregations over one token explode; the
    * term-count table joins back by term (at 100 TB the vocab is
    * millions of rows — an equi-join, broadcast-able after df cutoff).
    * Per-token surprisal is snapped to an integer MICRONAT grid before
    * the per-doc sum: double sums are order-dependent in the last ulp
    * under parallel aggregation, integer sums are not (the agg_stats
    * discipline applied to logs). */
  /** B47k: CHARACTER-ENTROPY quality signal — the information-theoretic
    * gate the Gopher/CCNet heuristic family runs beside repetition and
    * stopword ratios: Shannon entropy of the per-document character
    * distribution. Encoding junk and single-char floods score LOW
    * (degenerate distribution), natural text sits in a mid band, random
    * bytes score HIGH — the cheap complement to the statistical-LM
    * surprisal scores ([[textUnigramLogprob]]) that needs no corpus
    * model at all (pure per-document math, embarrassingly parallel at
    * any scale).
    *
    * Shape: one char explode → per-(doc, char) counts → per-doc fold —
    * two partial-agg shuffles keyed by doc_id, no corpus-wide state.
    * Float discipline: H = Σ (c/n)·(−ln(c/n)) accumulates as exact
    * integer products of counts × micronat-grid surprisals (the
    * text_unigram_logprob quantization), divided once at the end; r4 on
    * the reported nats. */
  private val textEntropy = Q(
    (s, d) => {
      val ch = explodeNonNull(
        docs(s, d).select(col("doc_id"), split(col("text"), "").as("cs")),
        col("cs"), "ch", col("doc_id"))
      val cc = ch.groupBy(col("doc_id"), col("ch"))
        .agg(count(lit(1)).as("c"))
      val n = sum(col("c")).cast("double")
      val micronats = round(-log(col("c").cast("double") /
        sum(col("c")).over(Window.partitionBy(col("doc_id"))).cast("double"))
        * 1e6, 0).cast("long")
      cc.select(col("doc_id"), col("c"), (col("c") * micronats).as("cm"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_uniq_chars"),
          sum(col("c")).as("n_chars"),
          r4(sum(col("cm")) / n / lit(1e6)).as("entropy_nats"))
        .select(col("doc_id"), col("n_chars"), col("n_uniq_chars"),
          col("entropy_nats"))
        .orderBy("doc_id")
    },
    Some("""WITH ech AS (SELECT doc_id, unnest(string_split(text, '')) ch
               FROM documents),
      ecc AS (SELECT doc_id, ch, count(*) AS c FROM ech GROUP BY 1, 2),
      ecm AS (SELECT doc_id, c,
                c * round(-ln(c::DOUBLE /
                  sum(c) OVER (PARTITION BY doc_id)::DOUBLE) * 1e6, 0)
                  ::BIGINT AS cm
              FROM ecc)
      SELECT doc_id, sum(c)::BIGINT AS n_chars,
        count(*) AS n_uniq_chars,
        round(sum(cm)::DOUBLE / sum(c)::DOUBLE / 1e6, 4) AS entropy_nats
      FROM ecm GROUP BY doc_id ORDER BY doc_id"""))

  private val textUnigramLogprob = Q(
    (s, d) => {
      val th = engine.ScratchCache.persist(explodeNonNull(
        docs(s, d).select(col("doc_id"), tokens(col("text")).as("w")),
        col("w"), "term", col("doc_id")))
      val cnts = th.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      val tot = cnts.agg(sum(col("cnt")).cast("double").as("n_total"))
      val micronats = round(-log(col("cnt").cast("double") / col("n_total"))
        * 1e6, 0).cast("long")
      th.join(cnts, "term")
        .crossJoin(broadcast(tot))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          r4(sum(micronats) / 1e6 / count(lit(1))).as("avg_surprisal"))
        .orderBy("doc_id")
    },
    Some("""WITH th AS (SELECT doc_id, unnest(string_split(text, ' ')) term
               FROM documents),
      cnts AS (SELECT term, count(*) AS cnt FROM th GROUP BY term),
      tot AS (SELECT sum(cnt)::DOUBLE AS n_total FROM cnts)
      SELECT doc_id, count(*) AS n_tokens,
        round(sum(round(-ln(cnt::DOUBLE / n_total) * 1e6, 0)::BIGINT)::DOUBLE
          / 1e6 / count(*), 4) AS avg_surprisal
      FROM th JOIN cnts USING (term) CROSS JOIN tot
      GROUP BY doc_id ORDER BY doc_id"""))

  /** B47l: CCNet-style PERPLEXITY BUCKETING — the canonical LM-filter
    * deployment shape (Wenzek et al., CCNet): score every document
    * under the statistical LM, then split EACH LANGUAGE into
    * head/middle/tail TERCILES of the score distribution — downstream
    * pipelines keep head+middle and drop (or down-sample) the tail.
    * Absolute-threshold gates break the moment the corpus mix shifts;
    * the per-lang relative cut is the production form.
    *
    * Score = per-doc avg unigram surprisal on the integer micronat
    * grid ([[textUnigramLogprob]]'s model), rounded to ONE integer
    * micronat-per-token value — so ranking ties are exact and
    * engine-independent. Bucket boundaries avoid float thresholds
    * entirely: with r = rank−1 and m = lang_docs−1, head is
    * 3·r < m, middle is 3·r < 2·m — pure integer comparisons, the
    * percent_rank terciles with zero interpolation ambiguity (ties
    * share a rank(), so equal scores always land in one bucket).
    *
    * Shape at 100 TB: the score table is ONE narrow row per doc; the
    * tercile window is a per-lang distributed sort of doc-count rows
    * (the sample_quality_topk class), never corpus text; the unigram
    * model attaches by broadcast-able equi-join exactly as in the
    * parent op. */
  private val qualityPerplexity = Q(
    (s, d) => {
      val th = explodeNonNull(
        docs(s, d).select(col("doc_id"), col("lang"),
          tokens(col("text")).as("w")),
        col("w"), "term", col("doc_id"), col("lang"))
      val cnts = th.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      val tot = cnts.agg(sum(col("cnt")).cast("double").as("n_total"))
      val micronats = round(-log(col("cnt").cast("double") / col("n_total"))
        * 1e6, 0).cast("long")
      val scored = th.join(broadcast(cnts), "term")
        .crossJoin(broadcast(tot))
        .groupBy(col("doc_id"), col("lang"))
        .agg(count(lit(1)).as("n_tokens"), sum(micronats).as("sm"))
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          round(col("sm").cast("double") / col("n_tokens"), 0)
            .cast("long").as("score_micro"))
      val wl = Window.partitionBy(col("lang"))
      val r = rank().over(wl.orderBy(col("score_micro"))) - lit(1)
      val m = count(lit(1)).over(wl) - lit(1)
      // singleton-lang guard (r18 advisor): with one doc, m = 0 makes
      // both tercile predicates false and the lang's ONLY document
      // would land in 'tail' with kept = false — a relative cut has no
      // distribution to rank against, so the sole representative of a
      // language must be kept, not dropped. Same special case in the
      // oracle SQL below.
      scored
        .withColumn("bucket",
          when(m === 0 || lit(3) * r < m, lit("head"))
            .when(lit(3) * r < lit(2) * m, lit("middle"))
            .otherwise(lit("tail")))
        .withColumn("kept", col("bucket") =!= lit("tail"))
        .orderBy("doc_id")
    },
    Some("""WITH qth AS (SELECT doc_id, lang,
                 unnest(string_split(text, ' ')) term FROM documents),
      qcnts AS (SELECT term, count(*) AS cnt FROM qth GROUP BY term),
      qtot AS (SELECT sum(cnt)::DOUBLE AS n_total FROM qcnts),
      qsc AS (SELECT doc_id, lang, count(*) AS n_tokens,
               CAST(round(sum(round(-ln(cnt::DOUBLE / n_total) * 1e6, 0)
                 ::BIGINT)::DOUBLE / count(*), 0) AS BIGINT) AS score_micro
              FROM qth JOIN qcnts USING (term) CROSS JOIN qtot
              GROUP BY doc_id, lang),
      qrk AS (SELECT *,
               rank() OVER (PARTITION BY lang ORDER BY score_micro) - 1
                 AS r,
               count(*) OVER (PARTITION BY lang) - 1 AS m
              FROM qsc)
      SELECT doc_id, lang, n_tokens, score_micro,
        CASE WHEN m = 0 OR 3 * r < m THEN 'head'
             WHEN 3 * r < 2 * m THEN 'middle'
             ELSE 'tail' END AS bucket,
        (m = 0 OR 3 * r < 2 * m) AS kept
      FROM qrk ORDER BY doc_id"""))

  /** INTERPOLATED BIGRAM LM surprisal — the CCNet-style statistical-LM
    * quality filter one model order up from [[textUnigramLogprob]]: each
    * token after the first is scored under
    * p(wᵢ|wᵢ₋₁) = 0.75·c(wᵢ₋₁wᵢ)/c(wᵢ₋₁) + 0.25·c(wᵢ)/N (Jelinek-Mercer
    * interpolation — the bigram term rewards natural word order, the
    * unigram floor keeps unseen-context tokens finite), the first token
    * under the pure unigram. Boilerplate with stereotyped transitions
    * scores LOW surprisal; shuffled-word gibberish that fools the
    * unigram model scores HIGH.
    *
    * Shape: bigrams are a per-row `transform` (never a positional
    * self-join); the bigram/unigram count tables are model artifacts
    * (vocab² bounded, df-cappable and broadcast-able at 100 TB) attached
    * by equi-joins to the posting frame. Surprisal snaps to the integer
    * micronat grid before the per-doc sum (the unigram op's order-free
    * discipline); interpolation arithmetic is written with identical
    * association in both engines. */
  private val textBigramLogprob = Q(
    (s, d) => {
      val base = engine.ScratchCache.persist(
        docs(s, d).select(col("doc_id"), tokens(col("text")).as("w")))
      val th = explodeNonNull(base, col("w"), "term", col("doc_id"))
      val uni = engine.ScratchCache.persist(
        th.groupBy(col("term")).agg(count(lit(1)).as("cnt")))
      val tot = uni.agg(sum(col("cnt")).cast("double").as("n_total"))
      val bgArr = when(size(col("w")) >= 2,
        transform(sequence(lit(1), size(col("w")) - 1), i =>
          struct(element_at(col("w"), i).as("l"),
            element_at(col("w"), i + 1).as("r"))))
        .otherwise(array().cast("array<struct<l:string,r:string>>"))
      val bg = engine.ScratchCache.persist(
        base.select(col("doc_id"), explode(bgArr).as("b"))
          .select(col("doc_id"), col("b.l").as("l"), col("b.r").as("r")))
      val bcnt = bg.groupBy(col("l"), col("r")).agg(count(lit(1)).as("cb"))
      val pbi = col("cb").cast("double") / col("lcnt")
      val pun = col("rcnt").cast("double") / col("n_total")
      val mInterp = round(-log(lit(0.75) * pbi + lit(0.25) * pun) * 1e6, 0)
        .cast("long")
      // The count tables are model artifacts (vocab / vocab² bounded,
      // df-cappable at 100 TB) — broadcast them so the bigram posting
      // frame streams through all three attachments with ZERO exchanges
      // of the corpus-scale side (the cached `bg`/`uni` fragments hide
      // their sizes from AQE, which otherwise plans sort-merge here).
      val scored2 = bg
        .join(broadcast(bcnt), Seq("l", "r"))
        .join(broadcast(uni.select(col("term").as("l"),
          col("cnt").as("lcnt"))), "l")
        .join(broadcast(uni.select(col("term").as("r"),
          col("cnt").as("rcnt"))), "r")
        .crossJoin(broadcast(tot))
        .select(col("doc_id"), mInterp.as("m"))
      val mUni = round(-log(col("cnt").cast("double") / col("n_total"))
        * 1e6, 0).cast("long")
      val scored1 = base.filter(size(col("w")) >= 1)
        .select(col("doc_id"), element_at(col("w"), 1).as("term"))
        .join(broadcast(uni), "term").crossJoin(broadcast(tot))
        .select(col("doc_id"), mUni.as("m"))
      scored1.union(scored2)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          r4(sum(col("m")) / 1e6 / count(lit(1))).as("avg_surprisal"))
        .orderBy("doc_id")
    },
    Some("""WITH base AS (SELECT doc_id, string_split(text, ' ') w
               FROM documents),
      th AS (SELECT doc_id, unnest(w) term FROM base),
      uni AS (SELECT term, count(*) cnt FROM th GROUP BY term),
      tot AS (SELECT sum(cnt)::DOUBLE n_total FROM uni),
      bg AS (SELECT doc_id,
               unnest(list_transform(range(1, len(w)), i -> w[i])) l,
               unnest(list_transform(range(1, len(w)), i -> w[i + 1])) r
             FROM base WHERE len(w) >= 2),
      bcnt AS (SELECT l, r, count(*) cb FROM bg GROUP BY l, r),
      s2 AS (SELECT bg.doc_id,
               round(-ln(0.75 * (bcnt.cb::DOUBLE / ul.cnt) +
                         0.25 * (ur.cnt::DOUBLE / tot.n_total)) * 1e6, 0)
                 ::BIGINT m
             FROM bg JOIN bcnt USING (l, r)
               JOIN uni ul ON ul.term = bg.l
               JOIN uni ur ON ur.term = bg.r
               CROSS JOIN tot),
      s1 AS (SELECT base.doc_id,
               round(-ln(uni.cnt::DOUBLE / tot.n_total) * 1e6, 0)::BIGINT m
             FROM base JOIN uni ON uni.term = w[1] CROSS JOIN tot
             WHERE len(w) >= 1),
      u AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2)
      SELECT doc_id, count(*) AS n_tokens,
        round(sum(m)::DOUBLE / 1e6 / count(*), 4) AS avg_surprisal
      FROM u GROUP BY doc_id ORDER BY doc_id"""))

  /** Bloom parameters: k hash functions over an m-position table. m is
    * deliberately small for the testdata (250 ref digests × 4 hashes ≈
    * 64% fill) so FALSE POSITIVES actually occur and the accounting
    * column is exercised — production sizes m ≈ −n·ln(p)/ln(2)² for a
    * target FP rate p. */
  private val BloomK = 4
  private val BloomM = 1024L

  /** BLOOM-FILTER dedup SCREEN — the approximate-membership pre-pass a
    * cross-shard dedup runs before any exact work: the reference
    * slice's (even doc_id) digest set is folded into a [[BloomK]]-hash
    * [[BloomM]]-position Bloom table; each candidate (odd doc_id) is
    * flagged `bloom_hit` iff ALL its positions are set, beside its
    * `exact_dup` ground truth. One-sided error by construction — a
    * true duplicate can never be missed (LlmSpec pins zero false
    * negatives), false positives occur at the fill-ratio^k rate and
    * are what the exact pass downstream resolves; the screen's job is
    * discarding the overwhelming non-duplicate majority without
    * touching the reference data itself.
    *
    * The bit array is RELATIONALIZED (the set-position set, ≤ m rows —
    * broadcast at any corpus size) so the semantics are oracle-checked
    * bit-for-bit; the at-rest form is the packed-bitset sidecar
    * [[engine.stream.AppendTable]] writes ([[engine.stream.AppendTable
    * .readPruned]]'s segment Blooms — same math, serving form). Shape:
    * candidates stream through a map-side join against the broadcast
    * position set; the reference corpus is read once to build it. */
  /** The screen over an arbitrary `(doc_id, text)` frame — factored so
    * LlmSpec can plant cross-slice duplicates (the driver testdata has
    * none straddling the even/odd split) and pin the zero-false-
    * negative guarantee on them. */
  private[engine] def bloomScreenFrame(docsDf: DataFrame): DataFrame = {
      def posOf(i: Int, dg: Column): Column = pmod(
        conv(substring(md5(concat_ws("|", lit(i.toString), dg)), 1, 8),
          16, 10).cast("long"), lit(BloomM))
      val dgAll = docsDf
        .select(col("doc_id"), md5(lower(trim(col("text")))).as("dg"))
      val ref = dgAll.filter(col("doc_id") % 2 === 0)
        .select(col("dg")).distinct()
      val refPos = ref.select(explode(array((1 to BloomK).map(i =>
          posOf(i, col("dg"))): _*)).as("pos")).distinct()
      val cand = dgAll.filter(col("doc_id") % 2 === 1)
      val cpos = cand.select(col("doc_id"), explode(array(
          (1 to BloomK).map(i => posOf(i, col("dg"))): _*)).as("pos"))
        .distinct()
      val hits = cpos
        .join(broadcast(refPos.withColumn("hit", lit(1))), Seq("pos"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n"), sum(coalesce(col("hit"), lit(0)))
          .as("h"))
        .select(col("doc_id"), (col("h") === col("n")).as("bloom_hit"))
      val exact = cand
        .join(ref.withColumn("e", lit(1)), Seq("dg"), "left")
        .select(col("doc_id"), (col("e").isNotNull).as("exact_dup"))
      hits.join(exact, "doc_id")
        .select(col("doc_id"), col("bloom_hit"), col("exact_dup"))
        .orderBy("doc_id")
  }

  private val dedupBloomScreen = Q(
    (s, d) => bloomScreenFrame(docs(s, d)),
    Some(s"""WITH bdg AS (SELECT doc_id, md5(lower(trim(text))) AS dg
               FROM documents),
      bref AS (SELECT DISTINCT dg FROM bdg WHERE doc_id % 2 = 0),
      brpos AS (SELECT DISTINCT
                 ('0x' || substr(md5(i || '|' || dg), 1, 8))::BIGINT
                   % $BloomM AS pos
               FROM bref CROSS JOIN generate_series(1, $BloomK) g(i)),
      bcand AS (SELECT doc_id, dg FROM bdg WHERE doc_id % 2 = 1),
      bcpos AS (SELECT DISTINCT doc_id,
                 ('0x' || substr(md5(i || '|' || dg), 1, 8))::BIGINT
                   % $BloomM AS pos
               FROM bcand CROSS JOIN generate_series(1, $BloomK) g(i)),
      bhits AS (SELECT c.doc_id, count(*) AS n,
                 sum(CASE WHEN r.pos IS NOT NULL THEN 1 ELSE 0 END) AS h
               FROM bcpos c LEFT JOIN brpos r USING (pos) GROUP BY 1),
      bex AS (SELECT c.doc_id, (r.dg IS NOT NULL) AS exact_dup
              FROM bcand c LEFT JOIN bref r USING (dg))
      SELECT h.doc_id, (h.h = h.n) AS bloom_hit, e.exact_dup
      FROM bhits h JOIN bex e USING (doc_id) ORDER BY doc_id"""))

  /** Deterministic hash-bucket sampling — the only sampling that is
    * reproducible at 100 TB: membership depends on md5(salt|id) alone, so
    * the same 10% sample falls out on any cluster size, any partitioning,
    * any re-run (rand()-based sampling is none of those), and a later
    * pipeline stage can re-derive the SAME sample locally from the id. A
    * different salt = an independent sample (held-out splits, A/B
    * corpora). The predicate is a codegen'd scalar on a scanned column —
    * no shuffle, full pushdown of everything else. */
  private val sampleHash = Q(
    (s, d) => {
      val bucket = pmod(
        conv(substring(md5(concat_ws("|", lit("smp"),
          col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long"),
        lit(100))
      docs(s, d)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .withColumn("bucket", bucket)
        .filter(col("bucket") < 10)
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, lang, source, n_chars, bucket FROM (
        SELECT doc_id, lang, source, n_chars,
          ('0x' || substr(md5('smp|' || doc_id), 1, 8))::BIGINT % 100 AS bucket
        FROM documents)
      WHERE bucket < 10 ORDER BY doc_id"""))

  /** ANNEALED curriculum sampling — the epoch-dependent mixture a
    * staged pretraining run consumes (the "quality anneal": every
    * epoch keeps all high-quality documents, while the low-quality
    * band's keep-rate decays 60% → 30% → 10%, shifting the late-
    * training token distribution toward the best data — the multi-
    * epoch refinement of [[sampleMixture]]'s single static mixture).
    * Membership is the sample_hash contract PER EPOCH: the epoch
    * number is part of the md5 salt, so each epoch's sample is an
    * independent deterministic function of doc_id — re-derivable
    * downstream, stable under any partitioning, and a doc dropped in
    * epoch 2 can reappear in epoch 3 (sampling, not progressive
    * filtering). Bands come from the shared [[qualityScore]] composite
    * at the pipeline_curate gate threshold.
    *
    * Shape: the 3× epoch fan-out is a per-row generate on the scan
    * (no shuffle); the only exchange is the (epoch, band) accounting
    * agg — 6 groups at any corpus size. Emitting the schedule as the
    * data card (not 3× doc rows) is deliberate: the training loader
    * re-derives membership from (salt, epoch, doc_id) locally. */
  private val sampleAnneal = Q(
    (s, d) => {
      val band = when(qualityScore >= 0.3, "hi").otherwise("lo")
      val rate = when(col("band") === "hi", lit(100))
        .otherwise(element_at(map(lit(1), lit(60), lit(2), lit(30),
          lit(3), lit(10)), col("epoch")))
      val bucket = pmod(
        conv(substring(md5(concat_ws("|", lit("ann"),
          col("epoch").cast("string"),
          col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long"),
        lit(100))
      docs(s, d)
        .select(col("doc_id"), band.as("band"))
        .withColumn("epoch", explode(array(lit(1), lit(2), lit(3))))
        .groupBy(col("epoch"), col("band"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(bucket < rate, 1L).otherwise(0L)).as("n_kept"))
        .select(col("epoch"), col("band"), col("n_total"), col("n_kept"),
          (floor(col("n_kept") / col("n_total") * 10000 + lit(0.5))
            / 10000.0).as("rate_achieved"))
        .orderBy("epoch", "band")
    },
    Some("""WITH ab AS (SELECT doc_id,
          CASE WHEN floor((least(1.0, len(string_split(text, ' ')) / 100.0)
              * 0.6
            + len(list_filter(string_split(text, ' '),
                x -> list_contains(['the', 'a'], x)))
              / len(string_split(text, ' ')) * 0.2
            + (1.0 - least(1.0,
                abs((length(text) - (len(string_split(text, ' ')) - 1))
                  / len(string_split(text, ' ')) - 5.0) / 5.0)) * 0.2)
            * 10000 + 0.5) / 10000.0 >= 0.3
          THEN 'hi' ELSE 'lo' END AS band
        FROM documents),
      ae AS (SELECT doc_id, band, epoch
             FROM ab CROSS JOIN generate_series(1, 3) g(epoch)),
      ak AS (SELECT epoch, band, count(*) AS n_total,
          CAST(sum(CASE WHEN
            ('0x' || substr(md5('ann|' || epoch || '|' || doc_id), 1, 8))
              ::BIGINT % 100 <
            CASE WHEN band = 'hi' THEN 100
                 ELSE CASE epoch WHEN 1 THEN 60 WHEN 2 THEN 30
                                 ELSE 10 END END
          THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        FROM ae GROUP BY 1, 2)
      SELECT epoch::INT AS epoch, band, n_total, n_kept,
        floor(n_kept / n_total * 10000 + 0.5) / 10000.0 AS rate_achieved
      FROM ak ORDER BY epoch, band"""))

  /** Deterministic MIXTURE sampling — rebalance a corpus to target
    * per-domain rates (the "mix corpora to proportions" step after
    * quality filtering: downweight over-represented languages/sources
    * before training): keep a doc iff its salted md5 bucket falls under
    * its group's target rate. Same reproducibility contract as
    * sample_hash (membership = f(id) alone — any cluster size, any
    * partitioning, re-derivable downstream), with the rate a pure CASE
    * on the stratum column; emits per-language accounting. Scan-local
    * predicate + one low-cardinality partial agg — no extra shuffle at
    * any corpus size. */
  private val sampleMixture = Q(
    (s, d) => {
      val rate = when(col("lang") === "en", 50)
        .when(col("lang") === "es", 100)
        .when(col("lang") === "fr", 25)
        .when(col("lang") === "de", 100)
        .otherwise(10)
      val bucket = pmod(
        conv(substring(md5(concat_ws("|", lit("mix"),
          col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long"),
        lit(100))
      docs(s, d)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(bucket < rate, 1L).otherwise(0L)).as("n_kept"))
        .select(col("lang"), col("n_total"), col("n_kept"),
          (floor(col("n_kept") / col("n_total") * 10000 + lit(0.5)) / 10000.0)
            .as("rate_achieved"))
        .orderBy("lang")
    },
    Some("""WITH k AS (SELECT lang, count(*) AS n_total,
        CAST(sum(CASE WHEN ('0x' || substr(md5('mix|' || doc_id), 1, 8))::BIGINT
            % 100 <
          CASE lang WHEN 'en' THEN 50 WHEN 'es' THEN 100 WHEN 'fr' THEN 25
                    WHEN 'de' THEN 100 ELSE 10 END
        THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      FROM documents GROUP BY lang)
      SELECT lang, n_total, n_kept,
        floor(n_kept / n_total * 10000 + 0.5) / 10000.0 AS rate_achieved
      FROM k ORDER BY lang"""))

  /** TEMPERATURE mixture resampling WITH REPLACEMENT — the multilingual
    * pretraining rebalance ([[sampleMixture]] can only downweight; real
    * mixtures also UPSAMPLE low-resource strata): per-stratum target
    * share q_g ∝ p_g^(1/T) with T=2 (α=0.5 — the mBERT/XLM-R exponent),
    * so the per-doc replication rate r_g = N·q_g/c_g EXCEEDS 1 for rare
    * strata. Each doc emits floor(r_g) copies plus one more iff its
    * salted md5 fraction falls under frac(r_g) — deterministic
    * stochastic rounding: membership AND multiplicity are f(doc_id)
    * alone, re-derivable by any downstream stage (the sample_hash
    * contract extended to with-replacement).
    *
    * Determinism across engines: stratum weights are snapped to a 1e-9
    * integer grid before the denominator sum (order-free — the
    * unigram-logprob discipline); sqrt is IEEE-correctly-rounded in
    * both engines (pow is NOT — never write p^0.5); the rate arithmetic
    * is written with identical left-to-right association; the md5
    * fraction is an exact 32-bit/2^32 double. Shape: two tiny stratum
    * aggs broadcast back against the scan; the copy fan-out is a
    * per-row generate — no corpus shuffle at any scale. */
  /** Temperature-resample an arbitrary `(doc_id, lang)` frame: one row
    * per emitted copy, `(doc_id, lang, rate, copy)`. Rates are computed
    * over THIS frame's stratum distribution (resampling applies to the
    * corpus that survived the upstream stages, not the raw crawl).
    * Shared by [[sampleTemperature]] and [[CurateQueries]]'s
    * pipeline_pretrain capstone. */
  private[llm] def temperatureEmit(df: DataFrame): DataFrame = {
    val cnt = df.groupBy(col("lang")).agg(count(lit(1)).as("c"))
    val tot = cnt.agg(sum(col("c")).as("n"))
    val w = cnt.crossJoin(broadcast(tot))
      .select(col("lang"), col("c"), col("n"),
        round(sqrt(col("c").cast("double") / col("n")) * 1e9, 0)
          .cast("long").as("wi"))
    val den = w.agg(sum(col("wi")).as("dw"))
    val r = w.crossJoin(broadcast(den))
      .select(col("lang"),
        (col("n").cast("double") * col("wi") / col("dw") / col("c"))
          .as("rate"))
    val u = conv(substring(md5(concat_ws("|", lit("tmp"),
      col("doc_id").cast("string"))), 1, 8), 16, 10)
      .cast("long").cast("double") / 4294967296.0
    df.select(col("doc_id"), col("lang"))
      .join(broadcast(r), "lang")
      .withColumn("copies", floor(col("rate")) +
        when(u < col("rate") - floor(col("rate")).cast("double"), 1L)
          .otherwise(0L))
      .select(col("doc_id"), col("lang"), col("rate"),
        explode(when(col("copies") > 0,
            sequence(lit(1L), col("copies")))
          .otherwise(array().cast("array<bigint>"))).as("copy"))
  }

  /** The temperature-resample CTE chain over source CTE/table `src`
    * (must expose doc_id, lang), ending in `tcp(doc_id, lang, rate,
    * copies)` — the DuckDB replay of [[temperatureEmit]]. No leading
    * WITH; t-prefixed CTE names to compose without collisions. */
  private[llm] def temperatureSqlCtes(src: String): String = s"""
      tcnt AS (SELECT lang, count(*) AS c FROM $src GROUP BY lang),
      ttot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM tcnt),
      tw AS (SELECT lang, c, n,
              CAST(round(sqrt(c::DOUBLE / n) * 1e9, 0) AS BIGINT) AS wi
            FROM tcnt CROSS JOIN ttot),
      tden AS (SELECT CAST(sum(wi) AS BIGINT) AS dw FROM tw),
      tr AS (SELECT lang, (n::DOUBLE * wi / dw / c) AS rate
            FROM tw CROSS JOIN tden),
      tdd AS (SELECT d.doc_id, d.lang, tr.rate,
              (('0x' || substr(md5('tmp|' || d.doc_id), 1, 8))::BIGINT)::DOUBLE
                / 4294967296.0 AS u
            FROM $src d JOIN tr USING (lang)),
      tcp AS (SELECT doc_id, lang, rate,
              CAST(floor(rate) AS BIGINT) +
              (CASE WHEN u < rate - floor(rate) THEN 1 ELSE 0 END) AS copies
            FROM tdd)"""

  private val sampleTemperature = Q(
    (s, d) => temperatureEmit(docs(s, d).select(col("doc_id"), col("lang")))
      .select(col("doc_id"), col("lang"),
        col("copy").cast("int").as("copy"), r4(col("rate")).as("sample_rate"))
      .orderBy("doc_id", "copy"),
    Some("WITH" + temperatureSqlCtes("documents") + """
      SELECT doc_id, lang,
        CAST(unnest(generate_series(1, copies)) AS INT) AS copy,
        round(rate, 4) AS sample_rate
      FROM tcp ORDER BY doc_id, copy"""))

  /** B49f: ONLINE retrieval — a STREAM of queries served from the
    * prebuilt IVF index: [[ivfBuildIndex]] runs once (the nightly index
    * job); query vectors then arrive as an ordered file stream and each
    * micro-batch is answered by [[ivfProbe]] against the static index
    * tables — the batch is unit-normalized in-stream (per-row op, so
    * stream ≡ batch bit-exactly) and results append O(batch) per
    * trigger. A verdict depends only on (query, static index), so the
    * run is decomposition-invariant for ANY trigger split and
    * hash-matches the whole-query-set replay. The store read schema is
    * derived from the probe pipeline itself (the dedup_incremental
    * discipline). This is the serving tier of the retrieval stack:
    * brute-force ([[simSearchTopk]]) → SRP-ANN → IVF → persisted index
    * → streaming probe. */
  private val streamAnnProbe = Q(
    (s, d) => {
      val QMax = 40
      val (cbPath, postPath, postSchema) = ivfBuildIndex(s, d)
      val san = d.replaceAll("[^a-zA-Z0-9]", "_")
      val resRoot = new java.io.File(s"${engine.Core.scratchRoot}/graft_annprobe_res_$san")
      engine.stream.AppendTable.destroy(resRoot) // fresh replay
      def unitQ(batch: DataFrame): DataFrame = batch
        .select(col("vec_id"), asDouble(col("embedding")).as("v"))
        .withColumn("nrm", norm(col("v")))
        .select(col("vec_id").as("qid"),
          transform(col("v"), x => x / col("nrm")).as("qu"))
        .filter(col("qu").isNotNull)
      def probe(batch: DataFrame): DataFrame =
        ivfProbe(batch.sparkSession, unitQ(batch), cbPath, postPath,
          postSchema)
      val src0 = t(s, d, "embeddings").filter(col("vec_id") < QMax)
        .select(col("vec_id"), col("embedding"))
      val resSchema = probe(src0.limit(0)).schema
      // single-trigger default for the static query replay (an answer is
      // f(query, static index), so any split is identical — LlmSpec pins
      // the 16-files = 2-batch serving split; trigger count, not row
      // volume, is the fixed-cost driver here)
      val src = engine.stream.StreamQueries.asFileStream(s, src0,
        s"annq_$san", orderedBy = Some("vec_id"),
        maxFilesPerTrigger = Some(engine.stream.StreamQueries.SourceFiles))
      val serveBatch: (DataFrame, Long) => Unit = (batch, batchId) =>
        engine.stream.AppendTable.append(probe(batch), resRoot, batchId)
      engine.stream.StreamQueries.withMicroBatchConfs(s)(
        engine.stream.StreamQueries.runToCompletion(
          src.writeStream.foreachBatch(serveBatch), "ann_probe"))
      engine.stream.AppendTable.read(s, resRoot, resSchema)
        .orderBy("qid", "rank")
    },
    Some(ivfOracleSql("vec_id < 40")))

  // --------------------------------------------------------- B51 multimodal
  /** B51: typed array/binary columns flowing through a join: documents ⋈
    * embeddings (1:1 on id, inner), vector norm computed in-place on the
    * ARRAY<FLOAT> column, text length on the doc side. */
  private val multimodalCols = Q(
    (s, d) => {
      val e = t(s, d, "embeddings")
      docs(s, d)
        .join(e, col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          size(col("embedding")).as("dim"),
          r4(norm(asDouble(col("embedding")))).as("l2_norm"),
          col("label"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, lang, n_chars,
        len(embedding) AS dim,
        round(sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))), 4)
          AS l2_norm,
        label
      FROM documents JOIN embeddings ON doc_id = vec_id
      ORDER BY doc_id"""))

  /** Capstone composition: the end-to-end curation pass a pretraining
    * pipeline runs over raw documents, built ENTIRELY from this engine's
    * own operators — the point of the exercise being that they compose:
    *
    *  1. quality gate — textQuality's composite, floor-rounded, >= 0.3;
    *  2. exact dedup — lowest doc_id per md5(lower(trim(text))) digest;
    *     text itself is projected away before anything shuffles (only the
    *     digest + metadata ride the exchange — the dedup_exact posture);
    *  3. near-dup drop — dedup_minhash's banded LSH pairs restricted to
    *     step-2 survivors (a signature depends only on its own document,
    *     so all-docs pairs filtered to survivors ≡ survivors-only pairs),
    *     greedy-by-id: the higher id of every surviving pair is dropped.
    *     Deterministic and anti-join-expressible; transitive chains
    *     collapse pairwise, the standard large-corpus approximation;
    *  4. corpus accounting per (lang, source) with exact integer sums.
    *
    * Scale posture: steps 1-2 are one projection + one digest-keyed
    * shuffle; step 3 is output-bound (LSH candidates), survivor
    * filtering is two semi-joins and a distinct on bare ids; step 4 is
    * a partial-agg groupBy on low-cardinality keys. */
  private val pipelineCurate = Q(
    (s, d) => {
      val gated = docs(s, d).select(
          col("doc_id"), col("lang"), col("source"), col("n_chars"),
          size(tokens(col("text"))).as("nt"),
          qualityScore.as("quality"),
          md5(lower(trim(col("text")))).as("dg"))
        .filter(col("quality") >= 0.3)
      val w = Window.partitionBy(col("dg")).orderBy(col("doc_id"))
      val surv = gated.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          col("nt"))
      val pairs = dedupMinhash.fn(s, d).select(col("da"), col("db"))
      val ids = surv.select(col("doc_id"))
      val dropIds = pairs
        .join(ids.withColumnRenamed("doc_id", "da"), Seq("da"), "leftsemi")
        .join(ids.withColumnRenamed("doc_id", "db"), Seq("db"), "leftsemi")
        .select(col("db").as("doc_id")).distinct()
      surv.join(dropIds, Seq("doc_id"), "left_anti")
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(col("nt").cast("long")).as("sum_ws_tokens"))
        .orderBy("lang", "source")
    },
    Some(shingleSql + minhashSqlCtes + """,
      mh AS (SELECT da, db FROM est WHERE e >= 0.5),
      qx AS (SELECT doc_id, lang, source, n_chars,
          len(string_split(text, ' ')) AS nt,
          (length(text) - (len(string_split(text, ' ')) - 1))
            / len(string_split(text, ' ')) AS al,
          len(list_filter(string_split(text, ' '),
            x -> list_contains(['the', 'a'], x)))
            / len(string_split(text, ' ')) AS sr,
          md5(lower(trim(text))) AS dg
        FROM documents),
      gate AS (SELECT doc_id, lang, source, n_chars, nt, dg FROM qx
        WHERE floor((least(1.0, nt / 100.0) * 0.6 + sr * 0.2
          + (1.0 - least(1.0, abs(al - 5.0) / 5.0)) * 0.2) * 10000 + 0.5)
          / 10000.0 >= 0.3),
      surv AS (SELECT doc_id, lang, source, n_chars, nt FROM gate
        QUALIFY row_number() OVER (PARTITION BY dg ORDER BY doc_id) = 1),
      dropids AS (SELECT DISTINCT p.db AS doc_id FROM mh p
        JOIN surv a ON a.doc_id = p.da
        JOIN surv b ON b.doc_id = p.db)
      SELECT lang, source, count(*) AS n_docs,
        CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        CAST(sum(nt) AS BIGINT) AS sum_ws_tokens
      FROM surv WHERE doc_id NOT IN (SELECT doc_id FROM dropids)
      GROUP BY lang, source ORDER BY lang, source"""))

  // lazy: CurateQueries' oracle strings reference this object's shared
  // CTE vals at ITS init; an eager map here would re-enter CurateQueries
  // mid-init (null queries map → NPE) whenever CurateQueries loads first
  lazy val queries: Map[String, Q] = Map(
    "dedup_exact" -> dedupExact,
    "dedup_bloom_screen" -> dedupBloomScreen,
    "dedup_ngram_jaccard" -> dedupNgramJaccard,
    "dedup_minhash" -> dedupMinhash,
    "dedup_eval" -> dedupEval,
    "dedup_simhash" -> dedupSimhash,
    "dedup_clusters" -> dedupClusters,
    "sample_cluster_weighted" -> sampleClusterWeighted,
    "dedup_edit_distance" -> dedupEditDistance,
    "dedup_containment" -> dedupContainment,
    "decontaminate" -> decontaminate,
    "dedup_embedding" -> dedupEmbedding,
    "dedup_embedding_banded" -> dedupEmbeddingBanded,
    "dedup_embedding_clusters" -> dedupEmbeddingClusters,
    "cluster_dbscan" -> clusterDbscan,
    "graph_k_core" -> graphKCore,
    "sim_search_topk" -> simSearchTopk,
    "sim_search_range" -> simSearchRange,
    "sim_search_filtered" -> simSearchFiltered,
    "sim_search_ivf_filtered" -> simSearchIvfFiltered,
    "mine_hard_negatives" -> mineHardNegatives,
    "sim_search_ann" -> simSearchAnn,
    "sim_search_ivf" -> simSearchIvf,
    "sim_search_ivf_indexed" -> simSearchIvfIndexed,
    "stream_ann_probe" -> streamAnnProbe,
    "text_lang_id" -> textLangId,
    "text_quality" -> textQuality,
    "text_repetition" -> textRepetition,
    "text_token_stats" -> textTokenStats,
    "corpus_heavy_hitters" -> corpusHeavyHitters,
    "text_analysis" -> textAnalysis,
    "text_fingerprint" -> textFingerprint,
    "sample_hash" -> sampleHash,
    "sample_mixture" -> sampleMixture,
    "sample_anneal" -> sampleAnneal,
    "sample_temperature" -> sampleTemperature,
    "text_unigram_logprob" -> textUnigramLogprob,
    "quality_perplexity" -> qualityPerplexity,
    "text_entropy" -> textEntropy,
    "text_bigram_logprob" -> textBigramLogprob,
    "multimodal_cols" -> multimodalCols,
    "pipeline_curate" -> pipelineCurate) ++
    MultimodalQueries.queries ++ IncrementalDedup.queries ++
    CurateQueries.queries
}
