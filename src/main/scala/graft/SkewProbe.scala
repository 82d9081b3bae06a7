package graft
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Forced-skew probe: the committed scale probes
  * all run on the driver's uniform/isotropic testdata, which hides the
  * #1 risk at 100 TB — a hot key or hot cell concentrating a join/agg/
  * pair-enumeration on one straggler reducer. This main synthesizes the
  * skew the testdata lacks and measures BOUNDED REDUCER TIME, the
  * property the salted/sub-blocked operators exist to provide:
  *
  *  - `join_skew_salted` — ~20% of the 10× lineitem fact is reassigned
  *    to ONE part key (hot-key mass a uniform TPC-H-ish generator never
  *    produces); the 32-salt replicated-dim join must spread that key
  *    over 32 reducers.
  *  - `agg_salted_skew` — ~90% of the 10× orders rows collapse onto ONE
  *    o_orderstatus; the two-phase (key, salt) pre-aggregation must
  *    spread the hot group.
  *  - `dedup_semantic` (the cellPairs hot-cell cap,
  *    SearchQueries cellPairs/cellAssign) — one embedding cell is made
  *    ~85× the average by appending exact copies of one vector (exact
  *    copies always share a cell); with `spark.graft.cellcap` active
  *    the within-cell quadratic work must sub-block into ≤ cap² tasks.
  *    The uncapped run on the same skewed corpus is reported alongside
  *    as the counterfactual the cap prevents.
  *
  * Evidence = per-op task BALANCE on the skewed run: max task time
  * over the ideal (total task time / the session's cores). A bounded
  * reducer keeps max ≈ ideal whatever the total work is; a straggler
  * shows as max >> ideal. Balance — not max-task-vs-uniform — is the gate
  * because a hot cell legitimately ADDS work (the 12k-member cell
  * carries ~144M pair verifies that semantically must happen); the
  * salted/sub-blocked plans' job is to SPREAD that work, and spreading
  * is exactly what balance measures. The vs-uniform max-task ratio is
  * reported alongside as context. Skewed runs whose max task is under
  * [[MinStragglerMs]] pass outright — sub-second "stragglers" are
  * scheduling jitter, not a reducer bound. Flags land in `flagged` in
  * `skewprobe.json` (committed at the repo root like scaleprobe.json).
  */
object SkewProbe {
  /** Balance (max task / ideal task) above which a skewed run is
    * flagged. 2.0 is the balance bound; +25% absorbs task-scheduling
    * jitter on a shared box (max over hundreds of tasks is noisy). */
  val FlagRatio = 2.5

  /** Below this max-task time a run cannot meaningfully straggle —
    * scheduling jitter dominates sub-second tasks. */
  val MinStragglerMs = 500L

  def main(args: Array[String]): Unit = {
    val scale = 10
    val cores = DevSession.cores
    val spark = DevSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    engine.Core.pinOracleSession(spark)
    val base = "/root/testdata/sf0.1"
    val uni = "/tmp/graft_skew_uni"
    val hot = "/tmp/graft_skew_hot"

    // ---- corpus twins: identical replication, skew only in `hot` ----
    // (same id-offset scheme as ScaleProbe so key spaces stay unique)
    val li = spark.read.parquet(s"$base/lineitem.parquet")
    val liBig = (0 until scale).map(k =>
      li.withColumn("l_orderkey", col("l_orderkey") + lit(k * 10000000L)))
      .reduce(_ unionAll _)
    liBig.write.mode("overwrite").parquet(s"$uni/lineitem.parquet")
    // hot twin: every 5th row's part key collapses onto part key 0 —
    // ~20% of the 6M-row fact on ONE join key, total mass unchanged
    liBig.withColumn("l_partkey",
        when(pmod(col("l_orderkey") * 31 + col("l_linenumber"), lit(5)) === 0,
          lit(0L)).otherwise(col("l_partkey")))
      .write.mode("overwrite").parquet(s"$hot/lineitem.parquet")
    val ord = spark.read.parquet(s"$base/orders.parquet")
    val ordBig = (0 until scale).map(k => ord
        .withColumn("o_orderkey", col("o_orderkey") + lit(k * 10000000L))
        .withColumn("o_custkey", col("o_custkey") + lit(k * 1000000L)))
      .reduce(_ unionAll _)
    ordBig.write.mode("overwrite").parquet(s"$uni/orders.parquet")
    // hot twin: ~90% of rows collapse onto one group key
    ordBig.withColumn("o_orderstatus",
        when(pmod(col("o_orderkey"), lit(10)) < 9, lit("F"))
          .otherwise(col("o_orderstatus")))
      .write.mode("overwrite").parquet(s"$hot/orders.parquet")
    // dim side is shared and NOT replicated (the realistic shape: fact
    // grows 10x, dim doesn't)
    for (d <- Seq(uni, hot))
      spark.read.parquet(s"$base/part.parquet")
        .write.mode("overwrite").parquet(s"$d/part.parquet")
    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    val n = 100000L
    val embBig = (0 until scale).map(k =>
      emb.withColumn("vec_id", col("vec_id") + lit(k * n)))
      .reduce(_ unionAll _)
    embBig.write.mode("overwrite").parquet(s"$uni/embeddings.parquet")
    // hot twin: HotDup exact copies of vec_id 0's vector (new ids) —
    // exact copies always share the argmax cell, so ONE cell grows to
    // ~85× the √N-recipe average (~140 members at 10×) while every
    // other cell is untouched — uncapped, its ~144M within-cell pairs
    // land in ONE task
    val HotDup = 12000
    val hotRows = embBig.filter(col("vec_id") === 0)
      .crossJoin(spark.range(1, HotDup + 1).select(col("id")))
      .withColumn("vec_id", col("id") + lit(10000000L))
      .drop("id")
      .select(embBig.columns.map(col): _*)
    embBig.unionByName(hotRows)
      .write.mode("overwrite").parquet(s"$hot/embeddings.parquet")
    println(s"SKEW wrote corpus twins: uni=${spark.read
      .parquet(s"$uni/lineitem.parquet").count()} lineitem rows, " +
      s"hot embeddings=${spark.read.parquet(s"$hot/embeddings.parquet").count()}")
    engine.ScratchCache.drain(); System.gc()

    val recorder = OpRecorder.attach(spark)
    case class Res(sec: Double, maxMs: Long, sumMs: Long, rows: Long) {
      /** max task over the ideal (total task time spread over the
        * session's cores) — ≈1 is perfectly balanced, >> 1 is a straggler. */
      def balance: Double =
        if (sumMs > 0) maxMs.toDouble / (sumMs.toDouble / cores) else 0.0
    }
    def measure(q: String, dir: String,
        confs: Map[String, String] = Map.empty): Res =
      engine.Core.withConfs(spark)(confs.toSeq: _*) {
        // UNMEASURED warm pass first: codebook/model builds are per-dir
        // (fpKey-memoized) and JIT warm-up lands on whichever run goes
        // first — both would pollute the max-task comparison, so the
        // measured pass sees a warm JVM and a built codebook and times
        // ONLY the operator's own distributed work
        Eval.rows(SparkEntry.queries(q)(spark, dir))
        engine.ScratchCache.drain(); System.gc()
        val (c, rec) =
          recorder.measure(Eval.rows(SparkEntry.queries(q)(spark, dir)))
        val r = Res(rec.wallS, rec.taskMsMax, rec.taskMsSum, c)
        println(f"SKEW $q @$dir: ${r.sec}%.2f s, max task ${r.maxMs} ms, " +
          f"balance ${r.balance}%.2f ($c rows)")
        engine.ScratchCache.drain(); System.gc()
        r
      }

    // √N cell recipe at 10× (the ScaleProbe discipline); cap at 256 so
    // the ~12100-member hot cell MUST sub-block (nsb ≈ 48 → ~2300 tasks
    // of ≤ 65k pair-verifies each)
    val knnK = math.max(16, math.ceil(math.sqrt(2000.0 * scale)).toInt)
    val semConf = Map("spark.graft.semdedup.k" -> knnK.toString,
      "spark.graft.cellcap" -> "256")
    val results = Seq(
      ("join_skew_salted", measure("join_skew_salted", uni),
        measure("join_skew_salted", hot)),
      ("agg_salted_skew", measure("agg_salted_skew", uni),
        measure("agg_salted_skew", hot)),
      ("dedup_semantic", measure("dedup_semantic", uni, semConf),
        measure("dedup_semantic", hot, semConf)))
    // counterfactual: same skewed corpus, cap OFF — the single
    // hot-cell task the cap exists to prevent (reported, not flagged)
    val uncapped = measure("dedup_semantic", hot,
      Map("spark.graft.semdedup.k" -> knnK.toString,
        "spark.graft.cellcap" -> Int.MaxValue.toString))

    // the gate: a skewed run whose max task is big enough to matter
    // must stay balanced — the sub-blocked/salted plan spread the hot
    // key's work across reducers
    val flagged = results.collect {
      case (q, _, sk)
        if sk.maxMs > MinStragglerMs && sk.balance > FlagRatio => q
    }
    val json = results.map { case (q, un, sk) =>
      val ratio = if (un.maxMs > 0) sk.maxMs.toDouble / un.maxMs else 0.0
      f"""    "$q": {"uniform_sec": ${un.sec}%.2f, "skew_sec": ${sk.sec}%.2f,""" +
        f""" "uniform_max_task_ms": ${un.maxMs}, "skew_max_task_ms": ${sk.maxMs},""" +
        f""" "uniform_balance": ${un.balance}%.2f, "skew_balance": ${sk.balance}%.2f,""" +
        f""" "max_task_ratio": $ratio%.2f,""" +
        f""" "uniform_rows": ${un.rows}, "skew_rows": ${sk.rows}}"""
    }.mkString(
      s"""{\n  "sf_base": "sf0.1", "scale": $scale,""" +
        s""" "hot_fact_share": 0.2, "hot_group_share": 0.9,""" +
        s""" "hot_cell_dup": 12000, "cellcap": 256,""" +
        s""" "flag_ratio": $FlagRatio,""" +
        s""" "flagged": [${flagged.map("\"" + _ + "\"").mkString(", ")}],""" +
        f"""\n  "dedup_semantic_uncapped_skew": {"sec": ${uncapped.sec}%.2f,""" +
        f""" "max_task_ms": ${uncapped.maxMs},""" +
        f""" "balance": ${uncapped.balance}%.2f,""" +
        f""" "vs_capped_max_task": ${
          if (results(2)._3.maxMs > 0)
            uncapped.maxMs.toDouble / results(2)._3.maxMs else 0.0}%.2f},""" +
        "\n  \"ops\": {\n",
      ",\n", "\n  }\n}\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("/root/repo/skewprobe.json"), json)
    println(s"SKEW wrote /root/repo/skewprobe.json")
    flagged.foreach(q => println(s"SKEW FLAG $q: skewed-run straggler " +
      s"(max task > ${FlagRatio}x the $cores-core ideal)"))
    spark.stop()
    if (flagged.nonEmpty) sys.exit(1)
  }
}
