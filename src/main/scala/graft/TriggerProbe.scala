package graft

import org.apache.spark.sql.functions._

/** Streaming trigger-cost probe: the segmented online-index capstones
  * claim O(batch) commit I/O — every trigger appends one immutable
  * segment and rewrites only a manifest, so per-trigger cost must be
  * FLAT in store size. The committed bench can't see that (its default
  * runs use 2 triggers). This main measures it directly:
  *
  *  - builds a 10× document/embedding corpus (the ScaleProbe
  *    replication scheme) and runs `pipeline_online` and
  *    `pipeline_online_hybrid` over it with maxFilesPerTrigger=2 —
  *    16 equal-size triggers, so the LAST triggers commit against a
  *    store ~15× the size the FIRST ones saw: a store-size sweep
  *    inside one run, with batch size held constant;
  *  - reads per-trigger ms from the [[OpRecorder]] record;
  *  - compares the mean of the last 4 triggers against the mean of
  *    triggers 1-4 (trigger 0 is excluded on both sides — it pays
  *    JIT/codegen and the store bootstrap). An O(batch) commit holds
  *    the ratio ≈ 1; an O(store) rewrite shows ≈ linear growth
  *    (≈ 4-10× here). Flag at [[FlagRatio]].
  *  - runs the 1× corpus at the default 2 triggers alongside, so the
  *    artifact also anchors the absolute per-trigger cost at both
  *    corpus sizes.
  *
  * Writes `trigprobe.json` (repo root, committed like skewprobe.json).
  */
object TriggerProbe {
  /** Last-quartile / first-quartile per-trigger ms above which the
    * O(batch) claim is flagged as violated. Per-trigger wall times on
    * this box carry ±30-50% jitter (GC, listener-bus lag); 2× is past
    * jitter, far under the ~8-15× an O(store) commit would show over a
    * 15× store sweep. */
  val FlagRatio = 2.0

  def main(args: Array[String]): Unit = {
    val spark = DevSession.builder()
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    engine.Core.pinOracleSession(spark)
    val base = "/root/testdata/sf0.1"
    val out = "/tmp/graft_trigprobe"
    val scale = 10
    val n = 100000L
    // ScaleProbe's replication: distinct ids + a salt token per replica
    val docs = spark.read.parquet(s"$base/documents.parquet")
    (0 until scale).map(k => docs
        .withColumn("doc_id", col("doc_id") + lit(k * n))
        .withColumn("text", concat(col("text"), lit(s" salt$k"))))
      .reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    (0 until scale).map(k =>
      emb.withColumn("vec_id", col("vec_id") + lit(k * n)))
      .reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    println(s"TRIG wrote ${scale}x corpus")
    engine.ScratchCache.drain(); System.gc()

    val recorder = OpRecorder.attach(spark)

    case class Row(q: String, tag: String, ms: Seq[Long],
        firstQ: Double, lastQ: Double, ratio: Double, flag: Boolean)
    def run(q: String, mft: Int, dir: String, tag: String): Row = {
      val (_, rec) = recorder.measure {
        engine.Core.withConfs(spark)(
            engine.stream.StreamQueries.MaxFilesPerTriggerKey -> mft.toString) {
          Eval.rows(SparkEntry.queries(q)(spark, dir))
        }
      }
      engine.ScratchCache.drain(); System.gc()
      val ms = rec.triggers.map(_.ms)
      // trigger 0 pays JIT + store bootstrap on both sides; AvailableNow
      // also emits a final EMPTY commit batch — drop trailing ~0-row
      // artifacts by keeping only triggers with real ms
      val body = ms.drop(1).filter(_ > 0)
      val (fq, lq) =
        if (body.length >= 8)
          (body.take(4).sum / 4.0, body.takeRight(4).sum / 4.0)
        else if (body.nonEmpty) (body.head.toDouble, body.last.toDouble)
        else (0.0, 0.0)
      val ratio = if (fq > 0) lq / fq else 0.0
      // flag only when the quartile means are REAL quartile means: a
      // short post-filter body degrades to a single-trigger last/first
      // comparison that could flag on jitter
      val r = Row(q, tag, ms, fq, lq, ratio,
        body.length >= 8 && ratio > FlagRatio)
      println(f"TRIG $q @$tag: ${ms.length} triggers, " +
        f"firstQ ${fq}%.0f ms, lastQ ${lq}%.0f ms, ratio $ratio%.2f" +
        (if (r.flag) " FLAG" else ""))
      r
    }

    val rows = Seq(
      // 16 equal triggers over the 10× corpus: store grows ~15× under
      // a constant batch size — the O(batch)-commit sweep
      run("pipeline_online", 2, out, "10x_t16"),
      run("pipeline_online_hybrid", 2, out, "10x_t16"),
      // the default 2-trigger 1× runs anchor absolute per-trigger cost
      run("pipeline_online", 16, base, "1x_t2"),
      run("pipeline_online_hybrid", 16, base, "1x_t2"))

    val flagged = rows.filter(_.flag).map(_.q)
    val json = rows.map { r =>
      s"""    {"q": "${r.q}", "tag": "${r.tag}", "n_triggers": ${
        r.ms.length}, "trigger_ms": [${r.ms.mkString(", ")}], """ +
        f""""firstq_ms": ${r.firstQ}%.0f, "lastq_ms": ${r.lastQ}%.0f, """ +
        f""""lastq_over_firstq": ${r.ratio}%.2f}"""
    }.mkString(
      s"""{\n  "sf_base": "sf0.1", "scale": $scale,""" +
        s""" "flag_ratio": $FlagRatio,""" +
        s""" "flagged": [${flagged.map("\"" + _ + "\"").mkString(", ")}],""" +
        "\n  \"runs\": [\n", ",\n", "\n  ]\n}\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("/root/repo/trigprobe.json"), json)
    println("TRIG wrote /root/repo/trigprobe.json")
    spark.stop()
    if (flagged.nonEmpty) sys.exit(1)
  }
}
