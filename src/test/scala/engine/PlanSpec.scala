package engine

import org.scalatest.funsuite.AnyFunSuite
import gps.TestSpark

/** Physical-plan regression tests — the 100 TB posture (SURVEY.md §4.2)
  * asserted against the actual plans at sf0.001: dimension joins
  * broadcast, large-large joins sort-merge, filters and projections reach
  * the parquet scan, candidate generation is equi-join (no cartesian in
  * the near-dup path), and the similarity hot loop uses the codegen'd
  * dot product. */
class PlanSpec extends AnyFunSuite with org.scalatest.BeforeAndAfterAll {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  // building the near-dup plans registers persist-marked frames; drop
  // them so they don't pin cache entries for the rest of the JVM
  override def afterAll(): Unit = engine.ScratchCache.drain()

  private def plan(q: String): String =
    graft.SparkEntry.queries(q)(spark, sf)
      .queryExecution.executedPlan.toString

  /** Structural pruning pin: find the parquet scan whose storage location
    * ends in `postings` and return its partition filters rendered to text. The old form grepped `executedPlan.toString`,
    * whose Location path truncates at spark.sql.maxMetadataStringLength —
    * one extra digit in the tmpfs index version counter pushed "postings"
    * past the cut and the grep's anchor line vanished. Walking the plan
    * tree is length-independent. */
  private def postingsPartitionFilters(q: String): String = {
    val scans = preparedNodes(q).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec if f.relation
          .location.rootPaths.exists(_.toString.endsWith("postings")) => f
    }
    assert(scans.nonEmpty, s"$q: no parquet scan over a postings table")
    scans.map(_.partitionFilters.map(_.toString).mkString(", ")).mkString("\n")
  }

  /** Every node of `q`'s prepared plan, before any execution, so AQE's
    * stages are not materialized yet, looking through AQE's wrappers. */
  private def preparedNodes(q: String)
      : Seq[org.apache.spark.sql.execution.SparkPlan] =
    subtree(graft.SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan)

  private def subtree(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    p +: (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case other => other.children
    }).flatMap(subtree)
  }

  /** Costly operators that `q`'s range exchanges run twice, one entry per
    * range exchange that has any. Before a range shuffle, Spark's
    * RangePartitioner runs a sampling job over the exchange's input to pick
    * its bounds. That job reads the shuffle files of the next exchange
    * below, but re-runs everything between the two exchanges. A Window,
    * ObjectHashAggregate, SortAggregate, join, Generate or grouped fold
    * (MapGroups, FlatMapGroupsWithState) in that segment is a second
    * evaluation of real work. A broadcast hash join is left out: its build
    * side is a broadcast built once, so a re-run costs one probe per row. */
  private def rangeSamplerReruns(q: String): Seq[Seq[String]] = {
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.{GenerateExec, MapGroupsExec,
      SparkPlan}
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    import org.apache.spark.sql.execution.aggregate.{ObjectHashAggregateExec,
      SortAggregateExec}
    import org.apache.spark.sql.execution.exchange.{Exchange,
      ReusedExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.{BaseJoinExec,
      BroadcastHashJoinExec}
    import org.apache.spark.sql.execution.streaming.operators.stateful
      .flatmapgroupswithstate.FlatMapGroupsWithStateExec
    import org.apache.spark.sql.execution.window.WindowExecBase
    def segment(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: Exchange | _: QueryStageExec | _: ReusedExchangeExec => Nil
      case other => other +: other.children.flatMap(segment)
    }
    preparedNodes(q).collect {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[RangePartitioning] =>
        segment(e.child).filter {
          case _: BroadcastHashJoinExec => false
          case _: WindowExecBase | _: ObjectHashAggregateExec |
              _: SortAggregateExec | _: BaseJoinExec | _: GenerateExec |
              _: MapGroupsExec | _: FlatMapGroupsWithStateExec => true
          case _ => false
        }.map(_.nodeName)
    }.filter(_.nonEmpty)
  }

  test("nmea_fix_pipeline: the ORDER BY's range sampler does not re-run " +
      "fix assembly") {
    val reruns = rangeSamplerReruns("nmea_fix_pipeline")
    assert(reruns.isEmpty, "range exchange re-runs: " +
      reruns.map(_.mkString(", ")).mkString("; "))
  }

  test("nmea_fix_pipeline: fixes come from one per-device fold over input " +
      "sorted by (device, line_no)") {
    import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.{MapGroupsExec, SortExec}
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExecBase
    def names(es: Seq[Expression]) =
      es.map { case a: Attribute => a.name; case e => e.sql }
    val all = preparedNodes("nmea_fix_pipeline")
    val windowed = all.collect {
      case n @ (_: WindowExecBase | _: ObjectHashAggregateExec) => n.nodeName
    }
    assert(windowed.isEmpty, s"windowed assembly is back: $windowed")
    val folds = all.collect { case m: MapGroupsExec => m }
    assert(folds.size == 1, s"${folds.size} grouped folds")
    val under = subtree(folds.head).tail
    val exchanges = under.collect { case e: ShuffleExchangeExec =>
      e.outputPartitioning match {
        case h: HashPartitioning =>
          names(h.expressions).mkString("hash(", ", ", ")")
        case other => other.toString
      }
    }
    assert(exchanges == Seq("hash(device)"),
      s"exchanges under the fold: $exchanges")
    val sorts = under.collect {
      case s: SortExec => names(s.sortOrder.map(_.child))
    }
    assert(sorts == Seq(Seq("device", "line_no")),
      s"sorts under the fold: $sorts")
  }

  /** The stream fold over a batch frame of the synthesized log. */
  private def streamFold() = gps.stream.FixAssembler.assemble(
    gps.parse.NmeaFunctions.parseSentences(
      gps.parse.NmeaSynth.readLog(spark, sf)))

  test("gps parse paths: every whole-stage-codegen method is small enough " +
      "for HotSpot to JIT-compile") {
    import org.apache.spark.sql.execution.debug.codegenStringSeq
    // HotSpot skips methods over 8000 bytes of bytecode
    // (DontCompileHugeMethods); generated code that large runs interpreted.
    // With AQE on, codegen stages are only inserted at execution, so the
    // plans are built with it off.
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      Seq("nmea_fix_pipeline" -> graft.SparkEntry.queries("nmea_fix_pipeline")
          (spark, sf), "stream fold" -> streamFold().toDF())
        .foreach { case (name, df) =>
          val sizes = codegenStringSeq(df.queryExecution.executedPlan)
            .map(_._3.maxMethodCodeSize)
          assert(sizes.nonEmpty, s"$name: no whole-stage-codegen subtree")
          assert(sizes.max <= 8000,
            s"$name: generated method sizes ${sizes.mkString(", ")}")
        }
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("stream fold: keyed by column, and the parse computes only what a " +
      "fix keeps") {
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.logical.AppendColumns
    val opt = streamFold().queryExecution.optimizedPlan
    assert(opt.collect { case a: AppendColumns => a }.isEmpty,
      "the fold deserializes rows to find the grouping key")
    val computed = opt.flatMap(_.expressions)
      .flatMap(_.collect { case a: Alias => a.name })
    assert(computed.contains("n_sats_view"), computed.toString)
    assert(!computed.contains("sats"), "the parse still computes GSA sats")
  }

  test("join_inner_hash broadcasts the small dimension") {
    assert(plan("join_inner_hash").contains("BroadcastHashJoin"))
  }

  test("join_partition_pruned: DPP is the ONLY partition pruning on " +
      "the fact scan") {
    val p = plan("join_partition_pruned")
    // the runtime IN-filter must be present...
    assert(p.contains("dynamicpruning"),
      "fact scan lost its dynamic partition pruning expression")
    // ...and no STATIC predicate beyond isnotnull may have reached the
    // partition filters (the dim filter is an aggregated attribute no
    // constraint propagation can derive from the join column — if a
    // static predicate appears, the op no longer demonstrates DPP)
    val pf = p.linesIterator
      .filter(_.contains("PartitionFilters")).mkString("\n")
    assert(pf.nonEmpty, "no PartitionFilters line in the fact scan")
    val inner = pf.substring(pf.indexOf("PartitionFilters"))
    assert(!inner.contains("substring") && !inner.contains("<="),
      s"static partition predicate leaked into the scan: $inner")
  }

  test("merge_into: one full-outer key join, each side shuffled once on " +
      "the key, no cartesian (r15 verdict item 2)") {
    val p = engine.rel.RelQueries.mergeFrame(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), "cartesian in the merge")
    assert(!p.contains("BroadcastNestedLoopJoin"), "BNLJ in the merge")
    // the merge arms ride ONE join (full-outer on user_id) — SMJ or
    // shuffled-hash, never replanned into per-arm joins
    val joins = "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
      .findAllIn(p).toSeq
    assert(joins.size == 1, s"expected exactly one join, got $joins")
    assert(p.contains("FullOuter"), "merge join is not full-outer")
    // each side shuffles on the key alone: every exchange hashes
    // user_id, and there are exactly the two pre-agg exchanges
    val exchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty &&
      exchanges.forall(_.contains("user_id")),
      s"non-key exchange in the merge:\n${exchanges.mkString("\n")}")
  }

  test("join_sortmerge stays sort-merge (no broadcast of a large side)") {
    assert(plan("join_sortmerge").contains("SortMergeJoin"))
  }

  test("filter_quality pushes predicates into the parquet scan") {
    val p = plan("filter_quality")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThanOrEqual(l_quantity"), p)
  }

  test("project_select prunes the parquet read schema") {
    val p = plan("project_select")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    // 16-column lineitem: only the 6 referenced columns are read
    assert(read.contains("l_orderkey") && read.contains("l_discount"))
    assert(!read.contains("l_shipmode") && !read.contains("l_comment"), read)
  }

  test("near-dup candidate generation is equi-join, not cartesian") {
    for (q <- Seq("dedup_minhash", "dedup_simhash", "dedup_ngram_jaccard",
        "dedup_embedding", "dedup_embedding_banded", "decontaminate",
        "text_repetition")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a BNLJ")
    }
  }

  test("quality_classifier: pure projection — only the determinism sort " +
      "exchanges") {
    // the hashing-trick featurize + weight fold must stay a per-row
    // codegen projection: the cheapest possible corpus pass, zero
    // exchanges before the final sort
    val exec = graft.SparkEntry.queries("quality_classifier")(spark, sf)
      .queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
    exec.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.foreach(e => assert(e.outputPartitioning.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.physical.RangePartitioning],
      "quality_classifier shuffled data before the final sort"))
  }

  test("corpus_report: the dup-flag window exchanges digests, never text") {
    val exec = graft.SparkEntry.queries("corpus_report")(spark, sf)
      .queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
    exec.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.foreach { e =>
      assert(!e.output.map(_.name).contains("text"),
        s"report exchange carries the document body: ${e.output.map(_.name)}")
    }
  }

  test("dedup_simhash: the band-occupancy cap is a broadcast anti-join, " +
      "not a shuffled one") {
    // the (band, bv) key space is ≤ 640 values, so the hot-bucket frame
    // must ride a BroadcastHashJoin LeftAnti — a shuffled anti-join here
    // would re-exchange the full posting frame just to apply the cap
    val p = plan("dedup_simhash")
    assert(p.linesIterator.exists(l =>
        l.contains("BroadcastHashJoin") && l.contains("LeftAnti")),
      p.linesIterator.filter(_.contains("Join")).mkString("\n"))
  }

  test("dedup_embedding: exact yardstick stays conf-gated behind the default") {
    // the DEFAULT plan is the banded equi-join (pinned with the near-dup
    // group above); `exact` must remain reachable for verification — its
    // all-pairs BNLJ on vec_id<vec_id is the deliberate yardstick shape
    spark.conf.set("spark.graft.dedupEmbedding.mode", "exact")
    try {
      val p = plan("dedup_embedding")
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("CartesianProduct"),
        "exact mode should be the all-pairs enumeration")
    } finally spark.conf.unset("spark.graft.dedupEmbedding.mode")
  }

  test("dedup_lines: dup set is joined, never a collect_set literal; " +
      "h-keyed posting exchanges ship hashes only") {
    val exec = graft.SparkEntry.queries("dedup_lines")(spark, sf)
      .queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
    assert(!exec.toString.contains("CartesianProduct"))
    // the duplicated-line vocabulary is UNBOUNDED on a real web corpus
    // (boilerplate is pervasive — C4 §2.2 exists because of it), so it
    // must ride a join keyed on the line hash, never a driver-
    // materialized collect_set broadcast literal
    assert(!exec.toString.contains("collect_set"),
      "dup-line set must be joined, not collected")
    // the df-count and survivor anti-join exchanges are h-keyed and must
    // carry 24-byte postings only; line text legitimately rides exactly
    // two exchanges — the doc-granular reassembly agg (binary
    // collect_list buffers keyed on doc_id) and the final determinism
    // range sort
    val exchanges = exec.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.nonEmpty)
    exchanges.foreach { e =>
      val hKeyed = e.outputPartitioning match {
        case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
          h.expressions.exists {
            case a: org.apache.spark.sql.catalyst.expressions.Attribute =>
              a.name == "h"
            case _ => false
          }
        case _ => false
      }
      val wide = e.output.filter(a =>
        a.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] ||
        a.dataType == org.apache.spark.sql.types.StringType ||
        a.dataType == org.apache.spark.sql.types.BinaryType)
      if (hKeyed)
        assert(wide.isEmpty,
          s"posting exchange carries line text: ${wide.map(_.name)}")
    }
  }

  test("pii_scrub: pure projection — only the determinism sort exchanges") {
    val exec = graft.SparkEntry.queries("pii_scrub")(spark, sf)
      .queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
    val exchanges = exec.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    exchanges.foreach(e => assert(e.outputPartitioning.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.physical.RangePartitioning],
      "pii_scrub shuffled data before the final sort"))
  }

  test("dedup_spans: posting exchanges ship (doc_id, pos, hash), never text") {
    val exec = graft.SparkEntry.queries("dedup_spans")(spark, sf)
      .queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
    assert(!exec.toString.contains("CartesianProduct"))
    val exchanges = exec.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.nonEmpty)
    exchanges.foreach { e =>
      assert(!e.output.exists(a =>
        a.dataType == org.apache.spark.sql.types.StringType ||
        a.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]),
        s"span posting exchange carries text: ${e.output.map(_.name)}")
    }
  }

  test("sample_stratified: per-stratum rank<=k pushes a window group limit") {
    val p = plan("sample_stratified")
    // Spark's WindowGroupLimit keeps a k-row heap per partition BEFORE
    // the stratum shuffle — the difference between "sort each stratum"
    // and "keep 20 rows per stratum" at corpus scale
    assert(p.contains("WindowGroupLimit"), p.linesIterator.take(12).mkString("\n"))
  }

  test("pack_sequences: cumsum is per-shard, no global corpus sort window") {
    val p = plan("pack_sequences")
    // the corpus-sized window must partition by shard; the only
    // unpartitioned window runs over the one-row-per-shard offsets frame
    assert(p.contains("hashpartitioning(shard"),
      "per-shard cumsum window missing — corpus funnels through one sort")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastExchange"),
      "shard-offset table should broadcast back")
  }

  test("tokenize_ids: vocab broadcasts back, no cartesian") {
    val p = plan("tokenize_ids")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastExchange"),
      "the vocab model artifact should broadcast against the postings")
  }

  test("embedding_quantize: raw vectors never ride a hash exchange") {
    val exec = graft.SparkEntry.queries("embedding_quantize")(spark, sf)
      .queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
    // the per-dim scale agg shuffles (dim, x) scalars; only the final
    // determinism sort (range partitioning) may carry the code arrays
    val exchanges = exec.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    exchanges.foreach { e =>
      val wide = e.output.filter(
        _.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
      assert(e.outputPartitioning.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.physical.RangePartitioning] ||
        wide.isEmpty,
        s"scale-agg exchange ships vectors: ${wide.map(_.name)}")
    }
  }

  test("embedding_pq: codebooks broadcast, no codebook cross product") {
    val p = plan("embedding_pq")
    assert(!p.contains("CartesianProduct"),
      "PQ encode must join per subspace, never the 16^M codebook product")
    assert(p.contains("BroadcastExchange"))
  }

  test("sim_search_topk broadcasts the query set and uses the codegen'd dot") {
    val p = plan("sim_search_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
    assert(p.contains("double_array_dot"), p.linesIterator.take(5).mkString("\n"))
  }

  test("dedup_exact shuffles on the digest, not the document body") {
    // unwrap AQE: AdaptiveSparkPlanExec is childless, so collect() on the
    // raw executedPlan would not see the exchanges inside it
    val exec = graft.SparkEntry.queries("dedup_exact")(spark, sf)
      .queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
    assert(exec.toString.contains("hashpartitioning(dg#"), exec.toString)
    // every exchange in the plan ships the 32-byte digest, never `text`
    val exchanges = exec.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.nonEmpty)
    exchanges.foreach { e =>
      assert(!e.output.map(_.name).contains("text"),
        s"exchange carries the document body: ${e.output.map(_.name)}")
    }
  }

  test("sim_search_ivf: vectors never ride a shuffle; only the 16-row codebook nested-loops") {
    val exec = graft.SparkEntry.queries("sim_search_ivf")(spark, sf)
      .queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
    assert(!exec.toString.contains("CartesianProduct"))
    // every shuffle exchange DOWNSTREAM of the persisted base carries only
    // narrow id/score/rank columns — the 64-dim vectors re-attach via
    // broadcast. (unitEmbeddings' one-time repartition spread lives inside
    // the ScratchCache'd InMemoryRelation, a leaf this collect does not
    // enter: that single corpus spread is the deliberate O(n) cost; what
    // this pins is that the PAIRWISE path never ships vectors.)
    val exchanges = exec.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.nonEmpty)
    exchanges.foreach { e =>
      val wide = e.output.filter(
        _.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
      assert(wide.isEmpty,
        s"exchange ships vector payloads: ${wide.map(_.name)}")
    }
    assert(exec.toString.contains("double_array_dot"))
  }

  test("sim_search_ivf_indexed: the postings read is partition-pruned to " +
      "the probed cells") {
    val p = plan("sim_search_ivf_indexed")
    // the probe half must scan the PREBUILT index tables, not the corpus
    assert(p.contains("graft_ivf_index"), "probe does not read the index")
    // and the cell id is a storage partition key the probe set prunes on:
    // the postings scan carries a partition filter INSET over cent_id, so
    // only nprobe/K of the postings directories are read (structural —
    // survives any scratch-path length / version-counter digit count)
    val pf = postingsPartitionFilters("sim_search_ivf_indexed")
    assert(pf.contains("cent_id"), pf)
    assert(pf.contains("INSET") || pf.contains(" IN "), pf)
  }

  test("sim_search_pq_indexed: the ADC probe reads the prebuilt index, " +
      "no training aggregation in the plan") {
    val p = plan("sim_search_pq_indexed")
    // the probe half must scan the written codebooks/codes tables
    assert(p.contains("graft_pq_index"), "probe does not read the index")
    // training and encoding both argmin via min_by; the serving plan
    // must contain neither (LUT build + (m,k) equi-join + slot sums
    // only) — a min_by here means the codebook retrained per query
    assert(!p.contains("min_by"), "probe plan contains a training argmin")
    // the query-side LUT is broadcast; corpus code rows never cross-join
    assert(p.contains("BroadcastExchange"), "LUT not broadcast")
    assert(!p.contains("CartesianProduct"), "corpus-side cartesian")
  }

  test("sim_search_ivfpq_indexed: probe is partition-pruned to the probed " +
      "cells AND trains nothing") {
    val p = plan("sim_search_ivfpq_indexed")
    // the probe half must read the prebuilt IVF-PQ index tables
    assert(p.contains("graft_ivfpq_index"), "probe does not read the index")
    // the inverted-list scan prunes to the nprobe probed cells: a
    // partition filter INSET over the cell id, so only nprobe/K of the
    // code-row directories are read (structural, path-length-independent)
    val pf = postingsPartitionFilters("sim_search_ivfpq_indexed")
    assert(pf.contains("cent_id"), pf)
    assert(pf.contains("INSET") || pf.contains(" IN "), pf)
    // and the serving plan contains no training argmin (coarse AND fine
    // training both argmin via min_by) — a min_by here means an index
    // half retrained per query
    assert(!p.contains("min_by"), "probe plan contains a training argmin")
    assert(!p.contains("CartesianProduct"), "corpus-side cartesian")
  }

  test("dedup_url and agg_funnel: no cartesian; exchanges never carry " +
      "document text") {
    for (q <- Seq("dedup_url", "agg_funnel")) {
      val exec = graft.SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a.executedPlan
          case p => p
        }
      assert(!exec.toString.contains("CartesianProduct"), q)
      exec.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.foreach { e =>
        assert(!e.output.map(_.name).contains("text"),
          s"$q exchange carries text: ${e.output.map(_.name)}")
      }
    }
  }

  test("multimodal_payload_dedup: candidates are a signature equi-join; " +
      "the binary payload never rides an exchange") {
    val exec = graft.SparkEntry.queries("multimodal_payload_dedup")(spark, sf)
      .queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
    assert(!exec.toString.contains("CartesianProduct"))
    assert(!exec.toString.contains("BroadcastNestedLoopJoin"))
    exec.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.foreach { e =>
      val names = e.output.map(_.name)
      assert(!names.contains("payload") && !names.contains("text"),
        s"payload rides an exchange: $names")
    }
  }

  test("maintenance_zorder: bucket ranking is per-shard, no global corpus " +
      "sort window") {
    val p = plan("maintenance_zorder")
    // the corpus-sized row_number window must partition by shard (the
    // pack_sequences two-level prefix-sum shape); the only unpartitioned
    // windows run over the one-row-per-shard offsets frame, which sits
    // strictly downstream of the shard aggregate
    assert(p.contains("hashpartitioning(shard"),
      "per-shard rank window missing — corpus funnels through one sort")
    assert(!p.contains("ntile"),
      "global ntile reappeared — the single-partition window is back")
    assert(p.contains("BroadcastExchange"),
      "shard offsets frame not broadcast")
  }

  test("maintenance_zorder: per-bucket spans are narrow in BOTH key " +
      "dimensions") {
    // the curve's whole point: a lexicographic sort would leave one
    // dimension's per-bucket span at ~100% of global; z-order bounds
    // both, which is what lets either-column predicates skip files
    val rows = graft.SparkEntry.queries("maintenance_zorder")(spark, sf)
      .collect()
    assert(rows.length == 64)
    val skSpan = rows.map(r =>
      r.getAs[Long]("sk_max") - r.getAs[Long]("sk_min")).sum.toDouble / 64
    val pkSpan = rows.map(r =>
      r.getAs[Long]("pk_max") - r.getAs[Long]("pk_min")).sum.toDouble / 64
    val skGlob = rows.map(_.getAs[Long]("sk_max")).max -
      rows.map(_.getAs[Long]("sk_min")).min
    val pkGlob = rows.map(_.getAs[Long]("pk_max")).max -
      rows.map(_.getAs[Long]("pk_min")).min
    assert(skSpan / skGlob < 0.5, s"suppkey span $skSpan of $skGlob")
    assert(pkSpan / pkGlob < 0.5, s"partkey span $pkSpan of $pkGlob")
  }

  test("pipeline_curate: the exact-dedup exchange ships digests, not documents") {
    val exec = graft.SparkEntry.queries("pipeline_curate")(spark, sf)
      .queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
    assert(!exec.toString.contains("CartesianProduct"))
    // scope as in the IVF pin: the minhash signature build persists its
    // base (whose one-time corpus spread legitimately ships text to
    // parallelize shingling); this pins that the dedup/join/agg path the
    // pipeline adds never puts the document body on the wire
    val exchanges = exec.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.nonEmpty)
    exchanges.foreach { e =>
      assert(!e.output.map(_.name).contains("text"),
        s"exchange carries the document body: ${e.output.map(_.name)}")
    }
  }

  test("source_partitioned: partition filter prunes directories at planning time") {
    val p = plan("source_partitioned")
    val scan = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scan.contains("PartitionFilters: ["), p)
    assert(scan.contains("= en"), scan)
    // pruned data filters must NOT degrade to a post-scan filter on lang
    assert(!p.contains("PushedFilters: [IsNotNull(lang)"), p)
  }

  test("join_bucketed: the bucketed join reads co-located buckets, no input shuffle") {
    // at sf0.001 the dim side is under the broadcast threshold, which
    // makes "no input exchange" vacuous — force the shuffled-join path
    // the operator exists for, and require bucketing to eliminate it
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try bucketedBody()
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  private def bucketedBody(): Unit = {
    val df = graft.SparkEntry.queries("join_bucketed")(spark, sf)
    val exec = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    // the only exchanges allowed are AT or ABOVE the group-by (the tiny
    // 5-row aggregate/sort); neither join INPUT may reshuffle — that is
    // the entire point of bucketing. Equivalently: no exchange whose
    // output still carries the raw join payload columns.
    val exchanges = exec.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    exchanges.foreach { e =>
      val names = e.output.map(_.name)
      assert(!names.contains("o_custkey") && !names.contains("c_custkey"),
        s"join input was shuffled — bucketing not honored: $names")
    }
    assert(exec.toString.contains("SortMergeJoin") ||
      exec.toString.contains("ShuffledHashJoin"), exec.toString)
    assert(exec.toString.contains("Bucketed: true"), "scan did not use buckets")
  }

  private def unwrapped(q: String) =
    graft.SparkEntry.queries(q)(spark, sf)
      .queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }

  test("text_chunk: map-only — the only exchange is the determinism sort") {
    unwrapped("text_chunk").collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.foreach(e => assert(e.outputPartitioning.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.physical.RangePartitioning],
      "text_chunk shuffled data before the final sort"))
  }

  test("search_bm25: query-side joins broadcast; no exchange ships text") {
    val exec = unwrapped("search_bm25")
    val p = exec.toString
    assert(p.contains("BroadcastHashJoin"), "query-term join must broadcast")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin"),
      "a corpus-side shuffled join crept into the scoring path")
    exec.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.foreach(e => assert(!e.output.map(_.name).contains("text"),
      s"bm25 exchange carries the document body: ${e.output.map(_.name)}"))
  }

  test("search_boolean / search_prf / search_facets: no exchange ships " +
      "document text") {
    // the retrieval completions inherit the lexical family's
    // posture: corpus text stays inside the scan stage, only posting
    // keys and match rows ride exchanges
    for (q <- Seq("search_boolean", "search_prf", "search_facets")) {
      val exec = unwrapped(q)
      assert(!exec.toString.contains("CartesianProduct"),
        s"$q has a cartesian product")
      exec.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.foreach(e => assert(!e.output.map(_.name).contains("text"),
        s"$q exchange carries the document body: ${e.output.map(_.name)}"))
    }
  }

  test("cluster_kmeans and sim_search_matryoshka: corpus-side joins are " +
      "broadcast, never shuffled") {
    // the centroid / query / candidate frames are bounded model
    // artifacts: every join against the corpus must be a broadcast
    // (hash for equi-keys, nested-loop only for the deliberate tiny
    // broadcast crosses — the simSearchTopk shape), never a sort-merge
    // that re-exchanges the vector column
    for (q <- Seq("cluster_kmeans", "sim_search_matryoshka")) {
      val p = unwrapped(q).toString
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
      assert(!p.contains("SortMergeJoin"), s"$q shuffled a corpus join")
    }
  }

  test("unpartitioned-window allowlist: every Window.orderBy site runs " +
      "over a bounded model-artifact frame") {
    // WindowExec's "No Partition Defined" warning is benign at all NINE
    // current sites (per-shard offset tables <= 256 rows, vocab/symbol
    // ranks, <= 64-row sketch/bucket walks) — but only because each
    // input frame is model-artifact scale. This pin enumerates the allowed sites by source scan so a
    // NEW unpartitioned window over a corpus-scale input fails the
    // build instead of hiding in the warning noise.
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    // detect over COMMENT-STRIPPED full file text with a whitespace-
    // tolerant regex, not a single-line substring: a site written as
    // `Window\n  .orderBy(...)` must still count (the
    // evasion the old line match allowed is exactly the failure mode
    // this pin exists to catch)
    val siteRe = """Window\s*\.\s*orderBy\s*\(""".r
    val blockComment = """(?s)/\*.*?\*/""".r
    val lineComment = """//[^\n]*""".r
    val files = scala.util.Using.resource(java.nio.file.Files.walk(root)) {
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    }
    val sites = files.flatMap { p =>
        val txt = lineComment.replaceAllIn(
          blockComment.replaceAllIn(java.nio.file.Files.readString(p), " "),
          " ")
        siteRe.findAllIn(txt).map(_ => p.getFileName.toString)
      }.groupBy(identity).view.mapValues(_.size).toMap
    // CurateQueries' 4th site WAS tokenize_decode's symbol-vocabulary
    // rank — now folded with tokenize_bpe_apply's identical build
    // into the shared session-keyed bpeVocab (one site, same bounded
    // symbol-inventory frame: distinct BPE symbols, a model artifact
    // at any corpus size).
    // RelQueries' 3rd site is agg_quantile_sketch's cumulative walk over
    // the <= 64-bin histogram frame — constant-size sketch state;
    // IncrementalDedup's site is the same walk over the FOLDED bin
    // counts (quantile_sketch_incremental) — the identical <= 64-row
    // frame after the store fold.
    // CurateQueries' 4th site is corpus_length_histogram's
    // cumulative-share walk over the log2-bucket inventory — ≤ 64 rows
    // by construction (bucket = bit length of the token count).
    assert(sites == Map("CurateQueries.scala" -> 4, "RelQueries.scala" -> 3,
      "IncrementalDedup.scala" -> 1),
      s"unpartitioned-window sites drifted: $sites — if the new site's " +
        "window input is NOT a bounded model-artifact frame, partition it; " +
        "if it is, extend this allowlist with the boundedness argument")
    // and the boundedness claims hold on real data: the vocab ranks run
    // over the distinct-term inventory, the shard-offset windows over
    // one row per 256-doc shard / per 8 z-range partitions
    val sf = "/root/testdata/sf0.01"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val vocab = docs.selectExpr("explode(split(text, ' ')) t")
      .agg(org.apache.spark.sql.functions.countDistinct("t")).head.getLong(0)
    assert(vocab <= 1024, s"vocabulary blew past model-artifact scale: $vocab")
    val shards = docs.selectExpr("floor(doc_id / 256) s")
      .agg(org.apache.spark.sql.functions.countDistinct("s")).head.getLong(0)
    assert(shards <= 4096, s"shard-offset frame is corpus-scale: $shards")
  }

  test("no tokenizing split is re-inlined into a lambda body " +
      "(CollapseProject regression, r17)") {
    // Per-element lambda evaluation re-executes any expression subtree
    // embedded in the lambda BODY (O(tokens²)/doc for an inline split),
    // and CollapseProject re-inlines a non-cheap expression consumed
    // exactly once — so the materializing Project only survives while
    // the consumer references the token column more than once. If a
    // refactor drops to one reference, the split lands back inside the
    // lambdafunction and this pin fires before the bench does.
    for (q <- Seq("quality_classifier", "text_repetition",
        "text_fingerprint", "dedup_ngram_jaccard")) {
      val bad = plan(q).linesIterator.filter(l =>
        l.contains("lambdafunction") && l.contains("split(text"))
      assert(bad.isEmpty,
        s"$q: split(text) re-inlined into a lambda body:\n" +
          bad.mkString("\n"))
    }
  }

  test("multimodal_align's histogram is the zero-HOF translate form") {
    // The 16-bin nibble histogram must stay 16 codegen'd
    // length(translate(...)) diffs over the regexp'd nibble string —
    // the HOF form (nibble array rebuilt per bin inside a lambda) cost
    // O(16·nb²) interpreted char scans per doc (156.5 s at sf0.1).
    val p = plan("multimodal_align")
    assert(p.contains("translate("),
      "histogram lost its translate() form — if a lambda-based " +
        "histogram returned, re-read SURVEY §4.2 lesson 10")
    assert(!p.linesIterator.exists(l =>
      l.contains("lambdafunction") && l.contains("hex(")),
      "hex() re-inlined into a lambda body")
  }

  test("join_anti and join_interval pin non-empty results (r16 " +
      "verdict item 7: a 0-row green is 'both engines found nothing')") {
    assert(graft.SparkEntry.queries("join_anti")(spark, sf).count() > 0)
    assert(graft.SparkEntry.queries("join_interval")(spark, sf).count() > 0)
  }

  test("memoization boundary is FROZEN (r21 verdict item 7): every " +
      "persistKeyed site keys through fpKey, the keyed-frame set is " +
      "pinned, and no declared query serves a bare cached frame") {
    // ---- (a) static scan: every ScratchCache.persistKeyed call in the
    // engine sources must key THROUGH Core.fpKey (the source-fingerprint
    // discipline — a dir-only key serves stale partitions after an
    // in-place testdata regeneration), and the SET of keyed frames is
    // pinned below: adding a keyed frame is an explicit, reviewed act,
    // never a drive-by (the reuse must stay one level below a declared
    // query's own serve).
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val srcs = walk(new java.io.File("src/main/scala/engine"))
    assert(srcs.nonEmpty, "engine sources not found (test must run from repo root)")
    val sites = for {
      f <- srcs if f.getName != "Core.scala" // the definition site
      txt = java.nio.file.Files.readString(f.toPath)
      i <- "persistKeyed\\(".r.findAllMatchIn(txt).map(_.start)
      // the window reaches BACK too: the pass-through marker
      // (cacheKey.fold) precedes the call on the same line
    } yield (f.getName,
      txt.slice(math.max(0, i - 100), math.min(txt.length, i + 220)))
    // the one pass-through: bm25Postings takes the caller's key
    // (cacheKey.fold) — its callers are fpKey sites themselves
    val (passThrough, direct) = sites.partition(_._2.contains("cacheKey.fold"))
    assert(passThrough.size == 1,
      s"unexpected pass-through persistKeyed sites: $passThrough")
    direct.foreach { case (f, w) =>
      assert(w.contains("fpKey("),
        s"$f: persistKeyed site does not key through Core.fpKey:\n$w")
    }
    val prefixes = direct.flatMap { case (_, w) =>
      "fpKey\\(s?\"([a-zA-Z0-9_]+)".r.findFirstMatchIn(w).map(_.group(1))
    }.toSet
    // keys passed through bm25Postings' cacheKey param
    val indirect = srcs.map(f => java.nio.file.Files.readString(f.toPath))
      .flatMap("fpKey\\(s?\"(bm25posts)\"".r.findAllMatchIn(_).map(_.group(1)))
      .toSet
    val allowed = Set(
      // corpus-derived signature/posting tables (id+hash scale)
      "eu", "srp16", "srpcls", "shingle60", "minhash_sig", "simhash_pairs8",
      "rarecounts", "rarepairs", "bm25posts",
      // tokenizer model artifacts (word-type / symbol-inventory scale)
      "bpewf", "bpefin", "bpevocab",
      // PQ code tables per operating point
      "pqcodes_m",
      // kNN edge table + IVF ranked slice (consumer fan-out)
      "knng_edges_c", "ivfrank_np",
      // ranked top-k slices — ONE level below the declared serves,
      // each read by more than one op: the declared single-op queries
      // verifiably do not read these
      "bm25top", "costop")
    assert((prefixes ++ indirect) == allowed,
      s"keyed-frame set drifted:\n  new: ${(prefixes ++ indirect) -- allowed}" +
      s"\n  gone: ${allowed -- prefixes -- indirect}\n" +
      "update the allowlist ONLY with a boundary review (no declared " +
      "query may serve its own keyed output)")
    // ---- every driver-side memo must also key on the source
    // fingerprint: in the key expression itself, or in a `val` the key
    // interpolates (sphericalCellCache's `fp`)
    val llmSrcs = srcs.filter(_.getPath.contains("/llm/"))
    val memoSites = for {
      f <- llmSrcs
      txt = java.nio.file.Files.readString(f.toPath)
      m <- "(\\w*Cache)\\.computeIfAbsent\\(".r.findAllMatchIn(txt)
    } yield (f.getName, m.group(1), txt, m.end)
    assert(memoSites.nonEmpty, "memo scan found no computeIfAbsent site")
    memoSites.foreach { case (f, memo, txt, at) =>
      val keyExpr = txt.slice(at, ",\\s*_ =>".r.findFirstMatchIn(txt.substring(at))
        .fold(at)(at + _.start))
      val before = txt.slice(math.max(0, at - 1500), at)
      val fpVals = "\\$\\{?(\\w+)".r.findAllMatchIn(keyExpr).map(_.group(1))
        .filter(v => s"val $v = [^\\n]*srcFingerprint".r
          .findFirstIn(before).isDefined)
      assert(keyExpr.contains("srcFingerprint") ||
        keyExpr.contains("fpKey(") || fpVals.nonEmpty,
        s"$f: $memo memo key lacks the source fingerprint:\n$keyExpr")
    }
    // ---- (b) dynamic: with the shared frames WARM (the risk case),
    // every boundary-adjacent declared query's plan still computes —
    // at least one join/aggregate/window/generate ABOVE any cached
    // scan. A query whose fn returned its own keyed output would plan
    // as a bare sort/project over one InMemoryTableScan.
    import org.apache.spark.sql.execution.SparkPlan
    def deepAll(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          Seq(s.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          Seq(r.child)
        case other => other.children // InMemoryTableScan stays a LEAF:
        // compute inside a cached frame's own plan must not count
      }
      p +: kids.flatMap(deepAll)
    }
    // warm the shared frames the way a bench session would
    graft.SparkEntry.queries("search_hybrid_rrf")(spark, sf).count(): Unit
    graft.SparkEntry.queries("dedup_eval")(spark, sf).count(): Unit
    val boundary = Seq("search_bm25", "search_bm25f", "search_hybrid_rrf",
      "rank_eval", "pipeline_rag", "dedup_eval", "pipeline_pretrain",
      "sim_search_topk", "dedup_ngram_jaccard", "dedup_minhash",
      "dedup_url", "decontaminate")
    for (q <- boundary) {
      val nodes = deepAll(graft.SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan)
      val computes = nodes.count {
        case _: org.apache.spark.sql.execution.joins.BaseJoinExec => true
        case _: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => true
        case _: org.apache.spark.sql.execution.window.WindowExec => true
        case _: org.apache.spark.sql.execution.GenerateExec => true
        case _ => false
      }
      assert(computes > 0,
        s"$q plans as a bare scan of a cached frame — the declared query" +
        " is serving its own memoized output (boundary violation)")
    }
  }

  test("join_range_bucketed: no nested-loop/cartesian operator, and " +
      "non-empty") {
    // the whole point of the bucket grid: an equi-join carries the
    // no-equi-key range predicate — a BroadcastNestedLoopJoin here means
    // the bucket key fell out of the join condition
    val p = plan("join_range_bucketed")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      "range-bucketed join degenerated to a nested loop:\n" +
        p.linesIterator.filter(_.contains("Join")).mkString("\n"))
    assert(graft.SparkEntry.queries("join_range_bucketed")(spark, sf)
      .count() > 0)
  }
}
