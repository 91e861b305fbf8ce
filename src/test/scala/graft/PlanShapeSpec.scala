package graft

import graft.operators.ProfileAggregator
import graft.sinks.Sinks
import org.apache.spark.sql.functions._

/** Pins the performance-critical plan shapes as regression tests: these
  * are the properties PERF.md claims, asserted on the optimized plans so a
  * refactor can't silently regress them.
  */
class PlanShapeSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("no query plans an unintended Cartesian product or nested-loop join") {
    // Deliberate exceptions only: tiny-broadcast cross joins (one-row
    // scalar tables, broadcast query vectors) and the exact O(n²)
    // similarity baselines that the approximate operators are judged
    // against. Everything else must plan as hash/sort-merge/broadcast
    // equi-joins — a BNLJ or CartesianProduct sneaking into any other
    // query is exactly the regression that kills a 100 TB run.
    val broadcastCrossAllowed = Set(
      // broadcast query-vector / scalar-threshold cross joins
      "q20_cosine_topk", "q21_knn_join", "q46_ivf_ann", "q109_tpch_q22",
      "q118_hard_negatives", "q35_disparity", "q38_top_decile",
      "q53_union_drift", "q58_correlated_avg", "q62_anomaly_profile",
      "q79_decontaminate", "q100_lm_score", "q81_mix_weights",
      // one-row bigram-type-total scalar cross join (q100's shape)
      "q209_kneser_ney",
      "q136_skew_audit_binned", // one-row max(cnt) scalar cross join
      "q158_vocab_growth", // one-row max(doc_id) scalar broadcast onto vocab
      // tiny-vocab dense regime: deliberate broadcast nested loop through
      // the codegen dot product (see Similarity.sparseCosinePairs scaladoc)
      "q160_sparse_cosine_pairs",
      // 20-vector audit slice: broadcast id_a < id_b self-pairing
      "q223_jl_distortion",
      // 8-anchor broadcast over one corpus scan (exhaustive baseline)
      "q224_hard_negatives",
      // recall metric: exhaustive side reuses the q224 broadcast shape
      "q225_hard_negative_recall",
      // one-row aggregate × one-row aggregate (report assembly)
      "q74_anomaly_gates", "q77_dedup_purge", "q116_triangle_count",
      "q36_underrepresentation", "q120_assoc_rules",
      // tiny-distinct-domain inequality self-join (|p_type| = 6) and
      // distinct-type × 10-bin grid
      "q92_fuzzy_types", "q101_psi_drift",
      // k-row broadcast centroid model × corpus scan (Lloyd assignment)
      "q163_kmeans",
      // q163's model-broadcast shape for the silhouette distances
      "q204_cluster_silhouette",
      // one-row corpus-count × one-row dup-count (report assembly, q77's shape)
      "q205_dup_cluster_histogram",
      // 3-row broadcast dense-query side × candidate embeddings (rankJoin)
      "q162_rrf_fusion",
      // 5-row broadcast threshold spine × materialized pair table (≥ join)
      "q167_dedup_sensitivity",
      // 9-row broadcast threshold spine × scored corpus (q167's shape)
      "q193_threshold_sweep",
      // one-row national-total scalar broadcast onto the per-part values
      "q171_tpch_q11",
      // one-row max-z scalar broadcast onto the z-valued rows
      "q174_zorder_stats",
      // two one-row corpus-total scalars broadcast onto vocab-sized rows
      "q175_pmi_collocations",
      // 5-row broadcast query side × corpus scan, twice (full + truncated)
      "q182_matryoshka",
      // source-pair spine: |sources|² tiny cross restoring zero-overlap
      // pairs (JS = ln 2) that the shared-vocab join cannot emit
      "q214_js_divergence",
      // portable-recall family: ≤5-row broadcast query side × corpus for
      // the exhaustive denominator (q21's shape); q219 additionally runs
      // the deliberate O(n²) exhaustive SemDeDup baseline on the bounded
      // q137 slice — the thing its containment metric is measured AGAINST
      "q217_ivf_recall", "q218_pq_recall", "q219_semdedup_containment",
      "q220_sq_recall", "q238_bq_recall", "q239_rp_bq_recall",
      // batch BQ: the code table has no cells to equi-join — the Hamming
      // pre-rank IS a scan of 8-byte codes against the ≤5-row broadcast
      // query side (rank-window bounded before the rerank join)
      "q240_bq_batch_exact",
      // drift-audit report assembly: one-row aggregates (n/sum, max-cell,
      // p90) broadcast-crossed per phase, plus the one-row corpus count
      // broadcast onto the distinct-d2 histogram for the p90 cutoff
      "q236_ivf_drift_audit")
    val cartesianAllowed = Set("q22_embed_neardup")
    val offenders = QueryRegistry.all.flatMap { q =>
      try {
        val p = q.run(spark, sf).queryExecution.executedPlan.toString
        val cart = p.contains("CartesianProduct") && !cartesianAllowed(q.name)
        val bnlj = p.contains("BroadcastNestedLoopJoin") &&
          !broadcastCrossAllowed(q.name) && !cartesianAllowed(q.name)
        if (cart || bnlj)
          Some(s"${q.name}${if (cart) " [cartesian]" else " [bnlj]"}")
        else None
      } catch {
        case e: Throwable => Some(s"${q.name} [failed: ${e.getMessage.take(100)}]")
      }
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  test("per-group top-k plans with WindowGroupLimit pushdown") {
    // Spark's InferWindowGroupLimit turns window-rank + `rn <= k` filters
    // into a per-partition bounded heap BEFORE the full sort — the reason
    // the engine uses the declarative window form for per-group top-k
    // instead of a custom physical operator. Pin it so a filter-shape
    // refactor can't silently fall back to sorting whole partitions.
    val p = plan("q70_tfidf_topterms")
    assert(p.contains("WindowGroupLimit"), p)
    // the triplet-mining family rides the same pushdown: the exchange
    // after the anchors×corpus broadcast join carries at most
    // partitions×anchors×k rows (per-partition heap), never the scored
    // corpus — the property that keeps q224/q225 shuffle-safe at scale.
    // Catalyst also extracts the positive side's label equality into a
    // BroadcastHashJoin key; pin both.
    val p224 = plan("q224_hard_negatives")
    assert(p224.sliding("WindowGroupLimit".length).count(
      _ == "WindowGroupLimit") >= 4, p224) // partial+final × neg/pos arms
    assert(p224.contains("BroadcastHashJoin [label"), p224)
    val p225 = plan("q225_hard_negative_recall")
    assert(p225.contains("WindowGroupLimit"), p225)
  }

  test("q01 scan is column-pruned to the referenced columns") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("ReadSchema"))
    assert(!p.contains("l_shipdate"), "unreferenced column in scan")
    assert(!p.contains("l_partkey"), "unreferenced column in scan")
  }

  test("q07 dimension joins broadcast") {
    val p = plan("q07_join_enrich")
    assert(p.split("BroadcastHashJoin").length - 1 == 3, p)
    assert(!p.contains("SortMergeJoin"))
  }

  test("q10 top-k plans as TakeOrderedAndProject (no global sort)") {
    val p = plan("q10_topk_customers")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q50 filters are pushed to the parquet scan") {
    val p = plan("q50_tpch_q6")
    // the plan string elides long filter lists — assert the scan carries
    // pushed predicates at all, plus the first visible ones
    assert(p.contains("PushedFilters: [IsNotNull"), p)
    assert(p.contains("GreaterThanOrEqual(l_shipda"), p)
  }

  test("q06 dedup shuffles once on the key, no global sort") {
    val p = plan("q06_dedup_keepfirst")
    // one hash exchange for the window partition + the final orderBy range
    // exchange; no Exchange SinglePartition before the window
    assert(p.contains("hashpartitioning(o_custkey"), p)
  }

  test("bucketed tables join without a shuffle") {
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val orders = Tables(spark, sf, "orders")
      Sinks.writeBucketed(orders.select("o_orderkey", "o_totalprice"),
        "b_orders", "o_orderkey", 4)
      Sinks.writeBucketed(
        Tables(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
          .withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem", "o_orderkey", 4)
      val joined = spark.table("b_orders").join(spark.table("b_lineitem"), "o_orderkey")
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$p")
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("round-5 TPC-H shapes: keyed windows and broadcast anti-join") {
    // q169: the decorrelated min-cost subquery must run as a window keyed
    // by part (one shuffle), and the LIMIT as TakeOrderedAndProject
    val p2 = plan("q169_tpch_q2")
    assert(p2.contains("hashpartitioning(partkey"), p2)
    assert(p2.contains("TakeOrderedAndProject"), p2)
    // q172: NOT IN over the non-null supplier key = broadcast anti-join
    val p6 = plan("q172_tpch_q16")
    assert(p6.contains("BroadcastHashJoin") && p6.contains("LeftAnti"), p6)
    // q173: dominance share via part-keyed window — never a global sort
    val p0 = plan("q173_tpch_q20")
    assert(p0.contains("hashpartitioning(partkey"), p0)
    assert(!p0.contains("SinglePartition"), s"single-partition stage:\n$p0")
  }

  test("q68 as-of join plans as one keyed window, not a join") {
    val p = plan("q68_asof_attribution")
    assert(!p.contains("Join"), s"as-of should be join-free:\n$p")
    assert(p.contains("hashpartitioning(user_id"), p)
  }

  test("q70 document-frequency table broadcast-joins onto term counts") {
    val p = plan("q70_tfidf_topterms")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q72 cohort profile broadcast-joins back onto weekly activity") {
    val p = plan("q72_retention_cohorts")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q90 BQ persisted search: heap-based pre-rank over a code-only scan, vectors only in the rerank") {
    val p = plan("q90_bq_indexed")
    // the Hamming shortlist is a TakeOrderedAndProject (per-partition
    // heap + merge) — a global sort of the code table would be the
    // 100 TB killer
    assert(p.contains("TakeOrderedAndProject"), p)
    // the pre-rank scan reads ONLY (id, code) — 8 bytes of payload per
    // vector; if the vectors' array column appears in the code-table
    // ReadSchema the 64x byte saving is gone
    assert("ReadSchema: struct<vec_id:bigint,code:bigint>".r
      .findFirstIn(p).isDefined, p.take(4000))
    // the rerank side joins the shortlist by hash, never a loop
    assert(!p.contains("CartesianProduct"), p)
  }

  test("batch ANN rank windows plan a partial rank stage: no corpus-sized window partition is ever sorted whole") {
    // q240 (BQ batch at full width) / q235 (IVF-PQ batch) / q46 (IVF
    // probed search): a rank window partitioned by query_id alone would
    // naively sort each query's whole candidate set — the code table,
    // the probed cells — on one reducer (a ~24 GB single-task sort per
    // query at 10⁹ vectors). The operators keep the
    // row_number-over-window + rank<=k filter shape EXACTLY so Spark's
    // InferWindowGroupLimit plans it two-phase: a WindowGroupLimit
    // bounds every input partition to its local top-k BEFORE the
    // query-keyed exchange (no extra shuffle — an explicit local window
    // keyed by (query_id, spark_partition_id()) was tried and rejected:
    // it forces a full N×Q exchange for the same bound), and the final
    // rank runs over the P×k residue. A refactor that breaks the
    // inferable shape (filter on a derived column, a non-rank function,
    // a frame change) silently loses the pushdown — this pin fails the
    // moment WindowGroupLimit disappears from any of the three plans.
    Seq("q240_bq_batch_exact", "q235_ivfpq_batch_exact", "q46_ivf_ann")
      .foreach { name =>
        val p = plan(name)
        assert(p.contains("WindowGroupLimit"),
          s"$name: rank-limit pushdown lost — the per-query window " +
            s"sorts its whole partition:\n${p.take(4000)}")
      }
  }

  test("q82 interval join plans as an equi-join on the bin, not a nested loop") {
    val p = plan("q82_interval_join")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("__bin"), p)
  }

  test("q79 decontamination broadcasts the benchmark gram set") {
    val p = plan("q79_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the benchmark's distinct gram SET is cached (benchmark-sized — the
    // corpus-sized gram table must NOT be, see DedupOps.decontaminate);
    // the broadcast side must read that cache, not re-tokenize
    assert(p.contains("InMemoryTableScan"), s"bench gram set recomputed:\n$p")
  }

  test("q197/q201 span decontamination broadcasts bench grams and span lists") {
    // the span family inherits q79's contract: the benchmark gram-hash
    // set is gated-broadcast from its cache, and (for the excision) the
    // contaminated docs' span lists reach the corpus as a broadcast —
    // statically the span-list join is an SMJ (its size is unknown until
    // the merge runs), so the pin is on the AQE-FINAL plan after
    // execution, where the measured-small list side must have converted
    val p197 = plan("q197_decontaminate_spans")
    assert(p197.contains("BroadcastHashJoin"), p197)
    assert(p197.contains("InMemoryTableScan"), s"bench gram set recomputed:\n$p197")
    val df201 = SparkEntry.queries("q201_excise_contamination")(spark, sf)
    df201.collect()
    // the executed-plan string carries BOTH sections; pin the final one
    val fin = df201.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(fin.contains("isFinalPlan=true"), fin)
    assert(fin.contains("BroadcastHashJoin"), fin)
    assert(!fin.contains("SortMergeJoin"), fin)
  }

  test("q67 running sum is distributed — no single-partition exchange or window") {
    // the two-pass prefix sum must never plan `Exchange SinglePartition`
    // (the whole-table-to-one-task shape a global Window.orderBy produces)
    val p = plan("q67_token_batches")
    assert(!p.contains("SinglePartition"), s"single-partition stage:\n$p")
  }

  test("q141 shard export shuffles once on shard_id — no single-partition stage") {
    // the rank window partitions by shard_id; a refactor to a global
    // order-by would plan Exchange SinglePartition and die at scale
    val p = plan("q141_shard_export")
    assert(p.contains("hashpartitioning(shard_id"), p)
    assert(!p.contains("SinglePartition"), s"single-partition stage:\n$p")
  }

  test("round-5 packing/AUC family: shard-keyed shuffles, no single-partition stage") {
    // q184's sequential scan is per-partition after a shard-keyed
    // repartition; q186 is a shard-partitioned window; q187's rank-sum
    // cumulative runs through the two-pass prefix sum — none of them may
    // ever plan Exchange SinglePartition (the global-sort death at scale)
    Seq("q184_sequence_packing", "q186_concat_packing").foreach { q =>
      val p = plan(q)
      assert(!p.contains("SinglePartition"), s"single-partition stage in $q:\n$p")
    }
    assert(plan("q184_sequence_packing").contains("hashpartitioning(shard"))
    // q187 ends in a one-row scalar aggregate (its final Exchange
    // SinglePartition moves partial sums, not data) — the pin here is that
    // the rank-sum WINDOW is bucket-partitioned, never global
    val p187 = plan("q187_classifier_auc")
    assert(p187.contains("windowspecdefinition(_psb"),
      s"prefix-sum window lost its bucket partitioning:\n$p187")
    assert(p187.contains("hashpartitioning(_psb"), p187)
  }

  test("q139 bm25 joins stay broadcast — no shuffle join in the scoring path") {
    val p = plan("q139_bm25_topk")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("runtime bloom filter prunes the probe side of a selective join") {
    // a selective dimension filter should inject a bloom filter into the
    // fact-side scan (Spark's runtime row-level filtering); thresholds are
    // lowered because testdata is far below the production defaults
    val restore = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val li = Tables(spark, sf, "lineitem")
      val ord = Tables(spark, sf, "orders").filter(col("o_totalprice") > 560000)
      val p = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)))
        .queryExecution.executedPlan.toString
      assert(p.contains("bloom_filter_agg"), p)
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("AQE splits a skewed join partition at runtime") {
    import spark.implicits._
    val restore = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // one hot key carrying ~200k fat rows vs a long uniform tail
      val left = spark.range(0, 200000)
        .select(lit("hot").as("k"), concat(lit("payload-"), col("id")).as("v"))
        .union(spark.range(0, 1000)
          .select(concat(lit("k"), col("id")).as("k"),
            concat(lit("payload-"), col("id")).as("v")))
      val right = (Seq("hot") ++ (0 until 1000).map(i => s"k$i")).toDF("k")
      val q = left.join(right, "k").agg(count(lit(1)))
      q.collect()
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"), p.linesIterator.take(25).mkString("\n"))
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("round-5c additions: q206/q213/q214/q215 shuffle shapes") {
    // q206 spectrum power step: one corpus scan → dimension-keyed d-row
    // aggregate; the d×d covariance must never materialize (no join at
    // all) and no corpus-scale single-partition stage may appear (the
    // final d-row orderBy's range partition is dimension-sized)
    val vecs = Tables(spark, sf, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("e"))
    val step = graft.operators.Similarity
      .spectrumStep(vecs, Array.fill(64)(0.125), 0.0)
      .queryExecution.executedPlan.toString
    assert(!step.contains("Join"), s"spectrum step must be join-free:\n$step")
    assert(step.contains("hashpartitioning(i"), step)
    assert(!step.contains("SinglePartition"), s"single-partition stage:\n$step")

    // q213 assortativity: both keyed aggregates (per-endpoint degree,
    // endpoint join) shuffle on graph keys; the only single-partition
    // exchange is the final one-row corr aggregate
    val p213 = plan("q213_assortativity")
    assert(p213.contains("hashpartitioning(a"), p213)
    assert(p213.contains("hashpartitioning(b"), p213)
    assert(p213.linesIterator.count(_.contains("Exchange SinglePartition")) == 1,
      s"expected exactly the one-row corr exchange:\n$p213")

    // q214 JS divergence: the vocabulary join is keyed on the shared
    // word — never a corpus-scale cross — and the only nested-loop join
    // is the |sources|²-row spine restore
    val p214 = plan("q214_js_divergence")
    // the vocab join is keyed on the shared word — a w-keyed hash join
    // (broadcast at small SF) or a w-keyed shuffle, never a cross
    assert(p214.contains("hashpartitioning(w") ||
      "Join \\[w#".r.findFirstIn(p214).isDefined, p214)
    assert(!p214.contains("CartesianProduct"), p214)

    // q215 LPA round: edge-keyed join + node-keyed count + rank window,
    // no single-partition stage (the full query's plan is checkpoint-fed,
    // so the pin runs on the exposed round builder)
    import spark.implicits._
    val und = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("a", "b")
    val labels = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("id", "label")
    val pRound = graft.operators.GraphOps.lpaRound(und, labels)
      .queryExecution.executedPlan.toString
    assert(pRound.contains("hashpartitioning(a"), pRound)
    assert(!pRound.contains("SinglePartition"), s"single-partition stage:\n$pRound")
  }

  test("selection family: q221/q222 rounds are sortless argmax aggregates") {
    import graft.operators.{DataSelection, DedupOps, PortableAnn}
    // q221 round: ONE partial-max aggregate over the scan — no sort, no
    // window, and the only single-partition exchange is the 32-row
    // partial-max combine
    val cur = Tables(spark, sf, "embeddings")
      .select(col("vec_id").cast("long").as("id"),
        PortableAnn.quant(col("embedding")).as("qv"))
      .withColumn("dmin", graft.functions.LongVectorExprs.dist2(
        col("qv"), array((0 until 64).map(_ => lit(0L)): _*)))
    val p221 = DataSelection.kcenterArgmax(cur)
      .queryExecution.executedPlan.toString
    assert(!p221.contains("SortExec") && !p221.contains("WindowExec"), p221)
    assert(!p221.contains("Join"), s"k-center round must be join-free:\n$p221")
    assert(p221.linesIterator.count(_.contains("Exchange SinglePartition")) == 1,
      s"expected only the partial-max combine:\n$p221")

    // q222 round: the covered set rides a BROADCAST anti join (never a
    // shuffle join — it is picks-bounded), then the same sortless argmax
    val grams = DedupOps.shingles(Tables(spark, sf, "documents"),
        "doc_id", "text", 3)
      .select(col("doc_id").cast("long").as("id"), col("shingle"))
    val p222 = DataSelection.coverageRound(grams, Seq(1L, 2L))
      .queryExecution.executedPlan.toString
    assert(p222.contains("BroadcastHashJoin") && p222.contains("LeftAnti"),
      s"covered set must broadcast:\n$p222")
    assert(!p222.contains("SortMergeJoin"), p222)
    assert(!p222.contains("SortExec") && !p222.contains("WindowExec"), p222)
  }

  test("every empty-partition window runs over an aggregate-bounded input") {
    // The registry has ~12 deliberate Window.partitionBy() sites (global
    // share-of-total, cumulative bin curves, top-revenue marks) — all
    // over AGGREGATE-sized tables, where a single-partition window is
    // the right plan. What must never happen is a global window over a
    // corpus-scale child: this walks EVERY registered query's physical
    // plan, finds WindowExec nodes with an empty partitionSpec
    // (unwrapping AQE — plain collect() does not descend into
    // AdaptiveSparkPlanExec), and requires every path from the window
    // down to a file/cache scan to pass through an aggregate, limit, or
    // (pair-bounded) pre-verified join output. This is the structural
    // invariant behind silencing WindowExec's "No Partition Defined"
    // warning in Bench.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec

    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    // true iff every leaf-ward path hits an aggregate/limit before any
    // corpus-scale source node
    def bounded(p: SparkPlan): Boolean = {
      val name = p.getClass.getSimpleName
      if (name.contains("Aggregate") || name.contains("Limit") ||
        name.contains("TakeOrdered")) true
      else if (name.contains("FileSourceScan") || name.contains("BatchScan") ||
        name.contains("InMemoryTableScan") || name.contains("RowDataSourceScan"))
        false
      else if (p.children.isEmpty) true // LocalTableScan / Range spines
      else p.children.forall(c => bounded(unwrap(c)))
    }

    // positive control: a global window straight over the corpus scan
    // must be flagged, or this test tests nothing
    val bad = Tables(spark, sf, "documents")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("doc_id"))))
    val badWs = unwrap(bad.queryExecution.executedPlan).collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(badWs.nonEmpty && badWs.exists(w => !bounded(unwrap(w.child))),
      "positive control not flagged — checker is vacuous")

    val offenders = QueryRegistry.all.flatMap { q =>
      val plan =
        try unwrap(q.run(spark, sf).queryExecution.executedPlan)
        catch { case e: Throwable => fail(s"${q.name} failed to plan: $e") }
      plan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty && !bounded(unwrap(w.child)) =>
          s"${q.name}: unbounded global window:\n$w"
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n\n"))
    spark.catalog.clearCache()
  }

  test("hybrid serving query: both persisted legs stay index-pruned under the two-index snapshot") {
    // the q242 serving path — the plan Hybrid.searchIndexed materializes
    // under its pins, asserted pre-collect via fusedFrame: a refactor
    // that loses the lexical shard pruning or the dense rank-limit
    // pushdown would make the fused query corpus-shaped at 100 TB
    import graft.operators.{Bm25, BqIndex, Hybrid, PortableAnn}
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
    val embs = Tables(spark, sf, "embeddings")
    val cand = docs.join(embs.select(col("vec_id")),
      col("doc_id") === col("vec_id"), "left_semi")
    val corp = embs.join(docs.select("doc_id"),
        col("vec_id") === col("doc_id"), "left_semi")
      .select(col("vec_id"), PortableAnn.quant(col("embedding")).as("qv"))
    val bmDir = Scratch.dir("hybrid_bm")
    val bqDir = Scratch.dir("hybrid_bq")
    Bm25.writeIndex(cand, "doc_id", "text", bmDir)
    BqIndex.writeIndex(corp, "vec_id", "qv", bqDir)
    val lexQs = Seq("s1" -> "fast hash join", "s2" -> "window sort merge")
    val qv = corp.filter(col("vec_id") < 2)
      .select(concat(lit("s"), (col("vec_id") + 1).cast("string"))
        .as("vec_id"), col("qv"))
    val bm = Bm25.acquireSnapshot(spark, bmDir)
    val bq = BqIndex.acquireSnapshot(spark, bqDir)
    try {
      val fused = Hybrid.fusedFrame(spark, bqDir, bm, bq, corp, qv, lexQs,
        "doc_id", "vec_id", "qv", kPerSide = 10, k = 5, shortlist = 50,
        rrfK = 60, nShards = 64)
      val p = fused.queryExecution.executedPlan.toString
      // lexical leg: only the query terms' shard directories are listed
      // and scanned
      val scans = baseShardScans(fused, "postings")
      assert(scans.nonEmpty && scans.forall(r => r.nonEmpty &&
        r.subsetOf(bm25QueryShards(lexQs, 64))), scanRoots(fused))
      // dense leg: rank-limit pushdown below the query-keyed exchange,
      // over a scan that reads ONLY (id, code) — 8 B/vector
      assert(p.contains("WindowGroupLimit"), p.take(4000))
      assert("ReadSchema: struct<vec_id:bigint,code:bigint>".r
        .findFirstIn(p).isDefined, p.take(4000))
      // fusion joins two rank lists, never the corpus
      assert(!p.contains("CartesianProduct"), p.take(4000))
      assert(fused.count() > 0)
    } finally {
      BqIndex.releaseSnapshot(spark, bqDir, bq)
      Bm25.releaseSnapshot(spark, bmDir, bm)
    }
  }

  test("typed Aggregator computes a one-pass text profile") {
    import spark.implicits._
    val texts = Tables(spark, sf, "documents").select("text").as[String]
    val p = texts.select(ProfileAggregator.textProfile.toColumn).collect()(0)
    assert(p.n_rows == 500)
    assert(p.n_nulls == 0)
    assert(p.min_len > 0 && p.max_len >= p.min_len)
    val expectedAvg = Tables(spark, sf, "documents")
      .agg(avg(length(col("text")))).collect()(0).getDouble(0)
    assert(math.abs(p.avg_len - expectedAvg) < 1e-9)
  }
}
