package graft

/** Plan-property assertions (SURVEY.md §5.2): pushdown, pruning,
  * broadcast choice, top-k physical operator, codegen of the custom
  * expression — the features whose *plan shape* is the contract for
  * 100 TB behavior. */
class PlanSpec extends SparkSpecBase {

  private def physical(name: String): String =
    q(name).queryExecution.executedPlan.toString

  /** Plan string after AQE finalizes (codegen/reused stages only appear in
    * the final plan), untruncated. */
  private def finalPhysical(name: String): String = {
    val df = q(name)
    df.collect() // drive this queryExecution's AQE to isFinalPlan=true
    df.queryExecution.executedPlan.toString
  }

  /** Formatted explain — prints scan details (PushedFilters, ReadSchema)
    * untruncated, unlike plan toString. */
  private def formatted(name: String): String =
    q(name).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("q_scan_pushdown pushes both predicates to the parquet reader") {
    val p = formatted("q_scan_pushdown")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
    assert(p.contains("GreaterThan(l_quantity,45.0)"), p)
  }

  test("q_sink_zorder_skip pushes the residual predicate into the pruned-file scan") {
    // file-level pruning happens in the commit-log read (SinkOpsSpec);
    // the ROW-level residual must still reach the parquet reader of the
    // surviving files — skipping must not cost the scan its pushdown
    val p = formatted("q_sink_zorder_skip")
    assert(p.contains("GreaterThanOrEqual(user_id,4"), p.takeRight(2000))
    assert(p.contains("LessThanOrEqual(value,200"), p.takeRight(2000))
  }

  test("q_sink_dv_read subtracts tombstones with a row-index filter, not a join") {
    // the vectors are driver-held metadata, read per row from a broadcast
    // variable (Delta's row-index filter): a broadcast anti-join would
    // cost a job per read to ship them, and a sort-merge anti-join would
    // shuffle the whole table on the file key
    val p = finalPhysical("q_sink_dv_read")
    assert(!p.contains("LeftAnti") && !p.contains("SortMergeJoin"), p.take(3000))
  }

  test("q_scan_project prunes the read schema to selected+sort columns") {
    val p = physical("q_scan_project")
    assert(p.contains("ReadSchema"))
    assert(!p.contains("l_shipdate"), "pruned column still read:\n" + p.take(2000))
    assert(!p.contains("l_discount"), "pruned column still read:\n" + p.take(2000))
  }

  test("q_join_multiway broadcasts the dimension tables") {
    val p = physical("q_join_multiway")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("q_topk_limit plans TakeOrderedAndProject (no global sort)") {
    val p = physical("q_topk_limit")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("cosine expression runs inside whole-stage codegen") {
    val p = finalPhysical("q_llm_cosine_topk")
    // codegen spans print as "*(n) Op"; the Project computing cosine_sim
    // must carry the marker (i.e. the expression participates in codegen)
    val line = p.linesIterator.find(_.contains("cosine_sim(")).getOrElse("")
    assert(line.contains("*("), "cosine_sim not in a codegen span:\n" + line + "\n" + p.take(3000))
    // the query side is broadcast: candidates never shuffle
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(3000))
  }

  test("q_join_range keeps the equi-key (no cartesian product)") {
    val p = physical("q_join_range")
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("bucketed tables join with zero shuffle (co-located sort-merge)") {
    // The 100 TB co-location story: both sides written bucketBy+sortBy the
    // join key -> SMJ reads buckets directly, no Exchange and no Sort.
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-bucketed")
    try {
      Tables(spark, sf, "orders")
        .write.bucketBy(4, "o_custkey").sortBy("o_custkey")
        .option("path", s"$dir/orders_b").mode("overwrite")
        .saveAsTable("orders_b")
      Tables(spark, sf, "customer")
        .write.bucketBy(4, "c_custkey").sortBy("c_custkey")
        .option("path", s"$dir/customer_b").mode("overwrite")
        .saveAsTable("customer_b")
      val j = spark.table("orders_b").hint("merge")
        .join(spark.table("customer_b").hint("merge"),
          col("o_custkey") === col("c_custkey"))
      j.collect()
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p.take(3000))
      assert(!p.contains("Exchange"), "bucketed SMJ still shuffles:\n" + p.take(3000))
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS customer_b")
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("partitioned layout prunes partitions at the scan") {
    // Partition-column predicates must become PartitionFilters (directory
    // pruning), not data filters — the difference between scanning one
    // partition and scanning 100 TB.
    import org.apache.spark.sql.functions.{col, year}
    val dir = java.nio.file.Files.createTempDirectory("graft-part")
    try {
      Tables(spark, sf, "orders")
        .withColumn("o_year", year(col("o_orderdate")))
        .write.partitionBy("o_year").mode("overwrite").parquet(s"$dir/orders_p")
      val r = spark.read.parquet(s"$dir/orders_p").filter(col("o_year") === 1995)
      val p = r.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(p.contains("PartitionFilters"), p.take(3000))
      assert(p.matches("(?s).*PartitionFilters: \\[[^\\]]*o_year[^\\]]*\\].*"),
        "o_year predicate not applied as a partition filter:\n" + p.take(3000))
      // and the partition predicate must NOT survive as a post-scan Filter
      assert(!p.matches("(?s).*Filter \\[codegen[^\\n]*o_year.*"), p.take(3000))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("q_llm_cosine_dup is a grid equality join, not a nested-loop scan") {
    // The exact near-dup pair join must distribute as block-pair tiles
    // (equality join on the grid pair id) — a BroadcastNestedLoopJoin
    // over the corpus is the plan that dies at 100 TB.
    val p = physical("q_llm_cosine_dup")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "cosine_dup still plans an NLJ:\n" + p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q_llm_decontaminate broadcasts the eval shingle side") {
    // the eval set is tiny by construction — its shingles must ship to
    // the corpus scan, never shuffle the corpus to the eval set
    val p = physical("q_llm_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    // and the per-doc top-1 must pre-rank before the shuffle
    assert(p.contains("WindowGroupLimit"), p.take(3000))
  }

  test("q_llm_pack shuffles once into the per-shard fold") {
    // groupByKey(source) + flatMapSortedGroups: exactly one Exchange
    // feeds MapGroups (plus the final presentation sort) — the packing
    // fold itself never re-shuffles
    val p = physical("q_llm_pack")
    assert(p.contains("MapGroups"), p.take(3000))
    val exchanges = "Exchange (hash|range)partitioning".r
      .findAllIn(p).size
    assert(exchanges <= 2, s"pack plans $exchanges exchanges:\n" + p.take(3000))
  }

  test("runtime bloom-filter pruning injects on a selective fact-dim join") {
    // The 100 TB shuffle-reduction lever: when one join side is small
    // after filtering, Catalyst builds a bloom filter from it at runtime
    // and pushes a might-contain probe into the big side's scan, cutting
    // the shuffled fact rows before the join. Thresholds are sized for
    // clusters; lower them to demonstrate the plan shape on test data.
    import org.apache.spark.sql.functions.col
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> conf.getOption(k))
    try {
      conf.set(keys(0), "0")
      conf.set(keys(1), "100MB")
      conf.set(keys(2), "true")
      // a broadcast join needs no bloom filter (the small side ships
      // whole); force the shuffle-join shape the filter exists for
      conf.set(keys(3), "-1")
      val orders = Tables(spark, sf, "orders")
        .filter(col("o_totalprice") > 300000) // selective creation side
      val li = Tables(spark, sf, "lineitem")
      val j = li.join(orders, col("l_orderkey") === col("o_orderkey"))
      val p = j.queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain") && p.contains("bloom_filter_agg"),
        "no runtime bloom filter injected:\n" + p.take(3000))
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("q_llm_strat_sample plans a rank-limit window (WindowGroupLimit)") {
    // exact per-stratum top-k must push the limit into the window, never
    // fully sort each stratum before filtering
    val p = physical("q_llm_strat_sample")
    assert(p.contains("WindowGroupLimit"), p.take(3000))
  }

  test("q_llm_kmeans broadcasts the centroid tables (both Lloyd rounds)") {
    // the K-row centroid relation must reach each assignment pass as a
    // broadcast nested-loop join — a shuffled or cartesian centroid
    // join would be the 100 TB scale-killer
    val p = physical("q_llm_kmeans")
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnl >= 2, s"expected 2 broadcast centroid joins, got $bnl:\n" +
      p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q_llm_cluster_sample plans a rank-limit window (WindowGroupLimit)") {
    val p = physical("q_llm_cluster_sample")
    assert(p.contains("WindowGroupLimit"), p.take(3000))
  }

  test("q_llm_cluster_terms broadcasts cluster-df and plans rank-limit") {
    val p = physical("q_llm_cluster_terms")
    assert(p.contains("WindowGroupLimit"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("q_llm_sem_decontaminate broadcasts the eval side, rank-limits hits") {
    val p = physical("q_llm_sem_decontaminate")
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(p.contains("WindowGroupLimit"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q_llm_js_drift: vocab counts and totals broadcast, no SMJ") {
    // after the (source, term) contingency agg, the corpus term counts,
    // per-source totals, and 1-row grand total must all ride broadcast
    // joins — an SMJ would shuffle the contingency relation again; the
    // absent-term mass is the ln2 closed form, never a materialized
    // (source × absent-term) relation, so no extra join appears at all
    val p = physical("q_llm_js_drift")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q_llm_vocab_coverage joins the V-row vocab as a broadcast left join") {
    // the corpus token stream must never shuffle on the term key — the
    // top-V vocabulary broadcasts; top-V itself is TakeOrdered, not a
    // global sort of the vocabulary
    val p = physical("q_llm_vocab_coverage")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("q_llm_distinct_ngrams is an in-row generate + source-keyed aggs") {
    // bigrams come from an in-row array transform (never a positions
    // self-join); the only join is the metadata-sized per-source
    // uni×bi merge at the end
    val p = physical("q_llm_distinct_ngrams")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("Generate explode"), p.take(3000))
  }

  test("q_llm_cooccur is join-free: in-row pair generation + one agg") {
    // the window-±2 pair blowup must come from an in-row array
    // transform, never a positions self-join; the only joins allowed
    // are none at all — the plan is scan → generate → hash agg → top-k
    val p = physical("q_llm_cooccur")
    assert(!p.contains("Join"), p.take(3000))
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
  }

  test("q_llm_silhouette broadcasts the centroid table, no window") {
    // per-vector (own, runner-up) distances come from an in-row sort of
    // the K-element struct array — a rank-window formulation would add
    // an N-row shuffle + sort for a K=8 argmin
    val p = physical("q_llm_silhouette")
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("WindowGroupLimit") && !p.contains("RunningWindow"),
      p.take(3000))
  }

  test("q_llm_cluster_nmi marginals ride broadcast joins") {
    // after the K×L contingency agg nothing is corpus-sized: the
    // cluster/label marginals and the 1-row total must all broadcast
    val p = physical("q_llm_cluster_nmi")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q_llm_ppl_bucket_approx buckets via broadcast thresholds, no window") {
    // the 100 TB point of the sketch variant: NO single-partition ntile
    // anywhere — the three quartile thresholds ride a 1-row broadcast
    // and bucket assignment is map-side
    val p = physical("q_llm_ppl_bucket_approx")
    assert(!p.contains("Window"), p.take(3000))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q_events_rfm_approx: broadcast thresholds, no window, no user sort") {
    // the 100 TB point of the RFM sketch twin: the exact form's three
    // ntile(4) windows each sort EVERY user in one partition — here the
    // quartile boundaries ride a 1-row broadcast and assignment is
    // map-side, so no Window appears anywhere in the plan
    val p = physical("q_events_rfm_approx")
    assert(!p.contains("Window"), p.take(3000))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q_llm_ppl_bucket scores tokens via the broadcast vocab join") {
    // the term-frequency table joins the token stream as a broadcast
    // (vocab is sublinear in the corpus) — an SMJ here would shuffle
    // every token occurrence on the term key
    val p = physical("q_llm_ppl_bucket")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("q_llm_rrf_fusion cuts both pools with TakeOrdered, no global sort") {
    // each leg's top-100 pool and the fused top-20 must be
    // TakeOrderedAndProject (per-partition top-k then merge), never a
    // full Sort+Limit of the corpus-sized ranking
    val p = physical("q_llm_rrf_fusion")
    val tops = "TakeOrderedAndProject".r.findAllIn(p).size
    assert(tops >= 3, s"expected 3 TakeOrdered cuts, got $tops:\n" +
      p.take(3000))
  }

  test("q_events_anomaly joins the per-user stats by broadcast") {
    val p = physical("q_events_anomaly")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("q_llm_lang_confusion: argmax at the scan, totals broadcast") {
    // the predicted-language CASE chain must evaluate map-side (no
    // per-doc shuffle before the 5x5 cell agg), and the per-lang totals
    // join back as a broadcast
    val p = physical("q_llm_lang_confusion")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("q_llm_compress_ratio: map-only and the kernel stays in codegen") {
    // the deflate pass must be an embarrassingly-parallel scan (no
    // exchange) and the DeflateLen expression must not break
    // whole-stage codegen (it generates a static kernel call)
    val p = finalPhysical("q_llm_compress_ratio")
    assert(!p.contains("hashpartitioning"), p.take(3000))
    // the projection computing deflate_len must carry the whole-stage
    // codegen marker (AQE's final plan renders codegen stages as "*(n)")
    assert("""\*\(\d+\) Project .*deflate_len""".r
      .findFirstIn(p).isDefined, p.take(3000))
  }

  test("q_llm_readability is map-only: no hash exchange anywhere") {
    // all three counts are in-row array/regex math — the only exchange
    // allowed is the determinism sort's range partitioning
    val p = physical("q_llm_readability")
    assert(!p.contains("hashpartitioning"), p.take(3000))
  }

  test("q_agg_spearman ranks the DISTINCT value relation, never per-row") {
    // the tie-averaged rank window must run over groupBy(flag, value)
    // output — a per-row rank window would sort the full fact table
    // inside a single partition per flag; the distinct relation is
    // bounded by the value domain instead
    val p = physical("q_agg_spearman")
    assert(p.contains("Window"), p.take(3000))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    // both rank windows sit above an aggregate, not above the raw scan:
    // every Window operator's child chain must contain a HashAggregate
    // before reaching a FileScan
    val segs = p.split("Window").drop(1)
    assert(segs.forall(s => {
      val scan = s.indexOf("Scan parquet")
      val agg = s.indexOf("HashAggregate")
      agg >= 0 && (scan < 0 || agg < scan)
    }), p.take(3000))
  }

  test("q_agg_spearman_approx: midrank windows over bucket marginals only, no corpus-sized sort") {
    // the sketch twin's whole point: every Window runs over the
    // ≤ B-row-per-flag bucket-marginal aggregate, never the fact table —
    // a HashAggregate must sit between each Window and any FileScan
    val p = physical("q_agg_spearman_approx")
    assert(p.contains("Window"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    val segs = p.split("Window").drop(1)
    assert(segs.forall(s => {
      val scan = s.indexOf("Scan parquet")
      val agg = s.indexOf("HashAggregate")
      agg >= 0 && (scan < 0 || agg < scan)
    }), p.take(3000))
    // the cutoff and midrank maps ride broadcasts
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("q_llm_len_pctile_approx: broadcast cutoffs, no window at all") {
    // the exact twin's per-language percent_rank sort is exactly what
    // this plan must NOT contain — tail membership is decided map-side
    // against one broadcast cutoff row per language
    val p = physical("q_llm_len_pctile_approx")
    assert(!p.contains("Window"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("q_llm_pii_mask is map-only: no hash exchange anywhere") {
    // redaction is a pure scan projection — the only exchange allowed is
    // the determinism sort's range partitioning
    val p = physical("q_llm_pii_mask")
    assert(!p.contains("hashpartitioning"), p.take(3000))
  }

  test("q_llm_line_dedup shuffles the chunk rows exactly twice") {
    // one hash exchange for the per-line count window, one for the
    // per-doc reassembly agg — the groupBy+self-join twin would add a
    // third over the same chunk rows
    val p = physical("q_llm_line_dedup")
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n == 2, s"expected 2 hash exchanges, found $n:\n" + p.take(3000))
  }

  test("q_llm_rp_reduce is map-only: no hash exchange anywhere") {
    // random projection is a pure per-row fold over the embedding array
    // with a literal sign matrix — the only exchange allowed is the
    // determinism sort's range partitioning
    val p = physical("q_llm_rp_reduce")
    assert(!p.contains("hashpartitioning"), p.take(3000))
  }

  test("q_llm_chunk is map-only: no hash exchange anywhere") {
    // windowed segmentation is generate+project at the scan — the only
    // exchange allowed is the determinism sort's range partitioning
    val p = physical("q_llm_chunk")
    assert(!p.contains("hashpartitioning"), p.take(3000))
  }

  test("q_llm_bm25 joins df and corpus stats by broadcast") {
    // the per-term df relation (<= |query terms| rows) and the 1-row
    // corpus stats must never shuffle the token side
    val p = physical("q_llm_bm25")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("q_graph_triangles shuffle-joins the adjacency (no broadcast build)") {
    // at 100 TB the near-dup graph's adjacency is corpus-sized: a
    // broadcast build of it OOMs driver and executors, so both probe
    // joins must be shuffled equality joins on the node key — the
    // r13-verdict scale-killer this plan shape retires
    val p = finalPhysical("q_graph_triangles")
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"),
      p.take(3000))
    assert(!p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q_llm_edit_pairs plans the banded DP behind an equi-join") {
    // the source block key must reach the join as its equality key — the
    // threshold levenshtein only runs inside matched blocks
    val p = physical("q_llm_edit_pairs")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q_llm_span_mask is map-only: no hash exchange anywhere") {
    // deterministic span corruption is pure per-row array math — only
    // the determinism sort's range partitioning may exchange
    val p = physical("q_llm_span_mask")
    assert(!p.contains("hashpartitioning"), p.take(3000))
  }

  test("q_llm_pmi_bigrams broadcasts per-term counts and plans top-k") {
    val p = physical("q_llm_pmi_bigrams")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
  }

  test("q_events_attribution runs exactly one window exchange") {
    // last-touch credit = one user_id window over raw events, then a
    // tiny channel agg — a history self-join would add more
    val p = physical("q_events_attribution")
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n <= 2, s"expected <=2 hash exchanges (window + agg), found $n:\n" +
      p.take(3000))
    assert(p.contains("RunningWindowFunction") || p.contains("Window"),
      p.take(3000))
  }

  test("q_agg_corr computes all ten moments in a single scan pass") {
    // the whole correlation matrix must ride ONE aggregate over lineitem
    // (sibling moment sums) — a per-pair formulation would re-scan 100 TB
    // three times; no join anywhere
    val p = physical("q_agg_corr")
    assert(!p.contains("Join"), p.take(3000))
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans == 1, s"expected 1 scan, found $scans:\n" + p.take(3000))
  }

  test("q_llm_keyword_topk plans a rank-limit window (WindowGroupLimit)") {
    // the per-doc top-3 must push the limit into the window operator so
    // no partition ever buffers a doc's full vocabulary
    val p = physical("q_llm_keyword_topk")
    assert(p.contains("WindowGroupLimit"), p.take(3000))
  }

  test("q_llm_simhash_dup joins band buckets by equality, never all-pairs") {
    // pigeonhole banding only helps if the (band, value) key reaches the
    // join as its equality key — a BNLJ/cartesian would be the quadratic
    // plan the banding exists to avoid
    val p = physical("q_llm_simhash_dup")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q_llm_dedup_funnel reads the corpus exactly once") {
    // all four cardinalities are sibling distinct-aggs over ONE scan
    // (Spark expands multi-distinct in a single pass) — four separate
    // count-distinct scans would read 100 TB four times
    val p = physical("q_llm_dedup_funnel")
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans == 1, s"expected 1 scan, found $scans:\n" + p.take(3000))
    assert(p.contains("Expand"), p.take(3000))
  }

  test("q_llm_prefix_dedup is one map-side-combined shuffle") {
    // groupBy on the md5 prefix key: partial agg before the exchange,
    // exactly one hash exchange (plus the determinism sort's range)
    val p = physical("q_llm_prefix_dedup")
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n == 1, s"expected 1 hash exchange, found $n:\n" + p.take(3000))
  }

  test("no declared query plans a CartesianProduct (global audit)") {
    // crossJoin shapes must come out as BroadcastNestedLoopJoin (bounded
    // broadcast side), never a shuffled CartesianProduct — the plan that
    // does not survive a 100 TB fact table.
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val p = q(name).queryExecution.executedPlan.toString
      if (p.contains("CartesianProduct")) Some(name) else None
    }
    assert(offenders.isEmpty, s"CartesianProduct in: ${offenders.mkString(", ")}")
  }

  private def scans(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, WholeStageCodegenExec}
    val p = df.queryExecution.executedPlan
    (p.collect { case s: FileSourceScanExec => s }.size,
      p.collect { case w: WholeStageCodegenExec => w }.size)
  }

  private def compiles(f: => Unit): Long = {
    import org.apache.spark.metrics.source.CodegenMetrics
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    f
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  private def tmpSink(tag: String) = new graft.streaming.ExactlyOnceSink(
    java.nio.file.Files.createTempDirectory(tag).toString)

  test("a sink read is one scan whose generated code does not change per commit") {
    // a per-commit scan union adds a codegen stage per commit and shifts
    // the stage ids after it, so every micro-batch recompiled identical
    // code; one scan with a map-literal `batch` keeps the plan fixed
    import spark.implicits._
    val sink = tmpSink("graft-plan-read")
    def commit(b: Int): Unit = sink.process(
      (0 until 5).map(i => (s"h$b-$i", b * 5 + i)).toDF("h", "n"), b)
    def shape(): (Int, Int) = scans(sink.read(spark))
    (0 until 3).foreach(commit)
    val (scans3, stages3) = shape()
    (3 until 8).foreach(commit)
    val (scans8, stages8) = shape()
    assert(scans3 == 1 && scans8 == 1, s"scans after 3/8 commits: $scans3/$scans8")
    assert(stages3 == stages8, s"codegen stages after 3/8 commits: $stages3/$stages8")
    // `h` and `batch` stay in the scan (a bare count() prunes every
    // column, and with them the per-commit stages)
    def run(): Long = sink.read(spark).select("h", "batch").distinct().count()
    compiles(run())
    commit(8)
    val again = compiles(assert(run() == 45))
    assert(again == 0, s"$again classes compiled for a read one commit later")
  }

  test("a hive-partitioned or restored sink read is one scan whose generated code does not change per commit") {
    import spark.implicits._
    def frame(b: Int) = (0 until 6).map(i => (s"h$b-$i", b * 6 + i, s"p${i % 3}"))
      .toDF("h", "n", "p")
    val hive = tmpSink("graft-plan-hive")
    val restored = tmpSink("graft-plan-restore")
    (0 until 3).foreach(b => hive.process(frame(b), b, partitionBy = Seq("p")))
    (0 until 3).foreach(b => restored.process(frame(b), b))
    restored.restore(spark, 1)
    var next = 3
    def commitBoth(): Unit = {
      hive.process(frame(next), next, partitionBy = Seq("p"))
      restored.commitAppend(frame(next))
      next += 1
    }
    for ((name, sink) <- Seq("hive" -> hive, "restored" -> restored)) {
      val (scansA, stagesA) = scans(sink.read(spark))
      commitBoth(); commitBoth()
      val (scansB, stagesB) = scans(sink.read(spark))
      assert(scansA == 1 && scansB == 1, s"$name scans two commits apart: $scansA/$scansB")
      assert(stagesA == stagesB, s"$name codegen stages two commits apart: $stagesA/$stagesB")
      def run(): Long = sink.read(spark).select("h", "p", "batch").distinct().count()
      compiles(run())
      commitBoth()
      val n = run()
      commitBoth()
      val again = compiles(assert(run() == n + 6))
      assert(again == 0, s"$again classes compiled for a $name read one commit later")
    }
  }

  test("a partition predicate on a hive-partitioned sink read is a partition filter") {
    // q_sink_gen_read's bucket pruning: the predicate must reach the
    // log-backed index as a PartitionFilters entry, not a data filter
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val sink = tmpSink("graft-plan-hive-filter")
    sink.commitAppend((0 until 12).map(i => (i.toLong, i % 3)).toDF("id", "p"),
      partitionBy = Seq("p"))
    val r = sink.read(spark).filter(col("p") === 1)
    val p = r.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.matches("(?s).*PartitionFilters: \\[[^\\]]*\\bp#[^\\]]*\\].*"),
      "p predicate not applied as a partition filter:\n" + p.take(3000))
    assert(r.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 4L, 7L, 10L))
  }

  test("a sink read past 32 files runs no Spark job before its action") {
    // Spark lists an explicit path list of more than 32 files
    // (parallelPartitionDiscovery.threshold) with one task per file; the
    // log already lists them, so planning a read must start no job
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import spark.implicits._
    val sink = tmpSink("graft-plan-nolist")
    (0 until 40).foreach(b => sink.commitAppend(Seq((b.toLong, s"v$b")).toDF("id", "v")
      .coalesce(1)))
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(Option(e.properties)
          .map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("sink-read", "read planning")
      val df = sink.read(spark)
      // the listener bus delivers in order: once the marker job is seen,
      // every job the read started has been seen too
      sc.setJobGroup("sink-read-marker", "marker")
      spark.range(1).count()
      sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains("sink-read-marker") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(groups.contains("sink-read-marker"), "marker job never observed")
      assert(!groups.contains("sink-read"),
        s"read launched Spark jobs before its action: $groups")
      assert(df.inputFiles.length == 40)
      assert(df.count() == 40)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
