package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Plan-shape assertions: the properties that make these queries survive a
  * 100× scale-up are checked structurally, not just by row results —
  * pushdown reaching the scan, broadcasts where a dim is small, top-k
  * without a global sort, hash (not sort) aggregation in hot aggregates.
  */
class PlanQualitySpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = EngineSession.local("4")
  val sf = "/root/testdata/sf0.001"

  override def afterAll(): Unit = spark.stop()

  private def plan(name: String): String = {
    val df = QueryCatalog.byName(name).run(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  test("q02 filter+projection reach the parquet scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
    // projection pruning: the 11-column table reads only the needed columns
    assert(p.contains("ReadSchema"), p)
    assert(!p.contains("l_extendedprice"),
      "pruned column must not appear in the scan schema")
  }

  test("q03 broadcasts the filtered customer dimension") {
    val p = plan("q03_topk_orders")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q06 six-table join broadcasts all small dims") {
    val p = plan("q06_multijoin_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("BroadcastExchange"), p)
  }

  test("q19 top-N plans TakeOrdered, not a global sort") {
    val p = plan("q19_sort_limit")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q01 pricing summary uses hash aggregation with partial pass") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("SortAggregate"), p)
  }

  test("d03 minhash signature aggregate is a HashAggregate (long buffers)") {
    val p = plan("d03_dedup_minhash_lsh")
    assert(!p.contains("SortAggregate"),
      "string min-agg would fall back to SortAggregate; signatures must " +
        "aggregate as longs")
  }

  test("q04 semi join stays a semi join (no row multiplication)") {
    val p = plan("q04_semi_join")
    assert(p.contains("LeftSemi"), p)
  }

  test("q05 anti join stays an anti join") {
    val p = plan("q05_anti_join")
    assert(p.contains("LeftAnti"), p)
  }

  test("p01 hash sampling reads only the needed columns, no shuffle before agg") {
    val p = plan("p01_sample_hash")
    assert(p.contains("ReadSchema"), p)
    assert(!p.contains("text"), "sampling must not read the document bodies")
    // scan → filter → partial agg: exactly one exchange (for the tiny
    // per-language aggregate), nothing before it
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("s03 IVF assignment is map-only: corpus side never shuffles") {
    val p = plan("s03_ann_ivf")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("WindowGroupLimit"), p)
    // exchanges exist only on the tiny probe/window sides; the corpus
    // subtree (scan → quantize → argmax → join) must be exchange-free,
    // i.e. no Exchange may sit between the corpus parquet scan and the
    // probe join. Structural proxy: every hashpartitioning exchange in
    // the plan keys on qid (the post-join top-k), never on vec_id.
    assert(!"Exchange hashpartitioning\\(vec_id".r.unanchored.matches(p), p)
  }

  test("q38 salted join spreads the hot keys: join keys include the salt") {
    val p = plan("q38_skew_salted")
    assert(p.contains("__salt"), p)
  }

  test("salted join equals the plain join") {
    import org.apache.spark.sql.functions.col
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("k"), col("l_quantity"))
    val o = Tables.orders(spark, sf)
      .select(col("o_orderkey").as("k"), col("o_totalprice"))
    val plain = li.join(o.withColumnRenamed("k", "k2"), col("k") === col("k2"))
    val salted = operators.Skew.saltedJoin(li, o, "k", buckets = 4)
    assert(salted.count() == plain.count())
    // spot-check one key's payload multiset
    val key = 1000L
    val a = salted.filter(col("k") === key)
      .select("o_totalprice").collect().map(_.getDouble(0)).sorted.toSeq
    val b = plain.filter(col("k") === key)
      .select("o_totalprice").collect().map(_.getDouble(0)).sorted.toSeq
    assert(a == b)
  }

  test("q37 unpivot plans as Expand (zero shuffle for the melt itself)") {
    val p = plan("q37_unpivot")
    assert(p.contains("Expand"), p)
  }

  test("d05 shingle pipeline: no row-level dedup shuffle, long join keys") {
    val p = plan("d05_dedup_ngram_jaccard")
    // per-doc distinctness is array_distinct (row-local); a (doc_id, s)
    // HashAggregate-distinct before the join would betray a regression
    assert(!p.contains("SortAggregate"), p)
    assert(p.contains("xxhash64"), "shingles must travel hashed, not as strings")
  }

  test("d06 exact pair scoring is a partitioned equi-join, never a BNLJ") {
    val p = plan("d06_dedup_embedding")
    // the block-pair decomposition must plan the corpus×corpus scoring as
    // a shuffle-partitioned equi-join on the block cell — a
    // BroadcastNestedLoopJoin here would serialize the corpus through the
    // driver and cannot scale out
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("d09 64-bit simhash pairing is a bank equi-join, never a BNLJ") {
    val p = plan("d09_simhash_hamming64")
    // the pigeonhole bank join replaces d08's distinct-fingerprint BNLJ
    // (which only stays cheap at 16 bits); at 64 bits candidates must come
    // from an equi-join on (bank_idx, bank_value)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("d10 contamination probes via a broadcast of the benchmark side") {
    val p = plan("d10_contamination")
    // the benchmark shingle set is the small dimension: it must broadcast,
    // so the corpus scan streams through the probe join with no shuffle
    // before the per-doc aggregate
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("t05 corpus count is folded into the plan (broadcast scalar)") {
    val p = plan("t05_tfidf")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q24 as-of join is the single-shuffle window form, not a key join") {
    val p = plan("q24_asof_join")
    // union both sides, one window pass per key: exactly one
    // hash-partitioning exchange (on the key), no join operator at all —
    // the quadratic key-join + max_by formulation is the oracle's job
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("t07 repetition is map-only up to the deterministic sort") {
    val p = plan("t07_repetition")
    // per-row collection arithmetic: no hash-partitioning exchange at all
    // (the ORDER BY plans a range exchange, which is the output contract)
    assert(!"Exchange hashpartitioning".r.unanchored.matches(p), p)
    assert(!p.contains("SortAggregate"), p)
  }

  test("d09 fingerprint aggregate stays a HashAggregate at 64 sums wide") {
    val p = plan("d09_simhash_hamming64")
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("SortAggregate"), p)
  }

  test("p06 rebalance joins the tiny stats by broadcast, never sort-merge") {
    val p = plan("p06_lang_rebalance")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      "per-language counts and corpus totals must broadcast — a sort-merge " +
        "join here would shuffle the whole corpus: " + p)
  }

  test("d11 audit keeps hash aggregation and equi-joins (no all-pairs scan)") {
    val p = plan("d11_minhash_jaccard_est")
    assert(!p.contains("SortAggregate"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("s05 recall broadcasts the query side on both candidate generators") {
    val p = plan("s05_ann_recall")
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("SortMergeJoin"),
      "the corpus must never shuffle for a 10-row query set: " + p)
  }

  test("d05 pair generation is a df-capped equi-join: hash aggregation, no lists, no all-pairs") {
    val p = plan("d05_dedup_ngram_jaccard")
    // candidates come from a SELF-EQUI-JOIN of the df-capped posting
    // table (per-key fan-out <= dfCap², no list state anywhere —
    // ObjectHashAggregate gone with collect_list); the df filter and the
    // pair count stay plain HashAggregates on long keys, and nothing
    // degenerates to an all-pairs scan or sort-based aggregation
    assert(!p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("SortAggregate"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("p07 upsampling replicates in the scan projection, stats broadcast") {
    val p = plan("p07_repeat_upsample")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      "per-language factors must broadcast; the corpus must not shuffle: " + p)
    assert(p.contains("Generate explode"), p)
  }

  test("s06 semdedup pairs only within clusters: equi-join, no all-pairs scan") {
    val p = plan("s06_semdedup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("s11 trained semdedup keeps the same equi-join shape over trained lists") {
    val p = plan("s11_semdedup_trained")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("d12 paragraph extraction is scan-fused; counts stay hash-aggregated") {
    val p = plan("d12_paragraph_dedup")
    // paragraph windows come from a posexplode fused onto the scan
    // projection (row-local), the occurrence count is a plain count
    // aggregate on the 64-bit hash — never a list, never sort-based
    assert(p.contains("Generate posexplode"), p)
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("SortAggregate"), p)
    assert(!p.contains("collect_list"), "d12 must not carry id lists: " + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("t08 novelty keeps the d05 shape: hashed shingles, no sort agg, no lists") {
    val p = plan("t08_novelty")
    assert(p.contains("xxhash64"), "shingles must travel hashed: " + p)
    assert(!p.contains("SortAggregate"), p)
    assert(!p.contains("collect_list"), p)
  }

  test("s07 quant audit broadcasts the query side; corpus never shuffles") {
    val p = plan("s07_quant_error")
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("SortMergeJoin"),
      "the corpus must stream past a broadcast 10-vector query set: " + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("p08 shard audit is scan → assignment → one keyed exchange") {
    val p = plan("p08_shard_stats")
    // the pure column assignment must not pay shuffleShards' physical
    // repartition: exactly one hash exchange (the per-shard aggregate)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(!p.contains("SortAggregate"), p)
  }

  test("m03 frame audit: row-local generator, one keyed exchange") {
    val p = plan("m03_frame_sample")
    assert(p.contains("Generate posexplode"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1, p)
  }

  test("s08 kNN graph: block equi-join, pre-trimmed top-k, one reused scan") {
    // ReusedExchange materializes in the AQE-final plan — execute first
    val df = QueryCatalog.byName("s08_knn_graph").run(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "pairs must come from the block equi-join, never all-pairs: " + p)
    // the top-3 window must pre-trim partitions before the final sort
    assert(p.contains("WindowGroupLimit"), p)
    // block join: either the small side broadcasts (this scale) or both
    // shuffled sides reuse the one quantized subtree (parallel-guard scale)
    assert(p.contains("BroadcastHashJoin") || p.contains("ReusedExchange"), p)
    // quantization must sit BELOW the join — long_dot on the pair rows is
    // the only per-pair work; a transform() above the join would recompute
    // the 64-element quantization per candidate pair (plans print top-down,
    // so lines BEFORE the first join node are post-join operators)
    assert(!p.linesIterator.takeWhile(!_.contains("Join")).exists(_.contains("transform(embedding")),
      "quantization transform() must not run above the join: " + p)
  }

  test("t09 heavy hitters: WindowGroupLimit top-k, totals broadcast not windowed") {
    val p = plan("t09_heavy_hitters")
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("BroadcastExchange"),
      "per-language totals must broadcast back: " + p)
    assert(!p.contains("SortAggregate"), p)
    assert(!p.contains("SortMergeJoin"),
      "a sort-merge join on lang would shuffle the counts table for a " +
        "K-row total relation: " + p)
  }

  test("t10 redaction is scan-fused: regex per row, one aggregate exchange") {
    val p = plan("t10_redaction_audit")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("SortAggregate"), p)
  }

  test("p09 curriculum never sorts the corpus; boundaries broadcast") {
    val p = plan("p09_curriculum")
    // the single-partition exchange is the HISTOGRAM's cumulative window —
    // the corpus-side assignment must be a broadcast cross of 1-row stats
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // no global range sort of the corpus: rangepartitioning only for the
    // 4-row output ORDER BY (on stage), never on score
    assert(!"rangepartitioning\\(score".r.unanchored.matches(p),
      "corpus must not range-sort on score: " + p)
  }

  test("q42 transitions: lag window then partial-aggregated counts") {
    val p = plan("q42_event_transitions")
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("SortAggregate"), p)
    // one corpus shuffle for the window key + the two aggregate exchanges
    assert(!p.contains("Join"), p)
  }

  test("p10 source cap pre-trims with WindowGroupLimit; aggregates broadcast-join") {
    val p = plan("p10_source_cap")
    assert(p.contains("WindowGroupLimit"),
      "the cap filter must pre-trim each task's per-group rows: " + p)
    assert(!p.contains("SortMergeJoin"),
      "two K-row aggregates must broadcast-join: " + p)
  }

  test("t11 blocklist audit is scan-fused: no join, one aggregate exchange") {
    val p = plan("t11_blocklist_audit")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("SortAggregate"), p)
  }

  test("s09 diversity rebalance: map-only assignment, stats broadcast") {
    val p = plan("s09_diversity_rebalance")
    assert(!p.contains("SortMergeJoin"),
      "per-cluster counts and totals must broadcast; the corpus must not " +
        "shuffle for the membership predicate: " + p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("d13 winnowed spans: selection is scan-fused, counts stay hash-aggregated") {
    val p = plan("d13_span_dedup")
    // windows, hashes, and the argmin selection are all row-local array
    // lambdas inside one projection; the corpus-wide count is a plain
    // aggregate on the fingerprint — never a list, never sort-based
    assert(p.contains("Generate explode"), p)
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("SortAggregate"), p)
    assert(!p.contains("collect_list"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("p11 importance: target profile broadcasts, counts stay hash-aggregated") {
    val p = plan("p11_importance_weights")
    assert(p.contains("BroadcastHashJoin"),
      "the target-domain profile must broadcast: " + p)
    assert(!p.contains("SortAggregate"), p)
    assert(!p.contains("collect_list"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q43 recursive spine scans the events table exactly once") {
    // The recursion anchor is a pair of inlined literals (bounds collected
    // once on the driver) — the recursive step must be pure spine
    // arithmetic, never a re-scan of the events relation. Before the fix,
    // the bounds aggregate sat INSIDE the recursion and Spark re-evaluated
    // the full-table scan on every iteration (depth = days spanned).
    val p = plan("q43_activity_spine")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 1,
      s"expected exactly one events scan (the per-day counts), got $scans: " + p)
  }

  test("t12 classifier is scan-fused: no join, no mid-plan exchange") {
    val p = plan("t12_classifier_score")
    // feature hashing + the literal weight lookup are one row-local
    // array-aggregate in the scan projection: the weight table must NOT
    // appear as a join (the oracle's formulation), and the only exchange
    // is the ORDER BY's range partitioning — at 100 TB this gate streams
    // at read rate
    assert(!p.contains("Join"), p)
    assert(!"Exchange hashpartitioning".r.unanchored.matches(p), p)
    assert("Scan parquet".r.findAllIn(p).size == 1, p)
  }

  test("t13 LM fluency: O(1)-state counts, c1 from the c2 table, no lists") {
    val p = plan("t13_lm_fluency")
    // both LM count tables are hash aggregates (bounded state per key,
    // hub bigrams included) and nothing accumulates per-key lists
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("SortAggregate"), p)
    assert(!p.contains("collect_list"), p)
    // the c2 LM table is materialized (localCheckpoint → it enters the
    // plan as a scan, not a re-expanded corpus subtree), so the corpus
    // explodes at most twice: the count pass ran at definition time and
    // only the probe pass remains in THIS plan
    assert("Generate explode".r.findAllIn(p).size <= 2, p)
    assert(p.contains("Scan ExistingRDD") || p.contains("LocalTableScan"), p)
  }

  test("q44 LATERAL top-N decorrelates to WindowGroupLimit, no per-row subquery") {
    val p = plan("q44_lateral_topn")
    // the limited lateral must become a ranked window over ONE orders
    // pass (WindowGroupLimit pre-trims before the rank filter), never a
    // nested-loop re-execution per customer row
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
  }

  test("p12 temperature mix broadcasts the stat relations, corpus never pre-shuffles") {
    val p = plan("p12_temperature_mix")
    // the per-lang weight/threshold table and the totals are tiny
    // broadcast relations; the corpus's only exchanges are its own
    // count aggregate and the final per-lang aggregate
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q45 upsert merges with one key shuffle and a group-limit pre-trim") {
    val p = plan("q45_upsert_latest")
    // rank-1 latest-per-key must ride WindowGroupLimit (per-partition
    // top-1 before the exchange — the hot-key damper), and the merge key
    // must be the only row-level hash exchange besides the final tiny
    // status aggregate; no join operator belongs in a keep-latest merge
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("Join"), p)
    assert("Exchange hashpartitioning\\(k".r.unanchored.findAllIn(p).nonEmpty, p)
  }

  test("t15 char diversity is a scan-fused map: no hash exchange, no explode") {
    val p = plan("t15_char_diversity")
    // the whole histogram runs in row-local array lambdas — an
    // explode+groupBy formulation would show Generate + hashpartitioning
    // (one shuffled row PER CHARACTER); the only exchange allowed is the
    // final deterministic sort's range partitioning
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("Generate"), p)
  }

  test("d15 sorted-neighborhood never builds a cross product") {
    val p = plan("d15_editdist_snm")
    // SNM's whole point: candidate pairs come from a per-block window
    // (one hash exchange on the block key), never an all-pairs join
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Window"), p)
    assert("Exchange hashpartitioning\\(blk".r.unanchored.findAllIn(p).nonEmpty, p)
  }

  test("q46 scd2 history builds off one key shuffle, no join") {
    val p = plan("q46_scd2_history")
    assert(!p.contains("Join"), p)
    assert("Exchange hashpartitioning\\(k".r.unanchored.findAllIn(p).nonEmpty, p)
  }

  test("p13 weighted systematic: bin offsets broadcast back, no corpus-order window") {
    val p = plan("p13_weighted_systematic")
    assert(p.contains("BroadcastHashJoin"), p)
    // the only single-partition exchange feeds the BIN-histogram window,
    // which sits above a hash aggregate of the corpus — the corpus rows
    // themselves are windowed partitioned by bin
    assert(p.contains("Window [") || p.contains("RunningWindowFunction"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q47 skyline: suffix-maxima broadcast, no O(n^2) self-join") {
    val p = plan("q47_skyline")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      "the histogram join must broadcast, not shuffle the corpus: " + p)
  }

  test("s14 triangles: wedge and closure joins are equi-joins, never nested-loop") {
    val p = plan("s14_knn_triangles")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("d17 span scrub: no corpus self-join; excision is a projection") {
    val p = plan("d17_span_scrub")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("q48 forward as-of plans as one key window, zero joins") {
    val p = plan("q48_forward_asof")
    assert(!p.contains("Join"),
      "forward as-of must ride the union-window plan, not a key self-join: " + p)
    assert("Exchange hashpartitioning\\(__k".r.unanchored.findAllIn(p).nonEmpty, p)
  }

  test("p14 grouped split is scan-fused; placement audit joins broadcast") {
    val p = plan("p14_group_split")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("runtime bloom filter injects a creation-side semi-filter at scale thresholds") {
    // At 100 TB the single biggest join saving is filtering the fact-scan
    // by a bloom of the (already-filtered) dimension keys BEFORE the
    // shuffle. Spark's InjectRuntimeFilter does exactly this once the
    // application side crosses its scan-size threshold — defaults keep it
    // off at test scale, so drop the threshold to prove the engine's
    // plans are eligible (equi-join + selective creation-side filter).
    // The injection preconditions are themselves scale-gated: the join
    // must be probably-shuffle (at test scale everything broadcasts, so
    // disable auto-broadcast to simulate fact×fact size) and the fact
    // scan must cross applicationSideScanSizeThreshold (default 10 GB —
    // dropped to 0 here). What the test then proves is that a plain
    // unhinted equi-join over a selectively-filtered build side — the
    // engine's standard fact-join shape — is ELIGIBLE: Spark plants the
    // bloom on the fact side before its shuffle.
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val before = keys.map { case (k, _) => k -> conf.get(k) }
    try {
      keys.foreach { case (k, v) => conf.set(k, v) }
      val li = Tables.lineitem(spark, sf)
      val ord = Tables.orders(spark, sf)
        .filter(org.apache.spark.sql.functions.col("o_orderpriority") === "1-URGENT")
      val df = li.join(ord,
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(org.apache.spark.sql.functions.sum("l_quantity"))
      val p = df.queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain") || p.contains("bloom_filter"),
        "expected an injected runtime bloom filter on the probe side: " + p)
    } finally {
      before.foreach { case (k, v) => conf.set(k, v) }
    }
  }

  test("q51 gap-fill: distributed spine explode, user-partitioned windows") {
    val p = plan("q51_gap_fill")
    // the per-user spine is generated by explode on executors, not a
    // driver loop or a corpus-global recursion
    assert(p.contains("Generate explode"), p)
    // interpolation windows partition by user_id — a global (empty)
    // window spec would serialize the whole frame through one task
    assert(p.contains("windowspecdefinition(user_id"), p)
    assert(!p.contains("windowspecdefinition(specifiedwindowframe"),
      "window spec must carry a partition key: " + p)
    // all four frame functions fuse into ONE Window operator (one sort)
    assert("\\+- Window ".r.findAllIn(p).size == 1, p)
  }

  test("q52/q53 moment aggregates stay hash, single scan for the matrix") {
    val p52 = plan("q52_mode_agg")
    assert(p52.contains("HashAggregate") && !p52.contains("SortAggregate"), p52)
    val p53 = plan("q53_corr_matrix")
    // 15 moments in ONE pass: exactly one parquet scan feeds the matrix
    assert("FileScan parquet".r.findAllIn(p53).size == 1, p53)
    assert(!p53.contains("SortAggregate"), p53)
  }

  test("q54 ntile window partitions by priority (no single-partition sort)") {
    val p = plan("q54_ntile_quartiles")
    assert(p.contains("windowspecdefinition(pri"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("q55 z-score joins stats back without re-scanning per user") {
    val p = plan("q55_anomaly_zscore")
    // the stats side is an aggregate of the same scan; both sides key on
    // user_id and the anomaly filter rides the join output — no
    // correlated re-scan, no cartesian
    assert(!p.contains("CartesianProduct"), p)
    assert("FileScan parquet".r.findAllIn(p).size <= 2, p)
  }

  test("d18 overlap scaffold keeps hash aggregation on long keys") {
    val p = plan("d18_overlap_containment")
    assert(p.contains("xxhash64"), "shingles must travel as 64-bit hashes: " + p)
    assert(!p.contains("SortAggregate"), p)
  }

  test("t17 readability is scan-fused: no shuffle before the final sort") {
    val p = plan("t17_readability")
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty, p)
    assert(!p.contains("lang"), "readability must not read unused columns")
  }

  test("p15 bootstrap broadcasts the 1-row count, hash-aggregates draws") {
    val p = plan("p15_bootstrap")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("SortAggregate"), p)
  }

  test("q56 column profile: per-column single-distinct aggs, NO Expand") {
    val p = plan("q56_column_profile")
    // each exact distinct is its own single-distinct aggregate: eight
    // narrow single-column scans (plain + string side-pass + 6 distincts)
    // beat ONE multi-distinct pass, whose rewrite Expands the scan 7x
    // into a dedup aggregate keyed on (gid + every profiled column) —
    // measured 4.8 s (Expand) vs 0.93 s (this shape) at sf0.1. On a
    // columnar store the extra scans read one column each, so total
    // bytes match the single wide scan.
    assert(!p.contains("Expand"),
      "multi-distinct Expand resurfaced in the profile plan: " + p)
    assert("FileScan parquet".r.findAllIn(p).size == 8, p)
    // every dedup aggregate stays HASH-based; the keyless string
    // side-pass sort-aggs without sorting (empty grouping key), fine
    assert(!"SortAggregate\\(key=\\[[^\\]]".r.findAllIn(p).exists(_ => true),
      "keyed SortAggregate in the profile dedup: " + p)
  }

  test("q57 attribution joins on user_id (equi), never nested-loop") {
    val p = plan("q57_attribution")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("user_id"), p)
  }

  test("d20 char-ngram LSH: band join is equi, sig pipeline computed once " +
      "(reused exchange), min-agg stays hash") {
    val df = QueryCatalog.byName("d20_dedup_charngram").run(spark, sf)
    df.collect() // AQE-final plan: ReusedExchange appears after execution
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(!p.contains("SortAggregate"),
      "signature min-agg must be a HashAggregate (long buffers): " + p)
  }

  test("p17 epoch order: every window is partitioned (two-level rank, " +
      "no corpus-wide single-partition sort)") {
    val p = plan("p17_epoch_order")
    // the bulk rank runs per (epoch, bucket); the spine offset runs per
    // epoch over 256 bucket rows — no unpartitioned window anywhere
    assert(p.contains("windowspecdefinition(epoch"), p)
    val unpartitioned = "windowspecdefinition\\((?!epoch)".r.findAllIn(p).toSeq
    assert(unpartitioned.isEmpty, s"unpartitioned window present: $p")
  }

  test("s19 filtered ANN: the metadata predicate reaches the parquet scan " +
      "(pre-filter, not post-filter)") {
    val p = plan("s19_ann_filtered")
    // the label predicate must be PUSHED — only qualifying rows pay
    // quantization, the centroid argmax, and the probe join
    assert(p.contains("LessThan(label,2)"), p)
    assert(p.contains("BroadcastExchange"), p)
    // the only nested-loop is the intentional 8-row centroid crossJoin
    // (probe selection, same as s03); the corpus-side candidate join must
    // stay an equi-join
    assert(!p.contains("CartesianProduct"), p)
  }

  test("s16 MIPS: corpus never shuffles; max-norm and queries broadcast") {
    val p = plan("s16_mips_topk")
    assert(p.contains("BroadcastExchange"), p)
    // the corpus side must reach the join without a hash exchange — only
    // the per-query top-k window may shuffle scored pairs
    assert(!"Exchange hashpartitioning\\([^)\\n]*cid".r.findAllIn(p).nonEmpty, p)
  }

  test("s17 metrics: exact/approx rankings and metric join stay broadcast-shaped") {
    val p = plan("s17_retrieval_metrics")
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("t18 collocations: top-20 is TakeOrdered, counts stay hash") {
    val p = plan("t18_collocations")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("SortAggregate"), p)
  }

  test("q59 islands: one user-partitioned window, hash run-aggregate") {
    val p = plan("q59_islands")
    assert(p.contains("windowspecdefinition(user_id"), p)
    assert(!p.contains("SortAggregate"), p)
  }

  test("p16 interleave: epoch prefix rides TakeOrdered, not a global sort") {
    val p = plan("p16_interleave")
    // the corpus-wide merge order must NOT be a full sort: only the
    // bounded 200-row prefix is ordered (TakeOrdered), and only that
    // prefix sees the single-partition position window
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("windowspecdefinition(source"), p)
  }

  test("s18 cluster SSE: row-local zip_with, one small aggregate, no join on corpus") {
    val p = plan("s18_cluster_sse")
    assert(p.contains("zip_with"), p)
    assert(!p.contains("SortMergeJoin"), "corpus must not key-shuffle: " + p)
    assert(!p.contains("SortAggregate"), p)
  }

  test("q61 concurrency: the only global-order window is the bucket spine") {
    val p = plan("q61_concurrency")
    // within-bucket running sums partition by bucket; user sessions
    // partition by user — exactly ONE unpartitioned window spec may
    // exist (the per-hour offset spine, bounded by history length)
    val unpartitioned = "windowspecdefinition\\(bucket#\\d+L ASC"
      .r.findAllIn(p).size
    assert(p.contains("windowspecdefinition(user_id"), p)
    assert(p.contains("windowspecdefinition(bucket"), p)
    assert(unpartitioned == 1,
      s"expected exactly one spine window, found $unpartitioned: " + p)
  }

  test("whole-stage codegen covers the q01 aggregate") {
    // AQE prints codegen stage markers (*(n)) only in the final plan —
    // execute first, then inspect.
    val df = QueryCatalog.byName("q01_pricing_summary").run(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), p)
  }
}
