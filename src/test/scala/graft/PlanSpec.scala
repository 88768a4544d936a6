package graft

/** Physical-plan regression guards: the scale properties the engine was
  * tuned for (pushdown, broadcast, shuffle-free projections, TakeOrdered
  * top-k) must survive refactors — a correct-but-full-scan plan is a bug
  * at 100 TB even when the rows match.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("tx_enrich: watermark reaches the parquet scan and the price dim broadcasts") {
    val p = plan("tx_enrich")
    assert(p.contains("GreaterThan(ts,"), "watermark filter must be pushed to the scan")
    assert(p.contains("BroadcastHashJoin"), "price dim join must broadcast")
  }

  test("watermark cut: txSince and eventsUntil push the ts bound into the parquet scan") {
    import graft.pipeline.Tables
    val sf = "/root/testdata/sf0.001"
    def pushed(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        .linesIterator.filter(_.startsWith("PushedFilters:")).mkString("\n")
    assert(pushed(Tables.txSince(spark, sf, Tables.WM)).contains("GreaterThan(ts,"),
      "the incremental cron reads only the events after its watermark")
    assert(pushed(Tables.eventsUntil(spark, sf, Tables.WM)).contains("LessThanOrEqual(ts,"),
      "the history slice reads only the events up to the watermark")
  }

  test("route_aum: pushed filters include the successful predicate") {
    val p = plan("route_aum")
    assert(p.contains("GreaterThan(ts,"))
    assert(p.contains("Not(EqualTo(event_type,error))"),
      "successful-only filter must be pushed to the scan")
  }

  test("text_quality: single narrow projection, no shuffle") {
    assert(!plan("text_quality").contains("Exchange"),
      "array-side stats must not shuffle")
  }

  test("text_chunks: per-doc chunking is one zero-shuffle projection") {
    assert(!plan("text_chunks").contains("Exchange"),
      "chunking is per-document — nothing may cross the cluster")
  }

  test("dedup_clusters_incremental: probe-bounded maintenance — no cartesian; joiner counts broadcast back") {
    val p = plan("dedup_clusters_incremental")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "every pair space must stay band-bucket-bounded")
    assert(p.contains("BroadcastHashJoin"),
      "the batch-bounded join counts must broadcast back onto standing rows — " +
        "the standing assignment is never shuffled")
  }

  test("top_customers: top-k via TakeOrdered, not a global sort") {
    assert(plan("top_customers").contains("TakeOrderedAndProject"))
  }

  test("graph_link_predict: wedge equi-joins + TakeOrdered — no cartesian, no global sort") {
    Seq("graph_link_predict", "graph_link_predict_incremental").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q plan must stay equi-join-bounded")
      assert(p.contains("TakeOrderedAndProject"),
        s"$q top-k must be TakeOrdered, not a global sort")
    }
  }

  test("q1_agg: partial (map-side) aggregation present") {
    assert(plan("q1_agg").contains("partial_"))
  }

  test("simsearch_topk: queries broadcast; fused vec_dot in plan") {
    val p = plan("simsearch_topk")
    assert(p.contains("Broadcast"))
    assert(p.contains("vec_dot"))
  }

  test("simsearch_index_drift: model-broadcast assignment — no corpus self-join") {
    val p = plan("simsearch_index_drift")
    assert(p.contains("vec_dot"), "assignment scores against centroid literals")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      "both slices assign against the K-constant model, never against each other; " +
        "the K-row report joins stay broadcast")
    assert(p.contains("BroadcastHashJoin"),
      "centroid frame and per-cell stats stay broadcast")
  }

  test("corpus_rejections: verdict is broadcast-joined flags, no all-pairs join") {
    val p = plan("corpus_rejections")
    assert(!p.contains("CartesianProduct"),
      "stage flags and rate tables must never cross-join the corpus")
    assert(p.contains("BroadcastHashJoin"),
      "domain/rate tables stay broadcast onto the per-doc frame")
  }

  test("dedup_simhash_pairs: banded LSH plan, no cross/nested-loop join") {
    val p = plan("dedup_simhash_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "banding must bound the pair space — an all-pairs join is a 100 TB bug")
  }

  test("dedup_embedding: hyperplane-LSH plan, no cross/nested-loop join") {
    val p = plan("dedup_embedding")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("text_pii_scrub and text_langid: pure projections, no shuffle") {
    assert(!plan("text_pii_scrub").contains("Exchange"))
    assert(!plan("text_langid").contains("Exchange"))
  }

  test("dedup_simhash: array-side kernel — single projection, zero shuffle") {
    val p = plan("dedup_simhash")
    assert(!p.contains("Exchange"),
      "simhash56 kernel must not explode/shuffle the shingle stream")
    assert(p.contains("simhash56"))
  }

  test("text_repetition: array-side kernel — single projection, zero shuffle") {
    val p = plan("text_repetition")
    assert(!p.contains("Exchange"),
      "ngram_stats kernel must not explode/shuffle the shingle stream")
    assert(p.contains("ngram_stats"))
  }

  test("dedup_substring and maximal variant: bucket-bounded, no cross/nested-loop join") {
    Seq("dedup_substring", "dedup_substring_maximal").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q must stay an equi-join on the capped span index")
    }
  }

  test("dedup_winnow: kernel-built fingerprints, no cross/nested-loop join") {
    // the pair query checkpoints the fingerprint frame (fans into the DF
    // count and both self-join sides), which hides the kernel behind an
    // ExistingRDD scan — assert the kernel on the generator's own plan
    val fps = ops.Dedup.winnowFingerprints(
        pipeline.Tables.documents(spark, "/root/testdata/sf0.001"))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(fps.contains("winnow_fps"), "fingerprints must come from the single-pass kernel")
    val p = plan("dedup_winnow")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("dedup_semantic: within-cell pairs via equi-join, no cross/nested-loop join") {
    val p = plan("dedup_semantic")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the cell id must bound the pair space — SemDeDup's whole point")
  }

  test("text_decontam: benchmark set broadcasts; no corpus self-join") {
    val p = plan("text_decontam")
    assert(p.contains("BroadcastHashJoin"), "the benchmark hash set must broadcast")
    assert(!p.contains("SortMergeJoin"),
      "no corpus-sized join side should appear in the decontam plan")
  }

  test("text_pack: all prefix windows are bounded, none over a corpus-scaled frame") {
    val p = plan("text_pack")
    // the row-level window must partition by shard (ordering by doc_id
    // inside it); a regression to one global doc-ordered window would
    // show a windowspecdefinition starting at doc_id instead
    assert("windowspecdefinition\\(shard#\\d+L, doc_id".r.findFirstIn(p).isDefined,
      "the row-level cumulative sum must run inside (shard) partitions")
    assert("windowspecdefinition\\(doc_id".r.findFirstIn(p).isEmpty,
      "no window may scan the corpus in global doc_id order")
    // the shard-summary prefix must recurse: shard order runs inside
    // (super) partitions, and the ONLY unpartitioned window orders the
    // per-super totals (corpus/262144 rows) — an unpartitioned window
    // whose spec STARTS at shard would put corpus/64 rows in one task
    assert("windowspecdefinition\\(super#\\d+L, shard".r.findFirstIn(p).isDefined,
      "the shard-level prefix must run inside (super) partitions")
    assert("windowspecdefinition\\(shard#\\d+L ASC".r.findFirstIn(p).isEmpty,
      "no unpartitioned window may read the corpus/64 shard summaries")
    assert("windowspecdefinition\\(super#\\d+L ASC".r.findFirstIn(p).isDefined,
      "the single unpartitioned window reads only the super-shard totals")
  }

  test("text_pack_incremental: standing corpus reduces to one broadcast scalar") {
    val p = plan("text_pack_incremental")
    // the arriving batch pays the same hierarchical prefix as text_pack…
    assert("windowspecdefinition\\(shard#\\d+L, doc_id".r.findFirstIn(p).isDefined)
    assert("windowspecdefinition\\(doc_id".r.findFirstIn(p).isEmpty,
      "no window may scan the batch in global doc_id order")
    assert("windowspecdefinition\\(shard#\\d+L ASC".r.findFirstIn(p).isEmpty,
      "the shard-summary prefix must stay recursed")
    // …while the standing corpus is ONE aggregated row joined broadcast:
    // no window/sort may touch the prior half at all
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the prior token total must arrive as a broadcast scalar")
  }

  test("text_mix and text_length_outliers: per-stratum tables broadcast back") {
    assert(plan("text_mix").contains("BroadcastHashJoin"))
    assert(plan("text_length_outliers").contains("BroadcastHashJoin"))
  }

  test("text_cooc_pmi: global top-k via TakeOrdered; corpus totals broadcast") {
    val p = plan("text_cooc_pmi")
    assert(p.contains("TakeOrderedAndProject"),
      "the PMI top-k must be per-partition heaps, not a global sort window")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the 1-row totals must broadcast")
  }

  test("text_shards: no global window — the only window input is shard summaries") {
    // the localCheckpoint in shardAssignment hides the geometry behind an
    // ExistingRDD in the full query (the winnow lesson), so assert on the
    // generator's own plan: same two-level shape text_pack guards
    import org.apache.spark.sql.functions._
    val geo = graft.ops.TextAnalysis.packGeometry(
      graft.pipeline.Tables.documents(spark, "/root/testdata/sf0.001")
        .select(col("doc_id"),
          size(split(col("text"), "\\s+")).cast("long").as("n_tokens")))
    val p = geo.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert("windowspecdefinition\\(shard#\\d+L, doc_id".r.findFirstIn(p).isDefined,
      "the row-level prefix sum must run inside (shard) partitions")
    assert("windowspecdefinition\\(doc_id".r.findFirstIn(p).isEmpty,
      "no window may scan the corpus in global doc_id order")
    assert("windowspecdefinition\\(shard#\\d+L ASC".r.findFirstIn(p).isEmpty,
      "the shard-summary prefix must recurse through (super) partitions")
    // and the full query must not smuggle a global doc-ordered window in
    assert("windowspecdefinition\\(doc_id".r.findFirstIn(plan("text_shards")).isEmpty)
  }

  test("price_rolling: the rolling window is chain-partitioned, never global") {
    val p = plan("price_rolling")
    assert("windowspecdefinition\\(chain#\\d+L, price_date".r.findFirstIn(p).isDefined,
      "the 7-day frame must run inside (chain) partitions")
  }

  test("text_entropy: tok_entropy kernel — single projection, zero shuffle") {
    val p = plan("text_entropy")
    assert(p.contains("tok_entropy"), "the kernel must be in the plan")
    assert(!p.contains("Exchange"), "array-side entropy must not shuffle")
  }

  test("text_dup_coverage: hash aggs only, no window or cross join") {
    val p = plan("text_dup_coverage")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("Window"), "dup coverage must not use a window")
  }

  test("text_split: one projection + one hash agg, no window, no join") {
    val p = plan("text_split")
    assert(!p.contains("Window") && !p.contains("Join"),
      "the split manifest is a projection + aggregation, nothing more")
    assert(p.contains("partial_"), "split counts must combine map-side")
  }

  test("split leakage family: keyed joins over the shared pair/cluster frames, no window, no pair space") {
    val a = plan("split_leakage_audit")
    assert(!a.contains("CartesianProduct") && !a.contains("BroadcastNestedLoopJoin"),
      "the audit joins the VERIFIED pair frame by doc key — never a new pair space")
    assert(!a.contains("Window"))
    val c = plan("split_cluster_safe")
    assert(!c.contains("CartesianProduct") && !c.contains("BroadcastNestedLoopJoin")
      && !c.contains("Window"),
      "cluster-grain split = one equi-join to the memoized cluster table + hash agg")
    assert(c.contains("partial_"), "split counts must combine map-side")
  }

  test("text_shuffle: per-bucket rank only — no window in global hash order") {
    val p = plan("text_shuffle")
    // the per-document rank runs inside (bucket) partitions
    assert("windowspecdefinition\\(bucket#\\d+L, hk".r.findFirstIn(p).isDefined,
      "document ranking must partition by bucket")
    // the offset table (SHUFFLE_BUCKETS rows) broadcasts back
    assert(p.contains("BroadcastHashJoin"), "bucket offsets must broadcast")
  }

  test("text_decontam_bloom: bloom probe precedes the exact confirm join") {
    val p = plan("text_decontam_bloom")
    assert(p.contains("might_contain"), "the Bloom probe must be in the plan")
    assert(p.contains("BroadcastHashJoin"), "the confirm join must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("graph_pagerank: equi-joins and hash aggs only, no cross join, no window") {
    val p = plan("graph_pagerank")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("Window"), "rank updates are joins + aggs, not windows")
  }

  test("corpus_diff: scan-side fingerprints feed one outer join, no window") {
    val p = plan("corpus_diff")
    assert(p.contains("FullOuter"), "the diff is a full-outer equi-join")
    assert(!p.contains("Window"))
  }

  test("q3_shipping: customer keys broadcast; top-10 via TakeOrdered, not a global sort") {
    val p = plan("q3_shipping")
    assert(p.contains("BroadcastHashJoin"), "segment-filtered customer keys must broadcast")
    assert(p.contains("TakeOrderedAndProject"), "the top-10 must not global-sort")
    assert(!p.contains("CartesianProduct"))
  }

  test("q5 snowflake and q14: dimension arms broadcast; date filters reach the scans") {
    val p5 = plan("q5_region_volume")
    assert(p5.contains("BroadcastHashJoin"), "the region-nation-supplier arm must broadcast")
    assert(!p5.contains("CartesianProduct"))
    assert(p5.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate")
      || p5.contains("GreaterThanOrEqual(o_orderdate"), "order-date window must push to parquet")
    val p14 = plan("q14_promo")
    assert(p14.contains("BroadcastHashJoin"), "the part dim must broadcast")
    assert(p14.contains("GreaterThanOrEqual(l_shipdate"), "ship-month filter must push to parquet")
  }

  test("text_bm25 and simsearch_decontam: query/eval sides broadcast, no self cross join") {
    Seq("text_bm25", "simsearch_decontam", "text_decontam_report").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
        s"$q: the small side must broadcast")
      assert(!p.contains("CartesianProduct"), s"$q: no cartesian product")
    }
  }

  test("q18: partial agg before the HAVING, survivors join back, top-100 via TakeOrdered") {
    val p = plan("q18_large_orders")
    assert(p.contains("partial_"), "the lineitem agg must map-side combine")
    assert(p.contains("TakeOrderedAndProject"), "the top-100 must not global-sort")
    assert(!p.contains("CartesianProduct"))
  }

  /** The parquet type `events.ts` scans as. The driver has shipped the
    * fixture both ways across rounds — TIMESTAMP(NANOS), which Spark reads
    * as a raw-nanos bigint (Tables.eventsRaw), and TIMESTAMP(MICROS),
    * which reads natively as timestamp_ntz — so the scan-pruning
    * assertions derive the expected ReadSchema from the fixture instead
    * of pinning one vintage of it.
    */
  private lazy val eventsTsType: String = {
    // Mirrors Tables.eventsRaw, which sets this same conf on every events
    // read — so this helper observes the exact scan type production plans
    // see, in any suite order. Scoped save/restore: the probe must not
    // leave a session-wide conf change behind as a lazy-val side effect.
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .schema("ts").dataType.sql.toLowerCase
    finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("chunk_bm25_topk: query side broadcasts; no corpus self-join; keyed windows only") {
    val p = plan("chunk_bm25_topk")
    assert(p.contains("BroadcastHashJoin"),
      "the query term set must broadcast into the postings probe")
    assert(!p.contains("CartesianProduct"),
      "candidates come from query-term postings, never a corpus cross join" +
        " (the 1-row corpus stats broadcast is the only nested-loop input)")
    assert("windowspecdefinition\\(q_id".r.findAllIn(p).size == 2 &&
      "windowspecdefinition\\((?!q_id)".r.findFirstIn(p).isEmpty,
      "both rank windows must be keyed by q_id (+doc_id), never global")
  }

  test("scrub family: no cartesian; no rank window; hits joined by key (AQE-sized)") {
    for (name <- Seq("text_decontam_scrub", "text_repetition_scrub", "dedup_passage_scrub")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"),
        s"$name: no pair space may exist")
      assert(!p.contains("Window"),
        s"$name: first-occurrence/keeper detection is an aggregation, never a rank window")
      // the hit frame is data-dependent, so it carries NO broadcast hint;
      // the optimizer/AQE may still choose a broadcast from SIZE (it does
      // at fixture scale) — what must never appear is a nested-loop plan
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$name: every join is keyed (shingle/span-hash/doc_id)")
    }
  }

  test("events_zorder: hash aggregation only — no window, no join, no global sort") {
    val p = plan("events_zorder")
    assert(!p.contains("Window"), "the z-key is a projection, not a rank")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    assert(p.contains(s"ReadSchema: struct<ts:$eventsTsType,user_id:bigint>"),
      "the scan must read exactly the two layout dimensions")
  }

  test("column pruning reaches the scans of the new relational shapes") {
    assert(plan("q18_large_orders")
      .contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      "q18's lineitem scan must read only the agg key and measure")
    assert(plan("events_scd2")
      .contains(s"ReadSchema: struct<event_id:bigint,ts:$eventsTsType,user_id:bigint,event_type:string>"),
      "scd2 must not read value/props")
  }

  test("events_scd2: every window is user-partitioned — no global window or sort") {
    val p = plan("events_scd2")
    assert(!p.contains("SinglePartition"),
      "gaps-and-islands ranks must partition by user, never collapse to one task")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"))
  }

  test("events_unpivot: one Expand pass over the pivot, no extra shuffle") {
    val p = plan("events_unpivot")
    assert(p.contains("Expand"), "unpivot must compile to the Expand operator")
    assert("""\(\d+\) Exchange""".r.findAllIn(p).size <= 2,
      "only the pivot aggregation's own exchanges may appear")
  }

  test("text_dsir: scoring is a zero-shuffle projection; selection via TakeOrdered") {
    val p = plan("text_dsir")
    assert(!p.contains("Exchange"),
      "the fitted model is a literal — scoring must not shuffle or join")
    assert(p.contains("TakeOrderedAndProject"), "DSIR selection must not global-sort")
  }

  test("event_attribution: the carry window is user-partitioned, never global") {
    val p = plan("event_attribution")
    assert(!p.contains("SinglePartition"),
      "the touch-carry window must partition by user, never collapse to one task")
    assert(!p.contains("CartesianProduct") && !p.contains("Join"),
      "attribution is one window + one hash agg — no self-join")
  }

  test("agg_incremental: both halves' watermark predicates reach the parquet scans") {
    val p = plan("agg_incremental")
    assert(p.contains("GreaterThan(ts,") && p.contains("LessThanOrEqual(ts,"),
      "standing and delta scans must both push their watermark predicate")
    assert(p.contains("partial_"),
      "the rollup must partial-aggregate before the shuffle")
  }

  test("multimodal_pair_audit: checksum-keyed window, equi-join probe, no pair space") {
    val p = plan("multimodal_pair_audit")
    assert(!p.contains("SinglePartition"),
      "the dup-rank window must partition by checksum, never collapse")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the embedding probe is a plain equi-join")
  }

  test("text_bm25_incremental: the merged index scores with no cartesian") {
    val p = plan("text_bm25_incremental")
    assert(!p.contains("CartesianProduct"),
      "postings merge + scoring must stay equi-join shaped (the stats " +
        "cross join is a broadcast 1-row frame, not a pair space)")
  }

  test("simsearch_label_mrr: label joins by key — no cartesian anywhere") {
    assert(!plan("simsearch_label_mrr").contains("CartesianProduct"))
  }

  test("basket_pairs: within-order equi-join, top-k via TakeOrdered") {
    val p = plan("basket_pairs")
    assert(!p.contains("CartesianProduct"),
      "the pair join must key on the order, never cross the fact table")
    assert(p.contains("TakeOrderedAndProject"),
      "top-k supports must not global-sort")
  }

  test("simsearch_rerank: refine joins by key — no cartesian anywhere") {
    // the exact-dot stages are checkpointed (vec_dot runs inside them,
    // asserted for the sibling searches above); the final plan must still
    // be free of pair-space blowups
    val p = plan("simsearch_rerank")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "stage-2 exact dots attach by (q_id)/(n_id) equi-joins only")
  }

  test("merge_upsert: both slices push their watermark; anti-join keys, no cartesian") {
    val p = plan("merge_upsert")
    assert(p.contains("GreaterThan(ts,") && p.contains("LessThanOrEqual(ts,"),
      "standing and delta scans must both push their watermark predicate")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the MERGE anti-join must stay key-equi")
    assert(!p.contains("SinglePartition"),
      "last-state windows partition by user, never collapse")
  }

  test("simsearch_graph: broadcast-frontier expansion over static edges — bounded rounds, no cartesian") {
    // the product path pins each round with localCheckpoint (flat
    // lineage); composing with pin=identity exposes the FULL traversal
    // plan — the frontier must ride the broadcast side of every
    // expansion join and no round may degenerate to a pair space
    val sfDir = "/root/testdata/sf0.001"
    val vis = graft.ops.Similarity.beamTraverse(
      graft.ops.Similarity.graphIndex(spark, sfDir),
      graft.ops.Similarity.withNorm(graft.pipeline.Tables.embeddings(spark, sfDir)),
      beamW = 2, rounds = 2, pin = identity)
    val p = vis.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("BroadcastHashJoin"),
      "seed and expansion joins must broadcast the query/frontier side")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "traversal joins are equi-joins on (t,bucket)/(src) — never a pair space")
    assert(p.contains("vec_dot"),
      "scoring runs the fused codegen kernel, not a UDF")
  }

  test("simsearch_graph_repair_health: equi-joins only — repair fan-out stays degree-bounded") {
    val p = plan("simsearch_graph_repair_health")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "candidates = survivors ∪ bridges via equi-joins on src/mid — never a pair space")
    assert(p.contains("vec_dot"),
      "rescoring and cell assignment run the fused codegen kernel")
  }

  test("multimodal_assembly_incremental: bounded feed stats broadcast; no pair space") {
    val p = plan("multimodal_assembly_incremental")
    assert(p.contains("BroadcastHashJoin"),
      "the |sources|-bounded merged feed stats must broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "band probes are equi-joins on (band_no, band_val) — never all-pairs")
  }

  test("standing probe joins carry no static broadcast hint (fp + checksum twins)") {
    // The incremental capstones probe arrivals against STANDING indexes
    // that are one row per standing document/media item — frames that
    // grow with the corpus. A static broadcast() hint on such a side
    // inverts at exactly the scale the incremental path exists for
    // (8 GB broadcast ceiling / driver OOM at 100 TB); the join must be
    // left unhinted so AQE broadcasts while small and shuffles on the
    // key once it isn't. The gated queries checkpoint their flag frames
    // (ExistingRDD hides the join), so the guard runs on the factored
    // probe methods' own plans — the winnow-lesson pattern.
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.catalyst.plans.logical.Join
    def staticHints(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case j: Join if j.hint.leftHint.exists(_.strategy.isDefined) ||
            j.hint.rightHint.exists(_.strategy.isDefined) =>
          j.hint.toString
      }
    val docs = graft.pipeline.Tables.documents(spark, "/root/testdata/sf0.001")
    val standing = docs.filter(col("doc_id") % 10 < 8)
    val arrivals = docs.filter(col("doc_id") % 10 >= 8)
    val fpIdx = standing.select(ops.Dedup.exactFp(col("text")).as("fp")).distinct()
    assert(staticHints(ops.TextAnalysis.standingFpProbe(arrivals, fpIdx)).isEmpty,
      "the standing fp index is corpus-proportional — the probe join must be AQE-sized")
    val pairs = arrivals.select(col("doc_id").as("media_id"),
      org.apache.spark.sql.functions.md5(col("text")).as("checksum"), lit(1).as("has_vec"))
    val ckIdx = standing.select(
      org.apache.spark.sql.functions.md5(col("text")).as("checksum"),
      col("doc_id").as("st_min_id"))
    assert(staticHints(ops.Multimodal.standingDupRank(pairs, ckIdx)).isEmpty,
      "the standing checksum index is corpus-proportional — the probe join must be AQE-sized")
  }

  test("approx_stats: sketches partial-aggregate map-side") {
    assert(plan("approx_stats").contains("partial_"),
      "HLL/percentile sketches must combine map-side — that is their whole point")
  }

  test("privacy incrementals: scan + hash-agg merges — no window, no pair space") {
    for (name <- Seq("privacy_k_anon_incremental", "privacy_l_div_incremental",
        "privacy_ladder_incremental")) {
      val p = plan(name)
      assert(!p.contains("Window"), s"$name: the audit is aggregation-only")
      assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
        s"$name: the only join is the broadcast nation dim / none")
      assert(p.contains("partial_"),
        s"$name: class counts must combine map-side")
    }
  }

  test("graph_triangles_incremental: delta wedges are equi-joins, standing probes unhinted") {
    // W1–W3 fan from the batch side through equi-joins; the standing
    // oriented frame is corpus-proportional, so nothing may force-
    // broadcast it and no wedge class may degrade to a nested loop
    val p = plan("graph_triangles_incremental")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "delta enumeration must stay hash/merge equi-joins")
  }

  test("streaming gauntlet probes: equi-joins only, no static hint on the index side") {
    // the replays hide their plans behind foreachBatch; guard the
    // factored per-batch methods' own plans (the winnow-lesson pattern).
    // The supplied indexes are standing ∪ accumulated arrivals — both
    // corpus-proportional — so no static broadcast may survive and no
    // wedge/probe may degrade to a nested loop.
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.catalyst.plans.logical.Join
    def audit(df: org.apache.spark.sql.DataFrame, what: String): Unit = {
      val hinted = df.queryExecution.optimizedPlan.collect {
        case j: Join if j.hint.leftHint.exists(_.strategy.isDefined) ||
            j.hint.rightHint.exists(_.strategy.isDefined) => j
      }
      assert(hinted.isEmpty, s"$what: index probe joins must stay AQE-sized")
      val p = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$what: probes must stay hash/merge equi-joins")
    }
    val docs = graft.pipeline.Tables.documents(spark, "/root/testdata/sf0.001")
    val emb = graft.pipeline.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val standing = docs.filter(col("doc_id") % 10 < 8)
    val arrivals = docs.filter(col("doc_id") % 10 >= 8)
    audit(ops.Multimodal.gauntletFlags(arrivals, emb,
      ops.Multimodal.standingChecksumIdx(standing),
      ops.Multimodal.signatureBands(ops.Multimodal.sliceFrames(standing))),
      "multimodal gauntletFlags")
    val aSets = ops.TextAnalysis.caShingleSets(arrivals)
    val stSets = ops.TextAnalysis.caShingleSets(standing)
    audit(ops.TextAnalysis.rejStreamFlags(arrivals, aSets,
      standing.select(ops.Dedup.exactFp(col("text")).as("fp")).distinct(),
      stSets.select(col("doc_id"),
        org.apache.spark.sql.functions.explode(col("shs")).as("h")),
      stSets),
      "rejections rejStreamFlags")
  }

  test("er stream probe: blocked equi-join only — no cartesian, no rank window") {
    // the gated replay's plan is hidden behind the foreachBatch sink;
    // guard the probe method's own plan (the winnow-lesson pattern)
    val docs = graft.pipeline.Tables.documents(spark, "/root/testdata/sf0.001")
    val standing = docs.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 0)
    val arrivals = docs.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 1)
    val rejected = ops.EntityResolution.frozenRejectedBlocks(standing)
    val p = ops.EntityResolution.erStreamProbe(
        ops.EntityResolution.keptFrozen(arrivals, rejected),
        ops.EntityResolution.keptFrozen(standing, rejected))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "pairing must stay the blocked equi-join")
    assert(!p.contains("Window"), "emission is a filter rule, never a rank")
  }
}
