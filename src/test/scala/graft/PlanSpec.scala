package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Physical-plan assertions — the properties that decide whether these
  * operators survive a 1000-executor / 100 TB deployment: filters and
  * projections reach the parquet scan, dimension joins broadcast,
  * per-group top-k never materializes a full sort, aggregates are
  * partial+final. */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q62 compiles every stage: it runs with codegen fallback off") {
    // the pair joins once ran a 192-term cosine expression whose
    // generated method passed 64 KB; Spark then ran them interpreted.
    // Every query that reaches an ANN rung runs the same way: the
    // shared probe's stage-1 scan, shortlist cut and re-rank compile.
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.fallback", "false")
    for (q <- Seq("q62_semdedup", "q41_ivf_topk", "q56_ivfpq_topk",
        "q202_matryoshka_topk", "q203_sq_topk", "q204_ivf_index_topk",
        "q205_mrl_ivf_topk", "q206_ivfsq_topk", "q210_bq_topk",
        "q211_ivfbq_topk", "q212_index_delete", "q213_filtered_ann",
        "q215_snapshot_index", "q216_ivfopq_topk"))
      assert(SparkEntry.queries(q)(s, sf).collect().nonEmpty, q)
  }

  test("q01 pushes filters and prunes columns at the parquet scan") {
    val p = plan("q01_filter_project")
    assert(p.contains("PushedFilters: ["), s"no pushed filters in:\n$p")
    assert(p.contains("LessThan(l_shipdate") || p.contains("l_shipdate"),
      "shipdate filter not pushed")
    // pruned read schema: none of the unused wide columns
    assert(!p.contains("l_comment"), "column pruning failed: l_comment read")
  }

  test("q03 joins dimension tables with broadcast hash joins") {
    val p = plan("q03_join_agg")
    assert(p.contains("BroadcastHashJoin"), s"dimension join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), "unexpected shuffle join for dims")
  }

  test("q52 star join broadcasts the whole dim chain onto the facts") {
    val p = plan("q52_region_revenue")
    // region→nation→customer collapse into broadcast builds; the only
    // permissible shuffle join is orders⋈lineitem (two fact tables)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      s"dim chain not broadcast:\n$p")
    assert("SortMergeJoin|ShuffledHashJoin".r.findAllIn(p).size <= 1,
      s"more than the fact-fact join shuffled:\n$p")
    assert(p.contains("PushedFilters") && p.contains("o_orderdate"),
      "orderdate filter not at the scan")
  }

  test("q02 aggregate is partial+final hash aggregate") {
    val p = plan("q02_agg_pricing")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "no partial+final agg")
    assert(!p.contains("SortAggregate"), "hash agg degraded to sort agg")
  }

  test("q04 per-group top-k uses WindowGroupLimit, not a full sort") {
    val p = plan("q04_window_topk")
    assert(p.contains("WindowGroupLimit"), s"window group limit missing:\n$p")
  }

  test("q05 global top-k is TakeOrderedAndProject") {
    val p = plan("q05_global_topk")
    assert(p.contains("TakeOrderedAndProject"), s"global limit sorts fully:\n$p")
  }

  test("q07/q08 plan semi and anti joins (no materialized distinct)") {
    assert(plan("q07_semi_join").contains("LeftSemi"))
    assert(plan("q08_anti_join").contains("LeftAnti"))
  }

  test("q46 winnow pairs: one fingerprint scan, no joins at all") {
    // Posting-list expansion means NO join operator anywhere — the only
    // shuffles are the fp groupBy and the pair-count groupBy, both
    // partial+final hash aggregates. A regression to the fp self-join
    // form would plan a SortMergeJoin over two full fingerprint scans.
    // Pinned on the OPERATOR plan: q46 now serves the q46/q47 shared
    // memo, whose InMemoryRelation rendering repeats the scan line
    // (the r15 q90 re-anchor pattern — the operator-level claim is the
    // one that matters at scale). w=5 (not the memo's w=4) so the
    // CacheManager never substitutes a suite-order-dependent cached
    // fragment into this plan; the operator shape is identical.
    val p = graft.pipeline.TextAnalysis.winnowPairs(
        Tables.documents(spark, sf), k = 4, w = 5, minShared = 2)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"winnowPairs should plan no joins:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert("FileScan".r.findAllIn(p).size == 1,
      "fingerprints must be computed from a single documents scan")
  }

  test("q54 as-of join: union+window, one shuffle, NO join operator") {
    // The union+window as-of design must never plan a join (the naive
    // theta-join+argmax would) and needs exactly one Exchange — the
    // key hash partitioning the window runs on.
    val p = plan("q54_asof_join")
    assert(!p.contains("Join"), s"as-of must plan no joins:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert("Exchange (hashpartitioning|SinglePartition)".r.findAllIn(p).size == 1,
      s"as-of should shuffle exactly once (the window partitioning):\n$p")
  }

  test("q55 banded range join: equi-join on the band, no cartesian/BNLJ") {
    // Banding must turn the pure range predicate into an equi-join on
    // the bucket id; a regression to cross-join-plus-filter shows up as
    // CartesianProduct or BroadcastNestedLoopJoin.
    val p = plan("q55_range_join")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"range join must stay an equi-join on the band bucket:\n$p")
  }

  test("q56 IVF-PQ shortlist window plans a WindowGroupLimit") {
    // The ADC shortlist (rn <= k·refine) must run as a group-limit —
    // partial top-k before the shuffle — not a full per-query sort.
    assert(plan("q56_ivfpq_topk").contains("WindowGroupLimit"))
  }

  test("q66 vocab encode: top-V never global-sorts; vocab join broadcasts") {
    // Top-V selection must plan TakeOrderedAndProject (per-partition
    // top-V + V-row merge, never a corpus sort), and the encode join
    // must broadcast the ≤V-row vocab so the token stream itself never
    // shuffles for the join.
    val p = plan("q66_vocab_encode")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-V vocab selection must not global-sort:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"vocab join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      "encode join regressed to a token-stream shuffle")
  }

  test("q68 passage dedup: no cartesian, no corpus-wide window") {
    // The verdict must come from the md5-keyed aggregate + equi-join
    // (AQE-skew-splittable), never a window over the whole passage set
    // or a cross product.
    val p = plan("q68_dedup_passages")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"passage verdict must stay an equi-join:\n$p")
    assert(!p.contains("Window"), s"no corpus-wide window allowed:\n$p")
  }

  test("q81 link prediction: no cartesian, wedge agg is partial+final") {
    val p = plan("q81_link_prediction")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"wedge enumeration must stay an equi-join on the center:\n$p")
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      "pair aggregate should partial-combine map-side")
  }

  test("q83 rollup plans ONE Expand + aggregate, not a union of scans") {
    val p = plan("q83_rollup_revenue")
    assert(p.contains("Expand"), s"rollup should plan an Expand:\n$p")
    // one scan of orders feeds all three grouping levels
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"rollup must not re-scan per level:\n$p")
  }

  test("q85 rolling window sorts only the daily aggregate, not raw orders") {
    val p = plan("q85_rolling_revenue")
    // the window must sit ABOVE the aggregate: exactly one Window node,
    // and the sort feeding it is on the grouped (bounded) frame
    assert(p.contains("RunningWindowFunction") || p.contains("Window"),
      s"no window in:\n$p")
    assert(p.contains("HashAggregate"), "daily aggregate missing")
  }

  test("q87 weighted sample plans TakeOrderedAndProject, no global sort") {
    val p = plan("q87_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"),
      s"weighted sample top-k must be a take-ordered, not a full sort:\n$p")
  }

  test("q90 PCA projection is a narrow map over the scan (no shuffle)") {
    // the RAW scan: the pinned claim is that the Pca OPERATOR adds no
    // shuffle. Tables.embeddings may additionally spread an under-split
    // local file (one bounded REPARTITION_BY_NUM exchange, r15) — a
    // loader property, conditional on file layout, not an operator one.
    val raw = Tables(spark, sf, "embeddings")
    val m = graft.linalg.Pca.fit(
      raw.select(col("vec_id"), col("embedding").cast("array<double>").as("v")),
      "v", r = 2)
    val p = graft.linalg.Pca.transform(
      raw.select(col("vec_id"), col("embedding").cast("array<double>").as("v")),
      m, "v").queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"PCA projection must not shuffle:\n$p")
  }

  test("whole-stage codegen covers the scan-filter-project pipeline") {
    // "*(n)" prefixes mark whole-stage-codegen'd operators in the
    // string rendering ("WholeStageCodegen" only appears in formatted mode)
    val p = plan("q01_filter_project")
    assert(p.contains("*(1)"), s"codegen absent:\n$p")
  }

  test("layout gather broadcasts positions below the threshold") {
    import graft.layout.{Layout, LayoutConfig}
    import graft.linalg.EigenInit
    val g = graft.gen.Generators.roadNetwork(spark, 5, 5)
    val pos = EigenInit.init(spark, g, 25, 2, seed = 1)
    val p = Layout.gather(Layout.withEdgeIds(g), pos, bcast = true)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"gather not broadcast:\n$p")
  }

  test("layout step plans no cartesian product and no m×s sort") {
    // regression guards for the two scale-killers fixed in round 2: the
    // un-hinted kNN join planned a |q-parts|·|r-parts|-task
    // CartesianProduct, and the join+window kNN form sorted all |q|·m
    // joined rows. The kNN now runs inside the edge partitions; the
    // step's plan is the scatter-add and the equi-join onto positions.
    import graft.layout.{Layout, LayoutConfig}
    import graft.linalg.EigenInit
    val g = graft.gen.Generators.roadNetwork(spark, 6, 6)
    val e = Layout.withEdgeIds(g)
    val (pos, _) = graft.util.Iterate.checkpoint(
      spark, EigenInit.init(spark, g, 36, 2, seed = 1))
    val at = pos.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val queries = e.collect().take(16).map { r =>
      val (s, t) = (r.getLong(0), r.getLong(1))
      (r.getLong(2), s, t, at(s), at(t))
    }
    val cfg = LayoutConfig(nComponents = 2, LMin = 1.0, sampleSize = 16,
      nNeighbors = 4, seed = 1)
    val p = Layout.step(e, pos, cfg, queries, bcast = true)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"cartesian in step plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"BNLJ in step plan:\n$p")
    assert(!p.contains("Window"), s"window in step plan:\n$p")
  }

  test("q96 prefix-filtered similarity join: equi-joins only, partial+final aggs") {
    val p = plan("q96_setsim_join")
    assert(!p.contains("CartesianProduct"), s"cartesian in setsim plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"BNLJ in setsim plan:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "no partial+final agg")
  }

  test("q100 retention scans raw events once per branch, aggregates hash-partial") {
    val p = plan("q100_retention")
    assert(!p.contains("CartesianProduct"), s"cartesian in retention plan:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "no partial+final agg")
    // the raw event scan must prune to the two used columns
    assert(!p.contains("props"), "column pruning failed: props read")
  }

  test("q101 attribution plans the as-of union+window, no join explosion") {
    val p = plan("q101_attribution")
    assert(!p.contains("CartesianProduct"), s"cartesian in attribution plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"BNLJ in attribution plan:\n$p")
    // the as-of design is union + ONE window scan — no Join node should
    // connect the purchase and touch sides
    assert(!p.contains("SortMergeJoin"), s"as-of degraded to a join:\n$p")
  }

  test("q97 association rules broadcast the one-row basket count") {
    val p = plan("q97_assoc_rules")
    assert(!p.contains("CartesianProduct"), s"cartesian in rules plan:\n$p")
    // the N-baskets scalar rides along as a broadcast nested loop over
    // ONE row (a hinted broadcast), never a shuffled join
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"basket count not broadcast:\n$p")
  }

  test("q103 pivot: one scan, pivotfirst aggregate, no Expand") {
    val p = plan("q103_pivot_revenue")
    assert(p.contains("pivotfirst"), s"explicit-value pivot should plan pivotfirst:\n$p")
    assert(!p.contains("Expand"), s"pivot must not expand rows:\n$p")
    assert("Scan parquet".r.findAllIn(p).size == 1, "pivot must scan orders once")
  }

  test("q105 deciles: the ntile sort sees only the customer aggregate") {
    val p = plan("q105_ntile_deciles")
    // exactly one single-partition exchange, and it must sit ABOVE the
    // customer-keyed aggregate (raw orders are never globally sorted)
    val i = p.indexOf("Exchange SinglePartition")
    assert(i >= 0, s"ntile needs its bounded global sort:\n$p")
    assert(p.indexOf("HashAggregate", i) >= 0,
      s"the single-partition sort must read the aggregate, not raw orders:\n$p")
  }

  test("q106 edit-distance join: equi-join on deletion keys, no cartesian") {
    val p = plan("q106_editdist_join")
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"),
      s"FastSS join must stay an equi-join:\n$p")
    assert(p.contains("LessThan(c_custkey,2000)"),
      s"universe cap must push into the scan:\n$p")
  }

  test("q107 chunking is a pure narrow map: zero exchanges") {
    val p = plan("q107_chunk_overlap")
    assert(!p.contains("Exchange"), s"chunking must not shuffle:\n$p")
    assert(p.contains("WholeStageCodegen") || p.contains("*("),
      s"chunking should stay codegen'd:\n$p")
  }

  test("q152 dup-gram load: equi-joins only, counts combine map-side") {
    val p = plan("q152_dup_ngrams")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"gram join must stay equi:\n$p")
    assert(p.contains("partial_count") || p.contains("partial count"),
      s"gram counts should combine map-side:\n$p")
  }

  test("q153 tfidf cosine: posting joins are equi, no cartesian") {
    val p = plan("q153_tfidf_cosine")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"posting-list join must stay equi:\n$p")
  }

  test("q164 debounce: one keyed window, no join operator") {
    val p = plan("q164_debounce")
    assert(p.contains("Window"), s"expected the lag window:\n$p")
    assert(!p.contains("Join"), s"debounce must not join:\n$p")
  }

  test("q165 rolling actives: explode replaces the day self-join") {
    val p = plan("q165_rolling_actives")
    assert(p.contains("Generate"), s"expected the report-day explode:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"no shuffle join belongs here (bounds broadcast only):\n$p")
  }

  test("q168 skyline: sorts only the price-group frame, joins broadcast") {
    val p = plan("q168_skyline")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the join back must broadcast:\n$p")
    assert("Window".r.findAllIn(p).size >= 1, s"expected the group window:\n$p")
    // the window input is the per-price AGGREGATE, not the raw rows:
    // an Aggregate must appear below the Window in the tree string
    val wIdx = p.indexOf("Window")
    assert(p.indexOf("HashAggregate", wIdx) > wIdx,
      s"running max must scan the group frame, not raw parts:\n$p")
  }

  test("q173 novelty: first-seen join is equi, aggregates partial") {
    val p = plan("q173_ngram_novelty")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"gram join must stay equi:\n$p")
    assert(p.contains("partial_min") || p.contains("partial min"),
      s"first-seen min should combine map-side:\n$p")
  }

  test("q108 ewma: one key shuffle, partial collect, no window sort") {
    val p = plan("q108_ewma_smoothing")
    assert(!p.contains("Window"), s"ewma must not plan a window:\n$p")
    assert(p.contains("partial_collect_list"),
      s"series gather should combine map-side:\n$p")
    assert("Exchange".r.findAllIn(p).size == 1,
      s"ewma needs exactly the user-key shuffle:\n$p")
  }

  test("NearDupStream.bandKeys plans ZERO shuffles (stateless streaming map)") {
    // The whole point of the row-local signature: banded fingerprints
    // of an arriving micro-batch must be a pure narrow map — any
    // Exchange here would be a stateful/shuffling op on the stream path
    val p = graft.streaming.NearDupStream
      .bandKeys(Tables.documents(spark, sf))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"bandKeys must not shuffle:\n$p")
    assert(!p.contains("HashAggregate"), s"bandKeys must not aggregate:\n$p")
  }

  test("r8 ops plan shapes: broadcast vocab, bucket-keyed manifest, narrow decontam") {
    // oovAudit: the top-V vocab must reach the corpus side as a
    // BroadcastExchange, never a shuffled join
    val p1 = graft.pipeline.TextAnalysis
      .oovAudit(Tables.documents(spark, sf), vocabSize = 20)
      .queryExecution.executedPlan.toString
    assert(p1.contains("BroadcastExchange"),
      s"top-V vocab should broadcast:\n$p1")
    // lengthMatchResample: per-bucket probabilities broadcast back; no
    // single-partition exchange anywhere (the q105/q178 discipline)
    val docs = Tables.documents(spark, sf)
    val p2 = graft.pipeline.TextAnalysis
      .lengthMatchResample(docs, docs.filter(col("n_chars") < 300))
      .queryExecution.executedPlan.toString
    assert(!p2.contains("Exchange SinglePartition") ||
      // the two scalar count aggregates are allowed their 1-row finals
      !p2.contains("Window"),
      s"lengthMatchResample must not plan a windowed global sort:\n$p2")
    assert(p2.contains("BroadcastExchange"),
      s"bucket probabilities should broadcast:\n$p2")
    // decontaminateOnIngest: a pure narrow map over the stream side
    val evalSet = docs.filter(col("doc_id") % 50 === 0).select("text")
    val p3 = graft.streaming.DocsStream
      .decontaminateOnIngest(docs.select("doc_id", "text"), evalSet)
      .queryExecution.executedPlan.toString
    assert(!p3.contains("Exchange"),
      s"row-local decontamination must not shuffle:\n$p3")
  }

  test("classifier scoreText plans ZERO shuffles (stateless ingest map)") {
    // frozen-scorer scoring is the model gate on the ingest path: any
    // Exchange or aggregate here would be a stateful op on the stream
    import graft.pipeline.QualityClassifier
    val scorer = QualityClassifier.TextScorer(
      Array.fill(5)(0.0), Array.fill(5)(1.0), Array.fill(6)(0.1),
      Array(1.0, 0.5))
    val p = QualityClassifier.scoreText(Tables.documents(spark, sf), scorer)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"scoreText must not shuffle:\n$p")
    assert(!p.contains("HashAggregate"), s"scoreText must not aggregate:\n$p")
  }

  test("auc rank frame plans NO single-partition Exchange (bucketed window)") {
    // The r7 weak item: a global Window.orderBy over distinct scores is
    // a single-partition sort of ~n rows at corpus scale. The bucketed
    // rank must plan a hash-partitioned window (Exchange hashpartitioning
    // on _b) and nothing SinglePartition.
    import graft.pipeline.QualityClassifier
    val scored = Tables.documents(spark, sf)
      .select((col("doc_id") % 97 / 97.0).as("score"),
        (col("doc_id") % 2).cast("double").as("label"))
    val g = QualityClassifier.distinctScores(scored, "score", "label")
    val p = QualityClassifier.bucketRanked(g, 1024)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange SinglePartition"),
      s"auc rank frame must not plan a single-partition exchange:\n$p")
    assert(p.contains("Window"), s"expected the bucketed window:\n$p")
    assert(p.contains("hashpartitioning(_b"),
      s"window partitioning must key on the bucket:\n$p")
  }

  test("two-stage rungs: top-k pushed to WindowGroupLimit, no single-partition Exchange") {
    // both shortlist and re-rank windows must partition by qid (never a
    // global sort) and plan the rank-limit pushdown; the joins stay
    // broadcast (stats pick the under-threshold side, which at corpus
    // scale is the 50-row query frame / the |Q|·shortlist candidate set)
    import graft.pipeline.Similarity
    val e = Tables.embeddings(spark, sf)
    val qs = e.filter(col("vec_id") < 50)
    for ((name, df) <- Seq(
      ("matryoshkaTopK", Similarity.matryoshkaTopK(qs, e, k = 5,
        dims = 32, shortlist = 50)),
      ("sqTopK", Similarity.sqTopK(spark, qs, e, k = 5, shortlist = 10)))) {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange SinglePartition"),
        s"$name plans a single-partition exchange:\n$p")
      assert(p.contains("WindowGroupLimit"),
        s"$name misses the rank-limit pushdown:\n$p")
      assert(p.contains("hashpartitioning(qid"),
        s"$name window must partition by qid:\n$p")
    }
  }

  test("ivfTopKFromIndex prunes the on-disk index to the probed list partitions") {
    // the IVF contract made physical: with the index list-partitioned
    // on disk (the IvfStream.attach layout), the ≤nLists probed-list
    // filter must land in the parquet scan as PartitionFilters — a
    // probe reads nProbe/nLists of the index bytes, not all of them
    import graft.pipeline.Similarity
    import graft.streaming.IvfStream
    val tmp = tempDir("graft_ivfplan").toString
    val e = Tables.embeddings(spark, sf)
    val centers = Similarity.ivfTrainCentroids(spark, e, nLists = 8)
    IvfStream.assignOnIngest(e, centers)
      .write.partitionBy("list").mode("overwrite").parquet(s"$tmp/batch=0")
    val index = IvfStream.readIndex(spark, tmp)
    val p = Similarity.ivfTopKFromIndex(spark,
        e.filter(col("vec_id") < 3), index, centers, k = 5, nProbe = 2)
      .queryExecution.executedPlan.toString
    val scanLines = p.linesIterator.filter(_.contains("PartitionFilters")).toSeq
    assert(scanLines.exists(l => l.contains("list") &&
      !l.contains("PartitionFilters: []")),
      s"index scan must carry a list partition filter:\n$p")
  }

  test("ivfTopKFromIndex over a filtered index: metadata predicate " +
    "pushed into the " +
    "SAME pruned scan as the probed-list partition filter") {
    // the filtered-ANN contract made physical (r11 verdict #4): one
    // scan carries BOTH PartitionFilters on the probed lists (reads
    // nProbe/nLists of the bytes) and PushedFilters on the metadata
    // predicate (row-group-skips the misses inside them) — filter-
    // then-search, never scan-then-post-filter
    import graft.pipeline.Similarity
    import graft.streaming.IvfStream
    val tmp = tempDir("graft_fplan").toString
    val e = Tables.embeddings(spark, sf)
    val centers = Similarity.ivfTrainCentroids(spark, e, nLists = 8)
    IvfStream.assignOnIngestWithMeta(e, centers, metaCols = Seq("label"))
      .write.partitionBy("list").mode("overwrite").parquet(s"$tmp/batch=0")
    val index = spark.read.parquet(tmp)
    val p = Similarity.ivfTopKFromIndex(spark,
        e.filter(col("vec_id") < 3), index.filter(col("label") === 2),
        centers, 5, nProbe = 2)
      .queryExecution.executedPlan.toString
    val scanLines = p.linesIterator.filter(_.contains("PartitionFilters")).toSeq
    assert(scanLines.exists(l => l.contains("list") &&
      !l.contains("PartitionFilters: []")),
      s"filtered index scan must keep the list partition filter:\n$p")
    val pushedLines = p.linesIterator.filter(_.contains("PushedFilters")).toSeq
    assert(pushedLines.exists(l => l.contains("label") &&
      !l.contains("PushedFilters: []")),
      s"metadata predicate must reach the parquet scan as PushedFilters:\n$p")
  }

  test("ivfSqTopKFromIndex over a filtered meta-carrying CODES index: " +
    "list PartitionFilters + label PushedFilters in the stage-1 scan") {
    // the compressed-tier member of the filtered-ANN physical
    // contract: the metadata predicate row-group-skips inside the
    // probed lists of the 4×-compressed codes index — the stage-1
    // scan never reads disallowed codes
    import graft.pipeline.Similarity
    import graft.streaming.IvfStream
    val tmp = tempDir("graft_fcplan").toString
    val e = Tables.embeddings(spark, sf)
    val centers = Similarity.ivfTrainCentroids(spark, e, nLists = 8)
    val codec = Similarity.sqTrain(spark, e)
    IvfStream.assignAndEncodeOnIngestWithMeta(e, centers, codec,
        metaCols = Seq("label"))
      .write.partitionBy("list").mode("overwrite").parquet(s"$tmp/batch=0")
    val index = spark.read.parquet(tmp)
    val pred = col("label") === 2
    val p = Similarity.ivfSqTopKFromIndex(spark,
        e.filter(col("vec_id") < 3), index.filter(pred), centers, codec,
        e.filter(pred), 5, shortlist = 10, nProbe = 2)
      .queryExecution.executedPlan.toString
    val scanLines = p.linesIterator.filter(_.contains("PartitionFilters")).toSeq
    assert(scanLines.exists(l => l.contains("list") &&
      !l.contains("PartitionFilters: []")),
      s"filtered codes scan must keep the list partition filter:\n$p")
    val pushedLines = p.linesIterator.filter(_.contains("PushedFilters")).toSeq
    assert(pushedLines.exists(l => l.contains("label") &&
      !l.contains("PushedFilters: []")),
      s"metadata predicate must reach the codes scan as PushedFilters:\n$p")
  }

  test("matryoshkaIvfTopKFromIndex prunes the prefix index and group-limits both stages") {
    // the r10 production rung: the prefix-IVF probe must read only the
    // probed list partitions of the on-disk prefix index (the
    // ivfTopKFromIndex pruning, composed), and both the stage-1
    // shortlist and the stage-2 re-rank windows must plan as
    // WindowGroupLimit (rank-limit pushdown) partitioned by qid
    import graft.pipeline.Similarity
    val tmp = tempDir("graft_mivfplan").toString
    val e = Tables.embeddings(spark, sf)
    // the layout comes from the shipped writer (r11): the pruning pin
    // reads through the write/read trio, not a hand-rolled partitionBy
    val written = Similarity.matryoshkaIvfWriteIndex(spark, e, tmp,
      dims = 32, nLists = 8)
    val (centers, onDisk) = Similarity.matryoshkaIvfReadIndex(spark, tmp)
    assert(centers.zip(written).forall(p => p._1.sameElements(p._2)))
    val p = Similarity.matryoshkaIvfTopKFromIndex(spark,
        e.filter(col("vec_id") < 3), onDisk, centers, e, k = 5,
        dims = 32, shortlist = 20, nProbe = 2)
      .queryExecution.executedPlan.toString
    val scanLines = p.linesIterator.filter(_.contains("PartitionFilters")).toSeq
    assert(scanLines.exists(l => l.contains("list") &&
      !l.contains("PartitionFilters: []")),
      s"prefix index scan must carry a list partition filter:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"two-stage re-rank misses the rank-limit pushdown:\n$p")
    assert(p.contains("hashpartitioning(qid"),
      s"re-rank windows must partition by qid:\n$p")
  }

  test("ivfPqTopKFromIndex prunes the on-disk codes to the probed lists") {
    // the IVF-PQ deployment shape: codes persisted list-partitioned,
    // the probe's ≤nLists list set must land as PartitionFilters so a
    // probe reads nProbe/nLists of the m-byte codes
    import graft.pipeline.Similarity
    val tmp = tempDir("graft_pqplan").toString
    val e = Tables.embeddings(spark, sf)
    val model = Similarity.ivfPqWriteIndex(spark, e, tmp, nLists = 8,
      m = 8, nCodes = 32)
    val (_, codes) = Similarity.ivfPqReadIndex(spark, tmp)
    val p = Similarity.ivfPqTopKFromIndex(spark,
        e.filter(col("vec_id") < 3), codes, model, e, k = 3, nProbe = 2,
        refine = 10)
      .queryExecution.executedPlan.toString
    val scanLines = p.linesIterator.filter(_.contains("PartitionFilters")).toSeq
    assert(scanLines.exists(l => l.contains("list") &&
      !l.contains("PartitionFilters: []")),
      s"codes scan must carry a list partition filter:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"shortlist window misses the rank-limit pushdown:\n$p")
  }

  test("q115 approx profile mode plans no Expand; exact mode does") {
    // the documented swap is now a plan property, both directions
    val o = Tables.orders(spark, sf)
    val exact = graft.queries.Relational.tableProfile(o, approx = false)
      .queryExecution.executedPlan.toString
    val approx = graft.queries.Relational.tableProfile(o, approx = true)
      .queryExecution.executedPlan.toString
    assert(exact.contains("Expand") && !approx.contains("Expand"))
  }

}
