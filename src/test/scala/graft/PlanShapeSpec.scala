package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape guards for the properties the scale design relies
  * on (PLANS.md / SCALE.md): broadcast of dimension tables, the rank
  * window compiling to WindowGroupLimit (partial top-k before the
  * shuffle), and parquet filter pushdown reaching the scan. These fail
  * loudly if a Spark upgrade or config change silently degrades a plan. */
class PlanShapeSpec extends AnyFunSuite with SparkSuite {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("profiler sketch-only mode plans with NO Expand; exact mode keeps it") {
    // exact count_distinct over k columns plans via Expand (k+1 copies of
    // every scanned row) — the sketch-only production path must not
    val docs = Tables.documents(spark, sfDir)
    val cols = Seq("doc_id", "lang", "source", "n_chars")
    val sketchPlan = graft.operators.Profiler.profile(docs, cols, exact = false)
      .queryExecution.executedPlan.toString
    assert(!sketchPlan.contains("Expand"),
      s"sketch-only profile still plans an Expand:\n${sketchPlan.take(3000)}")
    val exactPlan = graft.operators.Profiler.profile(docs, cols)
      .queryExecution.executedPlan.toString
    assert(exactPlan.contains("Expand"),
      "exact profile lost its Expand cross-check leg — test premise changed")
    // and the sketch-only output still reports a distinct estimate per column
    val rows = graft.operators.Profiler.profile(docs, cols, exact = false).collect()
    assert(rows.length == cols.length)
    assert(!rows.head.schema.fieldNames.contains("hll_ok"))
    assert(rows.forall(_.getAs[Long]("n_distinct") > 0L))
  }

  test("q2 joins its dimension tables by broadcast, not sort-merge") {
    val p = plan("q2_join")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("v4 exact kNN bounds the shuffle with WindowGroupLimit") {
    val p = plan("v4_knn_exact")
    assert(p.contains("WindowGroupLimit"))
  }

  test("q1 pushes the shipdate filter into the parquet scan") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"expected pushed filters in:\n${p.take(2000)}")
  }

  test("v5 top-k aggregate runs partial-then-final (ObjectHashAggregate)") {
    val p = plan("v5_knn_topk")
    assert(p.contains("partial_topk_by_distance"))
    assert(p.contains("ObjectHashAggregate"))
  }

  test("d2 postings shuffle keys on the 64-bit shingle hash, not the string") {
    val p = plan("d2_ngram_jaccard")
    assert(p.contains("xxhash64"), s"expected xxhash64 keying in:\n${p.take(3000)}")
    assert(!p.contains("hashpartitioning(s#"),
      s"postings exchange still string-keyed:\n${p.take(3000)}")
  }

  test("d8 gram shuffles key on the 64-bit gram hash, never the string") {
    // repeatedSpans hashes each positioned n-gram to xxhash64 inside the
    // explode — the doc-frequency groupBy and the seed join must both
    // exchange on that long key, never on the ~40+ byte gram text
    val p = plan("d8_repeated_spans")
    assert(p.contains("xxhash64"), s"expected xxhash64 keying in:\n${p.take(3000)}")
    assert(!p.contains("hashpartitioning(g#"),
      s"gram exchange still string-keyed:\n${p.take(3000)}")
  }

  test("d9 contamination broadcasts the eval grams; train grams never string-keyed") {
    // the eval/benchmark side is MBs at any corpus scale — the join must
    // be a broadcast hash join (no corpus-sized Exchange for the join)
    // and every gram key must be the xxhash64 long, never the gram text
    val p = plan("d9_contamination")
    assert(p.contains("BroadcastHashJoin"), s"eval side not broadcast:\n${p.take(3000)}")
    assert(p.contains("xxhash64"), s"expected xxhash64 gram keys in:\n${p.take(3000)}")
    assert(!p.contains("hashpartitioning(g#"),
      s"gram exchange string-keyed:\n${p.take(3000)}")
  }

  test("t9 bm25 broadcasts the one-row stats; scoring never shuffles the corpus") {
    val p = plan("t9_bm25")
    assert(p.contains("Broadcast"), s"stats row not broadcast:\n${p.take(3000)}")
    assert(!p.contains("SortMergeJoin"), s"corpus-shuffling join in:\n${p.take(3000)}")
  }

  test("v20 bucketed corpus build runs with zero Exchange and zero Sort") {
    // the plan the build's mapPartitions reads (buildFromBucketed plans
    // it through bucketedInput) must be a bucketed scan, no Exchange, no
    // Sort anywhere
    Queries.ensureBucketedCorpus(spark, sfDir)
    val p = graft.index.VectorIndex.bucketedInput(spark, Queries.corpusTableName(sfDir))
      ._1.queryExecution.executedPlan.toString
    assert(p.contains("Bucketed: true"), s"scan not bucketed:\n${p.take(3000)}")
    assert(!p.contains("Exchange"), s"build plan still shuffles:\n${p.take(3000)}")
    assert("\\bSort\\b".r.findFirstIn(p).isEmpty, s"build plan still sorts:\n${p.take(3000)}")
  }

  test("b3 as-of join compiles to one key shuffle and zero joins") {
    // the tagged-union composition must never degrade into a range join
    // (BroadcastNestedLoopJoin / CartesianProduct explode |L|x|R| at
    // scale); its only wide op is the per-key running-last window
    import org.apache.spark.sql.functions.col
    val ev = Tables.events(spark, sfDir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value").as("pvalue"))
      .dropDuplicates("user_id", "ts")
    val p = operators.AsOfJoin.asOf(
      ev.select(col("user_id"), col("event_id"), col("ts")),
      purchases, "user_id", "ts", "pvalue")
      .queryExecution.executedPlan.toString
    assert("\\bJoin\\b".r.findFirstIn(p).isEmpty, s"as-of degraded to a join:\n${p.take(3000)}")
    assert(p.contains("Window"), s"expected running-last Window in:\n${p.take(3000)}")
    val keyShuffles = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).size
    assert(keyShuffles >= 1 && !p.contains("CartesianProduct"),
      s"expected key-hash exchange, no cartesian:\n${p.take(3000)}")
  }

  test("b2 salted join keys the join on (key, salt), dim replicated by explode") {
    // the hot key must be spread across salt partitions: the physical
    // join's key list has to include _salt, and the dim side must be a
    // bounded explode-replication, not a cross join
    val p = plan("b2_salted_join")
    assert("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \\[[^\\]]*_salt".r
      .findFirstIn(p).isDefined, s"join not keyed on _salt:\n${p.take(3000)}")
    assert(p.contains("Generate explode"), s"dim replication not an explode:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"salted join degraded to cross join:\n${p.take(3000)}")
  }

  test("v21 quantized kNN bounds the shuffle with a partial WindowGroupLimit") {
    val p = plan("v21_sq8_knn")
    assert(p.contains("WindowGroupLimit"), s"no WindowGroupLimit in:\n${p.take(3000)}")
    // one hash exchange (the final per-query top-k); the SQ8 encode must
    // be evaluated scan-side, once per row, before the candidate join
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles == 1, s"expected 1 hash Exchange, got $shuffles:\n${p.take(3000)}")
    assert(p.contains("PushedFilters: [IsNotNull(vec_id)"),
      s"vec_id filter not pushed to scan:\n${p.take(3000)}")
  }

  test("v22 two-stage rerank: quantized pool + bucketed SMJ rerank, corpus never shuffles") {
    val p = plan("v22_sq8_rerank")
    // two ranking stages (pool 40 + final 10)
    val finals = "WindowGroupLimit .*Final".r.findAllIn(p).size
    assert(finals == 2, s"expected 2 final WindowGroupLimits, got $finals:\n${p.take(3500)}")
    // stage 2 is a sort-merge join of the k-bounded candidates against the
    // id-bucketed full-precision corpus — NOT a corpus broadcast
    assert("SortMergeJoin \\[neighbor_id#\\d+L?\\], \\[id#".r.findFirstIn(p).isDefined,
      s"rerank join is not an SMJ on (neighbor_id, id):\n${p.take(4500)}")
    assert(p.contains("SelectedBucketsCount") || p.contains("Bucketed: true"),
      s"rerank corpus scan not bucketed:\n${p.take(4500)}")
    // only candidate/query rows may shuffle: three bounded hash Exchanges
    // (pool top-k by query_id, candidates into corpus buckets by
    // neighbor_id, final top-k by query_id) and NONE keyed on the corpus
    // id — the corpus reads its bucket files in place
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles == 3, s"expected 3 hash Exchanges, got $shuffles:\n${p.take(4500)}")
    assert("hashpartitioning\\(id#".r.findFirstIn(p).isEmpty,
      s"corpus side must never shuffle:\n${p.take(4500)}")
    // the candidate (pool) shuffle carries quantized bytes only: the
    // full-precision vectors enter via the bucketed re-join
    val poolSection = p.substring(p.indexOf("Exchange hashpartitioning"))
    assert(poolSection.contains("vec_sq8"), s"pool stage not quantized:\n${p.take(3500)}")
  }

  test("v27 PQ kNN: codes and ADC tables computed scan-side, one bounded exchange") {
    val p = plan("v27_pq_knn")
    // encode/table are projections directly over the scans (map-only);
    // the only rows crossing the join and the top-k exchange are
    // (query_id, neighbor_id, distance) — embeddings never leave the scan
    assert(p.contains("pq_encode") && p.contains("pq_adc_table") && p.contains("pq_adc_lookup"),
      s"PQ expressions missing from plan:\n${p.take(3000)}")
    assert("Project \\[query_id#\\d+L?, neighbor_id#\\d+L?, pq_adc_lookup".r.findFirstIn(p).isDefined,
      s"join output must carry only (ids, distance):\n${p.take(3500)}")
    assert(p.contains("WindowGroupLimit"), s"no WindowGroupLimit:\n${p.take(3000)}")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles == 1, s"expected 1 hash Exchange, got $shuffles:\n${p.take(3000)}")
    assert(p.contains("PushedFilters: [IsNotNull(vec_id)"),
      s"vec_id filter not pushed to scan:\n${p.take(3000)}")
  }

  test("v29 IVF-PQ: cell argmin and codes scan-side, ADC-table-only broadcast, one exchange") {
    val p = plan("v29_ivfpq")
    // both quantizers run as projections over the scans: the coarse cell
    // argmin and the PQ encode on the corpus side, the ADC table on the
    // query side — embeddings never survive past their scan's project
    assert(p.contains("nearest_centroids") && p.contains("pq_encode")
      && p.contains("pq_adc_table") && p.contains("pq_adc_lookup"),
      s"quantizer expressions missing from plan:\n${p.take(3500)}")
    // the broadcast carries (query_id, cell, ADC table) — never q_embedding
    val bcast = p.substring(p.indexOf("BroadcastExchange"))
    assert(!bcast.contains("q_embedding"),
      s"query embeddings leaked into the probe broadcast:\n${p.take(4000)}")
    assert(p.contains("WindowGroupLimit"), s"no WindowGroupLimit:\n${p.take(3000)}")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles == 1, s"expected 1 hash Exchange, got $shuffles:\n${p.take(3500)}")
  }

  test("v30 residual IVF-PQ: residuals stay scan-side projections, corpus never shuffles, one exchange") {
    val p = plan("v30_ivfpq_residual")
    // residual = zip_with(x, centroid) is a projection under the encode;
    // both quantizers and the ADC table remain scan-side expressions
    assert(p.contains("nearest_centroids") && p.contains("pq_encode")
      && p.contains("pq_adc_table") && p.contains("pq_adc_lookup"),
      s"quantizer expressions missing from plan:\n${p.take(3500)}")
    assert(p.contains("zip_with"),
      s"residual subtraction missing from plan:\n${p.take(3500)}")
    // the probe join's output carries only (ids, distance): embeddings
    // and residuals never cross the top-k exchange
    assert("Project \\[query_id#\\d+L?, neighbor_id#\\d+L?, pq_adc_lookup".r.findFirstIn(p).isDefined,
      s"join output must carry only (ids, distance):\n${p.take(4000)}")
    assert(p.contains("WindowGroupLimit"), s"no WindowGroupLimit:\n${p.take(3000)}")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles == 1, s"expected 1 hash Exchange, got $shuffles:\n${p.take(3500)}")
    assert("hashpartitioning\\(id#".r.findFirstIn(p).isEmpty,
      s"corpus side must never shuffle:\n${p.take(4000)}")
  }

  test("v31 binary kNN: sign bits packed scan-side, one bounded exchange") {
    val p = plan("v31_binary_knn")
    // vec_bits runs as a projection over each scan (map-only, 1 bit/dim);
    // only (query_id, neighbor_id, int distance) cross the join and the
    // top-k exchange — embeddings never leave their scan
    assert(p.contains("vec_bits") && p.contains("vec_hamming"),
      s"binary codec expressions missing from plan:\n${p.take(3000)}")
    assert("Project \\[query_id#\\d+L?, neighbor_id#\\d+L?, vec_hamming".r.findFirstIn(p).isDefined,
      s"join output must carry only (ids, distance):\n${p.take(3500)}")
    assert(p.contains("WindowGroupLimit"), s"no WindowGroupLimit:\n${p.take(3000)}")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles == 1, s"expected 1 hash Exchange, got $shuffles:\n${p.take(3000)}")
    assert(p.contains("PushedFilters: [IsNotNull(vec_id)"),
      s"vec_id filter not pushed to scan:\n${p.take(3000)}")
  }

  test("v32 binary rerank: Hamming pool + bucketed SMJ rerank, corpus never shuffles") {
    val p = plan("v32_binary_rerank")
    assert(p.contains("vec_bits") && p.contains("vec_hamming"),
      s"binary codec expressions missing from plan:\n${p.take(3000)}")
    // stage 2 rides the id-bucketed corpus through a sort-merge join —
    // not a corpus broadcast, and never a corpus-id shuffle
    assert("SortMergeJoin \\[neighbor_id#\\d+L?\\], \\[id#".r.findFirstIn(p).isDefined,
      s"rerank join is not an SMJ on (neighbor_id, id):\n${p.take(4500)}")
    assert(p.contains("SelectedBucketsCount") || p.contains("Bucketed: true"),
      s"rerank corpus scan not bucketed:\n${p.take(4500)}")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles == 3, s"expected 3 hash Exchanges, got $shuffles:\n${p.take(4500)}")
    assert("hashpartitioning\\(id#".r.findFirstIn(p).isEmpty,
      s"corpus side must never shuffle:\n${p.take(4500)}")
  }

  test("v24 filtered kNN pushes the label predicate through the custom operator") {
    // the initial AQE plan still shows the logical KnnCandidates node
    // (KnnStrategy plans it at execution — v11's oracle proves that path)
    val p = plan("v24_filtered_knn")
    assert(p.contains("KnnCandidates"), s"custom operator missing:\n${p.take(3000)}")
    assert(p.contains("EqualTo(label,3)"),
      s"label filter not pushed to the parquet scan:\n${p.take(4000)}")
  }

  test("t10 heavy hitters aggregates partial-then-final (bounded summaries)") {
    // the token stream must fold into per-partition Space-Saving summaries
    // BEFORE the exchange — the shuffle carries <= capacity counters per
    // partition, never the exploded token stream
    val p = plan("t10_heavy_hitters")
    assert(p.contains("partial_heavy_hitters"),
      s"no map-side partial summary:\n${p.take(3000)}")
    assert(p.contains("ObjectHashAggregate"), s"not object-hash agg:\n${p.take(3000)}")
  }

  test("b4 range join plans as a binned equi-join, not a nested loop") {
    val p = plan("b4_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop join:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct"), s"cartesian join:\n${p.take(3000)}")
  }

  test("t11 unigram LM never forces a broadcast of the unbounded vocab") {
    // the whitespace-token vocab is unbounded on web-scale text, so the
    // scoring join must not carry a broadcast HINT — with stats-based
    // auto-broadcast disabled (what 100 TB stats do on their own), the
    // vocab join has to plan as a distributed shuffle join; the only
    // broadcast left is the genuinely scalar total-count row
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan("t11_unigram_lm")
      assert(!p.contains("BroadcastHashJoin"),
        s"vocab join still broadcasts with auto-broadcast off:\n${p.take(3500)}")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"expected a distributed vocab join:\n${p.take(3500)}")
      // the scalar n row still broadcasts (nested-loop over 1 row is fine)
      assert(p.contains("BroadcastNestedLoopJoin"),
        s"scalar total-count row should broadcast:\n${p.take(3500)}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("t13 TF-IDF keeps the vocab-sized DF join distributed") {
    // same contract as t11: the document-frequency table is vocab-sized
    // (unbounded on raw text), so with stats-based auto-broadcast off the
    // DF join must shuffle; only the one-row corpus count broadcasts
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan("t13_tfidf")
      assert(!p.contains("BroadcastHashJoin"),
        s"DF join still broadcasts with auto-broadcast off:\n${p.take(3500)}")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"expected a distributed DF join:\n${p.take(3500)}")
      assert(p.contains("BroadcastNestedLoopJoin"),
        s"scalar doc-count row should broadcast:\n${p.take(3500)}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("v46 BM25 leg: vocab-df join distributed, query tokens and stats broadcast") {
    // the t11/t13 contract applied to BM25: the df table is vocab-sized
    // (unbounded on raw text), so with stats-based auto-broadcast off the
    // postings-df join must shuffle; the bounded query-token set and the
    // one-row (N, avgdl) stats keep their explicit broadcast hints
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan("v46_hybrid_bm25")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"expected a distributed df join:\n${p.take(3500)}")
      assert(p.contains("BroadcastHashJoin"),
        s"query-token set should keep its broadcast hint:\n${p.take(3500)}")
      assert(p.contains("BroadcastNestedLoopJoin"),
        s"one-row stats should broadcast:\n${p.take(3500)}")
      // the per-query top-N truncates map-side before the exchange
      assert(p.contains("WindowGroupLimit"), s"expected WindowGroupLimit:\n${p.take(3500)}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("v14 IVF assigns cells without shuffling the corpus") {
    val p = plan("v14_ivf_ann")
    // one row_number window (final per-query top-k) — assignment and
    // query routing are per-row argmin/sort over the literal centroid
    // list, so the corpus-side crank/qcell windows must be gone
    val windows = "\\bWindow\\b".r.findAllIn(p).size
    assert(windows == 1, s"expected exactly 1 Window op, got $windows:\n${p.take(3000)}")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles == 1,
      s"expected exactly 1 hash Exchange (final top-k window), got $shuffles:\n${p.take(3000)}")
  }

  test("d15 semantic dedup: argmin assignment scan-side, keep rule has no window") {
    val p = plan("d15_semdedup")
    // cell assignment is the per-row codegen argmin — no window/shuffle
    // to assign, and the keep rule is a struct-min AGGREGATE (partial
    // map-side), never a per-cell window sort
    assert(p.contains("nearest_centroids"), s"expected argmin assignment:\n${p.take(3000)}")
    assert(!p.contains("Window"), s"keep rule must not be a window:\n${p.take(3000)}")
    assert(p.contains("partial_min"), s"expected map-side partial struct-min:\n${p.take(3000)}")
  }

  test("d16 normalized dedup: one digest shuffle, no join, partial aggregate") {
    val p = plan("d16_norm_dedup")
    assert(!p.toLowerCase.contains("join"), s"d16 must be join-free:\n${p.take(2000)}")
    assert(p.contains("partial_min"), s"expected partial aggregate:\n${p.take(2000)}")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles == 1,
      s"expected exactly 1 hash Exchange (digest groupBy), got $shuffles:\n${p.take(2000)}")
  }

  test("d15 hot-cell skew: AQE actually splits the skewed cell self-join") {
    // Dedup.semanticDedupRemovals names AQE skew-join as the hot-cell
    // knob; this is the evidence it ENGAGES. One deliberately hot cell:
    // 95% of vectors sit in a tight ball at the origin, the id-stride
    // centroids all land in the far cold ball, so every hot vector
    // argmin-routes to ONE cell. Thresholds are scaled down to the
    // fixture; the one production delta is forceOptimizeSkewedJoin=true,
    // required because the keep-rule aggregate legally reuses the join's
    // cell partitioning (no post-join exchange), so the conservative
    // default would decline the split — documented in the scaladoc.
    val s = spark
    import s.implicits._
    // centroid sample ids are 0,500,...,3500 (id-stride (3999+8)/8=500);
    // id 500 sits IN the hot ball, so all 3993 hot vectors argmin-route
    // to cell 500 while the 7 cold outliers spread over the other cells
    val emb = s.range(4000).map { i =>
      val r = new scala.util.Random(i)
      val cold = i % 500 == 0 && i != 500
      val base = if (cold) 10f else 0f
      (i, Array.fill(8)(base + r.nextFloat() * 0.1f))
    }.toDF("vec_id", "embedding")
    val conf = s.conf
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.forceOptimizeSkewedJoin",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.enabled")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16384")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16384")
      conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = graft.operators.Dedup.semanticDedupRemovals(
        emb, numCells = 8, threshold = 0.9999)
      // collect, not count: count() plans a NEW query, and AQE finalizes
      // (and skew-splits) only the execution actually run
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("isFinalPlan=true"), s"AQE did not finalize:\n${p.take(2000)}")
      assert(p.contains("skew=true"),
        s"expected the hot cell join to split (skew=true) in:\n${p.take(4000)}")
      // both sides of the self-join split: Spark pairs left sub-splits
      // with right duplicates, so a both-sides-hot partition still divides
      assert(p.contains("skewed"), s"expected skewed AQEShuffleRead:\n${p.take(4000)}")
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _))
    }
  }

  test("v42 hybrid RRF bounds the lexical leg with a partial WindowGroupLimit") {
    val p = plan("v42_hybrid_rrf")
    // each leg's per-query top-N must truncate map-side before its
    // exchange, and the lexical overlap count must partial-aggregate
    assert(p.contains("WindowGroupLimit"), s"expected WindowGroupLimit:\n${p.take(3000)}")
    assert("Partial".r.findAllIn(p).nonEmpty, s"expected partial window limit:\n${p.take(3000)}")
    assert(p.contains("partial_count"), s"expected map-side overlap counts:\n${p.take(3000)}")
  }

  test("t20 source cap pre-cuts each map task with a partial WindowGroupLimit") {
    // the C4 per-domain cap must never sort globally: the rank<=cap
    // filter has to plan as a Partial WindowGroupLimit BEFORE the
    // source-keyed exchange, so the shuffle carries <= sources x cap x
    // tasks rows at any corpus size
    val p = plan("t20_source_cap")
    assert(p.contains("WindowGroupLimit"), s"expected WindowGroupLimit:\n${p.take(3000)}")
    assert(p.contains("Partial"), s"expected the map-side partial cut:\n${p.take(3000)}")
  }

  test("t21 bigram LM keeps all three vocab-sized joins distributed") {
    // the t11/t13 contract, one order up: bigram counts AND both unigram
    // count joins are vocab-sized (unbounded on raw text) — with
    // stats-based auto-broadcast off every one of them must shuffle;
    // the only broadcast left is the scalar total-count row
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan("t21_bigram_lm")
      assert(!p.contains("BroadcastHashJoin"),
        s"a vocab-sized join still broadcasts with auto-broadcast off:\n${p.take(3500)}")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"expected distributed count joins:\n${p.take(3500)}")
      assert(p.contains("BroadcastNestedLoopJoin"),
        s"scalar total-count row should broadcast:\n${p.take(3500)}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("b6 z-order top-k plans as TakeOrderedAndProject, key is pure projection") {
    // the clustering key must be map-side arithmetic and the cut a
    // partial top-k — a global Sort or a Window here would drag the
    // whole table through one partition
    val p = plan("b6_zorder")
    assert(p.contains("TakeOrderedAndProject"), s"expected partial top-k:\n${p.take(3000)}")
    assert(!p.contains("Window"), s"no window should appear:\n${p.take(3000)}")
  }

  test("p3 profiler reads the table once and partial-aggregates") {
    // the one-pass claim: a single parquet scan feeds one partial+final
    // aggregate; per-column metrics must not each rescan the table
    val p = plan("p3_profile")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans === 1, s"expected exactly one scan, got $scans:\n${p.take(3000)}")
    assert(p.contains("partial"), s"expected map-side partial aggregation:\n${p.take(3000)}")
  }

  test("dynamic partition pruning engages on a partitioned fact scan") {
    // the 100 TB read-path move the testdata can't show (it ships flat
    // files): a fact table PARTITIONED on a key joined to a filtered dim
    // must prune fact partitions at RUNTIME from the dim-side filter —
    // scanning 4 of 100 date partitions, not all of them. Written here
    // as a real partitioned parquet table so the plan carries
    // dynamicpruning subqueries instead of a full scan.
    withTempDir("graft_dpp_") { root =>
      val dir = s"$root/fact"
      import spark.implicits._
      import org.apache.spark.sql.functions.col
      spark.range(2000)
        .select(col("id"), (col("id") % 20).as("pk"), (col("id") * 3).as("v"))
        .write.mode("overwrite").partitionBy("pk").parquet(dir)
      val fact = spark.read.parquet(dir)
      // DPP inserts the pruning subquery only when the dim side carries a
      // SELECTIVE predicate over a real scan (a local relation folds the
      // filter away and never qualifies), and the key types must line up
      // with the partition column (read back as int) so the join key is
      // the partition attribute itself, not a cast
      val dimDir = s"$root/dim"
      Seq((3, "keep"), (7, "keep"), (9, "drop")).toDF("pk", "tag")
        .write.mode("overwrite").parquet(dimDir)
      val dim = spark.read.parquet(dimDir)
        .filter(org.apache.spark.sql.functions.col("tag") === "keep")
      val saved = spark.conf.get("spark.sql.optimizer.dynamicPartitionPruning.enabled")
      try {
        spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
        val q = fact.join(dim, "pk").agg(org.apache.spark.sql.functions.sum("v"))
        val p = q.queryExecution.executedPlan.toString
        assert(p.contains("dynamicpruning"),
          s"expected a dynamicpruning subquery on the fact scan:\n${p.take(3000)}")
        // and the pruned result is still correct
        val expect = (0L until 2000L).filter(i => i % 20 == 3 || i % 20 == 7).map(_ * 3).sum
        assert(q.as[Long].head() === expect)
      } finally spark.conf.set(
        "spark.sql.optimizer.dynamicPartitionPruning.enabled", saved)
    }
  }

  test("bm25Serve over a snapshot prunes bucket dirs AND pushes In(tok)") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sfDir)
    val q = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"), col("text"))
    val c = docs.filter(col("doc_id") >= 10).select(col("doc_id"), col("text"))
    val (index, stats) = graft.operators.HybridRetrieval.bm25Index(c)
    val (pieces, dfTable, st) = graft.operators.HybridRetrieval.bm25SnapshotPieces(c)
    withTempDir("graft_planshape_bm25_") { dir =>
      graft.operators.HybridRetrieval.saveBm25Index(pieces, dfTable, st, dir,
        tokBuckets = 16)
      // the loaded JOINED view: serve predicates must push through the
      // postings-df join into BOTH parquet scans (the split must not
      // cost the pruning)
      val (li, ls) = graft.operators.HybridRetrieval.loadBm25Index(spark, dir)
      val serve = graft.operators.HybridRetrieval.bm25Serve(q, li, ls, n = 5)
      val p = serve.queryExecution.executedPlan.toString
      // directory-level pruning: the batch's token buckets reach BOTH
      // scans as partition filters (the O(matched-postings) serve shape)
      val partFilters = "PartitionFilters: \\[[^\\]]*tok_bkt".r.findAllIn(p).toSeq
      assert(partFilters.size >= 2,
        s"tok_bkt must prune BOTH the postings and df scans, found " +
          s"${partFilters.size}:\n${p.take(3000)}")
      // row-group pruning inside surviving buckets: the In(tok, …) set is
      // pushed to parquet on both sides (tok-sorted min/max + dictionary)
      val pushed = "PushedFilters: \\[[^\\]]*In\\(tok".r.findAllIn(p).toSeq
      assert(pushed.size >= 2,
        s"In(tok, …) must be pushed to BOTH scans, found ${pushed.size}:\n${p.take(3000)}")
      // and the pruned serve returns exactly the unpruned in-session ranking
      val full = graft.operators.HybridRetrieval.bm25Serve(
        q, index, stats, n = 5)
      assert(serve.orderBy("query_id", "lex_rank").collect().toSeq ===
        full.orderBy("query_id", "lex_rank").collect().toSeq)
      // the two-phase split serve agrees too (and prunes its posting scan)
      val snap = graft.operators.HybridRetrieval.openBm25Index(spark, dir)
      val serve2 = graft.operators.HybridRetrieval.bm25Serve(q, snap, n = 5)
      val p2 = serve2.queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[[^\\]]*tok_bkt".r.findFirstIn(p2).isDefined,
        s"two-phase posting scan lost its partition pruning:\n${p2.take(3000)}")
      assert(serve2.orderBy("query_id", "lex_rank").collect().toSeq ===
        full.orderBy("query_id", "lex_rank").collect().toSeq)
    }
  }
}
