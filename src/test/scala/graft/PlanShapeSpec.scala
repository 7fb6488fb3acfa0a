package graft

import org.apache.spark.sql.DataFrame

/** Physical-plan shape regression specs: the scale properties the 100 TB
  * design depends on, asserted against the planner's actual output so a
  * refactor can't silently regress them (round 2's cache()→localCheckpoint
  * swap was exactly such a silent plan regression).
  *
  * Checks run on the pre-AQE `sparkPlan` at sf0.001 — shape, not timing:
  *   - dimension joins broadcast (no event-side shuffle),
  *   - filters and projections reach the parquet scan (PushedFilters /
  *     ReadSchema),
  *   - map-side-only operators plan zero data shuffles (their only
  *     Exchange is the range partitioning for the deterministic ORDER BY),
  *   - aggregations are two-phase (partial map-side combine before the
  *     exchange).
  */
class PlanShapeSpec extends SparkSpec {

  // executedPlan (pre-AQE-finalization): EnsureRequirements has inserted
  // the Exchange nodes, which sparkPlan does not yet carry.
  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf()).queryExecution.executedPlan.toString

  private def exchanges(p: String): Seq[String] =
    p.linesIterator.filter(_.contains("Exchange")).map(_.trim).toSeq

  test("q10 hydration join broadcasts the dimension — no event-side shuffle") {
    val p = plan("q10_hydration_join")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"dimension join must not sort-merge:\n$p")
  }

  test("flagship entry broadcasts the customer dimension") {
    val p = SparkEntry.entry(spark).queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q1 operation filter is pushed to the parquet scan and columns pruned") {
    val p = plan("q1_op_filter")
    assert(p.contains("PushedFilters: [In(event_type"), s"filter not pushed:\n$p")
    // projection pruning: the scan must not read props/ts (unused in q1)
    val scanLine = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!scanLine.contains("props"), s"scan reads unused column props:\n$scanLine")
  }

  test("q4 delta scan pushes the offset range predicate") {
    val p = plan("q4_delta_scan")
    assert(p.contains("PushedFilters: [") && p.contains("GreaterThan(event_id"),
      s"offset predicate not pushed:\n$p")
  }

  test("map-side text operators shuffle only for the deterministic ORDER BY") {
    // p15 joined this set when WordRepStats replaced its explode+agg+join
    // formulation (four hash exchanges) with a per-row pass
    for (q <- Seq("p1_text_stats", "p2_quality_score", "p3_langid",
      "p15_repetition", "p16_hash_split")) {
      val ex = exchanges(plan(q))
      assert(ex.size == 1 && ex.head.contains("rangepartitioning"),
        s"$q should be map-side pure + one range exchange, got:\n${ex.mkString("\n")}")
    }
  }

  test("p4/p14 heavy kernel stacks: adaptive scan spread + one range ORDER BY") {
    // r16: the fingerprint/simhash/rollhash and regex-redact stacks gained
    // a scale-adaptive Scans.spread (single-row-group local scans would
    // otherwise run the kernels in ONE task); the spread must plan as a
    // round-robin repartition, never a hash exchange of derived columns,
    // and the only other exchange stays the deterministic ORDER BY.
    // r17 (review item): assert the ADAPTIVE contract, not a fixture
    // constant — spread is a deliberate no-op when the scan already
    // arrives at ≥ the session's parallelism, so the expected round-robin
    // count derives from the fixture's actual scan partitioning
    val scanParts = Tables.documents(spark, sf()).rdd.getNumPartitions
    val expectSpread =
      if (scanParts < spark.sparkContext.defaultParallelism) 1 else 0
    for (q <- Seq("p4_fingerprint", "p14_redact")) {
      val ex = exchanges(plan(q))
      assert(ex.size == 1 + expectSpread &&
        ex.count(_.contains("RoundRobinPartitioning")) == expectSpread &&
        ex.count(_.contains("rangepartitioning")) == 1,
        s"$q should be spread(adaptive ×$expectSpread) + map-side kernels + " +
          s"one range exchange, got:\n${ex.mkString("\n")}")
    }
  }

  test("p5 exact dedup is a two-phase aggregation on the 16-byte fingerprint") {
    val p = plan("p5_dedup_exact")
    assert(p.contains("partial_"), s"no map-side partial aggregation:\n$p")
    val ex = exchanges(p)
    // one hash exchange for the groupBy(fp), one range for the ORDER BY
    assert(ex.count(_.contains("hashpartitioning")) == 1, ex.mkString("\n"))
    // the shuffle key is the fingerprint, never the full text
    assert(ex.find(_.contains("hashpartitioning")).get.contains("fp"), ex.mkString("\n"))
  }

  test("q6 latest-state replay is a single keyed exchange (window, no re-shuffle)") {
    val ex = exchanges(plan("q6_latest_state"))
    assert(ex.count(_.contains("hashpartitioning")) == 1, ex.mkString("\n"))
  }

  test("q7 per-op counters: partial aggregation before the single hash exchange") {
    val p = plan("q7_op_counters")
    assert(p.contains("partial_count"), s"no map-side combine:\n$p")
    assert(exchanges(p).count(_.contains("hashpartitioning")) == 1)
  }

  test("p17 pipeline rollup: one low-cardinality hash exchange, partial agg") {
    val p = plan("p17_pipeline")
    assert(p.contains("partial_"), s"no map-side combine:\n$p")
    assert(exchanges(p).count(_.contains("hashpartitioning")) == 1,
      exchanges(p).mkString("\n"))
  }

  test("q17 as-of join plans two keyed exchanges and no join node") {
    val p = plan("q17_asof_join")
    assert(!p.contains("Join"), s"as-of hydration must not plan a join:\n$p")
    // signup (user_id, ts) dedupe window + the as-of key window
    assert(exchanges(p).count(_.contains("hashpartitioning")) == 2,
      exchanges(p).mkString("\n"))
  }

  test("p18 vocab top-k plans TakeOrderedAndProject, not a global sort") {
    val p = plan("p18_vocab_topk")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
    assert(p.contains("partial_count"), s"no map-side combine:\n$p")
    assert(!exchanges(p).exists(_.contains("rangepartitioning")),
      s"top-k must not global-sort:\n${exchanges(p).mkString("\n")}")
  }

  test("p19 decontamination: AQE converts the small held-out probe to broadcast at runtime") {
    // no hard broadcast() hint (it would die on the 8 GB ceiling for big
    // probes) — assert the ADAPTIVE decision on the executed final plan
    val df = SparkEntry.queries("p19_contamination")(spark, sf())
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"))
    assert(p.contains("BroadcastHashJoin"), s"AQE did not broadcast the probe side:\n$p")
  }

  test("p30 keeper selection: one corpus pass — single broadcast left join, single keeper aggregation") {
    // r17 keepBest shape: the quality kernel runs ONCE (one left
    // broadcast join tags docs with their cluster; singletons fold into
    // the same struct-min aggregation) — the former keeper-join +
    // singleton-anti-join pair evaluated the per-doc quality kernel over
    // the corpus twice
    val df = SparkEntry.queries("p30_dedup_keep")(spark, sf())
    df.collect()
    val whole = df.queryExecution.executedPlan.toString
    assert(whole.contains("isFinalPlan=true"))
    // the adaptive plan string carries the pre-adaptive "Initial Plan"
    // section too — assert only on what actually ran
    val p = whole.split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastHashJoin"), s"clustered set not broadcast:\n$p")
    assert(!p.contains("LeftAnti"),
      s"one-pass keeper selection needs no anti-join (quality kernel would run twice):\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no join in keeper selection may sort-merge the corpus:\n$p")
    // exactly one evaluation of the quality kernel over the corpus
    assert(p.sliding("word_stats".length).count(_ == "word_stats") == 1,
      s"quality kernel must be evaluated once:\n$p")
  }

  test("q26 snapshot diff: one full-outer join on the PK, no window or extra exchange") {
    val p = plan("q26_snapshot_diff")
    assert(p.contains("FullOuter"), s"diff must be a full-outer join:\n$p")
    assert(!p.contains("WindowExec") && !p.contains("window"),
      s"diff needs no window:\n$p")
    // both snapshots exchange once on the key; the final orderBy adds its
    // range exchange — nothing else may shuffle
    assert(exchanges(p).size <= 3, s"unexpected exchanges:\n${exchanges(p)}")
  }

  test("p31 vocab coverage: top-K vocab via TakeOrderedAndProject, rank table broadcast") {
    val p = plan("p31_vocab_coverage")
    assert(p.contains("TakeOrderedAndProject"),
      s"vocab top-K must be a heap take, not a global sort:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"K-row vocab must broadcast:\n$p")
  }

  test("p35 vocab drift: top-k is a heap take, token totals broadcast (no driver collect)") {
    val p = plan("p35_vocab_drift")
    assert(p.contains("TakeOrderedAndProject"),
      s"drift top-k must be a heap take, not a global sort:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the one-row token totals must broadcast:\n$p")
  }

  test("p9 brute knn broadcasts the query side — the corpus never shuffles") {
    val p = plan("p9_embed_knn")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"query side not broadcast:\n$p")
  }

  test("p58 decontamination: test suite broadcast onto the corpus cells, best-hit fold is two-phase") {
    val p = plan("p58_sem_contamination")
    assert(p.contains("BroadcastHashJoin"),
      s"probed test suite not broadcast (corpus would shuffle):\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus-side shuffle join crept in:\n$p")
    assert(p.contains("partial_max") || p.contains("partial_finalmerge") ||
      p.linesIterator.exists(l => l.contains("HashAggregate") && l.contains("partial")),
      s"per-vector best-hit fold is not two-phase (map-side combine missing):\n$p")
  }

  test("p59 IVF-ADC: probed queries broadcast onto the compressed index — no corpus shuffle join") {
    val p = plan("p59_embed_pq_knn")
    assert(p.contains("BroadcastHashJoin"),
      s"probed query side not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus-side shuffle join crept in:\n$p")
    assert(p.contains("pq_adc_score"),
      s"ADC scoring is not riding the kernel:\n$p")
  }

  test("CEP patterns shuffle once on the key; no unbounded-following frame") {
    for (q <- Seq("q13_pattern_seq", "q14_pattern_absence", "q19_pattern_count_seq")) {
      val p = plan(q)
      val ex = exchanges(p)
      assert(ex.count(_.contains("hashpartitioning")) == 1,
        s"$q should shuffle exactly once on the key:\n${ex.mkString("\n")}")
      // the first-following-B min must be framed as a growing frame
      // (incremental update); an unbounded-following frame recomputes the
      // aggregate per row — O(rows²) per key partition
      assert(!p.contains("unboundedfollowing$()"),
        s"$q plans an O(rows²) unbounded-following frame:\n$p")
    }
  }

  test("q21 chain: both window passes share ONE keyed exchange, growing frames only") {
    val p = plan("q21_pattern_chain")
    val ex = exchanges(p)
    assert(ex.count(_.contains("hashpartitioning")) == 1,
      s"chain should shuffle exactly once on the key:\n${ex.mkString("\n")}")
    assert(!p.contains("unboundedfollowing$()"),
      s"chain plans an O(rows²) unbounded-following frame:\n$p")
  }

  test("q22 guarded sequence: the range join shuffles each side once, partial-aggs the argmin") {
    val p = plan("q22_pattern_guard")
    assert(p.contains("partial_min"), s"argmin without map-side combine:\n$p")
    val ex = exchanges(p)
    // two inputs onto the key + one for the groupBy(a_id...) argmin; the
    // ORDER BY range exchange rides on top
    assert(ex.count(_.contains("hashpartitioning")) <= 3,
      s"guarded join shuffles too much:\n${ex.mkString("\n")}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"guard must stay an equi-join on the key:\n$p")
  }

  test("p23 token quantiles: partial agg collapses rows before any shuffle") {
    val p = plan("p23_token_dist")
    assert(p.contains("partial_count"), s"histogram not built map-side:\n$p")
    assert(!p.contains("SinglePartition"), s"quantiles funnel through one partition:\n$p")
  }

  test("p24 keywords: partial aggs everywhere, per-doc top-k has no global sort") {
    val p = plan("p24_keywords")
    assert(p.contains("partial_count"), s"tf counts not partial-agg'd:\n$p")
    // the only range exchange is the deterministic ORDER BY of the output
    assert(exchanges(p).count(_.contains("rangepartitioning")) == 1,
      s"unexpected global sort:\n${exchanges(p).mkString("\n")}")
  }

  test("p27 sampling: rate tables broadcast, keep decision map-side (no sort-merge)") {
    val p = plan("p27_stratified_sample")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"group-count joins must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus must not shuffle for the rates:\n$p")
  }

  test("p28 packing: corpus window is block-partitioned, offsets broadcast") {
    val p = plan("p28_seq_packing")
    // the running sum over the corpus must carry the block partition key —
    // an unpartitioned window here would put the whole corpus on one task
    val windows = p.linesIterator.filter(_.contains("Window")).toSeq
    assert(windows.exists(_.contains("_blk")), s"no block-partitioned window:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"seam offsets must broadcast:\n$p")
  }

  test("p29 source report: partial aggs collapse cardinality before both exchanges") {
    val p = plan("p29_source_report")
    assert(p.contains("partial_"), s"no map-side combine:\n$p")
    // (source, fp) dedup exchange + source rollup exchange — nothing else
    assert(exchanges(p).count(_.contains("hashpartitioning")) <= 2,
      exchanges(p).mkString("\n"))
  }

  test("scans project only needed columns (embeddings knn reads no extras)") {
    val p = plan("p9_embed_knn")
    val scans = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(scans.nonEmpty)
    // embeddings table: only vec_id + embedding are needed
    scans.foreach(s => assert(!s.contains("model"), s"unused column read:\n$s"))
  }

  test("p38 chunking is map-side: no data shuffle, scan reads only id + text") {
    val p = plan("p38_chunking")
    // the only exchange is the range partitioning for the ORDER BY
    assert(exchanges(p).count(_.contains("hashpartitioning")) === 0,
      exchanges(p).mkString("\n"))
    val scanLine = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!scanLine.contains("lang") && !scanLine.contains("source"),
      s"scan reads unused columns:\n$scanLine")
  }

  test("p39 mixture weights: partial agg to K group rows, denominator broadcast") {
    val p = plan("p39_mixture_weights")
    assert(p.contains("partial_"), s"no map-side combine:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"denominator must ride a broadcast, not a shuffle:\n$p")
  }

  test("p40 quantization is map-side: zero hash exchanges") {
    val p = plan("p40_embed_quant")
    assert(exchanges(p).count(_.contains("hashpartitioning")) === 0,
      exchanges(p).mkString("\n"))
  }

  test("q29/q30 windows partition by key — never a single-partition sort") {
    for (q <- Seq("q29_sort_window", "q30_frequent")) {
      val p = plan(q)
      assert(!p.contains("SinglePartition"), s"$q plans a global window:\n$p")
    }
    // q29's type filter reaches the scan
    val p29 = plan("q29_sort_window")
    assert(p29.contains("PushedFilters: [") && p29.contains("EqualTo(event_type"),
      s"purchase filter not pushed:\n$p29")
  }

  test("q32/q33 delay + lossy-frequent windows: keyed, partial-agg'd, never global") {
    for (q <- Seq("q32_delay_window", "q33_lossy_frequent")) {
      val p = plan(q)
      assert(!p.contains("SinglePartition"), s"$q plans a global window:\n$p")
    }
    // q33's counts collapse to cells map-side before any exchange
    assert(plan("q33_lossy_frequent").contains("partial_"))
  }

  test("q34 aggregation ladder: exactly two keyed exchanges (hour from rows, day from cells)") {
    val p = plan("q34_incremental_agg")
    assert(p.contains("partial_"), s"no map-side partial aggregation:\n$p")
    val ex = exchanges(p)
    assert(ex.count(_.contains("hashpartitioning")) == 2,
      s"ladder must cost one exchange per level:\n${ex.mkString("\n")}")
  }

  test("p42 line dedup: boilerplate set broadcasts back — corpus never sort-merges by line") {
    val p = plan("p42_line_dedup")
    assert(p.contains("BroadcastHashJoin"), s"verdict join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus must not shuffle by line text:\n$p")
  }

  test("p43 bigram LM: two-phase aggregation everywhere, no single-partition stage") {
    val p = plan("p43_bigram_lm")
    assert(p.contains("partial_"), s"no map-side partial aggregation:\n$p")
    assert(!p.contains("SinglePartition"), s"global stage in the model build:\n$p")
  }

  test("q35 maintained aggregation: no global stage anywhere in diff + fold + ladder") {
    val p = plan("q35_agg_maintain")
    assert(!p.contains("SinglePartition"), s"global stage in the maintained ladder:\n$p")
    assert(p.contains("partial_"), s"no map-side partial aggregation:\n$p")
  }

  test("q36 cohort similarity: histogram cells partial-agg before any join, keyed top-k window") {
    val p = plan("q36_user_similarity")
    assert(p.contains("partial_"), s"no map-side partial aggregation:\n$p")
    assert(!p.contains("SinglePartition"), s"global stage in cohort similarity:\n$p")
  }

  test("q37 cohort similarity LSH: one checkpointed index feeds all four probe sides") {
    // r16: the per-key LSH index is localCheckpoint'ed once and its four
    // consumers (corpus/query signatures, corpus/query histograms) read
    // the materialization as ExistingRDD scans instead of re-deriving
    // the events aggregation 2-4x (1.08 -> 0.50 s measured)
    val p = plan("q37_user_similarity_lsh")
    assert(p.contains("BroadcastHashJoin"), s"query sigs/hists must broadcast:\n$p")
    assert(p.split("Scan ExistingRDD").length - 1 >= 4,
      s"probe sides must consume the one checkpointed index:\n$p")
    assert(!p.contains("Scan parquet"),
      s"probe must not re-derive the index from the events scan:\n$p")
    assert(!p.contains("SinglePartition"), s"global stage in the LSH route:\n$p")
  }

  test("p46 span scrub: verdict set broadcasts back — corpus never sort-merges by window hash") {
    val p = plan("p46_span_scrub")
    assert(p.contains("BroadcastHashJoin"), s"verdict join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus must not shuffle by window hash:\n$p")
    // round-11 verdict shape: per-doc-distinct hashes come off the
    // anchor_window_hashes kernel map-side — the verdict build must not
    // re-grow its (doc, wh) distinct exchange (one hash-keyed exchange,
    // partial-agg'd, is the contract)
    assert(p.contains("anchor_window_hashes"), s"verdict must use the kernel:\n$p")
    assert(!exchanges(p).exists(e => e.contains("_wh") && e.contains(",")
        && e.contains("doc_id")),
      s"verdict build must never exchange on (doc, wh):\n${exchanges(p)}")
  }

  test("p24 keywords: tf is map-side (word_term_counts) — no (doc, word) exchange") {
    val p = plan("p24_keywords")
    assert(p.contains("word_term_counts"), s"tf must ride the kernel:\n$p")
    // the pre-r11 shape exchanged the exploded stream on (doc_id, word);
    // with the kernel the only hash exchanges key on the word (df) and
    // the doc id (top-k window)
    assert(!exchanges(p).exists(e =>
        e.contains("doc_id") && e.contains("word") && e.contains("hashpartitioning")),
      s"tf must not exchange on (doc_id, word):\n${exchanges(p)}")
  }

  test("p47 dsir / p51 novelty: per-doc terms are map-side (word_term_counts / array_distinct)") {
    // p47: the vocab build and model join-back carry (doc, distinct word)
    // kernel rows, never the occurrence stream
    val p47 = plan("p47_dsir_select")
    assert(p47.contains("word_term_counts"), s"dsir must ride the kernel:\n$p47")
    // p51: array_distinct is the per-doc distinct set (the set, not term
    // frequencies — the built-in beats the kernel there) — the exploded
    // form's global (doc, bigram) distinct exchange must not exist
    val p51 = plan("p51_ngram_novelty")
    assert(p51.contains("array_distinct"), s"novelty must dedup map-side:\n$p51")
    // column refs print as `_id#N` / `_bg#N`; a bare "_id" would also
    // match every node's `plan_id=` annotation
    assert(!exchanges(p51).exists(e => e.contains("_id#") && e.contains("_bg#")
        && e.contains("hashpartitioning")),
      s"novelty must never exchange on (doc, bigram):\n${exchanges(p51)}")
  }

  test("p44 mixture draw: weight table broadcasts, keep decision map-side") {
    val p = plan("p44_mixture_draw")
    assert(p.contains("BroadcastHashJoin"), s"rate join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus must not shuffle for the rate join:\n$p")
  }

  test("p47 DSIR: vocab model is two-phase, 1-row totals broadcast, no global stage") {
    val p = plan("p47_dsir_select")
    assert(p.contains("partial_"), s"no map-side partial aggregation:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"totals must reach the model as a broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"totals join must not cartesian:\n$p")
  }

  test("p48 KMV sketch: distinct is two-phase partial; no global sort") {
    val p = plan("p48_distinct_sketch")
    assert(p.contains("partial_") || p.contains("HashAggregate"),
      s"distinct must partial-aggregate map-side:\n$p")
    // both top-k passes are per-group windows — a global Sort would mean
    // the salt-lane pruning collapsed to one partition
    assert(!p.contains("SinglePartition"), s"global stage in the sketch:\n$p")
  }

  test("p49 SemDeDup: pair scan is an equi-join on cell — never a cartesian product") {
    val p = plan("p49_semdedup")
    assert(!p.contains("CartesianProduct"), s"pair scan must stay within cells:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"pair scan must be an equi-join on cell:\n$p")
  }

  test("p56 two-level SemDeDup: same within-cell equi-join geometry; assignment is one kernel call") {
    val p = plan("p56_semdedup_two")
    assert(!p.contains("CartesianProduct"), s"pair scan must stay within cells:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"pair scan must be an equi-join on the global fine cell:\n$p")
    // the hierarchical assignment is ONE constant-size expression, not
    // an unrolled per-centroid projection or a codebook join (the routes
    // NearestCell's scaladoc rejected); codebook payloads are elided
    // from the rendering (a megabyte hex dump here would mean the
    // toString override regressed)
    assert(p.contains("nearest_cell_2("),
      s"assignment must ride the two-level kernel:\n$p")
    assert(p.length < 200000,
      s"plan rendering ballooned (codebook payload leaked into toString?): ${p.length} chars")
  }

  test("p50 CMS heavy hitters: cell table broadcasts, stream partial-aggregates") {
    val p = plan("p50_cms_heavy_hitters")
    assert(p.contains("BroadcastHashJoin"),
      s"the depth×width cell table must broadcast onto the probes:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the probe stream must never shuffle for the cell join:\n$p")
    assert(!p.contains("CartesianProduct"), s"totals must broadcast:\n$p")
    assert(p.contains("partial_"), s"no map-side partial aggregation:\n$p")
  }

  test("p51 novelty: partial aggs everywhere, no corpus-sized join product") {
    val p = plan("p51_ngram_novelty")
    assert(p.contains("partial_"), s"no map-side partial aggregation:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in the novelty plan:\n$p")
    // the InferFiltersFromGenerate trap (r13): explode over a plain
    // attribute gets a synthesized size filter that pushdown rewrites
    // into a THIRD in-plan bigram derivation (a Filter node carrying the
    // text-normalization expression — measured 2.89 -> 3.94 s at sf0.1).
    // The inline form keeps the derive count at exactly two: the explode
    // branch and the size branch.
    assertNoKernelFilters(p, "regexp_replace")
    // one operator node per line: the derive expression may only appear
    // under the explode branch's Generate and the size branch's Project
    val deriveLines = p.linesIterator.filter(_.contains("regexp_replace"))
      .map(_.dropWhile(c => !c.isLetter).takeWhile(_.isLetter)).toSeq
    assert(deriveLines.forall(op => op == "Generate" || op == "Project"),
      s"bigram derive leaked beyond the two branches: $deriveLines")
    assert(deriveLines.size <= 3, // Generate + Project (+1 alias repeat)
      s"expected two derive sites, saw ${deriveLines.size}: $deriveLines")
  }

  test("p33 bloom decontamination: map-side prune, test side broadcasts, no corpus sort") {
    val p = plan("p33_contamination_bloom")
    // the sketch prune must sit in a Filter over the train stream (the
    // map-side drop BEFORE any exchange), and the verify join must ride
    // the broadcast hint — a sort-merge here sorts the pruned-but-still-
    // corpus-sized train shingle stream
    assert(p.contains("bloom_contains") || p.contains("might_contain"),
      s"bloom prune missing from the train scan stage:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"held-out suite must broadcast into the verify join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"train shingles must never sort for the verify join:\n$p")
    assert(p.contains("partial_"), s"no map-side partial aggregation:\n$p")
    // GraftSession excludes InferFiltersFromGenerate: without that, the
    // synthesized size/isnotnull filters under each explode(shs) get
    // pushdown-substituted into scan-stage re-evaluations of the shingle
    // kernel (the r13 plan-wide audit finding)
    assertNoKernelFilters(p, "trigram_shingles")
  }

  /** No Filter node (or scan DataFilters entry) may carry `kernel` — a
    * filter that re-derives an exploded projection's expensive expression
    * is the InferFiltersFromGenerate + pushdown-substitution trap
    * (measured on p37's shape: 5.66 -> 3.53 s at x40 once removed).
    * Delegates to the shared [[graft.tools.KernelAudit]] matcher — the
    * r13 local predicate (`trim.startsWith("Filter")`) never matched a
    * real plan line; KernelAuditSpec's positive control guards the
    * shared one. */
  private def assertNoKernelFilters(p: String, kernel: String): Unit = {
    val deriving = graft.tools.KernelAudit.hits(p, Seq(kernel))
    assert(deriving.isEmpty,
      s"a Filter re-derives $kernel:\n${deriving.map(_._3).mkString("\n")}")
  }

  test("p37 cross-corpus probe: signature join sort-merges, verify joins never explode") {
    val p = plan("p37_dedup_cross_corpus")
    // the one large shuffle is the (band, sig) equi-join — merge-hinted
    // because Generate-fed sides carry no usable size estimate for AQE
    assert(p.contains("SortMergeJoin"),
      s"signature equi-join must sort-merge:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"cross-corpus probe must stay equi-joined:\n$p")
    // verification is per-row array_intersect over the candidate pairs —
    // no Generate may touch the shingle arrays after the candidate set
    val badGen = p.linesIterator.filter(_.contains("Generate "))
      .filter(l => l.contains("shs_a") || l.contains("shs_b")).toSeq
    assert(badGen.isEmpty, s"verify stage explodes arrays:\n${badGen.mkString("\n")}")
    // the candidate distinct is two-phase: a keys-only HashAggregate on
    // each side of its exchange (distinct plans functions=[], so there is
    // no partial_ marker to grep — count the nodes instead)
    assert(p.linesIterator.count(_.contains("HashAggregate(keys=[new_id")) >= 2,
      s"candidate distinct lost its map-side phase:\n$p")
    // both posexplode(bandsigs) sides must stay free of synthesized
    // filters that re-derive the signature kernel at the scan (the
    // finding that motivated GraftSession's InferFiltersFromGenerate
    // exclusion: 5.66 -> 3.53 s at x40)
    assertNoKernelFilters(p, "minhash_bands")
    assertNoKernelFilters(p, "trigram_shingles")
  }

  test("p12 IVF knn: probe side broadcasts — the indexed corpus never shuffles for the join") {
    val p = plan("p12_embed_ivf_knn")
    assert(p.contains("BroadcastHashJoin"),
      s"exploded probe cells must broadcast onto the inverted file:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus must not sort for the cell join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"cell join must stay an equi-join:\n$p")
  }

  test("p57 two-level knn: probe side broadcasts — the indexed corpus never shuffles for the join") {
    val p = plan("p57_embed_ivf2_knn")
    assert(p.contains("BroadcastHashJoin"),
      s"exploded probe cells must broadcast onto the two-level inverted file:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus must not sort for the cell join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"cell join must stay an equi-join:\n$p")
    assert(p.length < 200000,
      s"plan rendering ballooned (codebook payload leaked?): ${p.length} chars")
  }

  test("p52 containment: shuffled-hash inverted index, build on the test side, train never sorts") {
    val p = plan("p52_containment")
    // r15: hash-not-merge — the merge form sorted the corpus-sized
    // exploded train side (the x400 super-linearity: 3.42x per 4x data
    // vs 3.03x hashed, join volume exactly linear either way); the hint
    // is still explicit because Generate-fed sides carry no usable size
    // estimate for the planner
    assert(p.contains("ShuffledHashJoin"),
      s"shingle equi-join must shuffled-hash (build = 5% test side):\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the exploded train side must not sort:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"containment must stay an equi-join on the shingle key:\n$p")
    // build side must be the TEST explode: test is the join's RIGHT
    // side (train.join(test)) and carries the shuffle_hash hint, so the
    // planner must mark BuildRight — BuildLeft would hash the 90% train
    // explode instead (the OOM direction at scale)
    val joinLine = p.linesIterator.find(_.contains("ShuffledHashJoin")).get
    assert(joinLine.contains("BuildRight"),
      s"hash build must sit on the 5% test side (BuildRight):\n$joinLine")
  }

  test("p54 signature estimate: array-expression verify — no explode after the candidate set") {
    val p = plan("p54_minhash_estimate")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"estimation must stay equi-joined on the candidate ids:\n$p")
    // the match count and the intersection ride per-row array expressions;
    // the only Generates allowed are the signature/pair explodes BEFORE
    // the candidate set (lshCandidatePairs), i.e. none over mhs_/shs_ columns
    val badGen = p.linesIterator.filter(_.contains("Generate "))
      .filter(l => l.contains("mhs_") || l.contains("shs_")).toSeq
    assert(badGen.isEmpty, s"verify stage explodes arrays:\n${badGen.mkString("\n")}")
    // the r12 pruning contract: both verify sides semi-join to their
    // candidate id set BEFORE the component kernel runs (drops back to
    // corpus-wide kernels if someone removes the prune)
    assert(p.linesIterator.count(_.contains("LeftSemi")) >= 2,
      s"verify sides must be candidate-pruned via semi joins:\n$p")
  }

  test("p54 stage reuse: the thrice-referenced candidate subtree shuffles once") {
    // runtime guard, not a plan-string pin: p54's perf contract is that
    // AQE stage-reuse dedups the corpus-sized (band, sig) exchange the
    // candidate subtree ships, even though the plan references it three
    // times (verify driver + two semi-join prunes). Proven by listener
    // runs (26.6 vs 26.3 MB at x10, SURVEY.md round 12); this spec makes an
    // AQE/config change that silently re-executes it a test failure.
    val bytes = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        bytes.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val docs = Tables.documents(spark, sf())
      // the candidate subtree exactly as p54 builds it (bands = 8),
      // executed ONCE, as the byte baseline
      bytes.set(0)
      graft.functions.Dedup.lshCandidatePairs(
        graft.functions.Dedup.minhashSignatureRows(
          graft.functions.Dedup.shingleArrays(docs), 8)).count()
      drainListeners()
      val candsOnce = bytes.get()
      assert(candsOnce > 0L, "baseline run wrote no shuffle bytes")
      // the full estimator: with stage reuse its total shuffle is the
      // candidate subtree once plus candidate-sized extras; a reuse
      // regression re-executes the corpus-sized exchange three times
      bytes.set(0)
      val est = SparkEntry.queries("p54_minhash_estimate")(spark, sf())
      est.collect()
      drainListeners()
      val full = bytes.get()
      assert(full < 2L * candsOnce,
        f"p54 shuffled ${full / 1e6}%.1f MB vs candidate subtree " +
          f"${candsOnce / 1e6}%.1f MB — stage reuse regressed (3x re-execution reads ~3x)")
      // and the final adaptive plan must carry the reuse nodes themselves
      val fin = est.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan.treeString
        case p => p.treeString
      }
      val reused = "ReusedQueryStage|ReusedExchange".r.findAllIn(fin).size
      assert(reused >= 2,
        s"expected >= 2 reused stages in the final plan, got $reused:\n$fin")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("p53 collocations: top-k is a heap take, totals broadcast") {
    val p = plan("p53_collocations")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must be a TakeOrdered, not a global sort:\n$p")
    assert(!p.contains("CartesianProduct"), s"totals must broadcast:\n$p")
    assert(p.contains("partial_"), s"no map-side partial aggregation:\n$p")
  }
}
