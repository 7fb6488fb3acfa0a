package graft

import graft.tools.KernelAudit
import org.apache.spark.sql.functions._

/** Spec-level promotion of the [[graft.tools.KernelAudit]] dev sweep
  * (r13 found the InferFiltersFromGenerate + pushdown-substitution trap
  * twice; a committed tool only helps if someone runs it): every contract
  * query's executed plan is swept for kernel expressions evaluated inside
  * Filter nodes or scan DataFilters, against a pinned allowlist of
  * adjudicated benign hits. Any NEW (query, kernel) hit fails the build.
  *
  * Includes a positive control — the r13 matcher was vacuous
  * (`trim.startsWith("Filter")` never matches the `+- *(n) Filter`
  * rendering of executed-plan lines), so the p33/p37 pins silently
  * passed; the control plans a known-trap shape with the optimizer rule
  * re-enabled and requires the matcher to flag it. */
class KernelAuditSpec extends SparkSpec {

  /** Adjudicated benign (query -> kernels evaluated inside a filter):
    *   - p13/p49/p6/p12: InferFiltersFromConstraints isnotnulls over a
    *     DERIVED join key (isnotnull(sqrt(vec_dot(e,e))),
    *     isnotnull(size(trigram_shingles(text))), isnotnull of the
    *     nearest-cell argmin) — probed via the since-deleted
    *     ProbeFamily's `_noconstraints` lever in r13 and adjudicated
    *     harmless (SURVEY.md round 14): the rule's join-key
    *     isnotnulls are load-bearing in general, and the flagged scans
    *     re-pay only a cheap per-row guard, not a per-conjunct explode
    *     kernel (VERDICT r13 "probed and adjudicated harmless").
    *   - p17: the quality gate IS the query's user predicate — pushdown
    *     of the words/normText-derived score to the scan is the desired
    *     plan (one map-side pass), not a synthesized re-derive.
    *   - p52: the user's split-bucket predicate plus the constraints
    *     isnotnull over the shingle arrays, same class as p6.
    *   - p56: p49's class through the two-level quantizer — the
    *     constraints isnotnulls over BOTH derived join keys
    *     (isnotnull(sqrt(vec_dot(e,e))) for the norm,
    *     isnotnull(nearest_cell_2(...)) for the cell): cheap per-row
    *     guards at the scan, not per-conjunct explode kernels.
    *   - p12/p49 gained the same isnotnull(nearest_cell(...)) guard in
    *     r15 when assignment started riding the kernel at every k (the
    *     inline projection rendered the argmin as array_min, which the
    *     sweep never keyed on) — identical class, identical verdict. */
  private val Adjudicated: Map[String, Set[String]] = Map(
    "p12_embed_ivf_knn" -> Set("vec_dot", "nearest_cell"),
    "p13_dedup_embed" -> Set("vec_dot"),
    "p17_pipeline" -> Set("regexp_replace"),
    "p49_semdedup" -> Set("vec_dot", "nearest_cell"),
    "p52_containment" -> Set("trigram_shingles"),
    "p56_semdedup_two" -> Set("vec_dot", "nearest_cell_2"),
    "p57_embed_ivf2_knn" -> Set("nearest_cell_2"),
    "p58_sem_contamination" -> Set("vec_dot", "nearest_cell_2"),
    "p59_embed_pq_knn" -> Set("nearest_cell_2"),
    "p60_embed_pq_rerank" -> Set("nearest_cell_2"),
    "p6_dedup_ngram" -> Set("trigram_shingles"))

  test("positive control: the matcher flags a re-enabled InferFiltersFromGenerate trap plan") {
    val docs = Tables.documents(spark, sf()).select("doc_id", "text")
    val prev = spark.conf.get("spark.sql.optimizer.excludedRules", "")
    spark.conf.set("spark.sql.optimizer.excludedRules", "")
    try {
      // explode over a PROJECTED kernel attribute: the rule synthesizes
      // `isnotnull(shs) AND size(shs) > 0`, and pushdown substitutes the
      // shingle kernel into the scan-stage Filter — the exact r13 trap
      val trap = docs
        .select(col("doc_id"), call_function("trigram_shingles", col("text")).as("shs"))
        .select(col("doc_id"), explode(col("shs")).as("sh"))
      val p = trap.queryExecution.executedPlan.toString
      val hits = KernelAudit.hits(p, Seq("trigram_shingles"))
      assert(hits.nonEmpty,
        s"matcher went dead: known-trap plan produced zero hits\n$p")
      assert(hits.exists(h => h._3.contains("size(trigram_shingles")),
        s"expected the synthesized size filter among the hits:\n${hits.map(_._3).mkString("\n")}")
    } finally spark.conf.set("spark.sql.optimizer.excludedRules", prev)
  }

  test("kernel list derives from the extension registry: every registered function is swept and resolvable") {
    // the sweep list is GENERATED from GraftExtensions.registrations, so a
    // future kernel registered there is audited automatically — this pins
    // the derivation (a refactor back to a manual list fails here) and
    // that the registry names actually resolve in a live session
    GraftExtensions.FunctionNames.foreach { fn =>
      assert(KernelAudit.Kernels.contains(fn),
        s"registered function '$fn' missing from the KernelAudit sweep list")
      assert(spark.catalog.functionExists(fn),
        s"registry name '$fn' does not resolve in the session catalog")
    }
    // and the two non-registry extras are still present (composite +
    // expensive builtin)
    assert(KernelAudit.Kernels.contains("minhash_components"))
    assert(KernelAudit.Kernels.contains("regexp_replace"))
  }

  test("negative control: DataFilters kernels flag, ReadSchema/PushedFilters mentions do not") {
    val scanLine = "+- FileScan parquet [doc_id#1L,text#2] Batched: true, " +
      "DataFilters: [isnotnull(doc_id#1L)], Format: Parquet, " +
      "Location: InMemoryFileIndex(1 paths)[file:/tmp/trigram_shingles], " +
      "PushedFilters: [IsNotNull(doc_id)], ReadSchema: struct<vec_dot:bigint>"
    assert(KernelAudit.hits(scanLine).isEmpty,
      "kernel names outside the DataFilters payload must not flag")
    val hot = scanLine.replace("[isnotnull(doc_id#1L)]",
      "[isnotnull(size(trigram_shingles(text#2), false))]")
    assert(KernelAudit.hits(hot).map(_._2) == Seq("trigram_shingles"),
      "a kernel inside the DataFilters payload must flag")
    // truncated rendering (no `], Format:` tail): the depth-balanced
    // segment must stop at the payload's own `]`, never absorbing later
    // bracketed metadata (the r14 lastIndexOf fallback spanned to the
    // LAST `]` on the line — PushedFilters/Location text false-flagged)
    val truncated = "+- FileScan parquet [a#1] DataFilters: " +
      "[isnotnull(a#1)], PushedFilters: [In(a, [vec_dot(x,y)])]"
    assert(KernelAudit.hits(truncated).isEmpty,
      "segment absorbed bracketed metadata past the DataFilters payload")
    // nested brackets INSIDE the payload stay in it
    val nested = "+- FileScan parquet [a#1] DataFilters: " +
      "[In(a#1, [1,2]), isnotnull(trigram_shingles(t#2))], Location: x"
    assert(KernelAudit.hits(nested).map(_._2) == Seq("trigram_shingles"),
      "nested brackets inside the payload must not end the segment early")
  }

  test("invocation matching: aliased kernel-named attributes and aggregate functions do not flag") {
    // an output attribute that merely CONTAINS a kernel name is a
    // reference to an already-computed column, not an evaluation
    val aliasLine = "+- *(2) Sort [vec_dot_sim#12 ASC NULLS FIRST], false, 0"
    assert(KernelAudit.nodeHits(aliasLine).isEmpty,
      "kernel-named attribute in a sort key false-flagged")
    // an AGGREGATE kernel inside functions=[...] is the operator running
    // where it belongs; the same kernel in keys=[...] is the trap
    val aggFn = "+- HashAggregate(keys=[user_id#3L], " +
      "functions=[bin_count_agg(_bin#9L, 24)], output=[user_id#3L, hist#11])"
    assert(KernelAudit.nodeHits(aggFn).isEmpty,
      "aggregate kernel inside functions=[...] false-flagged")
    val aggKey = "+- HashAggregate(keys=[trigram_shingles(text#2)], " +
      "functions=[count(1)], output=[sh#5, cnt#6L])"
    assert(KernelAudit.nodeHits(aggKey).map(_._2) == Seq("trigram_shingles"),
      "kernel inside a grouping key must flag")
    // a kernel inline in a join condition still flags (the adjudicated
    // p13/p49 shape — the positive control for invocation matching)
    val joinLine = "+- *(5) BroadcastHashJoin [cell#1], [cell#2], Inner, " +
      "BuildRight, ((vec_dot(avd#3, bvd#4) / (anrm#5 * bnrm#6)) >= 0.45)"
    assert(KernelAudit.nodeHits(joinLine).map(_._2) == Seq("vec_dot"),
      "kernel invocation in a join condition must flag")
  }

  test("hatch conf: malformed values fail with a readable message; explicit false suppresses the advisory") {
    val hatchKey = GraftSession.ExcludeHatchKey
    val prevRules = spark.conf.get("spark.sql.optimizer.excludedRules", "")
    try {
      spark.conf.set(hatchKey, "not-a-bool")
      val e = intercept[IllegalArgumentException] {
        GraftSession.applyOptimizerExclusions(spark)
      }
      assert(e.getMessage.contains(hatchKey) && e.getMessage.contains("not-a-bool"),
        s"error must name the conf and the offending value: ${e.getMessage}")
      // lenient whitespace/case still parses
      spark.conf.set(hatchKey, " False ")
      GraftSession.applyOptimizerExclusions(spark) // no throw, no append
      // explicit opt-out: the chokepoint advisory stays quiet even though
      // the rule is enabled (the user CHOSE the documented hatch). A FRESH
      // session object: the suite's earlier advisory test already consumed
      // this session's once-per-session warning slot, which would make the
      // assertion vacuous on `spark` itself.
      val s2 = spark.newSession()
      s2.conf.set(hatchKey, "false")
      s2.conf.set("spark.sql.optimizer.excludedRules", "")
      val buf = new java.io.ByteArrayOutputStream()
      val prevErr = System.err
      System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
      try graft.functions.Dedup.shingleArrays(
        Tables.documents(s2, sf()).select("doc_id", "text"))
      finally System.setErr(prevErr)
      assert(!buf.toString("UTF-8").contains("InferFiltersFromGenerate"),
        "advisory nagged a session that explicitly chose the escape hatch")
      // and WITHOUT the opt-out the same fresh-session shape does warn —
      // the positive control that keeps the suppression test non-vacuous
      val s3 = spark.newSession()
      s3.conf.set("spark.sql.optimizer.excludedRules", "")
      val buf3 = new java.io.ByteArrayOutputStream()
      System.setErr(new java.io.PrintStream(buf3, true, "UTF-8"))
      try graft.functions.Dedup.shingleArrays(
        Tables.documents(s3, sf()).select("doc_id", "text"))
      finally System.setErr(prevErr)
      assert(buf3.toString("UTF-8").contains("InferFiltersFromGenerate"),
        "fresh rule-enabled session without the hatch failed to warn")
    } finally {
      spark.conf.unset(hatchKey)
      spark.conf.set("spark.sql.optimizer.excludedRules", prevRules)
    }
  }

  test("EngineWarnings: rule-enabled sessions warn once at the kernel chokepoint; Graft sessions never") {
    val docs = Tables.documents(spark, sf()).select("doc_id", "text")
    def captureErr(f: => Unit): String = {
      val buf = new java.io.ByteArrayOutputStream()
      val prev = System.err
      System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
      try f finally System.setErr(prev)
      buf.toString("UTF-8")
    }
    // GraftSession default (rule excluded): silent
    val quiet = captureErr(graft.functions.Dedup.shingleArrays(docs))
    assert(!quiet.contains("InferFiltersFromGenerate"),
      s"warned despite the exclusion being active:\n$quiet")
    val prevConf = spark.conf.get("spark.sql.optimizer.excludedRules", "")
    spark.conf.set("spark.sql.optimizer.excludedRules", "")
    try {
      val first = captureErr(graft.functions.Dedup.shingleArrays(docs))
      assert(first.contains("InferFiltersFromGenerate"),
        "rule-enabled session did not warn")
      // once per session: a second chokepoint call stays silent
      val second = captureErr(graft.functions.TextFunctions.ngramNoveltyOfSets(
        graft.functions.TextFunctions.bigramSets(docs)))
      assert(!second.contains("InferFiltersFromGenerate"),
        s"warned twice for the same session:\n$second")
    } finally spark.conf.set("spark.sql.optimizer.excludedRules", prevConf)
  }

  test("applyOptimizerExclusions: escape hatch respected, deployer rules appended to, idempotent") {
    val rulesKey = "spark.sql.optimizer.excludedRules"
    val hatchKey = "spark.graft.excludeInferFiltersFromGenerate"
    val infer = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    val prevRules = spark.conf.get(rulesKey, "")
    try {
      // escape hatch off: nothing is appended
      spark.conf.set(rulesKey, "")
      spark.conf.set(hatchKey, "false")
      GraftSession.applyOptimizerExclusions(spark)
      assert(spark.conf.get(rulesKey, "") == "", "hatch=false must not append")
      // hatch on (default): rule appended AFTER any deployer-set rules
      spark.conf.set(hatchKey, "true")
      spark.conf.set(rulesKey, "com.example.UserRule")
      GraftSession.applyOptimizerExclusions(spark)
      assert(spark.conf.get(rulesKey) == s"com.example.UserRule,$infer",
        "deployer exclusions must be preserved, not clobbered")
      // idempotent: re-applying does not duplicate
      GraftSession.applyOptimizerExclusions(spark)
      assert(spark.conf.get(rulesKey) == s"com.example.UserRule,$infer",
        "re-application must not duplicate the rule")
    } finally {
      spark.conf.set(rulesKey, prevRules)
      spark.conf.unset(hatchKey)
    }
  }

  // all 92 executed plans, computed once for both sweep tests (suites run
  // sequentially in the forked JVM, so this is safe and halves the cost)
  private lazy val allPlans: Seq[(String, String)] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, q) =>
      name -> q(spark, sf()).queryExecution.executedPlan.toString
    }

  test("kernel audit sweep: no contract query evaluates a kernel inside an unadjudicated filter") {
    val violations = allPlans.flatMap { case (name, plan) =>
      val allowed = Adjudicated.getOrElse(name, Set.empty)
      KernelAudit.hits(plan).filterNot(h => allowed.contains(h._2))
        .map(h => s"$name [${h._2}]: ${h._3.take(200)}")
    }
    assert(violations.isEmpty,
      s"kernel evaluated inside a filter (adjudicate or fix):\n${violations.mkString("\n")}")
  }

  /** Adjudicated join-condition kernels: the cosine pair-scoring
    * predicate `vec_dot(a,b) >= threshold` IS the operator's per-pair
    * work — p13 is the exact all-pairs anchor (BroadcastNestedLoopJoin
    * by design), p49's within-cell verify scores each cell collision,
    * and p58's decontamination verify scores each (corpus, probed test
    * vector) collision inside the broadcast join so non-contaminated
    * pairs never materialize. Everything else — and ANY kernel inside
    * an exchange/sort/window/aggregate key, which would mean keying on
    * a raw kernel expression instead of its projected attribute —
    * fails. */
  private val AdjudicatedNodes: Set[(String, String, String)] = Set(
    ("p13_dedup_embed", "BroadcastNestedLoopJoin", "vec_dot"),
    ("p49_semdedup", "BroadcastHashJoin", "vec_dot"),
    ("p56_semdedup_two", "BroadcastHashJoin", "vec_dot"),
    ("p58_sem_contamination", "BroadcastHashJoin", "vec_dot"))

  test("node sweep: kernels appear only in the adjudicated pair-scoring join conditions") {
    val violations = allPlans.flatMap { case (name, plan) =>
      KernelAudit.nodeHits(plan)
        .filterNot(h => AdjudicatedNodes.contains((name, h._1, h._2)))
        .map(h => s"$name ${h._1} [${h._2}]: ${h._3.take(200)}")
    }
    assert(violations.isEmpty,
      s"kernel inline in a non-filter node (adjudicate or project it first):\n${violations.mkString("\n")}")
  }
}
