package graft.functions

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Round-10 additions: KMV distinct sketch (accuracy + mergeability),
  * DSIR importance scoring (sign/empty-doc semantics), SemDeDup
  * (soundness + recall vs the exact global pair scan). */
class SketchesSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sf())
  private lazy val embs = Tables.embeddings(spark, sf())

  private def tok = docs
    .select(col("source"), explode(TextFunctions.words(
      TextFunctions.normText(col("text")))).as("_w"))

  test("KMV: groups under k hashes report the exact distinct-hash count") {
    val r = Sketches.kmvDistinct(tok, "source", col("_w"), k = 1 << 16)
      .select("source", "n_min_hashes", "est_distinct")
      .as[(String, Long, Long)].collect()
    assert(r.nonEmpty)
    // k is far above any per-source vocabulary at sf0.001: every group
    // takes the exact branch, and the count matches a direct distinct
    val exact = tok.distinct().groupBy("source").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    r.foreach { case (s, n, est) =>
      assert(est === n)
      // spread-hash collisions over the 1e9 domain are ~0 at this size
      assert(n === exact(s))
    }
  }

  test("KMV: estimator lands within expected error at small k") {
    // one group, all words: known distinct count, k=64 => stderr ~13%
    val one = tok.withColumn("source", lit("all"))
    val exact = one.select("_w").distinct().count()
    val est = Sketches.kmvDistinct(one, "source", col("_w"))
      .select("est_distinct").as[Long].head()
    assert(math.abs(est - exact).toDouble / exact < 0.5,
      s"est $est vs exact $exact")
  }

  test("KMV: merging per-part partial sketches equals the whole-corpus sketch") {
    val whole = Sketches.kmvDistinct(tok, "source", col("_w"))
      .orderBy("source").collect()
    val partA = Sketches.kmvPartial(
      tok.where(col("_w") < "m"), "source", col("_w"))
    val partB = Sketches.kmvPartial(
      tok.where(col("_w") >= "m"), "source", col("_w"))
    val merged = Sketches.kmvMerge(partA.unionAll(partB), "source")
      .orderBy("source").collect()
    assert(merged.toSeq === whole.toSeq)
  }

  test("KMV: salt fan-out does not change the sketch") {
    val s1 = Sketches.kmvDistinct(tok, "source", col("_w"), salts = 1)
      .orderBy("source").collect()
    val s32 = Sketches.kmvDistinct(tok, "source", col("_w"), salts = 32)
      .orderBy("source").collect()
    assert(s1.toSeq === s32.toSeq)
  }

  test("KMV: k < 2 rejected") {
    intercept[IllegalArgumentException] {
      Sketches.kmvDistinct(tok, "source", col("_w"), k = 1)
    }
  }

  test("DSIR: every doc appears once; empty/zero-score docs are not kept") {
    val r = TextFunctions.dsirScores(docs, col("lang") === "en")
    assert(r.count() === docs.count())
    assert(r.select("doc_id").distinct().count() === docs.count())
    val kept = r.where(col("kept") === 1)
    assert(kept.where(col("score_ppm") <= 0).count() === 0)
  }

  test("DSIR: target-slice docs score higher than off-target on average") {
    val r = TextFunctions.dsirScores(docs, col("lang") === "en")
      .join(docs.select("doc_id", "lang"), "doc_id")
    val Seq(enAvg) = r.where(col("lang") === "en")
      .agg(avg("score_ppm")).as[Double].collect().toSeq
    val Seq(offAvg) = r.where(col("lang") =!= "en")
      .agg(avg("score_ppm")).as[Double].collect().toSeq
    assert(enAvg > offAvg,
      s"target-slice mean $enAvg should exceed off-target mean $offAvg")
    // and the selection bit separates: the en slice is mostly kept
    val enKeptFrac = r.where(col("lang") === "en")
      .agg(avg(col("kept").cast("double"))).as[Double].head()
    assert(enKeptFrac > 0.5)
  }

  test("DSIR: kernel fast path is identical to the occurrence-exploded twin on the corpus") {
    // the implementation picks the word_term_counts path (extensions are
    // registered in tests); recompute through the pre-r12 exploded
    // occurrence stream inline and compare row-for-row
    val got = TextFunctions.dsirScores(docs, col("lang") === "en")
      .orderBy("doc_id").as[(Long, Long, Long, Int)].collect().toSeq
    val tokO = docs.select(col("doc_id"),
      (col("lang") === "en").cast("long").as("_tgt"),
      explode(TextFunctions.words(TextFunctions.normText(col("text")))).as("_w"))
    val vocab = tokO.groupBy(col("_w"))
      .agg(count(lit(1)).as("_cr"), sum(col("_tgt")).as("_ct"))
    val totals = vocab.agg(sum(col("_cr")).as("_nr"),
      sum(col("_ct")).as("_nt"), count(lit(1)).as("_v"))
    val model = vocab.crossJoin(broadcast(totals))
      .select(col("_w"),
        (expr("((_ct + 1) * 1000000) div (_nt + _v)") -
          expr("((_cr + 1) * 1000000) div (_nr + _v)")).as("_delta"))
    val perDoc = tokO.join(model, "_w").groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("_delta")).as("_s"))
    val want = docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("_s"), lit(0L)).as("score_ppm"),
        when(coalesce(col("_s"), lit(0L)) > 0, lit(1)).otherwise(lit(0))
          .cast("int").as("kept"))
      .orderBy("doc_id").as[(Long, Long, Long, Int)].collect().toSeq
    assert(got === want)
  }

  test("DSIR: degenerate all-target predicate scores ~0 everywhere") {
    // target == raw => ppm difference is the smoothing residue only
    val r = TextFunctions.dsirScores(docs, lit(true))
    val worst = r.agg(max(abs(col("score_ppm")))).as[Long].head()
    // per-token delta is 0; sums stay 0 exactly
    assert(worst === 0L)
  }

  test("SemDeDup: every reported pair is a true near-dup (soundness)") {
    val model = IvfIndex.train(embs, k = 8, iters = 3)
    val exact = Similarity.cosineNearDupPairs(embs, 450000L)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val dups = Similarity.semDedup(embs, model, 450000L)
      .where(col("dup_of").isNotNull)
      .select(col("dup_of"), col("vec_id")).as[(Long, Long)].collect()
    dups.foreach { case (a, b) =>
      assert(a < b)
      assert(exact.contains((a, b)),
        s"semDedup flagged ($a,$b) which the exact scan does not contain")
    }
  }

  test("SemDeDup: planted near-identicals are recalled through the cluster bound") {
    // the test corpus has no true semantic dups (max pairwise cosine
    // 0.48 at sf0.001) — the regime SemDeDup targets is high-τ
    // near-identicals, so plant them: a slightly perturbed copy of
    // every 3rd vector (cos ≈ 0.999 with its source). A perturbation
    // that small lands in the source's cell except on a knife-edge
    // centroid boundary, so cluster-bounded recall must stay high.
    val planted = embs.where(col("vec_id") % 3 === 0)
      .select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"),
          (x, i) => x * lit(1.0f) + when(i === 0, lit(0.01f)).otherwise(lit(0.0f)))
          .as("embedding"),
        col("label"))
    val aug = embs.select("vec_id", "embedding", "label").unionAll(planted)
    val model = IvfIndex.train(aug, k = 8, iters = 3)
    val tau = 990000L
    val exactDupVecs = Similarity.cosineNearDupPairs(aug, tau)
      .select(col("vec_b")).distinct().as[Long].collect().toSet
    val semDupVecs = Similarity.semDedup(aug, model, tau)
      .where(col("dup_of").isNotNull)
      .select("vec_id").as[Long].collect().toSet
    assert(semDupVecs.subsetOf(exactDupVecs))
    assert(exactDupVecs.nonEmpty) // the plants are there
    val recall = semDupVecs.size.toDouble / exactDupVecs.size
    assert(recall >= 0.9,
      s"cluster-bounded recall $recall (${semDupVecs.size}/${exactDupVecs.size})")
  }

  test("SemDeDup: salted fan-out matches the plain within-cell join") {
    val model = IvfIndex.train(embs, k = 8, iters = 3)
    val plain = Similarity.semDedup(embs, model, 450000L, salts = 1)
      .orderBy("vec_id").collect()
    val salted = Similarity.semDedup(embs, model, 450000L, salts = 4)
      .orderBy("vec_id").collect()
    assert(salted.toSeq === plain.toSeq)
  }

  test("IVF assignment: unrolled and folded-loop routes agree") {
    // three forms, one answer: the engine assigns through the KERNEL at
    // any k (r15 — the inline projection's per-centroid boxed array
    // literals are a measured plumbing tax even at k=16); the unrolled
    // inline and HOF composable references must emit the identical
    // inverted file (same distances, same lowest-cell ties)
    val model = IvfIndex.train(embs, k = 8, iters = 3)
    val default = IvfIndex.index(embs, model)
      .select("vec_id", "cell").orderBy("vec_id").collect()
    val inline = KernelTwins.indexViaInlineAssign(embs, model)
      .select("vec_id", "cell").orderBy("vec_id").collect()
    val folded = KernelTwins.indexViaFoldedAssign(embs, model)
      .select("vec_id", "cell").orderBy("vec_id").collect()
    assert(inline.toSeq === default.toSeq)
    assert(folded.toSeq === default.toSeq)
  }

  test("IVF probe selection: unrolled, kernel, and composable routes agree") {
    val model = IvfIndex.train(embs, k = 8, iters = 3)
    val p = Similarity.prep(embs)
    def cellsOf(c: org.apache.spark.sql.Column) =
      p.select(col("vec_id"), c.as("pc")).orderBy("vec_id")
        .as[(Long, Seq[Int])].collect().toSeq
    val inline = cellsOf(KernelTwins.probeCellsInline(col("vd"), model, 4))
    val kernel = cellsOf(IvfIndex.probeCells(col("vd"), model, 4))
    assert(kernel === inline)
    // the composable HOF reference
    val hof = cellsOf {
      val centsLit = typedlit(model.centroids.map(_.toSeq).toSeq)
      val c2sLit = typedlit(model.centroids.map(c => c.map(x => x * x).sum).toSeq)
      val scored = transform(centsLit, (c, i) =>
        struct((element_at(c2sLit, i + 1) - lit(2.0) * Similarity.dot(col("vd"), c)).as("d"),
          i.cast("int").as("j")))
      slice(transform(array_sort(scored), _.getField("j")), 1, 4)
    }
    assert(hof === inline)
    // nprobe above k degrades to the full ranking, not an error
    val all = cellsOf(IvfIndex.probeCells(col("vd"), model, 99))
    assert(all.forall(_._2.sorted == (0 until 8)))
  }

  test("IVF knn through a large codebook matches brute force on its probed cells") {
    val k = 65
    val model = IvfIndex.train(embs, k = k, iters = 2)
    val r = IvfIndex.knn(embs, model, col("vec_id") < 10, 3, nprobe = 8)
    assert(r.count() > 0)
    // every reported neighbor must carry the true exact cosine
    val brute = Similarity.bruteKnn(embs, col("vec_id") < 10, 500)
      .select("q_id", "n_id", "sim_micro").as[(Long, Long, Long)].collect()
      .map { case (q, nb, s) => (q, nb) -> s }.toMap
    r.select("q_id", "n_id", "sim_micro").as[(Long, Long, Long)].collect()
      .foreach { case (q, nb, s) => assert(brute((q, nb)) === s) }
  }

  test("IVF training with a large codebook takes the kernel route and converges") {
    // k = 65 is past the k≈64 the unrolled projection codegens to; at
    // sf0.001 (50 vectors) k=65 clusters means near-singleton cells,
    // and a singleton cell's centroid must equal its member
    val k = 65
    val model = IvfIndex.train(embs, k = k, iters = 2)
    assert(model.k === k)
    val idx = IvfIndex.index(embs, model)
    assert(idx.count() === embs.count())
    assert(idx.select("cell").distinct().count() >= 1)
  }

  test("SemDeDup increment: probing new vectors against the stored index equals a full recompute") {
    // append-only ingest contract: new ids exceed stored ids. The model
    // round-trips through its parquet artifact to prove the stored pair
    // (codebook + inverted file) is self-sufficient for increments.
    val model = IvfIndex.train(embs, k = 8, iters = 3)
    val dir = java.nio.file.Files.createTempDirectory("sem_model").toString
    IvfIndex.saveModel(model, s"$dir/model")(spark)
    val loaded = IvfIndex.loadModel(s"$dir/model")(spark)
    assert(loaded.centroids.map(_.toSeq).toSeq === model.centroids.map(_.toSeq).toSeq)
    val old = embs.where(col("vec_id") < 250)
    val fresh = embs.where(col("vec_id") >= 250)
    val storedIdx = IvfIndex.index(old, model)
    val incr = Similarity.semDedupIncrement(storedIdx, fresh, loaded, 450000L)
      .orderBy("vec_id").collect()
    val full = Similarity.semDedup(embs, model, 450000L)
      .where(col("vec_id") >= 250).orderBy("vec_id").collect()
    assert(incr.toSeq === full.toSeq)
    assert(incr.nonEmpty)
  }

  test("Two-level quantizer: kernel and composable twin assign identically; routing is coarse-consistent") {
    val m2 = IvfIndex.trainTwoLevel(embs, kTotal = 16, iters = 3, coarseK = 4)
    assert(m2.coarse.k === 4)
    assert(m2.k >= 4 && m2.k <= 16)
    val kernel = IvfIndex.index2(embs, m2)
      .select("vec_id", "cell").orderBy("vec_id").collect()
    val twin = Similarity.prep(embs)
      .withColumn("cell", KernelTwins.cell2OfTwin(col("vd"), m2))
      .select("vec_id", "cell").orderBy("vec_id").collect()
    assert(twin.toSeq === kernel.toSeq)
    // every global cell id decomposes into (coarse, fine) within bounds,
    // and the COARSE component of the routed cell equals the plain
    // coarse assignment (the two-level kernel's first stage is exactly
    // the flat coarse quantizer)
    val coarseOf = IvfIndex.index(embs, m2.coarse)
      .select("vec_id", "cell").as[(Long, Int)].collect().toMap
    val offsets = m2.offsets
    kernel.foreach { r =>
      val g = r.getInt(1)
      val c = offsets.lastIndexWhere(_ <= g)
      assert(c >= 0 && g - offsets(c) < m2.fine(c).k,
        s"global id $g outside its sub-codebook")
      assert(c === coarseOf(r.getLong(0)),
        s"two-level coarse route $c disagrees with the flat coarse assignment")
    }
  }

  test("Two-level quantizer: deterministic at any partitioning; save/load round-trips ragged books") {
    val m1 = IvfIndex.trainTwoLevel(embs, kTotal = 16, iters = 2, coarseK = 4)
    val m2 = IvfIndex.trainTwoLevel(embs.repartition(7), kTotal = 16, iters = 2, coarseK = 4)
    assert(m1.coarse.centroids.map(_.toSeq).toSeq === m2.coarse.centroids.map(_.toSeq).toSeq)
    assert(m1.fine.map(_.centroids.map(_.toSeq).toSeq).toSeq ===
      m2.fine.map(_.centroids.map(_.toSeq).toSeq).toSeq)
    // round-trip through the parquet artifact, ragged sizes preserved
    val dir = java.nio.file.Files.createTempDirectory("sem_model2").toString
    IvfIndex.saveModel2(m1, s"$dir/m2")(spark)
    val loaded = IvfIndex.loadModel2(s"$dir/m2")(spark)
    assert(loaded.coarse.centroids.map(_.toSeq).toSeq ===
      m1.coarse.centroids.map(_.toSeq).toSeq)
    assert(loaded.fine.map(_.centroids.map(_.toSeq).toSeq).toSeq ===
      m1.fine.map(_.centroids.map(_.toSeq).toSeq).toSeq)
    assert(loaded.offsets.toSeq === m1.offsets.toSeq)
  }

  test("Two-level SemDeDup: soundness against the exact pair scan; increment equals full recompute") {
    val m2 = IvfIndex.trainTwoLevel(embs, kTotal = 16, iters = 3, coarseK = 4)
    val exact = Similarity.cosineNearDupPairs(embs, 450000L)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    Similarity.semDedup2(embs, m2, 450000L)
      .where(col("dup_of").isNotNull)
      .select(col("dup_of"), col("vec_id")).as[(Long, Long)].collect()
      .foreach { case (a, b) =>
        assert(a < b)
        assert(exact.contains((a, b)),
          s"semDedup2 flagged ($a,$b) which the exact scan does not contain")
      }
    // increment contract, model round-tripped through its artifact
    val dir = java.nio.file.Files.createTempDirectory("sem_model2i").toString
    IvfIndex.saveModel2(m2, s"$dir/m2")(spark)
    val loaded = IvfIndex.loadModel2(s"$dir/m2")(spark)
    val old = embs.where(col("vec_id") < 250)
    val fresh = embs.where(col("vec_id") >= 250)
    val storedIdx = IvfIndex.index2(old, m2)
    val incr = Similarity.semDedupIncrement2(storedIdx, fresh, loaded, 450000L)
      .orderBy("vec_id").collect()
    val full = Similarity.semDedup2(embs, m2, 450000L)
      .where(col("vec_id") >= 250).orderBy("vec_id").collect()
    assert(incr.toSeq === full.toSeq)
    assert(incr.nonEmpty)
  }

  test("Two-level probe selection: nearest_cells_2 kernel and composable twin rank identically") {
    val m2 = IvfIndex.trainTwoLevel(embs, kTotal = 16, iters = 3, coarseK = 4)
    val p = Similarity.prep(embs)
    def cellsOf(c: org.apache.spark.sql.Column) =
      p.select(col("vec_id"), c.as("pc")).orderBy("vec_id")
        .as[(Long, Seq[Int])].collect().toSeq
    // spans: minimal fan-out, the contract shape, nprobe under-filled by
    // the routed books, and full over-fan-out (every cell, both levels)
    Seq((1, 1), (4, 2), (3, 7), (99, 99)).foreach { case (np, cp) =>
      val kernel = cellsOf(IvfIndex.probeCells2(col("vd"), m2, np, cp))
      val twin = cellsOf(KernelTwins.probeCells2Twin(col("vd"), m2, np, cp))
      assert(kernel === twin, s"nprobe=$np coarseProbe=$cp")
    }
    // over-fan-out covers every global cell exactly once
    val all = cellsOf(IvfIndex.probeCells2(col("vd"), m2, m2.k, m2.coarse.k))
    assert(all.forall(_._2.sorted == (0 until m2.k)))
  }

  test("Two-level knn: probed-cell neighbors carry the true exact cosine; coarse routing bounds recall") {
    val m2 = IvfIndex.trainTwoLevel(embs, kTotal = 16, iters = 2, coarseK = 4)
    val r = IvfIndex.knn2(embs, m2, col("vec_id") < 10, 3, nprobe = 4, coarseProbe = 2)
    assert(r.count() > 0)
    // every reported neighbor must carry the true exact cosine (the
    // within-cell verify is exact — only the CELL CHOICE approximates)
    val brute = Similarity.bruteKnn(embs, col("vec_id") < 10, 500)
      .select("q_id", "n_id", "sim_micro").as[(Long, Long, Long)].collect()
      .map { case (q, nb, s) => (q, nb) -> s }.toMap
    r.select("q_id", "n_id", "sim_micro").as[(Long, Long, Long)].collect()
      .foreach { case (q, nb, s) => assert(brute((q, nb)) === s) }
    // full coarse fan-out + full fine fan-out degrades to scanning every
    // cell: with all cells probed the per-query top-k must EQUAL brute
    // force's (the recall ceiling, and a tie-break parity check)
    val all = IvfIndex.knn2(embs, m2, col("vec_id") < 10, 3,
        nprobe = m2.k, coarseProbe = m2.coarse.k)
      .orderBy("q_id", "n_id").collect()
    val bf = Similarity.bruteKnn(embs, col("vec_id") < 10, 3)
      .orderBy("q_id", "n_id").collect()
    assert(all.toSeq === bf.toSeq)
  }

  test("Semantic decontamination: sound on probed cells; full fan-out equals the brute threshold-argmax") {
    val m2 = IvfIndex.trainTwoLevel(embs, kTotal = 16, iters = 2, coarseK = 4)
    val testSide = embs.where(col("vec_id") < 20)
    val corpus = embs.where(col("vec_id") >= 20)
    val thr = 350000L

    // driver-side brute oracle: same strict left-fold double math as the
    // engine (ascending-index products, 0.0 seed), so sims match bitwise
    val vecs = embs.select(col("vec_id"),
        col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toMap
    def dotd(a: Seq[Double], b: Seq[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) { s += a(i) * b(i); i += 1 }
      s
    }
    def nrm(a: Seq[Double]): Double = math.sqrt(dotd(a, a))
    val testIds = vecs.keys.filter(_ < 20).toSeq.sorted
    val bruteBest: Map[Long, (Long, Long)] = vecs.keys.filter(_ >= 20).flatMap { cid =>
      val hits = testIds.map { t =>
        val s = math.floor(1e6 * dotd(vecs(cid), vecs(t)) /
          (nrm(vecs(cid)) * nrm(vecs(t)))).toLong
        (t, s)
      }.filter(_._2 >= thr)
      if (hits.isEmpty) None
      else {
        val best = hits.maxBy { case (t, s) => (s, -t) }
        Some(cid -> best)
      }
    }.toMap
    assert(bruteBest.nonEmpty) // the fixture must exercise the threshold

    // bounded probe: every flagged vector is a true contamination with
    // the true best sim IF that test vector is reachable — soundness is
    // sim-exactness plus membership in the brute hit set
    val probed = Similarity.semContamination(corpus, testSide, m2, thr,
        nprobe = 8, coarseProbe = 2)
      .select("vec_id", "test_id", "sim_micro").as[(Long, Long, Long)]
      .collect()
    probed.foreach { case (cid, t, s) =>
      val exact = math.floor(1e6 * dotd(vecs(cid), vecs(t)) /
        (nrm(vecs(cid)) * nrm(vecs(t)))).toLong
      assert(s === exact && s >= thr)
    }

    // full fan-out degrades to the exhaustive scan: argmax, tie rule,
    // and sims must all equal the brute oracle exactly
    val full = Similarity.semContamination(corpus, testSide, m2, thr,
        nprobe = m2.k, coarseProbe = m2.coarse.k)
      .select("vec_id", "test_id", "sim_micro").as[(Long, Long, Long)]
      .collect().map { case (c, t, s) => c -> ((t, s)) }.toMap
    assert(full === bruteBest)

    // a planted paraphrase of a test vector is caught at near-dup tau
    // through the bounded probe (same fine-cell argument as the dedup
    // recall specs)
    val planted = embs.where(col("vec_id") === 5)
      .select(lit(777777L).as("vec_id"),
        transform(col("embedding"),
          (x, i) => x + when(i === 0, lit(0.01f)).otherwise(lit(0.0f)))
          .as("embedding"),
        col("label"))
    val flagged = Similarity.semContamination(
        corpus.select("vec_id", "embedding", "label").unionAll(planted),
        testSide, m2, 990000L, nprobe = 4, coarseProbe = 2)
      .select("vec_id", "test_id").as[(Long, Long)].collect().toMap
    assert(flagged.get(777777L) === Some(5L))
  }

  test("Two-level SemDeDup: planted near-identicals recalled through the hierarchical cluster bound") {
    // the flat recall spec's corpus, routed through coarse->fine cells:
    // a 0.999-cosine perturbation lands in its source's FINE cell except
    // on a knife-edge boundary (now two boundaries — coarse and fine —
    // hence the same 0.9 floor)
    val planted = embs.where(col("vec_id") % 3 === 0)
      .select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"),
          (x, i) => x * lit(1.0f) + when(i === 0, lit(0.01f)).otherwise(lit(0.0f)))
          .as("embedding"),
        col("label"))
    val aug = embs.select("vec_id", "embedding", "label").unionAll(planted)
    val m2 = IvfIndex.trainTwoLevel(aug, kTotal = 16, iters = 3, coarseK = 4)
    val tau = 990000L
    val exactDupVecs = Similarity.cosineNearDupPairs(aug, tau)
      .select(col("vec_b")).distinct().as[Long].collect().toSet
    val semDupVecs = Similarity.semDedup2(aug, m2, tau)
      .where(col("dup_of").isNotNull)
      .select("vec_id").as[Long].collect().toSet
    assert(semDupVecs.subsetOf(exactDupVecs))
    assert(exactDupVecs.nonEmpty)
    val recall = semDupVecs.size.toDouble / exactDupVecs.size
    assert(recall >= 0.9,
      s"hierarchical cluster-bounded recall $recall (${semDupVecs.size}/${exactDupVecs.size})")
  }

  test("SemDeDup: every vector appears exactly once, keepers are null") {
    val model = IvfIndex.train(embs, k = 8, iters = 3)
    val r = Similarity.semDedup(embs, model, 450000L)
    assert(r.count() === embs.count())
    // the lowest id of any cell can never be a duplicate
    val minIds = r.groupBy("cell").agg(min("vec_id").as("vec_id"))
    assert(r.join(minIds, Seq("cell", "vec_id"))
      .where(col("dup_of").isNotNull).count() === 0)
  }

  private def wordStream = tok.select(col("_w").as("_v"))

  test("CMS: estimates never under-count, and a wide sketch is exact") {
    val exact = wordStream.groupBy("_v").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    val cells = Sketches.cmsPartial(wordStream, col("_v"))
    val est = Sketches.cmsEstimate(wordStream.distinct(), "_v", cells)
      .as[(String, Long)].collect().toMap
    assert(est.keySet === exact.keySet)
    est.foreach { case (w, e) =>
      assert(e >= exact(w), s"CMS under-counted '$w': $e < ${exact(w)}")
    }
    // width >> vocabulary: no bucket collisions survive the min over rows
    val wide = Sketches.cmsPartial(wordStream, col("_v"), width = 1 << 16)
    val exactEst = Sketches.cmsEstimate(
      wordStream.distinct(), "_v", wide, width = 1 << 16)
      .as[(String, Long)].collect().toMap
    assert(exactEst === exact)
  }

  test("CMS: merging per-part cell tables equals the whole-stream sketch") {
    val whole = Sketches.cmsPartial(wordStream, col("_v"))
      .orderBy("_j", "_b").collect()
    val merged = Sketches.cmsMerge(
      Sketches.cmsPartial(wordStream.where(col("_v") < "m"), col("_v")).unionAll(
        Sketches.cmsPartial(wordStream.where(col("_v") >= "m"), col("_v"))))
      .orderBy("_j", "_b").collect()
    assert(merged.toSeq === whole.toSeq)
  }

  test("CMS: heavy hitters has perfect recall of true heavy hitters") {
    val support = 5 // permille
    val n = wordStream.count()
    val trueHh = wordStream.groupBy("_v").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") * 1000 >= lit(n) * support)
      .select("_v").as[String].collect().toSet
    assert(trueHh.nonEmpty, "fixture should contain at least one heavy hitter")
    val got = Sketches.heavyHitters(wordStream, col("_v"), support)
      .select("token").as[String].collect().toSet
    assert(trueHh.subsetOf(got),
      s"missed true heavy hitters: ${trueHh.diff(got)}")
  }

  test("CMS: depth/width/support bounds are validated") {
    intercept[IllegalArgumentException] {
      Sketches.cmsPartial(wordStream, col("_v"), depth = 0)
    }
    intercept[IllegalArgumentException] {
      Sketches.cmsPartial(wordStream, col("_v"), width = 1)
    }
    intercept[IllegalArgumentException] {
      Sketches.heavyHitters(wordStream, col("_v"), supportPermille = 0)
    }
  }
}
