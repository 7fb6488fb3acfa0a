package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.GraftExtensions

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths:
  *   - [[bruteKnn]]: exact cosine top-k — broadcast the (small) query set
  *     against the corpus; the corpus never shuffles, k results per query
  *     come back through a tiny window. The 100 TB shape: queries are
  *     broadcast, similarity is computed inside the scan stage, only
  *     (q, neighbor, sim) tuples move.
  *   - [[lshKnn]]: sign-projection LSH — bucket every vector by the sign
  *     bits of its leading dimensions (a random-rotation-free projection
  *     that is deterministic and oracle-checkable), then search only
  *     within the bucket via an equi-join. Candidate volume drops by
  *     ~2^bits; recall measured against brute force in the spec.
  *
  * Float discipline: embeddings are cast to double element-wise BEFORE any
  * arithmetic, and the dot product is a strict left fold (`aggregate`), so
  * any engine replaying the same fold gets bit-identical doubles;
  * similarities are exposed as `floor(1e6 * cos)` integers.
  */
object Similarity {

  /** Element-wise cast to `array<double>` — a plain Cast, not
    * `transform(_, _.cast(...))`: higher-order functions are
    * CodegenFallback and would evict every downstream projection
    * (including the codegen'd vec_dot) from whole-stage codegen. */
  def toDoubleVec(a: Column): Column = a.cast("array<double>")

  /** Strict left-fold dot product of two double vectors, by the codegen'd
    * [[graft.functions.expr.VecDot]]: it accumulates left-to-right over
    * the first `min(len(a), len(b))` elements, so a length-mismatched
    * pair still folds (a bare zip_with would null-pad the shorter vector
    * and propagate NULL through the fold; PipelineSpec pins the kernel
    * against the sliced zip_with/aggregate fold).
    *
    * `session` is the one that OWNS the frame the column is used in: the
    * kernel is registered into it. DataFrame-level operators pass their
    * input's session; `SparkSession.active` can be another session under
    * `newSession()` / multi-session drivers. */
  def dot(a: Column, b: Column, session: SparkSession = SparkSession.active): Column =
    GraftExtensions.kernel(session, "vec_dot", a, b)

  def l2norm(a: Column, session: SparkSession = SparkSession.active): Column =
    sqrt(dot(a, a, session))

  /** Cosine similarity of two double vectors. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  /** `floor(1e6 * cosine)` as long — the quantized, oracle-stable sim. */
  def simMicro(a: Column, b: Column): Column = floor(lit(1e6) * cosine(a, b)).cast("long")

  /** Same quantization with PRECOMPUTED norms — the single definition
    * every search path (brute/LSH/IVF/near-dup) must share, or a future
    * quantization change would silently diverge from the oracle. */
  def simMicroPre(aVd: Column, bVd: Column, aNrm: Column, bNrm: Column,
                  session: SparkSession = SparkSession.active): Column =
    floor(lit(1e6) * dot(aVd, bVd, session) / (aNrm * bNrm)).cast("long")

  /** Corpus with precomputed double vector + norm. */
  def prep(emb: DataFrame, vecCol: String = "embedding"): DataFrame =
    emb.withColumn("vd", toDoubleVec(col(vecCol)))
      .withColumn("nrm", l2norm(col("vd"), emb.sparkSession))

  /** Exact cosine top-k: for each query vector (filtered by `queryPred`),
    * the k nearest other vectors. Output: (q_id, n_id, sim_micro). */
  def bruteKnn(emb: DataFrame, queryPred: Column, k: Int,
               idCol: String = "vec_id"): DataFrame = {
    val corpus = prep(emb).select(col(idCol).as("n_id"), col("vd").as("nvd"), col("nrm").as("nnrm"))
    val queries = prep(emb).where(queryPred)
      .select(col(idCol).as("q_id"), col("vd").as("qvd"), col("nrm").as("qnrm"))
    val sims = corpus.join(broadcast(queries), col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        simMicroPre(col("qvd"), col("nvd"), col("qnrm"), col("nnrm"), emb.sparkSession).as("sim_micro"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim_micro").desc, col("n_id"))
    sims.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
      .select(col("q_id"), col("n_id"), col("sim_micro"))
  }

  /** Default multi-table LSH shape: 16 tables x 6 sign-bits, table t
    * reading dimensions ((t*Stride + j) mod dim) + 1 for j in [0, bits).
    * Multiple tables multiply recall (1-(1-p^b)^T) while each table's b
    * bits keep per-table collision rate ~2^-b — the standard
    * hyperplane-LSH layout, here with deterministic (oracle-checkable)
    * axis-aligned planes. */
  val DefaultTables = 16
  val DefaultBits = 6
  val Stride = 4

  /** Embedding-cosine near-duplicate pairs: all (a < b) pairs with
    * `floor(1e6*cos) >= thresholdMicro`. This is the EXACT O(n²) baseline
    * (fine up to ~10^5 vectors with the codegen'd dot product); at corpus
    * scale the same verify predicate runs on LSH/IVF candidates instead
    * (see [[lshKnn]] / [[graft.functions.IvfIndex]]).
    * Output: (vec_a, vec_b, sim_micro). */
  def cosineNearDupPairs(emb: DataFrame, thresholdMicro: Long,
                         idCol: String = "vec_id"): DataFrame = {
    // spread before prep: the exhaustive pair scan's probe side is a
    // nested-loop over the (broadcast) other side, so BOTH the vector
    // prep and the pair dot-products otherwise run inside a single-task
    // local scan stage (measured r16: 0.48→0.18 s at sf0.1; no-op at
    // cluster scan parallelism — see [[Scans.spread]])
    val spreadEmb = Scans.spread(emb)
    val a = prep(spreadEmb).select(col(idCol).as("vec_a"), col("vd").as("avd"), col("nrm").as("anrm"))
    val b = prep(spreadEmb).select(col(idCol).as("vec_b"), col("vd").as("bvd"), col("nrm").as("bnrm"))
    a.join(b, col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        simMicroPre(col("avd"), col("bvd"), col("anrm"), col("bnrm"), emb.sparkSession).as("sim_micro"))
      .where(col("sim_micro") >= thresholdMicro)
  }

  /** SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", arXiv:2303.09540):
    * embedding-space dedup that never compares across the whole corpus —
    * k-means-cluster the embeddings (the [[IvfIndex]] coarse quantizer,
    * whose training is sample-capped and so independent of corpus
    * size), then compare pairs ONLY within a cell. This is the scale
    * path for [[cosineNearDupPairs]] the way [[lshKnn]]/[[IvfIndex.knn]]
    * are for [[bruteKnn]]: pair work drops from O(n²) to Σ|cell|², and
    * with the paper's k ∝ √n cell count the expected cell stays O(√n).
    *
    * Keeper rule: a vector is a duplicate iff some LOWER-id vector in
    * its cell has cosine ≥ `thresholdMicro`; `dup_of` records the
    * smallest such neighbor. (The paper keeps one arbitrary
    * representative per intra-cluster near-dup group; lowest-id is this
    * repo's deterministic convention, cf. [[Dedup]] keeper selection —
    * and makes the answer oracle-checkable.) Recall vs the exact global
    * pair set is bounded by cluster assignment — near-dups split across
    * a cell boundary are missed; SketchesSpec pins the measured recall
    * on the test corpus.
    *
    * `salts` fans each cell out `salts` ways (lower-id side replicated,
    * higher-id side hash-routed — the q36/q37 knob) for when the
    * codebook is small relative to the cluster or a cell is skew-heavy;
    * the default 1 keeps the join a plain equi-join on `cell` whose
    * parallelism is the codebook size.
    *
    * Output: (vec_id, cell, dup_of nullable) — every vector appears. */
  def semDedup(emb: DataFrame, model: IvfIndex.Model, thresholdMicro: Long,
               salts: Int = 1, idCol: String = "vec_id"): DataFrame =
    semDedupOnIndex(IvfIndex.index(emb, model, idCol), thresholdMicro, salts, idCol)

  /** [[semDedup]] over a PRE-BUILT inverted file — the deployment shape
    * (the activity-index/probe split): the index
    * ([[IvfIndex.index]] output: idCol, vd, nrm, cell) is a stored
    * artifact built once per corpus version, and each dedup round pays
    * only the within-cell pair scan. Also the fast shape inline: the
    * index subplan feeds three consumers (both pair sides + the final
    * keeper join), and handing the SAME DataFrame in lets Spark reuse
    * one exchange instead of re-deriving the assignment thrice.
    *
    * Codebook sizing was a measured two-regime trade (r14, the
    * since-deleted SemKnProbe + the smoke A/B; SURVEY.md rounds 14-15):
    *   - BULK dedup rounds (this scan dominates): size k WITH the
    *     corpus (SemDeDup's k ∝ n) — the pair scan is ~n²/k, so a
    *     fixed k drifts quadratic (capped-512 scan min 3.66 s at ×400
    *     vs 1.47 flat / 1.36 two-level, r15 re-measure).
    *   - INCREMENT-heavy pipelines ([[semDedupIncrement]] per batch):
    *     bound k — flat assignment is exact over all k cells, so each
    *     batch pays batch_rows × k; with k ∝ n that grows with the
    *     STORED corpus (×400 probe min 3.71 s flat-6400 vs 0.82
    *     capped).
    * r15 RESOLVED the trade: the TWO-LEVEL coarse quantizer
    * ([[IvfIndex.trainTwoLevel]] / [[semDedup2]] /
    * [[semDedupIncrement2]]) routes ≤64 coarse cells to fine
    * sub-codebooks totalling k ∝ n, so the scan stays off the n²/k
    * drift (×100→×400 min 1.11 → 1.36 s, 1.23× per 4× data) AND the
    * increment pays coarseK + k/coarseK ≈ 2·√k dots (0.69 → 1.03 s,
    * fastest at both factors; flat k∝n is 3.6× slower at depth).
    * Prefer the two-level artifact for new deployments; the flat
    * regimes remain for stored-artifact compatibility and as the
    * measured record (the three-way A/B is in SURVEY.md round 15).
    * Two prerequisites made it win, both r15 measurements: packed
    * BINARY codebook literals ([[expr.CodebookCodec]] — boxed array
    * literals taxed stage serialization/deserialization) and
    * payload-free kernel renderings ([[expr.NearestCell.toString]] —
    * plan descriptions re-rendered megabyte literals per AQE stage). */
  def semDedupOnIndex(idx: DataFrame, thresholdMicro: Long,
                      salts: Int = 1, idCol: String = "vec_id"): DataFrame = {
    require(salts >= 1, s"salts must be >= 1 (got $salts)")
    val a0 = idx.select(col(idCol).as("_aid"), col("vd").as("avd"),
      col("nrm").as("anrm"), col("cell"))
    val b0 = idx.select(col(idCol).as("_bid"), col("vd").as("bvd"),
      col("nrm").as("bnrm"), col("cell"))
    val pairs =
      if (salts == 1) a0.join(b0, Seq("cell"))
      else {
        val a = a0.withColumn("_slt", explode(array((0 until salts).map(lit): _*)))
        val b = b0.withColumn("_slt", pmod(hash(col("_bid")), lit(salts)))
        a.join(b, Seq("cell", "_slt"))
      }
    val dups = pairs.where(col("_aid") < col("_bid"))
      .where(simMicroPre(col("avd"), col("bvd"), col("anrm"), col("bnrm"),
        idx.sparkSession) >= thresholdMicro)
      .groupBy(col("_bid"))
      .agg(min(col("_aid")).as("dup_of"))
    idx.select(col(idCol), col("cell"))
      .join(dups.withColumnRenamed("_bid", idCol), Seq(idCol), "left")
  }

  /** Dedup-on-ingest for the semantic route (the [[semDedupOnIndex]]
    * increment, mirroring the cross-corpus LSH probe convention): given
    * the STORED inverted file and a batch of new embeddings, verdict
    * only the new vectors — each increment pays its own size, the
    * stored corpus is scanned once and NEVER shuffled (the new side,
    * assigned and small, broadcasts into the per-cell compare).
    *
    * Keeper equivalence with a full [[semDedup]] over the union holds
    * under the append-only ingest contract: new ids exceed every stored
    * id (so a stored vector can never become the duplicate of a new
    * one — the same admission rule as the cross-corpus text probe).
    * Output: (idCol, cell, dup_of) for the NEW vectors — append these
    * rows (minus dup_of) to the stored index to advance the artifact. */
  def semDedupIncrement(idx: DataFrame, newEmb: DataFrame, model: IvfIndex.Model,
                        thresholdMicro: Long, idCol: String = "vec_id"): DataFrame =
    semDedupIncrementAssigned(idx, IvfIndex.index(newEmb, model, idCol),
      thresholdMicro, idCol)

  /** [[semDedupIncrement]] against a TWO-LEVEL stored index
    * ([[IvfIndex.trainTwoLevel]] / [[IvfIndex.index2]]): identical
    * contract and join geometry; assignment routes coarse→fine, so the
    * batch pays coarseK + kTotal/coarseK dots per vector instead of the
    * flat book's kTotal — the shape that keeps increments flat while
    * the TOTAL cell count tracks the corpus (the r14 regime trade,
    * resolved; A/B recorded in SURVEY.md round 15). */
  def semDedupIncrement2(idx: DataFrame, newEmb: DataFrame, model: IvfIndex.Model2,
                         thresholdMicro: Long, idCol: String = "vec_id"): DataFrame =
    semDedupIncrementAssigned(idx, IvfIndex.index2(newEmb, model, idCol),
      thresholdMicro, idCol)

  /** [[semDedup]] over the two-level quantizer: assign globally-fine
    * cells, then the SAME within-cell pair scan ([[semDedupOnIndex]] —
    * the index schema is identical, so the scan path is shared, which
    * IS the keeper-parity contract with the flat route). */
  def semDedup2(emb: DataFrame, model: IvfIndex.Model2, thresholdMicro: Long,
                salts: Int = 1, idCol: String = "vec_id"): DataFrame =
    semDedupOnIndex(IvfIndex.index2(emb, model, idCol), thresholdMicro, salts, idCol)

  /** SEMANTIC decontamination — the embedding-space member of the
    * contamination family ([[Dedup.contaminationPairs]] n-gram Bloom,
    * [[Dedup.containmentScan]] shingle containment): flag every corpus
    * vector whose embedding lies within cosine ≥ `thresholdMicro` of
    * ANY held-out test vector, reporting the leaked test item and the
    * similarity as the audit columns. This catches PARAPHRASED
    * benchmark leakage — rewordings that share no n-grams, invisible
    * to both text routes — which is exactly why eval-decontamination
    * pipelines run an embedding pass beside the lexical ones.
    *
    * Geometry (the contam_bloom argument at embedding scale): the
    * corpus is INDEXED map-side ([[IvfIndex.index2]] — cell assignment
    * is a per-row kernel, the corpus never shuffles); the test suite,
    * small by contract, is assigned and probe-expanded
    * ([[IvfIndex.knn2OnIndex]]'s selection: `nprobe` fine cells through
    * the `coarseProbe` nearest coarse routes) and BROADCAST onto the
    * corpus cells; exact cosine runs inside the scan stage; the
    * per-corpus-vector best hit folds behind map-side partial
    * aggregation, so the one exchange carries only contaminated rows.
    * Probed fine cells are distinct, so no (corpus, test) pair is
    * scored twice. Recall is bounded by the probe geometry exactly as
    * [[IvfIndex.knn2]] documents — size `nprobe` ≥ k/coarseK; full
    * fan-out (coarseProbe = coarse k, nprobe = total k) is exhaustive
    * and equals the brute-force scan (pinned in the spec).
    *
    * Output: (idCol, test_id, sim_micro) for CONTAMINATED vectors only —
    * `test_id` the best-matching test vector (ties → lowest test id),
    * `sim_micro` its similarity. Anti-join the corpus against it to
    * scrub.
    *
    * Measured (ProbeFamily `sem_contam`, sf0.1 rotated replicas,
    * k = 16·factor, nprobe = fine sub-book size, 20-vector suite, min
    * of fresh-JVM steady reps; probe in git history,
    * `git show 68ce229:src/main/scala/graft/tools/ProbeFamily.scala`):
    * ×1 0.8 s, ×10 1.7, ×40 6.6, ×100 14.8 —
    * linear in the corpus (the index scan + assignment pass IS the
    * cost; ×10→×40 3.8× per 4×, ×40→×100 2.3× per 2.5×) with ~0 MB
    * shuffled at every factor (broadcast probe + map-side fold). */
  def semContamination(corpus: DataFrame, test: DataFrame,
                       model: IvfIndex.Model2, thresholdMicro: Long,
                       nprobe: Int, coarseProbe: Int = 2,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame =
    semContaminationOnIndex(IvfIndex.index2(corpus, model, idCol, vecCol),
      test, model, thresholdMicro, nprobe, coarseProbe, idCol, vecCol)

  /** [[semContamination]] against an ALREADY-STORED inverted file (the
    * [[IvfIndex.knn2OnIndex]] deployment shape): decontaminate a
    * persisted corpus index without re-indexing —
    * [[graft.streaming.SemIngest.contamination]] wraps this over the
    * ingest-loop artifact, its fourth workload. */
  def semContaminationOnIndex(idx: DataFrame, test: DataFrame,
                              model: IvfIndex.Model2, thresholdMicro: Long,
                              nprobe: Int, coarseProbe: Int = 2,
                              idCol: String = "vec_id",
                              vecCol: String = "embedding"): DataFrame = {
    require(coarseProbe >= 1, s"coarseProbe must be >= 1 (got $coarseProbe)")
    require(nprobe >= 1, s"nprobe must be >= 1 (got $nprobe)")
    val session = test.sparkSession
    val probes = prep(test, vecCol)
      .withColumn("cell", explode(
        IvfIndex.probeCells2(col("vd"), model, nprobe, coarseProbe, session)))
      .select(col(idCol).as("test_id"), col("vd").as("tvd"),
        col("nrm").as("tnrm"), col("cell"))
    idx.join(broadcast(probes), Seq("cell"))
      .select(col(idCol), col("test_id"),
        simMicroPre(col("vd"), col("tvd"), col("nrm"), col("tnrm"),
          session).as("sim_micro"))
      .where(col("sim_micro") >= thresholdMicro)
      // argmax via struct max: (sim asc, -test_id asc) ranks highest sim
      // first, then the LOWEST test id — deterministic and partial-agg'd
      // (max merges map-side), unlike max_by's tie behavior.
      .groupBy(col(idCol))
      .agg(max(struct(col("sim_micro"), (-col("test_id")).as("_nt"))).as("_b"))
      .select(col(idCol), (-col("_b._nt")).as("test_id"),
        col("_b.sim_micro").as("sim_micro"))
  }

  private def semDedupIncrementAssigned(idx: DataFrame, newIdx: DataFrame,
                                        thresholdMicro: Long, idCol: String): DataFrame = {
    val keepersSide = idx.select(col(idCol), col("vd"), col("nrm"), col("cell"))
      .unionAll(newIdx)
      .select(col(idCol).as("_aid"), col("vd").as("avd"),
        col("nrm").as("anrm"), col("cell"))
    val probeSide = newIdx.select(col(idCol).as("_bid"), col("vd").as("bvd"),
      col("nrm").as("bnrm"), col("cell"))
    val dups = keepersSide.join(broadcast(probeSide), Seq("cell"))
      .where(col("_aid") < col("_bid"))
      .where(simMicroPre(col("avd"), col("bvd"), col("anrm"), col("bnrm"),
        idx.sparkSession) >= thresholdMicro)
      .groupBy(col("_bid"))
      .agg(min(col("_aid")).as("dup_of"))
    newIdx.select(col(idCol), col("cell"))
      .join(dups.withColumnRenamed("_bid", idCol), Seq(idCol), "left")
  }

  /** The dims (1-indexed) table `t` reads. `stride` must be coprime to
    * `dim` for the table dim-sets to stay distinct across all tables (the
    * default 4 is fine for 64-dim embeddings; the 24-bin activity
    * histograms use 5). */
  def tableDims(t: Int, bits: Int, dim: Int, stride: Int = Stride): Seq[Int] =
    (0 until bits).map(j => (t * stride + j) % dim + 1)

  /** Sign-bucket id of table `t`: sum of 2^j over its dims with value >= 0. */
  def signBucket(vd: Column, t: Int, bits: Int, dim: Int,
                 stride: Int = Stride): Column =
    tableDims(t, bits, dim, stride).zipWithIndex.map { case (d, j) =>
      when(element_at(vd, d) >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _).cast("long")

  /** (id, t, bucket) signature rows for all tables — one posexplode, no
    * per-table passes over the corpus. */
  def signatures(p: DataFrame, tables: Int, bits: Int, dim: Int,
                 idCol: String, stride: Int = Stride): DataFrame = {
    val sigArray = array((0 until tables).map(t =>
      struct(lit(t).as("t"), signBucket(col("vd"), t, bits, dim, stride).as("bucket"))): _*)
    p.select(col(idCol), explode(sigArray).as("s"))
      .select(col(idCol), col("s.t").as("t"), col("s.bucket").as("bucket"))
  }

  /** Multi-table LSH approximate top-k: candidates collide with the query
    * in >= 1 table; exact cosine + top-k on candidates only.
    * Output: (q_id, n_id, sim_micro). At scale: signatures are one narrow
    * shuffle on (t, bucket); the expensive dot product touches only the
    * candidate set (~tables/2^bits of the corpus per query). */
  def lshKnn(emb: DataFrame, queryPred: Column, k: Int,
             tables: Int = DefaultTables, bits: Int = DefaultBits, dim: Int = 64,
             idCol: String = "vec_id"): DataFrame = {
    // No persist: `p` is a map-side projection (cast + norm) of the source
    // scan, so each of the 4 uses below recomputes arithmetic inside its
    // own scan stage. At corpus scale caching the prepped corpus is
    // impossible anyway (and localCheckpoint — tried in round 2 — loses
    // lineage AND plan statistics, blocking broadcast planning); the
    // re-scan is the honest 100 TB cost model and keeps fault tolerance.
    val p = prep(emb)
    val corpusSig = signatures(p, tables, bits, dim, idCol)
      .toDF("n_id", "t", "bucket")
    val querySig = signatures(p.where(queryPred), tables, bits, dim, idCol)
      .toDF("q_id", "t", "bucket")
    val cands = corpusSig.join(broadcast(querySig), Seq("t", "bucket"))
      .where(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id")).distinct()
    val corpus = p.select(col(idCol).as("n_id"), col("vd").as("nvd"), col("nrm").as("nnrm"))
    val queries = p.where(queryPred)
      .select(col(idCol).as("q_id"), col("vd").as("qvd"), col("nrm").as("qnrm"))
    val sims = cands.join(broadcast(queries), "q_id").join(corpus, "n_id")
      .select(col("q_id"), col("n_id"),
        simMicroPre(col("qvd"), col("nvd"), col("qnrm"), col("nnrm"), emb.sparkSession).as("sim_micro"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim_micro").desc, col("n_id"))
    sims.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
      .select(col("q_id"), col("n_id"), col("sim_micro"))
  }

  /** Label-centroid outlier scan — embedding-space quality filtering:
    * the top-`k` vectors farthest from their own label's centroid are
    * the mislabeled / noisy candidates a curation pass reviews first.
    *
    * Every step is INTEGER-exact so a SQL oracle reproduces it
    * bit-for-bit: components scale to `floor(1e6 * x)` longs per row
    * (the distributed float-sum trap — partition-order-dependent
    * rounding — never arises), the centroid is an exact floor-division
    * `(sum - pmod(sum, cnt)) div cnt` per (label, dimension), and the
    * outlier score is the integer squared distance in scaled space.
    *
    * Scale shape: the component explode is map-side and collapses to
    * (label, dim) cells behind partial aggregation (the shuffle is
    * labels × dims × partitions, never row-count-sized); the centroid
    * table broadcasts back; the per-vector distance sum is one
    * partial-agg'd vec-keyed exchange. The per-label top-k avoids the
    * one-reducer-per-label window trap with a salted two-phase take:
    * top-k within each (label, salt) bucket — `salts`-way parallel —
    * then the exact top-k over the labels × salts × k candidates (any
    * true top-k row is top-k in its bucket, so phase 2 is exact).
    * Output: (label, vec_id, dist2, rk), rk 1-based by (dist2 desc,
    * vec_id). */
  /** Behavioral-cohort similarity over a keyed EVENT stream (the
    * CDC-analytics composition: the change stream that feeds the CEP
    * family also yields per-entity feature vectors): each key's 24-bin
    * hour-of-day activity histogram, cosine-compared via the SPARSE
    * inverted-index formulation — cells (key, hour, cnt) self-joined on
    * the hour bin, so no dense vector ever materializes and the shuffle
    * carries cells, not histories. Query keys restricted by `queryPred`
    * (the [[bruteKnn]] convention); top-`k` by (sim desc, id). Output:
    * (q_id, rk, n_id, sim_micro).
    *
    * Like [[bruteKnn]] this is the exhaustive baseline — O(query keys ×
    * keys sharing a bin); the scale route buckets signatures first
    * ([[lshKnn]] over the histogram as a vector). Sim is the repo-wide
    * float recipe: integer dot, `sqrt(double)` norms, one multiply, one
    * divide, floor — identical IEEE op order in the DuckDB oracle. */
  /** `salts` — parallelism knob for the inverted-index join: the hour
    * bin alone has 24 distinct values, so on a large cluster the entire
    * dot-product work would hash-partition into <= 24 tasks. With
    * `salts > 1` the corpus side salts by a hash of its key (map-side,
    * no extra shuffle volume) and the tiny query side replicates across
    * all salts, so each (q, n) pair still meets exactly once while the
    * join key carries 24 x salts values — set it to ~cores/12 on a real
    * cluster. Results are IDENTICAL for any value (parity-pinned in
    * PipelineSpec, the labelCentroidOutliers convention); the default 1
    * skips the fan-out because on local[32] the replication costs ~25%
    * for no parallelism gain. q37 ([[activityCosineTopKLsh]]) is the
    * candidate-pruned scale route; this knob keeps the exact anchor
    * itself cluster-parallelizable.
    *
    * Storage: the call is EAGER — it runs the events aggregation and
    * checkpoints the activity cells when the frame is built. Those
    * blocks live as long as the driver references the returned frame
    * (or one derived from it); Spark's `ContextCleaner` frees them once
    * it is dropped (see [[CheckpointUtil]]). */
  def activityCosineTopK(events: DataFrame, keyCol: String, tsCol: String,
                         hourUs: Long, queryPred: Column, k: Int,
                         salts: Int = 1, bins: Int = 24): DataFrame = {
    require(hourUs > 0 && k >= 1, s"need positive hour width and k, got $hourUs/$k")
    require(salts >= 1, s"salts must be >= 1, got $salts")
    // Checkpoint the cells ONCE (r17, the q37 device applied to the exact
    // route): the probe references the cell table four ways (query side,
    // corpus side, and the norm table joined back twice), and without
    // truncation each consumer re-derives the full events aggregation —
    // the filtered query side gets its predicate pushed below the
    // exchange, so AQE stage reuse cannot dedupe it. Cells are
    // key×bins-bounded (the persistable-index storage class), so at
    // 100 TB this replaces 4 full event-corpus scans per query with one;
    // locally it measures a wash-to-slight-win (min-of-8, OPTIMIZATION_r17.md §2:
    // 0.61 → 0.59 s — the corpus aggregation is cheap at sf0.1). The
    // blocks are freed when the returned frame becomes unreachable.
    // Construction is eager from here on (the checkpoint runs the events
    // aggregation at call time), the activityCosineTopKLsh convention.
    val cells = activityCells(events, keyCol, tsCol, hourUs, bins).localCheckpoint()
    val norms = cells.groupBy(col(keyCol))
      .agg(sqrt(sum(col("_c") * col("_c")).cast("double")).as("_nrm"))
    val a0 = cells.where(queryPred)
      .select(col(keyCol).as("q_id"), col("_h"), col("_c").as("_ca"))
    val joined =
      if (salts == 1)
        cells.select(col(keyCol).as("n_id"), col("_h"), col("_c").as("_cb"))
          .join(broadcast(a0), Seq("_h"))
      else {
        val a = a0.withColumn("_slt",
          explode(array((0 until salts).map(lit): _*)))
        val b = cells.select(col(keyCol).as("n_id"), col("_h"),
          col("_c").as("_cb"), pmod(hash(col(keyCol)), lit(salts)).as("_slt"))
        // broadcast hint: the salt explode inflates the query side's size
        // estimate and the planner may otherwise shuffle the CORPUS cells
        b.join(broadcast(a), Seq("_h", "_slt"))
      }
    val dots = joined.where(col("n_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("n_id"))
      .agg(sum(col("_ca") * col("_cb")).as("_dot"))
    val na = norms.select(col(keyCol).as("q_id"), col("_nrm").as("_na"))
    val nb = norms.select(col(keyCol).as("n_id"), col("_nrm").as("_nb"))
    val sims = dots.join(na, "q_id").join(nb, "n_id")
      .select(col("q_id"), col("n_id"),
        floor(lit(1e6) * col("_dot") / (col("_na") * col("_nb")))
          .cast("long").as("sim_micro"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("q_id")
      .orderBy(col("sim_micro").desc, col("n_id"))
    sims.withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= k)
      .select(col("q_id"), col("rk"), col("n_id"), col("sim_micro"))
  }

  /** (key, _h, _c) activity cells: per-key hour-of-bin event counts
    * (`bins = 24` is hour-of-day; 168 is hour-of-week; 7 with
    * `hourUs = 24h` is day-of-week). FLOOR-division hour index (`div`
    * truncates toward zero, which would mis-bin pre-epoch timestamps and
    * diverge from the oracle's floor `//`) — the bucketStart idiom, then
    * a non-negative mod. */
  def activityCells(events: DataFrame, keyCol: String, tsCol: String,
                    hourUs: Long, bins: Int = 24): DataFrame = {
    require(hourUs > 0, s"need positive hour width, got $hourUs")
    require(bins >= 2, s"need bins >= 2, got $bins")
    events.groupBy(col(keyCol),
        pmod(expr(s"(($tsCol) - pmod($tsCol, $hourUs)) div $hourUs"), lit(bins))
          .as("_h"))
      .agg(count(lit(1)).as("_c"))
  }

  /** Dense per-key activity histograms (key, hist array<long>[bins]),
    * built in ONE key-keyed exchange: the `bins` conditional sums
    * aggregate the raw event stream directly, so each mapper ships one
    * `bins`-long partial row per key instead of up to `bins` (key, _h,
    * cnt) [[activityCells]] rows (≈3x less exchange volume) and the
    * cell-sized second exchange of summing the cells per key disappears.
    * Identical output to that two-step composition (parity-pinned in
    * PipelineSpec); the cells stay for the exact route, whose
    * inverted-index join consumes them itself. Conditional sums, NOT
    * `map_from_entries(collect_list(...))`: the map route plans an
    * ObjectHashAggregate (no codegen, per-row object churn) while
    * conditional sums stay a plain codegen'd HashAggregate with map-side
    * partials — measured 2x on the corpus pass at the 100x smoke point.
    *
    * WIDE-BINS ROUTING (regime-dependent — both composable forms lose
    * one): the fused aggregate does O(bins) conditional-sum work per
    * EVENT row, and past `spark.sql.codegen.maxFields` (default 100)
    * Spark drops the whole stage out of codegen — at bins=168 on dense
    * cached events (few keys, ≫bins events each) the interpreted sums
    * ran 2.3× slower than the two-step composition, whose corpus pass
    * is an O(1)-per-row codegen'd (key, bin) count. But the two-step's
    * "cell-sized" intermediate is keys×bins ROWS — on SPARSE activity
    * (fewer than `bins` events per key, the common hour-of-week shape,
    * and this corpus' ~67 events/key) that exchange EXCEEDS the corpus:
    * probed at ×100 replicated events, two-step 222 MB shuffle /
    * 19.5 s min vs fused 40 MB / 9.5 s. So past the codegen limit this
    * routes to the [[graft.functions.expr.BinCountAgg]] kernel:
    * `buf(bin) += 1` per row — O(1) per row
    * (two-step's winning half) AND one `bins`-long array partial per
    * key (fused's winning half), immune to the codegen width limit by
    * construction. Probed min-of-reps (kernel / fused / two-step):
    * ×10 0.88 / 3.98 / 3.14 s, ×40 2.29 / 4.94 / 9.24, ×100
    * 5.26 / 9.49 / 19.50 at 36.5 / 40 / 222 MB shuffle — the kernel
    * beats both composable forms at every factor — including the DENSE
    * regime that originally motivated the two-step route (keys collapsed
    * to 64, ~156k events/key at ×100: kernel min 4.46 s vs two-step
    * 5.60, and only 64 buffers so the ObjectHashAggregate sort-based
    * fallback never engages). BELOW the limit the
    * codegen'd conditional sums keep the default: probed at bins=24
    * ×100 they tie the kernel (min 4.91 vs 5.10 s, identical 11 MB
    * exchange), and codegen'd expressions compose into surrounding
    * stages where the imperative aggregate cannot. */
  def activityHistogramsFromEvents(events: DataFrame, keyCol: String,
                                   tsCol: String, hourUs: Long,
                                   bins: Int = 24): DataFrame = {
    // hourUs = 0 would make the div expression yield null bins and
    // silently produce all-zero histograms (indexOfActivity guards, but
    // this is public API too)
    require(hourUs > 0, s"need positive hour width, got $hourUs")
    require(bins >= 2, s"need bins >= 2, got $bins")
    val maxFields = events.sparkSession.conf
      .get("spark.sql.codegen.maxFields", "100").toInt
    val bin = pmod(
      expr(s"(($tsCol) - pmod($tsCol, $hourUs)) div $hourUs"), lit(bins))
    if (bins <= maxFields)
      events.groupBy(col(keyCol))
        .agg(array((0 until bins).map(h =>
          coalesce(sum(when(bin === h, 1L)), lit(0L))): _*).as("hist"))
    else
      events.groupBy(col(keyCol)).agg(GraftExtensions.kernel(events.sparkSession,
        "bin_count_agg", bin, lit(bins)).as("hist"))
  }

  /** LSH stride for the 24-bin histograms: coprime to 24 so all table
    * dim-sets stay distinct (the embedding default 4 divides 24 — tables
    * 6.. would repeat tables 0..5's dims exactly). */
  val ActivityStride = 5

  /** The SCALE path for [[activityCosineTopK]]: sign-LSH over the 24-bin
    * activity histogram, then the EXACT cosine on candidates only.
    *
    * Raw histograms are non-negative, so raw sign bits would all read 1;
    * each histogram is mean-CENTERED first (`24*c[h] - total`, integer —
    * bit h reads "hour h is above this key's average activity"), which is
    * hyperplane LSH with planes `e_h - mean` and splits keys by activity
    * SHAPE. Candidates collide in >= 1 of `tables` tables; the verify
    * step recomputes the exact integer-dot cosine of the RAW histograms,
    * so every emitted (pair, sim) is exact ([[lshKnn]]'s contract) and
    * only ranking members can differ from [[activityCosineTopK]] — recall
    * measured in the spec, both routes oracle-checked end-to-end (q36 /
    * q37).
    *
    * Why this scales where the exact route cannot: the exhaustive form's
    * inverted-index join keys on the hour bin — 24 distinct values, so
    * at ANY corpus size the dot-product work hash-partitions into <= 24
    * tasks and output is the dense |Q|x|K| matrix. Here the candidate
    * join keys on (table, bucket) — `tables * 2^bits` distinct values
    * (1024 at the defaults, vs 24) — and downstream joins key on the key
    * id itself (full parallelism); candidate volume per query is the
    * bucket-collision set, not the key population. */
  def activityCosineTopKLsh(events: DataFrame, keyCol: String, tsCol: String,
                            hourUs: Long, queryPred: Column, k: Int,
                            tables: Int = DefaultTables, bits: Int = DefaultBits,
                            bins: Int = 24,
                            broadcastQueries: Boolean = true): DataFrame = {
    require(hourUs > 0, s"need positive hour width, got $hourUs")
    // Checkpoint the index ONCE (r16): the probe references it four ways
    // (corpus signatures, query signatures, query histograms, corpus
    // histograms), and without truncation each consumer re-derives the
    // full events aggregation — 2–4 corpus scans per query (AQE stage
    // reuse dedupes only the two unfiltered copies). The index is
    // key-bounded (one row per key — the same artifact the ingest loop
    // persists to parquet via activityLshIndexMerge), so materializing
    // it is the CC-labels storage class, and at 100 TB it replaces
    // repeated full event-corpus scans with one. Its blocks are freed
    // when the returned frame becomes unreachable.
    // Measured (sf0.1 min-of-5, OPTIMIZATION_r16.md §5): 1.08 → 0.50 s, output
    // row-identical. Durability: executor-loss makes the truncated-
    // lineage index unrecomputable → query-level retry; the bounded-
    // state trade is documented on [[CheckpointUtil]].
    val idx = activityLshIndex(events, keyCol, tsCol, hourUs, tables, bits, bins)
      .localCheckpoint()
    activityCosineTopKLshProbe(idx, keyCol, queryPred, k, broadcastQueries)
  }

  /** Persistable signature INDEX of a keyed event corpus' activity
    * profiles — the [[lshIndex]] convention applied to the q37 route:
    * one row per key carrying the raw histogram, its norm, and the full
    * bucket-signature array (bucket `t` at array position `t`). Building
    * it costs one corpus scan; write it next to the events table and
    * [[activityCosineTopKLshProbe]] answers queries without re-scanning
    * or re-histogramming the corpus. Incremental ingest: indexes of
    * KEY-DISJOINT event sets union trivially (one row per key); when a
    * key can recur across increments — the common case for an activity
    * profile — fold the parts through [[activityLshIndexMerge]] instead,
    * which sums histograms per key and recomputes norms/signatures
    * (cell-sized); a plain union of overlapping parts would carry two
    * divergent rows for the returning key and silently split its
    * profile. */
  def activityLshIndex(events: DataFrame, keyCol: String, tsCol: String,
                       hourUs: Long, tables: Int = DefaultTables,
                       bits: Int = DefaultBits, bins: Int = 24): DataFrame = {
    require(hourUs > 0, s"need positive hour width, got $hourUs")
    indexOfHistograms(
      activityHistogramsFromEvents(events, keyCol, tsCol, hourUs, bins),
      keyCol, tables, bits, bins)
  }

  /** Fold [[activityLshIndex]] parts whose KEY SETS MAY OVERLAP into the
    * single index an end-to-end build over the concatenated events would
    * produce (parity-pinned in PipelineSpec): histograms sum per key —
    * event counts are additive — and norm + signatures are recomputed
    * from the merged histogram (they are nonlinear in the counts, so the
    * parts' own values cannot be combined). Cell-sized work: one
    * key-keyed exchange of histogram rows, `bins` conditional sums each.
    * `tables`/`bits`/`bins` must match the values the parts were built
    * with — like every index artifact here, geometry is the caller's
    * contract (bins is validated against the rows' own histogram width,
    * the one mismatch that would silently corrupt). */
  def activityLshIndexMerge(parts: DataFrame, keyCol: String,
                            tables: Int = DefaultTables, bits: Int = DefaultBits,
                            bins: Int = 24): DataFrame = {
    val summed = parts
      // assert_true returns null when the predicate holds, so the `when`
      // passes hist through unchanged and a width-mismatched part row
      // fails the job loudly instead of silently truncating/null-padding
      .select(col(keyCol),
        when(assert_true(size(col("hist")) === bins,
          lit(s"activityLshIndexMerge: part histogram width != bins=$bins"))
          .isNull, col("hist")).as("hist"))
      .groupBy(col(keyCol))
      .agg(array((0 until bins).map(h =>
        sum(element_at(col("hist"), h + 1))): _*).as("hist"))
    indexOfHistograms(summed, keyCol, tables, bits, bins)
  }

  /** The histogram → (hist, nrm, bucketsigs) index projection shared by
    * [[activityLshIndex]] and [[activityLshIndexMerge]] — one definition,
    * or a drift would silently break merge/build parity. Mean-centering:
    * `bins*c[h] - total` (integer), bit h = "bin h is above this key's
    * average activity". */
  private def indexOfHistograms(hists: DataFrame, keyCol: String,
                                tables: Int, bits: Int, bins: Int): DataFrame = {
    require(bins >= 2, s"need bins >= 2, got $bins")
    require(tables >= 1 && tables <= bins && bits >= 1 && bits <= bins,
      s"need 1..$bins tables and 1..$bins bits for bins=$bins, got $tables/$bits")
    require(BigInt(ActivityStride).gcd(BigInt(bins)) == 1,
      s"LSH stride $ActivityStride must be coprime to bins=$bins " +
        "or table dim-sets repeat")
    hists
      .withColumn("_tot", aggregate(col("hist"), lit(0L), (a, x) => a + x))
      .withColumn("vd", transform(col("hist"),
        x => (x * lit(bins.toLong) - col("_tot")).cast("double")))
      .select(col(keyCol), col("hist"),
        sqrt(aggregate(col("hist"), lit(0L), (a, x) => a + x * x).cast("double"))
          .as("nrm"),
        array((0 until tables).map(t =>
          signBucket(col("vd"), t, bits, bins, ActivityStride)): _*).as("bucketsigs"))
  }

  /** Probe a (typically persisted) [[activityLshIndex]]: identical
    * output to [[activityCosineTopKLsh]] with the index's parameters
    * (parity-pinned in PipelineSpec). Candidates collide in >= 1 table;
    * the exact integer-dot cosine of the RAW histograms re-verifies
    * every candidate in the exhaustive route's IEEE op order.
    *
    * `broadcastQueries` (default true): the candidate and verify joins
    * HINT broadcast on the query side — contractually small under
    * `queryPred`, and a sort-merge would shuffle the corpus signature
    * stream (the exact shuffle the probe exists to avoid). Pass false
    * when the query set outgrows executor memory: the same plan degrades
    * to shuffle joins keyed on (t, bucket) / q_id instead of OOMing the
    * driver, output identical (parity pinned in PipelineSpec — the
    * lineDedup/span-scrub `broadcastVerdicts` contract). */
  def activityCosineTopKLshProbe(index: DataFrame, keyCol: String,
                                 queryPred: Column, k: Int,
                                 broadcastQueries: Boolean = true): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    def hinted(df: DataFrame): DataFrame =
      if (broadcastQueries) broadcast(df) else df
    val corpusSig = index.select(col(keyCol).as("n_id"),
      posexplode(col("bucketsigs")).as(Seq("t", "bucket")))
    val querySig = index.where(queryPred).select(col(keyCol).as("q_id"),
      posexplode(col("bucketsigs")).as(Seq("t", "bucket")))
    val cands = corpusSig.join(hinted(querySig), Seq("t", "bucket"))
      .where(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id")).distinct()
    val qh = index.where(queryPred)
      .select(col(keyCol).as("q_id"), col("hist").as("_qh"), col("nrm").as("_qn"))
    val nh = index
      .select(col(keyCol).as("n_id"), col("hist").as("_nh"), col("nrm").as("_nn"))
    // exact verify on candidates: integer dot of the RAW histograms, then
    // the repo-wide float recipe in the exhaustive route's IEEE op order
    val sims = cands.join(hinted(qh), "q_id").join(nh, "n_id")
      .select(col("q_id"), col("n_id"),
        floor(lit(1e6) *
            aggregate(zip_with(col("_qh"), col("_nh"), _ * _), lit(0L), _ + _)
              .cast("bigint") / (col("_qn") * col("_nn")))
          .cast("long").as("sim_micro"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("q_id")
      .orderBy(col("sim_micro").desc, col("n_id"))
    sims.withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= k)
      .select(col("q_id"), col("rk"), col("n_id"), col("sim_micro"))
  }

  def labelCentroidOutliers(emb: DataFrame, k: Int, salts: Int = 16,
                            idCol: String = "vec_id", labelCol: String = "label",
                            vecCol: String = "embedding"): DataFrame = {
    val xs = emb.select(col(idCol), col(labelCol),
      posexplode(transform(toDoubleVec(col(vecCol)),
        x => floor(x * lit(1000000.0)).cast("long"))).as(Seq("pos", "v")))
    val cent = xs.groupBy(col(labelCol), col("pos"))
      .agg(sum("v").as("s"), count(lit(1)).as("cnt"))
      .select(col(labelCol), col("pos"), expr("(s - pmod(s, cnt)) div cnt").as("c"))
    val d2 = xs.join(broadcast(cent), Seq(labelCol, "pos"))
      .groupBy(col(idCol), col(labelCol))
      .agg(sum((col("v") - col("c")) * (col("v") - col("c"))).as("dist2"))
    val w1 = Window.partitionBy(col(labelCol), pmod(col(idCol), lit(salts)))
      .orderBy(col("dist2").desc, col(idCol))
    val cand = d2.withColumn("_rk", row_number().over(w1)).where(col("_rk") <= k)
    val w2 = Window.partitionBy(col(labelCol)).orderBy(col("dist2").desc, col(idCol))
    cand.select(col(labelCol), col(idCol), col("dist2"))
      .withColumn("rk", row_number().over(w2).cast("long")).where(col("rk") <= k)
  }

  /** Symmetric int8 quantization summary per vector (the
    * serving/index-compression step of an embedding pipeline): each
    * component maps to `clamp(floor(v·127/amax + 0.5), -127, 127)` with
    * `amax = max(|v|)`; an all-zero vector quantizes to all zeros. The
    * output carries the reconstruction scale in µ-units
    * (`floor(1e6·amax/127)`) plus integer digests of the quantized
    * vector (sum, Σq², min, max) rather than 100 TB of int8 payloads —
    * a deployment writes `transform(...)` itself, this op is the audit
    * table. Determinism: elements cast float→double once, then every
    * op (·127, /amax, +0.5, floor) is IEEE-correctly-rounded and
    * identically ordered in Spark and DuckDB; `floor(x+0.5)` is used
    * instead of round() because the engines disagree on round-half
    * semantics. Scale shape: pure map-side HOFs over the scan — zero
    * shuffles, no UDFs. */
  def quantizeInt8Summary(emb: DataFrame, idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame = {
    emb.select(col(idCol), toDoubleVec(col(vecCol)).as("_vd"))
      .withColumn("_amax",
        aggregate(col("_vd"), lit(0.0), (acc, x) => greatest(acc, abs(x))))
      .withColumn("_q", when(col("_amax") === 0.0,
        transform(col("_vd"), _ => lit(0L))).otherwise(
        transform(col("_vd"), x => greatest(lit(-127L), least(lit(127L),
          floor(x * lit(127.0) / col("_amax") + lit(0.5)).cast("long"))))))
      .select(col(idCol),
        floor(col("_amax") * lit(1e6) / lit(127.0)).cast("long").as("scale_micro"),
        size(col("_q")).cast("long").as("dim"),
        aggregate(col("_q"), lit(0L), _ + _).as("q_sum"),
        aggregate(col("_q"), lit(0L), (acc, x) => acc + x * x).as("q_sq_sum"),
        array_min(col("_q")).as("q_min"), array_max(col("_q")).as("q_max"))
  }
}
