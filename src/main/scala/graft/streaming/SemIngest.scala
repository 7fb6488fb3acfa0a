package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.functions.{IvfIndex, Similarity}

/** Semantic dedup-on-ingest LOOP — [[CorpusIngest]] for the EMBEDDING
  * route: keeps a vector corpus near-duplicate-free (cosine ≥ τ) as
  * increments arrive, over the TWO-LEVEL quantizer artifact
  * ([[IvfIndex.trainTwoLevel]]) whose assignment cost stays flat as the
  * stored corpus grows (the r15 SemKnProbe adjudication; SURVEY.md
  * round 15 has the numbers). Vector frames
  * use the embeddings-table convention (`vec_id` long, `embedding`
  * array<float>, `label`).
  *
  * Each micro-batch is ONE [[Similarity.semDedupIncrement2]] call —
  * its keeper rule (reject a vector iff a LOWER-id vector of the same
  * fine cell, stored or in-batch, is ≥ τ) does intra-batch AND
  * cross-corpus admission in the same deterministic pass. Requires the
  * ingest contract the batch operator documents: APPEND-ONLY ids (new
  * ids exceed every stored id), the same admission orientation as the
  * text loop's keep-lowest-id rule.
  *
  * The codebook is FROZEN between re-seeds and every increment assigns
  * with it (the [[IvfIndex.loadModel2]] contract — ad-hoc re-training
  * would silently diverge the cell spaces). When the corpus outgrows the
  * book, [[occupancy]] is the measured trigger and [[reseed]] the
  * operation: retrain on the full corpus, re-quantize the index, publish
  * model + index together with ONE atomic rename; admission decisions
  * already made stay final (re-seed moves cells, never re-judges).
  *
  * State layout (any Hadoop filesystem):
  * {{{
  * corpusDir/model/             Model2 codebooks    (generation 0, by seed)
  * corpusDir/index/seed|b<k>/   index2 rows         (vec_id, vd, nrm, cell)
  * corpusDir/vecs/seed|b<k>/    accepted vectors    (parquet, all gens)
  * corpusDir/gen_<n>/model      re-seeded codebooks ([[reseed]])
  * corpusDir/gen_<n>/index/...  their re-quantized index
  * }}}
  * The CURRENT artifact is the newest committed `gen_<n>` if any reseed
  * has run, else the generation-0 layout; `vecs/` is generation-free
  * (vectors never change under re-quantization).
  *
  * EXACTLY-ONCE admission via batch-id idempotence, exactly the
  * [[CorpusIngest]] device: per-batch dirs written with overwrite, the
  * probe reads ONLY strictly-earlier index dirs, so a replayed batch
  * cannot see its failed attempt's rows and recomputes the identical
  * decision (pinned by the replay case in SemIngestSpec).
  *
  * Scale shape: the stored index is scanned once per batch and never
  * shuffled (the assigned batch broadcasts — the semDedupIncrement2
  * geometry); batch assignment pays coarseK + k/coarseK dots per
  * vector. Compact the per-batch dirs offline with [[compact]]. */
object SemIngest {

  /** Bootstrap ONLY: train the two-level book on the seed corpus (fine
    * cells sized to it via `kTotal`), persist model + vectors + index
    * in the generation-0 layout. Refuses a directory that already
    * carries a committed [[reseed]] generation (the gen-0 artifact it
    * would write is invisible behind the newer generation) AND one with
    * committed batch dirs: re-seeding over b<k> dirs would rewrite only
    * `model`/`seed` while the batch index rows keep the OLD book's cell
    * ids — two quantizations compared as one cell space, silently wrong
    * verdicts. Use [[reseed]] to re-quantize an existing corpus. */
  def seed(embs: DataFrame, corpusDir: String, kTotal: Int, iters: Int = 3,
           coarseK: Int = IvfIndex.DefaultCoarseK): Unit = {
    val spark = embs.sparkSession
    require(artifact(spark, corpusDir)._1 == s"$corpusDir/model",
      s"$corpusDir already carries a reseed generation — seed() is " +
        "bootstrap-only; use reseed() to re-quantize an existing corpus")
    val root = new Path(corpusDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    Seq("vecs", "index").foreach { sub =>
      val batches = CompactDirs.visibleDirs(fs, new Path(root, sub))
        .filter(_.getName != "seed")
      require(batches.isEmpty,
        s"$corpusDir/$sub already holds committed batch dirs " +
          s"(${batches.map(_.getName).mkString(", ")}) — seed() is " +
          "bootstrap-only; use reseed() to re-quantize an existing corpus")
    }
    val m2 = IvfIndex.trainTwoLevel(embs, kTotal, iters, coarseK = coarseK)
    IvfIndex.saveModel2(m2, s"$corpusDir/model")(spark)
    embs.write.mode("overwrite").parquet(s"$corpusDir/vecs/seed")
    IvfIndex.index2(embs, m2)
      .write.mode("overwrite").parquet(s"$corpusDir/index/seed")
    writeDesign(spark, s"$corpusDir/design",
      spark.read.parquet(s"$corpusDir/vecs/seed").count(), m2.k)
  }

  /** Design sidecar — the training-time (vectors, cells) pair that
    * anchors [[occupancy]]'s re-seed advisory. Lives BESIDE the model
    * (per generation for [[reseed]], so it commits atomically with the
    * book it describes) and is immune to [[compact]], which folds batch
    * dirs into the index `seed/` and would otherwise silently move a
    * seed-row-count-derived baseline. */
  private def writeDesign(spark: SparkSession, path: String,
                          trainVectors: Long, k: Int): Unit = {
    import spark.implicits._
    Seq((trainVectors, k)).toDF("train_vectors", "k")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  private def readDesign(spark: SparkSession,
                         modelDir: String): Option[(Long, Int)] = {
    val p = new Path(new Path(modelDir).getParent, "design")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      val r = spark.read.parquet(p.toString)
        .select("train_vectors", "k").head()
      Some((r.getLong(0), r.getInt(1)))
    }
  }

  private val GenPrefix = "gen_"
  private val GenStaging = "_gen_"

  /** Committed generation dirs with their parsed ordinals — a name that
    * merely starts with `gen_` but does not parse (a stray `gen_backup/`)
    * is NOT a generation and never resolves (it would otherwise either
    * shadow the legacy artifact or rank as generation 0). */
  private def committedGens(fs: org.apache.hadoop.fs.FileSystem,
                            root: Path): Seq[(Long, Path)] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.filter(_.isDirectory).map(_.getPath)
      .flatMap { p =>
        if (!p.getName.startsWith(GenPrefix)) None
        else p.getName.stripPrefix(GenPrefix).toLongOption.map(_ -> p)
      }

  /** Resolve the CURRENT quantizer artifact — `(modelDir, indexRoot)`:
    * the highest-numbered committed `gen_<n>` when a [[reseed]] has
    * run, else the generation-0 seed-time layout. A generation is
    * published by ONE rename (`_gen_<n>` → `gen_<n>`), so the resolved
    * model and index always belong to the same training — there is no
    * window where a reader can pair a new book with an old inverted
    * file. Ordinals are SEQUENTIAL (max existing + 1, assigned by
    * reseed), not wall-clock: a clock-derived ordinal would let a stale
    * superseded generation outrank a newer one after a reboot (the
    * nanoTime origin is per-boot and arbitrary), silently resurrecting
    * a dead book. Superseded generations are never resolved again
    * (highest wins) and are swept lazily by the next reseed. */
  private def artifact(spark: SparkSession, corpusDir: String)
  : (String, String) = {
    val root = new Path(corpusDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val gens = committedGens(fs, root)
    if (gens.isEmpty) (s"$corpusDir/model", s"$corpusDir/index")
    else {
      val newest = gens.maxBy(_._1)._2
      (s"$newest/model", s"$newest/index")
    }
  }

  /** Shared resolve-and-heal for the read entry points ([[search]],
    * [[contamination]], [[occupancy]]): the current generation's model,
    * its model dir (for the design sidecar), and the crash-healed
    * readable index dirs. */
  private def loadArtifact(spark: SparkSession, corpusDir: String)
  : (String, IvfIndex.Model2, Seq[String]) = {
    val (modelDir, indexRoot) = artifact(spark, corpusDir)
    val m2 = IvfIndex.loadModel2(modelDir)(spark)
    val dirs = CompactDirs.readableDirs(spark, new Path(indexRoot))
      .map(_.toString)
    require(dirs.nonEmpty, s"no index under $indexRoot")
    (modelDir, m2, dirs)
  }

  /** Index directories visible to `batchId`: `seed` plus `b<k>` for
    * k < batchId (NEVER the current batch — replay determinism). */
  private def priorIndexDirs(spark: SparkSession, indexRoot: String,
                             batchId: Long): Seq[String] =
    CompactDirs.readableDirs(spark, new Path(indexRoot))
      .filter { p =>
        p.getName == "seed" ||
          p.getName.drop(1).toLongOption.exists(_ < batchId)
      }
      .map(_.toString)

  /** The foreachBatch handler (usable directly against a batch frame —
    * the spec's replay case does exactly that). */
  def handler(corpusDir: String, thresholdMicro: Long)
  : (DataFrame, Long) => Unit = { (batch, batchId) =>
    val spark = batch.sparkSession
    val (modelDir, indexRoot) = artifact(spark, corpusDir)
    val m2 = IvfIndex.loadModel2(modelDir)(spark)
    val prior = priorIndexDirs(spark, indexRoot, batchId)
    val verdicts =
      if (prior.isEmpty) Similarity.semDedup2(batch, m2, thresholdMicro)
      else Similarity.semDedupIncrement2(
        spark.read.parquet(prior: _*), batch, m2, thresholdMicro)
    val accepted = batch.join(
      verdicts.where(col("dup_of").isNull).select("vec_id"),
      Seq("vec_id"), "left_semi")
    accepted.write.mode("overwrite").parquet(s"$corpusDir/vecs/b$batchId")
    IvfIndex.index2(accepted, m2)
      .write.mode("overwrite").parquet(s"$indexRoot/b$batchId")
  }

  /** The whole accepted corpus (seed + every committed batch);
    * `_`-prefixed compaction temp dirs are invisible, and a crashed
    * [[compact]] swap is healed before reading
    * ([[CompactDirs.recover]]). */
  def corpus(spark: SparkSession, corpusDir: String): DataFrame = {
    val dirs = CompactDirs.readableDirs(spark, new Path(s"$corpusDir/vecs"))
      .map(_.toString)
    require(dirs.nonEmpty, s"no ingested corpus under $corpusDir/vecs")
    spark.read.parquet(dirs: _*)
  }

  /** Wire a streaming embedding frame into the loop:
    * `SemIngest.start(embs, dir, ckpt, 950000L).start()`. */
  def start(embs: DataFrame, corpusDir: String, checkpointDir: String,
            thresholdMicro: Long)
  : DataStreamWriter[org.apache.spark.sql.Row] =
    embs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(handler(corpusDir, thresholdMicro))

  /** ANN search over the ingest artifact — the third workload of the
    * ONE stored index: the same model + inverted file that admit
    * increments ([[handler]]) and bound the dedup scan also answer
    * top-k similarity queries, with zero re-indexing
    * ([[IvfIndex.knn2OnIndex]]: the stored index pays one probed-cell
    * equi-join, queries broadcast). `queries` uses the embeddings
    * convention (`vec_id`, `embedding`); give queries ids disjoint
    * from the corpus (a stored vector with a query's id is excluded as
    * a self-pair). Crash-healed dirs, frozen codebook — results
    * reflect every committed batch. Output: (q_id, n_id, sim_micro).
    *
    * Recall note ([[IvfIndex.knn2]]): size `nprobe` on the order of
    * the fine sub-book size (k/coarseK) — below it, coarse routing
    * bounds recall hard. */
  def search(spark: SparkSession, corpusDir: String, queries: DataFrame,
             kNeighbors: Int, nprobe: Int, coarseProbe: Int = 2): DataFrame = {
    val (_, m2, dirs) = loadArtifact(spark, corpusDir)
    IvfIndex.knn2OnIndex(spark.read.parquet(dirs: _*), queries, m2,
      kNeighbors, nprobe, coarseProbe)
  }

  /** Decontamination over the ingest artifact — its FOURTH workload
    * (admission, dedup scan, [[search]], and now eval-leak scanning
    * share the one stored model + inverted file): flag every ingested
    * vector within cosine ≥ `thresholdMicro` of a held-out test vector
    * ([[graft.functions.Similarity.semContaminationOnIndex]] — the
    * small test suite broadcasts, the stored index never shuffles).
    * Crash-healed dirs, current generation's book. Output:
    * (vec_id, test_id, sim_micro), contaminated vectors only. */
  def contamination(spark: SparkSession, corpusDir: String, test: DataFrame,
                    thresholdMicro: Long, nprobe: Int,
                    coarseProbe: Int = 2): DataFrame = {
    val (_, m2, dirs) = loadArtifact(spark, corpusDir)
    Similarity.semContaminationOnIndex(spark.read.parquet(dirs: _*), test,
      m2, thresholdMicro, nprobe, coarseProbe)
  }

  /** Fine-cell occupancy of the stored index — the MEASURED re-seed
    * trigger. The two-level book is frozen at [[seed]] time with total
    * fine cells sized to the seed corpus (k ∝ n keeps the within-cell
    * pair scan linear); as ingest grows the corpus against the fixed
    * book, per-cell population rises and the increment's within-cell
    * verify work grows QUADRATICALLY in occupancy (each new vector
    * compares against every stored cell-mate). Rule of thumb: re-seed
    * (retrain + re-quantize; admissions already made stay final) once
    * `mean` exceeds ~4× the seed-time design occupancy
    * `seedVectors / Model2.k` — that is ~16× the per-cell verify work —
    * or earlier if `max` shows a runaway hot cell. All stats are
    * computed from one groupBy over the index (k-bounded result, one
    * bounded collect).
    *
    * The rule is COMPUTED, not judged: seed/reseed persist their
    * training-time (vectors, k) in a `design` sidecar beside the model
    * (per generation — commits atomically with the book; immune to
    * [[compact]], which rewrites the index root), and `reseedAdvised`
    * reports `mean >= ReseedAdvisoryFactor × designMean`. `None` on
    * artifacts predating the sidecar. */
  case class Occupancy(vectors: Long, cells: Int, populatedCells: Int,
                       mean: Double, p99: Long, max: Long,
                       designMean: Option[Double],
                       reseedAdvised: Option[Boolean])

  /** Advisory threshold: re-seed once `mean` exceeds this multiple of
    * the training-time design occupancy (~16× the per-cell verify work
    * — see the [[occupancy]] scaladoc's quadratic argument). */
  val ReseedAdvisoryFactor = 4.0

  def occupancy(spark: SparkSession, corpusDir: String): Occupancy = {
    val (modelDir, m2, dirs) = loadArtifact(spark, corpusDir)
    val counts = spark.read.parquet(dirs: _*)
      .groupBy("cell").agg(count(lit(1)).as("n"))
      .select("n").collect().map(_.getLong(0)).sorted
    val total = counts.sum
    val k = m2.k
    val mean = if (k == 0) 0.0 else total.toDouble / k
    // design sidecar (written by seed/reseed beside their model): turns
    // the scaladoc rule into a computed verdict; None on artifacts from
    // before the sidecar existed
    val design = readDesign(spark, modelDir).map { case (tv, dk) =>
      if (dk == 0) 0.0 else tv.toDouble / dk
    }
    Occupancy(
      vectors = total,
      cells = k,
      populatedCells = counts.length,
      mean = mean,
      p99 = if (counts.isEmpty) 0L
        else counts(math.min(counts.length - 1, (counts.length * 99) / 100)),
      max = counts.lastOption.getOrElse(0L),
      designMean = design,
      reseedAdvised = design.map(d => mean >= ReseedAdvisoryFactor * d))
  }

  /** Offline compaction — the [[CorpusIngest.compact]] contract: fold
    * per-batch dirs into `seed/` (bytes move, decisions never re-judged;
    * index rows reused, vectors never re-assigned). Crash contract
    * ([[CompactDirs]]): the swap window is RECOVERABLE — a crash at any
    * point (including between the two seed renames) loses nothing,
    * because every read path and the next compact first run
    * [[CompactDirs.recover]], which rolls the directory back to its
    * exact pre-compact state; duplicate rows left across seed and
    * batch dirs (the post-swap cleanup window) make identical reject
    * decisions and fold away on the next compact. Run only with no
    * active ingest query and the last batch committed. */
  def compact(spark: SparkSession, corpusDir: String): Unit = {
    CompactDirs.swap(spark, new Path(s"$corpusDir/vecs"), Seq("vec_id"))
    CompactDirs.swap(spark, new Path(artifact(spark, corpusDir)._2),
      Seq("vec_id"))
  }

  /** RE-SEED — the operation [[occupancy]]'s trigger calls for: retrain
    * the two-level book on the full crash-healed corpus (size `kTotal`
    * to the CURRENT n, restoring the seed-time design occupancy) and
    * re-quantize every stored vector, without re-judging a single
    * admission (the accepted set is carried verbatim; dedup decisions
    * are final by contract).
    *
    * Publication is crash-atomic by construction: the new model and its
    * re-built index are staged together under one invisible
    * `_gen_<n>` dir, then committed by a SINGLE rename to `gen_<n>` —
    * the only mutation readers can observe. A crash before the rename
    * leaves the old artifact fully intact (the staging dir is invisible
    * and swept by the next reseed); a crash after it leaves the new
    * artifact live with stale superseded dirs that are never resolved
    * (newest generation wins) and are swept lazily. There is NO state
    * in which a reader pairs a book with another generation's inverted
    * file — the failure mode a two-dir in-place swap would have.
    *
    * Caller contract (the [[compact]] contract): no active ingest
    * query, last batch committed; restart the stream on the SAME
    * checkpoint afterwards so batch ids keep increasing. Post-reseed
    * batches index into the new generation; their admission probes see
    * the whole corpus through the re-built `seed`.
    *
    * Measured cost (ProbeFamily `sem_reseed`, sf0.1 rotated replicas,
    * kTotal = 16·factor, min of fresh-JVM steady-state reps; record in
    * RESEED_LOCAL_r16.json and
    * `git show 68ce229:src/main/scala/graft/tools/ProbeFamily.scala`): ×1 2.2 s,
    * ×4 1.9, ×10 2.9, ×40 5.4, ×100 5.1 — TRAINING-dominated and near
    * flat past the sample cap (`trainTwoLevel`'s maxTrainPerCell bounds
    * the k-means input); the re-index term is linear in n but map-side
    * (one kernel assignment pass, no shuffle), still minor at ×100
    * (200k vectors, 1600 cells). Budget reseed ≈ a few increment
    * batches, amortized over the growth that triggered it.
    *
    * `crashAfter` is the [[CompactDirs.swap]] test-only failpoint
    * (1 = model staged, 2 = index staged, 3 = design sidecar staged,
    * 4 = generation committed, 5.. = per-dir sweep of superseded
    * artifacts). */
  def reseed(spark: SparkSession, corpusDir: String, kTotal: Int,
             iters: Int = 3, coarseK: Int = IvfIndex.DefaultCoarseK,
             crashAfter: Int = Int.MaxValue): Unit = {
    var mutations = 0
    def mutated(): Unit = {
      mutations += 1
      if (mutations >= crashAfter)
        throw new CompactDirs.InjectedCrash(mutations)
    }
    val root = new Path(corpusDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val all = corpus(spark, corpusDir)
    val m2 = IvfIndex.trainTwoLevel(all, kTotal, iters, coarseK = coarseK)
    // SEQUENTIAL ordinal (max committed + 1), never wall-clock: a
    // clock-derived name would let a stale crash-survivor generation
    // outrank a newer commit after a reboot (nanoTime's origin is
    // per-boot and arbitrary) — resolution must follow commit order.
    val t = committedGens(fs, root).map(_._1).maxOption.getOrElse(0L) + 1
    val staging = new Path(root, s"$GenStaging$t")
    if (fs.exists(staging)) fs.delete(staging, true) // crashed same-ordinal attempt
    IvfIndex.saveModel2(m2, s"$staging/model")(spark)
    mutated()
    IvfIndex.index2(all, m2)
      .write.mode("overwrite").parquet(s"$staging/index/seed")
    mutated()
    writeDesign(spark, s"$staging/design",
      spark.read.parquet(s"$staging/index/seed").count(), m2.k)
    mutated()
    val committed = new Path(root, s"$GenPrefix$t")
    require(fs.rename(staging, committed),
      s"reseed: rename $staging -> $committed failed")
    mutated()
    // lazy sweep of superseded artifacts — all invisible to resolution
    // already (newest gen wins; gen-0 dirs unresolved once a gen exists),
    // so a crash anywhere in here costs bytes, never correctness. The
    // gen-0 dirs are addressed directly (not via artifact resolution) so
    // a sweep that crashed in an EARLIER reseed still converges here.
    Seq(new Path(root, "model"), new Path(root, "index"),
        new Path(root, "design"))
      .filter(fs.exists).foreach { p => fs.delete(p, true); mutated() }
    // only PARSED generations are ours to sweep — a stray gen_<nonnum>
    // dir was never resolvable and is not this engine's to delete
    committedGens(fs, root).map(_._2)
      .filter(_.getName != committed.getName)
      .foreach { p => fs.delete(p, true); mutated() }
    fs.listStatus(root).toSeq.filter(_.isDirectory).map(_.getPath)
      .filter(_.getName.startsWith(GenStaging))
      .foreach { p => fs.delete(p, true); mutated() }
  }
}
