package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.GraftExtensions
import graft.functions.expr.CodebookCodec

/** IVF (inverted-file) approximate nearest neighbor — the coarse-quantizer
  * scale path for similarity search (complement to the sign-LSH variant in
  * [[Similarity.lshKnn]]).
  *
  * Index build = deterministic Lloyd's k-means run with DataFrame ops:
  *   - init: the k lowest-id vectors are the seed centroids;
  *   - assign: broadcast the k centroids (k x dim doubles — trivially
  *     small), pick argmin distance via the codegen'd `vec_dot`;
  *   - update: per-dimension means as dim aggregate columns on one
  *     groupBy(cell) — corpus rows enter the partial aggregation
  *     unexploded, and only k rows of dim+1 longs cross the exchange /
  *     reach the driver (bounded by the codebook, never by the corpus).
  * Search probes the `nprobe` nearest cells: an equi-join on cell id, so
  * the expensive dot products touch ~nprobe/k of the corpus.
  *
  * Everything is deterministic (fixed seeds, fixed iteration count,
  * double arithmetic) — same index on every run at any parallelism.
  */
object IvfIndex {

  /** Trained coarse quantizer: centroid vectors by cell id. */
  case class Model(centroids: Array[Array[Double]]) {
    def k: Int = centroids.length
  }

  /** Persist the codebook next to its inverted file: the model is the
    * other half of the stored-index artifact — an increment
    * ([[Similarity.semDedupIncrement]], probe-side [[knn]]) must assign
    * with the SAME centroids the index was built under, or the cell
    * spaces silently diverge (the ladder-grain-metadata lesson). */
  def saveModel(model: Model, path: String)
               (implicit spark: org.apache.spark.sql.SparkSession): Unit = {
    import spark.implicits._
    model.centroids.zipWithIndex
      .map { case (c, j) => (j, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def loadModel(path: String)
               (implicit spark: org.apache.spark.sql.SparkSession): Model = {
    import spark.implicits._
    val rows = spark.read.parquet(path)
      .select(col("cell"), col("centroid")).as[(Int, Seq[Double])]
      .collect().sortBy(_._1)
    require(rows.nonEmpty, s"no codebook rows at $path")
    require(rows.map(_._1).toSeq == rows.indices.toSeq,
      s"codebook cells at $path are not contiguous 0..${rows.length - 1}")
    Model(rows.map(_._2.toArray))
  }

  /** Fixed-point scale for centroid accumulation: summing longs is
    * order-independent, so the trained codebook is bit-identical at ANY
    * partitioning/parallelism (a double `avg` would accumulate in shuffle
    * order and drift between local[4] and a 1000-executor run). Inputs
    * are unit-ish floats: |v|·2^40 · corpus ≪ 2^63. */
  private[functions] val FixedPointScale = 1L << 40

  /** Sample-domain for the train cap: hash-mod keeps the choice of
    * training vectors deterministic at any partitioning. */
  private val SampleDomain = 1L << 20

  /** Lloyd's iterations over (a bounded sample of) the corpus; `emb` must
    * have (idCol, vecCol).
    *
    * Training input is capped at ~`maxTrainVectors` via a deterministic
    * hash sample of the id (same device as the corpus split machinery):
    * a coarse quantizer needs a representative sample, not the corpus, so
    * training cost stops scaling with corpus size — at 100 TB, 3 Lloyd
    * passes over everything would dominate the query. Below the cap the
    * sample IS the corpus, so small-scale results (and the p12 oracle,
    * which is generated from the trained model) are unchanged. Assignment
    * ([[index]]) still covers every vector. */
  def train(emb: DataFrame, k: Int, iters: Int,
            idCol: String = "vec_id", vecCol: String = "embedding",
            maxTrainVectors: Int = 1 << 16): Model = {
    // cache BEFORE counting: the count materializes the cache, so the
    // corpus is prepared exactly once whether or not the cap engages; the
    // sample is a filter VIEW over the cached prep (no second cache)
    val full = Similarity.prep(emb, vecCol).select(col(idCol), col("vd")).cache()
    try trainPrepped(full, full.count(), k, iters, idCol, emb.sparkSession,
      maxTrainVectors)
    finally full.unpersist()
  }

  /** [[train]]'s body after prep/cache/count — exposed so a caller that
    * already holds a cached (idCol, vd) prep and its count
    * ([[trainTwoLevel]], [[Pq.trainPq]]) trains over it without paying a
    * second corpus scan + count (r16: the coarse book and the fine loop
    * each prepped and counted the same corpus). Same sample, same seeds,
    * same folds — bit-identical to [[train]]. */
  private[functions] def trainPrepped(full: DataFrame, total: Long, k: Int,
                                      iters: Int, idCol: String,
                                      session: SparkSession,
                                      maxTrainVectors: Int = 1 << 16): Model = {
    require(maxTrainVectors >= k,
      s"maxTrainVectors ($maxTrainVectors) must be >= k ($k)")
    lloyd(trainSample(full, total, k, maxTrainVectors, idCol), k, iters,
      idCol, session)
  }

  /** The deterministic hash-sample view [[train]] caps its Lloyd's loop
    * with (whole corpus below the cap; fallback to whole when the cap
    * would undershoot the seed count). Exposed so a caller training
    * SEVERAL books over one cached prep ([[Pq.trainPq]]) pays the
    * corpus scan and count once instead of per book. */
  private[functions] def trainSample(full: DataFrame, total: Long, k: Int,
                                     maxTrainVectors: Int,
                                     idCol: String): DataFrame =
    if (total <= maxTrainVectors) full
    else {
      val keep = math.max(1L, maxTrainVectors * SampleDomain / total)
      val sampled =
        full.where(pmod(xxhash64(col(idCol)), lit(SampleDomain)) < keep)
      // a cap near k could undershoot the seed count — fall back whole
      if (sampled.limit(k).count() < k) full else sampled
    }

  /** The Lloyd's loop over an already-prepared (idCol, vd) frame —
    * [[train]]'s body after cache/sample; input rows should be backed
    * by a cache the CALLER owns. */
  private[functions] def lloyd(p: DataFrame, k: Int, iters: Int,
                               idCol: String,
                               session: SparkSession): Model = {
      var centroids = p.orderBy(col(idCol)).limit(k).select(col("vd"))
        .collect().map(_.getSeq[Double](0).toArray)
      val dim = centroids.headOption.map(_.length).getOrElse(0)
      (1 to iters).foreach { _ =>
        val model = Model(centroids)
        val assigned = p.withColumn("cell",
          assignCol(col("vd"), model, session))
        // per-cell per-dimension sums WITHOUT exploding the corpus by dim:
        // the one-buffer [[expr.VecSumFixed]] aggregate sums whole vectors
        // per update call (k·(dim+1) longs across the exchange; PipelineSpec
        // pins it against dim separate fixed-point sum columns). Only k
        // rows reach the driver — bounded by the codebook, never the
        // corpus.
        val next = centroids.map(_.clone())
        // count(vd), not count(*): the sums skip null vectors, so the
        // divisor must too (a cell of only-null vectors keeps its
        // centroid, like the pre-VecSumFixed explode formulation that
        // emitted no rows for it)
        assigned.groupBy(col("cell"))
          .agg(GraftExtensions.kernel(session, "vec_sum_fixed", col("vd"),
            lit(FixedPointScale)).as("s"), count(col("vd")).as("n"))
          .collect()
          .foreach { r =>
            val cell = r.getAs[Int]("cell")
            val n = r.getAs[Long]("n")
            val s = r.getSeq[Long](1)
            var i = 0
            while (n > 0 && i < dim && i < s.length) {
              next(cell)(i) = s(i).toDouble / FixedPointScale / n
              i += 1
            }
          }
        centroids = next
      }
      Model(centroids)
  }

  /** Assignment column: cell = argmin_j ||x - c_j||^2 = argmin_j
    * (||c_j||^2 - 2 x·c_j), by the [[graft.functions.expr.NearestCell]]
    * kernel — a tight k×dim primitive loop over the codebook passed as
    * CodebookCodec-PACKED binary literals — at ANY k.
    *
    * The routes that look simpler were measured and rejected:
    *   - the unrolled projection of k (c², centroid-literal, vec_dot)
    *     triples loses even at k=16, because each of its k branches
    *     carries a boxed per-centroid array literal (smoke
    *     semdedup_probe ×4 [k=64 unrolled] min 7.05 s vs ×10 [k=160
    *     kernel] 0.95 on a SMALLER corpus; the since-deleted SemKnProbe's
    *     ×4 A/B, SURVEY.md round 15: flat-book increments 7.0-8.5 s
    *     unrolled vs 0.97 via the kernel, same artifacts, same sums), and
    *     near k≈100 it overflows the JVM's 64 KB generated-method limit
    *     and drops the stage to interpreted mode;
    *   - at the 40× smoke point (80k vectors, k=512) a broadcast-join +
    *     min-agg form materializes n·k pair rows each dragging two
    *     64-double arrays (48 s), and an `array_min(transform(...))`
    *     loop keeps the plan narrow but higher-order functions evaluate
    *     INTERPRETED inside a codegen'd stage (99 s). The kernel runs the
    *     identical arithmetic (driver-side left-fold c², strict
    *     left-to-right dot, lowest-cell ties) in 3.5 s at the same point;
    *     SketchesSpec pins it row-identical to both composable forms.
    *
    * Packed literals, not typedlit arrays: a boxed array literal is
    * ~k·dim heap objects that every stage serialization, task
    * deserialization, and plan canonicalization walks; at k=1600 that
    * plumbing exceeded all task work combined (the assign_literal_tax
    * probe, r15: the SemDeDup increment 5.7 s wall vs ~4 s SUMMED task
    * time across 32 cores; packed literals are one primitive byte[]
    * each).
    *
    * `session` owns the frame the column is used in (the kernel is
    * registered into it): every DataFrame-level entry threads its input's
    * session; the active-session default exists only for column-level
    * use. */
  private[graft] def assignCol(vd: Column, model: Model,
                               session: SparkSession = SparkSession.active): Column =
    GraftExtensions.kernel(session, "nearest_cell", vd,
      lit(CodebookCodec.packMatrix(model.centroids)),
      lit(CodebookCodec.packVector(model.centroids.map(c => c.map(x => x * x).sum))))

  /** Corpus with cell assignment (the "inverted file"), by [[assignCol]]. */
  def index(emb: DataFrame, model: Model,
            idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    Similarity.prep(emb, vecCol)
      .withColumn("cell", assignCol(col("vd"), model, emb.sparkSession))
      .select(col(idCol), col("vd"), col("nrm"), col("cell"))

  /** The `nprobe` nearest cells of a query vector, as an array column, by
    * the [[graft.functions.expr.NearestCells]] kernel (the [[assignCol]]
    * trade: the unrolled `array_sort(array(<k score structs>))` hits the
    * same 64 KB codegen ceiling; SketchesSpec pins the kernel
    * row-identical to the composable forms). */
  private[functions] def probeCells(vd: Column, model: Model, nprobe: Int,
      session: SparkSession = SparkSession.active): Column =
    GraftExtensions.kernel(session, "nearest_cells", vd,
      lit(CodebookCodec.packMatrix(model.centroids)),
      lit(CodebookCodec.packVector(model.centroids.map(c => c.map(x => x * x).sum))),
      lit(nprobe))

  // ---- two-level coarse quantizer (r15) ----------------------------

  /** Hierarchical quantizer: `coarse` routes each vector to a per-cell
    * FINE sub-codebook; the global fine cell id is `offsets(coarseCell)
    * + fineIdx`. Fine books may be ragged (a coarse cell whose training
    * sample was smaller than its fine-k trains fewer centroids; an
    * empty one degenerates to the coarse centroid itself).
    *
    * Why two levels (the r14 SemDeDup regime trade, resolved): the
    * within-cell pair scan needs TOTAL cells ∝ corpus (else it drifts
    * toward n²/k), but a flat codebook's assignment is exact over all k
    * cells, so each ingest batch pays batch·k dots and the increment
    * cost grows with the STORED corpus. Routing through ≤64 coarse
    * cells makes assignment coarseK + kTotal/coarseK ≈ 2·√k per vector
    * while cell population still stays constant — both regimes flat. */
  case class Model2(coarse: Model, fine: Array[Model]) {
    require(fine.length == coarse.k,
      s"fine sub-codebook count ${fine.length} != coarse k ${coarse.k}")
    /** Global-id base per coarse cell (prefix sums of fine sizes). */
    val offsets: Array[Int] = fine.scanLeft(0)(_ + _.k).init
    /** Total fine cells (the `k` of the equivalent flat codebook). */
    def k: Int = fine.iterator.map(_.k).sum
  }

  /** Two-level assignment column — global fine cell id, by the
    * [[graft.functions.expr.NearestCellTwoLevel]] kernel (coarse argmin
    * + routed fine argmin, one constant-size codegen'd expression);
    * SketchesSpec pins it row-identical to a composable element_at +
    * HOF-argmin reference. */
  private[graft] def cell2Of(vd: Column, m: Model2,
      session: SparkSession = SparkSession.active): Column =
    GraftExtensions.kernel(session, "nearest_cell_2", vd,
      lit(CodebookCodec.packMatrix(m.coarse.centroids)),
      lit(CodebookCodec.packVector(
        m.coarse.centroids.map(c => c.map(x => x * x).sum))),
      lit(CodebookCodec.packNested(m.fine.map(_.centroids))),
      lit(CodebookCodec.packMatrix(
        m.fine.map(_.centroids.map(c => c.map(x => x * x).sum)))))

  /** Default coarse codebook size: assignment cost is coarseK +
    * kTotal/coarseK, minimized at √kTotal, but a FIXED coarse book keeps
    * stored-artifact compatibility simple. */
  val DefaultCoarseK = 64

  /** Train the hierarchical quantizer: the coarse book via [[train]]
    * (sample-capped Lloyd's), then ALL fine sub-codebooks simultaneously
    * — one DataFrame pass per iteration assigns every sampled vector its
    * global fine cell ([[cell2Of]] with the current books) and one
    * aggregation updates every centroid (k·(dim+1) longs cross the
    * exchange, bounded by the codebook, never the corpus). Training
    * input is a deterministic hash sample capped at coarseK ·
    * maxTrainPerCell total with a per-cell row_number cap, so training
    * cost stops scaling with the corpus — and is FAR cheaper than a
    * flat k ∝ n book (each sampled vector scores 64 + fineK centroids
    * per pass instead of kTotal; measured r15, SURVEY.md round 15).
    *
    * Deterministic at any partitioning: hash-sample + hash-ordered
    * row_number caps, id-ordered seeds, fixed-point long accumulation
    * (the [[train]] devices).
    *
    * `kTotal` is a TARGET rounded UP to a multiple of the coarse size:
    * every coarse cell trains `ceil(kTotal/coarseK)` fine centroids, so
    * the realized [[Model2.k]] can exceed `kTotal` by up to coarseK−1
    * (e.g. kTotal=100 at coarseK=64 yields 128 cells) — and can come in
    * BELOW it when sparse coarse cells train ragged (fewer) sub-books.
    * Callers sizing k ∝ n for pair-scan density get at least the
    * requested cell budget; read the realized count off `Model2.k`. */
  def trainTwoLevel(emb: DataFrame, kTotal: Int, iters: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    coarseK: Int = DefaultCoarseK,
                    maxTrainPerCell: Int = 4096): Model2 = {
    require(kTotal >= 1, s"kTotal must be >= 1 (got $kTotal)")
    require(coarseK >= 1, s"coarseK must be >= 1 (got $coarseK)")
    require(maxTrainPerCell >= 1,
      s"maxTrainPerCell must be >= 1 (got $maxTrainPerCell)")
    val cK = math.min(coarseK, kTotal)
    val spark = emb.sparkSession
    // ONE cached prep + count serves both the coarse training and the
    // fine loop (r16: [[train]] used to prep/cache/count its own copy of
    // the same corpus — two scans, two counts, identical rows)
    val prepped = Similarity.prep(emb, vecCol).select(col(idCol), col("vd")).cache()
    var cellSample: DataFrame = null
    try {
      val total = prepped.count()
      val coarse = trainPrepped(prepped, total, cK, iters, idCol, spark)
      val fineK = math.max(1, (kTotal + cK - 1) / cK)
      if (fineK == 1)
        return Model2(coarse, coarse.centroids.map(c => Model(Array(c))))
      val capTotal = cK.toLong * maxTrainPerCell
      val sampled =
        if (total <= capTotal) prepped
        else {
          val keep = math.max(1L, capTotal * SampleDomain / total)
          prepped.where(pmod(xxhash64(col(idCol)), lit(SampleDomain)) < keep)
        }
      // per-cell cap: hash-ordered row_number inside each coarse cell —
      // the window runs over the (bounded) sample, never the corpus
      val cw = Window.partitionBy(col("_cc"))
        .orderBy(xxhash64(col(idCol)), col(idCol))
      cellSample = sampled
        .withColumn("_cc", assignCol(col("vd"), coarse, spark))
        .withColumn("_rn", row_number().over(cw))
        .where(col("_rn") <= maxTrainPerCell)
        .select(col(idCol), col("vd"), col("_cc"))
        .cache()
      // seeds: the fineK lowest-id sampled vectors per coarse cell;
      // a cell empty in the sample degenerates to its coarse centroid
      val sw = Window.partitionBy(col("_cc")).orderBy(col(idCol))
      val seedRows = cellSample.withColumn("_rs", row_number().over(sw))
        .where(col("_rs") <= fineK)
        .select(col("_cc"), col("_rs"), col("vd")).collect()
      val byCell = seedRows.groupBy(_.getInt(0))
      var fines: Array[Model] = Array.tabulate(coarse.k) { c =>
        byCell.get(c) match {
          case Some(rs) =>
            Model(rs.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray))
          case None => Model(Array(coarse.centroids(c)))
        }
      }
      val dim = coarse.centroids.headOption.map(_.length).getOrElse(0)
      (1 to iters).foreach { _ =>
        val m2 = Model2(coarse, fines)
        // global id -> (coarse cell, fine idx) for the update fold
        val gToCell: Array[(Int, Int)] =
          fines.zipWithIndex.flatMap { case (fm, c) =>
            (0 until fm.k).map(j => (c, j))
          }
        val assigned = cellSample.withColumn("_g", cell2Of(col("vd"), m2, spark))
        val next = fines.map(_.centroids.map(_.clone()))
        def fold(g: Int, n: Long, s: Int => Option[Long], len: Int): Unit =
          if (g >= 0 && g < gToCell.length && n > 0) {
            val (c, j) = gToCell(g)
            var i = 0
            while (i < dim && i < len) {
              s(i).foreach(v => next(c)(j)(i) = v.toDouble / FixedPointScale / n)
              i += 1
            }
          }
        assigned.groupBy(col("_g"))
          .agg(GraftExtensions.kernel(spark, "vec_sum_fixed", col("vd"),
            lit(FixedPointScale)).as("s"), count(col("vd")).as("n"))
          .collect()
          .foreach { r =>
            val s = r.getSeq[Long](1)
            fold(r.getAs[Int]("_g"), r.getAs[Long]("n"),
              i => Some(s(i)), s.length)
          }
        fines = next.map(Model(_))
      }
      Model2(coarse, fines)
    } finally {
      if (cellSample != null) cellSample.unpersist()
      prepped.unpersist()
    }
  }

  /** Corpus with GLOBAL fine cell assignment — the two-level inverted
    * file. Same schema as [[index]] (idCol, vd, nrm, cell), so every
    * downstream consumer ([[Similarity.semDedupOnIndex]], the increment
    * path) works unchanged on either artifact. */
  def index2(emb: DataFrame, model: Model2,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    Similarity.prep(emb, vecCol)
      .withColumn("cell", cell2Of(col("vd"), model, emb.sparkSession))
      .select(col(idCol), col("vd"), col("nrm"), col("cell"))

  /** Persist the two-level codebook next to its inverted file (the
    * [[saveModel]] contract, hierarchical edition): rows are
    * (level, c, j, centroid) — level 0 the coarse book (j unused),
    * level 1 the fine books keyed (coarse cell, fine idx). */
  def saveModel2(model: Model2, path: String)
                (implicit spark: org.apache.spark.sql.SparkSession): Unit = {
    import spark.implicits._
    val coarseRows = model.coarse.centroids.zipWithIndex
      .map { case (c, j) => (0, j, 0, c.toSeq) }
    val fineRows = model.fine.zipWithIndex.flatMap { case (fm, c) =>
      fm.centroids.zipWithIndex.map { case (cent, j) => (1, c, j, cent.toSeq) }
    }
    (coarseRows ++ fineRows).toSeq.toDF("level", "c", "j", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def loadModel2(path: String)
                (implicit spark: org.apache.spark.sql.SparkSession): Model2 = {
    import spark.implicits._
    val rows = spark.read.parquet(path)
      .select(col("level"), col("c"), col("j"), col("centroid"))
      .as[(Int, Int, Int, Seq[Double])].collect()
    val coarseRows = rows.filter(_._1 == 0).sortBy(_._2)
    require(coarseRows.nonEmpty, s"no coarse codebook rows at $path")
    require(coarseRows.map(_._2).toSeq == coarseRows.indices.toSeq,
      s"coarse cells at $path are not contiguous 0..${coarseRows.length - 1}")
    val coarse = Model(coarseRows.map(_._4.toArray))
    val fineByCell = rows.filter(_._1 == 1).groupBy(_._2)
    val fine = Array.tabulate(coarse.k) { c =>
      val fr = fineByCell.getOrElse(c,
        sys.error(s"coarse cell $c has no fine codebook at $path")).sortBy(_._3)
      require(fr.map(_._3).toSeq == fr.indices.toSeq,
        s"fine cells of coarse $c at $path are not contiguous")
      Model(fr.map(_._4.toArray))
    }
    Model2(coarse, fine)
  }

  /** Approximate top-k: probe `nprobe` cells per query, exact cosine
    * within the probed cells. Output: (q_id, n_id, sim_micro). */
  def knn(emb: DataFrame, model: Model, queryPred: Column, kNeighbors: Int,
          nprobe: Int, idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val idx = index(emb, model, idCol, vecCol)
    knnOnIndex(idx, Similarity.prep(emb.where(queryPred), vecCol)
        .withColumn("cell",
          explode(probeCells(col("vd"), model, nprobe, emb.sparkSession))),
      kNeighbors, idCol)
  }

  /** [[knn]] through the TWO-LEVEL quantizer — the SAME stored artifact
    * ([[index2]] + [[Model2]]) that serves [[Similarity.semDedup2]] also
    * answers similarity search. Probe-cell selection routes the
    * hierarchy: the `coarseProbe` nearest COARSE cells first (the
    * [[probeCells]] kernel over the ≤64-cell coarse book), then the fine
    * centroids of ONLY those cells are ranked and the `nprobe` best
    * GLOBAL fine cells probed. The fine ranking runs on the QUERY side
    * — small by contract and broadcast — so its per-element HOF
    * evaluation is query-bounded, never corpus-bounded; the corpus pays
    * exactly what [[knn]] pays: one equi-join on the probed cells.
    * Recall is bounded by the coarse routing (a fine cell of an
    * unprobed coarse cell is invisible — raise `coarseProbe` to trade
    * query flops for recall; SketchesSpec pins the exactness floor and
    * the full-fan-out == brute-force ceiling). Measured recall@10 on
    * the rotated-replica corpus (the knn_recall family of the deleted
    * ProbeFamily probe, SURVEY.md rounds 15-16; ×100, ~1.6% of cells
    * probed on every route): two-level (cp=8, nprobe=25 of 1600) 0.630
    * vs flat k∝n (nprobe=25) 0.540 vs capped-512 (nprobe=8) 0.485 —
    * the hierarchy gives the BEST recall per probed volume, on top of
    * the flat-increment assignment economics; at ×10 (nprobe=8) 0.945
    * vs 0.905 flat (r15 headline, reproduced bit-for-bit r16 through
    * the nearest_cells_2 kernel).
    *
    * Regime boundary (r16, measured): the advantage needs `nprobe` on
    * the order of the fine sub-book size (k/coarseK). At ×100 with
    * nprobe=8 ≪ fineK=25, flat's GLOBAL cell ranking wins 0.440 vs
    * 0.365–0.380 at ANY coarseProbe (4/8/16 swept) — the coarse
    * routing bound costs more than the per-cell book quality buys.
    * Size nprobe ≥ k/coarseK when recall matters at depth.
    * Output: (q_id, n_id, sim_micro). */
  def knn2(emb: DataFrame, model: Model2, queryPred: Column, kNeighbors: Int,
           nprobe: Int, coarseProbe: Int = 2,
           idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    knn2OnIndex(index2(emb, model, idCol, vecCol), emb.where(queryPred),
      model, kNeighbors, nprobe, coarseProbe, idCol, vecCol)

  /** [[knn2]] against an ALREADY-STORED inverted file: answers top-k
    * from a persisted [[index2]] artifact + its [[Model2]] without
    * re-indexing the corpus — the search half of the ingest-loop story
    * ([[graft.streaming.SemIngest.search]] wraps this over its
    * directory layout). Queries arrive as their own frame (idCol,
    * vecCol); the stored index pays one probed-cell equi-join, the
    * query side broadcasts. A stored vector with the SAME id as a
    * query is excluded from that query's neighbors (the in-corpus
    * self-pair rule knn/knn2 share) — give external queries ids
    * disjoint from the corpus. */
  def knn2OnIndex(idx: DataFrame, queries: DataFrame, model: Model2,
                  kNeighbors: Int, nprobe: Int, coarseProbe: Int = 2,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    require(coarseProbe >= 1, s"coarseProbe must be >= 1 (got $coarseProbe)")
    knnOnIndex(idx, Similarity.prep(queries, vecCol)
        .withColumn("cell",
          explode(probeCells2(col("vd"), model, nprobe, coarseProbe,
            queries.sparkSession))),
      kNeighbors, idCol)
  }

  /** Shared verify tail: exact cosine within the probed cells, per-query
    * top-k. The probe side broadcasts — the indexed corpus never
    * shuffles for the join (the p12 plan pin). */
  private def knnOnIndex(idx: DataFrame, probes: DataFrame,
                         kNeighbors: Int, idCol: String): DataFrame = {
    val queries = probes
      .select(col(idCol).as("q_id"), col("vd").as("qvd"), col("nrm").as("qnrm"), col("cell"))
    val sims = idx.join(broadcast(queries), Seq("cell"))
      .where(col("q_id") =!= col(idCol))
      .select(col("q_id"), col(idCol).as("n_id"),
        Similarity.simMicroPre(col("qvd"), col("vd"), col("qnrm"), col("nrm"),
          idx.sparkSession).as("sim_micro"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim_micro").desc, col("n_id"))
    sims.withColumn("rn", row_number().over(w)).where(col("rn") <= kNeighbors)
      .select(col("q_id"), col("n_id"), col("sim_micro"))
  }

  /** The `nprobe` nearest GLOBAL fine cells among the `coarseProbe`
    * nearest coarse cells' sub-codebooks, by the
    * [[graft.functions.expr.NearestCellsTwoLevel]] kernel with
    * CodebookCodec-packed literals (r16, measured: the composable HOF
    * form embeds the full nested fine codebook as a boxed typedlit — the
    * r15 plan-tax class — and at knn_recall ×100 the two-level route
    * summed 33.9 s of task deserialization vs 20.9 s flat at the same
    * k, wall 14.9 vs 13.5 s despite ~20× fewer flops; with the kernel
    * the deser tax drops to flat parity — 19.6 s, wall 13.5 — and at
    * ×400/k=6400 the route matches flat wall, 99.9 vs 103.4 s, on
    * ~3× less summed task work). SketchesSpec pins it row-identical to
    * that HOF form: coarse selection via [[probeCells]], fine ranking as
    * (distance, global id) structs flattened across the selected
    * sub-books, sorted (Spark's struct ordering: distance asc, NaN last,
    * ties to the lower global id), prefix taken. Query-side only by
    * construction. */
  private[graft] def probeCells2(vd: Column, m: Model2, nprobe: Int,
      coarseProbe: Int, session: SparkSession = SparkSession.active): Column =
    GraftExtensions.kernel(session, "nearest_cells_2", vd,
      lit(CodebookCodec.packMatrix(m.coarse.centroids)),
      lit(CodebookCodec.packVector(
        m.coarse.centroids.map(c => c.map(x => x * x).sum))),
      lit(CodebookCodec.packNested(m.fine.map(_.centroids))),
      lit(CodebookCodec.packMatrix(
        m.fine.map(_.centroids.map(c => c.map(x => x * x).sum)))),
      lit(nprobe), lit(coarseProbe))
}
