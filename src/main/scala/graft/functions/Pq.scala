package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.expr.CodebookCodec
import graft.GraftExtensions

/** Product quantization (Jégou, Douze, Schmid, TPAMI 2011) — the
  * STORAGE-scale half of the ANN stack ([[IvfIndex]] is the routing
  * half): split each embedding into `m` contiguous sub-vectors, train an
  * independent small codebook per sub-space, and store each vector as
  * its `m` sub-centroid ids. At m=8 × 256-cell sub-books a 64-dim
  * float32 embedding (256 B raw, carried verbatim by [[IvfIndex.index2]])
  * compresses to 8 codes + one stored norm — the representation that
  * lets a 100 TB embedding corpus's search index live in cluster memory
  * instead of re-scanning parquet.
  *
  * Search is IVF-ADC: candidates come from the SAME two-level inverted
  * file the dedup/search artifact already maintains (cell routing is
  * [[IvfIndex.probeCells2]], unchanged); scoring replaces the exact
  * within-cell dot with the asymmetric-distance approximation —
  * per query ONE table of sub-centroid dots
  * ([[graft.functions.expr.PqAdcTable]], query-side, broadcast), per
  * candidate pair `m` primitive lookups
  * ([[graft.functions.expr.PqAdcScore]]) instead of a dim-length dot
  * over a raw vector the index no longer carries. [[knnRerank]] adds
  * the standard exact re-rank of the ADC shortlist against the raw
  * corpus for recall at the top.
  *
  * Float discipline: sub-space dots fold strictly left-to-right, the
  * ADC sum folds in ascending sub-space order from a 0.0 seed, and
  * `sim_adc_micro = floor(1e6 · adc_dot / (qnrm · nrm))` uses the TRUE
  * stored norm — every double replayable bit-identically by the DuckDB
  * oracle. Training reuses [[IvfIndex.train]] per sub-space (fixed-point
  * centroid accumulation: bit-identical books at any parallelism).
  *
  * Measured (the since-deleted ProbeFamily `pq_adc`, sf0.1 rotated
  * replicas, m=8 ksub=256; record in PQ_LOCAL_r16.json): the stored
  * index is ~18× smaller than the exact [[IvfIndex.index2]] at every
  * factor (8.1→0.41 MB at ×10, 81→4.6 MB at ×100 — parquet-encoded;
  * ~30× raw) with ADC search wall-ahead of the exact route (×40: 1.38
  * vs 1.96 s min on ~4× less summed task work; ×100: 5.0 vs 6.1 s).
  * The two-stage [[knnRerank]] is slower than exact search AT TOY
  * SCALE (×100: 14.4 s — it re-pays the ADC sub-stages' literal
  * deserialization plus one corpus semi-pass); its value is
  * recall-at-the-top when the raw-vector index cannot be scanned at
  * all, which is the regime PQ exists for (PqSpec: ADC recall@5 0.550
  * → rerank 0.950 at a 10k shortlist). */
object Pq {

  /** Trained product quantizer: one independent codebook per sub-space.
    * Sub-space s covers dims `[starts(s), starts(s) + subDims(s))`;
    * `offsets` is the flattened ADC-table layout (prefix sums of
    * sub-book sizes — ragged books supported, the [[IvfIndex.Model2]]
    * convention). */
  case class PqModel(books: Array[IvfIndex.Model]) {
    require(books.nonEmpty, "PqModel requires at least one sub-book")
    val subDims: Array[Int] =
      books.map(_.centroids.headOption.map(_.length).getOrElse(0))
    val starts: Array[Int] = subDims.scanLeft(0)(_ + _).init
    val offsets: Array[Int] = books.scanLeft(0)(_ + _.k).init
    def m: Int = books.length
    /** Total table entries (Σ sub-book sizes). */
    def tableLen: Int = offsets.last + books.last.k
    def dim: Int = starts.last + subDims.last
  }

  /** Train `m` sub-books of (up to) `ksub` cells each: slice the
    * corpus's double vector into even contiguous sub-vectors (first
    * `dim % m` sub-spaces one dim wider) and run the deterministic
    * sample-capped Lloyd's loop ([[IvfIndex.lloyd]]) per slice over ONE
    * shared cached prep: the corpus is scanned, prepared, and counted
    * once, the deterministic hash sample is drawn once, and each book's
    * loop runs over a slice VIEW of the cached rows — m × iters
    * cell-bounded aggregation jobs, never m corpus scans. Books are
    * bit-identical to training each slice independently (same sample
    * ids, same seed rows, same fixed-point folds). Training is a
    * once-per-artifact cost (the [[IvfIndex.trainTwoLevel]] posture). */
  def trainPq(emb: DataFrame, m: Int, ksub: Int, iters: Int,
              idCol: String = "vec_id", vecCol: String = "embedding",
              maxTrainVectors: Int = 1 << 16): PqModel = {
    require(m >= 1, s"m must be >= 1 (got $m)")
    require(ksub >= 1, s"ksub must be >= 1 (got $ksub)")
    require(maxTrainVectors >= ksub,
      s"maxTrainVectors ($maxTrainVectors) must be >= ksub ($ksub)")
    val session = emb.sparkSession
    val full = Similarity.prep(emb, vecCol)
      .select(col(idCol), col("vd")).cache()
    try {
      val dim = full.select(size(col("vd"))).where(col("vd").isNotNull)
        .head().getInt(0)
      require(dim >= m, s"embedding dim $dim must be >= m sub-spaces ($m)")
      val base = dim / m
      val rem = dim % m
      val dims = Array.tabulate(m)(s => if (s < rem) base + 1 else base)
      val starts = dims.scanLeft(0)(_ + _).init
      val sample = IvfIndex.trainSample(full, full.count(), ksub,
        maxTrainVectors, idCol)
      // ALL m merge loops fused — one seed collect and one aggregation
      // job PER ITERATION cover every sub-book (r16: per-book lloyd calls
      // ran m·(1 seed + iters agg) = 32 tiny driver-synchronous jobs at
      // contract m=8/iters=3, and the job scheduling — not the flops —
      // was ~80% of p59's cost; PqSpec pins the fused books bit-identical
      // to per-book [[IvfIndex.lloyd]] runs)
      trainPqFused(sample, m, ksub, iters, dims, starts, idCol, session)
    } finally full.unpersist()
  }

  /** The fused Lloyd's loop over every sub-space at once. Bit-identical
    * to training each slice independently: seeds are the ksub lowest-id
    * sampled vectors (one collect, sliced driver-side — the same rows
    * each per-book `orderBy(id).limit(ksub)` selects), each iteration
    * assigns every (vector, sub-space) pair its nearest cell with the
    * SAME per-book packed-literal kernel expression, and the per-(sub,
    * cell) fixed-point long sums are order-independent, so one exchange
    * carrying m·ksub·(dim/m+1) longs replaces m exchanges of
    * ksub·(dim/m+1). */
  private def trainPqFused(sample: DataFrame, m: Int, ksub: Int, iters: Int,
                           dims: Array[Int], starts: Array[Int],
                           idCol: String, session: SparkSession): PqModel = {
    val seedRows = sample.orderBy(col(idCol)).limit(ksub)
      .select(col("vd")).collect().map(_.getSeq[Double](0).toArray)
    var books: Array[Array[Array[Double]]] = Array.tabulate(m)(s =>
      seedRows.map(v => v.slice(starts(s), starts(s) + dims(s))))
    (1 to iters).foreach { _ =>
      val entries = array((0 until m).map { s =>
        val svd = slice(col("vd"), starts(s) + 1, dims(s))
        struct(lit(s).as("sub"),
          IvfIndex.assignCol(svd, IvfIndex.Model(books(s)), session).as("cell"),
          svd.as("svd"))
      }.toIndexedSeq: _*)
      val next = books.map(_.map(_.clone()))
      sample.select(explode(entries).as("e"))
        .select(col("e.sub").as("sub"), col("e.cell").as("cell"),
          col("e.svd").as("svd"))
        .groupBy(col("sub"), col("cell"))
        .agg(GraftExtensions.kernel(session, "vec_sum_fixed", col("svd"),
          lit(IvfIndex.FixedPointScale)).as("s"), count(col("svd")).as("n"))
        .collect().foreach { r =>
          val sub = r.getAs[Int]("sub")
          val cell = r.getAs[Int]("cell")
          val n = r.getAs[Long]("n")
          val sv = r.getSeq[Long](r.fieldIndex("s"))
          if (n > 0 && cell >= 0 && cell < next(sub).length) {
            var i = 0
            while (i < dims(sub) && i < sv.length) {
              next(sub)(cell)(i) = sv(i).toDouble / IvfIndex.FixedPointScale / n
              i += 1
            }
          }
        }
      books = next
    }
    PqModel(books.map(IvfIndex.Model(_)))
  }

  /** Persist next to the inverted file ([[IvfIndex.saveModel2]]
    * contract): rows are (sub, j, centroid). */
  def saveModelPq(model: PqModel, path: String)
                 (implicit spark: SparkSession): Unit = {
    import spark.implicits._
    model.books.zipWithIndex.flatMap { case (b, s) =>
      b.centroids.zipWithIndex.map { case (c, j) => (s, j, c.toSeq) }
    }.toSeq.toDF("sub", "j", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def loadModelPq(path: String)(implicit spark: SparkSession): PqModel = {
    import spark.implicits._
    val rows = spark.read.parquet(path)
      .select(col("sub"), col("j"), col("centroid"))
      .as[(Int, Int, Seq[Double])].collect()
    require(rows.nonEmpty, s"no PQ codebook rows at $path")
    val bySub = rows.groupBy(_._1)
    require(bySub.keys.toSeq.sorted == bySub.keys.toSeq.indices.toSeq,
      s"PQ sub-books at $path are not contiguous 0..${bySub.size - 1}")
    PqModel(Array.tabulate(bySub.size) { s =>
      val br = bySub(s).sortBy(_._2)
      require(br.map(_._2).toSeq == br.indices.toSeq,
        s"PQ sub-book $s at $path has non-contiguous cells")
      IvfIndex.Model(br.map(_._3.toArray))
    })
  }

  /** PQ codes column: `array(m sub-space nearest-cell ids)` — each
    * sub-space rides the EXISTING [[graft.functions.expr.NearestCell]]
    * kernel ([[IvfIndex.assignCol]]) over a slice of the double vector
    * with its own packed sub-book literal. */
  private[graft] def codesCol(vd: Column, model: PqModel,
                              session: SparkSession): Column =
    array(model.books.zipWithIndex.map { case (b, s) =>
      IvfIndex.assignCol(
        slice(vd, model.starts(s) + 1, model.subDims(s)), b, session)
    }.toIndexedSeq: _*)

  /** Encode a corpus: (idCol, nrm, codes). The stored payload per
    * vector is m ints + one double — the raw vector is NOT carried. */
  def encode(emb: DataFrame, model: PqModel,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    Similarity.prep(emb, vecCol)
      .select(col(idCol), col("nrm"),
        codesCol(col("vd"), model, emb.sparkSession).as("codes"))

  /** The IVF-ADC stored artifact: [[IvfIndex.index2]]'s cell routing +
    * PQ codes INSTEAD of the raw vector — (idCol, cell, nrm, codes),
    * ~32× smaller than the exact index at m=8/dim=64. One prep pass;
    * cell assignment and all m code assignments are map-side kernels. */
  def index2Pq(emb: DataFrame, ivf: IvfIndex.Model2, model: PqModel,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val s = emb.sparkSession
    Similarity.prep(emb, vecCol)
      .select(col(idCol),
        IvfIndex.cell2Of(col("vd"), ivf, s).as("cell"),
        col("nrm"),
        codesCol(col("vd"), model, s).as("codes"))
  }

  /** Query-side ADC table column, by the [[graft.functions.expr.PqAdcTable]]
    * kernel (PqSpec pins it bit-identical to per-sub-space `transform`s
    * of sliced dots over the boxed sub-book literals). */
  private[graft] def adcTableCol(vd: Column, model: PqModel,
                                 session: SparkSession): Column =
    GraftExtensions.kernel(session, "pq_adc_table", vd,
      lit(CodebookCodec.packNested(model.books.map(_.centroids))))

  /** Per-pair ADC score column, by the [[graft.functions.expr.PqAdcScore]]
    * kernel (PqSpec pins it against a zip_with/aggregate fold and a
    * driver-side reconstruction oracle). */
  private[graft] def adcScoreCol(codes: Column, table: Column,
                                 model: PqModel, session: SparkSession): Column =
    GraftExtensions.kernel(session, "pq_adc_score", codes, table,
      lit(CodebookCodec.packInts(model.offsets)))

  /** ADC approximate top-k through the two-level inverted file — the
    * [[IvfIndex.knn2OnIndex]] geometry with the exact within-cell dot
    * replaced by the ADC estimate: `pqIdx` is an [[index2Pq]] artifact
    * (cell, nrm, codes — no raw vectors), queries build one table each
    * and broadcast, the index pays one probed-cell equi-join and m
    * lookups per candidate. Output: (q_id, n_id, sim_adc_micro) —
    * `floor(1e6 · adc_dot / (qnrm · nrm))`, the estimate of the exact
    * `sim_micro` (true stored norms; only the dot is approximated).
    * Recall loss vs [[IvfIndex.knn2OnIndex]] comes from code
    * quantization ON TOP of the shared probe bound — measure with
    * PqSpec's recall pins and re-rank with [[knnRerank]] when the top
    * must be exact. */
  def knnOnPqIndex(pqIdx: DataFrame, queries: DataFrame,
                   ivf: IvfIndex.Model2, model: PqModel, kNeighbors: Int,
                   nprobe: Int, coarseProbe: Int = 2,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    require(kNeighbors >= 1, s"kNeighbors must be >= 1 (got $kNeighbors)")
    val session = queries.sparkSession
    // table and probe set are projected BEFORE the cell explode: a
    // projection above the Generate would re-evaluate pq_adc_table once
    // per probed cell (nprobe tables per query) and broadcast nprobe
    // copies of each table; below it, the Generate just duplicates the
    // computed array reference (one table per query, as documented).
    val probes = Similarity.prep(queries, vecCol)
      .select(col(idCol).as("q_id"),
        adcTableCol(col("vd"), model, session).as("qtab"),
        col("nrm").as("qnrm"),
        IvfIndex.probeCells2(col("vd"), ivf, nprobe, coarseProbe, session)
          .as("cells"))
      .select(col("q_id"), col("qtab"), col("qnrm"),
        explode(col("cells")).as("cell"))
    val sims = pqIdx.join(broadcast(probes), Seq("cell"))
      .where(col("q_id") =!= col(idCol))
      .select(col("q_id"), col(idCol).as("n_id"),
        floor(lit(1e6) * adcScoreCol(col("codes"), col("qtab"), model, session)
          / (col("qnrm") * col("nrm"))).cast("long").as("sim_adc_micro"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim_adc_micro").desc, col("n_id"))
    sims.withColumn("rn", row_number().over(w)).where(col("rn") <= kNeighbors)
      .select(col("q_id"), col("n_id"), col("sim_adc_micro"))
  }

  /** Two-stage IVF-ADC-rerank: ADC shortlist of `shortlist` candidates
    * per query (over the compressed index), then ONE exact-cosine pass
    * over just the shortlisted (query, candidate) pairs against the raw
    * corpus — the standard recall-at-the-top recipe. The shortlist
    * (queries × shortlist rows) broadcasts into the corpus join, so the
    * raw vectors are touched once, for shortlisted ids only; at 100 TB
    * that is the one extra corpus scan a columnar store prices as a
    * semi-join (a KV-backed deployment would point-look-up instead).
    * Output: (q_id, n_id, sim_micro) — EXACT sims, ADC only chose the
    * candidates. */
  def knnRerank(corpus: DataFrame, pqIdx: DataFrame, queries: DataFrame,
                ivf: IvfIndex.Model2, model: PqModel, kNeighbors: Int,
                shortlist: Int, nprobe: Int, coarseProbe: Int = 2,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    require(shortlist >= kNeighbors,
      s"shortlist ($shortlist) must be >= kNeighbors ($kNeighbors)")
    val session = queries.sparkSession
    val short = knnOnPqIndex(pqIdx, queries, ivf, model, shortlist,
      nprobe, coarseProbe, idCol, vecCol)
    val q = Similarity.prep(queries, vecCol)
      .select(col(idCol).as("q_id"), col("vd").as("qvd"), col("nrm").as("qnrm"))
    val pairs = short.select("q_id", "n_id")
      .join(broadcast(q), Seq("q_id"))
    val exact = corpus
      .transform(Similarity.prep(_, vecCol))
      .select(col(idCol).as("n_id"), col("vd"), col("nrm"))
      .join(broadcast(pairs), Seq("n_id"))
      .select(col("q_id"), col("n_id"),
        Similarity.simMicroPre(col("qvd"), col("vd"), col("qnrm"), col("nrm"),
          session).as("sim_micro"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim_micro").desc, col("n_id"))
    exact.withColumn("rn", row_number().over(w)).where(col("rn") <= kNeighbors)
      .select(col("q_id"), col("n_id"), col("sim_micro"))
  }
}
