package graft.functions

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Composable references for the registered kernels ([[graft.GraftExtensions]]):
  * built-in-function formulations of what each kernel computes, kept only
  * for the parity specs (PipelineSpec, TextPropertySpec, DedupSpec,
  * SketchesSpec, PqSpec, BpeTrainSpec) to compare the kernels against.
  * Most mirror the DuckDB oracle's formulation. The engine itself calls
  * the kernels on every session; nothing here is an engine route. */
object KernelTwins {

  private def docs(s: SparkSession, dir: String) = Tables.documents(s, dir)
  private val TF = TextFunctions

  // ---- word_stats / word_rep_stats / char_hist16 (p1/p2/p3/p15/p21) ----

  def p1Composable(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).withColumn("norm", TF.normText(col("text")))
      .withColumn("ws", TF.words(col("norm")))
    d.select(col("doc_id"),
      TF.wordCount(col("ws")).as("word_cnt"),
      TF.alphaChars(col("norm")).as("alpha_chars"),
      TF.wsTokenCount(col("text")).as("ws_tokens"),
      TF.bpeTokenCount(col("text")).as("bpe_tokens"),
      TF.centi(TF.alphaChars(col("norm")), TF.wordCount(col("ws"))).as("avg_wlen_centi"))
      .orderBy("doc_id")
  }

  def p2Composable(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).withColumn("norm", TF.normText(col("text")))
      .withColumn("ws", TF.words(col("norm")))
      .withColumn("word_cnt", TF.wordCount(col("ws")))
      .withColumn("stop_milli", TF.milli(TF.setHits(col("ws"), TF.Stopwords), col("word_cnt")))
      .withColumn("avg_wlen_centi", TF.centi(TF.alphaChars(col("norm")), col("word_cnt")))
    d.select(col("doc_id"), col("word_cnt"), col("stop_milli"),
      TF.qualityScore(col("word_cnt"), col("stop_milli"), col("avg_wlen_centi")).as("quality"))
      .orderBy("doc_id")
  }

  def p3Composable(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).withColumn("ws", TF.words(TF.normText(col("text"))))
      .select(col("doc_id"), TF.langGuess(col("ws")).as("lang_guess"))
      .orderBy("doc_id")

  /** Composable twin of [[graft.functions.expr.WordRepStats]] — built-in
    * functions only, identical values. */
  def p15Composable(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir)
      .withColumn("ws", TF.words(TF.normText(col("text"))))
    val wordStats = base.select(col("doc_id"), explode(col("ws")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("total"), max("c").as("top"), count(lit(1)).as("dst"))
    val biStats = base.select(col("doc_id"), explode(TF.bigrams(col("ws"))).as("b"))
      .groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(sum("c").as("btotal"), max("c").as("btop"))
    base.select("doc_id")
      .join(wordStats, Seq("doc_id"), "left")
      .join(biStats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("total"), lit(0L)).as("word_cnt"),
        TF.milli(coalesce(col("dst"), lit(0L)), coalesce(col("total"), lit(0L)))
          .as("distinct_milli"),
        TF.milli(coalesce(col("top"), lit(0L)), coalesce(col("total"), lit(0L)))
          .as("top_word_milli"),
        TF.milli(coalesce(col("btop"), lit(0L)), coalesce(col("btotal"), lit(0L)))
          .as("top_bigram_milli"))
      .orderBy("doc_id")
  }

  def p21Composable(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"), explode(split(col("text"), "")).as("c"))
      .where(col("c") =!= "")
      .groupBy(col("doc_id"), (ascii(col("c")) % 16).as("bin"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("doc_id", "bin")

  // ---- trigram_shingles / minhash_bands / anchor window hashes ----

  /** Composable twin of [[expr.TrigramShingles]] — built-in functions only,
    * identical bytes.
    *
    * `_ws` is materialized via withColumn BEFORE the trigram lambda touches
    * it: `element_at(ws, i)` inside a higher-order function re-evaluates
    * its argument expression per element, so an unmaterialized
    * regexp+split would run 3x per trigram (measured 30x slowdown). */
  def shingleArraysFallback(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.withColumn("_ws", TextFunctions.words(TextFunctions.normText(col(textCol))))
      .select(col(idCol).as("sid"), TextFunctions.trigramShingles(col("_ws")).as("shs"))

  /** Composable twin of [[expr.MinhashBands]] — built-in functions only,
    * identical bytes. */
  def minhashBandsFallback(shs: Column, bands: Int): Column = {
    val sigs = (0 until bands).map { b =>
      concat((0 until Dedup.RowsPerBand).map { r =>
        array_min(transform(shs, s => md5(concat(lit(s"$b.$r|"), s))))
      }: _*)
    }
    when(size(shs) > 0, array(sigs: _*)).otherwise(array().cast("array<string>"))
  }

  /** Composable twin of the `anchor_window_pos_hashes` kernel (mirrors the
    * DuckDB oracle's positioned window CTE). Expects `_norm` present. */
  def spanWindowPosFallback(normed: DataFrame, windowLen: Int,
                            idCol: String): DataFrame =
    normed.where(length(col("_norm")) >= windowLen)
      .select(col(idCol), explode(expr(
        s"transform(filter(sequence(1, length(_norm) - $windowLen + 1), " +
          s"i -> i = 1 OR substring(_norm, i - 1, 1) = ' '), " +
          s"i -> struct(i AS pos, md5(substring(_norm, i, $windowLen)) AS wh))"))
        .as("_pw"))
      .select(col(idCol), col("_pw.pos").as("_pos"), col("_pw.wh").as("_wh"))

  /** Composable twin of the `anchor_window_hashes` kernel (mirrors the
    * DuckDB oracle's formulation). */
  def substringWindowHashesFallback(docs: DataFrame, windowLen: Int): DataFrame =
    docs
      .withColumn("_norm", TextFunctions.normText(col("text")))
      .where(length(col("_norm")) >= windowLen)
      .select(col("doc_id").as("sid"),
        explode(array_distinct(expr(
          s"transform(filter(sequence(1, length(_norm) - $windowLen + 1), " +
            s"i -> i = 1 OR substring(_norm, i - 1, 1) = ' '), " +
            s"i -> md5(substring(_norm, i, $windowLen)))"))).as("wh"))

  // ---- word_term_counts / bpe_merge ----

  /** Composable twin of the `word_term_counts` kernel (mirrors the DuckDB
    * oracle's unnest + GROUP BY): the exploded (doc, word) count, paying
    * the corpus-sized exchange the kernel exists to remove. */
  def tfidfTermCountsFallback(docs: DataFrame, wsCol: Column): DataFrame =
    docs.select(col("doc_id"), explode(wsCol).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))

  /** The composable [[expr.BpeMergePair]] twin: an `aggregate` fold that
    * merges when the accumulated tail is `l` and the incoming symbol is
    * `r`. Non-overlap needs no explicit guard: a just-merged tail is
    * `l+r`, which can never equal `l` (r is nonempty), so a consumed
    * position cannot seed the next match — the kernel's scan rule
    * exactly. */
  def bpeMergeTwin(syms: Column, l: String, r: String): Column =
    aggregate(syms, expr("CAST(array() AS ARRAY<STRING>)"),
      (acc, x) => {
        val prevIsL = size(acc) > 0 && element_at(acc, -1) === lit(l)
        when(prevIsL && (x === lit(r)),
          concat(slice(acc, lit(1), size(acc) - 1),
            array(concat(element_at(acc, -1), x))))
          .otherwise(concat(acc, array(x)))
      })

  // ---- bin_count_agg ----

  /** Dense per-key activity histograms from [[Similarity.activityCells]]:
    * (key, hist array<long>[bins]) as `bins` conditional sums — the
    * two-step composition the fused and `bin_count_agg` routes of
    * [[Similarity.activityHistogramsFromEvents]] must equal. */
  def activityHistograms(cells: DataFrame, keyCol: String,
                         bins: Int = 24): DataFrame =
    cells.groupBy(col(keyCol))
      .agg(array((0 until bins).map(h =>
        coalesce(sum(when(col("_h") === h, col("_c"))), lit(0L))): _*).as("hist"))

  // ---- nearest_cell / nearest_cells / two-level / PQ table ----

  private def centroidCol(c: Array[Double]): Column =
    array(c.map(lit(_)).toSeq: _*)

  /** Unrolled assignment: cell = argmin_j ||x - c_j||^2 = argmin_j
    * (||c_j||^2 - 2 x·c_j), one score struct per centroid in ONE
    * projection (overflows the 64 KB generated-method limit near
    * k≈100). */
  def cellOf(vd: Column, model: IvfIndex.Model,
             session: SparkSession = SparkSession.active): Column = {
    val scored = model.centroids.zipWithIndex.map { case (c, j) =>
      val c2 = c.map(x => x * x).sum
      struct((lit(c2) - lit(2.0) * Similarity.dot(vd, centroidCol(c), session)).as("d"),
        lit(j).as("j"))
    }
    array_min(array(scored.toSeq: _*)).getField("j")
  }

  /** The same argmin as one HOF over the codebook literal (interpreted
    * per element). */
  def cellOfFolded(vd: Column, model: IvfIndex.Model,
                   session: SparkSession = SparkSession.active): Column = {
    val cents = array(model.centroids.zipWithIndex.map { case (c, j) =>
      val c2 = c.map(x => x * x).sum
      struct(lit(c2).as("c2"), centroidCol(c).as("cvd"), lit(j).as("j"))
    }.toSeq: _*)
    array_min(transform(cents, ct =>
      struct((ct.getField("c2") -
        lit(2.0) * Similarity.dot(vd, ct.getField("cvd"), session))
        .as("d"), ct.getField("j").as("j")))).getField("j")
  }

  /** [[IvfIndex.index]] through the unrolled [[cellOf]] projection. */
  def indexViaInlineAssign(emb: DataFrame, model: IvfIndex.Model,
                           idCol: String = "vec_id",
                           vecCol: String = "embedding"): DataFrame =
    Similarity.prep(emb, vecCol)
      .withColumn("cell", cellOf(col("vd"), model, emb.sparkSession))
      .select(col(idCol), col("vd"), col("nrm"), col("cell"))

  /** [[IvfIndex.index]] through the HOF [[cellOfFolded]]. */
  def indexViaFoldedAssign(emb: DataFrame, model: IvfIndex.Model,
                           idCol: String = "vec_id",
                           vecCol: String = "embedding"): DataFrame =
    Similarity.prep(emb, vecCol)
      .withColumn("cell", cellOfFolded(col("vd"), model, emb.sparkSession))
      .select(col(idCol), col("vd"), col("nrm"), col("cell"))

  /** Unrolled probe selection: every centroid scored in one projection,
    * fully sorted, prefix taken. */
  def probeCellsInline(vd: Column, model: IvfIndex.Model, nprobe: Int,
      session: SparkSession = SparkSession.active): Column = {
    val scored = model.centroids.zipWithIndex.map { case (c, j) =>
      val c2 = c.map(x => x * x).sum
      struct((lit(c2) - lit(2.0) * Similarity.dot(vd, centroidCol(c), session)).as("d"),
        lit(j).as("j"))
    }
    slice(transform(array_sort(array(scored.toSeq: _*)), _.getField("j")), 1, nprobe)
  }

  /** The composable two-level assignment: coarse route via
    * [[cellOfFolded]], then element_at into the nested fine literals and
    * a HOF argmin — interpreted per element. */
  def cell2OfTwin(vd: Column, m: IvfIndex.Model2,
      session: SparkSession = SparkSession.active): Column = {
    val fineLit = typedlit(m.fine.map(_.centroids.map(_.toSeq).toSeq).toSeq)
    val fineC2 = typedlit(m.fine.map(_.centroids.map(c => c.map(x => x * x).sum).toSeq).toSeq)
    val cc = cellOfFolded(vd, m.coarse, session)
    val offLit = typedlit(m.offsets.toSeq)
    val sub = element_at(fineLit, cc + 1)
    val subC2 = element_at(fineC2, cc + 1)
    val scored = transform(sub, (c, i) =>
      struct((element_at(subC2, i + 1) -
        lit(2.0) * Similarity.dot(vd, c, session)).as("d"),
        i.cast("int").as("j")))
    (element_at(offLit, cc + 1) +
      when(size(sub) === 0, lit(0))
        .otherwise(array_min(scored).getField("j"))).cast("int")
  }

  /** The composable two-level probe selection: coarse cells via the
    * flat probe, then (distance, global id) structs over the selected
    * sub-books, sorted, prefix taken. */
  def probeCells2Twin(vd: Column, m: IvfIndex.Model2, nprobe: Int,
      coarseProbe: Int, session: SparkSession = SparkSession.active): Column = {
    val cTop = IvfIndex.probeCells(vd, m.coarse, coarseProbe, session)
    val fineLit = typedlit(m.fine.map(_.centroids.map(_.toSeq).toSeq).toSeq)
    val fineC2 = typedlit(m.fine.map(_.centroids.map(c => c.map(x => x * x).sum).toSeq).toSeq)
    val offLit = typedlit(m.offsets.toSeq)
    val scoredNested = transform(cTop, cc => {
      val sub = element_at(fineLit, cc + 1)
      val subC2 = element_at(fineC2, cc + 1)
      transform(sub, (c, i) =>
        struct((element_at(subC2, i + 1) -
          lit(2.0) * Similarity.dot(vd, c, session)).as("d"),
          (element_at(offLit, cc + 1) + i).cast("int").as("j")))
    })
    slice(transform(array_sort(flatten(scoredNested)), _.getField("j")), 1, nprobe)
  }

  /** The composable ADC table: per sub-space, `transform` the boxed
    * sub-book literal to sliced dots; flatten in sub-space order —
    * bit-identical to the kernel's layout. */
  def adcTableTwin(vd: Column, model: Pq.PqModel, session: SparkSession): Column =
    flatten(array(model.books.zipWithIndex.map { case (b, s) =>
      val sub = slice(vd, model.starts(s) + 1, model.subDims(s))
      val bookLit = typedlit(b.centroids.map(_.toSeq).toSeq)
      transform(bookLit, c => Similarity.dot(sub, c, session))
    }.toIndexedSeq: _*))
}
