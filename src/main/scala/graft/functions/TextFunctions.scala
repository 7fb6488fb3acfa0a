package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.GraftExtensions

/** Text-analysis kernel for the training-data pipeline (driver-mandated
  * extension ops; SURVEY §7.1 step 8): normalization, token counting,
  * quality scoring (length/stopword/word-shape rules in the spirit of
  * C4 (Raffel et al. 2020) and Gopher (Rae et al. 2021) filtering),
  * language-ID heuristic (stopword/marker profiling à la Cavnar–Trenkle
  * 1994), fingerprinting (md5, Rabin–Karp rolling hash).
  *
  * Determinism-by-construction: every ratio is a scaled integer
  * (`floor(1000 * a / b)`), every hash is md5 (identical hex in Spark and
  * DuckDB), so the DuckDB oracle matches bit-for-bit — no float drift.
  * Everything is a pure `Column` expression (whole-stage codegen, no UDFs),
  * so at 100 TB these run embarrassingly parallel inside the scan stage
  * with zero shuffles.
  *
  * The paired DuckDB SQL fragments live in
  * [[graft.PipelineQueries]] — each metric here has a 1:1 SQL twin.
  */
object TextFunctions {

  /** Language-marker word lists for the n-gram/stopword language-ID
    * heuristic. Tie-break priority is the Seq order. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to"),
    "es" -> Seq("el", "la", "los", "y", "que"),
    "fr" -> Seq("le", "les", "et", "une", "est"),
    "de" -> Seq("der", "die", "das", "und", "ist"))

  /** English stopword set for the quality-score stopword ratio. */
  val Stopwords: Seq[String] = Seq("the", "a", "and", "of", "to", "in", "is")

  /** Lowercase, strip non-alphanumerics to single spaces, trim. */
  def normText(text: Column): Column =
    trim(regexp_replace(lower(text), "[^a-z0-9]+", " "))

  /** Word array of the normalized text (empty text → empty array). */
  def words(norm: Column): Column =
    when(norm === "", array().cast("array<string>")).otherwise(split(norm, " "))

  def wordCount(ws: Column): Column = size(ws).cast("long")

  /** Total non-space characters of the normalized text. */
  def alphaChars(norm: Column): Column =
    length(regexp_replace(norm, " ", "")).cast("long")

  /** Whitespace tokenizer count on the RAW text (reference-free token
    * counting for LLM budget estimation). */
  def wsTokenCount(text: Column): Column =
    when(trim(text) === "", lit(0L))
      .otherwise(size(split(trim(text), "\\s+")).cast("long"))

  /** BPE-ish subword proxy: runs of letters, runs of digits, and single
    * other non-space chars each count as one token. */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).cast("long")

  /** Count of `ws` members inside `set`. */
  def setHits(ws: Column, set: Seq[String]): Column = {
    val inSet = (w: Column) => set.map(w === _).reduce(_ || _)
    size(filter(ws, inSet)).cast("long")
  }

  /** `floor(1000 * num / den)` as long; 0 when den = 0. */
  def milli(num: Column, den: Column): Column =
    when(den === 0, lit(0L))
      .otherwise(floor(lit(1000.0) * num / den).cast("long"))

  /** Average word length in centi-chars: `floor(100 * chars / words)`. */
  def centi(num: Column, den: Column): Column =
    when(den === 0, lit(0L))
      .otherwise(floor(lit(100.0) * num / den).cast("long"))

  /** Heuristic quality score 0–3: word count in [30, 1000] (+1), stopword
    * ratio in [10, 400] milli (+1), avg word length in [150, 1000] centi
    * (+1). Mirrors C4/Gopher-style length+stopword quality rules. */
  def qualityScore(wordCnt: Column, stopMilli: Column, avgWlenCenti: Column): Column =
    (when(wordCnt.between(30, 1000), 1).otherwise(0) +
      when(stopMilli.between(10, 400), 1).otherwise(0) +
      when(avgWlenCenti.between(150, 1000), 1).otherwise(0)).cast("int")

  /** Language guess: argmax of marker-word hits with Seq-order tie-break;
    * all-zero → "und". */
  def langGuess(ws: Column): Column = {
    val scores = LangMarkers.map { case (lang, markers) => lang -> setHits(ws, markers) }
    val allZero = scores.map(_._2 === 0).reduce(_ && _)
    val pick = scores.zipWithIndex.foldRight(lit("und")) { case (((lang, score), i), elseCol) =>
      val isMax = scores.zipWithIndex.collect { case ((_, other), j) if j != i => score >= other }
        .reduce(_ && _)
      when(isMax, lit(lang)).otherwise(elseCol)
    }
    when(allZero, lit("und")).otherwise(pick)
  }

  /** Content fingerprint: md5 of the normalized text. */
  def fingerprint(norm: Column): Column = md5(norm)

  /** Polynomial rolling hash (Rabin–Karp style) of the normalized text:
    * fold over characters of `acc*31 + code (mod 1e9+7)`. The modulus
    * keeps every intermediate < 3.2e10, so the fold never overflows a
    * long even under ANSI arithmetic — and the same fold runs verbatim
    * in the DuckDB oracle. */
  val RollHashMod = 1000000007L
  def rollingHash(norm: Column): Column =
    aggregate(split(norm, ""), lit(0L),
      (acc, c) => (acc * 31L + ascii(c)) % RollHashMod)

  /** 16-bit SimHash over the word multiset, added to `df` as column
    * `out`. Bit j (1-based) uses the top bit of hex digit j of md5(word)
    * (`substr(md5(w), j, 1) >= '8'`), so the same fingerprint is
    * computable in any engine with md5; a null word array yields a NULL
    * fingerprint. The single-pass codegen'd [[expr.Simhash16]] computes
    * it (no explode, no shuffle); PipelineSpec pins it against the
    * built-in md5 fold. */
  def withSimhash16(df: org.apache.spark.sql.DataFrame, ws: Column, out: String)
  : org.apache.spark.sql.DataFrame =
    df.withColumn(out, GraftExtensions.kernel(df.sparkSession, "simhash16", ws))

  // ---- pattern redaction (PII scrubbing) ----

  /** Email pattern — same semantics under Java regex (Spark) and RE2
    * (DuckDB): alternation, char classes, and `{2,}` behave identically. */
  val EmailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  /** Phone-ish pattern: 8+ digits with optional separators. */
  val PhoneRe = "\\+?[0-9][0-9 ()-]{6,}[0-9]"

  /** Count of `pattern` matches in `text` (0 for empty/absent). */
  def matchCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0))).cast("long")

  /** Replace every `pattern` match with `token` (Spark's regexp_replace is
    * global, like DuckDB's with the 'g' flag). */
  def redact(text: Column, pattern: String, token: String): Column =
    regexp_replace(text, pattern, token)

  // ---- repetition / boilerplate scoring (Gopher-style rep rules) ----

  /** Adjacent word bigrams ("w1 w2") of a word array — aligned-slice
    * zip_with for the same constant-references-per-row reason as
    * [[trigramShingles]]. */
  def bigrams(ws: Column): Column = {
    val n = size(ws)
    when(n < 2, array().cast("array<string>"))
      .otherwise(zip_with(slice(ws, lit(1), n - 1), slice(ws, lit(2), n - 1),
        (a, b) => concat(a, lit(" "), b)))
  }

  // ---- deterministic corpus split ----

  /** Deterministic train/val/test bucket in [0, 100): the Rabin–Karp
    * rolling hash of the id rendered as a string, mod 100. Stable across
    * engines, runs, and partitionings — the standard hash-split idiom for
    * training corpora (never sample by position: repartitioning would
    * reshuffle the split). */
  def splitBucket(id: Column): Column =
    rollingHash(id.cast("string")) % 100

  /** Bucket → split label with the conventional 90/5/5 boundaries. */
  def splitLabel(bucket: Column): Column =
    when(bucket < 90, "train").when(bucket < 95, "val").otherwise(lit("test"))

  /** Hash-residue domain for stratified sampling rates (precision 1e-6). */
  val SampleResidue = 1000000L

  /** Knuth multiplicative mixing constant — coprime to the prime modulus,
    * so the multiply is a bijection on [0, RollHashMod). */
  val SampleMix = 2654435761L

  /** Uniform sampling residue in [0, SampleResidue): the raw rolling hash
    * of a SHORT id string is far below the modulus (a 3-digit id hashes
    * under ~57k), so taking `% SampleResidue` directly would keep
    * everything; one multiplicative mix modulo the prime spreads the
    * value across the full domain first. `h * SampleMix` peaks at
    * ~2.7e18 < Long.Max — no overflow in Spark or the SQL oracle. */
  def sampleResidue(id: Column): Column =
    rollingHash(id.cast("string")) * SampleMix % RollHashMod % SampleResidue

  /** Stratified corpus sampling — the data-MIXING step of a training
    * pipeline (weight sources/languages to a target distribution): keep
    * each row of group g iff `hash(id) % SampleResidue < rate(g)`, with
    * `rates` a tiny (group, `rate` ∈ [0, SampleResidue]) table. The same
    * deterministic-hash idiom as [[splitBucket]] — never sample by
    * position; repartitioning would reshuffle the mix. Groups absent
    * from `rates` are dropped. One broadcast join; the keep decision is
    * map-side. */
  def stratifiedSample(df: org.apache.spark.sql.DataFrame,
                       rates: org.apache.spark.sql.DataFrame,
                       groupCol: String, idCol: Column): org.apache.spark.sql.DataFrame = {
    // the contract column `rate` lives on the RATES side only; rename it
    // to a name provably absent from df before joining, so a caller whose
    // corpus already has a `rate` column gets neither an ambiguous
    // reference nor their column silently dropped
    val rc = freshName(df, "_graft_rate")
    df.join(broadcast(rates.withColumnRenamed("rate", rc)), groupCol)
      .where(sampleResidue(idCol) < col(rc))
      .drop(rc)
  }

  /** Balanced mix: downsample every group to ~the SMALLEST group's size
    * (rate_g = min_cnt / cnt_g), the classic language-balancing step.
    * The keep rule is the exact integer cross-multiply
    * `residue * cnt_g < min_cnt * SampleResidue`, so any SQL engine
    * reproduces the row set bit-for-bit (the smallest group keeps
    * everything — residue < SampleResidue always). Two broadcast joins
    * of group-cardinality aggregates; the decision stays map-side. */
  def balancedSample(df: org.apache.spark.sql.DataFrame, groupCol: String,
                     idCol: Column): org.apache.spark.sql.DataFrame = {
    // working columns are generated fresh against df's schema — a corpus
    // that already carries `_cnt`/`_mn` must not collide with them
    val (cnt, mn) = (freshName(df, "_graft_cnt"), freshName(df, "_graft_mn"))
    val counts = df.groupBy(groupCol).agg(count(lit(1)).as(cnt))
    val mins = counts.agg(min(cnt).as(mn))
    df.join(broadcast(counts), groupCol)
      .crossJoin(broadcast(mins))
      .where(sampleResidue(idCol) * col(cnt) < col(mn) * SampleResidue)
      .drop(cnt, mn)
  }

  /** First of `base`, `base1`, `base2`, … not already a column of `df`
    * (case-insensitive — the analyzer's resolution is). */
  private def freshName(df: org.apache.spark.sql.DataFrame, base: String): String = {
    val have = df.columns.map(_.toLowerCase).toSet
    Iterator.from(0).map(i => if (i == 0) base else s"$base$i")
      .find(n => !have.contains(n.toLowerCase)).get
  }

  /** Distinct word-trigram shingles ("w1 w2 w3") for near-dup detection.
    *
    * Built from three aligned `slice`s zipped together — NOT from
    * `element_at(ws, i)` inside a `transform` lambda: a lambda body
    * re-evaluates its captured argument expression on every element, so
    * when the optimizer inlines an upstream `words(normText(text))` alias
    * (CollapseProject / ColumnPruning around a Generate do this), the
    * regex+split would run 3× per trigram — measured 30× slower at sf0.1.
    * Here `ws` is referenced a constant number of times per ROW, so the
    * plan stays cheap no matter how projections collapse. */
  def trigramShingles(ws: Column): Column = {
    val n = size(ws)
    val grams = zip_with(
      zip_with(slice(ws, lit(1), n - 2), slice(ws, lit(2), n - 2),
        (a, b) => concat(a, lit(" "), b)),
      slice(ws, lit(3), n - 2),
      (ab, c) => concat(ab, lit(" "), c))
    array_distinct(when(n < 3, array().cast("array<string>")).otherwise(grams))
  }

  /** Per-document keyword extraction: top-`k` words by rarity-weighted
    * term frequency. `score = tf * 1e6 div df` — tf-idf with a linear
    * (1/df) inverse-document-frequency, kept in INTEGER arithmetic so any
    * SQL engine reproduces the ranking bit-for-bit (log-idf reorders only
    * across documents-frequency decades and would put floats in the hash
    * compare). Ties break lexicographically. Input must carry `doc_id`
    * and a words ARRAY column `wsCol`.
    * Output: (doc_id, word, tf, df, score, rk), rk ∈ [1, k].
    *
    * Scale shape (round 11): a document's term frequencies are a
    * per-ROW fact — its words live in one array — so tf is computed
    * MAP-SIDE by the `word_term_counts` kernel (one pass, distinct
    * words + counts per doc) and the (doc, word) exchange the exploded
    * groupBy paid — the dominant stage of the steepest 100x smoke
    * curve — disappears; document frequencies aggregate those per-doc-
    * distinct rows straight to vocab-sized cells; the df table rides a
    * plain equi-join (AQE broadcasts it when the vocabulary fits,
    * degrades to sort-merge when it doesn't — no hard hint); the final
    * top-k is a per-doc window over k-bounded groups with
    * doc-cardinality parallelism. TWO keyed shuffles total (df cells +
    * the per-doc window), neither row-count-sized. PipelineSpec pins the
    * kernel's term counts against the explode → groupBy formulation.
    *
    * Two deliberate trades: (a) df is a JOIN, not `count over
    * (partition by word)` — a window would colocate every row of a hot
    * word ("the" = one row per document) on one task with no way to
    * split it, while AQE's skew-join splitting handles exactly that for
    * the join — measured: `ScaleSmoke`'s `tfidf_skew_smj` family plants a
    * word in EVERY document and forces the sort-merge path (broadcast
    * disabled); the recorded 1×/4×/10× curve stays ~linear, which is the
    * justification for not hard-wiring [[graft.operators.SaltedJoin]]
    * here (it remains the escape hatch for a known hot key when AQE is
    * off); (b) tf feeds both the df aggregation and the join side,
    * and stays lineage-pure — Spark recomputes it rather than
    * materializing a corpus-sized intermediate (persist/checkpoint tf
    * before calling if the cluster prefers storage over the re-scan). */
  def tfidfTopK(docs: org.apache.spark.sql.DataFrame, wsCol: Column, k: Int)
  : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs.select(col("doc_id"),
        explode(GraftExtensions.kernel(docs.sparkSession,
          "word_term_counts", wsCol)).as("_wt"))
      .select(col("doc_id"), col("_wt.word").as("word"), col("_wt.tf").as("tf"))
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("word"))
    tf.join(df, "word")
      .withColumn("score", expr("tf * 1000000L div df"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= k)
      .select("doc_id", "word", "tf", "df", "score", "rk")
  }

  /** Vocabulary drift between two corpus snapshots — the crawl-over-crawl
    * monitoring step run before retraining on a refreshed corpus: the
    * `k` words whose normalized frequency moved most. Frequencies are
    * integer parts-per-million of each side's token total (side sizes
    * differ, so raw counts would measure volume, not drift); words
    * absent from a side score 0 ppm. Output: (word, old_ppm, new_ppm,
    * delta_ppm), ordered by |delta| desc then word.
    *
    * Scale shape: two word-keyed partial-agg exchanges (the p18 count
    * shape), each side's one-row token total rides a broadcast cross
    * join (never a driver collect), a word-keyed full-outer join, and
    * the top-k is TakeOrderedAndProject — never a global sort of the
    * vocabulary. */
  def vocabDrift(oldDocs: org.apache.spark.sql.DataFrame,
                 newDocs: org.apache.spark.sql.DataFrame, k: Int,
                 textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    def ppm(df: org.apache.spark.sql.DataFrame, name: String) = {
      val counts = df.withColumn("_ws", words(normText(col(textCol))))
        .select(explode(col("_ws")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("_cnt"))
      counts.crossJoin(broadcast(counts.agg(sum("_cnt").as("_tot"))))
        .select(col("word"), expr(s"_cnt * 1000000L div _tot").as(name))
    }
    ppm(oldDocs, "old_ppm").join(ppm(newDocs, "new_ppm"), Seq("word"), "full_outer")
      .select(col("word"),
        coalesce(col("old_ppm"), lit(0L)).as("old_ppm"),
        coalesce(col("new_ppm"), lit(0L)).as("new_ppm"))
      .withColumn("delta_ppm", col("new_ppm") - col("old_ppm"))
      .orderBy(abs(col("delta_ppm")).desc, col("word"))
      .limit(k)
  }

  /** Per-document vocabulary coverage vs the corpus top-`k` vocab:
    * (id, tok_cnt, in_vocab, oov_milli, mean_rank_centi). OOV tokens are
    * the fertility cost driver of tokenizer training and a strong junk
    * signal; mean in-vocab rank (1 = most frequent word) separates
    * stopword boilerplate from topical text. Scale shape: per-doc term
    * frequencies compute map-side (the `word_term_counts` kernel), so
    * both the vocab build and the coverage probe carry one row per
    * (doc, distinct word), never per token occurrence; the vocab is
    * k rows by construction, so its rank window is k-bounded and the
    * word join broadcasts it; the corpus pays one word-keyed and one
    * id-keyed exchange, both behind partial aggregation. Empty docs
    * survive via explode_outer (tok_cnt 0); the vocab build filters
    * null words so none can enter the top-k. */
  def vocabCoverage(docs: org.apache.spark.sql.DataFrame, k: Int,
                    idCol: String = "doc_id", textCol: String = "text")
  : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ws = freshName(docs, "_graft_ws")
    val word = freshName(docs, "_graft_word")
    val rank = freshName(docs, "_graft_rank")
    val tfc = freshName(docs, "_graft_tf")
    val base = docs.withColumn(ws, words(normText(col(textCol))))
    // per-doc term frequencies map-side (word_term_counts kernel): both
    // the vocab build's hash-agg input and the broadcast-join probe side
    // shrink from one row per token OCCURRENCE to one per (doc, distinct
    // word), with every count downstream a tf-weighted sum — integer-
    // identical, the p24 win class. explode_outer keeps empty docs (an
    // empty array yields a null struct row -> tf coalesces to 0).
    val wt = base.select(col(idCol),
        explode_outer(GraftExtensions.kernel(docs.sparkSession,
          "word_term_counts", col(ws))).as("_wt"))
      .select(col(idCol), col("_wt.word").as(word),
        coalesce(col("_wt.tf"), lit(0L)).as(tfc))
    val ranked = wt.where(col(word).isNotNull)
      .groupBy(word).agg(sum(tfc).as("_cnt"))
      .orderBy(col("_cnt").desc, col(word)).limit(k)
      .select(col(word), row_number().over(
        Window.orderBy(col("_cnt").desc, col(word))).cast("long").as(rank))
    wt.join(broadcast(ranked), Seq(word), "left")
      .groupBy(col(idCol))
      .agg(sum(tfc).as("tok_cnt"),
        coalesce(sum(when(col(rank).isNotNull, col(tfc))), lit(0L)).as("in_vocab"),
        coalesce(sum(col(rank) * col(tfc)), lit(0L)).as("_rank_sum"))
      .select(col(idCol), col("tok_cnt"), col("in_vocab"),
        milli(col("tok_cnt") - col("in_vocab"), col("tok_cnt")).as("oov_milli"),
        centi(col("_rank_sum"), col("in_vocab")).as("mean_rank_centi"))
  }

  /** Fixed-length character chunking with stride (training context
    * windows): chunk c starts at `c * stride` (0-based) and carries up
    * to `chunkLen` chars, so consecutive chunks overlap by
    * `chunkLen - stride`. The last chunk may be short; an empty text
    * yields one empty chunk (start 0) so no document silently vanishes.
    * Scale shape: `posexplode(sequence(...))` + `substring` is pure
    * map-side whole-stage codegen — chunking 100 TB is exactly one scan
    * with zero shuffles, and chunk ids are deterministic (no
    * monotonically_increasing_id), so re-runs are reproducible. */
  def chunkFixed(docs: org.apache.spark.sql.DataFrame, chunkLen: Int,
                 stride: Int, idCol: String = "doc_id",
                 textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    require(chunkLen > 0 && stride > 0, s"chunkLen/stride must be positive")
    val len = length(col(textCol))
    docs
      .select(col(idCol), col(textCol),
        posexplode(sequence(lit(0), greatest(len - 1, lit(0)), lit(stride)))
          .as(Seq("chunk_ix", "chunk_start")))
      .select(col(idCol), col("chunk_ix").cast("long").as("chunk_ix"),
        col("chunk_start").cast("long").as("chunk_start"),
        col(textCol).substr(col("chunk_start") + 1, lit(chunkLen)).as("chunk"))
      .withColumn("chunk_chars", length(col("chunk")).cast("long"))
  }

  /** Data-mixture weights per corpus slice (the "how much of each source
    * does the training run sample" table): token share per group, then a
    * sqrt-damped weight (α = 0.5 temperature in the multinomial-sampling
    * sense of multilingual/multi-source pretraining, e.g. XLM-R) so head
    * sources are de-emphasized and tail sources up-sampled.
    * Determinism-by-construction: `sqrt` is IEEE-correctly-rounded in
    * both engines, each group's sqrt is floored to integer µ-units
    * BEFORE the normalizing sum, and the final ppm weight is integer
    * division — so no float-summation-order drift can reach the output.
    * Scale shape: one partial-agg exchange to K group rows, then the
    * K-row denominator rides a broadcast cross join — the 100 TB corpus
    * is touched exactly once. */
  def mixtureWeights(docs: org.apache.spark.sql.DataFrame,
                     groupCol: String = "source",
                     textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    val perGroup = docs
      .groupBy(col(groupCol))
      .agg(sum(wsTokenCount(col(textCol))).as("tokens"))
      .withColumn("sqrt_micro",
        floor(lit(1e6) * sqrt(col("tokens").cast("double"))).cast("long"))
    val denom = perGroup.agg(sum(col("sqrt_micro")).as("_denom"))
    perGroup.crossJoin(broadcast(denom))
      .select(col(groupCol), col("tokens"), col("sqrt_micro"),
        // `div`, not `/`: Long / Long is a DOUBLE divide in Spark SQL, and a
        // truncated double can disagree with the oracle's integer `//`
        expr("sqrt_micro * 1000000 div _denom").as("weight_ppm"))
  }

  /** Materialize ONE sampling pass of the [[mixtureWeights]] table — the
    * step that turns the mixture REPORT into an actual training corpus
    * draw: every source g is hash-sampled at `rate = weight_ppm(g)`, so
    * sqrt-damped sources keep proportionally more of their tail and the
    * draw totals roughly one source-equivalent of the corpus. The keep
    * decision is [[stratifiedSample]]'s deterministic residue rule —
    * reproducible across engines, runs and repartitionings, which is
    * what makes the drawn corpus auditable. Scale: the weight table is K
    * rows riding a broadcast; the corpus scan stays map-side. */
  def mixtureSample(docs: org.apache.spark.sql.DataFrame,
                    groupCol: String = "source", textCol: String = "text",
                    idCol: Column = col("doc_id")): org.apache.spark.sql.DataFrame =
    stratifiedSample(docs,
      mixtureWeights(docs, groupCol, textCol)
        .select(col(groupCol), col("weight_ppm").as("rate")),
      groupCol, idCol)

  /** Corpus bigram language-model quality score (the CCNet/LLaMA-family
    * filter idea: score each document by how "typical" its word
    * transitions are under a model trained on the corpus itself; gibberish,
    * boilerplate-mangled and wrong-language docs score low). The model is
    * the corpus' own bigram table — p(w2|w1) = count(w1 w2)/count(w1·) —
    * and a document's score is the mean transition probability over its
    * bigram OCCURRENCES, all in integer ppm (`count·1e6 div prefix-count`,
    * sum, `div n`) so no log/float can drift between engines; a real
    * deployment swaps the mean-prob for mean-log-prob (perplexity) without
    * changing any shuffle. Output: (idCol, n_bigrams, score_ppm) — docs
    * with < 2 words score 0 over 0 bigrams.
    *
    * Scale shape: bigram and prefix counts are two partial-agg passes
    * over cells (never text); the model join back onto doc bigrams keys
    * on the bigram string — the hot-bigram skew class AQE handles (same
    * as tf-idf's df join); the per-doc rollup is one id-keyed exchange.
    * Training and scoring share one corpus scan pipeline.
    *
    * Deliberately NOT the `word_term_counts` kernel (the p24/p47 win
    * class): a bigram stream's within-doc term frequency is ~1 (phrase
    * repeats inside one document are rare, unlike word repeats at
    * tf≈2–3), so the kernel's per-row hash map bought ~10% fewer
    * join-back rows while roughly doubling the ×1 scan cost — measured
    * via ProbeFamily `bigram_lm_wtc` vs `bigram_lm` (git history:
    * `git show 68ce229:src/main/scala/graft/tools/ProbeFamily.scala`): 2.1–3.2 s
    * exploded vs 3.9–8.9 s kernel at ×1 warm, 5.0 vs 4.3 s at ×10 —
    * a trade that only breaks even where the smoke already shows the
    * family sub-linear. The exploded occurrence stream stays. */
  def bigramLmScore(docs: org.apache.spark.sql.DataFrame,
                    idCol: String = "doc_id", textCol: String = "text")
  : org.apache.spark.sql.DataFrame = {
    val bg = docs
      .select(col(idCol), explode(bigrams(words(normText(col(textCol))))).as("_bg"))
    val c2 = bg.groupBy(col("_bg")).agg(count(lit(1)).as("_n2"))
    val c1 = c2.groupBy(substring_index(col("_bg"), " ", 1).as("_w1"))
      .agg(sum(col("_n2")).as("_n1"))
    val model = c2.join(c1, substring_index(col("_bg"), " ", 1) === col("_w1"))
      .select(col("_bg"), expr("_n2 * 1000000 div _n1").as("_ppm"))
    // merge hint (r17, the ngramJaccardPairs convention): Catalyst sizes
    // the exploded bigram stream as the small scan underneath and was
    // BUILDING the perDoc join on it — a broadcast collect of the whole
    // blown-up stream, the Generate row-estimate trap documented on
    // [[graft.functions.Dedup.ngramJaccardPairs]]. Sort-merge on _bg is
    // the shape that survives the mid-size regime where the estimate
    // still clears the broadcast threshold but the stream no longer
    // fits; measured local-neutral (min-of-6, OPTIMIZATION_r17.md §8:
    // 1.32 vs 1.32 s, rows equal)
    val perDoc = bg.hint("merge").join(model, "_bg")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("_ppm")).as("_s"))
    docs.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(expr("_s div n_bigrams"), lit(0L)).as("score_ppm"))
  }

  /** Exact discrete per-group quantiles of a numeric column: the value
    * at 1-based ascending rank `ceil(q·n)` — the nearest-rank definition,
    * all-integer once the rank is fixed, so the DuckDB twin matches
    * bit-for-bit (no interpolation arithmetic to drift). Emitted wide
    * (one row per group, one column per quantile).
    * Scale shape: one hash exchange on the group key, a per-group sort
    * (window), conditional-agg collapse — no global sort. At 100 TB with
    * few groups you'd range-repartition within groups or switch to
    * approx_percentile; the exact form stays the oracle anchor. */
  def groupQuantiles(df: org.apache.spark.sql.DataFrame, groupCol: String,
                     valueCol: String, qs: Seq[(String, Double)])
  : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol))
    val ranked = df
      .withColumn("_rn", row_number().over(w.orderBy(col(valueCol))).cast("long"))
      .withColumn("_n", count(lit(1)).over(w))
    val aggs = qs.map { case (name, q) =>
      max(when(col("_rn") === ceil(lit(q) * col("_n")).cast("long"),
        col(valueCol))).as(name)
    }
    ranked.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_rows"), aggs: _*)
  }

  /** DSIR-style importance score for target-domain data selection (Xie
    * et al., "Data Selection for Language Models via Importance
    * Resampling", NeurIPS 2023): build a unigram distribution over a
    * TARGET slice of the corpus (`targetPred`, e.g. the high-quality or
    * in-domain subset) and over the RAW corpus, then score every
    * document by how much more target-like than raw-like its tokens
    * are. The paper scores with the log-likelihood ratio of hashed
    * n-gram features; this integer-exact variant scores with the summed
    * PROBABILITY difference — Σ_tokens (ppm_target − ppm_raw), add-one
    * smoothed over the joint vocabulary — which keeps every number a
    * BIGINT (no `ln` to drift between engines) and preserves the sign
    * convention (positive ⇔ more likely under the target model).
    * `kept` is the deterministic selection bit (score > 0).
    *
    * Scale shape: per-doc term frequencies compute MAP-SIDE (the
    * `word_term_counts` kernel), so the model join-back and the vocab
    * build both carry one row per (doc, DISTINCT word) — never per
    * token occurrence — with every count downstream a tf-weighted sum
    * (integer-identical: the target bit is constant within a document).
    * The model is vocab-sized, never corpus-sized; the 1-row totals
    * broadcast-join onto the model; the model joins back on the word
    * key (hot stopword keys are the p43 bigram-LM situation — left to
    * AQE skew splitting, as justified there); one per-doc aggregate.
    * Output: (doc_id, n_tokens, score_ppm, kept) — every document
    * appears; empty docs score 0 and are dropped. */
  def dsirScores(docs: org.apache.spark.sql.DataFrame, targetPred: Column,
                 idCol: String = "doc_id", textCol: String = "text")
  : org.apache.spark.sql.DataFrame = {
    val tok = docs.select(col(idCol), targetPred.cast("long").as("_tgt"),
        explode(GraftExtensions.kernel(docs.sparkSession,
          "word_term_counts", words(normText(col(textCol))))).as("_wt"))
      .select(col(idCol), col("_tgt"),
        col("_wt.word").as("_w"), col("_wt.tf").as("_tf"))
    val vocab = tok.groupBy(col("_w"))
      .agg(sum(col("_tf")).as("_cr"), sum(col("_tgt") * col("_tf")).as("_ct"))
    val totals = vocab
      .agg(sum(col("_cr")).as("_nr"), sum(col("_ct")).as("_nt"),
        count(lit(1)).as("_v"))
    val model = vocab.crossJoin(broadcast(totals))
      .select(col("_w"),
        (expr("((_ct + 1) * 1000000) div (_nt + _v)") -
          expr("((_cr + 1) * 1000000) div (_nr + _v)")).as("_delta"))
    val perDoc = tok.join(model, "_w")
      .groupBy(col(idCol))
      .agg(sum(col("_tf")).as("n_tokens"),
        sum(col("_tf") * col("_delta")).as("_s"))
    docs.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("_s"), lit(0L)).as("score_ppm"),
        when(coalesce(col("_s"), lit(0L)) > 0, lit(1)).otherwise(lit(0))
          .cast("int").as("kept"))
  }

  /** BPE first-merge pair statistics (Sennrich et al. 2016): corpus-wide
    * counts of adjacent CHARACTER pairs within words — the quantity the
    * first byte-pair-encoding merge iteration maximizes, and the
    * standard probe for "what would this tokenizer learn first" before
    * committing to a vocabulary (the character-level sibling of p53's
    * word-pair collocations). Top-k pairs by (count desc, pair asc).
    *
    * Scale shape: token explode then an in-word pair explode (both
    * map-side, feeding one partial aggregation whose key space is the
    * character-pair alphabet — a few thousand cells no matter the
    * corpus), one cell-sized exchange, top-k TakeOrdered. The full BPE
    * loop would iterate merge → re-segment; the per-iteration shuffle
    * cost is exactly this query's. */
  def bpePairStats(docs: org.apache.spark.sql.DataFrame, k: Int,
                   textCol: String = "text")
  : org.apache.spark.sql.DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    // spread before the double explode (words, then per-word character
    // pairs) — otherwise single-task in a local scan stage (measured
    // r16: 0.68→0.51 s at sf0.1 — see [[Scans.spread]])
    Scans.spread(docs).select(explode(words(normText(col(textCol)))).as("_w"))
      .where(length(col("_w")) >= 2) // sequence(1, 0) would run DESCENDING
      .select(explode(expr(
        "transform(sequence(1, length(_w) - 1), i -> substring(_w, i, 2))"))
        .as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair")).limit(k)
  }

  /** BPE tokenizer induction (Sennrich et al. 2016) — the FULL merge
    * loop [[bpePairStats]] computes only the first step of: starting
    * from per-character symbols, repeatedly find the corpus's most
    * frequent adjacent symbol pair and merge it, emitting the ranked
    * merge table a tokenizer is built from.
    *
    * Semantics match the reference implementation: pair counts are
    * per-occurrence over the symbol sequences WEIGHTED by word-type
    * frequency (every adjacent position counts — `[a,a,a]` contributes
    * `(a,a)` twice); the merge rewrite is greedy LEFT-TO-RIGHT
    * non-overlapping (`[a,a,a]` → `[aa,a]`) via the codegen'd
    * [[graft.functions.expr.BpeMergePair]] kernel. Ties break
    * deterministically: count desc, then (left, right) lexicographic
    * asc — iteration 1 therefore reproduces [[bpePairStats]]' top pair
    * exactly (spec-pinned). Merge frequencies are non-increasing across
    * ranks (every pair a merge creates or keeps occurs within or beside
    * an occurrence of the merged pair — also spec-pinned), so `merges`
    * doubles as a min-frequency cutoff lever.
    *
    * Scale shape: the CORPUS is touched exactly once (the word-type
    * count — one token-keyed partial-agg exchange); the loop state is
    * the TYPE VOCABULARY (word, count, symbols), orders of magnitude
    * smaller than the corpus and independent of its row count. Each of
    * the K iterations is one cell-bounded pair aggregation (partial agg
    * over (left, right) cells) + a driver-side take-1 + one map-side
    * kernel rewrite, with the state [[CheckpointUtil]]-checkpointed and
    * the previous round's blocks freed as soon as the next materializes
    * — per-round plan cost stays O(1), storage stays one vocabulary
    * table. Stops early when no pair remains (fully merged vocabulary).
    * Measured (the since-deleted ProbeFamily `bpe_train`, K=30 over
    * word-tagged doc replicas; record in BPE_LOCAL_r16.json): min wall
    * ×1/×10/×40/×100 = 5.6/5.2/6.6/7.6 s — NEAR FLAT for 100× the
    * corpus, ~0.3 MB shuffled per run at ×100.
    *
    * Output: (rank, left, right, merged, freq) — rank 1-based in merge
    * order, `freq` the pair's weighted count at its merge step. */
  def bpeTrain(docs: org.apache.spark.sql.DataFrame, merges: Int,
               textCol: String = "text")
  : org.apache.spark.sql.DataFrame = {
    require(merges >= 1, s"merges must be >= 1 (got $merges)")
    val spark = docs.sparkSession
    val chars = expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))")
    var (seg, segBlocks) = CheckpointUtil.trackedLocalCheckpoint(
      docs.select(explode(words(normText(col(textCol)))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
        .select(col("cnt"), chars.as("syms")))
    val found = scala.collection.mutable.Buffer[(Int, String, String, Long)]()
    var exhausted = false
    for (rank <- 1 to merges if !exhausted) {
      val pairRows = seg
        .where(size(col("syms")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(1, size(syms) - 1), " +
            "j -> struct(syms[j - 1] AS l, syms[j] AS r))")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("freq"))
        .orderBy(col("freq").desc, col("l"), col("r"))
        .limit(1).collect()
      if (pairRows.isEmpty) exhausted = true
      else {
        val best = pairRows.head
        val (l, r, f) = (best.getString(0), best.getString(1), best.getLong(2))
        found += ((rank, l, r, f))
        val mergeCol =
          GraftExtensions.kernel(spark, "bpe_merge", col("syms"), lit(l), lit(r))
        val (next, nextBlocks) = CheckpointUtil.trackedLocalCheckpoint(
          seg.select(col("cnt"), mergeCol.as("syms")))
        segBlocks.foreach(_.unpersist(blocking = false))
        seg = next
        segBlocks = nextBlocks
      }
    }
    segBlocks.foreach(_.unpersist(blocking = false))
    import spark.implicits._
    found.toSeq.toDF("rank", "left", "right", "freq")
      .select(col("rank"), col("left"), col("right"),
        concat(col("left"), col("right")).as("merged"), col("freq"))
  }

  /** Apply a trained merge table ([[bpeTrain]]'s output) to a corpus —
    * the tokenizer's ENCODE side: each word type is segmented by
    * replaying the K merges in rank order (K chained [[expr.BpeMergePair]]
    * rewrites composed into ONE projection — the merge list is
    * K-bounded and collected like a codebook), then tokens join back to
    * the corpus word stream by word type (the p24/p43 hot-key class AQE
    * skew-splits). The corpus is never re-scanned per merge: merges
    * fold into the per-TYPE segmentation, types being orders of
    * magnitude fewer than tokens.
    *
    * Output: (idCol, word_idx, sym_idx, token) — one row per emitted
    * sub-word token, (word_idx, sym_idx) the in-document order, exactly
    * reassemblable (spec-pinned: tokens re-concatenate to their word). */
  def bpeSegment(docs: org.apache.spark.sql.DataFrame,
                 mergeTable: org.apache.spark.sql.DataFrame,
                 idCol: String = "doc_id", textCol: String = "text")
  : org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    val merges = mergeTable.orderBy(col("rank"))
      .select(col("left").cast("string"), col("right").cast("string"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val chars = expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))")
    val segCol = merges.foldLeft(chars) { case (c, (l, r)) =>
      GraftExtensions.kernel(spark, "bpe_merge", c, lit(l), lit(r))
    }
    val vocab = docs
      .select(explode(words(normText(col(textCol)))).as("word")).distinct()
      .select(col("word"), segCol.as("syms"))
    docs
      .select(col(idCol), posexplode(words(normText(col(textCol))))
        .as(Seq("word_idx", "word")))
      .join(vocab, Seq("word"))
      .select(col(idCol), col("word_idx"),
        posexplode(col("syms")).as(Seq("sym_idx", "token")))
  }

  /** PMI collocation mining (the word2vec/word2phrase phrase-induction
    * score, Mikolov et al. 2013): top-k word bigrams by
    * `PMI ∝ N · n_ab / (n_a · n_b)` — pairs that co-occur far more than
    * their unigram frequencies predict, the standard first pass for
    * phrase vocabulary induction before tokenizer training. Score is
    * `floor(1e6 · n_ab · N / (n_a · n_b))` in the repo float recipe
    * (one double multiply-chain in pinned order, floor to ppm — the
    * jaccard/cosine convention, identical IEEE ops both engines);
    * `n_a · n_b` rides BIGINT (overflow-safe while both counts are
    * < ~3e9, i.e. far past any real vocabulary's hot words at trillion-
    * token scale — the totals N is the only corpus-sized number and it
    * multiplies as a double).
    *
    * Scale shape: two token-keyed partial-agg passes (unigram + bigram
    * counts, both vocab-sized after the map-side combine), the bigram
    * table joined to unigram counts on each component word (hot
    * stopword keys are the p43/p24 class left to AQE skew splitting),
    * a 1-row total broadcast, and a top-k TakeOrdered — never a global
    * sort of the collocation table. Output: (bigram, n_ab, pmi_ppm),
    * `n_ab >= minCount`, ranked (pmi_ppm desc, bigram). */
  def collocations(docs: org.apache.spark.sql.DataFrame, minCount: Long,
                   k: Int, textCol: String = "text")
  : org.apache.spark.sql.DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1 (got $minCount)")
    require(k >= 1, s"k must be >= 1 (got $k)")
    val ws = docs.withColumn("_ws", words(normText(col(textCol))))
    val uni = ws.select(explode(col("_ws")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n_w"))
    val bg = ws.select(explode(bigrams(col("_ws"))).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= minCount)
      .withColumn("_w1", substring_index(col("bigram"), " ", 1))
      .withColumn("_w2", substring_index(col("bigram"), " ", -1))
    val tot = uni.agg(sum(col("n_w")).as("n_total"))
    bg
      .join(uni.select(col("w").as("_w1"), col("n_w").as("n_a")), "_w1")
      .join(uni.select(col("w").as("_w2"), col("n_w").as("n_b")), "_w2")
      .crossJoin(broadcast(tot))
      .select(col("bigram"), col("n_ab"),
        floor(lit(1000000.0) * col("n_ab") * col("n_total") /
          (col("n_a") * col("n_b")).cast("double")).cast("long").as("pmi_ppm"))
      .orderBy(col("pmi_ppm").desc, col("bigram")).limit(k)
  }

  /** Cross-document n-gram novelty: for each document, how much of its
    * distinct word-bigram set does the corpus see here FIRST (first
    * occurrence = minimum doc_id over the whole corpus)? The standard
    * freshness signal for crawl triage — a document whose bigrams all
    * appeared in earlier documents is boilerplate/recombination; a high
    * novelty share marks genuinely new text worth keeping (the
    * doc-level complement of the p42 line-dedup and p36 dup-ngram
    * views, which score repetition rather than provenance).
    *
    * Scale shape: a document's DISTINCT bigram set is a per-ROW fact
    * (one row per document — the corpus contract this module states on
    * [[graft.functions.Dedup.lineStats]]; a multi-row document must be
    * concatenated first), so the built-in codegen'd `array_distinct`
    * computes it MAP-SIDE: `n_bigrams` is that array's size (no
    * exchange at all) and the global (doc, bigram) distinct exchange
    * the exploded form paid disappears — the ONLY corpus-sized shuffle
    * left is the bigram-keyed min(doc_id), behind partial aggregation,
    * collapsing straight to introductions per doc. No corpus-sized
    * join-back: the min(doc_id) aggregation already names the
    * introducing document. Hot bigrams cost one partial-agg cell each,
    * not a shuffle of their occurrence list. (`array_distinct`, not the
    * `word_term_counts` kernel: novelty needs the distinct SET, not
    * term frequencies — the built-in skips the count map and the
    * struct-array explode, measured ~25% cheaper at ×1 for the same
    * deep-factor shuffle saving.) The explicit trade: the text column
    * is SCANNED TWICE (once per branch — Spark shares no projection
    * across join inputs) to delete the (doc, bigram) exchange, and
    * bigram pairs roughly double the text bytes, so the removed shuffle
    * writes+reads MORE than the added pruned column scan — the probe
    * crossover is ≤10× corpus on this box (~+0.3 s at ×1, −15% at ×10,
    * −18% at ×40 vs the exploded twin, checksum-identical).
    * Output: (doc_id, n_bigrams, novel_cnt, novelty_pm) — every doc
    * appears; docs with < 2 words carry zeros. */
  def ngramNovelty(docs: org.apache.spark.sql.DataFrame,
                   idCol: String = "doc_id", textCol: String = "text")
  : org.apache.spark.sql.DataFrame = {
    // INLINE derive on both branches. Under GraftSession (which excludes
    // InferFiltersFromGenerate) this is plan-equivalent to the lazy
    // [[ngramNoveltyOfSets]]∘[[bigramSets]] composition — r14 re-probe
    // x40 min-of-6: inline 5.40 s vs composition 5.23 s, identical
    // stage/shuffle counts, zero kernel-bearing filters in either plan.
    // The inline form is KEPT because it is also safe in sessions where
    // the rule is ON (vanilla Spark, or the
    // spark.graft.excludeInferFiltersFromGenerate=false escape hatch):
    // there, explode over the plain `_bgs` attribute makes the rule
    // synthesize a `size(_bgs) > 0` filter that predicate pushdown
    // substitutes back through the projection, so the bigram derivation
    // — the dominant cost — runs a THIRD time inside the filter
    // (measured r13: p51 2.89 -> 3.94 s at sf0.1, caught by the
    // min-vs-min bench guard; re-measured r14 with the `_infer` lever:
    // composition 9.04 s vs inline 5.05 s min at x40). With the derive
    // inline under explode the rule never fires, in any session.
    val bgSet = array_distinct(bigrams(words(normText(col(textCol)))))
    // spread before the bigram derivation: it runs TWICE (novelty stream
    // + per-doc sizes) and otherwise single-task in a local scan stage
    // (measured r16: 1.75→0.83 s at sf0.1; no-op at cluster scan
    // parallelism — see [[Scans.spread]])
    val spreadDocs = Scans.spread(docs)
    val novel = spreadDocs
      .select(col(idCol).as("_id"), explode(bgSet).as("_bg"))
      .groupBy(col("_bg")).agg(min(col("_id")).as("_first"))
      .groupBy(col("_first")).agg(count(lit(1)).as("novel_cnt"))
    spreadDocs
      .select(col(idCol),
        coalesce(size(bgSet), lit(0)).cast("long").as("n_bigrams"))
      .join(novel, col(idCol) === col("_first"), "left")
      .select(col(idCol), col("n_bigrams"),
        coalesce(col("novel_cnt"), lit(0L)).as("novel_cnt"),
        when(col("n_bigrams") === 0, lit(0L))
          .otherwise(expr("(coalesce(novel_cnt, 0L) * 1000) div n_bigrams"))
          .cast("long").as("novelty_pm"))
  }

  /** The (id, distinct-bigram-array) projection [[ngramNovelty]] derives —
    * exposed so a caller whose corpus fits the storage fraction can
    * `persist()` it and pay the bigram derivation ONCE (the
    * build-once/probe pattern, with the caller owning the cache
    * lifetime): probed at ×1/×10/×40/×100, a persisted projection wins
    * 24-45% on [[ngramNoveltyOfSets]]'s two references (×100 min 8.0-9.2
    * vs 11.3 s) because re-deriving the arrays — not the parquet scan —
    * is the dominant cost. A hidden persist inside the operator was
    * REJECTED (an un-releasable cache leaking into long sessions), and so
    * was routing the projection through a doc-keyed exchange for AQE
    * stage reuse (`ngram_novelty_shuffled`: shipping ~2× text bytes cost
    * 676 MB shuffle and 26 s at ×100 vs 11 s re-deriving — shuffle IO
    * loses to recompute here, and only gets worse at 100 TB). Null text
    * -> null array (size coalesces to 0, matching explode dropping the
    * doc). */
  def bigramSets(docs: org.apache.spark.sql.DataFrame,
                 idCol: String = "doc_id", textCol: String = "text")
  : org.apache.spark.sql.DataFrame =
    docs.select(col(idCol),
      array_distinct(bigrams(words(normText(col(textCol))))).as("_bgs"))

  /** [[ngramNovelty]] over a pre-derived [[bigramSets]] projection: the
    * per-doc distinct set is already a column, so both references —
    * the exploded min(doc_id) branch and the per-doc size — are cheap
    * re-reads when the caller persisted the projection.
    *
    * On a LAZY (unpersisted) projection the composition is correct and,
    * under GraftSession's InferFiltersFromGenerate exclusion,
    * plan-equivalent to [[ngramNovelty]] (r14 re-probe: 5.23 vs 5.40 s
    * min-of-6 at x40, same stages/shuffle). In sessions where that rule
    * is ENABLED (vanilla Spark, or the
    * `spark.graft.excludeInferFiltersFromGenerate=false` escape hatch)
    * a lazy composition is the r13 trap: explode over the plain `_bgs`
    * attribute gets a synthesized size filter that pushdown rewrites
    * into a third in-plan bigram derivation — 9.04 vs 5.05 s min at x40
    * (`_infer` lever). Prefer [[ngramNovelty]] unless the projection is
    * persisted. */
  def ngramNoveltyOfSets(sets: org.apache.spark.sql.DataFrame,
                         idCol: String = "doc_id")
  : org.apache.spark.sql.DataFrame = {
    EngineWarnings.warnIfGenerateInferEnabled(sets.sparkSession, "ngramNoveltyOfSets")
    val novel = sets
      .select(col(idCol).as("_id"), explode(col("_bgs")).as("_bg"))
      .groupBy(col("_bg")).agg(min(col("_id")).as("_first"))
      .groupBy(col("_first")).agg(count(lit(1)).as("novel_cnt"))
    sets
      .select(col(idCol),
        coalesce(size(col("_bgs")), lit(0)).cast("long").as("n_bigrams"))
      .join(novel, col(idCol) === col("_first"), "left")
      .select(col(idCol), col("n_bigrams"),
        coalesce(col("novel_cnt"), lit(0L)).as("novel_cnt"),
        when(col("n_bigrams") === 0, lit(0L))
          .otherwise(expr("(coalesce(novel_cnt, 0L) * 1000) div n_bigrams"))
          .cast("long").as("novelty_pm"))
  }
}
