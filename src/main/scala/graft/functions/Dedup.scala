package graft.functions

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.GraftExtensions

/** Deduplication operators for the training-data pipeline: exact
  * (hash-groupBy), n-gram Jaccard, MinHash+LSH (Broder 1997, "On the
  * resemblance and containment of documents"; banding per Leskovec/
  * Rajaraman/Ullman, Mining of Massive Datasets ch. 3), SimHash buckets
  * (Charikar 2002, "Similarity estimation techniques from rounding
  * algorithms").
  *
  * Scale design (100 TB): every path is shuffle-minimal —
  *   - exact dedup: one hash aggregation on the 128-bit fingerprint (never
  *     the full text), so the shuffle carries 16 bytes + ids per row;
  *   - MinHash: signatures AND shingle-set sizes are pure map-side
  *     expressions over the per-doc shingle array ([[expr.MinhashBands]]
  *     computes every band minimum in one pass per row — no explode, no
  *     aggregation exchange), so the only shuffles are the candidate
  *     equi-join on (band, sig) and the verify joins;
  *   - Jaccard verify runs only on candidate pairs (semi-join pattern);
  *   - SimHash: pure map-side fingerprint + one groupBy on a 16-bit key.
  *
  * No operator persists state: reused subplans are map-side projections of
  * the source scan, so recomputation costs a re-scan (which Catalyst
  * dedupes via ReusedExchange where an exchange exists) and lineage stays
  * intact — a lost executor recomputes instead of failing the query, and
  * no CacheManager entries survive the call (asserted in DedupSpec).
  *
  * All hashes are md5-derived so a SQL oracle reproduces them exactly.
  */
object Dedup {

  /** Docs + derived `norm`, `fp` columns (shared prep). */
  def withFingerprint(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val norm = TextFunctions.normText(col(textCol))
    docs.withColumn("norm", norm)
      .withColumn("fp", TextFunctions.fingerprint(col("norm")))
  }

  /** Exact dedup: group by content fingerprint; canonical = min id.
    * Output: (fp, canonical_id, dup_cnt). */
  def exact(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    withFingerprint(docs)
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("dup_cnt"))

  /** (sid, shs) — per-doc distinct word-trigram shingle ARRAY (map-side;
    * the explode-free base every MinHash/Jaccard stage derives from).
    *
    * Uses the single-pass codegen'd [[expr.TrigramShingles]]: ~7x the
    * composable [[TextFunctions.trigramShingles]] pipeline (DedupSpec pins
    * the two byte-identical), and the shared dominant cost of p6/p7/p19. */
  def shingleArrays(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    EngineWarnings.warnIfGenerateInferEnabled(docs.sparkSession, "shingleArrays")
    docs.select(col(idCol).as("sid"),
      GraftExtensions.kernel(docs.sparkSession, "trigram_shingles", col(textCol)).as("shs"))
  }

  /** (sid, sh) exploded distinct word-trigram shingles. */
  def shingles(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    shingleArrays(docs, idCol, textCol).select(col("sid"), explode(col("shs")).as("sh"))

  /** Shingle-set sizes per doc — `size(shs)`, no explode/aggregation. */
  private def shingleSizes(shArr: DataFrame): DataFrame =
    shArr.select(col("sid"), size(col("shs")).cast("long").as("n"))

  /** All-pairs n-gram Jaccard over docs sharing ≥1 shingle, keeping pairs
    * with `floor(1000*|A∩B|/|A∪B|) >= thresholdMilli`.
    * Output: (doc_a, doc_b, jacc_milli), doc_a < doc_b.
    *
    * This is the exhaustive oracle baseline — O(shared-shingle pairs) by
    * contract; [[minhashLsh]] is the scale route. */
  def ngramJaccardPairs(docs: DataFrame, thresholdMilli: Int): DataFrame = {
    val shArr = shingleArrays(docs)
    // merge hint: the exploded shingle stream is |docs| x |shingles| rows,
    // but Catalyst's Generate estimate still reads as the (small) parquet
    // scan underneath — without the hint it happily BROADCASTS the blown-up
    // side (measured 17x slower at sf0.1, and a guaranteed OOM at scale).
    // Sort-merge on `sh` is the strategy that survives 100 TB.
    val sh = shArr.select(col("sid"), explode(col("shs")).as("sh")).hint("merge")
    val a = sh.select(col("sid").as("doc_a"), col("sh"))
    val b = sh.select(col("sid").as("doc_b"), col("sh"))
    val inter = a.join(b, Seq("sh")).where(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
    jaccardFilter(inter, shingleSizes(shArr), thresholdMilli)
  }

  private def jaccardFilter(inter: DataFrame, sizes: DataFrame, thresholdMilli: Int): DataFrame = {
    val sa = sizes.select(col("sid").as("doc_a"), col("n").as("na"))
    val sb = sizes.select(col("sid").as("doc_b"), col("n").as("nb"))
    inter.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("jacc_milli",
        floor(lit(1000.0) * col("inter") / (col("na") + col("nb") - col("inter"))).cast("long"))
      .where(col("jacc_milli") >= thresholdMilli)
      .select(col("doc_a"), col("doc_b"), col("jacc_milli"))
  }

  /** Rows per MinHash band: a band collides when ALL `RowsPerBand`
    * min-hashes agree (collision prob j^r), which keeps random-pair false
    * candidates near zero while j≈1 near-dups still collide in some band
    * with probability 1-(1-j^r)^bands. */
  val RowsPerBand = 2

  /** Per-doc band-signature ARRAY: element b = concat over r of
    * min(md5("b.r|" || shingle)), by the single-pass codegen'd
    * [[expr.MinhashBands]] (DedupSpec pins it byte-identical to one md5
    * transform + array_min per (band, row)). `session` is the one that
    * owns the consuming DataFrame (threaded by [[minhashSignatureRows]]);
    * the kernel is registered into it. */
  def minhashBandsCol(shs: Column, bands: Int,
                      session: SparkSession = SparkSession.active): Column =
    GraftExtensions.kernel(session, "minhash_bands", shs, lit(bands), lit(RowsPerBand))

  /** (sid, band, sig) signature rows — posexplode of the map-side band
    * array; shingle-less docs emit no rows. */
  def minhashSignatureRows(shArr: DataFrame, bands: Int): DataFrame =
    shArr.select(col("sid"),
        posexplode(minhashBandsCol(col("shs"), bands, shArr.sparkSession)).as(Seq("band", "sig")))

  /** MinHash signatures from an exploded (sid, sh) stream — the
    * aggregation formulation (kept for the parity spec and profiling
    * tools; [[minhashSignatureRows]] is the production path). */
  def minhashSignatures(sh: DataFrame, bands: Int): DataFrame = {
    val aggs = for (b <- 0 until bands; r <- 0 until RowsPerBand)
      yield min(md5(concat_ws("|", lit(s"$b.$r"), col("sh")))).as(s"mh_${b}_$r")
    val wide = sh.groupBy(col("sid")).agg(aggs.head, aggs.tail: _*)
    val stackArgs = (0 until bands).map { b =>
      val sig = (0 until RowsPerBand).map(r => s"mh_${b}_$r").mkString("concat(", ", ", ")")
      s"$b, $sig"
    }.mkString(", ")
    wide.select(col("sid"), expr(s"stack($bands, $stackArgs) as (band, sig)"))
  }

  /** LSH candidate pairs: equal signature in ≥1 band. The signature
    * stream is |docs| x bands rows — sort-merge hinted for the same
    * Generate-underestimation reason as the shingle joins. */
  def lshCandidates(sig: DataFrame): DataFrame = {
    val hinted = sig.hint("merge")
    val a = hinted.select(col("sid").as("doc_a"), col("band"), col("sig"))
    val b = hinted.select(col("sid").as("doc_b"), col("band"), col("sig"))
    a.join(b, Seq("band", "sig")).where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
  }

  /** LSH candidate pairs via the inverted index: group signature rows by
    * (band, sig), emit sorted within-bucket pairs. ONE shuffle of the
    * |docs| × bands signature stream, and the signatures are computed
    * exactly once (the join formulation in [[lshCandidates]] computes
    * them once per join side). Per-bucket memory is bounded by design:
    * a bucket holds docs whose banded min-hashes all agree, so its size
    * tracks the true near-dup cluster size plus the (tiny) band
    * false-positive rate — NOT corpus size. Contrast p6's hot-shingle
    * groups, which is why p6 keeps the streaming sort-merge join. */
  def lshCandidatePairs(sigRows: DataFrame): DataFrame = {
    val buckets = sigRows.groupBy(col("band"), col("sig"))
      .agg(array_sort(collect_list(col("sid"))).as("sids"))
      .where(size(col("sids")) > 1)
    buckets.select(explode(flatten(transform(col("sids"), (x, i) =>
        transform(slice(col("sids"), i + lit(2), size(col("sids"))),
          y => struct(x.as("doc_a"), y.as("doc_b")))))).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .distinct()
  }

  /** MinHash+LSH near-dup: LSH candidates verified by exact trigram
    * Jaccard ≥ thresholdMilli. Output: (doc_a, doc_b, jacc_milli).
    *
    * Verify never re-explodes shingles: the candidate pairs (bounded by
    * LSH collisions, not the corpus pair count) join the per-doc shingle
    * ARRAYS and `array_intersect` counts the overlap in one map-side
    * expression — two equi-joins whose small side (cands) AQE broadcasts
    * at runtime, set sizes read directly off the joined arrays. */
  def minhashLsh(docs: DataFrame, bands: Int, thresholdMilli: Int): DataFrame = {
    // spread before the band kernel: the per-doc minhash_bands pass is
    // the dominant map-side cost and otherwise runs inside a single-task
    // local scan stage (measured r16: 1.14→0.91 s at sf0.1; no-op at
    // cluster scan parallelism — see [[Scans.spread]])
    val shArr = shingleArrays(Scans.spread(docs))
    val cands = lshCandidatePairs(minhashSignatureRows(shArr, bands))
    val a = shArr.select(col("sid").as("doc_a"), col("shs").as("shs_a"))
    val b = shArr.select(col("sid").as("doc_b"), col("shs").as("shs_b"))
    cands.join(a, Seq("doc_a")).join(b, Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("shs_a"), col("shs_b"))).cast("long").as("inter"),
        size(col("shs_a")).cast("long").as("na"),
        size(col("shs_b")).cast("long").as("nb"))
      .withColumn("jacc_milli",
        floor(lit(1000.0) * col("inter") / (col("na") + col("nb") - col("inter"))).cast("long"))
      .where(col("jacc_milli") >= thresholdMilli)
      .select(col("doc_a"), col("doc_b"), col("jacc_milli"))
  }

  /** Per-document duplicate-n-gram fraction — the CROSS-document
    * repetition quality signal (the "duplicate n-gram fraction" family of
    * corpus filters, Rae et al. 2021 "Scaling Language Models" Gopher
    * filtering; distinct from p15's INTRA-document repetition): for each
    * doc, the fraction of its distinct word-trigram shingles that occur
    * in at least `minDocs` documents corpus-wide. High values mark
    * boilerplate (headers, licenses, navigation chrome) that pair-level
    * dedup never removes because no single pair crosses its threshold.
    * Output: (doc_id, total_shingles, dup_milli) — integer milli per the
    * repo determinism contract; shingle-less docs (< 3 words) emit
    * (0, 0).
    *
    * Scale shape: two passes over the exploded shingle stream — one
    * shingle-keyed partial-agg count (doc frequency; shingles are
    * distinct per doc so `count(*)` IS df), one join back + doc-keyed
    * rollup. Both shuffles carry (shingle, count) / (doc, counts) cells,
    * never text; hot shingles (stopword runs) are exactly the p24 df-join
    * skew class — AQE's skew split handles them, measured in the
    * `tfidf_skew_smj` smoke curve. */
  def dupNgramFraction(docs: DataFrame, minDocs: Long = 2L,
                       idCol: String = "doc_id"): DataFrame = {
    val shArr = shingleArrays(docs, idCol)
    // merge hints: both sides derive from a Generate whose row estimate
    // Catalyst reads as the small scan underneath — an auto-broadcast of
    // the blown-up side is the same trap documented on ngramJaccardPairs
    val sh = shArr.select(col("sid"), explode(col("shs")).as("sh")).hint("merge")
    val df = sh.groupBy(col("sh")).agg(count(lit(1)).as("_df")).hint("merge")
    val perDoc = sh.join(df, "sh")
      .groupBy(col("sid"))
      .agg(count(lit(1)).as("total_shingles"),
        sum(when(col("_df") >= minDocs, 1L).otherwise(0L)).as("_dup"))
      .withColumn("dup_milli",
        floor(lit(1000.0) * col("_dup") / col("total_shingles")).cast("long"))
    shArr.select(col("sid")).join(perDoc, Seq("sid"), "left")
      .select(col("sid").as(idCol),
        coalesce(col("total_shingles"), lit(0L)).as("total_shingles"),
        coalesce(col("dup_milli"), lit(0L)).as("dup_milli"))
  }

  /** Corpus-level duplicate-LINE removal (the C4/RefinedWeb boilerplate
    * filter): a line occurring in >= `minDocs` DISTINCT documents is
    * boilerplate (navigation chrome, license banners, cookie notices)
    * and is dropped from every document; each document is reassembled
    * from its surviving lines in original order. Blank lines are
    * structure, not content — never counted, never dropped. Output:
    * (idCol, kept_lines, dropped_lines, new_text) — one row per input
    * document (a fully-boilerplate document survives with new_text '').
    *
    * This is the between-doc sibling of [[dupNgramFraction]]: that one
    * SCORES a doc's boilerplate load, this one REWRITES the corpus.
    *
    * Scale shape: lines dedup map-side within each doc's split array and
    * the distinct-doc count per line is one partial-agg'd exchange; the
    * boilerplate verdict set (only lines clearing `minDocs`) is a small
    * fraction of the corpus and rides a broadcast back onto the line
    * stream — the corpus itself is never shuffled by line text. The
    * reassembly groupBy is the one row-sized exchange (keyed on the doc
    * id, the same key the corpus is usually already partitioned by). If
    * a corpus' boilerplate set ever outgrows broadcast, pass
    * `broadcastVerdicts = false` and the same plan degrades to a shuffle
    * join — semantics unchanged. */
  def lineDedup(docs: DataFrame, minDocs: Long = 2L, idCol: String = "doc_id",
                textCol: String = "text", delim: String = "\n",
                broadcastVerdicts: Boolean = true): DataFrame =
    lineDedupAgainst(docs, lineStats(docs, idCol, textCol, delim), minDocs,
      idCol, textCol, delim, broadcastVerdicts)

  /** Persistable line-statistics artifact: (line, n_docs) for every
    * non-blank line, n_docs = DISTINCT documents carrying it. Built in
    * one corpus scan (one partial-agg'd exchange on the line); write it next
    * to the corpus and each ingest increment pays only its own size —
    * the same incremental-artifact shape as [[lshIndex]] and the
    * snapshot-diff digests.
    *
    * Assumes ONE ROW PER DOCUMENT (the corpus contract everywhere in
    * this module): lines dedup within a row's split array, so a doc_id
    * spanning multiple rows would be counted once per row it shares a
    * line with. This is the same id-disjointness contract
    * [[mergeLineStats]] states explicitly — a multi-row document must be
    * concatenated before scoring. */
  def lineStats(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text", delim: String = "\n"): DataFrame =
    // per-doc distinct non-blank lines dedup MAP-SIDE inside the split
    // array, so the distinct-doc count is ONE shuffle (on the line, with
    // map-side partial counts) instead of distinct-(doc,line) + groupBy —
    // the span-scrub verdict lesson applied to the line artifact
    docs.select(
        explode(array_distinct(filter(
          split(col(textCol), java.util.regex.Pattern.quote(delim), -1),
          l => trim(l) =!= ""))).as("line"))
      .groupBy(col("line")).agg(count(lit(1)).as("n_docs"))

  /** Fold an increment's [[lineStats]] into the stored artifact —
    * cell-sized work, valid whenever the two corpora's document ids are
    * disjoint (the ingest contract: each batch gets fresh ids), since
    * then per-line distinct-doc counts simply add. */
  def mergeLineStats(stored: DataFrame, increment: DataFrame): DataFrame =
    stored.unionByName(increment)
      .groupBy(col("line")).agg(sum(col("n_docs")).as("n_docs"))

  /** Rewrite `docs` against a (possibly merged) [[lineStats]] artifact —
    * the dedup-on-ingest form: a new crawl increment is rewritten
    * against the statistics of everything seen so far without ever
    * re-reading the indexed corpus' text. [[lineDedup]] is the
    * whole-corpus special case. */
  /** `broadcastVerdicts` (default true): the verdict join HINTS broadcast
    * on the boilerplate-line set — it is a small fraction of the corpus
    * by this operator's contract, and a sort-merge here would sort the
    * whole exploded line stream by line TEXT (the exact shuffle the plan
    * exists to avoid; the [[contaminationPairs]] `broadcastTest`
    * rationale). Pass false when the verdict set outgrows executor
    * memory — the same plan degrades to a shuffle join on the line text
    * instead of OOMing the driver, semantics unchanged (parity pinned in
    * DedupSpec). */
  def lineDedupAgainst(docs: DataFrame, stats: DataFrame, minDocs: Long = 2L,
                       idCol: String = "doc_id", textCol: String = "text",
                       delim: String = "\n",
                       broadcastVerdicts: Boolean = true): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val lines = docs.select(col(idCol),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(delim), -1))
          .as(Seq("_ix", "_line")))
    val bad0 = stats.where(col("n_docs") >= minDocs)
      .select(col("line").as("_badline"))
    val bad = if (broadcastVerdicts) broadcast(bad0) else bad0
    lines.join(bad, col("_line") === col("_badline"), "left")
      .groupBy(col(idCol))
      .agg(
        count(when(col("_badline").isNull, 1)).as("kept_lines"),
        count(when(col("_badline").isNotNull, 1)).as("dropped_lines"),
        array_join(transform(
          array_sort(collect_list(when(col("_badline").isNull,
            struct(col("_ix"), col("_line"))))),
          x => x.getField("_line")), delim).as("new_text"))
  }

  /** Persistable near-dup INDEX of a corpus: one row per doc with its
    * shingle array and the full MinHash band-signature array (map-side
    * expressions only — building the index costs one corpus scan, no
    * shuffle). Write it next to the corpus; [[crossCorpusPairs]] probes
    * it without ever re-reading, re-shingling, or re-signing the indexed
    * corpus — the INCREMENTAL ingestion shape: a 100 TB corpus is indexed
    * once, and each new crawl increment pays only its own size, exactly
    * like the snapshot-diff digest artifact turns repeated capture into
    * one scan per round. */
  def lshIndex(docs: DataFrame, bands: Int, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame = {
    val shArr = shingleArrays(docs, idCol, textCol)
    shArr.select(col("sid"), col("shs"),
      minhashBandsCol(col("shs"), bands, shArr.sparkSession).as("bandsigs"))
  }

  /** New-vs-indexed near-dup pairs: which incoming docs near-duplicate a
    * doc already in the corpus (dedup-on-ingest; also the cross-SPLIT
    * leak check when `index` is the held-out set). `index` is a
    * [[lshIndex]] frame — typically read back from parquet. Candidates
    * collide on any (band, signature); verification is exact trigram
    * Jaccard on the candidate pairs only, identical to [[minhashLsh]]'s
    * verify. Output: (new_id, old_id, jacc_milli).
    *
    * Scale shape: the new increment is shingled/signed map-side; the one
    * large shuffle is the (band, sig) equi-join of new signatures against
    * the index's — both sides partial-agg'd to distinct signature rows
    * first. The verify joins are candidate-sized and AQE-broadcast. The
    * indexed corpus' TEXT is never touched. */
  def crossCorpusPairs(newDocs: DataFrame, index: DataFrame, bands: Int,
                       thresholdMilli: Int): DataFrame = {
    val newIdx = lshIndex(newDocs, bands)
    val nSig = newIdx.select(col("sid").as("new_id"),
      posexplode(col("bandsigs")).as(Seq("band", "sig"))).hint("merge")
    val oSig = index.select(col("sid").as("old_id"),
      posexplode(col("bandsigs")).as(Seq("band", "sig"))).hint("merge")
    val cands = nSig.join(oSig, Seq("band", "sig"))
      .select(col("new_id"), col("old_id")).distinct()
    val a = newIdx.select(col("sid").as("new_id"), col("shs").as("shs_a"))
    val b = index.select(col("sid").as("old_id"), col("shs").as("shs_b"))
    cands.join(a, Seq("new_id")).join(b, Seq("old_id"))
      .select(col("new_id"), col("old_id"),
        size(array_intersect(col("shs_a"), col("shs_b"))).cast("long").as("inter"),
        size(col("shs_a")).cast("long").as("na"),
        size(col("shs_b")).cast("long").as("nb"))
      .withColumn("jacc_milli",
        floor(lit(1000.0) * col("inter") / (col("na") + col("nb") - col("inter"))).cast("long"))
      .where(col("jacc_milli") >= thresholdMilli)
      .select(col("new_id"), col("old_id"), col("jacc_milli"))
  }

  /** Exact-substring overlap pairs — the copied-span dedup family member
    * (suffix-array dedup à la Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better", re-expressed for Spark): docs
    * sharing verbatim spans are found via fixed-width character windows
    * (`windowLen`) anchored at WORD STARTS of the normalized text,
    * hashed and equi-joined. Two docs sharing >= `minShared` distinct
    * window hashes report a pair. Catches long copied passages that
    * token-level Jaccard dilutes away (a 200-char quote inside two
    * otherwise-different documents) at ANY offset.
    *
    * Anchors must be CONTENT-DEFINED (the winnowing insight, Schleimer
    * et al. 2003): fixed-stride sampling — the obvious first cut —
    * misses every copy whose offset difference is not a stride
    * multiple, which is most of them. Word boundaries are the cheap
    * content anchor for text: a copied span carries its own spaces, so
    * it selects the same windows in every document containing it, and
    * no per-position hashing is needed to find the anchors (a
    * hash-selected anchor variant costs one digest per CHARACTER —
    * measured 2x this whole query's time; normText guarantees spaces
    * in any real text).
    *
    * Output: (doc_a, doc_b, shared_windows), doc_a < doc_b.
    *
    * Scale shape: anchor selection and window hashing are one map-side
    * expression per row (one digest per word, the text itself never
    * enters the shuffle); the only shuffles are the distinct digest
    * stream and the digest equi-join. Like [[ngramJaccardPairs]] this
    * is the exhaustive baseline — O(docs sharing a window) by
    * contract. */
  def substringOverlapPairs(docs: DataFrame, windowLen: Int,
                            minShared: Long): DataFrame = {
    // one-pass codegen kernel; DedupSpec pins it against the composable
    // HOF chain (interpreted, text-length integer array per row)
    val wh = docs.select(col("doc_id").as("sid"),
        explode(GraftExtensions.kernel(docs.sparkSession, "anchor_window_hashes",
          col("text"), lit(windowLen))).as("wh"))
      .hint("merge") // same Generate-underestimate guard as the shingle joins
    val a = wh.select(col("sid").as("doc_a"), col("wh"))
    val b = wh.select(col("sid").as("doc_b"), col("wh"))
    a.join(b, Seq("wh")).where(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared_windows"))
      .where(col("shared_windows") >= minShared)
  }

  /** Cross-document duplicated-SPAN removal — the REWRITE member of the
    * copied-span family (Lee et al. 2022 remove the duplicated spans,
    * not the documents): every anchor window (the [[substringOverlapPairs]]
    * geometry — `windowLen` chars at word starts of the normalized text)
    * whose hash occurs in >= `minDocs` DISTINCT docs marks its span, a
    * doc's covered positions are the union of its marked spans, and the
    * scrubbed text is the uncovered characters in order (reported as an
    * md5 so the payload stays narrow — the full rewrite is the same
    * expression minus the hash). Output:
    * (idCol, covered_chars, kept_chars, scrubbed_md5).
    *
    * Complements [[lineDedup]]: spans need no line structure and catch
    * partially-overlapping boilerplate a line filter misses.
    *
    * Scale shape: window hashing is map-side (one digest per word); the
    * verdict set is ONE partial-agg'd shuffle of per-doc-distinct hashes
    * and broadcasts back (the [[lineDedup]] geometry); the per-doc
    * coverage rollup is one id-keyed exchange. Coverage and the rewrite are ONE
    * interval-merge fold over the sorted marked starts — O(len + k) per
    * doc, never per-char × per-span (a first cut used a per-char
    * `exists` scan, which went quadratic exactly on the near-dup-dense
    * docs the scrub exists for) — and window hashing rides the
    * `anchor_window_pos_hashes` codegen kernel. Measured at sf0.1:
    * 9.3 s per-char/interpreted → 6.9 s fold/interpreted → 2.4 s
    * fold/kernel. */
  /** `broadcastVerdicts`: same contract as [[lineDedupAgainst]]'s flag —
    * default hints broadcast on the duplicated-window verdict set; false
    * degrades to a shuffle join on the window hash for an oversized
    * verdict set, identical output (parity pinned in DedupSpec). */
  def duplicateSpanScrub(docs: DataFrame, windowLen: Int, minDocs: Long = 2L,
                         idCol: String = "doc_id", textCol: String = "text",
                         broadcastVerdicts: Boolean = true)
  : DataFrame = {
    require(windowLen >= 1 && minDocs >= 2,
      s"need windowLen >= 1 and minDocs >= 2, got $windowLen/$minDocs")
    val normed = docs.withColumn("_norm", TextFunctions.normText(col(textCol)))
    // positioned window hashes: one-pass codegen kernel (DedupSpec pins
    // it against the interpreted HOF chain)
    val pw = docs.select(col(idCol),
        explode(GraftExtensions.kernel(docs.sparkSession, "anchor_window_pos_hashes",
          col(textCol), lit(windowLen))).as("_pw"))
      .select(col(idCol), col("_pw.pos").as("_pos"), col("_pw.wh").as("_wh"))
    // verdict build: per-doc DISTINCT window hashes dedup MAP-SIDE inside
    // the per-doc array (the non-positioned kernel already emits each
    // doc's hashes distinct), so the distinct-doc count per hash is ONE
    // shuffle with map-side partial counts — the previous distinct-(doc,wh)-then-groupBy(wh) pair
    // shuffled the full positioned window stream twice and was ~50% of
    // the operator at the 100x smoke point (span_scrub_verdict family);
    // re-hashing the text (one digest per word) is ~5% of it
    val docWh = docs.select(col(idCol),
      explode(GraftExtensions.kernel(docs.sparkSession, "anchor_window_hashes",
        col(textCol), lit(windowLen))).as("_wh"))
    val bad0 = docWh.groupBy(col("_wh")).agg(count(lit(1)).as("_docs"))
      .where(col("_docs") >= minDocs)
      .select(col("_wh").as("_badwh"))
    val bad = if (broadcastVerdicts) broadcast(bad0) else bad0
    val covered = pw.join(bad, col("_wh") === col("_badwh"))
      .groupBy(col(idCol)).agg(collect_list(col("_pos")).as("_starts"))
    normed.select(col(idCol), col("_norm"))
      .join(covered, Seq(idCol), "left")
      .withColumn("_starts",
        sort_array(coalesce(col("_starts"), array().cast("array<int>"))))
      // interval-merge fold: e = exclusive end of the covered prefix
      // (clamped to the text), c = covered chars so far, o = scrubbed
      // text so far, p = next uncopied position (1-based)
      .withColumn("_cov", expr(
        s"aggregate(_starts, named_struct('e', 0, 'c', 0), (acc, s) -> " +
          s"named_struct(" +
          s"'e', greatest(acc.e, least(s + $windowLen, length(_norm) + 1)), " +
          s"'c', acc.c + greatest(0, least(s + $windowLen, length(_norm) + 1) " +
          s"- greatest(s, acc.e))), acc -> acc.c)"))
      .withColumn("_scrub", expr(
        s"aggregate(_starts, named_struct('p', 1, 'o', ''), (acc, s) -> " +
          s"named_struct('p', greatest(acc.p, s + $windowLen), " +
          s"'o', concat(acc.o, substring(_norm, acc.p, greatest(0, s - acc.p)))), " +
          s"acc -> concat(acc.o, " +
          s"substring(_norm, acc.p, greatest(0, length(_norm) - acc.p + 1))))"))
      .select(col(idCol),
        col("_cov").cast("long").as("covered_chars"),
        (length(col("_norm")) - col("_cov")).cast("long").as("kept_chars"),
        md5(col("_scrub")).as("scrubbed_md5"))
  }

  /** Connected components over an undirected pair set — the step that
    * turns near-dup PAIRS ([[minhashLsh]] output) into duplicate CLUSTERS
    * so a corpus keeps exactly one canonical doc per group (pairs alone
    * can't: transitive dups A~B~C must collapse to one survivor even when
    * A~C was never emitted). Input: (doc_a, doc_b). Output:
    * (doc_id, canonical_id) for every vertex in a pair; canonical = min
    * id of the component.
    *
    * Algorithm: iterative min-label propagation to a fixpoint. Each round
    * is one equi-join (edges ⋈ labels) + one min-aggregation, i.e. two
    * narrow-long shuffles over the VERTEX set — which at 100 TB is
    * orders of magnitude smaller than the corpus (only docs that LSH put
    * in a pair) — plus a pointer-jumping self-join of the label table
    * that halves label chains every round, so rounds = O(log diameter)
    * (the same doubling trick as Kiveris et al., "Connected Components
    * in MapReduce and Beyond"): near-dup stars converge in 2–3 rounds
    * and even a 10^6-link chain fits the default `maxIters`. Per round
    * the label table is `localCheckpoint`ed:
    * truncating lineage keeps round i from recomputing rounds 1..i−1
    * (the quadratic-recompute trap of naive iterative DataFrames); the
    * convergence check is a bounded driver-side count, like the IVF
    * codebook loop. Nothing registers in the CacheManager.
    *
    * Storage lifecycle: checkpoint blocks are freed DETERMINISTICALLY —
    * each round's label table is unpersisted as soon as the next round
    * materializes, and the edge table on every exit path, so a call
    * leaves behind only the blocks backing the RETURNED label table (its
    * lineage is truncated; freeing it would make the result
    * unrecomputable). Spark's `ContextCleaner` frees those once the
    * driver drops the returned frame and every frame derived from it
    * (release by reachability, see [[CheckpointUtil]]), so repeated
    * dedup passes in a long-lived session do not accumulate vertex-set
    * tables. The driver fast path below leaves no blocks at all.
    *
    * Durability: localCheckpoint truncates lineage and stores blocks on
    * executors, so on a cluster an executor loss mid-query fails the CC
    * pass and the caller retries it — the bounded-state trade (and the
    * `spark.checkpoint.dir` reliable-checkpoint alternative) is
    * documented on [[CheckpointUtil]].
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    // checkpoint the edge list ONCE: it is referenced by every round's
    // join, and without truncation each round would re-derive the whole
    // upstream pair pipeline (for LSH pairs that is the full shingle +
    // signature + verify dag — measured 3x the entire query cost)
    val (edges, edgeBlocks) = doubledEdges(pairs)
    // Size-gated driver fast path (r16): a BOUNDED Long-id edge list
    // union-finds on the driver in one collect instead of 4-6
    // driver-synchronous checkpoint/probe jobs — at sf0.1 the whole
    // near-dup graph is a few hundred edges and the distributed loop's
    // cost was pure job scheduling (~1 s of p22/p30). The gate keeps the
    // collect in the repo's bounded-collect class (≤2·2^17 rows of two
    // longs ≈ 4 MB); a dirtier-than-threshold corpus (the 100 TB
    // posture) takes the checkpointed loop below, and the two routes are
    // parity-pinned in DedupSpec (same min-id canonicals, the loop's
    // own long-standing union-find oracle). The count runs on the
    // already-materialized checkpoint blocks — one cheap job.
    if (pairs.schema("doc_a").dataType ==
          org.apache.spark.sql.types.LongType &&
        edges.count() <= 2L * DriverCcMaxEdges) {
      val rows = edges.collect()
      if (rows.forall(r => !r.isNullAt(0) && !r.isNullAt(1)))
        try return ccDriverLong(rows, pairs.sparkSession)
        finally edgeBlocks.foreach(_.unpersist(blocking = false))
      // nulls (out of contract, but cheap to honor): fall through to the
      // loop, which groups them exactly as before
    }
    ccLoop(edges, edgeBlocks, maxIters)
  }

  /** Max PAIR rows [[connectedComponents]] resolves driver-side; above
    * it (or for non-Long ids) the distributed pointer-jumping loop
    * runs. 2^17 pairs of two longs is ~2 MB collected — the bounded-
    * collect class. */
  private[functions] val DriverCcMaxEdges: Long = 1L << 17

  /** Driver union-find over a collected doubled edge list: canonical =
    * component-minimum id, identical to the loop's converged min-label
    * fold (and to DedupSpec's independent union-find oracle). */
  private def ccDriverLong(rows: Array[org.apache.spark.sql.Row],
                           spark: SparkSession): DataFrame = {
    import spark.implicits._
    val parent = new java.util.HashMap[Long, Long](rows.length * 2)
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.get(r)
      var c = x // path compression
      while (parent.getOrDefault(c, c) != c) {
        val nxt = parent.get(c); parent.put(c, r); c = nxt
      }
      r
    }
    val verts = new java.util.LinkedHashSet[java.lang.Long]()
    rows.foreach { r =>
      val a = r.getLong(0); val b = r.getLong(1)
      verts.add(a); verts.add(b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    verts.forEach(v => out += ((v.longValue, find(v.longValue))))
    out.toSeq.toDF("doc_id", "canonical_id")
  }

  /** The distributed pointer-jumping loop against an already-
    * checkpointed doubled edge list (the pre-r16 [[connectedComponents]]
    * body; [[ccDistributed]] is the spec hook that forces this route). */
  private def ccLoop(edges: DataFrame, edgeBlocks: Seq[RDD[_]],
                     maxIters: Int): DataFrame = {
    var (labels, labelBlocks) = CheckpointUtil.trackedLocalCheckpoint(edges
      .select(col("src").as("doc_id"), least(col("src"), col("dst")).as("label"))
      .groupBy("doc_id").agg(min("label").as("label")))
    var iter = 0
    var converged = false
    try {
      while (!converged && iter < maxIters) {
        val prop = edges.join(labels, edges("src") === labels("doc_id"))
          .select(edges("dst").as("doc_id"), col("label"))
        // pointer jumping (label-of-label): halves every label-chain each
        // round, so convergence is O(log diameter) instead of O(diameter)
        // — a pathological near-dup CHAIN longer than maxIters would
        // otherwise silently keep per-link labels. One extra equi-join of
        // the (small) label table with itself per round.
        val jump = labels.alias("l")
          .join(labels.select(col("doc_id").as("_m"), col("label").as("_ml")),
            col("l.label") === col("_m"))
          .select(col("l.doc_id").as("doc_id"), col("_ml").as("label"))
        // carry each vertex's previous label through the min-aggregation —
        // as a typed NULL on the prop/jump branches (min skips nulls, and
        // every vertex has exactly one labels-branch row, so min(_old) IS
        // the previous label; a numeric MaxValue sentinel would coerce to
        // string for non-numeric ids and sort BEFORE alphabetic labels,
        // corrupting the carry) — so the convergence probe is a filter
        // over the checkpointed result, no extra join
        val nullOld = lit(null).cast(labels.schema("label").dataType)
        val (next, nextBlocks) = CheckpointUtil.trackedLocalCheckpoint(
          labels.withColumn("_old", col("label"))
            .unionByName(prop.withColumn("_old", nullOld))
            .unionByName(jump.withColumn("_old", nullOld))
            .groupBy("doc_id").agg(min("label").as("label"), min("_old").as("_old")))
        converged = next.where(col("label") < col("_old")).isEmpty
        if (converged) {
          // at a fixpoint `next`'s (doc_id, label) set EQUALS the previous
          // round's (no vertex changed): return the previous checkpoint and
          // free this round's blocks now, so a call leaves behind exactly
          // one vertex-set table
          nextBlocks.foreach(_.unpersist(blocking = false))
        } else {
          // the previous round's checkpoint is dead once the next round has
          // materialized — unpersisting here is what keeps an iterative run
          // at two live label tables instead of one per round forever
          labelBlocks.foreach(_.unpersist(blocking = false))
          labels = next.select("doc_id", "label")
          labelBlocks = nextBlocks
        }
        iter += 1
      }
    } finally {
      edgeBlocks.foreach(_.unpersist(blocking = false))
      if (!converged) labelBlocks.foreach(_.unpersist(blocking = false))
    }
    // pointer jumping converges in O(log diameter) rounds, so hitting
    // maxIters means either a pathological graph or a far-too-small cap —
    // the labels would be silently WRONG (per-segment, not per-component);
    // fail loudly rather than hand callers incorrect clusters
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIters rounds; " +
          "raise maxIters (rounds needed grow only logarithmically with " +
          "component diameter)")
    labels.withColumnRenamed("label", "canonical_id")
  }

  /** [[connectedComponents]] forced down the distributed pointer-jumping
    * loop regardless of size/id-type (spec hook: the loop's convergence,
    * maxIters, and string-id contracts are pinned against THIS route;
    * the public entry takes the driver fast path on bounded Long-id
    * graphs and is parity-pinned against it). */
  private[functions] def ccDistributed(pairs: DataFrame,
                                       maxIters: Int = 20): DataFrame = {
    val (edges, edgeBlocks) = doubledEdges(pairs)
    ccLoop(edges, edgeBlocks, maxIters)
  }

  /** The undirected edge list `(src, dst) ∪ (dst, src)` of a pair table,
    * checkpointed, plus the blocks backing it (both CC routes free them
    * on exit). */
  private def doubledEdges(pairs: DataFrame): (DataFrame, Seq[RDD[_]]) =
    CheckpointUtil.trackedLocalCheckpoint(
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst"))))

  /** Near-dup clusters end-to-end: [[minhashLsh]] pairs →
    * [[connectedComponents]] → one row per clustered doc with its
    * canonical id and cluster size. Output: (doc_id, canonical_id,
    * cluster_sz). The cluster-size rollup groups on canonical_id — at
    * most one group per cluster, so the extra aggregation is bounded by
    * the (small) clustered-vertex set, and AQE broadcasts it back. */
  def nearDupClusters(docs: DataFrame, bands: Int, thresholdMilli: Int): DataFrame = {
    val cc = connectedComponents(minhashLsh(docs, bands, thresholdMilli))
    val sz = cc.groupBy("canonical_id").agg(count(lit(1)).as("cluster_sz"))
    cc.join(sz, "canonical_id")
      .select(col("doc_id"), col("canonical_id"), col("cluster_sz"))
  }

  /** Train/test shingle-overlap pairs with a Bloom prefilter — the
    * decontamination scan's MIDDLE-regime scale path. `train`/`test` are
    * exploded (id, sh) streams; output (train_id, test_id, shared) with
    * `shared >= minShared`, IDENTICAL to the plain equi-join
    * formulation: a Bloom filter has no false negatives, so the
    * prefilter drops only never-matching train shingles, and its false
    * positives die in the exact equi-join + threshold that follows.
    *
    * Why a third regime: with a SMALL held-out suite, AQE broadcasts the
    * test side of the plain join and the prefilter buys nothing; with a
    * HUGE one, neither fits anywhere and the shuffle join is the only
    * shape. In between — a probe set too big for the broadcast
    * hash-relation budget but whose ~1 bit/element sketch fits
    * comfortably — the bloom drops the train shingle stream map-side
    * BEFORE it shuffles, which at 100 TB is the difference between
    * shuffling the corpus's shingles and shuffling the contaminated
    * sliver. Rides Spark's own runtime-filter expressions
    * (bloom_agg/bloom_contains, registered by [[graft.GraftExtensions]]):
    * map-side-merged TypedImperativeAggregate build, codegen probe.
    *
    * The sketch materializes through one bounded driver job (ONE row of
    * `bloomBits/8` bytes — the same bounded-collect class as the IVF
    * codebook; `might_contain` requires its sketch to be a constant or
    * scalar subquery, so a join-column sketch is not analyzable) and
    * ships into the scan stage as a literal. Empty test side → no pairs
    * by construction; the prefilter is skipped rather than probing a
    * null sketch.
    *
    * CONTRACT — `test` must be deterministic: it is evaluated twice,
    * once eagerly at CALL time to build the sketch (a Spark job fires
    * before any action on the returned frame — surprising for a builder,
    * but forced by the literal-sketch requirement above) and again in
    * the verify join. A non-deterministic test side (un-seeded `sample`,
    * a re-read of mutating storage) can surface a shingle at join time
    * that the sketch never saw — a REAL false negative, breaking the
    * identical-to-equi-join guarantee. Persist or checkpoint such a
    * frame before passing it here.
    *
    * `broadcastTest` (default true): the verify join HINTS broadcast on
    * the test side instead of letting size estimates pick. The held-out
    * suite is small by this operator's contract, and sort-merging
    * instead means sorting the (huge) pruned TRAIN stream — at smoke
    * depth that SMJ's cold run cost 2-5x its steady state (shuffle-file
    * + sort-buffer bring-up was the entire non-monotone
    * `contam_bloom` variance of SCALE_SMOKE_r07-r09), and at 100 TB it
    * is a corpus-sized sort that the broadcast shape never pays: with
    * the hint the train side stays map-side END-TO-END (bloom prune →
    * broadcast probe → partial agg), shuffling only candidate-pair
    * cells. Pass false only when the test side is too big for executor
    * memory — the middle-regime shuffle join then still benefits from
    * the bloom prune. */
  def contaminationPairs(train: DataFrame, test: DataFrame, minShared: Long,
                         bloomItems: Long = 1000000L,
                         bloomBits: Long = 8000000L,
                         broadcastTest: Boolean = true): DataFrame = {
    val row = test.agg(GraftExtensions.kernel(test.sparkSession, "bloom_agg",
      col("sh"), lit(bloomItems), lit(bloomBits)).as("_bf")).head()
    val pruned =
      if (row.isNullAt(0)) train
      else train.where(GraftExtensions.kernel(train.sparkSession, "bloom_contains",
        lit(row.getAs[Array[Byte]](0)), col("sh")))
    pruned.join(if (broadcastTest) broadcast(test) else test, Seq("sh"))
      .groupBy("train_id", "test_id").agg(count(lit(1)).as("shared"))
      .where(col("shared") >= minShared)
  }

  /** Keeper selection — the KEPT-corpus emitter a dedup pipeline ends
    * with: pair/cluster queries name the duplicates, but a training run
    * reads the survivors. Per cluster keep the highest-`qualityCol` doc
    * (lowest id on ties); docs in no cluster pass through with
    * cluster_sz 1. Output: (kept_id, `qualityCol`, cluster_sz), one row
    * per distinct content.
    *
    * `docsQ` = (idCol, qualityCol) for the whole corpus; `clusters` =
    * (doc_id, canonical_id, cluster_sz) as produced by
    * [[nearDupClusters]]. Scale shape (r17): ONE pass over `docsQ` — a
    * left join tags each doc with its cluster. The join carries no
    * broadcast hint: AQE broadcasts the clustered set at runtime when it
    * is small (typically, since only docs with a near-dup are in it) and
    * falls back to a shuffle join on a dup-heavy corpus whose clustered
    * set would exceed Spark's broadcast limits (8 GB / 512M rows);
    * singletons become their own one-member cluster
    * (`coalesce(canonical_id, id)`), and a single struct-min aggregation
    * keyed on the canonical id emits keeper and pass-through rows
    * uniformly. The former shape joined `docsQ` twice (keeper join +
    * singleton anti-join), so a computed quality column — typically the
    * full per-doc quality kernel over text — was evaluated over the
    * corpus twice; now the kernel runs once and the one exchange carries
    * only (canonical, quality, id) cells, never text. Mostly-singleton
    * keys means partial aggregation barely reduces, but a narrow
    * cell shuffle is far cheaper than a second corpus-wide text scan +
    * kernel pass at any scale. Measured (sf0.1 min-of-N matched
    * windows, OPTIMIZATION_r17.md §4): p30 2.40 → 1.68 s; output row-identical
    * (DedupSpec semantics pins unchanged). */
  def keepBest(docsQ: DataFrame, clusters: DataFrame,
               idCol: String = "doc_id", qualityCol: String = "quality"): DataFrame =
    docsQ.select(col(idCol), col(qualityCol))
      .join(clusters, Seq(idCol), "left")
      .select(coalesce(col("canonical_id"), col(idCol)).as("_canon"),
        coalesce(col("cluster_sz"), lit(1L)).as("_csz"),
        col(qualityCol), col(idCol))
      .groupBy(col("_canon"))
      .agg(min(struct((-col(qualityCol)).as("qn"), col(idCol).as("id"))).as("_k"),
        max(col("_csz")).as("cluster_sz"))
      .select(col("_k.id").as("kept_id"), (-col("_k.qn")).as(qualityCol),
        col("cluster_sz"))

  /** Per-doc COMPONENT min-hash array (bands·RowsPerBand entries, one
    * per (band, row) hash function) — the un-concatenated form of
    * [[minhashBandsCol]]'s band signatures. Bands answer "did ANY band
    * collide" (candidate generation); components answer "how MANY hash
    * functions agree" (the MinHash Jaccard estimator:
    * E[matching/total] = J).
    *
    * Derived by SLICING the band signatures (md5 hex is fixed 32 chars,
    * so band b's signature is exactly its RowsPerBand component minima
    * concatenated) rather than re-running the per-function min-md5
    * transforms: the hashing work — the dominant cost — is paid once,
    * in the one-pass [[expr.MinhashBands]] kernel. The
    * independent md5 formulation is pinned byte-identical in DedupSpec. */
  def mhComponentsCol(shs: Column, bands: Int,
                      session: SparkSession = SparkSession.active): Column =
    flatten(transform(minhashBandsCol(shs, bands, session), sig =>
      array((0 until RowsPerBand).map(r =>
        substring(sig, r * 32 + 1, 32)): _*)))

  /** Signature-only Jaccard estimation on LSH candidate pairs, with the
    * exact verify alongside: est = matching min-hash components / total
    * (the classic MinHash estimator), exact = trigram Jaccard off the
    * shingle arrays. At 100 TB the [[lshIndex]] artifact holds
    * signatures but the text may be cold storage — this is the route
    * that RANKS candidate pairs without re-reading any document, and
    * the paired exact column is the measured estimator error. Output:
    * (doc_a, doc_b, est_milli, jacc_milli), est ≥ `estThresholdMilli`.
    *
    * Scale shape: candidates from the one-shuffle inverted index
    * ([[lshCandidatePairs]]); component arrays are map-side per doc;
    * the candidate set joins the per-doc arrays twice (AQE broadcasts
    * the small cand side — the [[minhashLsh]] verify geometry) and both
    * the match count and the intersection are per-row array expressions,
    * never an explode.
    *
    * The verify sides are CANDIDATE-PRUNED before any kernel runs: each
    * side semi-joins the raw docs to its candidate id set first, so the
    * min-hash component kernel (16 md5 per shingle — the costliest
    * per-row map in the family) runs corpus-wide exactly ONCE, in the
    * signature pass, and candidate-sized twice, instead of corpus-wide
    * three times. The candidate subtree is referenced three times but
    * its corpus-sized (band, sig) exchange executes once — AQE
    * stage-reuse dedups identical shuffle stages at runtime, verified by
    * listener accounting in a ProbeFamily A/B, SURVEY.md round 12
    * (shuffle bytes 26.6 vs
    * 26.3 MB unpruned at the x10 smoke point; a re-execution would read
    * ~3x) — and the post-exchange prune work is candidate-sized (no
    * distinct on the id sets: a semi join is an existence check, and the
    * exchange+aggregate barrier cost more than the duplicate build
    * rows). Probed
    * at the 100x smoke point against the unpruned twin
    * (`minhash_estimate_unpruned`), 14 interleaved fresh-JVM samples in
    * a noisy disk window: min-of-samples ties (11.5 vs 11.4 s), medians
    * 16.0 vs 20.7 s, and the structural metrics are one-sided — total
    * shuffle 513 vs 1064 MB (the unpruned verify sides sort-merge the
    * corpus-wide component+shingle arrays) and the 16-md5 kernel runs
    * corpus-wide once vs three times. The same pruning was PROBED AND
    * REJECTED for [[minhashLsh]] (`minhash_lsh_pruned`): its verify
    * sides re-pay only the trigram kernel, so the saving is a wash at
    * 100x and a measured ~0.7 s LOSS at 10x (the two extra
    * broadcast-prune stages cost more than the skipped shingling). */
  def minhashJaccardEstimate(docs: DataFrame, bands: Int,
                             estThresholdMilli: Int): DataFrame = {
    require(estThresholdMilli >= 0 && estThresholdMilli <= 1000,
      s"estThresholdMilli must be in [0, 1000] (got $estThresholdMilli)")
    // the pruned shape's perf contract (ONE corpus-wide signature pass)
    // rests on AQE stage-reuse deduping the thrice-referenced candidate
    // exchange; with AQE off the result is still correct but the
    // (band, sig) exchange subtree executes three times — surface that
    // instead of silently tripling the md5 kernel
    if (!docs.sparkSession.conf.get("spark.sql.adaptive.enabled", "true").toBoolean)
      System.err.println("[graft] minhashJaccardEstimate: " +
        "spark.sql.adaptive.enabled=false — the candidate subtree will " +
        "execute 3x (no stage reuse); enable AQE or persist the " +
        "candidate pairs upstream")
    val total = bands * RowsPerBand
    // spread once at entry (r16, measured 1.61→1.02 s at sf0.1): both
    // the corpus-wide signature pass and the per-side pruned re-shingle
    // below derive from this frame — no-op at cluster scan parallelism
    val spreadDocs = Scans.spread(docs)
    val shArr = shingleArrays(spreadDocs)
    val cands = lshCandidatePairs(minhashSignatureRows(shArr, bands))
    def side(pairCol: String): DataFrame = {
      // no .distinct() on the id set: a semi join is an existence check,
      // so duplicate build rows change nothing — and dropping it removes
      // an exchange+aggregate barrier per side (first-execution stage
      // bring-up was the measured cost of the pruning at small factors)
      val pruned = shingleArrays(spreadDocs.join(
        cands.select(col(pairCol).as("doc_id")),
        Seq("doc_id"), "left_semi"))
      pruned.select(col("sid").as(pairCol),
        mhComponentsCol(col("shs"), bands, pruned.sparkSession)
          .as(s"mhs_${pairCol.stripPrefix("doc_")}"),
        col("shs").as(s"shs_${pairCol.stripPrefix("doc_")}"))
    }
    cands.join(side("doc_a"), "doc_a").join(side("doc_b"), "doc_b")
      .withColumn("_m", aggregate(
        zip_with(col("mhs_a"), col("mhs_b"),
          (x, y) => when(x === y, 1L).otherwise(0L)),
        lit(0L), (acc, v) => acc + v))
      .withColumn("est_milli", expr(s"(_m * 1000) div $total"))
      .where(col("est_milli") >= estThresholdMilli)
      .withColumn("_i",
        size(array_intersect(col("shs_a"), col("shs_b"))).cast("long"))
      .withColumn("jacc_milli",
        floor(lit(1000.0) * col("_i") /
          (size(col("shs_a")) + size(col("shs_b")) - col("_i"))).cast("long"))
      .select(col("doc_a"), col("doc_b"), col("est_milli"), col("jacc_milli"))
  }

  /** Asymmetric containment decontamination (Broder's containment
    * measure, "On the resemblance and containment of documents",
    * SEQUENCES 1997): for every TEST-split document, the best-matching
    * TRAIN-split document by `C(test, train) = |test∩train| / |test|`
    * over distinct word-trigram shingles. Containment — not Jaccard —
    * is the right direction for benchmark decontamination: a short
    * eval item fully embedded in a long train document scores C ≈ 1
    * while Jaccard ≈ |test|/|train| ≈ 0, so symmetric measures miss
    * exactly the leaks that matter (the reason p19's absolute
    * shared-count scan has a fixed-count threshold; this op gives the
    * size-normalized per-test-doc view).
    *
    * Splits are the deterministic 90/5/5 hash split
    * ([[TextFunctions.splitBucket]]), so both engines carve identical
    * sides. Scale shape: the shingle-keyed equi-join is the p19
    * inverted-index form, hinted SHUFFLED-HASH with the build on the
    * TEST side (5% of the corpus): a hint is needed at all because the
    * Generate-fed sides carry no usable size estimate (the
    * [[ngramJaccardPairs]] trap — left alone the planner can pick a
    * broadcast of an exploded side), and hash-not-merge because the
    * merge form SORTS the corpus-sized exploded train side — an
    * n·log n with spill that was the x400 super-linearity (r15
    * root-cause, fresh-JVM mins from the since-deleted ProbeFamily
    * probe, SURVEY.md round 15: join output rows grow
    * exactly linearly — 11.4M -> 45.6M for 4x data, word-tagged
    * replicas share nothing so there is NO hot-shingle densification —
    * yet merge timed 4.93 -> 16.85 s (3.42x) while test-side
    * shuffled-hash timed 3.81 -> 11.53 s (3.03x), back inside the
    * 3.1-3.5x shingle-join peer class and ~30% faster at depth).
    * At 100 TB the SHJ build is the test explode's per-partition
    * slice — 5% of shingle volume over the shuffle partition count,
    * with AQE skew-join splitting available on SHJ — while the train
    * side streams unsorted. The per-(test,train) counts and the
    * test-side set sizes are partial-agg'd; the best-match pick is
    * a per-test-doc window over only the thresholded candidates, never
    * the corpus. Output: (test_id, train_id, containment_pm), one row
    * per test doc with a match ≥ `thresholdMilli`‰. */
  def containmentScan(docs: DataFrame, thresholdMilli: Int,
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(thresholdMilli >= 0 && thresholdMilli <= 1000,
      s"thresholdMilli must be in [0, 1000] (got $thresholdMilli)")
    val sh = shingleArrays(docs, idCol, textCol)
      .withColumn("_bucket", TextFunctions.splitBucket(col("sid")))
    val testArr = sh.where(col("_bucket") >= 95)
    val train = sh.where(col("_bucket") < 90)
      .select(col("sid").as("train_id"), explode(col("shs")).as("sh"))
    // the hint binds to the side it is called on: test is the build side
    val test = testArr.select(col("sid").as("test_id"), explode(col("shs")).as("sh"))
      .hint("shuffle_hash")
    val inter = train.join(test, Seq("sh"))
      .groupBy(col("test_id"), col("train_id")).agg(count(lit(1)).as("_inter"))
    val sizes = testArr
      .select(col("sid").as("test_id"), size(col("shs")).cast("long").as("_n"))
      .where(col("_n") > 0)
    val best = org.apache.spark.sql.expressions.Window
      .partitionBy(col("test_id"))
      .orderBy(col("containment_pm").desc, col("train_id"))
    inter.join(sizes, "test_id")
      .withColumn("containment_pm", expr("(_inter * 1000) div _n"))
      .where(col("containment_pm") >= thresholdMilli)
      .withColumn("_rk", row_number().over(best)).where(col("_rk") === 1)
      .select(col("test_id"), col("train_id"), col("containment_pm"))
  }

  /** SimHash bucket dedup: 16-bit simhash per doc, report buckets holding
    * >1 doc. Output: (simhash, dup_cnt, min_doc, max_doc). */
  def simhashBuckets(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val withWs = docs.withColumn("_ws",
      TextFunctions.words(TextFunctions.normText(col(textCol))))
    TextFunctions.withSimhash16(withWs, col("_ws"), "simhash")
      .groupBy(col("simhash"))
      .agg(count(lit(1)).as("dup_cnt"), min(col(idCol)).as("min_doc"), max(col(idCol)).as("max_doc"))
      .where(col("dup_cnt") > 1)
  }
}
