package graft.functions

import graft.{SparkSpec, Tables}
import graft.operators.SequenceGaps
import org.apache.spark.sql.functions._

/** MinHash signature-path parity (codegen expression vs composable
  * fallback vs aggregation formulation) and the no-persisted-state
  * contract of the dedup/similarity/gap operators. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sf())
  private val Bands = 8

  test("trigram_shingles codegen expression is byte-identical to the composable fallback") {
    assert(spark.catalog.functionExists("trigram_shingles"))
    // real corpus + Unicode case-mapping / separator edge cases: İ lowers
    // to i + combining dot (run-splitting), ß and Σ lower outside [a-z0-9],
    // multibyte separators, digit runs, repeated trigrams (distinctness),
    // leading/trailing junk (trim), <3 words, empty
    val edge = Seq(
      (9001L, "İstanbul ŞEHİR Güzel Bir Yer"),
      (9002L, "GROSS ß STRASSE drei worte mehr"),
      (9003L, "ΣΟΦΟΣ σοφος test one two three"),
      (9004L, "a b c a b c a b c"),
      (9005L, "  --?! one9 two8 three7 four6 !!  "),
      (9006L, "one two"),
      (9007L, ""),
      (9008L, "点の between 漢字 words here also")).toDF("doc_id", "text")
    for (d <- Seq(docs, edge)) {
      val native = Dedup.shingleArrays(d).as[(Long, Seq[String])].collect().toMap
      val fallback = KernelTwins.shingleArraysFallback(d).as[(Long, Seq[String])].collect().toMap
      assert(native.nonEmpty && native === fallback)
    }
  }

  test("minhash_bands codegen expression is byte-identical to the composable fallback") {
    val shArr = Dedup.shingleArrays(docs)
    // the engine route: the minhash_bands kernel
    assert(spark.catalog.functionExists("minhash_bands"))
    val native = shArr.select(col("sid"), Dedup.minhashBandsCol(col("shs"), Bands).as("sigs"))
      .as[(Long, Seq[String])].collect().toMap
    val fallback = shArr.select(col("sid"), KernelTwins.minhashBandsFallback(col("shs"), Bands).as("sigs"))
      .as[(Long, Seq[String])].collect().toMap
    assert(native.nonEmpty && native === fallback)
  }

  test("minhash_bands agrees with the exploded aggregation formulation") {
    val viaExpr = Dedup.minhashSignatureRows(Dedup.shingleArrays(docs), Bands)
      .as[(Long, Int, String)].collect().toSet
    val viaAgg = Dedup.minhashSignatures(Dedup.shingles(docs), Bands)
      .select(col("sid"), col("band").cast("int"), col("sig"))
      .as[(Long, Int, String)].collect().toSet
    assert(viaExpr.nonEmpty && viaExpr === viaAgg)
  }

  test("minhash_bands: shingle-less docs (empty / <3 words) emit no signature rows") {
    val d = Seq((1L, ""), (2L, "one two"), (3L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val rows = Dedup.minhashSignatureRows(Dedup.shingleArrays(d), Bands)
    assert(rows.select("sid").distinct().as[Long].collect().toSet === Set(3L))
    assert(rows.count() === Bands.toLong)
  }

  test("substringOverlapPairs: verbatim copied spans pair; unrelated text does not") {
    val quote = "the quick brown fox jumps over the lazy dog while the cat watches from the warm windowsill nearby"
    val d = Seq(
      (1L, s"alpha beta gamma $quote delta epsilon zeta"),
      (2L, s"completely different preamble text here $quote and a different tail too"),
      (3L, "no shared content in this document at all just filler words repeated filler"),
      (4L, "tiny"), // shorter than the window -> no windows at all
    ).toDF("doc_id", "text")
    val got = Dedup.substringOverlapPairs(d, windowLen = 48, minShared = 2L)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.map(p => (p._1, p._2)) === Seq((1L, 2L)))
    assert(got.head._3 >= 2L) // several aligned windows inside the quote
    // jaccard-style token dedup at the p6 threshold would MISS this pair
    // (the quote is a minority of each doc) — the substring family exists
    // for exactly this case
    assert(Dedup.ngramJaccardPairs(d, 800).count() === 0L)
  }

  test("connectedComponents: transitive chains, cycles, disjoint components") {
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),          // chain: {1,2,3,4} -> 1
      (10L, 11L), (11L, 12L), (12L, 10L),    // cycle: {10,11,12} -> 10
      (20L, 21L),                            // pair
      (31L, 30L),                            // reversed edge: canonical still 30
    ).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L,
      30L -> 30L, 31L -> 30L))
  }

  test("connectedComponents: a 200-link chain converges inside default maxIters (pointer jumping)") {
    // plain one-hop propagation needs diameter rounds (200 > the default
    // 20) — the label-of-label jump makes it logarithmic. Forced down the
    // distributed loop (the public entry union-finds bounded Long graphs
    // on the driver since r16; the loop contract is pinned here).
    val chain = (0L until 200L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = Dedup.ccDistributed(chain).as[(Long, Long)].collect()
    assert(got.length === 201)
    assert(got.forall(_._2 === 0L))
  }

  test("connectedComponents fails loudly when maxIters is too small to converge") {
    // exiting at maxIters with unconverged labels would hand callers
    // per-segment (wrong) clusters with no signal (distributed-loop
    // contract — the driver fast path has no iteration cap to trip)
    val chain = (0L until 50L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val e = intercept[IllegalStateException] {
      Dedup.ccDistributed(chain, maxIters = 1)
    }
    assert(e.getMessage.contains("converge"))
  }

  test("connectedComponents: driver fast path and distributed loop are row-identical") {
    // the r16 public entry resolves bounded Long-id graphs driver-side;
    // both routes must produce the same (doc_id, min-id canonical) set
    // on chains, cycles, merges, and reversed edges
    val rnd = new scala.util.Random(4242)
    val edges = ((1 to 150).map { _ =>
      (rnd.nextInt(100).toLong, rnd.nextInt(100).toLong)
    }.filter(e => e._1 != e._2) ++ Seq((500L, 501L), (502L, 501L)))
    val pairs = edges.toDF("doc_a", "doc_b")
    val fast = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    val loop = Dedup.ccDistributed(pairs).as[(Long, Long)].collect().toMap
    assert(fast === loop)
  }

  test("connectedComponents handles non-numeric ids (typed null carry, not a long sentinel)") {
    // a numeric MaxValue _old sentinel coerces to the string
    // "9223372036854775807", which sorts BEFORE alphabetic labels and
    // falsely declared convergence after round 1 on string-id chains
    val pairs = Seq(("w", "x"), ("x", "y"), ("y", "z"), ("m", "n"))
      .toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs).as[(String, String)].collect().toMap
    assert(got === Map("w" -> "w", "x" -> "w", "y" -> "w", "z" -> "w",
      "m" -> "m", "n" -> "m"))
  }

  test("connectedComponents matches a union-find oracle on a random graph") {
    val rnd = new scala.util.Random(1313)
    // 120 vertices, 90 random edges -> mix of singleton-free components,
    // long chains, and merged clusters
    val edges = (1 to 90).map { _ =>
      (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong)
    }.filter(e => e._1 != e._2)
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val exp = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(v => v -> find(v)).toMap
    val got = Dedup.connectedComponents(edges.toDF("doc_a", "doc_b"))
      .as[(Long, Long)].collect().toMap
    assert(exp.nonEmpty && got === exp)
  }

  test("nearDupClusters covers every doc of every LSH pair exactly once") {
    val pairs = Dedup.minhashLsh(docs, Bands, 800)
      .as[(Long, Long, Long)].collect()
    val members = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val clusters = Dedup.nearDupClusters(docs, Bands, 800)
      .as[(Long, Long, Long)].collect()
    assert(clusters.map(_._1).distinct.length === clusters.length) // one row/doc
    assert(clusters.map(_._1).toSet === members.toSet)
    // canonical is the min of its cluster and cluster_sz counts its members
    val byCanon = clusters.groupBy(_._2)
    byCanon.foreach { case (canon, rows) =>
      assert(rows.map(_._1).min === canon)
      assert(rows.forall(_._3 === rows.length.toLong))
    }
  }

  test("anchor_window_hashes codegen kernel is identical to the composable fallback") {
    assert(spark.catalog.functionExists("anchor_window_hashes"))
    val edge = Seq(
      (9101L, "İstanbul ŞEHİR Güzel Bir Yer padding words to pass the window length"),
      (9102L, "  --?! leading junk then a long enough run of words to anchor on  "),
      (9103L, "short"),
      (9104L, ""),
      (9105L, "repeat me repeat me repeat me repeat me repeat me repeat me repeat me"),
      (9106L, "点の between 漢字 multibyte separators still leave long ascii word runs here"),
    ).toDF("doc_id", "text")
    for (src <- Seq(docs.select("doc_id", "text"), edge); w <- Seq(12, 48)) {
      val native = src.select(col("doc_id").as("sid"),
          call_function("anchor_window_hashes", col("text"), lit(w)).as("whs"))
        .select(col("sid"), explode(col("whs")).as("wh"))
        .as[(Long, String)].collect().toSet
      val fallback = KernelTwins.substringWindowHashesFallback(src, w)
        .as[(Long, String)].collect().toSet
      assert(native === fallback, s"window $w diverged")
      assert(src.limit(1).count() === 0 || native.nonEmpty || w > 40)
    }
  }

  test("anchor_window_pos_hashes codegen kernel is identical to the composable fallback") {
    assert(spark.catalog.functionExists("anchor_window_pos_hashes"))
    val edge = Seq(
      (9201L, "İstanbul ŞEHİR Güzel Bir Yer padding words to pass the window length"),
      (9202L, "  --?! leading junk then a long enough run of words to anchor on  "),
      (9203L, "short"),
      (9204L, ""),
      (9205L, "repeat me repeat me repeat me repeat me repeat me repeat me repeat me"),
      (9206L, "点の between 漢字 multibyte separators still leave long ascii word runs here"),
    ).toDF("doc_id", "text")
    for (src <- Seq(docs.select("doc_id", "text"), edge); w <- Seq(12, 48)) {
      val native = src.select(col("doc_id"),
          explode(call_function("anchor_window_pos_hashes", col("text"), lit(w))).as("_pw"))
        .select(col("doc_id"), col("_pw.pos"), col("_pw.wh"))
        .as[(Long, Int, String)].collect().toSet
      val fallback = KernelTwins.spanWindowPosFallback(
          src.withColumn("_norm", TextFunctions.normText(col("text"))), w, "doc_id")
        .as[(Long, Int, String)].collect().toSet
      assert(native === fallback, s"window $w diverged")
    }
  }

  test("keepBest keeps the best-quality doc per cluster, lowest id on ties, singletons pass through") {
    val docsQ = Seq((1L, 1), (2L, 3), (3L, 3), (10L, 2), (11L, 0))
      .toDF("doc_id", "quality")
    val clusters = Seq((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L))
      .toDF("doc_id", "canonical_id", "cluster_sz")
    val out = Dedup.keepBest(docsQ, clusters).orderBy("kept_id")
      .as[(Long, Int, Long)].collect().toSeq
    // cluster {1,2,3} qualities (1,3,3): doc 2 wins quality desc, id asc;
    // 10 and 11 are unclustered and pass through with cluster_sz 1
    assert(out === Seq((2L, 3, 3L), (10L, 2, 1L), (11L, 0, 1L)))
  }

  test("keepBest over real nearDupClusters emits exactly one survivor per cluster plus all singletons") {
    val clusters = Dedup.nearDupClusters(docs, Bands, 800)
    val q = docs.select(col("doc_id"), lit(1).as("quality"))
    val kept = Dedup.keepBest(q, clusters).as[(Long, Int, Long)].collect()
    val nClusters = clusters.select("canonical_id").distinct().count()
    val nClustered = clusters.count()
    val nDocs = docs.count()
    assert(kept.length === (nDocs - nClustered + nClusters))
    assert(kept.map(_._1).distinct.length === kept.length)
    // constant quality -> keeper is the cluster's min id = canonical_id
    val canons = clusters.select("canonical_id").distinct()
      .as[Long].collect().toSet
    assert(canons.subsetOf(kept.map(_._1).toSet))
  }

  test("dupNgramFraction: shared boilerplate scores, unique content 0, shingle-less (0,0)") {
    val d = Seq(
      (1L, "a b c d"), // shingles {a b c, b c d}
      (2L, "a b c d"), // identical -> every shingle shared -> 1000
      (3L, "p q r s"), // unique -> 0
      (4L, "xy"), // < 3 words -> no shingles -> (0, 0)
      (5L, "a b c x y z w") // 5 shingles, 1 shared ("a b c") -> 200
    ).toDF("doc_id", "text")
    val got = Dedup.dupNgramFraction(d).orderBy("doc_id")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got === Seq((1L, 2L, 1000L), (2L, 2L, 1000L), (3L, 2L, 0L),
      (4L, 0L, 0L), (5L, 5L, 200L)))
    // and on the real corpus, against a plain recomputation (no hints,
    // aggregation formulation) — formulations must agree row-for-row
    val sh = Dedup.shingles(docs)
    val df2 = sh.groupBy("sh").agg(count(lit(1)).as("c"))
    val expect = sh.join(df2, "sh").groupBy("sid")
      .agg(count(lit(1)).as("t"),
        floor(lit(1000.0) * sum(when(col("c") >= 2, 1L).otherwise(0L)) / count(lit(1)))
          .cast("long").as("m"))
    val expectAll = docs.select(col("doc_id")).join(
        expect.withColumnRenamed("sid", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("t"), lit(0L)), coalesce(col("m"), lit(0L)))
      .as[(Long, Long, Long)].collect().toSet
    val gotCorpus = Dedup.dupNgramFraction(docs)
      .as[(Long, Long, Long)].collect().toSet
    assert(gotCorpus === expectAll && gotCorpus.exists(_._3 > 0))
  }

  test("crossCorpusPairs == full-corpus LSH pairs that cross the split; index round-trips parquet") {
    val full = Dedup.minhashLsh(docs, Bands, 800)
      .as[(Long, Long, Long)].collect().toSet
    // expected: the full-corpus pair set restricted to pairs with exactly
    // one end in the increment, re-oriented (new_id first) — candidate
    // generation collides on the same (band, sig) criterion either way
    val expected = full.collect {
      case (a, b, j) if a % 4 == 0 ^ b % 4 == 0 =>
        if (a % 4 == 0) (a, b, j) else (b, a, j)
    }
    val dir = java.nio.file.Files.createTempDirectory("lsh_idx").toString
    Dedup.lshIndex(docs.where(pmod(col("doc_id"), lit(4)) =!= 0), Bands)
      .write.mode("overwrite").parquet(dir)
    val got = Dedup.crossCorpusPairs(
        docs.where(pmod(col("doc_id"), lit(4)) === 0),
        spark.read.parquet(dir), Bands, 800)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === expected)
    assert(got.nonEmpty, "fixture must contain cross-split near-dups")
  }

  test("held ccDistributed frames pin one label table each and free it once dropped") {
    // the round-7 finding: every connectedComponents call localCheckpoints
    // edges + one label table per round and never unpersisted any — ~8 CC
    // runs per bench session of permanently pinned blocks. The fix frees
    // intermediates inside the call; the returned table's blocks live as
    // long as the driver references the frame, and Spark's ContextCleaner
    // frees them once it does not. Assert on getPersistentRDDs (the only
    // view that sees checkpoint blocks — the CacheManager doesn't).
    def live(): Int = spark.sparkContext.getPersistentRDDs.size
    val baseline = storageBaseline()
    // r16: the public entry resolves bounded Long-id graphs driver-side
    // and must leave NOTHING pinned (edges checkpoint freed on exit, no
    // label table exists)
    (1 to 3).foreach { _ =>
      Dedup.nearDupClusters(docs, Bands, 800).count()
    }
    assert(live() === baseline,
      "the driver fast path must leave no checkpoint blocks pinned")
    // the distributed loop keeps one returned label table per held frame
    // (lineage truncated — freeing it would make the result
    // unrecomputable)
    val pairs = Dedup.minhashLsh(docs, Bands, 800).select("doc_a", "doc_b")
    var held = Seq.empty[org.apache.spark.sql.DataFrame]
    val perCall = new scala.collection.mutable.ArrayBuffer[Int]
    (1 to 3).foreach { _ =>
      held :+= Dedup.ccDistributed(pairs)
      held.last.count()
      perCall += live() - baseline
    }
    assert(perCall(0) >= 1, "expected the returned label table to stay pinned")
    assert(perCall.toSeq === Seq(perCall(0), 2 * perCall(0), 3 * perCall(0)),
      s"per-round intermediates leaked: persistent-RDD growth $perCall")
    held = Nil
    assert(storageAfterDrop(baseline) === baseline,
      "dropping the frames must return executor storage to baseline")
  }

  test("lineDedup drops cross-doc boilerplate lines, keeps blanks, repeats-in-one-doc and order") {
    val d = Seq(
      (1L, "COOKIE NOTICE\nunique alpha content\n\nfooter legal"),
      (2L, "COOKIE NOTICE\nunique beta content\nfooter legal"),
      (3L, "solo document only\n"), // trailing newline -> preserved blank line
      (4L, "COOKIE NOTICE"),        // fully boilerplate -> survives empty
      (5L, "dup line\ndup line"))   // repeated in ONE doc only -> kept (distinct-doc count = 1)
      .toDF("doc_id", "text")
    val got = Dedup.lineDedup(d).orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(got === Seq(
      (1L, 2L, 2L, "unique alpha content\n"),
      (2L, 1L, 2L, "unique beta content"),
      (3L, 2L, 0L, "solo document only\n"),
      (4L, 0L, 1L, ""),
      (5L, 2L, 0L, "dup line\ndup line")))
    // minDocs = 3: only the 3-doc COOKIE NOTICE line remains boilerplate
    val loose = Dedup.lineDedup(d, minDocs = 3).orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(loose.head === ((1L, 3L, 1L, "unique alpha content\n\nfooter legal")))
    assert(loose(3) === ((4L, 0L, 1L, "")))
  }

  test("line stats merge incrementally: increment rewrite == full-corpus rewrite (via parquet)") {
    val batch1 = Seq(
      (1L, "COOKIE NOTICE\nalpha content"),
      (2L, "COOKIE NOTICE\nbeta content\nrare footer")).toDF("doc_id", "text")
    val batch2 = Seq(
      (4L, "COOKIE NOTICE\ngamma content"),  // boilerplate known only from batch1
      (5L, "rare footer\ndelta content"),    // 1+1 across batches -> crosses minDocs
      (6L, "unique epsilon")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_linestats").toString
    Dedup.lineStats(batch1).write.mode("overwrite").parquet(dir)
    val merged = Dedup.mergeLineStats(spark.read.parquet(dir), Dedup.lineStats(batch2))
    val got = Dedup.lineDedupAgainst(batch2, merged).orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    val want = Dedup.lineDedup(batch1.unionByName(batch2))
      .where(col("doc_id") >= 4).orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(got === want)
    // the cross-batch 'rare footer' line (once per batch) must be caught
    assert(got.find(_._1 == 5L).get === ((5L, 1L, 1L, "delta content")))
  }

  test("verdict broadcast flag: shuffle-join path returns identical output (line + span)") {
    // the p19==p33 parity pattern: both join strategies, same rows — an
    // oversized verdict set can degrade to a shuffle join instead of
    // OOMing the driver, with semantics pinned equal here
    val d = Tables.documents(spark, sf()).limit(200)
      .withColumn("text", regexp_replace(col("text"), " ", "\n"))
    val hinted = Dedup.lineDedup(d).orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    val shuffled = Dedup.lineDedup(d, broadcastVerdicts = false).orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(hinted === shuffled && hinted.nonEmpty)
    val docs = Tables.documents(spark, sf()).limit(200)
    val spanH = Dedup.duplicateSpanScrub(docs, 48, 2L).orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    val spanS = Dedup.duplicateSpanScrub(docs, 48, 2L, broadcastVerdicts = false)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(spanH === spanS && spanH.nonEmpty)
  }

  test("duplicateSpanScrub matches a brute-force coverage oracle; planted copy excised") {
    val L = 10
    val fixture = Seq(
      (1L, "alpha beta THE COPIED QUOTE LIVES HERE omega tail words"),
      (2L, "different opening text THE COPIED QUOTE LIVES HERE closing"),
      (3L, "entirely unique document content with no shared spans at all"),
      (4L, "short doc"), // shorter than a window -> untouched
      (5L, ""))
    val got = Dedup.duplicateSpanScrub(fixture.toDF("doc_id", "text"), L, 2L)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    // brute force: same anchor geometry in plain Scala
    def norm(t: String) = t.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim
    def anchors(n: String) =
      (1 to n.length - L + 1).filter(i => i == 1 || n(i - 2) == ' ')
    val wins = fixture.map { case (id, t) =>
      val n = norm(t)
      id -> anchors(n).map(i => i -> n.substring(i - 1, i - 1 + L))
    }.toMap
    val badSet = wins.toSeq.flatMap { case (id, ws) => ws.map(_._2).distinct.map(id -> _) }
      .groupBy(_._2).collect { case (w, owners) if owners.map(_._1).distinct.size >= 2 => w }
      .toSet
    assert(badSet.nonEmpty) // the planted quote really produces verdicts
    val md = java.security.MessageDigest.getInstance("MD5")
    val want = fixture.map { case (id, t) =>
      val n = norm(t)
      val starts = wins(id).collect { case (i, w) if badSet(w) => i }
      val kept = (1 to n.length).filterNot(i => starts.exists(s => i >= s && i < s + L))
      val scrubbed = kept.map(i => n(i - 1)).mkString
      (id, (n.length - kept.size).toLong, kept.size.toLong,
        md.digest(scrubbed.getBytes("UTF-8")).map("%02x".format(_)).mkString)
    }
    assert(got === want)
    // the copied span is actually excised from both carriers
    assert(got.take(2).forall(_._2 >= L))
    // untouched docs keep everything
    assert(got.drop(2).forall(_._2 == 0L))
    // corpus run: one row per doc, planted near-dups produce real coverage
    val corpus = Dedup.duplicateSpanScrub(docs, 48, 2L)
    assert(corpus.count() === docs.count())
    assert(corpus.where(col("covered_chars") > 0).count() > 0)
  }

  test("minhash components are byte-identical to the independent per-function min-md5s") {
    // the production column SLICES the band signatures; this pins it
    // against the explicit formulation (one min(md5("b.r|"||sh)) per
    // hash function — what the p54 DuckDB oracle computes)
    val independent = {
      val comps = for (b <- 0 until Bands; r <- 0 until Dedup.RowsPerBand)
        yield array_min(transform(col("shs"), s => md5(concat(lit(s"$b.$r|"), s))))
      when(size(col("shs")) > 0, array(comps: _*))
        .otherwise(array().cast("array<string>"))
    }
    val bad = Dedup.shingleArrays(docs.limit(40))
      .select(col("sid"),
        Dedup.mhComponentsCol(col("shs"), Bands, spark).as("sliced"),
        independent.as("explicit"))
      .where(not(col("sliced") === col("explicit")))
    assert(bad.count() === 0, "sliced components must equal the explicit min-md5s")
  }

  test("signature-only Jaccard estimate: identical docs score 1000, output is candidate-bounded") {
    // pin the copied row by id: limit(1) without an order is not
    // guaranteed stable across two separate plans
    val src = docs.orderBy("doc_id").limit(1)
    val srcId = src.select("doc_id").as[Long].head()
    val planted = docs.orderBy("doc_id").limit(30).unionByName(
      src.select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
        col("lang"), col("source"), col("n_chars")))
    val est = Dedup.minhashJaccardEstimate(planted, Bands, 500)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val dup = est.filter(_._2 == srcId + 1000000L)
    assert(dup.exists(p => p._3 === 1000L && p._4 === 1000L),
      s"planted identical pair must estimate and verify at 1000: ${dup.toSeq}")
    val cands = Dedup.lshCandidatePairs(Dedup.minhashSignatureRows(
      Dedup.shingleArrays(planted), Bands)).as[(Long, Long)].collect().toSet
    est.foreach(p => assert(cands.contains((p._1, p._2)),
      s"estimated pair (${p._1},${p._2}) is not an LSH candidate"))
  }

  /** The pre-r12 unpruned estimator twin (corpus-wide component arrays
    * on both verify sides) — the reference formulation the
    * candidate-pruned production path must match row-for-row. */
  private def unprunedEstimate(
      d: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long)] = {
    val shArr = Dedup.shingleArrays(d)
    val cands = Dedup.lshCandidatePairs(Dedup.minhashSignatureRows(shArr, Bands))
    val comp = shArr.select(col("sid"),
      Dedup.mhComponentsCol(col("shs"), Bands, spark).as("mhs"), col("shs"))
    val a = comp.select(col("sid").as("doc_a"), col("mhs").as("mhs_a"),
      col("shs").as("shs_a"))
    val b = comp.select(col("sid").as("doc_b"), col("mhs").as("mhs_b"),
      col("shs").as("shs_b"))
    cands.join(a, "doc_a").join(b, "doc_b")
      .withColumn("_m", aggregate(
        zip_with(col("mhs_a"), col("mhs_b"),
          (x, y) => when(x === y, 1L).otherwise(0L)),
        lit(0L), (acc, v) => acc + v))
      .withColumn("est_milli", expr(s"(_m * 1000) div ${Bands * Dedup.RowsPerBand}"))
      .where(col("est_milli") >= 500)
      .withColumn("_i",
        size(array_intersect(col("shs_a"), col("shs_b"))).cast("long"))
      .withColumn("jacc_milli",
        floor(lit(1000.0) * col("_i") /
          (size(col("shs_a")) + size(col("shs_b")) - col("_i"))).cast("long"))
      .select(col("doc_a"), col("doc_b"), col("est_milli"), col("jacc_milli"))
      .as[(Long, Long, Long, Long)].collect().toSet
  }

  test("candidate-pruned estimator matches the unpruned formulation row-for-row") {
    // the production minhashJaccardEstimate semi-joins each verify side
    // to its candidate id set BEFORE the shingle/component kernels run;
    // this pins it against the pre-r12 unpruned twin — inner joins on
    // the candidate set make the prune output-invisible by construction,
    // and this test keeps it that way
    val pruned = Dedup.minhashJaccardEstimate(docs, Bands, 500)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(pruned.nonEmpty && pruned === unprunedEstimate(docs))
  }

  test("estimator parity holds on generated corpora with planted dups and edge texts") {
    // beyond the fixture corpus: small-vocab generated docs (so shingles
    // genuinely collide), planted exact dups and one-word-appended
    // near-dups (so the candidate set is non-trivial), plus the
    // shingle-less edge classes (empty, <3 words, unicode)
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta")
    val sentence = Gen.choose(3, 10)
      .flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    (1 to 3).foreach { corpus =>
      val base = Gen.listOfN(8, sentence)
        .pureApply(Gen.Parameters.default.withSize(20), Seed(corpus.toLong))
      val rows = base.zipWithIndex.flatMap { case (t, i) =>
        val id = corpus * 1000L + i * 10L
        Seq((id, t),                       // original
          (id + 1L, t),                    // planted exact dup
          (id + 2L, s"$t omega"))          // near-dup
      } ++ Seq((corpus * 1000L + 900L, ""), // shingle-less edges
        (corpus * 1000L + 901L, "one two"),
        (corpus * 1000L + 902L, "é ü 漢字 点の between words here"))
      val d = rows.toDF("doc_id", "text")
      val pruned = Dedup.minhashJaccardEstimate(d, Bands, 500)
        .as[(Long, Long, Long, Long)].collect().toSet
      val ref = unprunedEstimate(d)
      assert(pruned === ref, s"corpus $corpus diverged")
      assert(pruned.exists(p => p._3 == 1000L),
        s"corpus $corpus must surface a planted exact dup at est 1000")
    }
  }

  test("operators leave no CacheManager entries behind (no-leak contract)") {
    spark.sharedState.cacheManager.clearCache()
    Dedup.ngramJaccardPairs(docs, 800).count()
    Dedup.minhashLsh(docs, Bands, 800).count()
    val embs = Tables.embeddings(spark, sf())
    Similarity.lshKnn(embs, col("vec_id") < 20, 3).count()
    SequenceGaps.detect(docs.select(col("doc_id")), "doc_id").count()
    // IvfIndex.train persists internally but must unpersist in finally
    IvfIndex.train(embs, k = 4, iters = 1)
    assert(spark.sharedState.cacheManager.isEmpty,
      "a library operator left a persisted plan in the CacheManager")
  }
}
