package graft.functions

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** [[TextFunctions.bpeTrain]] — the full BPE merge loop: hand-computed
  * merge sequence (weighted overlap counting, greedy left-to-right
  * rewrite, deterministic ties), early exhaustion, first-merge
  * consistency with [[TextFunctions.bpePairStats]], kernel-vs-twin
  * rewrite parity, and the non-increasing-frequency invariant on the
  * real corpus. */
class BpeTrainSpec extends SparkSpec {
  import spark.implicits._

  private def docsOf(texts: String*) =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")

  test("hand fixture: merge sequence, weighted counts, and early exhaustion") {
    // vocab: aaab x2, ab x1
    //   iter1: (a,a) weighted 2x2=4 beats (a,b) 2+1=3  -> aaab=[aa,a,b]
    //   iter2: (a,b) 2+1=3 beats (aa,a) 2              -> aaab=[aa,ab]
    //   iter3: (aa,ab) 2                                -> aaab=[aaab]
    //   iter4: no pair remains — stops at 3 rows despite merges=10
    val got = TextFunctions.bpeTrain(docsOf("aaab aaab ab"), merges = 10)
      .orderBy("rank")
      .select("rank", "left", "right", "merged", "freq")
      .as[(Int, String, String, String, Long)].collect().toSeq
    assert(got === Seq(
      (1, "a", "a", "aa", 4L),
      (2, "a", "b", "ab", 3L),
      (3, "aa", "ab", "aaab", 2L)))
  }

  test("ties break (count desc, left asc, right asc); first merge equals bpePairStats top-1") {
    val tied = TextFunctions.bpeTrain(docsOf("ab cd ab cd"), merges = 2)
      .orderBy("rank").select("left", "right").as[(String, String)]
      .collect().toSeq
    assert(tied === Seq(("a", "b"), ("c", "d")))

    val corpus = docsOf("aaab aaab ab", "banana bandana")
    val first = TextFunctions.bpeTrain(corpus, merges = 1)
      .select("merged").as[String].head()
    val p55Top = TextFunctions.bpePairStats(corpus, 1)
      .select("pair").as[String].head()
    assert(first === p55Top)
  }

  test("merge rewrite: kernel and composable twin are row-identical, greedy non-overlapping") {
    val syms = Seq(
      Seq("a", "a", "a"),          // overlap: -> [aa, a], never [a, aa]
      Seq("a", "a", "a", "a"),     // -> [aa, aa]
      Seq("a", "b", "a", "a"),     // -> [a, b, aa]
      Seq("b", "a", "a", "b"),     // -> [b, aa, b]
      Seq("x"), Seq.empty[String]) // degenerate
      .toDF("syms")
    val both = syms.select(
        call_function("bpe_merge", col("syms"), lit("a"), lit("a")).as("k"),
        KernelTwins.bpeMergeTwin(col("syms"), "a", "a").as("t"))
      .as[(Seq[String], Seq[String])].collect()
    val expect = Seq(Seq("aa", "a"), Seq("aa", "aa"), Seq("a", "b", "aa"),
      Seq("b", "aa", "b"), Seq("x"), Seq.empty[String])
    assert(both.map(_._1).toSeq === expect)
    assert(both.map(_._2).toSeq === expect)
    // a merge never changes the concatenation (symbols re-join to the word)
    val joined = syms.select(
        concat_ws("", col("syms")).as("w"),
        concat_ws("", call_function("bpe_merge", col("syms"),
          lit("a"), lit("a"))).as("m"))
      .as[(String, String)].collect()
    joined.foreach { case (w, m) => assert(w === m) }
  }

  test("bpeSegment: trained merges replay per word type; tokens reassemble exactly") {
    val corpus = docsOf("aaab aaab ab", "ab ba")
    // stop at 3: rank 4 would merge the tail pair (b,a) too
    val merges = TextFunctions.bpeTrain(corpus, merges = 3)
    val seg = TextFunctions.bpeSegment(corpus, merges)
      .orderBy("doc_id", "word_idx", "sym_idx")
      .select("doc_id", "word_idx", "token")
      .as[(Long, Int, String)].collect().toSeq
    // trained merges: (a,a), (a,b), (aa,ab) — so aaab=[aaab], ab=[ab],
    // ba stays [b,a] (its pair was cut off by merges=3): two tokens at
    // word_idx 1, sym order preserved
    assert(seg === Seq(
      (0L, 0, "aaab"), (0L, 1, "aaab"), (0L, 2, "ab"),
      (1L, 0, "ab"), (1L, 1, "b"), (1L, 1, "a")))

    // reassembly invariant on the real corpus: per (doc, word) the
    // emitted tokens concatenate back to the word, in order
    val docs = Tables.documents(spark, sf()).select("doc_id", "text").limit(50)
    val trained = TextFunctions.bpeTrain(docs, merges = 8)
    val rows = TextFunctions.bpeSegment(docs, trained)
    val rejoined = rows
      .groupBy(col("doc_id"), col("word_idx"))
      .agg(concat_ws("", array_sort(collect_list(
        struct(col("sym_idx"), col("token")))).getField("token")).as("w"))
    val original = docs.select(col("doc_id"),
        posexplode(TextFunctions.words(TextFunctions.normText(col("text"))))
          .as(Seq("word_idx", "word")))
    val mismatches = rejoined.join(original, Seq("doc_id", "word_idx"))
      .where(col("w") =!= col("word")).count()
    assert(mismatches === 0L)
  }

  test("real corpus: K ranked merges, frequencies non-increasing, symbols grow") {
    val merges = TextFunctions.bpeTrain(
        Tables.documents(spark, sf()).select("doc_id", "text"), merges = 15)
      .orderBy("rank")
      .select("rank", "merged", "freq").as[(Int, String, Long)].collect()
    assert(merges.length === 15)
    assert(merges.map(_._1).toSeq === (1 to 15))
    // argmax each step: every pair a merge creates or keeps occurs within
    // or beside an occurrence of the merged pair, so the chosen maxima
    // can only fall
    merges.map(_._3).sliding(2).foreach { case Array(a, b) =>
      assert(a >= b, s"merge freqs increased: $a -> $b")
    }
    // later merges build on earlier ones: some merged symbol is >2 chars
    assert(merges.exists(_._2.length > 2))
  }
}
