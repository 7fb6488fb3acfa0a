package graft.streaming

import graft.SparkSpec
import graft.functions.Dedup
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Streaming LSH candidates must cover exactly the pair set the batch
  * inverted index produces on the same corpus (modulo per-band
  * re-emission, which the batch twin's distinct() collapses). */
class StreamDedupSpec extends SparkSpec {
  import spark.implicits._

  private val Bands = 8

  /** Corpus with planted near-dups: pairs of docs sharing most trigrams. */
  private lazy val corpus: Seq[(Long, String)] = {
    val rnd = new scala.util.Random(5)
    val vocab = Seq("spark", "scala", "stream", "batch", "join", "window",
      "shuffle", "hash", "sort", "scan", "agg", "filter")
    def doc(): String = Seq.fill(30)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    (1L to 40L).flatMap { i =>
      val base = doc()
      if (i % 4 == 0)
        // planted near-dup: one word changed
        Seq((i * 10, base), (i * 10 + 1, base.replaceFirst("spark", "flink")))
      else Seq((i * 10, base))
    }
  }

  test("streaming candidates == batch inverted-index candidates (set parity)") {
    parityRun("sd_pairs")
  }

  private def parityRun(name: String): Unit = {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val src = in.toDF().toDF("doc_id", "text")
    val q = StreamDedup.lshCandidates(src, Bands)
      .toDF().writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).trigger(Trigger.ProcessingTime(0)).start()
    try {
      // feed in 3 chunks — near-dup partners land in DIFFERENT batches
      corpus.grouped((corpus.size + 2) / 3).foreach { chunk =>
        in.addData(chunk: _*)
        q.processAllAvailable()
      }
      val got = spark.table(name).distinct()
        .as[(Long, Long)].collect().toSet
      val want = Dedup.lshCandidatePairs(
          Dedup.minhashSignatureRows(
            Dedup.shingleArrays(corpus.toDF("doc_id", "text")), Bands))
        .as[(Long, Long)].collect().toSet
      assert(want.nonEmpty, "fixture must plant at least one candidate pair")
      assert(got === want)
      got.foreach { case (a, b) => assert(a < b) }
    } finally q.stop()
  }

  test("re-sending a seen document creates no new pairs (idempotent membership)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val src = in.toDF().toDF("doc_id", "text")
    val q = StreamDedup.lshCandidates(src, Bands)
      .toDF().writeStream.format("memory").queryName("sd_idem")
      .outputMode(OutputMode.Append()).trigger(Trigger.ProcessingTime(0)).start()
    try {
      val d = (1L, "alpha beta gamma delta epsilon zeta eta theta")
      val e = (2L, "alpha beta gamma delta epsilon zeta eta iota")
      in.addData(d, e)
      q.processAllAvailable()
      val n1 = spark.table("sd_idem").count()
      assert(n1 > 0) // near-identical docs collide in some band
      in.addData(d) // replay of an already-seen doc (at-least-once source)
      q.processAllAvailable()
      assert(spark.table("sd_idem").count() === n1)
    } finally q.stop()
  }
}
