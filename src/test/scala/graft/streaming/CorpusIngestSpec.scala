package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The dedup-on-ingest loop: intra-batch keep-lowest-id, cross-corpus
  * rejection against the persisted index, index growth across batches,
  * and replay idempotence (the exactly-once admission contract). */
class CorpusIngestSpec extends SparkSpec {
  import spark.implicits._

  private val Bands = 8
  private val Thresh = 800

  // each tag gets a DISTINCT long body (repeating the tag through the
  // sentence keeps cross-tag trigram overlap near zero), while an
  // edited copy of the same tag stays >= 0.8 trigram Jaccard
  private def body(tag: String) =
    s"the $tag story begins when $tag sailors leave the $tag harbor " +
      s"carrying $tag charts and $tag rations toward the $tag strait " +
      s"hoping the $tag winds hold until the $tag lighthouse appears"

  private def edited(tag: String) = body(tag) + " slowly"

  private def mkDocs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("ingest loop: intra-batch dedup, cross-corpus rejection, index growth, replay idempotence") {
    val dir = java.nio.file.Files.createTempDirectory("corpus_ingest").toString
    val h = CorpusIngest.handler(dir, Bands, Thresh)

    // seed corpus: docs 1, 2
    CorpusIngest.seed(mkDocs(1L -> body("alpha"), 2L -> body("beta")), dir, Bands)

    // batch 0: 10 fresh-gamma, 11 edited copy of seed doc 1 (cross reject),
    // 12 fresh-delta, 13 edited copy of 12 (intra reject, larger id)
    h(mkDocs(10L -> body("gamma"), 11L -> edited("alpha"),
      12L -> body("delta"), 13L -> edited("delta")), 0L)
    val after0 = CorpusIngest.corpus(spark, dir)
      .select("doc_id").as[Long].collect().toSet
    assert(after0 === Set(1L, 2L, 10L, 12L))

    // batch 1: 20 edited copy of 10 — rejected ONLY if batch 0 grew the
    // index; 21 fresh-epsilon accepted
    h(mkDocs(20L -> edited("gamma"), 21L -> body("epsilon")), 1L)
    val after1 = CorpusIngest.corpus(spark, dir)
      .select("doc_id").as[Long].collect().toSet
    assert(after1 === Set(1L, 2L, 10L, 12L, 21L))

    // replay of batch 0 (crash-before-checkpoint): its own index dir
    // already exists and MUST be invisible to the probe, or every doc
    // would reject against itself; decisions and corpus are unchanged
    h(mkDocs(10L -> body("gamma"), 11L -> edited("alpha"),
      12L -> body("delta"), 13L -> edited("delta")), 0L)
    val afterReplay = CorpusIngest.corpus(spark, dir)
      .select("doc_id").as[Long].collect().toSet
    assert(afterReplay === after1)
  }

  test("ingest batch epilogue: a handler round retains no registered checkpoint blocks") {
    // the r16 verdict's storage-hygiene pin: a long-lived ingest session
    // must return executor storage to baseline after every batch — the
    // handler unpersists its own batch caches, and nothing it persists
    // stays referenced once the batch is done
    val baseline = storageBaseline()
    val dir = java.nio.file.Files.createTempDirectory("corpus_ledger").toString
    val h = CorpusIngest.handler(dir, Bands, Thresh)
    CorpusIngest.seed(mkDocs(1L -> body("alpha")), dir, Bands)
    h(mkDocs(10L -> body("gamma"), 11L -> edited("gamma")), 0L)
    assert(storageAfterDrop(baseline) === baseline,
      "an ingest batch must leave no persisted RDDs behind")
  }

  test("compact folds batch dirs into seed: same corpus, same admission decisions after") {
    val dir = java.nio.file.Files.createTempDirectory("corpus_compact").toString
    val h = CorpusIngest.handler(dir, Bands, Thresh)
    CorpusIngest.seed(mkDocs(1L -> body("alpha")), dir, Bands)
    h(mkDocs(10L -> body("gamma")), 0L)
    h(mkDocs(11L -> body("delta")), 1L)
    val before = CorpusIngest.corpus(spark, dir)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq

    CorpusIngest.compact(spark, dir)
    // one docs dir and one index dir remain, both named seed
    def subdirs(sub: String) = new java.io.File(s"$dir/$sub").listFiles()
      .filter(_.isDirectory).map(_.getName).toSeq
    assert(subdirs("docs") === Seq("seed") && subdirs("index") === Seq("seed"))
    val after = CorpusIngest.corpus(spark, dir)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(after === before)

    // admission against the compacted index is unchanged: a near-dup of a
    // pre-compaction doc still rejects, a fresh doc still lands
    h(mkDocs(20L -> edited("gamma"), 21L -> body("epsilon")), 2L)
    val ids = CorpusIngest.corpus(spark, dir)
      .select("doc_id").as[Long].collect().toSet
    assert(ids === Set(1L, 10L, 11L, 21L))
  }

  test("streaming wiring: MemoryStream micro-batches drive the same loop") {
    val dir = java.nio.file.Files.createTempDirectory("corpus_ingest_stream").toString
    val ckpt = java.nio.file.Files.createTempDirectory("corpus_ingest_ckpt").toString
    CorpusIngest.seed(mkDocs(1L -> body("alpha")), dir, Bands)

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val q = CorpusIngest.start(
      in.toDF().toDF("doc_id", "text"), dir, ckpt, Bands, Thresh).start()
    try {
      in.addData(30L -> body("zeta"), 31L -> edited("alpha"))
      q.processAllAvailable()
      in.addData(40L -> edited("zeta"), 41L -> body("eta"))
      q.processAllAvailable()
    } finally q.stop()

    val ids = CorpusIngest.corpus(spark, dir)
      .select("doc_id").as[Long].collect().toSet
    // 31 near-dups the seed; 40 near-dups 30 accepted one batch earlier
    assert(ids === Set(1L, 30L, 41L))
  }
}
