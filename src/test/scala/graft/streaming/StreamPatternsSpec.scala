package graft.streaming

import graft.SparkSpec
import graft.operators.Patterns
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Streaming CEP operators must emit, once the watermark has passed,
  * exactly what their batch twins compute on the same data — asserted on
  * a deterministic pseudo-random event log fed through a MemoryStream in
  * chronological chunks (shuffled WITHIN each chunk: out-of-order inside
  * a micro-batch is the common real-world arrival pattern). */
class StreamPatternsSpec extends SparkSpec {
  import spark.implicits._

  private val WithinUs = 50_000_000L   // 50 s
  private val WindowUs = 100_000_000L  // 100 s
  private val GapUs = 30_000_000L      // 30 s
  private val SentinelKey = 99L

  // (key, tsUs, id, typ): 5 keys, 300 events over ~1000 s, 4 types
  private lazy val eventData: Seq[(Long, Long, Long, String)] = {
    val rnd = new scala.util.Random(42)
    val types = Seq("signup", "purchase", "error", "noise")
    (1L to 300L).map { id =>
      (1L + rnd.nextInt(5), rnd.nextInt(1000000) * 1000L, id, types(rnd.nextInt(4)))
    }
  }

  private def staticDf: DataFrame =
    eventData.toDF("k", "ts_us", "id", "typ")

  /** Feed the event log in 3 chronological chunks (shuffled within each),
    * then sentinels to push the watermark past every horizon; collect the
    * streaming result (sentinel key filtered out). */
  private def runStream(build: DataFrame => DataFrame, name: String): Set[Seq[Any]] =
    runStreamRows(build, name).toSet

  /** Row-level variant (multiset, NOT deduplicated): double-emission bugs
    * produce duplicate rows that a Set comparison would silently collapse. */
  private def runStreamRows(build: DataFrame => DataFrame, name: String): Seq[Seq[Any]] = {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, Long, String)]
    val src = in.toDF().toDF("k", "ts_us", "id", "typ")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val q = build(src).writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).trigger(Trigger.ProcessingTime(0)).start()
    try {
      val sorted = eventData.sortBy(t => (t._2, t._3))
      val rnd = new scala.util.Random(7)
      val maxTs = eventData.map(_._2).max
      sorted.grouped((sorted.size + 2) / 3).zipWithIndex.foreach { case (chunk, i) =>
        in.addData(rnd.shuffle(chunk): _*)
        q.processAllAvailable()
      }
      // two sentinel steps: the first advances the watermark past every
      // pending finalization, the second drains timer-only batches
      in.addData((SentinelKey, maxTs + 10 * WindowUs, 9998L, "noise"))
      q.processAllAvailable()
      in.addData((SentinelKey, maxTs + 20 * WindowUs, 9999L, "noise"))
      q.processAllAvailable()
      spark.table(name).where(col("key") =!= SentinelKey)
        .collect().map(_.toSeq).toSeq
    } finally q.stop()
  }

  test("followedBy parity with batch operator") {
    val got = runStream(src => StreamPatterns.followedBy(
      src, "k", "ts", "id", "typ", "signup", "purchase", WithinUs, "0 seconds").toDF(), "sp_seq")
    val want = Patterns.followedBy(staticDf, "k", "ts_us", "id", "typ",
      "signup", "purchase", WithinUs).collect().map(_.toSeq).toSet
    assert(want.nonEmpty && got === want)
  }

  test("stateful twins run on the RocksDB state store (session default)") {
    // the session wires RocksDBStateStoreProvider (GraftSession) so state
    // scales with executor disk, not heap — every parity test in this
    // suite therefore already exercises the twins under RocksDB; this one
    // pins that the provider is actually engaged, not silently defaulted
    assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
      .contains("RocksDBStateStoreProvider"))
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, Long, String)]
    val src = in.toDF().toDF("k", "ts_us", "id", "typ")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val q = StreamPatterns.followedBy(src, "k", "ts", "id", "typ",
        "signup", "purchase", WithinUs, "0 seconds").toDF()
      .writeStream.format("memory").queryName("sp_rocksdb")
      .outputMode(OutputMode.Append()).trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData((1L, 1000L, 1L, "signup"), (1L, 2000L, 2L, "purchase"))
      q.processAllAvailable()
      val metrics = q.lastProgress.stateOperators.toSeq
        .flatMap(_.customMetrics.keySet.toArray.map(_.toString))
      assert(metrics.exists(_.toLowerCase.contains("rocksdb")), metrics.mkString(", "))
    } finally q.stop()
  }

  test("the removed engine conf fails fast at operator build; unset or fmgws still works") {
    val conf = "spark.graft.patterns.engine"
    val events = staticDf.withColumn("ts", timestamp_micros(col("ts_us")))
    val docs = Seq((1L, "a b c d"), (2L, "a b c e")).toDF("doc_id", "text")
    val builds: Seq[() => Any] = Seq(
      () => StreamPatterns.followedBy(events, "k", "ts", "id", "typ",
        "signup", "purchase", WithinUs, "0 seconds"),
      () => StreamAsOf.asOf(events, events.withColumn("sv", col("typ")),
        "k", "ts", "id", Seq("sv"), "0 seconds"),
      () => StreamDedup.lshCandidates(docs, 4))
    spark.conf.set(conf, "tws")
    try builds.foreach { build =>
      val e = intercept[IllegalArgumentException](build())
      assert(e.getMessage.contains(conf) && e.getMessage.contains("checkpointLocation"),
        e.getMessage)
    } finally spark.conf.unset(conf)
    builds.foreach(_())
    spark.conf.set(conf, "fmgws")
    try builds.foreach(_())
    finally spark.conf.unset(conf)
  }

  test("absence parity with batch operator") {
    val got = runStream(src => StreamPatterns.absence(
      src, "k", "ts", "id", "typ", "signup", "purchase", WithinUs, "0 seconds").toDF(), "sp_abs")
    val want = Patterns.absence(staticDf, "k", "ts_us", "id", "typ",
      "signup", "purchase", WithinUs).collect().map(_.toSeq).toSet
    assert(want.nonEmpty && got === want)
  }

  test("burst parity with batch operator") {
    val got = runStream(src => StreamPatterns.burst(
      src, "k", "ts", "id", "typ", "error", WindowUs, 3L, "0 seconds").toDF(), "sp_burst")
    val want = Patterns.burst(staticDf, "k", "ts_us", "id", "typ",
      "error", WindowUs, 3L).collect().map(_.toSeq).toSet
    assert(want.nonEmpty && got === want)
  }

  test("sessionize parity with batch operator") {
    val got = runStream(src => StreamPatterns.sessionize(
      src, "k", "ts", GapUs, "0 seconds").toDF(), "sp_sess")
    val want = Patterns.sessionize(staticDf, "k", "ts_us", GapUs)
      .collect().map(_.toSeq).toSet
    assert(want.nonEmpty && got === want)
  }

  test("conjunction parity with batch operator") {
    val got = runStream(src => StreamPatterns.conjunction(
      src, "k", "ts", "id", "typ", "signup", "purchase", WithinUs, "0 seconds").toDF(), "sp_and")
    val want = Patterns.conjunction(staticDf, "k", "ts_us", "id", "typ",
      "signup", "purchase", WithinUs).collect().map(_.toSeq).toSet
    assert(want.nonEmpty && got === want)
  }

  test("countSequence parity with batch operator (multiset)") {
    val got = runStreamRows(src => StreamPatterns.countSequence(
      src, "k", "ts", "id", "typ", "error", "purchase", WindowUs, 2L, "0 seconds").toDF(),
      "sp_cseq")
    val want = Patterns.countSequence(staticDf, "k", "ts_us", "id", "typ",
      "error", "purchase", WindowUs, 2L).collect().map(_.toSeq).toSeq
    def multiset(rows: Seq[Seq[Any]]) = rows.groupBy(identity).view.mapValues(_.size).toMap
    assert(want.nonEmpty && multiset(got) === multiset(want))
  }

  test("chain parity with batch operator") {
    val got = runStream(src => StreamPatterns.chain(
      src, "k", "ts", "id", "typ", "signup", "error", "purchase", WindowUs,
      "0 seconds").toDF(), "sp_chain")
    val want = Patterns.chain(staticDf, "k", "ts_us", "id", "typ",
      "signup", "error", "purchase", WindowUs).collect().map(_.toSeq).toSet
    assert(want.nonEmpty && got === want)
  }

  test("guardedFollowedBy parity with batch operator") {
    // deterministic value derived from id on BOTH sides (the shared
    // fixture carries no value column)
    val valued = (df: DataFrame) => df.withColumn("value", (col("id") * 37) % 100)
    val got = runStream(src => StreamPatterns.guardedFollowedBy(
      valued(src), "k", "ts", "id", "typ", "value", "signup", "purchase",
      WithinUs, (av, bv) => bv > av, "0 seconds").toDF(), "sp_guard")
    val want = Patterns.guardedFollowedBy(valued(staticDf), "k", "ts_us", "id",
        "typ", "value", "signup", "purchase", WithinUs, (av, bv) => bv > av)
      .collect().map(_.toSeq).toSet
    assert(want.nonEmpty && got === want)
  }

  test("lengthWindow parity with batch operator (n-bounded state, time-free context)") {
    val valued = (df: DataFrame) => df.withColumn("value", (col("id") * 13 % 100) / lit(10.0))
    val got = runStream(src => StreamPatterns.lengthWindow(
      valued(src), "k", "ts", "id", "value", 5, "0 seconds",
      onlyType = ("typ", "purchase")).toDF(), "sp_lenwin")
    val want = Patterns.lengthWindow(
      valued(staticDf).where(col("typ") === "purchase"),
      "k", "ts_us", "id", "value", 5)
      .collect().map(_.toSeq).toSet
    assert(want.nonEmpty && got === want)
  }

  test("timeLengthWindow parity with batch operator (doubly-bounded window)") {
    val valued = (df: DataFrame) => df.withColumn("value", (col("id") * 13 % 100) / lit(10.0))
    val want = Patterns.timeLengthWindow(
      valued(staticDf).where(col("typ") === "purchase"),
      "k", "ts_us", "id", "value", WindowUs, 5)
      .collect().map(_.toSeq).toSet
    val got = runStream(src => StreamPatterns.timeLengthWindow(
        valued(src), "k", "ts", "id", "value", WindowUs, 5, "0 seconds",
        onlyType = ("typ", "purchase")).toDF(), "sp_tlwin")
    assert(want.nonEmpty && got === want)
  }

  test("lengthBatch parity with batch operator (tumbling count window, partial batch withheld)") {
    val valued = (df: DataFrame) => df.withColumn("value", (col("id") * 13 % 100) / lit(10.0))
    val got = runStream(src => StreamPatterns.lengthBatch(
      valued(src), "k", "ts", "id", "value", 5, "0 seconds",
      onlyType = ("typ", "purchase")).toDF(), "sp_lenbatch")
    val want = Patterns.lengthBatch(
      valued(staticDf).where(col("typ") === "purchase"),
      "k", "ts_us", "id", "value", 5)
      .collect().map(_.toSeq).toSet
    assert(want.nonEmpty && got === want)
  }

  test("outputFirstEvery parity with batch operator (rate-limit throttle)") {
    val got = runStream(src => StreamPatterns.outputFirstEvery(
      src, "k", "ts", "id", WindowUs, "0 seconds",
      onlyType = ("typ", "error")).toDF(), "sp_first")
    val want = Patterns.outputFirstEvery(
      staticDf.where(col("typ") === "error"), "k", "ts_us", "id", WindowUs)
      .collect().map(_.toSeq).toSet
    assert(want.nonEmpty && got === want)
  }

  test("outputLastEvery parity with batch operator (trailing-edge throttle)") {
    val got = runStream(src => StreamPatterns.outputLastEvery(
      src, "k", "ts", "id", WindowUs, "0 seconds",
      onlyType = ("typ", "purchase")).toDF(), "sp_last")
    val want = Patterns.outputLastEvery(
      staticDf.where(col("typ") === "purchase"), "k", "ts_us", "id", WindowUs)
      .collect().map(_.toSeq).toSet
    assert(want.nonEmpty && got === want)
  }

  test("disjunction parity with batch operator (multiset — stateless twin)") {
    val got = runStreamRows(src => StreamPatterns.disjunction(
      src, "k", "id", "typ", "signup", "error").toDF(), "sp_or")
    val want = Patterns.disjunction(staticDf, "k", "id", "typ", "signup", "error")
      .collect().map(_.toSeq).toSeq
    def multiset(rows: Seq[Seq[Any]]) = rows.groupBy(identity).view.mapValues(_.size).toMap
    assert(want.nonEmpty && multiset(got) === multiset(want))
  }

  test("self-conjunction (typeA == typeB) emits each A exactly once (multiset parity)") {
    // finalized As stay buffered as B-context when typeA == typeB; without
    // the frontier guard they re-passed the emission filter on the next
    // invocation and double-emitted — only visible under MULTISET compare
    val got = runStreamRows(src => StreamPatterns.conjunction(
      src, "k", "ts", "id", "typ", "purchase", "purchase", WithinUs, "0 seconds").toDF(),
      "sp_self_and")
    val want = Patterns.conjunction(staticDf, "k", "ts_us", "id", "typ",
      "purchase", "purchase", WithinUs).collect().map(_.toSeq).toSeq
    assert(want.nonEmpty)
    assert(got.groupBy(identity).view.mapValues(_.size).toMap ===
      want.groupBy(identity).view.mapValues(_.size).toMap)
  }

  test("cross-batch B-before-A: an out-of-order A claims an already-buffered B") {
    // B arrives a batch BEFORE its A (A still above the watermark, so not
    // late). The buffered B must be retained even though no A is pending
    // yet — dropping it produced a false absence + missed match.
    implicit val sqlCtx = spark.sqlContext
    def run(name: String,
            build: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) = {
      val in = MemoryStream[(Long, Long, Long, String)]
      val src = in.toDF().toDF("k", "ts_us", "id", "typ")
        .withColumn("ts", timestamp_micros(col("ts_us")))
      val q = build(src).writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).trigger(Trigger.ProcessingTime(0)).start()
      try {
        in.addData((1L, 100_000_000L, 2L, "purchase")) // B first; wm -> 40s
        q.processAllAvailable()
        in.addData((1L, 90_000_000L, 1L, "signup"))    // A out-of-order, >= wm
        q.processAllAvailable()
        in.addData((SentinelKey, 250_000_000L, 98L, "noise"))
        q.processAllAvailable()
        in.addData((SentinelKey, 260_000_000L, 99L, "noise"))
        q.processAllAvailable()
        spark.table(name).where(col("key") =!= SentinelKey)
          .collect().map(_.toSeq).toSet
      } finally q.stop()
    }
    val fb = run("sp_xbatch_fb", src => StreamPatterns.followedBy(
      src, "k", "ts", "id", "typ", "signup", "purchase", WithinUs, "60 seconds").toDF())
    assert(fb === Set(Seq(1L, 1L, 2L, 10_000_000L))) // match found, gap 10s
    val ab = run("sp_xbatch_ab", src => StreamPatterns.absence(
      src, "k", "ts", "id", "typ", "signup", "purchase", WithinUs, "60 seconds").toDF())
    assert(ab === Set.empty) // and no false absence
  }

  test("conjunction claims a below-watermark B backward (retention horizon)") {
    // B ages below the watermark BEFORE any A exists for its key; an A
    // arriving later (above the watermark) must still claim it backward —
    // retention keeps Bs down to min(pending A, wm) - within even when no
    // A is pending yet
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, Long, String)]
    val src = in.toDF().toDF("k", "ts_us", "id", "typ")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val q = StreamPatterns.conjunction(src, "k", "ts", "id", "typ",
        "signup", "purchase", WithinUs, "60 seconds")
      .toDF().writeStream.format("memory").queryName("sp_and_back")
      .outputMode(OutputMode.Append()).trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData((1L, 25_000_000L, 1L, "purchase"), // the backward B
        (SentinelKey, 90_000_000L, 90L, "noise"))   // wm -> 30s: B is below it
      q.processAllAvailable()
      in.addData((1L, 40_000_000L, 2L, "signup"))   // A above wm, claims back
      q.processAllAvailable()
      in.addData((SentinelKey, 200_000_000L, 98L, "noise"))
      q.processAllAvailable()
      in.addData((SentinelKey, 210_000_000L, 99L, "noise"))
      q.processAllAvailable()
      val got = spark.table("sp_and_back").where(col("key") =!= SentinelKey)
        .collect().map(_.toSeq).toSet
      assert(got === Set(Seq(1L, 2L, 1L, 15_000_000L)))
    } finally q.stop()
  }

  test("absence fires on watermark advance without further key input (timer path)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, Long, String)]
    val src = in.toDF().toDF("k", "ts_us", "id", "typ")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val q = StreamPatterns.absence(src, "k", "ts", "id", "typ",
        "signup", "purchase", WithinUs, "0 seconds")
      .toDF().writeStream.format("memory").queryName("sp_timer")
      .outputMode(OutputMode.Append()).trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData((1L, 1_000_000L, 1L, "signup"))
      q.processAllAvailable()
      assert(spark.table("sp_timer").isEmpty) // undecided: horizon open
      // a DIFFERENT key pushes the watermark; key 1 flushes via its timer
      in.addData((2L, WithinUs + 3_000_000L, 2L, "noise"))
      q.processAllAvailable()
      in.addData((2L, WithinUs + 4_000_000L, 3L, "noise"))
      q.processAllAvailable()
      val got = spark.table("sp_timer").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === Set((1L, 1L)))
    } finally q.stop()
  }

  /** Snapshot twins emit the full window contents tagged with
    * `rev` = events consumed; parity contract = the max-rev snapshot
    * per key equals the batch operator's final answer. */
  private def lastSnapshots(rows: Seq[Seq[Any]]): Set[Seq[Any]] =
    rows.groupBy(_.head).flatMap { case (_, rs) =>
      val maxRev = rs.map(_(1).asInstanceOf[Long]).max
      rs.filter(_(1) == maxRev).map(r => r.head +: r.drop(2))
    }.toSet

  test("sortWindow snapshot parity: max-rev window equals batch top-n") {
    val valued = (df: DataFrame) => df.withColumn("value", (col("id") * 13 % 100) / lit(10.0))
    val want = Patterns.sortWindow(
        valued(staticDf).where(col("typ") === "purchase"), "k", "id", "value", 4)
      .select("k", "rk", "id", "value").collect().map(_.toSeq).toSet
    val rows = runStreamRows(src => StreamPatterns.sortWindow(
        valued(src), "k", "ts", "id", "value", 4, "0 seconds",
        onlyType = ("typ", "purchase")).toDF(), "sp_sortwin")
    // every snapshot's ranks are contiguous from 1 (internally consistent)
    rows.groupBy(r => (r.head, r(1))).foreach { case (_, snap) =>
      assert(snap.map(_(2).asInstanceOf[Long]).sorted === (1L to snap.size).toSeq)
    }
    assert(want.nonEmpty && lastSnapshots(rows) === want)
  }

  test("frequentTypes snapshot parity: max-rev top-k equals batch counts") {
    val want = Patterns.frequentTypes(staticDf, "k", "typ", 2)
      .select("k", "rk", "typ", "cnt").collect().map(_.toSeq).toSet
    val rows = runStreamRows(src => StreamPatterns.frequentTypes(
        src, "k", "ts", "id", "typ", 2, "0 seconds").toDF(), "sp_freq")
    assert(want.nonEmpty && lastSnapshots(rows).map(r => r.head +: r.drop(1)) === want)
  }

  test("delayWindow parity with batch operator (released-prefix fold)") {
    val valued = (df: DataFrame) => df.withColumn("value", (col("id") * 13 % 100) / lit(10.0))
    val want = Patterns.delayWindow(
        valued(staticDf).where(col("typ") === "purchase"),
        "k", "ts_us", "id", "value", WindowUs)
      .collect().map(_.toSeq).toSet
    val got = runStream(src => StreamPatterns.delayWindow(
        valued(src), "k", "ts", "id", "value", WindowUs, "0 seconds",
        onlyType = ("typ", "purchase")).toDF(), "sp_delay")
    assert(want.nonEmpty && got === want)
  }

  test("lossyFrequent snapshot parity: max-rev passing set equals batch answer") {
    val want = Patterns.lossyFrequent(staticDf, "k", "typ", 250L)
      .collect().map(_.toSeq).toSet
    val rows = runStreamRows(src => StreamPatterns.lossyFrequent(
        src, "k", "ts", "id", "typ", 250L, "0 seconds").toDF(), "sp_lossy")
    // snapshot-reading convention: a rev's snapshot is its
    // non-null-attr rows (a lone null-attr row is the empty tombstone)
    assert(want.nonEmpty && lastSnapshots(rows).filter(_(1) != null) === want)
  }

  test("lossyFrequent: empty passing set at final rev emits a tombstone snapshot") {
    // support 500‰: after (a, a) the snapshot is {a}; once b, c, d
    // arrive, a holds 2/5 < 50% — the passing set is EMPTY and the
    // max-rev snapshot must SAY so (a tombstone row at rev 5), not let
    // readers hold {a}@rev2 as current. Attr values starting with the
    // reserved '#' prefix must count as ordinary data, not state rows.
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, Long, String)]
    val src = in.toDF().toDF("k", "ts_us", "id", "typ")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val q = StreamPatterns.lossyFrequent(src, "k", "ts", "id", "typ", 500L,
        "0 seconds").toDF()
      .writeStream.format("memory").queryName("sp_lossy_tomb")
      .outputMode(OutputMode.Append()).trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData((1L, 1_000_000L, 1L, "a"), (1L, 2_000_000L, 2L, "a"))
      q.processAllAvailable()
      in.addData((SentinelKey, 100_000_000L, 90L, "x"))
      q.processAllAvailable()
      in.addData((1L, 110_000_000L, 3L, "#c"), (1L, 111_000_000L, 4L, "#f:a"),
        (1L, 112_000_000L, 5L, "b"))
      q.processAllAvailable()
      in.addData((SentinelKey, 300_000_000L, 91L, "x"))
      q.processAllAvailable()
      in.addData((SentinelKey, 400_000_000L, 92L, "x"))
      q.processAllAvailable()
      val rows = spark.table("sp_lossy_tomb").where(col("key") === 1L)
        .collect().map(_.toSeq).toSeq
      // rev 2 snapshot: {a: 2 of 2}
      assert(rows.filter(_(1) == 2L) === Seq(Seq(1L, 2L, "a", 2L, 2L)))
      // rev 5: nothing clears 50% — exactly one tombstone row, and the
      // '#'-named attrs were counted as data (total 5), not state rows
      assert(rows.filter(_(1) == 5L) === Seq(Seq(1L, 5L, null, 0L, 5L)))
      assert(lastSnapshots(rows).filter(_(1) != null).isEmpty)
    } finally q.stop()
  }
}
