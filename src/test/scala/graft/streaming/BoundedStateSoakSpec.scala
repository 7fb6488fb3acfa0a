package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** Long-soak state accounting for the PERMANENT-state twins — the two
  * operators whose state never expires by time and so could leak
  * unboundedly if retention or key cleanup regressed:
  *
  *  - [[StreamPatterns.lengthWindow]] keeps the last n−1 events per key
  *    forever BY DESIGN (a count window reaches arbitrarily far back);
  *  - [[StreamAsOf.asOf]] retains the latest below-watermark dimension
  *    version per key forever (a years-later event still joins it).
  *
  * The soak feeds thousands of events across many micro-batches and pins
  * the state-store ROW count against the open-key count: exactly one
  * row per open key, no growth as events churn on a fixed key set, and
  * exactly linear growth when new keys open. Together with the
  * per-operator eviction specs (which pin buffer CONTENT), this bounds
  * total state at O(open keys), the contract a 100 TB deployment relies
  * on. */
class BoundedStateSoakSpec extends SparkSpec {
  import spark.implicits._

  /** numRowsTotal from the most recent progress that carries state
    * operator metrics (empty housekeeping batches still report them). */
  private def stateRows(q: StreamingQuery): Long =
    q.recentProgress.toSeq.reverse.iterator
      .flatMap(_.stateOperators.toSeq.headOption)
      .map(_.numRowsTotal).nextOption().getOrElse(-1L)

  test("lengthWindow soak: state rows track open keys exactly") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, Long)]
    val src = in.toDF().toDF("k", "ts_us", "id")
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withColumn("value", lit(1.0))
    val q = StreamPatterns.lengthWindow(src, "k", "ts", "id", "value", 5, "0 seconds")
      .toDF().writeStream.format("memory").queryName("soak_lw")
      .outputMode(OutputMode.Append()).trigger(Trigger.ProcessingTime(0)).start()
    try {
      var id = 0L
      var ts = 0L
      def feed(keys: Range, batches: Int, perKey: Int): Unit =
        (1 to batches).foreach { _ =>
          val evs = keys.flatMap { k =>
            (1 to perKey).map { _ => id += 1; ts += 1000L; (k.toLong, ts, id) }
          }
          in.addData(evs: _*)
          q.processAllAvailable()
        }
      val K = 20
      feed(1 to K, 10, 5) // 1000 events over K keys
      val rows1 = stateRows(q)
      feed(1 to K, 10, 5) // 1000 MORE events, same keys: rows must not move
      val rows2 = stateRows(q)
      feed(K + 1 to 2 * K, 5, 5) // K new keys: rows must grow linearly
      val rows3 = stateRows(q)
      assert(rows1 > 0, "no state metrics reported")
      assert(rows2 === rows1,
        s"state rows grew with events on a fixed key set ($rows1 -> $rows2)")
      assert(rows3 === 2 * rows1,
        s"doubling open keys did not double state rows ($rows1 -> $rows3)")
      // one state row per key: the whole buffer is one fMGWS state value
      assert(rows1 === K.toLong, s"$rows1 rows for $K keys")
    } finally q.stop()
  }

  /* [[StreamPatterns.lengthBatch]] keeps one PERMANENT sentinel row per
    * key (the consumed-batch counter) plus the current partial batch —
    * emitted batches must be evicted, so rows stay flat as complete
    * batches churn through and grow only with open keys. */
  test("lengthBatch soak: emitted batches evicted, rows track open keys") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, Long)]
    val src = in.toDF().toDF("k", "ts_us", "id")
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withColumn("value", lit(1.0))
    val q = StreamPatterns.lengthBatch(src, "k", "ts", "id", "value", 5, "0 seconds")
      .toDF().writeStream.format("memory").queryName("soak_lb")
      .outputMode(OutputMode.Append()).trigger(Trigger.ProcessingTime(0)).start()
    try {
      var id = 0L
      var ts = 0L
      def feed(keys: Range, batches: Int, perKey: Int): Unit =
        (1 to batches).foreach { _ =>
          val evs = keys.flatMap { k =>
            (1 to perKey).map { _ => id += 1; ts += 1000L; (k.toLong, ts, id) }
          }
          in.addData(evs: _*)
          q.processAllAvailable()
        }
      val K = 20
      feed(1 to K, 10, 5) // 10 complete batches per key flow through
      val rows1 = stateRows(q)
      feed(1 to K, 10, 5) // 10 MORE: emitted batches must not accumulate
      val rows2 = stateRows(q)
      feed(K + 1 to 2 * K, 5, 5)
      val rows3 = stateRows(q)
      assert(rows1 > 0, "no state metrics reported")
      assert(rows2 === rows1,
        s"state rows grew as complete batches churned ($rows1 -> $rows2)")
      assert(rows3 === 2 * rows1,
        s"doubling open keys did not double state rows ($rows1 -> $rows3)")
      assert(rows1 === K.toLong, s"$rows1 rows for $K keys")
    } finally q.stop()
  }

  test("as-of join soak: state rows track open keys exactly") {
    implicit val sqlCtx = spark.sqlContext
    val evIn = MemoryStream[(Long, Long, Long)]
    val dimIn = MemoryStream[(Long, Long, String)]
    val evSrc = evIn.toDF().toDF("k", "ts_us", "id")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val dimSrc = dimIn.toDF().toDF("k", "ts_us", "sv")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val q = StreamAsOf.asOf(evSrc, dimSrc, "k", "ts", "id", Seq("sv"), "0 seconds")
      .toDF().writeStream.format("memory").queryName("soak_asof")
      .outputMode(OutputMode.Append()).trigger(Trigger.ProcessingTime(0)).start()
    try {
      var id = 0L
      var ts = 0L
      def feed(keys: Range, batches: Int): Unit =
        (1 to batches).foreach { _ =>
          ts += 1_000_000L
          // every key gets a NEW dimension version and an event each batch:
          // versions churn, so retention (latest survivor only) is what
          // keeps state flat
          dimIn.addData(keys.map(k => (k.toLong, ts, s"v$ts")): _*)
          evIn.addData(keys.map { k => id += 1; (k.toLong, ts + 500_000L, id) }: _*)
          q.processAllAvailable()
        }
      val K = 20
      feed(1 to K, 10) // 200 dim versions + 200 events over K keys
      val rows1 = stateRows(q)
      feed(1 to K, 10) // 200 MORE versions: evicted versions must not pile up
      val rows2 = stateRows(q)
      feed(K + 1 to 2 * K, 5)
      val rows3 = stateRows(q)
      assert(rows1 > 0, "no state metrics reported")
      assert(rows2 === rows1,
        s"state rows grew with dimension churn ($rows1 -> $rows2)")
      assert(rows3 === 2 * rows1,
        s"doubling open keys did not double state rows ($rows1 -> $rows3)")
      assert(rows1 === K.toLong, s"$rows1 rows for $K keys")
    } finally q.stop()
  }

  /* [[StreamPatterns.sortWindow]] keeps ≤ n member rows + one counter
    * sentinel per key forever BY DESIGN (evicted events are dropped, so
    * churn must not grow state); [[StreamPatterns.frequentTypes]] keeps
    * one counter row per distinct attribute value per key (bounded by
    * attribute cardinality). Both must stay flat as events churn on a
    * fixed key set and grow exactly linearly with open keys. */
  test("sort window soak: eviction churn leaves state flat, rows track open keys") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, Long)]
    val src = in.toDF().toDF("k", "ts_us", "id")
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withColumn("value", (col("id") * 31 % 997).cast("double"))
    val q = StreamPatterns.sortWindow(src, "k", "ts", "id", "value", 5, "0 seconds")
      .toDF().writeStream.format("memory").queryName("soak_sw")
      .outputMode(OutputMode.Append()).trigger(Trigger.ProcessingTime(0)).start()
    try {
      var id = 0L
      var ts = 0L
      def feed(keys: Range, batches: Int, perKey: Int): Unit =
        (1 to batches).foreach { _ =>
          val evs = keys.flatMap { k =>
            (1 to perKey).map { _ => id += 1; ts += 1000L; (k.toLong, ts, id) }
          }
          in.addData(evs: _*)
          q.processAllAvailable()
        }
      val K = 20
      feed(1 to K, 10, 5) // windows fill and churn
      val rows1 = stateRows(q)
      feed(1 to K, 10, 5) // 1000 MORE evictions: rows must not move
      val rows2 = stateRows(q)
      feed(K + 1 to 2 * K, 5, 5)
      val rows3 = stateRows(q)
      assert(rows1 > 0, "no state metrics reported")
      assert(rows2 === rows1,
        s"state rows grew as the sort window churned ($rows1 -> $rows2)")
      assert(rows3 === 2 * rows1,
        s"doubling open keys did not double state rows ($rows1 -> $rows3)")
      assert(rows1 === K.toLong, s"$rows1 rows for $K keys")
    } finally q.stop()
  }

  test("frequent window soak: counts grow but state rows stay attr-bounded") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, Long, String)]
    val src = in.toDF().toDF("k", "ts_us", "id", "typ")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val q = StreamPatterns.frequentTypes(src, "k", "ts", "id", "typ", 2, "0 seconds")
      .toDF().writeStream.format("memory").queryName("soak_fq")
      .outputMode(OutputMode.Append()).trigger(Trigger.ProcessingTime(0)).start()
    try {
      var id = 0L
      var ts = 0L
      val types = Seq("a", "b", "c")
      def feed(keys: Range, batches: Int, perKey: Int): Unit =
        (1 to batches).foreach { _ =>
          val evs = keys.flatMap { k =>
            (1 to perKey).map { _ =>
              id += 1; ts += 1000L
              (k.toLong, ts, id, types((id % 3).toInt))
            }
          }
          in.addData(evs: _*)
          q.processAllAvailable()
        }
      val K = 20
      feed(1 to K, 10, 6) // every attr value seen many times per key
      val rows1 = stateRows(q)
      feed(1 to K, 10, 6) // counts grow, DISTINCT attrs don't: rows flat
      val rows2 = stateRows(q)
      feed(K + 1 to 2 * K, 5, 6)
      val rows3 = stateRows(q)
      assert(rows1 > 0, "no state metrics reported")
      assert(rows2 === rows1,
        s"state rows grew though attr cardinality was fixed ($rows1 -> $rows2)")
      assert(rows3 === 2 * rows1,
        s"doubling open keys did not double state rows ($rows1 -> $rows3)")
      assert(rows1 === K.toLong, s"$rows1 rows for $K keys")
    } finally q.stop()
  }

  /* [[StreamPatterns.delayWindow]] keeps two PERMANENT sentinel rows
    * (the released-prefix count + cents fold) plus only the trailing
    * `T` span of events per key — the fold must keep draining the buffer
    * as the watermark advances, so state stays flat under churn and
    * tracks open keys exactly. The delay here (0.1 s) is far smaller
    * than the feed horizon (1 s per feed), so folding is continuously
    * active — a regression that stopped folding would strand events and
    * grow the buffer. */
  test("delay window soak: prefix fold drains the buffer, rows track open keys") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, Long)]
    val src = in.toDF().toDF("k", "ts_us", "id")
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withColumn("value", lit(1.0))
    val q = StreamPatterns.delayWindow(src, "k", "ts", "id", "value",
        100_000L, "0 seconds")
      .toDF().writeStream.format("memory").queryName("soak_dw")
      .outputMode(OutputMode.Append()).trigger(Trigger.ProcessingTime(0)).start()
    try {
      var id = 0L
      var ts = 0L
      def feed(keys: Range, batches: Int, perKey: Int): Unit =
        (1 to batches).foreach { _ =>
          val evs = keys.flatMap { k =>
            (1 to perKey).map { _ => id += 1; ts += 1000L; (k.toLong, ts, id) }
          }
          in.addData(evs: _*)
          q.processAllAvailable()
        }
      val K = 20
      feed(1 to K, 10, 5)
      val rows1 = stateRows(q)
      feed(1 to K, 10, 5) // 1000 MORE events fold through: rows must not move
      val rows2 = stateRows(q)
      feed(K + 1 to 2 * K, 5, 5)
      val rows3 = stateRows(q)
      assert(rows1 > 0, "no state metrics reported")
      assert(rows2 === rows1,
        s"state rows grew as the delay buffer folded ($rows1 -> $rows2)")
      assert(rows3 === 2 * rows1,
        s"doubling open keys did not double state rows ($rows1 -> $rows3)")
      assert(rows1 === K.toLong, s"$rows1 rows for $K keys")
    } finally q.stop()
  }
}
