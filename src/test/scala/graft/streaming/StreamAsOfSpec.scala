package graft.streaming

import graft.SparkSpec
import graft.operators.AsOfJoin
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** The streaming temporal join must emit, once the watermark passes,
  * exactly what the batch [[AsOfJoin]] computes on the same data —
  * asserted on a pseudo-random event/dimension log fed in chronological
  * chunks, shuffled within each chunk. */
class StreamAsOfSpec extends SparkSpec {
  import spark.implicits._

  private val SentinelKey = 99L

  // events: (key, tsUs, id); dims: (key, tsUs, state-value)
  private lazy val (eventData, dimData) = {
    val rnd = new scala.util.Random(11)
    val evs = (1L to 200L).map { id =>
      (1L + rnd.nextInt(5), rnd.nextInt(1000000) * 1000L, id)
    }
    // unique (key, ts) on the dimension side (operator precondition)
    val dims = (1L to 120L).map { i =>
      (1L + rnd.nextInt(5), rnd.nextInt(1000000) * 1000L, s"state$i")
    }.groupBy(d => (d._1, d._2)).map(_._2.head).toSeq
    (evs, dims)
  }

  test("streaming temporal join parity with batch AsOfJoin") {
    parityRun("sa_parity")
  }

  private def parityRun(name: String): Unit = {
    implicit val sqlCtx = spark.sqlContext
    val evIn = MemoryStream[(Long, Long, Long)]
    val dimIn = MemoryStream[(Long, Long, String)]
    val evSrc = evIn.toDF().toDF("k", "ts_us", "id")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val dimSrc = dimIn.toDF().toDF("k", "ts_us", "sv")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val q = StreamAsOf.asOf(evSrc, dimSrc, "k", "ts", "id", Seq("sv"), "0 seconds")
      .toDF().writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).trigger(Trigger.ProcessingTime(0)).start()
    try {
      // chunk BOTH streams by aligned time ranges: the stateful operator
      // drops below-watermark input, so cross-stream chunk skew would
      // silently lose events (count-based chunking did exactly that)
      val rnd = new scala.util.Random(7)
      val maxAll = (eventData.map(_._2) ++ dimData.map(_._2)).max
      val bound = (i: Int) => (maxAll + 1) * i / 3
      (1 to 3).foreach { i =>
        val ec = eventData.filter(e => e._2 >= bound(i - 1) && e._2 < bound(i))
        val dc = dimData.filter(d => d._2 >= bound(i - 1) && d._2 < bound(i))
        if (ec.nonEmpty) evIn.addData(rnd.shuffle(ec): _*)
        if (dc.nonEmpty) dimIn.addData(rnd.shuffle(dc): _*)
        q.processAllAvailable()
      }
      val maxTs = (eventData.map(_._2) ++ dimData.map(_._2)).max
      // sentinels on BOTH streams: the union watermark is the min of both
      for (i <- 1 to 2) {
        evIn.addData((SentinelKey, maxTs + i * 10_000_000L, 9000L + i))
        dimIn.addData((SentinelKey, maxTs + i * 10_000_000L, "s"))
        q.processAllAvailable()
      }
      val got = spark.table(name).where(col("key") =!= SentinelKey)
        .select(col("id"),
          get_json_object(col("state"), "$.sv").as("sv"))
        .as[(Long, Option[String])].collect().toMap

      val want = AsOfJoin.asOf(
          eventData.toDF("k", "ts_us", "id"),
          dimData.toDF("k", "ts_us", "sv"),
          "k", "ts_us", Seq("sv"))
        .select("id", "sv").as[(Long, Option[String])].collect().toMap
      assert(want.nonEmpty && got === want)
    } finally q.stop()
  }

  test("pending events flush via timer when only the other side advances the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val evIn = MemoryStream[(Long, Long, Long)]
    val dimIn = MemoryStream[(Long, Long, String)]
    val evSrc = evIn.toDF().toDF("k", "ts_us", "id")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val dimSrc = dimIn.toDF().toDF("k", "ts_us", "sv")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val q = StreamAsOf.asOf(evSrc, dimSrc, "k", "ts", "id", Seq("sv"), "0 seconds")
      .toDF().writeStream.format("memory").queryName("sa_timer")
      .outputMode(OutputMode.Append()).trigger(Trigger.ProcessingTime(0)).start()
    try {
      dimIn.addData((1L, 1_000_000L, "v1"))
      evIn.addData((1L, 2_000_000L, 10L))
      q.processAllAvailable()
      assert(spark.table("sa_timer").isEmpty) // watermark not yet past the event
      // advance the watermark with a DIFFERENT key on both streams
      for (i <- 1 to 2) {
        evIn.addData((2L, (5_000_000 + i) * 1000L, 100L + i))
        dimIn.addData((2L, (5_000_000 + i) * 1000L, "x"))
        q.processAllAvailable()
      }
      val got = spark.table("sa_timer").where(col("key") === 1L)
        .select(col("id"), get_json_object(col("state"), "$.sv").as("sv"))
        .as[(Long, Option[String])].collect().toSet
      assert(got === Set((10L, Some("v1"))))
    } finally q.stop()
  }

  test("old dimension versions are evicted; the latest below-watermark survives") {
    implicit val sqlCtx = spark.sqlContext
    val evIn = MemoryStream[(Long, Long, Long)]
    val dimIn = MemoryStream[(Long, Long, String)]
    val evSrc = evIn.toDF().toDF("k", "ts_us", "id")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val dimSrc = dimIn.toDF().toDF("k", "ts_us", "sv")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val q = StreamAsOf.asOf(evSrc, dimSrc, "k", "ts", "id", Seq("sv"), "0 seconds")
      .toDF().writeStream.format("memory").queryName("sa_evict")
      .outputMode(OutputMode.Append()).trigger(Trigger.ProcessingTime(0)).start()
    try {
      // three versions arrive and age below the watermark...
      dimIn.addData((1L, 1_000_000L, "v1"), (1L, 2_000_000L, "v2"), (1L, 3_000_000L, "v3"))
      evIn.addData((2L, 10_000_000L, 1L))
      dimIn.addData((2L, 10_000_000L, "x"))
      q.processAllAvailable()
      // ...then a (late-ish but above-frontier) event at 20s still sees v3
      evIn.addData((1L, 20_000_000L, 50L))
      for (i <- 1 to 2) {
        evIn.addData((2L, (30_000_000 + i) * 1000L, 100L + i))
        dimIn.addData((2L, (30_000_000 + i) * 1000L, "x"))
        q.processAllAvailable()
      }
      val got = spark.table("sa_evict").where(col("key") === 1L)
        .select(col("id"), get_json_object(col("state"), "$.sv").as("sv"))
        .as[(Long, Option[String])].collect().toSet
      assert(got === Set((50L, Some("v3"))))
    } finally q.stop()
  }
}
