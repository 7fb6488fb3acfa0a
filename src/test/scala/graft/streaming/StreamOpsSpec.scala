package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import java.sql.Timestamp

/** Streaming analytics ops over change streams: event-time windows +
  * watermark, watermark-bounded dedup, stateful latest-image. */
class StreamOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: Long) = new Timestamp(s * 1000)

  test("windowed per-op counts with watermark") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val df = StreamOps.windowedOpCounts(
      in.toDF().toDF("ts", "op"), "ts", "op", "10 seconds", "5 seconds")
    val q = df.writeStream.format("memory").queryName("win_counts")
      .outputMode(OutputMode.Append()).trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData((ts(1), "insert"), (ts(3), "insert"), (ts(12), "update"))
      q.processAllAvailable()
      in.addData((ts(25), "insert")) // advances watermark past window [0,10)
      q.processAllAvailable()
      in.addData((ts(40), "insert")) // close [10,20) and [20,30)
      q.processAllAvailable()
      val rows = spark.sql("SELECT window.start, op, cnt FROM win_counts").collect()
        .map(r => (r.getTimestamp(0).getTime / 1000, r.getString(1), r.getLong(2))).toSet
      assert(rows.contains((0L, "insert", 2L)))
      assert(rows.contains((10L, "update", 1L)))
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark collapses at-least-once replays") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, String)]
    val df = StreamOps.dedupWithinWatermark(
      in.toDF().toDF("ts", "id", "name"), "ts", "10 seconds", Seq("id"))
    val q = df.writeStream.format("memory").queryName("dedup_sink")
      .outputMode(OutputMode.Append()).trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData((ts(1), 1L, "a"), (ts(1), 1L, "a"), (ts(2), 2L, "b")) // replay of id=1
      q.processAllAvailable()
      in.addData((ts(1), 1L, "a")) // replayed again within horizon
      q.processAllAvailable()
      assert(spark.table("dedup_sink").count() === 2)
    } finally q.stop()
  }

  test("latestImage state: updates supersede, deletes tombstone, late replays ignored") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StreamOps.KeyedChange]
    val out = StreamOps.latestImage(in.toDS())
    val q = out.writeStream.format("memory").queryName("latest_sink")
      .outputMode(OutputMode.Update()).trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData(
        StreamOps.KeyedChange("k1", 1, "insert", "v1"),
        StreamOps.KeyedChange("k1", 2, "update", "v2"),
        StreamOps.KeyedChange("k2", 1, "insert", "w1"))
      q.processAllAvailable()
      in.addData(
        StreamOps.KeyedChange("k2", 2, "delete", ""),
        StreamOps.KeyedChange("k1", 1, "insert", "v1")) // late replay below seq 2
      q.processAllAvailable()
      val last = spark.table("latest_sink")
        .groupBy("key").agg(max(struct(col("seq"), col("payload"), col("deleted"))).as("s"))
        .select(col("key"), col("s.payload"), col("s.deleted"))
        .collect().map(r => r.getString(0) -> ((r.getString(1), r.getBoolean(2)))).toMap
      assert(last("k1") === (("v2", false))) // replay did not regress
      assert(last("k2")._2 === true)         // tombstoned
    } finally q.stop()
  }

  test("latestImage: equal seqs resolve by (op, payload) whatever the arrival order; null payloads kept") {
    implicit val sqlCtx = spark.sqlContext
    import StreamOps.KeyedChange
    val in = MemoryStream[KeyedChange]
    val q = StreamOps.latestImage(in.toDS()).writeStream.format("memory").queryName("latest_ties")
      .outputMode(OutputMode.Update()).trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData(
        KeyedChange("a", 5, "update", "x"), KeyedChange("a", 5, "update", "y"),
        KeyedChange("b", 5, "update", "y"), KeyedChange("b", 5, "update", "x"), // reversed arrival
        KeyedChange("c", 3, "update", "z"), KeyedChange("c", 3, "delete", "z"), // "update" > "delete"
        KeyedChange("d", 1, "insert", null))
      q.processAllAvailable()
      in.addData(
        KeyedChange("c", 3, "delete", "z"), // the losing tie again, in a later batch
        KeyedChange("d", 2, "update", null))
      q.processAllAvailable()
      val got = spark.table("latest_ties").as[StreamOps.LatestImage].collect().toSeq
        .sortBy(r => (r.key, r.seq))
      assert(got === Seq(
        StreamOps.LatestImage("a", 5, "update", "y", deleted = false),
        StreamOps.LatestImage("b", 5, "update", "y", deleted = false),
        StreamOps.LatestImage("c", 3, "update", "z", deleted = false),
        StreamOps.LatestImage("c", 3, "update", "z", deleted = false),
        StreamOps.LatestImage("d", 1, "insert", null, deleted = false),
        StreamOps.LatestImage("d", 2, "update", null, deleted = false)))
    } finally q.stop()
  }
}
