package graft.operators

import graft.SparkSpec
import graft.streaming.IncrementalAggStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** The incremental-aggregation ladder must answer every level
  * bit-identically to a DIRECT aggregation at that level — that is the
  * whole correctness contract of re-aggregating cells instead of rows
  * (and what lets a 100 TB deployment never re-scan raw data for coarse
  * grains). */
class IncrementalAggSpec extends SparkSpec {
  import spark.implicits._

  private val Hour = 3600L
  private val Day = 24 * Hour

  // deterministic pseudo-random events across 10 days, NEGATIVE and
  // positive timestamps (the bucket floor must not truncate toward zero)
  private lazy val evData: Seq[(Long, Long, Double)] = {
    val rnd = new scala.util.Random(11)
    (1 to 400).map { i =>
      (1L + rnd.nextInt(4), rnd.between(-5 * Day, 5 * Day), rnd.nextInt(1000) / 10.0)
    }
  }
  private def evDf = evData.toDF("key", "ts", "value")

  test("every ladder level equals a direct aggregation at that grain") {
    val ladder = IncrementalAgg.rollup(evDf, "key", "ts", "value",
      Seq("hour" -> Hour, "day" -> Day))
    for ((_, g) <- Seq("hour" -> Hour, "day" -> Day)) {
      val got = ladder.collectFirst { case (n, df) if n == (if (g == Hour) "hour" else "day") => df }.get
        .select(col("key"), col("bucket_start"), col("cnt"),
          col("sum_dec").cast("double").as("total"))
        .orderBy("key", "bucket_start").collect().map(_.toSeq).toSeq
      val direct = evDf
        .groupBy(col("key"), (col("ts") - pmod(col("ts"), lit(g))).as("bucket_start"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total"))
        .orderBy("key", "bucket_start").collect().map(_.toSeq).toSeq
      assert(got === direct)
    }
  }

  test("buckets floor for negative timestamps (no truncation toward zero)") {
    val df = Seq((1L, -1L, 1.0), (1L, -Hour, 2.0), (1L, 1L, 4.0)).toDF("key", "ts", "value")
    val hour = IncrementalAgg.rollup(df, "key", "ts", "value", Seq("hour" -> Hour)).head._2
    val got = hour.select("bucket_start", "cnt").orderBy("bucket_start")
      .as[(Long, Long)].collect().toSeq
    // ts = -1 and ts = -3600 both land in the [-3600, 0) bucket
    assert(got === Seq((-Hour, 2L), (0L, 1L)))
  }

  test("query answers from the named level within [from, to); unknown level refused") {
    val ladder = IncrementalAgg.rollup(evDf, "key", "ts", "value",
      Seq("hour" -> Hour, "day" -> Day))
    val got = IncrementalAgg.query(ladder, "day", -2 * Day, 2 * Day)
      .select("bucket_start").distinct().as[Long].collect().toSeq
    assert(got.nonEmpty && got.forall(b => b >= -2 * Day && b < 2 * Day))
    intercept[IllegalArgumentException] {
      IncrementalAgg.query(ladder, "month", 0L, Day)
    }
    intercept[IllegalArgumentException] {
      IncrementalAgg.rollup(evDf, "key", "ts", "value",
        Seq("hour" -> Hour, "ninety-min" -> (Hour + Hour / 2)))
    }
  }

  test("advance folds a delta exactly: advance(rollup(A), B) == rollup(A ++ B), via parquet") {
    val grans = Seq("hour" -> Hour, "day" -> Day)
    val (a, b) = evData.partition(t => t._2 % 3 != 0) // arbitrary uneven split
    val stored = IncrementalAgg.rollup(a.toDF("key", "ts", "value"),
      "key", "ts", "value", grans).head._2
    val dir = java.nio.file.Files.createTempDirectory("graft_ladder").toString
    stored.write.mode("overwrite").parquet(s"$dir/hour")
    val adv = IncrementalAgg.advance(spark.read.parquet(s"$dir/hour"),
      b.toDF("key", "ts", "value"), "key", "ts", "value", grans)
    val full = IncrementalAgg.rollup(evDf, "key", "ts", "value", grans)
    adv.zip(full).foreach { case ((an, adf), (fn, fdf)) =>
      assert(an === fn)
      def rows(df: org.apache.spark.sql.DataFrame) = df
        .select(col("key"), col("bucket_start"), col("cnt"),
          col("sum_dec").cast("string"))
        .collect().map(_.toSeq).toSet
      assert(rows(adf) === rows(fdf), s"level $an diverges")
    }
  }

  test("advanceChanges folds a capture round's change set: maintained ladder == rollup of the new table") {
    val grans = Seq("hour" -> Hour, "day" -> Day)
    // (event_id pk, key, ts, value) — ts spans negative and positive
    val prevRows = (1 to 300).map { i =>
      (i.toLong, (i % 7).toLong, (i.toLong * 137 % (5 * Day)) - 2 * Day, (i % 50) / 10.0)
    }
    // deletes (id % 11), updates (id % 5: value moves; id % 10 also moves
    // KEY and id % 15 moves the ts BUCKET), fresh inserts
    val newRows = prevRows.filterNot(_._1 % 11 == 0).map {
      case r @ (id, k, ts, v) if id % 5 == 0 =>
        (id, if (id % 10 == 0) k + 100 else k,
          if (id % 15 == 0) ts + Hour + Hour / 2 else ts, v + 1.5)
      case r => r
    } ++ (1001 to 1040).map { i =>
      (i.toLong, (i % 7).toLong, (i.toLong * 211 % (5 * Day)) - Day, (i % 30) / 10.0)
    }
    val sPrev = prevRows.toDF("event_id", "key", "ts", "value")
    val sNew = newRows.toDF("event_id", "key", "ts", "value")
    val changes = SnapshotDiff.diff(sPrev, sNew, Seq("event_id"))
    assert(changes.where(col("_op") === "delete").count() > 0 &&
      changes.where(col("_op") === "update").count() > 0 &&
      changes.where(col("_op") === "insert").count() > 0)
    val prevLadder = IncrementalAgg.rollup(sPrev, "key", "ts", "value", grans)
    val adv = IncrementalAgg.advanceChanges(prevLadder.head._2, changes,
      "key", "ts", "value", grans)
    val full = IncrementalAgg.rollup(sNew, "key", "ts", "value", grans)
    adv.zip(full).foreach { case ((an, adf), (fn, fdf)) =>
      assert(an === fn)
      def rows(df: org.apache.spark.sql.DataFrame) = df
        .select(col("key"), col("bucket_start"), col("cnt"),
          col("sum_dec").cast("string"))
        .collect().map(_.toSeq).toSet
      assert(rows(adf) === rows(fdf), s"level $an diverges after change-set fold")
    }
  }

  test("captureIntoLadder: the ladder rides the capture loop; crash before commit replays identically") {
    import graft.streaming.SnapshotCapture
    val grans = Seq("b" -> 100L, "b4" -> 400L)
    val state = java.nio.file.Files.createTempDirectory("graft_lcap").toString
    def levels(ls: Seq[(String, org.apache.spark.sql.DataFrame)]) =
      ls.map { case (n, df) => n -> df
        .select(col("key"), col("bucket_start"), col("cnt"),
          col("sum_dec").cast("string")).collect().map(_.toSeq).toSet }
    def ladderOf(rows: Seq[(Long, Long, Long, Double)]) = levels(IncrementalAgg
      .rollup(rows.toDF("event_id", "key", "ts", "value"), "key", "ts", "value", grans))
    val s0 = (1 to 60).map(i => (i.toLong, (i % 3).toLong, i.toLong * 7 - 200, i / 4.0))
    val (r0, l0) = SnapshotCapture.captureIntoLadder(spark,
      s0.toDF("event_id", "key", "ts", "value"), Seq("event_id"), state,
      "key", "ts", "value", grans)
    // BOTH levels come back (only the finest persists; b4 re-derives)
    assert(r0 === 0L && levels(l0) === ladderOf(s0))
    // mutate: delete, update (value + bucket move), insert
    val s1 = s0.filterNot(_._1 % 10 == 0).map {
      case (id, k, ts, v) if id % 7 == 0 => (id, k, ts + 150, v + 2.25)
      case r => r
    } ++ Seq((101L, 0L, 777L, 9.5))
    val (r1, l1) = SnapshotCapture.captureIntoLadder(spark,
      s1.toDF("event_id", "key", "ts", "value"), Seq("event_id"), state,
      "key", "ts", "value", grans)
    assert(r1 === 1L && levels(l1) === ladderOf(s1))
    // crash: a round that derives its state but never commits...
    val s2 = s1.map { case (id, k, ts, v) => (id, k, ts, v + 1.0) }
    SnapshotCapture.capture(spark, s2.toDF("event_id", "key", "ts", "value"),
      Seq("event_id"), state) // no commit -> orphaned round dir
    // ...is swept on restart and the SAME round recomputes identically
    val (r2, l2) = SnapshotCapture.captureIntoLadder(spark,
      s2.toDF("event_id", "key", "ts", "value"), Seq("event_id"), state,
      "key", "ts", "value", grans)
    assert(r2 === 2L && levels(l2) === ladderOf(s2))
  }

  test("capture-loop epilogue: a committed round retains no registered checkpoint blocks") {
    // the digest-pruned diff prunes by dirty bucket ids collected on the
    // driver and persists nothing, so a scheduled loop never
    // accumulates bucket tables
    import graft.streaming.SnapshotCapture
    val baseline = storageBaseline()
    val grans = Seq("b" -> 100L)
    val state = java.nio.file.Files.createTempDirectory("graft_ledger").toString
    val s0 = (1 to 40).map(i => (i.toLong, (i % 3).toLong, i.toLong * 7 - 120, i / 4.0))
    SnapshotCapture.captureIntoLadder(spark,
      s0.toDF("event_id", "key", "ts", "value"), Seq("event_id"), state,
      "key", "ts", "value", grans)
    // round 1 takes the digest-pruned diff path (a committed prior round)
    val s1 = s0.filterNot(_._1 % 9 == 0) ++ Seq((201L, 1L, 333L, 4.25))
    SnapshotCapture.captureIntoLadder(spark,
      s1.toDF("event_id", "key", "ts", "value"), Seq("event_id"), state,
      "key", "ts", "value", grans)
    assert(storageAfterDrop(baseline) === baseline,
      "a committed capture round must leave no persisted RDDs behind")
  }

  test("captureIntoLadder: changing the finest grain between rounds re-bootstraps, not mixed-grain-merges") {
    import graft.streaming.SnapshotCapture
    val state = java.nio.file.Files.createTempDirectory("graft_lgrain").toString
    def levels(ls: Seq[(String, org.apache.spark.sql.DataFrame)]) =
      ls.map { case (n, df) => n -> df
        .select(col("key"), col("bucket_start"), col("cnt"),
          col("sum_dec").cast("string")).collect().map(_.toSeq).toSet }
    val s0 = (1 to 40).map(i => (i.toLong, (i % 3).toLong, i.toLong * 7 - 120, i / 4.0))
    SnapshotCapture.captureIntoLadder(spark,
      s0.toDF("event_id", "key", "ts", "value"), Seq("event_id"), state,
      "key", "ts", "value", Seq("b" -> 100L))
    // round 1 switches the finest grain 100 -> 250 AND mutates rows: a
    // silent advanceChanges would fold 250-grain deltas into 100-grain
    // cells (wrong aggregates, no error); the metadata guard must
    // re-bootstrap so the ladder still equals rollup(snapshot) at the
    // NEW grain
    val s1 = s0.filterNot(_._1 % 9 == 0) ++ Seq((201L, 1L, 333L, 4.25))
    val (r1, l1) = SnapshotCapture.captureIntoLadder(spark,
      s1.toDF("event_id", "key", "ts", "value"), Seq("event_id"), state,
      "key", "ts", "value", Seq("b" -> 250L))
    val want = levels(IncrementalAgg.rollup(
      s1.toDF("event_id", "key", "ts", "value"), "key", "ts", "value",
      Seq("b" -> 250L)))
    assert(r1 === 1L && levels(l1) === want)
    // round 2 keeps the new grain: the stored metadata now matches and
    // the incremental fold resumes, still equal to a direct rollup
    val s2 = s1.map { case (id, k, ts, v) => (id, k, ts, v + 0.5) }
    val (r2, l2) = SnapshotCapture.captureIntoLadder(spark,
      s2.toDF("event_id", "key", "ts", "value"), Seq("event_id"), state,
      "key", "ts", "value", Seq("b" -> 250L))
    assert(r2 === 2L && levels(l2) === levels(IncrementalAgg.rollup(
      s2.toDF("event_id", "key", "ts", "value"), "key", "ts", "value",
      Seq("b" -> 250L))))
  }

  test("streaming finest level: emitted cells equal the batch ladder's (built-in window agg)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, Double)]
    val src = in.toDF().toDF("key", "ts_s", "value")
      .withColumn("ts", timestamp_seconds(col("ts_s")))
    val q = IncrementalAggStream.finestLevel(src, "key", "ts", "value",
        Hour * 1000000L, "0 seconds")
      .writeStream.format("memory").queryName("inc_agg_stream")
      .outputMode(OutputMode.Append()).trigger(Trigger.ProcessingTime(0)).start()
    try {
      val pos = evData.filter(_._2 >= 0).sortBy(_._2) // window() needs valid epochs
      pos.grouped((pos.size + 2) / 3).foreach { chunk =>
        in.addData(chunk: _*); q.processAllAvailable()
      }
      in.addData((99L, 100 * Day, 0.0)); q.processAllAvailable()
      in.addData((99L, 200 * Day, 0.0)); q.processAllAvailable()
      val got = spark.table("inc_agg_stream").where(col("key") =!= 99L)
        .select(col("key"), (col("bucket_start") / 1000000L).cast("long").as("bucket_start"),
          col("cnt"), col("sum_dec").cast("double").as("total"))
        .collect().map(_.toSeq).toSet
      val want = IncrementalAgg.rollup(
          pos.toDF("key", "ts", "value"), "key", "ts", "value", Seq("hour" -> Hour))
        .head._2
        .select(col("key"), col("bucket_start"), col("cnt"),
          col("sum_dec").cast("double").as("total"))
        .collect().map(_.toSeq).toSet
      assert(want.nonEmpty && got === want)
    } finally q.stop()
  }
}
