package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Driver contract (see SURVEY.md §2.3): one entry per implemented operator,
  * each with a DuckDB-runnable oracle. Every query has a total ORDER BY and
  * aliases every computed column identically in Spark and oracle SQL.
  *
  * Each query models a reference operator of siddhi-io/siddhi-io-cdc (file
  * citations in Scaladoc per query builder in [[CoreQueries]]).
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. Change-stream
    * hydration: operation filter (O3) + dimension join + per-op counters. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val e = Tables.events(spark, dir)
    val c = Tables.customer(spark, dir)
    e.filter(col("event_type").isin("purchase", "signup"))
      .join(broadcast(c), e("user_id") === c("c_custkey"))
      .groupBy(col("event_type"), col("c_mktsegment"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("total_value"))
      .orderBy(col("event_type"), col("c_mktsegment"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    CoreQueries.queries ++ PipelineQueries.queries

  def oracleSql: Map[String, String] =
    CoreQueries.oracleSql ++ PipelineQueries.oracleSql
}

/** SURVEY §2.3 Q1–Q12 — the t2 correctness contract over `events` (the CDC
  * stand-in table: event_id = polling column, event_type = operation, ts =
  * event time, props = semi-structured payload).
  */
object CoreQueries {

  /** Q1 — operation filter (O3): keep selected change-operation types.
    * Ref: RdbmsChangeDataCapture.java:65-137 (op ∈ user list). */
  private def q1(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("event_type").isin("purchase", "signup"))
      .select("event_id", "user_id", "event_type", "value")
      .orderBy("event_id")

  /** Q2 — before/after update image (O5): before_ column via lag per key.
    * Ref: RdbmsChangeDataCapture.java:169-190 (before_ prefix). */
  private def q2(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("value"),
        lag(col("value"), 1).over(w).as("before_value"))
      .orderBy("user_id", "event_id")
  }

  /** Q3 — initial offset discovery (O13): MAX(polling.column), empty → -1.
    * Ref: DefaultPollingStrategy.java:109-132. */
  private def q3(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .agg(coalesce(max(col("event_id")), lit(-1L)).as("last_offset"))

  /** Q4 — incremental delta scan (O14): rows strictly after stored offset.
    * Ref: DefaultPollingStrategy.java:134-168 (WHERE col > ?). */
  private def q4(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("event_id") > 900)
      .select("event_id", "user_id", "event_type", "value")
      .orderBy("event_id")

  /** Q5 — gap detection (O15): missing ranges in a numeric sequence.
    * Distributed via [[graft.operators.SequenceGaps]] — a range shuffle +
    * per-partition scan + O(numPartitions) seam pass, instead of the
    * naive single-partition global window.
    * Ref: WaitOnMissingRecordPollingStrategy.java:116-132. */
  private def q5(s: SparkSession, dir: String): DataFrame =
    graft.operators.SequenceGaps.detect(
      Tables.events(s, dir).filter(col("event_type") === "purchase"), "event_id")
      .orderBy("missing_from")

  /** Q6 — offset recovery + update application (O17): latest state per key.
    * Ref: CDCSource.java:842-870 (replay) + update semantics. */
  private def q6(s: SparkSession, dir: String): DataFrame = {
    // ts_ns (exact nanos) not the µs-truncated ts: ordering must match the
    // oracle's ns-resolution ORDER BY ts DESC bit-for-bit.
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_ns").desc, col("event_id").desc)
    Tables.events(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "event_id", "event_type", "value")
      .orderBy("user_id")
  }

  /** Q7 — per-operation event counters (O20 metrics).
    * Ref: metrics/Metrics.java:34-121 (events per op). */
  private def q7(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy("event_type").agg(count(lit(1)).as("cnt"))
      .orderBy("event_type")

  /** Q8 — micro-batch/interval bucketing (O14/O16): per-day batch rollup.
    * The decimal(18,2) sum makes the aggregate order-independent; the final
    * projection exposes only driver-safe output types (VARCHAR day, DOUBLE
    * total — DATE/DECIMAL columns hash differently between pyarrow's
    * `Decimal`/`date` objects and DuckDB's float64/datetime64 path).
    * Ref: CDCCronExecutor.java:91-96 (one sweep per interval). */
  private def q8(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("d"), col("cnt"), col("total"))
      .orderBy("d")

  /** Q9 — semi-structured decode (O10): typed field out of JSON props.
    * Ref: MongoChangeDataCapture.java:109-144 (extended-JSON coercion). */
  private def q9(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("event_type") === "error")
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .orderBy("event_id")

  /** Q10 — downstream hydration join (§2.1 sink table): stream ⋈ dimension.
    * customer is the small dimension → broadcast (no shuffle of events at
    * scale). Ref: TestCaseOfCDCPollingMode.java:129-131 (table sink). */
  private def q10(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val c = Tables.customer(s, dir)
    e.filter(col("event_type") === "purchase")
      .join(broadcast(c), e("user_id") === c("c_custkey"))
      .select(e("event_id"), e("user_id"), c("c_name"), e("value"))
      .orderBy("event_id")
  }

  /** Q11 — delete application (`delete … on` semantics): anti-join survivors.
    * Ref: TestCaseOfCDCListeningMode.java:179-181. */
  private def q11(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val deletes = Tables.events(s, dir)
      .filter(col("event_type") === "error").select(col("user_id"))
    c.join(deletes, c("c_custkey") === deletes("user_id"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** Q12 — at-least-once dedup (SURVEY §7.4; driver-mandated dedup op).
    * Ref: at-least-once delivery ChangeDataCapture.java:88. */
  private def q12(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select("user_id", "event_type").distinct()
      .orderBy("user_id", "event_type")

  /** Q26 — snapshot differencing ([[graft.operators.SnapshotDiff]]): the
    * capture mode the reference LACKS — its polling contract requires a
    * monotonic column and its listening mode a binlog; a table with
    * neither is captured by diffing two point-in-time snapshots into
    * the same envelope (op + `before_` images). Fixture: two
    * deterministic snapshots of `orders` — before drops keys ≡0 (mod
    * 7), after drops ≡0 (mod 5) and doubles the cents of keys ≡0 (mod
    * 3) — so all three ops appear. Prices ride as integer cents
    * (`floor(100·price)`), the repo-wide float-determinism contract. */
  private def q26(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), floor(col("o_totalprice") * 100).cast("long").as("o_cents"))
    val before = o.where(pmod(col("o_orderkey"), lit(7)) =!= 0)
    val after = o.where(pmod(col("o_orderkey"), lit(5)) =!= 0)
      .withColumn("o_cents",
        when(pmod(col("o_orderkey"), lit(3)) === 0, col("o_cents") * 2)
          .otherwise(col("o_cents")))
    graft.operators.SnapshotDiff.diff(before, after, Seq("o_orderkey"))
      .orderBy("o_orderkey")
  }

  // CEP pattern surface (north star: the Siddhi host-language capability
  // the reference's streams feed — `from every a=S -> b=S within T ...`).
  // Implemented by graft.operators.Patterns; streaming analogs in
  // graft.streaming.StreamPatterns.

  // Pattern queries run on µs-precision time (`ts_us` = ts_ns div 1000):
  // DuckDB reads the TIMESTAMP(NANOS) parquet column truncated to µs, so µs
  // is the finest unit both engines see identically. Ordering stays total
  // via the (ts, event_id) tie-break inside Patterns.
  private val Hours12Us = 12L * 3600 * 1000000L
  private val Hours24Us = 24L * 3600 * 1000000L
  private val Hours6Us = 6L * 3600 * 1000000L

  private def eventsUs(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).withColumn("ts_us", expr("ts_ns div 1000"))

  /** Q13 — sequence pattern: every signup followed by its first purchase
    * within 12 h (Siddhi `every a -> b within T`, first-match). */
  private def q13(s: SparkSession, dir: String): DataFrame =
    graft.operators.Patterns.followedBy(eventsUs(s, dir),
      "user_id", "ts_us", "event_id", "event_type", "signup", "purchase", Hours12Us)
      .withColumnRenamed("gap", "gap_us")
      .orderBy("user_id", "a_id")

  /** Q14 — absence pattern: signups NOT followed by a purchase within 12 h
    * (Siddhi `a -> not b for T`). */
  private def q14(s: SparkSession, dir: String): DataFrame =
    graft.operators.Patterns.absence(eventsUs(s, dir),
      "user_id", "ts_us", "event_id", "event_type", "signup", "purchase", Hours12Us)
      .orderBy("user_id", "a_id")

  /** Q15 — count pattern: the 3rd-or-later error of a user within a
    * trailing 24 h sliding window (Siddhi `#window.time(T) having count>=n`). */
  private def q15(s: SparkSession, dir: String): DataFrame =
    graft.operators.Patterns.burst(eventsUs(s, dir),
      "user_id", "ts_us", "event_id", "event_type", "error", Hours24Us, 3L)
      .orderBy("user_id", "event_id")

  /** Q16 — session windows: per-user sessions with a 6 h inactivity gap
    * (Siddhi `#window.session(gap, key)`). */
  private def q16(s: SparkSession, dir: String): DataFrame =
    graft.operators.Patterns.sessionize(eventsUs(s, dir), "user_id", "ts_us", Hours6Us)
      .withColumnRenamed("session_start", "session_start_us")
      .orderBy("user_id", "session_start_us")

  /** Q17 — as-of join (SCD hydration): each purchase takes its user's
    * latest at-or-before signup state. The reference's sink queries join
    * change streams to CURRENT state (`TestCaseOfCDCListeningMode.java:275-277`);
    * this is the event-time variant via [[graft.operators.AsOfJoin]]
    * (single keyed shuffle — no range join). µs precision, like q13–q16. */
  private def q17(s: SparkSession, dir: String): DataFrame = {
    val e = eventsUs(s, dir)
    val dedup = Window.partitionBy(col("user_id"), col("ts_us"))
      .orderBy(col("event_id").desc)
    val signups = e.filter(col("event_type") === "signup")
      .withColumn("rn", row_number().over(dedup)).filter(col("rn") === 1)
      .select(col("user_id"), col("ts_us"), col("value").as("signup_value"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts_us", "value")
    graft.operators.AsOfJoin.asOf(purchases, signups, "user_id", "ts_us",
      Seq("signup_value"))
      .select("event_id", "user_id", "value", "signup_value")
      .orderBy("event_id")
  }

  /** Q18 — logical conjunction pattern (Siddhi `a and b within T`): every
    * signup with a purchase within 12 h in EITHER direction; nearest
    * purchase wins, earlier on ties. Via [[graft.operators.Patterns.conjunction]]. */
  private def q18(s: SparkSession, dir: String): DataFrame =
    graft.operators.Patterns.conjunction(eventsUs(s, dir),
      "user_id", "ts_us", "event_id", "event_type", "signup", "purchase", Hours12Us)
      .withColumnRenamed("gap", "gap_us")
      .orderBy("user_id", "a_id")

  /** Q19 — count-quantifier sequence (Siddhi `e1=s[view]<3:> ->
    * e2=s[purchase] within T`): every purchase preceded by >= 3 views in
    * the trailing 24 h. Via [[graft.operators.Patterns.countSequence]]. */
  private def q19(s: SparkSession, dir: String): DataFrame =
    graft.operators.Patterns.countSequence(eventsUs(s, dir),
      "user_id", "ts_us", "event_id", "event_type", "view", "purchase", Hours24Us, 3L)
      .orderBy("user_id", "b_id")

  /** Q20 — logical disjunction pattern (Siddhi `every (a or b)`): every
    * signup OR error event; the arrived branch binds its variable, the
    * other is null. Via [[graft.operators.Patterns.disjunction]] —
    * stateless, zero-exchange (the scan stage does all the work). */
  private def q20(s: SparkSession, dir: String): DataFrame =
    graft.operators.Patterns.disjunction(Tables.events(s, dir),
      "user_id", "event_id", "event_type", "signup", "error")
      .orderBy(col("user_id"), coalesce(col("a_id"), col("b_id")))

  /** Q21 — chained sequence pattern (Siddhi `every a -> b -> c within T`,
    * first-match): every signup, its first following view, then the first
    * purchase after that view, whole chain within 24 h. Via
    * [[graft.operators.Patterns.chain]] — two window passes, ONE keyed
    * exchange (the second pass carries the B row's next-C inside the min
    * payload, so no self-join materializes the middle hop). */
  private def q21(s: SparkSession, dir: String): DataFrame =
    graft.operators.Patterns.chain(eventsUs(s, dir),
      "user_id", "ts_us", "event_id", "event_type", "signup", "view", "purchase", Hours24Us)
      .withColumnRenamed("gap", "gap_us")
      .orderBy("user_id", "a_id")

  /** Q22 — guarded sequence pattern (Siddhi filters referencing an
    * earlier binding: `every a=s[signup] -> b=s[purchase and b.value >
    * a.value] within T`): every signup followed within 12 h by the first
    * purchase of HIGHER value. Via
    * [[graft.operators.Patterns.guardedFollowedBy]] — the guard makes
    * the first-B A-dependent, so this is the within-bounded range-join
    * shape, not the O(n) window of q13. */
  private def q22(s: SparkSession, dir: String): DataFrame =
    graft.operators.Patterns.guardedFollowedBy(eventsUs(s, dir),
      "user_id", "ts_us", "event_id", "event_type", "value",
      "signup", "purchase", Hours12Us, (av, bv) => bv > av)
      .withColumnRenamed("gap", "gap_us")
      .orderBy("user_id", "a_id")

  /** Q23 — sliding length window (Siddhi `s[purchase]#window.length(5)`):
    * at every purchase, count + decimal-exact sum of its user's last 5
    * purchase values. Via [[graft.operators.Patterns.lengthWindow]] —
    * one keyed exchange, one trailing ROWS frame; the count-based member
    * of the window family. */
  private def q23(s: SparkSession, dir: String): DataFrame =
    graft.operators.Patterns.lengthWindow(
      eventsUs(s, dir).filter(col("event_type") === "purchase"),
      "user_id", "ts_us", "event_id", "value", 5)
      .withColumnRenamed("id", "event_id")
      .orderBy("user_id", "event_id")

  /** Q27 — tumbling count window (Siddhi `s#window.lengthBatch(n)`):
    * every complete batch of 5 purchases per user emits one aggregate
    * row; the trailing partial batch emits nothing. Completes the
    * count-window pair (q23 is the SLIDING one). Via
    * [[graft.operators.Patterns.lengthBatch]]; streaming twin
    * `StreamPatterns.lengthBatch` (parity in StreamPatternsSpec). */
  private def q27(s: SparkSession, dir: String): DataFrame =
    graft.operators.Patterns.lengthBatch(
      eventsUs(s, dir).filter(col("event_type") === "purchase"),
      "user_id", "ts_us", "event_id", "value", 5)
      .orderBy("user_id", "batch_no")

  /** Q28 — pruned snapshot differencing
    * ([[graft.operators.SnapshotDiff.diffPruned]]): q26's change set
    * computed behind the per-bucket digest prune that makes REPEATED
    * snapshot capture viable at 100 TB — matching bucket digests prove
    * their rows unchanged, so only dirty buckets enter the PK join.
    * Same fixture and the IDENTICAL oracle SQL as q26 (the prune is a
    * physical optimization, not a semantic change). */
  private def q28(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), floor(col("o_totalprice") * 100).cast("long").as("o_cents"))
    val before = o.where(pmod(col("o_orderkey"), lit(7)) =!= 0)
    val after = o.where(pmod(col("o_orderkey"), lit(5)) =!= 0)
      .withColumn("o_cents",
        when(pmod(col("o_orderkey"), lit(3)) === 0, col("o_cents") * 2)
          .otherwise(col("o_cents")))
    graft.operators.SnapshotDiff.diffPruned(before, after, Seq("o_orderkey"))
      .orderBy("o_orderkey")
  }

  /** Q24 — output rate limiting (Siddhi `output first every T`): the
    * first error per user per 6 h bucket — alert throttling. Via
    * [[graft.operators.Patterns.outputFirstEvery]]. */
  private def q24(s: SparkSession, dir: String): DataFrame =
    graft.operators.Patterns.outputFirstEvery(
      eventsUs(s, dir).filter(col("event_type") === "error"),
      "user_id", "ts_us", "event_id", Hours6Us)
      .withColumnRenamed("id", "event_id")
      .withColumnRenamed("bucket_start", "bucket_start_us")
      .orderBy("user_id", "bucket_start_us")

  /** Q25 — output rate limiting, trailing edge (Siddhi `output last
    * every T`): the last purchase per user per 6 h bucket — the
    * state-of-the-world sample. Via
    * [[graft.operators.Patterns.outputLastEvery]]. */
  private def q25(s: SparkSession, dir: String): DataFrame =
    graft.operators.Patterns.outputLastEvery(
      eventsUs(s, dir).filter(col("event_type") === "purchase"),
      "user_id", "ts_us", "event_id", Hours6Us)
      .withColumnRenamed("id", "event_id")
      .withColumnRenamed("bucket_start", "bucket_start_us")
      .orderBy("user_id", "bucket_start_us")

  /** Q29 — sort window (Siddhi `s#window.sort(n, value, 'asc')`): per
    * user, the 3 cheapest purchases by (value, event_id) — the window's
    * final contents after stream replay, the same final-state framing
    * as q6. Via [[graft.operators.Patterns.sortWindow]]. */
  private def q29(s: SparkSession, dir: String): DataFrame =
    graft.operators.Patterns.sortWindow(
      Tables.events(s, dir).filter(col("event_type") === "purchase"),
      "user_id", "event_id", "value", 3)
      .withColumnRenamed("id", "event_id")
      .orderBy("user_id", "rk")

  /** Q30 — frequent window (Siddhi `s#window.frequent(k)`): per user,
    * the 2 most frequent event types (exact form of the Misra–Gries
    * sketch the reference host language ships), count-desc /
    * type-asc tie-break. Via [[graft.operators.Patterns.frequentTypes]]. */
  private def q30(s: SparkSession, dir: String): DataFrame =
    graft.operators.Patterns.frequentTypes(
      Tables.events(s, dir), "user_id", "event_type", 2)
      .orderBy("user_id", "rk")

  /** Q31 — time-length window (Siddhi `s#window.timeLength(T, n)`):
    * per purchase, count and sum over the last min(5, within-12h)
    * purchases — the doubly-bounded member completing the window family
    * (q23 count-only sliding, q27 count tumbling). Via
    * [[graft.operators.Patterns.timeLengthWindow]]. */
  private def q31(s: SparkSession, dir: String): DataFrame =
    graft.operators.Patterns.timeLengthWindow(
      eventsUs(s, dir).filter(col("event_type") === "purchase"),
      "user_id", "ts_us", "event_id", "value", Hours12Us, 5)
      .withColumnRenamed("id", "event_id")
      .orderBy("user_id", "event_id")

  /** Q32 — delay window (Siddhi `s#window.delay(T)`): per purchase,
    * count + sum of its user's purchases the 12 h-delayed stream had
    * RELEASED at its arrival (`ts' <= ts − 12h`) — the compare-with-
    * the-past primitive. Via [[graft.operators.Patterns.delayWindow]];
    * streaming twin `StreamPatterns.delayWindow` folds the released
    * prefix into a (count, cents) sentinel. */
  private def q32(s: SparkSession, dir: String): DataFrame =
    graft.operators.Patterns.delayWindow(
      eventsUs(s, dir).filter(col("event_type") === "purchase"),
      "user_id", "ts_us", "event_id", "value", Hours12Us)
      .withColumnRenamed("id", "event_id")
      .orderBy("user_id", "event_id")

  /** Q33 — lossy-frequent window (Siddhi
    * `s#window.lossyFrequent(support)`): per user, the event types
    * holding at least 25% of the user's events — the exact answer the
    * lossy-counting sketch approximates, support tested by integer
    * cross-multiply. Via [[graft.operators.Patterns.lossyFrequent]]. */
  private def q33(s: SparkSession, dir: String): DataFrame =
    graft.operators.Patterns.lossyFrequent(
      Tables.events(s, dir), "user_id", "event_type", 250L)
      .orderBy("user_id", "event_type")

  private val HourUs = 3600L * 1000000L
  private val DayUs = Hours24Us // one name per constant; q34/q35 buckets = the q15/q19 horizon
  // q34 on-demand range: [2024-01-05, 2024-01-21) UTC — inside the test
  // data's 30-day span, day-aligned like Siddhi's `within` clause
  private val AggFromUs = 1704412800000000L
  private val AggToUs = 1705795200000000L

  /** Q34 — incremental multi-granularity aggregation (Siddhi `define
    * aggregation ... aggregate by ts every hour...day` + on-demand
    * `within ... per 'days'`): per-user purchase count + sum at DAY
    * grain, answered through the hour→day rollup ladder (only the hour
    * level ever reads raw rows; the day level re-aggregates hour cells)
    * and restricted to a 16-day `within` range. Via
    * [[graft.operators.IncrementalAgg]]; streaming twin
    * `IncrementalAggStream.finestLevel` (built-in watermark + tumbling
    * window, parity in IncrementalAggSpec). */
  private def q34(s: SparkSession, dir: String): DataFrame = {
    val ladder = graft.operators.IncrementalAgg.rollup(
      eventsUs(s, dir).filter(col("event_type") === "purchase"),
      "user_id", "ts_us", "value", Seq("hour" -> HourUs, "day" -> DayUs))
    graft.operators.IncrementalAgg.query(ladder, "day", AggFromUs, AggToUs)
      .withColumnRenamed("bucket_start", "bucket_start_us")
      .orderBy("user_id", "bucket_start_us")
  }

  /** Q35 — maintained aggregation (the CDC→aggregation loop closed):
    * a per-user day-grain ladder maintained by FOLDING A CHANGE SET
    * ([[graft.operators.IncrementalAgg.advanceChanges]] — updates
    * retract their before-image, deletes only retract) must equal a
    * direct aggregation of the after-table. Fixture: the q26 snapshot
    * convention on `events` — before drops ids ≡0 (mod 7), after drops
    * ≡0 (mod 5) and doubles the value of ids ≡0 (mod 3) — so the fold
    * sees all three ops; the oracle aggregates the after-table
    * directly. */
  private def q35(s: SparkSession, dir: String): DataFrame = {
    val e = eventsUs(s, dir).select(col("event_id"), col("user_id"),
      col("ts_us"), col("value"))
    val before = e.where(pmod(col("event_id"), lit(7)) =!= 0)
    val after = e.where(pmod(col("event_id"), lit(5)) =!= 0)
      .withColumn("value",
        when(pmod(col("event_id"), lit(3)) === 0, col("value") * 2)
          .otherwise(col("value")))
    val changes = graft.operators.SnapshotDiff.diff(before, after, Seq("event_id"))
    val ladder = graft.operators.IncrementalAgg.rollup(before,
      "user_id", "ts_us", "value", Seq("hour" -> HourUs, "day" -> DayUs))
    val maintained = graft.operators.IncrementalAgg.advanceChanges(
      ladder.head._2, changes, "user_id", "ts_us", "value",
      Seq("hour" -> HourUs, "day" -> DayUs))
    graft.operators.IncrementalAgg.query(maintained, "day",
      Long.MinValue, Long.MaxValue)
      .withColumnRenamed("bucket_start", "bucket_start_us")
      .orderBy("user_id", "bucket_start_us")
  }

  /** Q36 — behavioral-cohort similarity
    * ([[graft.functions.Similarity.activityCosineTopK]]): the 3 users
    * whose hour-of-day activity profile most resembles each query
    * user's (ids < 20) — the change stream feeding per-entity feature
    * vectors, cosine via the sparse hour-bin inverted index (no dense
    * vector, cells-only shuffles). Exhaustive baseline like p9; the
    * LSH route is the scale path. */
  private def q36(s: SparkSession, dir: String): DataFrame =
    graft.functions.Similarity.activityCosineTopK(
      eventsUs(s, dir), "user_id", "ts_us", HourUs, col("user_id") < 20, 3)
      .orderBy("q_id", "rk")

  /** Q37 — q36's SCALE route
    * ([[graft.functions.Similarity.activityCosineTopKLsh]]): sign-LSH
    * over the mean-centered 24-bin activity histogram, exact cosine on
    * bucket-collision candidates only — the (table, bucket) candidate
    * join carries 16x64 distinct keys where q36's hour-bin join carries
    * 24, and per-query work is the collision set, not the key
    * population. Deterministic planes -> fully oracle-checkable; recall
    * vs the exact q36 answer pinned in SimilaritySpec. */
  private def q37(s: SparkSession, dir: String): DataFrame =
    graft.functions.Similarity.activityCosineTopKLsh(
      eventsUs(s, dir), "user_id", "ts_us", HourUs, col("user_id") < 20, 3)
      .orderBy("q_id", "rk")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_op_filter" -> q1 _,
    "q2_before_after" -> q2 _,
    "q3_initial_offset" -> q3 _,
    "q4_delta_scan" -> q4 _,
    "q5_gap_detect" -> q5 _,
    "q6_latest_state" -> q6 _,
    "q7_op_counters" -> q7 _,
    "q8_batch_rollup" -> q8 _,
    "q9_json_decode" -> q9 _,
    "q10_hydration_join" -> q10 _,
    "q11_delete_apply" -> q11 _,
    "q12_dedup" -> q12 _,
    "q13_pattern_seq" -> q13 _,
    "q14_pattern_absence" -> q14 _,
    "q15_pattern_burst" -> q15 _,
    "q16_sessionize" -> q16 _,
    "q17_asof_join" -> q17 _,
    "q18_pattern_and" -> q18 _,
    "q19_pattern_count_seq" -> q19 _,
    "q20_pattern_or" -> q20 _,
    "q21_pattern_chain" -> q21 _,
    "q22_pattern_guard" -> q22 _,
    "q23_length_window" -> q23 _,
    "q24_rate_limit" -> q24 _,
    "q25_rate_limit_last" -> q25 _,
    "q26_snapshot_diff" -> q26 _,
    "q27_length_batch" -> q27 _,
    "q28_snapshot_diff_pruned" -> q28 _,
    "q29_sort_window" -> q29 _,
    "q30_frequent" -> q30 _,
    "q31_time_length" -> q31 _,
    "q32_delay_window" -> q32 _,
    "q33_lossy_frequent" -> q33 _,
    "q34_incremental_agg" -> q34 _,
    "q35_agg_maintain" -> q35 _,
    "q36_user_similarity" -> q36 _,
    "q37_user_similarity_lsh" -> q37 _,
  )

  val oracleSql: Map[String, String] = Map(
    "q1_op_filter" ->
      """SELECT event_id, user_id, event_type, value
        |FROM events WHERE event_type IN ('purchase', 'signup')
        |ORDER BY event_id""".stripMargin,
    "q2_before_after" ->
      """SELECT user_id, event_id, value,
        |       LAG(value) OVER (PARTITION BY user_id ORDER BY event_id) AS before_value
        |FROM events
        |ORDER BY user_id, event_id""".stripMargin,
    "q3_initial_offset" ->
      "SELECT COALESCE(MAX(event_id), -1) AS last_offset FROM events",
    "q4_delta_scan" ->
      """SELECT event_id, user_id, event_type, value
        |FROM events WHERE event_id > 900
        |ORDER BY event_id""".stripMargin,
    "q5_gap_detect" ->
      """SELECT event_id + 1 AS missing_from, next_id - 1 AS missing_to
        |FROM (SELECT event_id,
        |             LEAD(event_id) OVER (ORDER BY event_id) AS next_id
        |      FROM events WHERE event_type = 'purchase') g
        |WHERE next_id - event_id > 1
        |ORDER BY missing_from""".stripMargin,
    "q6_latest_state" ->
      """SELECT user_id, event_id, event_type, value
        |FROM (SELECT e.*,
        |             ROW_NUMBER() OVER (PARTITION BY user_id
        |                                ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events e) t
        |WHERE rn = 1
        |ORDER BY user_id""".stripMargin,
    "q7_op_counters" ->
      """SELECT event_type, COUNT(*) AS cnt
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q8_batch_rollup" ->
      """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS d, COUNT(*) AS cnt,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY 1
        |ORDER BY d""".stripMargin,
    "q9_json_decode" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
        |FROM events WHERE event_type = 'error'
        |ORDER BY event_id""".stripMargin,
    "q10_hydration_join" ->
      """SELECT e.event_id, e.user_id, c.c_name, e.value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |WHERE e.event_type = 'purchase'
        |ORDER BY e.event_id""".stripMargin,
    "q11_delete_apply" ->
      """SELECT c.c_custkey, c.c_name
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM events e
        |                  WHERE e.user_id = c.c_custkey AND e.event_type = 'error')
        |ORDER BY c.c_custkey""".stripMargin,
    "q12_dedup" ->
      """SELECT DISTINCT user_id, event_type
        |FROM events
        |ORDER BY user_id, event_type""".stripMargin,
    "q13_pattern_seq" ->
      s"""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tns FROM events),
         |n AS (SELECT *, min(CASE WHEN event_type = 'purchase'
         |        THEN lpad(CAST(tns AS VARCHAR), 20, '0') || lpad(CAST(event_id AS VARCHAR), 12, '0') END)
         |        OVER (PARTITION BY user_id ORDER BY tns, event_id
         |              ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nb
         |      FROM e)
         |SELECT user_id, event_id AS a_id,
         |       CAST(substr(nb, 21, 12) AS BIGINT) AS b_id,
         |       CAST(substr(nb, 1, 20) AS BIGINT) - tns AS gap_us
         |FROM n
         |WHERE event_type = 'signup' AND nb IS NOT NULL
         |  AND CAST(substr(nb, 1, 20) AS BIGINT) - tns <= $Hours12Us
         |ORDER BY user_id, a_id""".stripMargin,
    "q14_pattern_absence" ->
      s"""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tns FROM events),
         |n AS (SELECT *, min(CASE WHEN event_type = 'purchase'
         |        THEN lpad(CAST(tns AS VARCHAR), 20, '0') || lpad(CAST(event_id AS VARCHAR), 12, '0') END)
         |        OVER (PARTITION BY user_id ORDER BY tns, event_id
         |              ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nb
         |      FROM e)
         |SELECT user_id, event_id AS a_id
         |FROM n
         |WHERE event_type = 'signup'
         |  AND (nb IS NULL OR CAST(substr(nb, 1, 20) AS BIGINT) - tns > $Hours12Us)
         |ORDER BY user_id, a_id""".stripMargin,
    "q15_pattern_burst" ->
      s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tns FROM events
         |           WHERE event_type = 'error')
         |SELECT user_id, event_id, cnt FROM (
         |  SELECT user_id, event_id,
         |         count(*) OVER (PARTITION BY user_id ORDER BY tns
         |           RANGE BETWEEN CAST($Hours24Us AS BIGINT) PRECEDING AND CURRENT ROW) AS cnt
         |  FROM e)
         |WHERE cnt >= 3 ORDER BY user_id, event_id""".stripMargin,
    "q16_sessionize" ->
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS tns FROM events),
         |l AS (SELECT *, CASE WHEN tns - lag(tns) OVER (PARTITION BY user_id ORDER BY tns) <= $Hours6Us
         |                     THEN 0 ELSE 1 END AS new_sess FROM e),
         |s AS (SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY tns
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess FROM l)
         |SELECT user_id, min(tns) AS session_start_us, count(*) AS n_events
         |FROM s GROUP BY user_id, sess
         |ORDER BY user_id, session_start_us""".stripMargin,
    "q17_asof_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us
        |           FROM events),
        |s0 AS (SELECT user_id, ts_us, value AS signup_value,
        |         row_number() OVER (PARTITION BY user_id, ts_us ORDER BY event_id DESC) AS rn
        |       FROM e WHERE event_type = 'signup'),
        |sd AS (SELECT user_id, ts_us, signup_value FROM s0 WHERE rn = 1),
        |p AS (SELECT event_id, user_id, ts_us, value FROM e WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.value, sd.signup_value
        |FROM p ASOF LEFT JOIN sd ON p.user_id = sd.user_id AND p.ts_us >= sd.ts_us
        |ORDER BY p.event_id""".stripMargin,
    "q18_pattern_and" ->
      s"""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tns FROM events),
         |n AS (SELECT *,
         |        min(CASE WHEN event_type = 'purchase'
         |          THEN lpad(CAST(tns AS VARCHAR), 20, '0') || lpad(CAST(event_id AS VARCHAR), 12, '0') END)
         |          OVER (PARTITION BY user_id ORDER BY tns, event_id
         |                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nb,
         |        max(CASE WHEN event_type = 'purchase'
         |          THEN lpad(CAST(tns AS VARCHAR), 20, '0') || lpad(CAST(event_id AS VARCHAR), 12, '0') END)
         |          OVER (PARTITION BY user_id ORDER BY tns, event_id
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pb
         |      FROM e),
         |g AS (SELECT user_id, event_id, event_type, tns,
         |        CAST(substr(nb, 21, 12) AS BIGINT) AS nb_id,
         |        CAST(substr(nb, 1, 20) AS BIGINT) - tns AS gap_n,
         |        CAST(substr(pb, 21, 12) AS BIGINT) AS pb_id,
         |        tns - CAST(substr(pb, 1, 20) AS BIGINT) AS gap_p,
         |        (nb IS NOT NULL AND CAST(substr(nb, 1, 20) AS BIGINT) - tns <= $Hours12Us) AS ok_n,
         |        (pb IS NOT NULL AND tns - CAST(substr(pb, 1, 20) AS BIGINT) <= $Hours12Us) AS ok_p
         |      FROM n)
         |SELECT user_id, event_id AS a_id,
         |       CASE WHEN ok_p AND (NOT ok_n OR gap_p <= gap_n) THEN pb_id ELSE nb_id END AS b_id,
         |       CASE WHEN ok_p AND (NOT ok_n OR gap_p <= gap_n) THEN gap_p ELSE gap_n END AS gap_us
         |FROM g
         |WHERE event_type = 'signup' AND (ok_n OR ok_p)
         |ORDER BY user_id, a_id""".stripMargin,
    "q19_pattern_count_seq" ->
      s"""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus FROM events)
         |SELECT user_id, b_id, a_cnt FROM (
         |  SELECT user_id, event_id AS b_id, event_type,
         |         count(CASE WHEN event_type = 'view' THEN 1 END) OVER (
         |           PARTITION BY user_id ORDER BY tus
         |           RANGE BETWEEN CAST($Hours24Us AS BIGINT) PRECEDING AND CURRENT ROW) AS a_cnt
         |  FROM e)
         |WHERE event_type = 'purchase' AND a_cnt >= 3
         |ORDER BY user_id, b_id""".stripMargin,
    "q20_pattern_or" ->
      """SELECT user_id,
        |       CASE WHEN event_type = 'signup' THEN event_id END AS a_id,
        |       CASE WHEN event_type = 'error' THEN event_id END AS b_id
        |FROM events
        |WHERE event_type IN ('signup', 'error')
        |ORDER BY user_id, COALESCE(a_id, b_id)""".stripMargin,
    "q21_pattern_chain" ->
      s"""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus FROM events),
         |c1 AS (SELECT *, min(CASE WHEN event_type = 'purchase'
         |        THEN lpad(CAST(tus AS VARCHAR), 20, '0') || lpad(CAST(event_id AS VARCHAR), 12, '0') END)
         |        OVER (PARTITION BY user_id ORDER BY tus, event_id
         |              ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nc
         |      FROM e),
         |c2 AS (SELECT *, min(CASE WHEN event_type = 'view'
         |        THEN lpad(CAST(tus AS VARCHAR), 20, '0') || lpad(CAST(event_id AS VARCHAR), 12, '0')
         |             || coalesce(nc, '~') END)
         |        OVER (PARTITION BY user_id ORDER BY tus, event_id
         |              ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nbc
         |      FROM c1)
         |SELECT user_id, event_id AS a_id,
         |       CAST(substr(nbc, 21, 12) AS BIGINT) AS b_id,
         |       CAST(substr(nbc, 53, 12) AS BIGINT) AS c_id,
         |       CAST(substr(nbc, 33, 20) AS BIGINT) - tus AS gap_us
         |FROM c2
         |WHERE event_type = 'signup' AND nbc IS NOT NULL AND substr(nbc, 33, 1) != '~'
         |  AND CAST(substr(nbc, 33, 20) AS BIGINT) - tus <= $Hours24Us
         |ORDER BY user_id, a_id""".stripMargin,
    "q22_pattern_guard" ->
      s"""WITH e AS (SELECT user_id, event_id, event_type, value, epoch_us(ts) AS tus FROM events),
         |a AS (SELECT user_id, event_id AS a_id, tus AS ta, value AS a_value
         |      FROM e WHERE event_type = 'signup'),
         |b AS (SELECT user_id, event_id AS b_id, tus AS tb, value AS b_value
         |      FROM e WHERE event_type = 'purchase'),
         |j AS (SELECT a.user_id, a.a_id, a.a_value, a.ta, b.tb, b.b_id
         |      FROM a JOIN b ON a.user_id = b.user_id
         |      WHERE (b.tb > a.ta OR (b.tb = a.ta AND b.b_id > a.a_id))
         |        AND b.tb - a.ta <= $Hours12Us AND b.b_value > a.a_value),
         |m AS (SELECT user_id, a_id, a_value, ta,
         |             min(lpad(CAST(tb AS VARCHAR), 20, '0') || lpad(CAST(b_id AS VARCHAR), 12, '0')) AS f
         |      FROM j GROUP BY 1, 2, 3, 4)
         |SELECT user_id, a_id, CAST(substr(f, 21, 12) AS BIGINT) AS b_id, a_value,
         |       CAST(substr(f, 1, 20) AS BIGINT) - ta AS gap_us
         |FROM m ORDER BY user_id, a_id""".stripMargin,
    "q23_length_window" ->
      """SELECT user_id, event_id,
        |       count(*) OVER w AS win_cnt,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS win_sum
        |FROM events
        |WHERE event_type = 'purchase'
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,
    "q27_length_batch" ->
      """WITH e AS (SELECT user_id, event_id, value, epoch_us(ts) AS tus FROM events
        |           WHERE event_type = 'purchase'),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY tus, event_id) AS pos
        |      FROM e),
        |b AS (SELECT user_id, CAST((pos - 1) // 5 AS BIGINT) AS batch_no, count(*) AS cnt,
        |        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS batch_sum,
        |        arg_min(event_id, pos) AS first_id, arg_max(event_id, pos) AS last_id
        |      FROM r GROUP BY 1, 2)
        |SELECT user_id, batch_no, batch_sum, first_id, last_id
        |FROM b WHERE cnt = 5 ORDER BY user_id, batch_no""".stripMargin,
    "q24_rate_limit" ->
      s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus FROM events
         |           WHERE event_type = 'error'),
         |r AS (SELECT user_id, event_id, tus // $Hours6Us AS b,
         |        row_number() OVER (PARTITION BY user_id, tus // $Hours6Us
         |                           ORDER BY tus, event_id) AS rn
         |      FROM e)
         |SELECT user_id, event_id, b * $Hours6Us AS bucket_start_us
         |FROM r WHERE rn = 1
         |ORDER BY user_id, bucket_start_us""".stripMargin,
    "q25_rate_limit_last" ->
      s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus FROM events
         |           WHERE event_type = 'purchase'),
         |r AS (SELECT user_id, event_id, tus // $Hours6Us AS b,
         |        row_number() OVER (PARTITION BY user_id, tus // $Hours6Us
         |                           ORDER BY tus DESC, event_id DESC) AS rn
         |      FROM e)
         |SELECT user_id, event_id, b * $Hours6Us AS bucket_start_us
         |FROM r WHERE rn = 1
         |ORDER BY user_id, bucket_start_us""".stripMargin,
    "q26_snapshot_diff" ->
      """WITH o AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |             CAST(floor(o_totalprice * 100) AS BIGINT) AS o_cents FROM orders),
        |b AS (SELECT * FROM o WHERE o_orderkey % 7 <> 0),
        |a AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |        CASE WHEN o_orderkey % 3 = 0 THEN o_cents * 2 ELSE o_cents END AS o_cents
        |      FROM o WHERE o_orderkey % 5 <> 0)
        |SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
        |  a.o_custkey AS o_custkey, a.o_orderstatus AS o_orderstatus,
        |  a.o_cents AS o_cents,
        |  b.o_custkey AS before_o_custkey, b.o_orderstatus AS before_o_orderstatus,
        |  b.o_cents AS before_o_cents,
        |  CASE WHEN b.o_orderkey IS NULL THEN 'insert'
        |       WHEN a.o_orderkey IS NULL THEN 'delete' ELSE 'update' END AS _op
        |FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
        |WHERE a.o_orderkey IS NULL OR b.o_orderkey IS NULL
        |   OR a.o_custkey IS DISTINCT FROM b.o_custkey
        |   OR a.o_orderstatus IS DISTINCT FROM b.o_orderstatus
        |   OR a.o_cents IS DISTINCT FROM b.o_cents
        |ORDER BY o_orderkey""".stripMargin,
    // identical SQL to q26: the digest prune is physical, not semantic
    "q28_snapshot_diff_pruned" ->
      """WITH o AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |             CAST(floor(o_totalprice * 100) AS BIGINT) AS o_cents FROM orders),
        |b AS (SELECT * FROM o WHERE o_orderkey % 7 <> 0),
        |a AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |        CASE WHEN o_orderkey % 3 = 0 THEN o_cents * 2 ELSE o_cents END AS o_cents
        |      FROM o WHERE o_orderkey % 5 <> 0)
        |SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
        |  a.o_custkey AS o_custkey, a.o_orderstatus AS o_orderstatus,
        |  a.o_cents AS o_cents,
        |  b.o_custkey AS before_o_custkey, b.o_orderstatus AS before_o_orderstatus,
        |  b.o_cents AS before_o_cents,
        |  CASE WHEN b.o_orderkey IS NULL THEN 'insert'
        |       WHEN a.o_orderkey IS NULL THEN 'delete' ELSE 'update' END AS _op
        |FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
        |WHERE a.o_orderkey IS NULL OR b.o_orderkey IS NULL
        |   OR a.o_custkey IS DISTINCT FROM b.o_custkey
        |   OR a.o_orderstatus IS DISTINCT FROM b.o_orderstatus
        |   OR a.o_cents IS DISTINCT FROM b.o_cents
        |ORDER BY o_orderkey""".stripMargin,
    "q29_sort_window" ->
      """WITH p AS (SELECT user_id, event_id, value,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY value, event_id) AS rk
        |  FROM events WHERE event_type = 'purchase')
        |SELECT user_id, CAST(rk AS BIGINT) AS rk, event_id, value
        |FROM p WHERE rk <= 3 ORDER BY user_id, rk""".stripMargin,
    "q30_frequent" ->
      """WITH c AS (SELECT user_id, event_type, count(*) AS cnt
        |  FROM events GROUP BY user_id, event_type),
        |r AS (SELECT user_id, event_type, cnt,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY cnt DESC, event_type) AS rk
        |  FROM c)
        |SELECT user_id, CAST(rk AS BIGINT) AS rk, event_type,
        |       CAST(cnt AS BIGINT) AS cnt
        |FROM r WHERE rk <= 2 ORDER BY user_id, rk""".stripMargin,
    "q31_time_length" ->
      s"""WITH e AS (SELECT user_id, event_id, value, epoch_us(ts) AS tus
         |  FROM events WHERE event_type = 'purchase'),
         |r AS (SELECT user_id, event_id, tus, value,
         |    row_number() OVER (PARTITION BY user_id ORDER BY tus, event_id) AS rn,
         |    count(*) OVER (PARTITION BY user_id ORDER BY tus
         |      RANGE BETWEEN UNBOUNDED PRECEDING AND $Hours12Us PRECEDING) AS expired,
         |    sum(CAST(value AS DECIMAL(18,2))) OVER (
         |      PARTITION BY user_id ORDER BY tus, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM e)
         |SELECT a.user_id, a.event_id,
         |  CAST(least(a.rn - a.expired, 5) AS BIGINT) AS win_cnt,
         |  CAST(a.cum - coalesce(b.cum, 0) AS DOUBLE) AS win_sum
         |FROM r a LEFT JOIN r b
         |  ON a.user_id = b.user_id AND b.rn = a.rn - least(a.rn - a.expired, 5)
         |ORDER BY a.user_id, a.event_id""".stripMargin,
    "q32_delay_window" ->
      s"""WITH e AS (SELECT user_id, event_id, value, epoch_us(ts) AS tus
         |  FROM events WHERE event_type = 'purchase')
         |SELECT user_id, event_id,
         |  count(*) OVER w AS rel_cnt,
         |  CAST(coalesce(sum(CAST(value AS DECIMAL(18,2))) OVER w,
         |       CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS rel_sum
         |FROM e
         |WINDOW w AS (PARTITION BY user_id ORDER BY tus
         |             RANGE BETWEEN UNBOUNDED PRECEDING AND $Hours12Us PRECEDING)
         |ORDER BY user_id, event_id""".stripMargin,
    "q33_lossy_frequent" ->
      """WITH c AS (SELECT user_id, event_type, count(*) AS cnt
        |  FROM events GROUP BY user_id, event_type),
        |t AS (SELECT user_id, event_type, cnt,
        |    CAST(sum(cnt) OVER (PARTITION BY user_id) AS BIGINT) AS total FROM c)
        |SELECT user_id, event_type, cnt, total
        |FROM t WHERE cnt * 1000 >= 250 * total
        |ORDER BY user_id, event_type""".stripMargin,
    // the oracle aggregates DIRECTLY at day grain — the Spark side must
    // reach the identical cells through the hour→day ladder
    "q34_incremental_agg" ->
      s"""WITH e AS (SELECT user_id, value, epoch_us(ts) AS tus
         |  FROM events WHERE event_type = 'purchase'),
         |d AS (SELECT user_id, (tus // $DayUs) * $DayUs AS bucket_start_us,
         |    count(*) AS cnt,
         |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
         |  FROM e GROUP BY 1, 2)
         |SELECT user_id, bucket_start_us, cnt, total FROM d
         |WHERE bucket_start_us >= $AggFromUs AND bucket_start_us < $AggToUs
         |ORDER BY user_id, bucket_start_us""".stripMargin,
    // the oracle aggregates the AFTER-table directly — the Spark side
    // must reach identical cells by folding the change set into the
    // before-table's ladder (retraction correctness)
    "q35_agg_maintain" ->
      s"""WITH a AS (SELECT user_id, epoch_us(ts) AS tus,
         |    CASE WHEN event_id % 3 = 0 THEN value * 2 ELSE value END AS value
         |  FROM events WHERE event_id % 5 <> 0)
         |SELECT user_id, (tus // $DayUs) * $DayUs AS bucket_start_us,
         |  count(*) AS cnt,
         |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
         |FROM a GROUP BY 1, 2
         |ORDER BY user_id, bucket_start_us""".stripMargin,
    // identical IEEE recipe both sides: integer dot, sqrt(double) norms,
    // floor(1e6 * dot / (na * nb)); the hour bin is floor-div + a
    // NON-NEGATIVE mod on both sides (DuckDB % is dividend-signed, so a
    // pre-epoch timestamp would otherwise bin at -1 vs Spark's pmod 23)
    "q36_user_similarity" ->
      s"""WITH c AS (SELECT user_id,
         |    (((epoch_us(ts) // $HourUs) % 24) + 24) % 24 AS h,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM events GROUP BY 1, 2),
         |n AS (SELECT user_id, sqrt(CAST(sum(cnt * cnt) AS DOUBLE)) AS nrm
         |  FROM c GROUP BY 1),
         |d AS (SELECT a.user_id AS q_id, b.user_id AS n_id,
         |    CAST(sum(a.cnt * b.cnt) AS BIGINT) AS dot
         |  FROM c a JOIN c b ON a.h = b.h AND b.user_id != a.user_id
         |  WHERE a.user_id < 20 GROUP BY 1, 2),
         |s AS (SELECT q_id, n_id,
         |    CAST(floor(1000000.0 * dot / (na.nrm * nb.nrm)) AS BIGINT) AS sim_micro
         |  FROM d JOIN n na ON d.q_id = na.user_id JOIN n nb ON d.n_id = nb.user_id),
         |r AS (SELECT q_id, n_id, sim_micro,
         |    row_number() OVER (PARTITION BY q_id
         |                       ORDER BY sim_micro DESC, n_id) AS rk FROM s)
         |SELECT q_id, CAST(rk AS BIGINT) AS rk, n_id, sim_micro
         |FROM r WHERE rk <= 3 ORDER BY q_id, rk""".stripMargin,
    // q37 = q36's LSH route: 16 tables x 6 sign bits over the MEAN-CENTERED
    // dense 24-bin histogram (bit j of table t reads bin (t*5+j)%24;
    // 24*cnt - total >= 0), exact integer-dot cosine on bucket-collision
    // candidates only — same sim recipe as q36, candidates instead of the
    // full hour-bin join
    "q37_user_similarity_lsh" ->
      s"""WITH c AS (SELECT user_id,
         |    (((epoch_us(ts) // $HourUs) % 24) + 24) % 24 AS h,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM events GROUP BY 1, 2),
         |tot AS (SELECT user_id, sum(cnt) AS total FROM c GROUP BY 1),
         |hours AS (SELECT unnest(range(0, 24)) AS h),
         |filled AS (SELECT t.user_id, hs.h, coalesce(c.cnt, 0) AS cnt
         |  FROM tot t CROSS JOIN hours hs
         |  LEFT JOIN c ON c.user_id = t.user_id AND c.h = hs.h),
         |tj AS (SELECT tt.t, jj.j, (tt.t * 5 + jj.j) % 24 AS h
         |  FROM (SELECT unnest(range(0, 16)) AS t) tt
         |  CROSS JOIN (SELECT unnest(range(0, 6)) AS j) jj),
         |sigs AS (SELECT f.user_id, tj.t,
         |    sum(CASE WHEN 24 * f.cnt - t.total >= 0 THEN 1 << tj.j ELSE 0 END) AS bucket
         |  FROM filled f JOIN tj ON f.h = tj.h JOIN tot t ON t.user_id = f.user_id
         |  GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT sq.user_id AS q_id, sc.user_id AS n_id
         |  FROM sigs sq JOIN sigs sc ON sq.t = sc.t AND sq.bucket = sc.bucket
         |       AND sc.user_id != sq.user_id
         |  WHERE sq.user_id < 20),
         |n AS (SELECT user_id, sqrt(CAST(sum(cnt * cnt) AS DOUBLE)) AS nrm
         |  FROM c GROUP BY 1),
         |d AS (SELECT cand.q_id, cand.n_id, CAST(sum(a.cnt * b.cnt) AS BIGINT) AS dot
         |  FROM cand JOIN filled a ON a.user_id = cand.q_id
         |       JOIN filled b ON b.user_id = cand.n_id AND a.h = b.h
         |  GROUP BY 1, 2),
         |s AS (SELECT q_id, n_id,
         |    CAST(floor(1000000.0 * dot / (na.nrm * nb.nrm)) AS BIGINT) AS sim_micro
         |  FROM d JOIN n na ON d.q_id = na.user_id JOIN n nb ON d.n_id = nb.user_id),
         |r AS (SELECT q_id, n_id, sim_micro,
         |    row_number() OVER (PARTITION BY q_id
         |                       ORDER BY sim_micro DESC, n_id) AS rk FROM s)
         |SELECT q_id, CAST(rk AS BIGINT) AS rk, n_id, sim_micro
         |FROM r WHERE rk <= 3 ORDER BY q_id, rk""".stripMargin,
  )
}
