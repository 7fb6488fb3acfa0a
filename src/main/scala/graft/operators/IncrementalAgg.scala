package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-granularity incremental aggregation — the Siddhi host-language
  * feature (`define aggregation A from S select sum(value) aggregate by ts
  * every sec ... year`) that pre-computes an aggregate at a ladder of time
  * granularities and answers on-demand queries (`from A within ... per
  * 'days'`) from the matching level. The reference's CDC streams are the
  * canonical feed for exactly this (change stream → running per-entity
  * rollups).
  *
  * Spark-first shape: ONLY the finest level ever touches raw rows — one
  * partial-aggregated exchange collapses the stream to (key, bucket)
  * cells — and every coarser level re-aggregates the PREVIOUS level, so
  * its input is cell-count-sized, not row-count-sized. At 100 TB the
  * hour→day→month chain costs one full scan plus a few cell-table
  * passes, the same cascade Siddhi's IncrementalExecutor runs in-memory
  * per event. Sums ride decimal(18,2) through every level (sum-of-sums
  * of decimals is exact, so the chain answers bit-identically to a
  * direct aggregation at any level — the correctness contract q34 pins
  * against DuckDB).
  *
  * Deployment note: each level is a plain DataFrame — persist the ladder
  * as parquet and a capture loop (see [[graft.streaming.SnapshotCapture]])
  * updates it incrementally by re-aggregating only the buckets its delta
  * touches; the streaming twin
  * [[graft.streaming.IncrementalAggStream.finestLevel]] maintains the
  * finest level live with the built-in watermark + tumbling-window
  * aggregation.
  */
object IncrementalAgg {

  /** Largest multiple of `g` at or below the value — floor semantics for
    * any timestamp sign (pmod is non-negative). */
  private def bucketStart(c: Column, g: Long): Column = c - pmod(c, lit(g))

  /** Build the granularity ladder: `granularities` are (name, bucket
    * width in the ts column's unit), ascending, each width a multiple of
    * the previous (hour → day → month alignment — the same constraint
    * Siddhi's `every sec...year` ladder has). Returns one table per
    * level: (key, bucket_start, cnt, sum_dec). */
  def rollup(events: DataFrame, keyCol: String, tsCol: String, valueCol: String,
             granularities: Seq[(String, Long)]): Seq[(String, DataFrame)] = {
    validate(granularities)
    val (finestName, finest) = granularities.head
    val base = events
      .groupBy(col(keyCol), bucketStart(col(tsCol), finest).as("bucket_start"))
      .agg(count(lit(1)).as("cnt"),
        sum(col(valueCol).cast("decimal(18,2)")).as("sum_dec"))
    ladderFrom(keyCol, finestName, base, granularities)
  }

  private def validate(granularities: Seq[(String, Long)]): Unit = {
    require(granularities.nonEmpty, "need at least one granularity")
    granularities.foreach { case (n, g) =>
      require(g > 0, s"granularity $n must be positive, got $g") }
    granularities.sliding(2).foreach {
      case Seq((nf, f), (nc, c)) =>
        require(c > f && c % f == 0,
          s"granularities must ascend and nest: $nc ($c) is not a multiple of $nf ($f)")
      case _ => ()
    }
  }

  /** Rebuild the full ladder from a STORED finest-level cell table (the
    * read-side companion of [[rollup]]/[[advance]]: a deployment
    * persists only the finest level, and every coarser level re-derives
    * cell-sized). Validates the nesting like [[rollup]]. */
  def ladder(finest: DataFrame, keyCol: String,
             granularities: Seq[(String, Long)]): Seq[(String, DataFrame)] = {
    validate(granularities)
    ladderFrom(keyCol, granularities.head._1, finest, granularities)
  }

  /** Coarser levels from a finest-level cell table (shared by [[rollup]]
    * and [[advance]] so both produce identical level schemas). */
  private def ladderFrom(keyCol: String, finestName: String, finest: DataFrame,
                         granularities: Seq[(String, Long)]): Seq[(String, DataFrame)] =
    granularities.tail.foldLeft(Vector(finestName -> finest)) { case (acc, (name, g)) =>
      val prev = acc.last._2
      acc :+ (name -> prev
        .groupBy(col(keyCol), bucketStart(col("bucket_start"), g).as("bucket_start"))
        .agg(sum(col("cnt")).as("cnt"), sum(col("sum_dec")).as("sum_dec")))
    }

  /** Incrementally fold a DELTA of raw events into a stored ladder — the
    * capture-loop form (Siddhi's IncrementalExecutor folds each arriving
    * event; a Spark deployment persists the finest level as parquet and
    * calls this per polling/capture round): only the delta ever pays
    * raw-row work — its cells merge with the stored finest level by a
    * (key, bucket) re-aggregation over CELLS, and the coarser levels
    * rebuild from the merged cells, cell-sized passes all the way up.
    * Exactness: decimal sums are associative, so
    * `advance(rollup(A).head._2, B, ...) == rollup(A ∪ B)` level by
    * level, bit-for-bit (the IncrementalAggSpec contract, through a
    * parquet round-trip). The merged sum is cast back to the finest
    * level's decimal(28,2) so repeated advances keep a stable stored
    * schema (28,2 holds > 1e26 XX.xx-cents — unreachable). */
  def advance(prevFinest: DataFrame, delta: DataFrame, keyCol: String,
              tsCol: String, valueCol: String,
              granularities: Seq[(String, Long)]): Seq[(String, DataFrame)] = {
    val deltaFinest = rollup(delta, keyCol, tsCol, valueCol,
      granularities.take(1)).head._2
    val merged = prevFinest
      .select(col(keyCol), col("bucket_start"), col("cnt"), col("sum_dec"))
      .unionByName(deltaFinest.select(col(keyCol), col("bucket_start"),
        col("cnt"), col("sum_dec").cast(prevFinest.schema("sum_dec").dataType)))
      .groupBy(col(keyCol), col("bucket_start"))
      .agg(sum(col("cnt")).as("cnt"),
        sum(col("sum_dec")).cast("decimal(28,2)").as("sum_dec"))
    ladderFrom(keyCol, granularities.head._1, merged, granularities)
  }

  /** Fold a CHANGE SET (the envelope convention every capture mode of
    * this engine emits — [[graft.operators.SnapshotDiff]], the polling
    * source, Debezium replay) into a stored ladder: count and sum are
    * RETRACTABLE aggregates, so an update subtracts its before-image
    * cell contribution and adds its after-image one (an event that moved
    * buckets or keys retracts where it was and lands where it is now), a
    * delete only subtracts, an insert only adds. Cells whose count nets
    * to zero are pruned, so the maintained ladder is EXACTLY
    * `rollup(currentTable)` at every level — the contract
    * `advanceChanges(rollup(S), diff(S, S')) == rollup(S')`, pinned
    * bit-for-bit in IncrementalAggSpec. This closes the CDC→aggregation
    * loop: a 100 TB source is scanned once at bootstrap and each capture
    * round pays only its change set. */
  def advanceChanges(prevFinest: DataFrame, changes: DataFrame, keyCol: String,
                     tsCol: String, valueCol: String,
                     granularities: Seq[(String, Long)], opCol: String = "_op",
                     beforePrefix: String = "before_"): Seq[(String, DataFrame)] = {
    val g = granularities.head._2
    // ONE pass over the change set (r17): the former pos/neg union
    // filtered `changes` twice with different predicates, so a computed
    // change set (e.g. a SnapshotDiff, itself a full-outer join of two
    // corpus scans) was derived twice per fold — the filters push below
    // the diff's exchanges, so AQE stage reuse cannot dedupe them. Each
    // change row instead EXPLODES into its signed cell contributions
    // (after-image +1 for insert/update, before-image −1 for
    // update/delete); same contribution multiset, one derivation.
    // Measured (sf0.1 min-of-5 matched window, OPTIMIZATION_r17.md §1): q35
    // 1.30 → 1.15 s, plan 5 → 3 events scans; bit-identical output
    // (decimal sums are order-independent; IncrementalAggSpec pins
    // advanceChanges == rollup of the after-table).
    val contrib = changes.select(explode(array(
      struct(col(keyCol).as("_k"), col(tsCol).as("_t"),
        col(valueCol).cast("decimal(18,2)").as("_v"), lit(1L).as("_s"),
        col(opCol).isin("insert", "update").as("_keep")),
      struct(col(beforePrefix + keyCol).as("_k"), col(beforePrefix + tsCol).as("_t"),
        (-col(beforePrefix + valueCol)).cast("decimal(18,2)").as("_v"),
        lit(-1L).as("_s"),
        col(opCol).isin("update", "delete").as("_keep")))).as("_c"))
      .where(col("_c._keep"))
      .select(col("_c._k").as("_k"), col("_c._t").as("_t"),
        col("_c._v").as("_v"), col("_c._s").as("_s"))
    val cells = contrib
      .groupBy(col("_k"), bucketStart(col("_t"), g).as("bucket_start"))
      .agg(sum(col("_s")).as("cnt"), sum(col("_v")).as("sum_dec"))
      .withColumnRenamed("_k", keyCol)
    val merged = prevFinest
      .select(col(keyCol), col("bucket_start"), col("cnt"), col("sum_dec"))
      .unionByName(cells.select(col(keyCol), col("bucket_start"), col("cnt"),
        col("sum_dec").cast(prevFinest.schema("sum_dec").dataType)))
      .groupBy(col(keyCol), col("bucket_start"))
      .agg(sum(col("cnt")).as("cnt"),
        sum(col("sum_dec")).cast("decimal(28,2)").as("sum_dec"))
      .where(col("cnt") =!= 0)
    ladderFrom(keyCol, granularities.head._1, merged, granularities)
  }

  /** The on-demand query (Siddhi `from A within [from, to) per 'level'`):
    * answer from the named level's cells, bucket_start in [fromTs, toTs).
    * Output: (key, bucket_start, cnt, total) with the decimal chain cast
    * to double only here, at the edge. */
  def query(levels: Seq[(String, DataFrame)], level: String,
            fromTs: Long, toTs: Long): DataFrame = {
    val tbl = levels.collectFirst { case (n, df) if n == level => df }
      .getOrElse(throw new IllegalArgumentException(
        s"unknown level '$level' (have ${levels.map(_._1).mkString(", ")})"))
    tbl.where(col("bucket_start") >= fromTs && col("bucket_start") < toTs)
      .select(col(tbl.columns.head), col("bucket_start"), col("cnt"),
        col("sum_dec").cast("double").as("total"))
  }
}
