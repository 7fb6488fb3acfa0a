package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import graft.core.ChangeEnvelope

/** Streaming analytics over change streams — the host-query surface the
  * reference delegates to Siddhi core (SURVEY §2.2), expressed with
  * Structured Streaming primitives: event-time windows + watermarks,
  * at-least-once dedup, and stateful latest-image materialization.
  *
  * Scale notes: all three are keyed-state operators that shuffle once on
  * the grouping key and keep per-key state in the state store (RocksDB at
  * cluster scale) — no driver state, no global windows.
  */
object StreamOps {

  /** Tumbling event-time counts per operation with late-data handling:
    * `window($"ts", interval)` + `withWatermark` — the streaming analog
    * of the reference's per-poll batch counters (O20/Q8). */
  def windowedOpCounts(events: DataFrame, tsCol: String, opCol: String,
                       windowLen: String, watermark: String): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col(opCol))
      .agg(count(lit(1)).as("cnt"))

  /** At-least-once delivery dedup within a watermark horizon
    * (`dropDuplicatesWithinWatermark`): replays of the same change event
    * (same key + ts) collapse to one row. State is bounded by the
    * watermark — safe on an unbounded stream. */
  def dedupWithinWatermark(events: DataFrame, tsCol: String, watermark: String,
                           keyCols: Seq[String]): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols :+ tsCol)

  case class KeyedChange(key: String, seq: Long, op: String, payload: String)
  case class LatestImage(key: String, seq: Long, op: String, payload: String, deleted: Boolean)

  implicit private val imageEnc: Encoder[LatestImage] = Encoders.product[LatestImage]

  /** Materialized latest image per key from a change stream — the
    * streaming analog of Q6 (`update application`, O17 replay): a keyed
    * streaming aggregation that keeps, per key, the greatest
    * `(seq, op, payload)` ever seen. Deletes tombstone the key
    * (deleted=true) but keep its state, so late replays below the stored
    * seq lose to it (idempotent under at-least-once delivery); changes
    * with equal seqs resolve by `op`, then `payload`, the struct order,
    * so the result does not depend on arrival order. The output is
    * hash-partitioned on `key`, which lets [[JdbcApply]] write each
    * micro-batch in the stage that produced it.
    *
    * State layout: a checkpoint written by the earlier
    * `mapGroupsWithState` form of this operator does not restart under
    * this one; start such a query from a fresh checkpoint. */
  def latestImage(changes: Dataset[KeyedChange]): Dataset[LatestImage] =
    changes.groupBy(col("key"))
      .agg(max(struct(col("seq"), col("op"), col("payload"))).as("newest"))
      .select(col("key"), col("newest.seq").as("seq"), col("newest.op").as("op"),
        col("newest.payload").as("payload"), (col("newest.op") <=> ChangeEnvelope.Delete).as("deleted"))
      .as[LatestImage]
}
