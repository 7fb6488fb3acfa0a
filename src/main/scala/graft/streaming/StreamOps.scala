package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

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

  implicit private val keyedEnc: Encoder[KeyedChange] = Encoders.product[KeyedChange]
  implicit private val imageEnc: Encoder[LatestImage] = Encoders.product[LatestImage]
  implicit private val strEnc: Encoder[String] = Encoders.STRING

  /** Materialized latest image per key from a change stream — the
    * streaming analog of Q6 (`update application`, O17 replay): custom
    * per-key state via `mapGroupsWithState`. Deletes tombstone the key
    * (deleted=true) but keep state so late replays below the seq are
    * ignored (idempotent under at-least-once delivery). */
  def latestImage(changes: Dataset[KeyedChange]): Dataset[LatestImage] = {
    changes.groupByKey(_.key)
      .mapGroupsWithState[LatestImage, LatestImage](GroupStateTimeout.NoTimeout) {
        (key: String, batch: Iterator[KeyedChange], state: GroupState[LatestImage]) =>
          val newest = batch.maxBy(_.seq)
          val best = state.getOption match {
            case Some(prev) if prev.seq >= newest.seq => prev // late replay: ignore
            case _ => LatestImage(key, newest.seq, newest.op, newest.payload,
              deleted = newest.op == "delete")
          }
          state.update(best)
          best
      }
  }
}
