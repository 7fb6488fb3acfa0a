package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming temporal (as-of) join — the live twin of
  * [[graft.operators.AsOfJoin]]: each event row picks up the most recent
  * dimension state at-or-before its event time, per key, as the watermark
  * proves no older dimension version can still arrive. This is the
  * event-time-correct way to hydrate a fact stream against a CDC-captured
  * dimension (the reference consumers join to CURRENT state via a table
  * sink, `TestCaseOfCDCPollingMode.java:129-131`; at-event-time is the
  * strictly stronger contract — same idea as Flink's temporal table join).
  *
  * Mechanism (the [[StreamPatterns]] playbook): union both streams tagged
  * by side, one keyed shuffle, per-key sorted buffer in
  * `flatMapGroupsWithState` with event-time timers —
  *   - an event finalizes when `ts < watermark` (any later-arriving
  *     dimension version must then carry `ts >= watermark > event.ts` and
  *     cannot change the answer);
  *   - on timestamp ties the dimension row wins (inclusive at-or-before,
  *     exactly the batch operator's `side DESC` sort);
  *   - state keeps pending events, dimension versions `>= watermark`, and
  *     the single latest version `< watermark` (all older versions are
  *     unreachable by any future event) — bounded by the watermark delay;
  *   - a timer at the earliest pending event's ts flushes on watermark
  *     advance without further input for the key;
  *   - input older than the watermark never reaches the operator
  *     (`FlatMapGroupsWithStateExec` filters late rows) — size `delay` to
  *     the worst cross-stream skew, as for any stateful streaming op.
  *
  * Dimension state crosses the operator as one JSON blob
  * (`to_json(struct(stateCols))`) so the shape stays generic under a
  * fixed encoder; unpack with `from_json` downstream. A null field inside
  * the struct survives (it rides the blob), mirroring the batch
  * operator's struct-packing rationale.
  *
  * Scale: identical profile to any keyed streaming aggregation — one hash
  * exchange, RocksDB-backed per-key state on a cluster, no driver state.
  */
object StreamAsOf {

  case class SideRow(key: Long, tsUs: Long, id: Long, side: Int, state: String,
                     eventTime: Timestamp)
  case class Buf(rows: Seq[SideRow])
  /** `state` is the dimension JSON blob, null when no version existed
    * at-or-before the event. */
  case class AsOfMatch(key: Long, id: Long, tsUs: Long, state: String)

  implicit private val rowEnc: Encoder[SideRow] = Encoders.product[SideRow]
  implicit private val bufEnc: Encoder[Buf] = Encoders.product[Buf]
  implicit private val outEnc: Encoder[AsOfMatch] = Encoders.product[AsOfMatch]
  implicit private val longEnc: Encoder[Long] = Encoders.scalaLong

  /** @param left  streaming events: `keyCol`, `tsCol` (TimestampType),
    *              `idCol`
    * @param right streaming dimension versions: `keyCol`, `tsCol`,
    *              `stateCols` (unique per (key, ts) — same contract as the
    *              batch operator)
    * @param delay watermark delay on the unioned stream */
  def asOf(left: DataFrame, right: DataFrame, keyCol: String, tsCol: String,
           idCol: String, stateCols: Seq[String], delay: String): Dataset[AsOfMatch] = {
    require(stateCols.nonEmpty, "as-of join needs at least one state column")
    StreamPatterns.requireFmgwsEngine(left.sparkSession)
    val l = left.select(
      col(keyCol).cast("long").as("key"),
      unix_micros(col(tsCol)).as("tsUs"),
      col(idCol).cast("long").as("id"),
      lit(0).as("side"),
      lit(null).cast("string").as("state"),
      col(tsCol).as("eventTime"))
    val r = right.select(
      col(keyCol).cast("long").as("key"),
      unix_micros(col(tsCol)).as("tsUs"),
      lit(-1L).as("id"),
      lit(1).as("side"),
      to_json(struct(stateCols.map(col): _*)).as("state"),
      col(tsCol).as("eventTime"))
    // watermark AFTER the union: it must advance on both streams (a
    // one-sided watermark would stall flushes when the other side idles)
    val unioned = l.unionByName(r).withWatermark("eventTime", delay).as[SideRow]

    unioned.groupByKey(_.key).flatMapGroupsWithState[Buf, AsOfMatch](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
      (_: Long, it: Iterator[SideRow], state: GroupState[Buf]) =>
        val merged = (state.getOption.map(_.rows.toVector).getOrElse(Vector.empty) ++ it)
          .sortBy(e => (e.tsUs, -e.side, e.id))
        val wmUs = state.getCurrentWatermarkMs() * 1000L
        val (out, retained, wake) = flush(merged, wmUs)
        if (retained.isEmpty) state.remove()
        else {
          state.update(Buf(retained))
          wake.foreach(f => state.setTimeoutTimestamp(
            math.max(f / 1000L + 1, state.getCurrentWatermarkMs() + 1)))
        }
        out.iterator
    }
  }

  /** The as-of flush:
    * `(sorted buffer, watermark) → (emissions, retained, earliest pending)`.
    * The sort puts the dimension (side 1) before events on ties —
    * inclusive at-or-before, the batch operator's `side DESC`. */
  private def flush(merged: Vector[SideRow], wmUs: Long)
  : (Vector[AsOfMatch], Vector[SideRow], Option[Long]) = {
    var current: String = null
    val out = Vector.newBuilder[AsOfMatch]
    val pendingEvents = Vector.newBuilder[SideRow]
    merged.foreach { e =>
      if (e.side == 1) current = e.state
      else if (e.tsUs < wmUs) out += AsOfMatch(e.key, e.id, e.tsUs, current)
      else pendingEvents += e
    }
    // retain: pending events, dim versions >= wm, latest dim < wm
    val dims = merged.filter(_.side == 1)
    val (live, old) = dims.partition(_.tsUs >= wmUs)
    val retained = pendingEvents.result() ++ live ++ old.lastOption
    val pend = retained.filter(_.side == 0)
    (out.result(), retained, if (pend.nonEmpty) Some(pend.map(_.tsUs).min) else None)
  }
}
