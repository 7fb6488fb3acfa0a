package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core.ChangeEnvelope
import graft.sources.CdcOptions
import graft.streaming.{DebeziumRuntime, EnvelopeStream}

/** The engine's single user-facing entry point — the analog of the
  * reference's one-annotation surface `@source(type='cdc', ...)`
  * (`CDCSource.java:73-433`): pass the same option names the reference
  * documents, get the flattened typed change stream back. A reference
  * user switches by translating the annotation's key=value list into the
  * options map, nothing else.
  *
  *   - `mode=polling` (O11–O17): routes to the DataSource V2 polling
  *     source (`format("cdc")`) — incremental delta scans on
  *     `polling.column` with checkpointed offsets; rows arrive already
  *     flat (the reference's polling mode emits no envelope either).
  *     Pair with [[graft.streaming.CdcPoll.trigger]] for
  *     `polling.interval`/cron semantics.
  *   - `mode=listening` (O1–O10): needs the user-declared row schema
  *     (the Siddhi stream definition, `TestCaseOfCDCListeningMode.java:79-87`).
  *     Tails the database live via the embedded Debezium engine when its
  *     jars are on the classpath ([[DebeziumRuntime.available]]); with
  *     `envelope.replay.dir` set, replays recorded envelope JSON instead
  *     (same decode/flatten/offset pipeline). The `operation` option
  *     drives the flatten (op filter + `before_` images + transport
  *     columns `_op`/`_source_ts_ms`/`_ts_ms`).
  */
object Cdc {

  /** A running change stream: the flattened DataFrame plus the resource
    * handle to close when the query stops (non-empty only for the live
    * listening engine). */
  final case class CdcStream(df: DataFrame, handle: Option[AutoCloseable]) {
    def close(): Unit = handle.foreach(_.close())
  }

  def stream(spark: SparkSession, options: Map[String, String],
             rowSchema: Option[StructType] = None,
             stateDir: Option[String] = None): CdcStream = {
    val ciOptions = new CaseInsensitiveStringMap(
      scala.jdk.CollectionConverters.MapHasAsJava(options).asJava)
    val mode = ciOptions.getOrDefault("mode", CdcOptions.ModeListening).toLowerCase
    val replayDir = Option(ciOptions.get("envelope.replay.dir")).filter(_.nonEmpty)

    if (mode == CdcOptions.ModePolling) {
      val reader = spark.readStream.format("cdc")
      options.foreach { case (k, v) => reader.option(k, v) }
      CdcStream(reader.load(), None)
    } else {
      val schema = rowSchema.getOrElse(throw new IllegalArgumentException(
        "mode=listening requires the declared row schema (the reference " +
          "declares it on the stream definition) — pass rowSchema"))
      val ops = Option(ciOptions.get("operation")).map(_.trim).filter(_.nonEmpty)
        .getOrElse("insert")
      ops.split(",").map(_.trim.toLowerCase).foreach(o =>
        require(CdcOptions.ValidOps.contains(o), s"unsupported operation '$o'"))
      replayDir match {
        case Some(dir) =>
          // replay never opens a connection: url/username/table validation
          // would only force users to fabricate connection strings
          val envelopes = EnvelopeStream.replay(spark, dir, schema)
          CdcStream(EnvelopeStream.flatten(envelopes, schema, ops), None)
        case None =>
          val opts = CdcOptions(ciOptions) // full validation for the live engine
          require(DebeziumRuntime.available,
            "mode=listening needs the Debezium jars on the runtime classpath " +
              "for a live log tail, or 'envelope.replay.dir' for envelope " +
              "replay, or mode=polling")
          val dir = stateDir.getOrElse(throw new IllegalArgumentException(
            "live listening needs stateDir for engine offsets/schema history"))
          val (envelopes, handle) = EnvelopeStream.listen(spark, opts, schema, dir)
          CdcStream(EnvelopeStream.flatten(envelopes, schema, ops), Some(handle))
      }
    }
  }

  /** Envelope schema for a declared row schema — for users building their
    * own replay fixtures ([[ChangeEnvelope.schema]] re-export). */
  def envelopeSchema(rowSchema: StructType): StructType =
    ChangeEnvelope.schema(rowSchema)

  /** Point-in-time snapshot of the table through the range-partitioned
    * batch path of the polling source (executor-parallel JDBC range
    * scans — `CdcBatch.planInputPartitions`). Same option names as
    * [[stream]] with `mode=polling`. */
  def snapshot(spark: SparkSession, options: Map[String, String]): DataFrame = {
    val reader = spark.read.format("cdc")
    (options + ("mode" -> CdcOptions.ModePolling)).foreach {
      case (k, v) => reader.option(k, v)
    }
    reader.load()
  }

  /** Capture mode for tables the reference cannot capture AT ALL:
    * updates and deletes with no binlog access (listening contract) and
    * no monotonically-GROWING offset column (polling deltas only ever
    * see `> last`, so they miss updates in place and deletes entirely —
    * `CDCPoller`'s contract). Takes a point-in-time [[snapshot]], diffs
    * it against a caller-held previous snapshot
    * ([[graft.operators.SnapshotDiff.diff]]), and returns the change
    * set in the envelope convention (`op`, `before_` images). The
    * `polling.column` here serves ONLY as the range-split key for the
    * parallel snapshot read — any roughly-uniform numeric column (the
    * PK itself, typically); monotonicity is not required because deltas
    * come from the diff, not from offsets. Typical loop: persist each
    * snapshot (e.g. parquet, bucketed on `pk` to co-locate the join),
    * call with the previous round's frame. */
  def snapshotDiff(spark: SparkSession, options: Map[String, String],
                   previous: DataFrame, pk: Seq[String]): DataFrame =
    graft.operators.SnapshotDiff.diff(previous, snapshot(spark, options), pk)

  /** The snapshot-diff capture LOOP with managed state — entry-point
    * parity with `mode=polling`/`mode=listening` for the no-binlog
    * capture mode: where polling checkpoints an offset under the stream's
    * checkpoint dir, this checkpoints the last snapshot (parquet, its
    * schema and its digest file) under `stateDir` and each call returns
    * one round's change set plus the commit that publishes the new
    * baseline ([[graft.streaming.SnapshotCapture]]; recovery semantics and the
    * crash-replay round-trip pinned in CdcSpec). Same option names as
    * [[snapshot]]. */
  def snapshotCapture(spark: SparkSession, options: Map[String, String],
                      pk: Seq[String], stateDir: String,
                      buckets: Int = 4096): graft.streaming.SnapshotCapture.CaptureRound =
    graft.streaming.SnapshotCapture.capture(
      spark, snapshot(spark, options), pk, stateDir, buckets)

  /** One-call capture → apply → commit: [[snapshotCapture]] pushed into
    * `targetTable` through [[graft.streaming.JdbcApply]], the complete
    * binlog-free replication round as a single scheduled call. Returns
    * the number of changes applied (0 on a quiet round — the two rounds'
    * digests compared on the driver, zero rows joined). */
  def snapshotDiffApply(spark: SparkSession, options: Map[String, String],
                        pk: Seq[String], stateDir: String,
                        target: graft.sources.Jdbc.ConnectionSpec,
                        targetTable: String, buckets: Int = 4096): Long =
    graft.streaming.SnapshotCapture.captureAndApply(
      spark, snapshot(spark, options), pk, stateDir, target, targetTable, buckets)
}
