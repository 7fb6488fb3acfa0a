package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{ChecksumException, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

import graft.operators.SnapshotDiff
import graft.sources.Jdbc

/** The capture LOOP for snapshot differencing — entry-point parity with
  * the polling and listening modes for tables the reference cannot
  * capture at all (no binlog, no monotonic offset column; see
  * [[graft.operators.SnapshotDiff]] and ref `CDCSource.java` polling
  * contract). Where polling checkpoints an offset, this loop checkpoints
  * the LAST SNAPSHOT — as parquet plus its per-bucket digests — under
  * `stateDir`, so each round pays ONE source scan (write the fresh
  * snapshot, digesting it on the way) and a digest-pruned diff against
  * the persisted state.
  *
  * State layout (any Hadoop filesystem — local, HDFS, S3A):
  * {{{
  * stateDir/round_<n>/snapshot/   parquet image of the source at round n
  * stateDir/round_<n>/schema      its schema as JSON, so the next round
  *                                reads it without schema inference
  * stateDir/round_<n>/digests.bin its per-bucket digests
  *                                (SnapshotDiff.Digests), stamped with
  *                                the bucket count and column list;
  *                                written and read on the driver
  * stateDir/round_<n>/_COMMIT     marker, written LAST by commit()
  * }}}
  * One committed round is live at a time: each capture starts by deleting
  * every other round directory (uncommitted crash garbage and superseded
  * committed rounds), so the state is one snapshot plus the round in
  * flight, not one snapshot per round ever captured. This is the only
  * layout read: a committed round that lacks `snapshot/`, `schema` or
  * `digests.bin` (as state written by earlier versions does, which kept
  * the digests as a parquet `digests/` table), or whose digest file is
  * damaged, is refused with one `IllegalStateException` that names the
  * round and the fix — delete `stateDir` and re-bootstrap against an
  * empty target, since the bootstrap round sends every row as an insert.
  *
  * Delivery is AT-LEAST-ONCE with the same commit geometry as the
  * streaming engine's foreachBatch checkpoint (offsets commit AFTER the
  * batch handler returns): [[CaptureRound.commit]] is called after the
  * change set has been applied, so a crash between apply and commit
  * replays the round — the next capture finds the previous committed
  * state, recomputes the IDENTICAL change set (the uncommitted round's
  * files are swept on entry), and re-applies it. Round-trip and recovery
  * are pinned in CdcSpec.
  */
object SnapshotCapture {

  /** A round's digests, next to its `schema` sidecar. */
  private val DigestFile = "digests.bin"

  /** Spark's job-description local property (`SparkContext`'s constant
    * is private to Spark). */
  private val JobDescription = "spark.job.description"

  /** One capture round: the change set (envelope convention — feeds
    * [[JdbcApply]] unchanged) and the commit that publishes this round's
    * snapshot as the new baseline. Call `commit()` only after `changes`
    * has been fully applied/persisted downstream.
    *
    * Storage note: `changes` is a lazy frame over this round's snapshot
    * parquet and the previous round's; the next [[capture]] call on the
    * same `stateDir` deletes the previous round, so consume `changes`
    * before then. Nothing is cached or checkpointed, so there is nothing
    * to release. */
  final case class CaptureRound(round: Long, changes: DataFrame, commit: () => Unit)

  /** Run one round against `source` (evaluated exactly once, into this
    * round's snapshot parquet — the diff then reads parquet, never the
    * live table, so mutations during the round cannot tear the image).
    * Bootstrap (no committed round yet): every row returns as an insert —
    * the initial-sync convention of the reference's snapshot-then-stream
    * modes.
    *
    * Scheduled work of an incremental round through [[captureAndApply]]:
    * 5 jobs. The snapshot write is one job, and it also computes the new
    * snapshot's bucket digests, as an observed metric of the same scan
    * that reaches the driver when the write completes (waited for with a
    * bound). The driver writes them as the round's digest file and
    * compares them with the previous round's, read back from its file,
    * so the dirty bucket ids cost no job. Consuming `changes` runs the
    * dirty-bucket diff: its two PK exchanges, then the apply's
    * repartition and the apply itself. The previous snapshot's read
    * names its schema (the `schema` sidecar), so no read runs a
    * schema-inference job. Each job carries the description `capture
    * round <n>: snapshot` or `...: apply`; building the diff runs no job.
    * A previous round of another layout is refused before the snapshot
    * scan (see the state layout above). */
  def capture(spark: SparkSession, source: DataFrame, pk: Seq[String],
              stateDir: String, buckets: Int = 4096): CaptureRound = {
    val dir = new Path(stateDir)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val latest = listRounds(fs, dir).lastOption
    sweep(fs, dir, latest)
    val prev = latest.map(p => committedRound(spark, fs, new Path(dir, s"round_$p"), stateDir))
    val round = latest.map(_ + 1L).getOrElse(0L)
    val roundDir = new Path(dir, s"round_$round")
    // ONE scan of the live source writes the image and digests it on the
    // way; everything downstream reads the image
    val snapshot = new Path(roundDir, "snapshot").toString
    val digests = phase(spark, round, "snapshot") {
      val (observed, digest) = SnapshotDiff.observeDigests(source, pk, buckets)
      observed.write.mode("overwrite").parquet(snapshot)
      digest.await()
    }
    val schema = nullable(source.schema)
    writeSmallFile(fs, new Path(roundDir, "schema"), schema.json.getBytes(UTF_8))
    writeSmallFile(fs, new Path(roundDir, DigestFile), digests.toBytes)
    val cur = spark.read.schema(schema).parquet(snapshot)
    val changes = prev.fold(SnapshotDiff.inserts(cur, pk)) { case (prevSnapshot, prevDigests) =>
      SnapshotDiff.diffPrunedIncremental(prevSnapshot, prevDigests, cur, digests, pk, buckets)
    }
    CaptureRound(round, changes,
      () => { fs.create(new Path(roundDir, "_COMMIT"), true).close(); () })
  }

  /** One-call capture → apply → commit: runs [[capture]], pushes the
    * change set into `targetTable` through [[JdbcApply]]'s batched
    * prepared statements, commits the round, returns the number of
    * changes applied — counted by the apply pass itself, so the change
    * set is computed once. The full no-binlog replication loop as a
    * single call — schedule it (cron, Airflow) and the target converges
    * on the source every round. */
  def captureAndApply(spark: SparkSession, source: DataFrame, pk: Seq[String],
                      stateDir: String, target: Jdbc.ConnectionSpec,
                      targetTable: String, buckets: Int = 4096): Long = {
    val r = capture(spark, source, pk, stateDir, buckets)
    val n = phase(spark, r.round, "apply")(JdbcApply.write(target, targetTable, pk, r.changes))
    r.commit()
    n
  }

  /** One capture round that also MAINTAINS an aggregation ladder
    * ([[graft.operators.IncrementalAgg]]) as part of the round's state:
    * bootstrap builds the finest level from the snapshot
    * (`rollup`), every later round folds the round's change set in
    * signed (`advanceChanges` — updates retract their before-image,
    * deletes only retract) and persists the new finest level under
    * `round_<n>/ladder/` BEFORE the commit marker, so the
    * crash-replay contract is unchanged: an uncommitted round is swept
    * and recomputed identically, and the committed ladder always equals
    * `rollup(snapshot_n)` (pinned in IncrementalAggSpec round by round,
    * plus a replay case). Returns the round number and the FULL ladder
    * — only the finest level persists (the coarser levels re-derive
    * cell-sized from the stored cells via `IncrementalAgg.ladder`, the
    * same read-side shape a deployment loading the parquet would use).
    *
    * 100 TB shape: round 0 pays the one full scan every capture mode
    * pays; every later round pays its change set plus a cell-sized
    * merge — the aggregation ladder rides the capture loop for free.
    *
    * Every parquet read names its schema — the snapshot its round's
    * `schema` sidecar, the ladder the schema stored on the second line
    * of `ladder_meta` — so no read runs a schema-inference job. */
  def captureIntoLadder(spark: SparkSession, source: DataFrame, pk: Seq[String],
                        stateDir: String, keyCol: String, tsCol: String,
                        valueCol: String, granularities: Seq[(String, Long)],
                        buckets: Int = 4096): (Long, Seq[(String, DataFrame)]) = {
    import graft.operators.IncrementalAgg
    val r = capture(spark, source, pk, stateDir, buckets)
    val dir = new Path(stateDir)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val roundDir = new Path(dir, s"round_${r.round}")
    val prevRound = new Path(dir, s"round_${r.round - 1}")
    val prevLadder = new Path(prevRound, "ladder")
    // the stored finest level is only foldable if THIS round's finest
    // grain (and column mapping) matches the one it was built under —
    // advanceChanges on a ladder of a different grain would silently
    // merge mixed-grain cells into aggregates equal to nothing. The
    // grain and the ladder's schema are persisted next to it and
    // validated every round; a mismatch (or a meta without the schema
    // line) re-bootstraps from the snapshot instead.
    val meta = s"grain=${granularities.head._1}:${granularities.head._2};" +
      s"key=$keyCol;ts=$tsCol;value=$valueCol"
    val prevMeta = new Path(prevRound, "ladder_meta")
    val prevSchema =
      if (!fs.exists(prevMeta) || !fs.exists(prevLadder)) None
      else new String(readSmallFile(fs, prevMeta), UTF_8).split("\n", 2) match {
        case Array(`meta`, json) => Some(schemaOf(json))
        case _ => None
      }
    val finest = prevSchema match {
      case Some(ladderSchema) =>
        IncrementalAgg.advanceChanges(read(spark, prevLadder, ladderSchema),
          r.changes, keyCol, tsCol, valueCol, granularities.take(1)).head._2
      case None =>
        IncrementalAgg.rollup(
          read(spark, new Path(roundDir, "snapshot"), nullable(source.schema)),
          keyCol, tsCol, valueCol, granularities.take(1)).head._2
    }
    val ladder = new Path(roundDir, "ladder")
    val ladderSchema = nullable(finest.schema)
    finest.write.mode("overwrite").parquet(ladder.toString)
    writeSmallFile(fs, new Path(roundDir, "ladder_meta"),
      (meta + "\n" + ladderSchema.json).getBytes(UTF_8))
    r.commit()
    (r.round, IncrementalAgg.ladder(read(spark, ladder, ladderSchema), keyCol, granularities))
  }

  /** Parquet at `p`, read with its known `schema` (no schema-inference
    * job). */
  private def read(spark: SparkSession, p: Path, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(p.toString)

  /** The committed round `prevDir`'s snapshot, read with its schema, and
    * its digests; a round of any other layout, or one whose digest file
    * is damaged, is refused with the fix. */
  private def committedRound(spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
                             prevDir: Path, stateDir: String): (DataFrame, SnapshotDiff.Digests) = {
    def refuse(why: String, cause: Throwable = null): Nothing =
      throw new IllegalStateException(s"committed round $prevDir is not of the current state " +
        s"layout: $why. Delete $stateDir and re-bootstrap against an empty target table " +
        "(the bootstrap round sends every row as an insert)", cause)
    val missing = Seq("snapshot", "schema", DigestFile).filterNot(f => fs.exists(new Path(prevDir, f)))
    if (missing.nonEmpty) refuse(s"it has no ${missing.mkString(", ")}")
    val digests = try SnapshotDiff.Digests.fromBytes(readSmallFile(fs, new Path(prevDir, DigestFile)))
      catch { case e @ (_: IllegalArgumentException | _: ChecksumException) => refuse(e.getMessage, e) }
    val schema = schemaOf(new String(readSmallFile(fs, new Path(prevDir, "schema")), UTF_8))
    (read(spark, new Path(prevDir, "snapshot"), schema), digests)
  }

  private def schemaOf(json: String): StructType =
    DataType.fromJson(json).asInstanceOf[StructType]

  /** `s` as a parquet read reports it: every column nullable. */
  private def nullable(s: StructType): StructType =
    StructType(s.map(_.copy(nullable = true)))

  /** Runs `body` with Spark's job description set to `capture round
    * <round>: <name>`, so every job it starts (AQE's query-stage jobs
    * too: they inherit the caller's local properties) is named in Spark's
    * job list; the previous description is restored after. */
  private def phase[T](spark: SparkSession, round: Long, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val previous = sc.getLocalProperty(JobDescription)
    sc.setJobDescription(s"capture round $round: $name")
    try body finally sc.setLocalProperty(JobDescription, previous)
  }

  private def writeSmallFile(fs: org.apache.hadoop.fs.FileSystem, p: Path,
                             bytes: Array[Byte]): Unit = {
    val out = fs.create(p, true)
    try out.write(bytes)
    finally out.close()
  }

  private def readSmallFile(fs: org.apache.hadoop.fs.FileSystem, p: Path): Array[Byte] = {
    val in = fs.open(p)
    try in.readAllBytes()
    finally in.close()
  }

  private def listRounds(fs: org.apache.hadoop.fs.FileSystem, dir: Path): Seq[Long] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath)
      .filter(_.getName.matches("round_\\d+"))
      .filter(p => fs.exists(new Path(p, "_COMMIT")))
      .map(_.getName.stripPrefix("round_").toLong).sorted

  /** Every round directory but the latest committed one is dead. A round
    * without its `_COMMIT` marker is crash garbage: a capture that died
    * before (or during) apply, whose change set was never acknowledged —
    * its round number is reused by the re-capture. An older committed
    * round is superseded: the crash-replay contract only ever diffs
    * against the latest one. */
  private def sweep(fs: org.apache.hadoop.fs.FileSystem, dir: Path,
                    latest: Option[Long]): Unit =
    if (fs.exists(dir))
      fs.listStatus(dir).toSeq.map(_.getPath)
        .filter(_.getName.matches("round_\\d+"))
        .filterNot(p => latest.contains(p.getName.stripPrefix("round_").toLong))
        .foreach(p => fs.delete(p, true))
}
