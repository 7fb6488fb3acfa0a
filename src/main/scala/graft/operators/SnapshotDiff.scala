package graft.operators

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.TimeoutException
import java.util.zip.{Deflater, DeflaterOutputStream, InflaterInputStream}

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Observation}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Snapshot differencing — the batch analog of CDC for sources the
  * reference cannot capture: its polling mode REQUIRES a monotonic
  * column (`CDCSource.java` polling contract) and its listening mode a
  * binlog. A table with neither can still be captured by diffing two
  * point-in-time snapshots: one full-outer join on the primary key,
  * null-safe comparison of the non-key images, and the reference's
  * envelope convention on the way out — `op` in insert/update/delete,
  * after-image columns plain, before-image columns `before_`-prefixed
  * (the flatten convention of `ChangeEnvelope`, ref
  * `CDCSourceUtil.java:75-95`). Inserts carry null `before_` images and
  * deletes null after-images, mirroring the envelope's padding.
  *
  * Scale shape: the ONLY data movement is the two PK hash exchanges of
  * the full-outer join (co-located if both snapshots are bucketed or
  * pre-partitioned on the PK, e.g. written with `bucketBy(pk)`); the
  * image comparison is a map-side null-safe predicate (`<=>`, so a
  * NULL→value transition counts as a change), and unchanged rows — the
  * overwhelming majority between real snapshots — are dropped before
  * anything else happens. No window, no sort, no driver state.
  */
object SnapshotDiff {

  /** Change set `after − before`, keyed by `pk`. Output: pk columns
    * (coalesced, so deletes still carry their key), `_op`
    * (insert/update/delete — [[graft.core.ChangeEnvelope]] constants),
    * the after-image (original names), and the `before_`-prefixed
    * before-image of every non-key column. Unchanged rows are omitted.
    * The column contract matches the flatten convention, so the output
    * feeds [[graft.streaming.JdbcApply]] unchanged — capture by diff,
    * apply by batched statements, a full replication loop for tables
    * with no binlog (round-trip pinned in SnapshotDiffSpec). */
  def diff(before: DataFrame, after: DataFrame, pk: Seq[String]): DataFrame = {
    val cols = after.columns.toSeq
    require(before.columns.toSeq == cols,
      s"snapshots must share a schema; got ${before.columns.toSeq} vs $cols")
    require(pk.nonEmpty && pk.forall(cols.contains), s"pk $pk must be schema columns")
    val nonPk = cols.filterNot(pk.contains)
    val b = before.select(cols.map(c =>
        if (pk.contains(c)) col(c) else col(c).as(s"before_$c")): _*)
      .withColumn("_in_before", lit(1))
    val a = after.withColumn("_in_after", lit(1))
    val changed = nonPk.map(c => !(col(c) <=> col(s"before_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    a.join(b, pk, "full_outer")
      .withColumn("_op",
        when(col("_in_before").isNull, lit("insert"))
          .when(col("_in_after").isNull, lit("delete"))
          .otherwise(lit("update")))
      .where(col("_in_before").isNull || col("_in_after").isNull || changed)
      .drop("_in_before", "_in_after")
  }

  /** The change set of [[diff]] against an EMPTY `before` — every row of
    * `after` an insert — as one projection: no join, no exchange. Column
    * names, order and types are those of `diff(after.limit(0), after, pk)`
    * (pk columns, after-image, null `before_`-prefixed images, `_op`);
    * a capture loop's bootstrap round (pinned in SnapshotCaptureSpec). */
  private[graft] def inserts(after: DataFrame, pk: Seq[String]): DataFrame = {
    val cols = after.columns.toSeq
    require(pk.nonEmpty && pk.forall(cols.contains), s"pk $pk must be schema columns")
    val nonPk = cols.filterNot(pk.contains)
    after.select((pk ++ nonPk).map(col) ++
      nonPk.map(c => lit(null).cast(after.schema(c).dataType).as(s"before_$c")) :+
      lit("insert").as("_op"): _*)
  }

  /** [[diff]] behind a digest prune — the shape that makes repeated
    * snapshot capture viable at 100 TB, where between rounds almost
    * nothing changed: both snapshots first collapse map-side to one
    * xxhash64 row-signature per row, bit_xor-folded per PK-hash bucket
    * (order-independent, so the aggregation is fully partial — the
    * shuffle carries `buckets` cells per partition, never rows). Bucket
    * digests that MATCH on both sides prove their rows need no
    * comparison; only rows of dirty buckets (digest mismatch, or a
    * bucket present on one side) enter the full-outer PK join. A
    * same-bucket-count sync over an unchanged table shuffles two
    * bucket-count-sized digest tables and zero rows.
    *
    * Trust model: a change is missed only if a bucket's xor of 64-bit
    * row signatures collides before and after — the rsync/Merkle-sync
    * trade, astronomically unlikely by accident and verifiable by
    * running the exact [[diff]] on any schedule. Output and column
    * contract are identical to [[diff]] (parity pinned in
    * SnapshotDiffSpec).
    *
    * Evaluation: the call is EAGER — it runs the digest aggregation and
    * collects the dirty bucket ids (at most `buckets` longs) when the
    * frame is built; both sides are then pruned by a plain filter on
    * those ids. Nothing is cached or checkpointed, so there is nothing to
    * release and the returned frame stays recomputable. */
  def diffPruned(before: DataFrame, after: DataFrame, pk: Seq[String],
                 buckets: Int = 4096): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val cols = after.columns.toSeq
    require(before.columns.toSeq == cols,
      s"snapshots must share a schema; got ${before.columns.toSeq} vs $cols")
    prunedDiff(before, after,
      dirtyBuckets(bucketDigests(before, pk, buckets), bucketDigests(after, pk, buckets))
        .collect().map(_.getLong(0)).toSeq, pk, buckets)
  }

  /** [[diffPruned]] with the BEFORE side's digests supplied instead of
    * recomputed: a persisted [[bucketDigests]] artifact of `before` (a
    * `buckets`-row table), so `before` is never scanned for digests.
    * Rows enter the PK join only from dirty buckets. Eager like
    * [[diffPruned]]: at call time `after` is digested, the supplied
    * artifact is validated against its `_buckets`/`_cols` stamps and
    * collected, and the dirty bucket ids are computed on the driver;
    * nothing to release.
    *
    * [[graft.streaming.SnapshotCapture]] runs the same diff with both
    * sides' digests already on the driver (see [[Digests]]): the new
    * snapshot's observed during its write, the previous one's read from
    * that round's digest file, so its rounds run no digest job. A
    * previous round of the earlier layout, whose digests are a parquet
    * `digests/` table, still goes through this validate-and-collect
    * path. */
  def diffPrunedIncremental(before: DataFrame, beforeDigests: DataFrame,
                            after: DataFrame, pk: Seq[String],
                            buckets: Int = 4096): DataFrame = {
    val cols = after.columns.toSeq
    diffPrunedIncremental(before, collectDigests(beforeDigests, cols, pk, buckets),
      after, collectDigests(bucketDigests(after, pk, buckets), cols, pk, buckets), pk, buckets)
  }

  /** [[diffPrunedIncremental]] over digests already on the driver: both
    * sides' stamps are checked against `after`'s columns and `buckets`
    * (the [[validateDigests]] refusals, same wording), then the dirty
    * bucket ids are computed with no job. */
  private[graft] def diffPrunedIncremental(before: DataFrame, beforeDigests: Digests,
                                           after: DataFrame, afterDigests: Digests,
                                           pk: Seq[String], buckets: Int): DataFrame = {
    val tag = colsTag(after.columns.toSeq, pk)
    beforeDigests.check(tag, buckets)
    afterDigests.check(tag, buckets)
    prunedDiff(before, after, beforeDigests.dirtyIds(afterDigests), pk, buckets)
  }

  /** A [[bucketDigests]] artifact, validated against `cols`/`pk`/`buckets`
    * ([[validateDigests]]) and collected: one job over a `buckets`-row
    * table. */
  private[graft] def collectDigests(artifact: DataFrame, cols: Seq[String], pk: Seq[String],
                                    buckets: Int): Digests = {
    val tag = colsTag(cols, pk)
    val cells = new Array[Long](2 * buckets)
    validateDigests(artifact, tag, buckets).select("_bkt", "_digest", "_n").collect()
      .foreach { r =>
        val b = r.getLong(0).toInt
        cells(2 * b) = r.getLong(1)
        cells(2 * b + 1) = r.getLong(2)
      }
    new Digests(buckets, tag, cells)
  }

  /** Guard for persisted digest artifacts: a digest table built with a
    * different bucket count (or a different column list/order) than this
    * call's would misalign bucket ids and silently prune rows that DID
    * change. [[bucketDigests]] stamps `_buckets`/`_cols` into the
    * artifact; when present they are checked row-wise (digest tables are
    * `buckets`-sized, so the check is free) and the diff fails loudly on
    * mismatch. Artifacts from before the stamp existed only get the
    * weaker range check `0 <= _bkt < buckets` — which cannot catch a
    * SMALLER original bucket count, hence the stamp. */
  private def validateDigests(digests: DataFrame, expectTag: String,
                              buckets: Int): DataFrame = {
    def refuse(ok: Column, refusal: (String, String), found: Column) =
      assert_true(ok, concat(lit(refusal._1), found, lit(refusal._2))).isNull
    val hasMeta = digests.columns.contains("_buckets")
    if (hasMeta) {
      val d = if (digests.columns.contains("_cols"))
        digests.where(refuse(col("_cols") === lit(expectTag), colsRefusal(expectTag), col("_cols")))
          .drop("_cols")
      else digests
      d.where(refuse(col("_buckets") === lit(buckets.toLong), bucketsRefusal(buckets), col("_buckets")))
        .drop("_buckets")
    } else
      digests.where(assert_true(col("_bkt") >= 0 && col("_bkt") < lit(buckets.toLong),
        concat(lit("digest artifact carries bucket id "), col("_bkt"),
          lit(s" outside [0, $buckets) — built with a different bucket " +
            "count?"))).isNull)
  }

  /** The refusal of a digest artifact whose column stamp is not
    * `expectTag`, split around the found stamp. */
  private def colsRefusal(expectTag: String): (String, String) =
    ("digest artifact was built over [",
      s"] but this diff runs over [$expectTag]; signatures would not be comparable")

  /** The refusal of a digest artifact whose bucket stamp is not
    * `buckets`, split around the found stamp. */
  private def bucketsRefusal(buckets: Int): (String, String) =
    ("digest artifact was built with buckets=",
      s" but this diff uses buckets=$buckets; bucket ids would misalign and " +
        "changed rows would be silently pruned")

  private def colsTag(cols: Seq[String], pk: Seq[String]): String =
    s"pk=${pk.mkString(",")};cols=${cols.mkString(",")}"

  private def prunedDiff(before: DataFrame, after: DataFrame, dirty: Seq[Long],
                         pk: Seq[String], buckets: Int): DataFrame = {
    // the dirty set is at most `buckets` longs, already on the driver: a
    // literal IN-set filter prunes both sides with no join, no broadcast
    // exchange and no re-run of the digest passes (an empty set plans
    // both sides as empty relations)
    def prune(df: DataFrame): DataFrame =
      df.where(bucketOf(pk, buckets).isInCollection(dirty))
    diff(prune(before), prune(after), pk)
  }

  /** A row's PK-hash bucket, in `[0, buckets)`. */
  private[graft] def bucketOf(pk: Seq[String], buckets: Int): Column =
    pmod(xxhash64(pk.map(col): _*), lit(buckets.toLong))

  /** The row signature a bucket digest folds: xxhash64 over every
    * column's value AND its null flag (see [[bucketDigests]]). */
  private[graft] def rowSignature(cols: Seq[String]): Column =
    xxhash64((cols.map(col) ++ cols.map(c => col(c).isNull)): _*)

  /** [[bucketDigests]] held on the driver: `cells(2b)` is bucket b's xor
    * of row signatures and `cells(2b + 1)` its row count (0 for an empty
    * bucket, which [[bucketDigests]] omits), stamped with the bucket
    * count and column tag they were built under. */
  private[graft] final class Digests(val buckets: Int, val cols: String, val cells: Array[Long]) {
    require(cells.length == 2 * buckets, s"${cells.length} digest cells for $buckets buckets")

    /** The [[validateDigests]] refusals, for stamps read on the driver. */
    def check(expectTag: String, expectBuckets: Int): Unit = {
      def refuse(r: (String, String), found: Any) =
        throw new IllegalStateException(r._1 + found + r._2)
      if (cols != expectTag) refuse(colsRefusal(expectTag), cols)
      if (buckets != expectBuckets) refuse(bucketsRefusal(expectBuckets), buckets)
    }

    /** The buckets whose digest or row count differs from `other`'s —
      * [[dirtyBuckets]], including buckets non-empty on one side only. */
    def dirtyIds(other: Digests): Seq[Long] =
      (0 until buckets).filter(b => cells(2 * b) != other.cells(2 * b) ||
        cells(2 * b + 1) != other.cells(2 * b + 1)).map(_.toLong)

    /** (`_bkt`, `_digest`, `_n`) of every non-empty bucket, in bucket
      * order: the rows of [[bucketDigests]]. */
    def rows: Seq[(Long, Long, Long)] =
      (0 until buckets).filter(b => cells(2 * b + 1) > 0)
        .map(b => (b.toLong, cells(2 * b), cells(2 * b + 1)))

    /** The digest file: the stamps, then the cells, deflated (an empty
      * bucket's cells are zeros, and counts are small). */
    def toBytes: Array[Byte] = {
      val tag = cols.getBytes(UTF_8)
      val bb = ByteBuffer.allocate(12 + tag.length + 8 * cells.length)
      bb.putInt(DigestFormat).putInt(buckets).putInt(tag.length).put(tag)
      cells.foreach(bb.putLong)
      val out = new java.io.ByteArrayOutputStream()
      val z = new DeflaterOutputStream(out, new Deflater(Deflater.BEST_SPEED))
      try z.write(bb.array()) finally z.close()
      out.toByteArray
    }
  }

  private val DigestFormat = 1

  object Digests {
    def fromBytes(bytes: Array[Byte]): Digests = {
      val z = new InflaterInputStream(new java.io.ByteArrayInputStream(bytes))
      val bb = ByteBuffer.wrap(try z.readAllBytes() finally z.close())
      val format = bb.getInt()
      require(format == DigestFormat, s"unknown digest file format $format")
      val buckets = bb.getInt()
      val tag = new Array[Byte](bb.getInt())
      bb.get(tag)
      val cells = new Array[Long](2 * buckets)
      bb.asLongBuffer().get(cells)
      new Digests(buckets, new String(tag, UTF_8), cells)
    }
  }

  /** `df` with its bucket digests attached as an observed metric: the
    * action that runs the returned frame (the capture loop's snapshot
    * write) computes them in the same scan, and the returned handle
    * yields them. Same buckets, signature and stamps as
    * [[bucketDigests]] over `df` (parity pinned in SnapshotDiffSpec).
    * Each task holds one `2 × buckets` long buffer. */
  private[graft] def observeDigests(df: DataFrame, pk: Seq[String],
                                    buckets: Int): (DataFrame, ObservedDigests) = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val cols = df.columns.toSeq
    val obs = Observation()
    val fold = udaf(new DigestAgg(buckets), Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
    (df.observe(obs, fold(bucketOf(pk, buckets), rowSignature(cols)).as("cells")),
      new ObservedDigests(obs, buckets, colsTag(cols, pk)))
  }

  /** The digests of an [[observeDigests]] frame, once an action ran it. */
  private[graft] final class ObservedDigests(obs: Observation, buckets: Int, tag: String) {
    /** Waits at most `timeout` for the observation, which Spark delivers
      * when the action's query execution completes; fails rather than
      * blocking forever. */
    def await(timeout: FiniteDuration = 2.minutes): Digests = {
      val row = try Await.result(obs.future, timeout) catch {
        case e: TimeoutException => throw new IllegalStateException(
          s"the digest observation ${obs.name} did not arrive within $timeout; " +
            "did an action run the observed frame?", e)
      }
      new Digests(buckets, tag, row.getSeq[Long](0).toArray)
    }
  }

  /** Per-bucket (xor of signatures, count) over (bucket, signature) rows. */
  private final class DigestAgg(buckets: Int)
      extends Aggregator[(Long, Long), Array[Long], Array[Long]] {
    def zero: Array[Long] = new Array[Long](2 * buckets)
    def reduce(b: Array[Long], in: (Long, Long)): Array[Long] = {
      val i = 2 * in._1.toInt
      b(i) ^= in._2
      b(i + 1) += 1
      b
    }
    def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
      var i = 0
      while (i < b1.length) { b1(i) ^= b2(i); b1(i + 1) += b2(i + 1); i += 2 }
      b1
    }
    def finish(b: Array[Long]): Array[Long] = b
    def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  }

  /** The persistable sync artifact: one (bucket, digest, row count) row
    * per PK-hash bucket — xxhash64 row signatures bit_xor-folded, so the
    * aggregation is order-independent and fully partial (the shuffle
    * carries bucket cells, never rows). `buckets` rows total; write it
    * next to each snapshot and the next capture round never re-scans
    * this one.
    *
    * The row signature hashes every column's value AND its null flag:
    * Spark's hash functions skip NULL inputs (the running hash is
    * unchanged), so without the flags two rows differing only in WHICH
    * column is null — e.g. (a='x', b=NULL) updated to (a=NULL, b='x') —
    * would hash identically and the update would be invisibly pruned, a
    * deterministic collision class rather than the documented 64-bit
    * accident. The artifact also carries `_buckets` and `_cols` stamps so
    * [[diffPrunedIncremental]] can refuse a digest built with a
    * mismatched bucket count or column order instead of silently
    * misaligning bucket ids. */
  def bucketDigests(df: DataFrame, pk: Seq[String], buckets: Int): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val cols = df.columns.toSeq
    df.select(bucketOf(pk, buckets).as("_bkt"), rowSignature(cols).as("_sig"))
      .groupBy("_bkt").agg(bit_xor(col("_sig")).as("_digest"),
        count(lit(1)).as("_n"))
      .withColumn("_buckets", lit(buckets.toLong))
      .withColumn("_cols", lit(colsTag(cols, pk)))
  }

  /** The buckets whose digest or row count differs — the rows the pruned
    * diffs actually compare. Exposed so a deployment (and the spec) can
    * observe prune effectiveness. */
  def dirtyBuckets(beforeDigests: DataFrame, afterDigests: DataFrame): DataFrame = {
    val b = beforeDigests.select(col("_bkt"),
      col("_digest").as("_db"), col("_n").as("_db_n"))
    val a = afterDigests.select(col("_bkt"),
      col("_digest").as("_da"), col("_n").as("_da_n"))
    b.join(a, Seq("_bkt"), "full_outer")
      .where(!(col("_db") <=> col("_da")) || !(col("_db_n") <=> col("_da_n")))
      .select("_bkt")
  }
}
