package graft.operators

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.TimeoutException
import java.util.zip.{Deflater, DeflaterOutputStream, Inflater, InflaterInputStream}

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
    * xxhash64 row-signature per row, xor-folded per PK-hash bucket with a
    * row count ([[Digests]]; order-independent, so the aggregation is
    * fully partial — the shuffle carries digest buffers, never rows).
    * Bucket digests that MATCH on both sides prove their rows need no
    * comparison; only rows of dirty buckets (digest or count mismatch)
    * enter the full-outer PK join. A sync over an unchanged table
    * shuffles one digest buffer per input partition and zero rows.
    *
    * Trust model: a change is missed only if a bucket's xor of 64-bit
    * row signatures collides before and after — the rsync/Merkle-sync
    * trade, astronomically unlikely by accident and verifiable by
    * running the exact [[diff]] on any schedule. Output and column
    * contract are identical to [[diff]] (parity pinned in
    * SnapshotDiffSpec).
    *
    * Evaluation: the call is EAGER — both sides' digests are computed
    * by [[digestsOf]] when the frame is built (2 jobs under AQE, pinned
    * in SnapshotDiffSpec); the rest is [[diffPrunedIncremental]].
    * Nothing is cached or checkpointed, so there is nothing to release
    * and the returned frame stays recomputable. */
  def diffPruned(before: DataFrame, after: DataFrame, pk: Seq[String],
                 buckets: Int = 4096): DataFrame = {
    val cols = after.columns.toSeq
    require(before.columns.toSeq == cols,
      s"snapshots must share a schema; got ${before.columns.toSeq} vs $cols")
    val Seq(beforeDigests, afterDigests) = digestsOf(Seq(before, after), pk, buckets)
    diffPrunedIncremental(before, beforeDigests, after, afterDigests, pk, buckets)
  }

  /** Each frame's [[Digests]], from ONE global aggregation over every
    * frame's (bucket, signature) rows, frame i's buckets offset by
    * `i × buckets` so each folds into its own cells: one collect, 2 jobs
    * under AQE (the partial-aggregate stage and the final one). */
  private[graft] def digestsOf(frames: Seq[DataFrame], pk: Seq[String],
                               buckets: Int): Seq[Digests] = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val cells = frames.zipWithIndex.map { case (df, i) =>
      df.select((bucketOf(pk, buckets) + lit(i.toLong * buckets)).as("_bkt"),
        rowSignature(df.columns.toSeq).as("_sig"))
    }.reduce(_ union _)
      .agg(digestFold(frames.size * buckets)(col("_bkt"), col("_sig"))).head().getSeq[Long](0)
    frames.zip(cells.grouped(2 * buckets).toSeq).map { case (df, c) =>
      new Digests(buckets, colsTag(df.columns.toSeq, pk), c.toArray)
    }
  }

  /** [[diffPruned]] over digests already on the driver, as the capture
    * loop ([[graft.streaming.SnapshotCapture]]) holds them: the new
    * snapshot's observed during its write ([[observeDigests]]), the
    * previous one's read from that round's digest file. Both sides'
    * stamps are checked against `after`'s columns and `buckets`
    * ([[Digests.check]]), the dirty bucket ids are computed on the
    * driver, and both sides are pruned by a plain filter on those ids:
    * no job runs at construction. */
  private[graft] def diffPrunedIncremental(before: DataFrame, beforeDigests: Digests,
                                           after: DataFrame, afterDigests: Digests,
                                           pk: Seq[String], buckets: Int): DataFrame = {
    val tag = colsTag(after.columns.toSeq, pk)
    beforeDigests.check(tag, buckets)
    afterDigests.check(tag, buckets)
    // the dirty set is at most `buckets` longs, already on the driver: a
    // literal IN-set filter prunes both sides with no join, no broadcast
    // exchange and no re-run of the digest passes (an empty set plans
    // both sides as empty relations)
    val dirty = bucketOf(pk, buckets).isInCollection(beforeDigests.dirtyIds(afterDigests))
    diff(before.where(dirty), after.where(dirty), pk)
  }

  private def colsTag(cols: Seq[String], pk: Seq[String]): String =
    s"pk=${pk.mkString(",")};cols=${cols.mkString(",")}"

  /** A row's PK-hash bucket, in `[0, buckets)`. */
  private[graft] def bucketOf(pk: Seq[String], buckets: Int): Column =
    pmod(xxhash64(pk.map(col): _*), lit(buckets.toLong))

  /** The row signature a bucket digest folds: xxhash64 over every
    * column's value AND its null flag. Spark's hash functions skip NULL
    * inputs (the running hash is unchanged), so without the flags two
    * rows differing only in WHICH column is null — e.g. (a='x', b=NULL)
    * updated to (a=NULL, b='x') — would hash identically and the update
    * would be invisibly pruned, a deterministic collision class rather
    * than the documented 64-bit accident. */
  private[graft] def rowSignature(cols: Seq[String]): Column =
    xxhash64((cols.map(col) ++ cols.map(c => col(c).isNull)): _*)

  /** One snapshot's bucket digests, held on the driver: `cells(2b)` is
    * bucket b's xor of row signatures and `cells(2b + 1)` its row count
    * (both 0 for an empty bucket), stamped with the bucket count and
    * column tag they were built under, so a diff can refuse digests that
    * would misalign bucket ids or compare signatures of other columns. */
  private[graft] final class Digests(val buckets: Int, val cols: String, val cells: Array[Long]) {
    require(cells.length == 2 * buckets, s"${cells.length} digest cells for $buckets buckets")

    /** Fails loudly when the stamps are not this diff's: digests built
      * with a different bucket count (or a different column list/order)
      * would misalign bucket ids and silently prune rows that DID change. */
    def check(expectTag: String, expectBuckets: Int): Unit = {
      if (cols != expectTag) throw new IllegalStateException(
        s"digest artifact was built over [$cols] but this diff runs over [$expectTag]; " +
          "signatures would not be comparable")
      if (buckets != expectBuckets) throw new IllegalStateException(
        s"digest artifact was built with buckets=$buckets but this diff uses " +
          s"buckets=$expectBuckets; bucket ids would misalign and changed rows would be " +
          "silently pruned")
    }

    /** The buckets whose digest or row count differs from `other`'s,
      * including buckets non-empty on one side only. */
    def dirtyIds(other: Digests): Seq[Long] =
      (0 until buckets).filter(b => cells(2 * b) != other.cells(2 * b) ||
        cells(2 * b + 1) != other.cells(2 * b + 1)).map(_.toLong)

    /** (bucket, digest, row count) of every non-empty bucket, in bucket
      * order. */
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
    /** Parses [[Digests.toBytes]]. The bytes come from a file, so a
      * damaged one is refused with an `IllegalArgumentException` saying
      * what is wrong: not exactly one deflate stream (truncated, or bytes
      * after it), an unknown format number, a bucket count below 1, or a
      * payload whose length is not what its stamps need. */
    def fromBytes(bytes: Array[Byte]): Digests = {
      val z = new Inflater()
      val bb = try {
        val payload = new InflaterInputStream(new java.io.ByteArrayInputStream(bytes), z).readAllBytes()
        require(z.getBytesRead == bytes.length,
          s"${bytes.length - z.getBytesRead} bytes follow the digest file's deflate stream")
        ByteBuffer.wrap(payload)
      } catch {
        case e: java.io.IOException =>
          throw new IllegalArgumentException(s"digest file is truncated or not deflated: ${e.getMessage}", e)
      } finally z.end()
      require(bb.remaining >= 12, s"digest file holds ${bb.remaining} bytes, fewer than its header")
      val (format, buckets, tagLength) = (bb.getInt(), bb.getInt(), bb.getInt())
      require(format == DigestFormat, s"unknown digest file format $format")
      require(buckets >= 1, s"digest file stamps buckets=$buckets")
      val need = 12L + tagLength + 16L * buckets
      require(tagLength >= 0 && bb.capacity == need, s"digest file holds ${bb.capacity} bytes " +
        s"but its stamps (buckets=$buckets, tag length $tagLength) need $need")
      val tag = new Array[Byte](tagLength)
      bb.get(tag)
      val cells = new Array[Long](2 * buckets)
      bb.asLongBuffer().get(cells)
      new Digests(buckets, new String(tag, UTF_8), cells)
    }
  }

  /** `df` with its bucket digests attached as an observed metric: the
    * action that runs the returned frame (the capture loop's snapshot
    * write) computes them in the same scan, and the returned handle
    * yields them. Same buckets, signature and stamps as [[diffPruned]]'s
    * digests (parity with a groupBy/`bit_xor` reference pinned in
    * SnapshotDiffSpec).
    * Each task holds one `2 × buckets` long buffer. */
  private[graft] def observeDigests(df: DataFrame, pk: Seq[String],
                                    buckets: Int): (DataFrame, ObservedDigests) = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val cols = df.columns.toSeq
    val obs = Observation()
    (df.observe(obs, digestFold(buckets)(bucketOf(pk, buckets), rowSignature(cols)).as("cells")),
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

  /** [[DigestAgg]] as a column function of (bucket, signature). */
  private def digestFold(buckets: Int) =
    udaf(new DigestAgg(buckets), Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))

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
}
