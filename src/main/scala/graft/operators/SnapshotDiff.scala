package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
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
    * recomputed — the shape a capture LOOP actually runs: each round
    * persists [[bucketDigests]] of its snapshot (a `buckets`-row
    * artifact), and the next round pays ONE full scan (digesting the new
    * snapshot) instead of the plain diff's two-scans-plus-full-join or
    * the self-contained prune's four scans. Rows enter the PK join only
    * from dirty buckets. Eager like [[diffPruned]]: the supplied digests
    * are validated and collected, and the dirty bucket ids computed on
    * the driver, at call time; nothing to release. */
  def diffPrunedIncremental(before: DataFrame, beforeDigests: DataFrame,
                            after: DataFrame, pk: Seq[String],
                            buckets: Int = 4096): DataFrame =
    diffPrunedIncremental(before, beforeDigests, after,
      bucketDigests(after, pk, buckets).collect().toSeq, pk, buckets)

  /** [[diffPrunedIncremental]] with the AFTER side's digests supplied too,
    * as the collected rows of `bucketDigests(after, pk, buckets)` — for a
    * caller that already holds them (the capture loop persists the same
    * rows as its digest artifact), so `after` is digested once per round,
    * not twice. */
  private[graft] def diffPrunedIncremental(before: DataFrame, beforeDigests: DataFrame,
                                           after: DataFrame, afterDigests: Seq[Row],
                                           pk: Seq[String], buckets: Int): DataFrame = {
    val prev = validateDigests(beforeDigests, colsTag(after.columns.toSeq, pk), buckets)
      .select("_bkt", "_digest", "_n").collect().toSeq
    prunedDiff(before, after, dirtyIds(prev, afterDigests), pk, buckets)
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
    val hasMeta = digests.columns.contains("_buckets")
    if (hasMeta) {
      val d = if (digests.columns.contains("_cols"))
        digests.where(assert_true(col("_cols") === lit(expectTag),
          concat(lit("digest artifact was built over ["), col("_cols"),
            lit(s"] but this diff runs over [$expectTag]; signatures would " +
              "not be comparable"))).isNull)
          .drop("_cols")
      else digests
      d.where(assert_true(col("_buckets") === lit(buckets.toLong),
          concat(lit("digest artifact was built with buckets="), col("_buckets"),
            lit(s" but this diff uses buckets=$buckets; bucket ids would " +
              "misalign and changed rows would be silently pruned"))).isNull)
        .drop("_buckets")
    } else
      digests.where(assert_true(col("_bkt") >= 0 && col("_bkt") < lit(buckets.toLong),
        concat(lit("digest artifact carries bucket id "), col("_bkt"),
          lit(s" outside [0, $buckets) — built with a different bucket " +
            "count?"))).isNull)
  }

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

  /** [[dirtyBuckets]] over collected digest rows whose leading columns are
    * (`_bkt`, `_digest`, `_n`): the bucket ids whose digest or row count
    * differs, or that exist on one side only. */
  private def dirtyIds(before: Seq[Row], after: Seq[Row]): Seq[Long] = {
    def cells(rows: Seq[Row]) = rows.map(r => r.getLong(0) -> ((r.get(1), r.get(2)))).toMap
    val (b, a) = (cells(before), cells(after))
    (b.keySet ++ a.keySet).filter(k => b.get(k) != a.get(k)).toSeq
  }

  private def bucketOf(pk: Seq[String], buckets: Int) =
    pmod(xxhash64(pk.map(col): _*), lit(buckets.toLong))

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
    df.select(bucketOf(pk, buckets).as("_bkt"),
        xxhash64((cols.map(col) ++ cols.map(c => col(c).isNull)): _*).as("_sig"))
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
