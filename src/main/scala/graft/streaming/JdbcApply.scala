package graft.streaming

import java.sql.{Connection, PreparedStatement}

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.plans.physical.ClusteredDistribution
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DateType, StructType, TimestampType}
import graft.core.ChangeEnvelope
import graft.sources.Jdbc

/** Downstream change application — the reference's sink surface
  * (`from stream insert into table`, `delete t on t.k==k`,
  * `update t on t.k==k`; `TestCaseOfCDCListeningMode.java:179-181,275-277`,
  * `TestCaseOfCDCPollingMode.java:129-131`) as a `foreachBatch` handler.
  *
  * Input: a flattened change stream (after-image columns and/or `before_*`
  * columns, `_op` metadata — [[ChangeEnvelope.flatten]]); single-op
  * delete-only streams (before-image + metadata columns only) are
  * supported. Per batch, per partition: batched prepared statements
  * (executor-parallel writes; the driver never sees the rows). Inserts
  * append the after image; updates set after-image non-keys matching on
  * after-image keys; deletes match on BEFORE-image keys when present (the
  * reference's delete carries only the before image).
  */
object JdbcApply {

  /** foreachBatch handler: `df.writeStream.foreachBatch(JdbcApply(spec, "login", Seq("id")))`.
    *
    * Ordering at parallelism > 1: the reference applies events
    * single-threaded; here every operation on one EFFECTIVE key (the
    * before-image key for deletes when the after image exists too — in
    * multi-op mode a delete's after columns are default-padded and would
    * hash to the wrong partition) lands in one partition, sorted within
    * it by `orderCols`. Different keys apply concurrently, which is safe
    * because row-level ops on distinct keys commute.
    *
    * `orderCols` SHOULD name a strictly increasing per-record offset
    * (polling column / LSN) when the stream carries one — that is true
    * stream order. The default falls back to `(_source_ts_ms, _ts_ms)`
    * (whichever exist) plus batch position: same-key events in the SAME
    * millisecond arriving in different source partitions then order by
    * partition-major batch position, which is deterministic but not
    * guaranteed to be arrival order — pass an offset column to remove the
    * caveat (spec: JdbcApplyOrderSpec).
    *
    * `numPartitions` (default 8, must be positive) caps the per-batch
    * JDBC connection count: an unbounded `repartition` would open
    * `spark.sql.shuffle.partitions` connections per micro-batch — a
    * connection storm on modest databases. A batch whose physical
    * partitioning already clusters it on the after-image or delete-only
    * key, in at most `numPartitions` partitions, is written in place by
    * the stage that produced it (a keyed streaming aggregation's output,
    * such as [[StreamOps.latestImage]]); any other batch, and every
    * mixed before/after batch, is hash-repartitioned into
    * `numPartitions` partitions first. So is every batch of a session
    * that runs adaptive execution (AQE), whose plans report no
    * partitioning before they run; micro-batches run without AQE.
    *
    * Delivery: at-least-once into the table. The source offsets ride the
    * streaming checkpoint exactly once, but the handler ignores the
    * `batchId` that `foreachBatch` passes and records nothing in the
    * target database, so a restart after the write and before the
    * checkpoint commit re-applies that batch. Updates and deletes replay
    * to the same rows; a replayed insert is applied a second time. */
  def apply(spec: Jdbc.ConnectionSpec, table: String, keyCols: Seq[String],
            orderCols: Seq[String] = Nil, numPartitions: Int = 8)
  : (DataFrame, Long) => Unit = {
    requirePositive(numPartitions)
    (batch: DataFrame, _: Long) => { write(spec, table, keyCols, batch, orderCols, numPartitions); () }
  }

  /** The write behind [[apply]], as one call that returns the number of
    * change rows it applied. The write is one job over the ordered
    * batch's rows whose tasks each return the rows they applied, so the
    * count is the sum of the task results (exact under task retries) and
    * a caller that needs it (the snapshot capture loop) computes its
    * change set once, with no separate count job and no cache. Its jobs
    * carry the caller's job description and attach to the enclosing SQL
    * execution, if there is one (a micro-batch's, under foreachBatch). */
  private[graft] def write(spec: Jdbc.ConnectionSpec, table: String, keyCols: Seq[String],
                           batch: DataFrame, orderCols: Seq[String] = Nil,
                           numPartitions: Int = 8): Long = {
    requirePositive(numPartitions)
    val cols = batch.columns.toSeq.filter(c => !c.startsWith("_") && !c.startsWith(ChangeEnvelope.BeforePrefix))
    val nonKeys = cols.filterNot(keyCols.contains)
    val hasBefore = keyCols.forall(k => batch.columns.contains(ChangeEnvelope.BeforePrefix + k))
    val hasAfter = keyCols.forall(batch.columns.contains)
    require(hasBefore || hasAfter,
      s"batch carries neither after-image nor before_-image key columns ${keyCols.mkString(",")}")
    val order = ((if (orderCols.nonEmpty) orderCols
      else Seq("_source_ts_ms", "_ts_ms").filter(batch.columns.contains)) :+ "_seq").map(col)
    // the columns the keys hash on; none for a mixed batch, whose
    // effective key is a per-row choice between before and after image
    val keyNames =
      if (hasBefore && hasAfter) Nil
      else if (hasAfter) keyCols
      else keyCols.map(ChangeEnvelope.BeforePrefix + _) // delete-only flatten: no after image
    val withSeq = batch.withColumn("_seq", monotonically_increasing_id())
    lazy val inPlace = withSeq.sortWithinPartitions(order: _*)
    // an adaptive plan reports no partitioning before it runs, so under
    // AQE the in-place candidate is not planned at all
    val ordered =
      if (keyNames.nonEmpty && !batch.sparkSession.sessionState.conf.adaptiveExecutionEnabled &&
          clustered(inPlace, keyNames, numPartitions)) inPlace
      else {
        val effKeys = if (keyNames.nonEmpty) keyNames.map(col) else keyCols.map { k =>
          when(col("_op") === ChangeEnvelope.Delete, col(ChangeEnvelope.BeforePrefix + k)).otherwise(col(k))
        }
        withSeq.repartition(numPartitions, effKeys: _*).sortWithinPartitions(order: _*)
      }
    val writer = new PartitionWriter(spec, table, keyCols, nonKeys, cols, ordered.schema, hasBefore)
    batch.sparkSession.sparkContext.runJob(ordered.queryExecution.toRdd, writer).sum
  }

  private def requirePositive(numPartitions: Int): Unit =
    require(numPartitions > 0, s"numPartitions must be positive (got $numPartitions)")

  /** Whether `df`'s physical plan already places every row of one value
    * of `keys` in one partition, in at most `maxPartitions` partitions. */
  private def clustered(df: DataFrame, keys: Seq[String], maxPartitions: Int): Boolean = {
    val plan = df.queryExecution.executedPlan
    val attrs = keys.flatMap(k => plan.output.find(_.name == k))
    val p = plan.outputPartitioning
    attrs.size == keys.size && p.numPartitions <= maxPartitions &&
      p.satisfies(ClusteredDistribution(attrs))
  }

  /** The task body of [[write]]: applies one partition over its own
    * connection (none for an empty partition) and returns the rows it
    * applied. A named class, not a lambda, so the closure cleaner has
    * nothing to walk. */
  private final class PartitionWriter(spec: Jdbc.ConnectionSpec, table: String, keys: Seq[String],
                                      nonKeys: Seq[String], cols: Seq[String], schema: StructType,
                                      deleteByBefore: Boolean)
    extends ((TaskContext, Iterator[InternalRow]) => Long) with Serializable {
    def apply(context: TaskContext, rows: Iterator[InternalRow]): Long =
      if (!rows.hasNext) 0L
      else {
        val conn = Jdbc.connect(spec)
        try applyPartition(conn, table, keys, nonKeys, cols, schema, rows, deleteByBefore)
        finally conn.close()
      }
  }

  /** The JDBC parameter for a non-null Catalyst value of type `dt`: its
    * external value, with timestamps and dates as `java.sql` values
    * whatever `spark.sql.datetime.java8API.enabled` says. */
  private def jdbcValue(dt: DataType): Any => Any = dt match {
    case TimestampType => v => DateTimeUtils.toJavaTimestamp(v.asInstanceOf[Long])
    case DateType => v => DateTimeUtils.toJavaDate(v.asInstanceOf[Int])
    case _ => CatalystTypeConverters.createToScalaConverter(dt)
  }

  /** Rows apply in the resolved order: consecutive same-op rows batch into
    * one executeBatch, and the batch flushes whenever the op changes — so
    * a delete(k) followed by insert(k) re-creation lands in that order
    * (per-op regrouping would silently corrupt such interleavings).
    * Statements and their column converters are prepared lazily: an
    * all-key table has no valid UPDATE statement and a delete-only batch
    * has no after-image columns, which must not break the ops a batch
    * does carry. Returns the number of rows applied. */
  private def applyPartition(conn: Connection, table: String, keys: Seq[String],
                             nonKeys: Seq[String], cols: Seq[String], schema: StructType,
                             rows: Iterator[InternalRow], deleteByBefore: Boolean): Long = {
    def reader(c: String): InternalRow => Any = {
      val i = schema.fieldIndex(c)
      val dt = schema(i).dataType
      val convert = jdbcValue(dt)
      r => if (r.isNullAt(i)) null else convert(r.get(i, dt))
    }
    val op = reader("_op")
    lazy val insValues = cols.map(reader)
    lazy val updValues = (nonKeys ++ keys).map(reader)
    lazy val delValues = keys.map(c => reader(if (deleteByBefore) ChangeEnvelope.BeforePrefix + c else c))
    lazy val ins = conn.prepareStatement(
      s"INSERT INTO $table (${cols.mkString(", ")}) VALUES (${cols.map(_ => "?").mkString(", ")})")
    lazy val upd = {
      require(nonKeys.nonEmpty,
        s"cannot apply updates to $table: every column is a key")
      conn.prepareStatement(s"UPDATE $table SET ${nonKeys.map(c => s"$c = ?").mkString(", ")} " +
        s"WHERE ${keys.map(c => s"$c = ?").mkString(" AND ")}")
    }
    lazy val del = conn.prepareStatement(
      s"DELETE FROM $table WHERE ${keys.map(c => s"$c = ?").mkString(" AND ")}")

    var pending: PreparedStatement = null
    var pendingN = 0
    var applied = 0L
    def flush(): Unit = if (pendingN > 0) { pending.executeBatch(); pendingN = 0 }
    def enqueue(ps: PreparedStatement, values: Seq[InternalRow => Any], r: InternalRow): Unit = {
      if (!(ps eq pending)) { flush(); pending = ps }
      values.zipWithIndex.foreach { case (v, i) => ps.setObject(i + 1, v(r)) }
      ps.addBatch(); pendingN += 1; applied += 1
    }
    rows.foreach { r =>
      op(r) match {
        case ChangeEnvelope.Insert => enqueue(ins, insValues, r)
        case ChangeEnvelope.Update => enqueue(upd, updValues, r)
        case ChangeEnvelope.Delete => enqueue(del, delValues, r)
        case _ => // snapshot reads dropped upstream
      }
    }
    flush()
    applied
  }
}
