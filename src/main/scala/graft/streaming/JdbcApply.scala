package graft.streaming

import java.sql.{Connection, PreparedStatement}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
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
    * single-threaded; here the batch is hash-repartitioned on the
    * EFFECTIVE key (the before-image key for deletes when the after image
    * exists too — in multi-op mode a delete's after columns are
    * default-padded and would hash to the wrong partition) and sorted
    * within each partition by `orderCols`. All operations on one key land
    * in one partition; different keys apply concurrently, which is safe
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
    * `numPartitions` caps the per-batch JDBC connection count (default 8;
    * an unbounded `repartition` would open `spark.sql.shuffle.partitions`
    * connections per micro-batch — a connection storm on modest
    * databases).
    *
    * Delivery: at-least-once into the table. The source offsets ride the
    * streaming checkpoint exactly once, but the handler ignores the
    * `batchId` that `foreachBatch` passes and records nothing in the
    * target database, so a restart after the write and before the
    * checkpoint commit re-applies that batch. Updates and deletes replay
    * to the same rows; a replayed insert is applied a second time. */
  def apply(spec: Jdbc.ConnectionSpec, table: String, keyCols: Seq[String],
            orderCols: Seq[String] = Nil, numPartitions: Int = 8)
  : (DataFrame, Long) => Unit = { (batch: DataFrame, _: Long) =>
    write(spec, table, keyCols, batch, orderCols, numPartitions); ()
  }

  /** The write behind [[apply]], as one call that returns the number of
    * change rows it applied, counted by the write pass itself: a caller
    * that needs the count (the snapshot capture loop) computes its change
    * set once, with no separate count job and no cache. Accumulator
    * updates inside an action apply once per partition, so task retries
    * do not double-count. */
  private[graft] def write(spec: Jdbc.ConnectionSpec, table: String, keyCols: Seq[String],
                           batch: DataFrame, orderCols: Seq[String] = Nil,
                           numPartitions: Int = 8): Long = {
    val cols = batch.columns.toSeq.filter(c => !c.startsWith("_") && !c.startsWith(ChangeEnvelope.BeforePrefix))
    val nonKeys = cols.filterNot(keyCols.contains)
    val hasBefore = keyCols.forall(k => batch.columns.contains(ChangeEnvelope.BeforePrefix + k))
    val hasAfter = keyCols.forall(batch.columns.contains)
    require(hasBefore || hasAfter,
      s"batch carries neither after-image nor before_-image key columns ${keyCols.mkString(",")}")
    val effKeys = keyCols.map { k =>
      if (hasBefore && hasAfter)
        when(col("_op") === ChangeEnvelope.Delete, col(ChangeEnvelope.BeforePrefix + k))
          .otherwise(col(k)).as(s"_gk_$k")
      else if (hasBefore && !hasAfter) // delete-only flatten: no after image
        col(ChangeEnvelope.BeforePrefix + k).as(s"_gk_$k")
      else col(k).as(s"_gk_$k")
    }
    val order = (if (orderCols.nonEmpty) orderCols
      else Seq("_source_ts_ms", "_ts_ms").filter(batch.columns.contains)) :+ "_seq"
    val ordered = batch
      .withColumn("_seq", monotonically_increasing_id())
      .select((batch.columns.map(col) :+ col("_seq") :+ struct(effKeys: _*).as("_gk")).toIndexedSeq: _*)
      .repartition(numPartitions, col("_gk"))
      .sortWithinPartitions(order.map(col): _*)
    val written = batch.sparkSession.sparkContext.longAccumulator("JdbcApply rows")
    ordered.foreachPartition { rows: Iterator[Row] =>
      if (rows.nonEmpty) {
        val conn = Jdbc.connect(spec)
        try written.add(applyPartition(conn, table, keyCols, nonKeys, cols, rows, hasBefore))
        finally conn.close()
      }
    }
    written.sum
  }

  /** Rows apply in the resolved order: consecutive same-op rows batch into
    * one executeBatch, and the batch flushes whenever the op changes — so
    * a delete(k) followed by insert(k) re-creation lands in that order
    * (per-op regrouping would silently corrupt such interleavings).
    * Statements are prepared lazily: an all-key table has no valid UPDATE
    * statement, which must not break insert/delete-only batches. Returns
    * the number of rows applied. */
  private def applyPartition(conn: Connection, table: String, keys: Seq[String],
                             nonKeys: Seq[String], cols: Seq[String], rows: Iterator[Row],
                             deleteByBefore: Boolean): Long = {
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
    def enqueue(ps: PreparedStatement): Unit = {
      if (!(ps eq pending)) { flush(); pending = ps }
      ps.addBatch(); pendingN += 1; applied += 1
    }
    rows.foreach { r =>
      r.getAs[String]("_op") match {
        case ChangeEnvelope.Insert =>
          cols.zipWithIndex.foreach { case (c, i) => ins.setObject(i + 1, r.getAs[Any](c)) }
          enqueue(ins)
        case ChangeEnvelope.Update =>
          nonKeys.zipWithIndex.foreach { case (c, i) => upd.setObject(i + 1, r.getAs[Any](c)) }
          keys.zipWithIndex.foreach { case (c, i) => upd.setObject(nonKeys.size + i + 1, r.getAs[Any](c)) }
          enqueue(upd)
        case ChangeEnvelope.Delete =>
          keys.zipWithIndex.foreach { case (c, i) =>
            val src = if (deleteByBefore) ChangeEnvelope.BeforePrefix + c else c
            del.setObject(i + 1, r.getAs[Any](src))
          }
          enqueue(del)
        case _ => // snapshot reads dropped upstream
      }
    }
    flush()
    applied
  }
}
