package perfbench

import java.sql.Connection
import java.util.SplittableRandom
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.sources.Jdbc
import graft.streaming.{JdbcApply, StreamOps}

/** poll_latest: a single writer thread commits rows to a Derby source on a
  * fixed schedule (open loop); the `format("cdc")` polling source reads
  * them with a back-to-back trigger, `StreamOps.latestImage` keeps the
  * newest row per key, and `foreachBatch(JdbcApply)` updates the keyed
  * target. After the timed phase the query stops, a backlog is committed,
  * and the query restarts from its checkpoint and drains it. */
object PollLatest {
  val Keys = 2000
  val ZipfExponent = 1.1
  val RowsPerSecond = 1000
  val TickMs = 10
  val WarmupSeconds = 22.0
  val BacklogRows = 100000
  val Drains = 3
  val DrainTimeoutNs = 60L * 1000000000L

  /** Zipf(s) over `n` keys: rank r has weight 1/(r+1)^s. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1, s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def sample(rng: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  def key(i: Int): String = f"k$i%05d"

  /** The open-loop writer. Ticks are due every `TickMs` from the phase
    * start whatever the system does; a late tick is sent at once and its
    * lateness recorded. Each tick commits its rows in one transaction and
    * stamps them with the commit time. Row ids (the polling column) and
    * keys come only from the seed. */
  final class Writer(conn: Connection, seed: Long) {
    private val rng = new SplittableRandom(seed)
    private val zipf = new Zipf(Keys, ZipfExponent)
    private val ins = conn.prepareStatement("INSERT INTO SRC (ID, K, PAYLOAD) VALUES (?, ?, ?)")
    conn.setAutoCommit(false)
    val committed = new AtomicLong(0L) // highest committed id
    val commitNs = ArrayBuffer.empty[Long] // index id - 1
    val lateNs = ArrayBuffer.empty[Long]
    private val rowsPerTick = RowsPerSecond * TickMs / 1000

    private def write(n: Int): Unit = {
      var i = 0
      while (i < n) {
        val id = committed.get + i + 1
        val k = zipf.sample(rng)
        ins.setLong(1, id); ins.setString(2, key(k)); ins.setString(3, s"p$id-${rng.nextInt(1000000)}")
        ins.addBatch()
        i += 1
      }
      ins.executeBatch()
      conn.commit()
      val now = System.nanoTime()
      (0 until n).foreach(_ => commitNs += now)
      committed.addAndGet(n)
    }

    /** Writes on the schedule for `seconds`; returns (first id, last id). */
    def run(seconds: Double): (Long, Long) = {
      val first = committed.get + 1
      val tickNs = TickMs * 1000000L
      val ticks = math.round(seconds * 1000 / TickMs)
      val start = System.nanoTime()
      var t = 0L
      while (t < ticks) {
        val due = start + t * tickNs
        var now = System.nanoTime()
        while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
        lateNs += now - due
        write(rowsPerTick)
        t += 1
      }
      (first, committed.get)
    }

    /** Commits `rows` rows as fast as it can (the backlog). */
    def burst(rows: Int): (Long, Long) = {
      val first = committed.get + 1
      var left = rows
      while (left > 0) { val n = math.min(left, 1000); write(n); left -= n }
      (first, committed.get)
    }

    def runOnThread(seconds: Double): (Long, Long) = {
      var r: (Long, Long) = null
      val th = new Thread(() => r = run(seconds), "perfbench-writer")
      th.start(); th.join()
      r
    }
  }

  /** The empty source and a target that holds every key at seq 0. */
  def createTables(conn: Connection): Unit = {
    Derby.exec(conn, "CREATE TABLE SRC (ID BIGINT NOT NULL PRIMARY KEY, K VARCHAR(16) NOT NULL, PAYLOAD VARCHAR(64))")
    Derby.exec(conn, "CREATE TABLE TGT (K VARCHAR(16) NOT NULL PRIMARY KEY, SEQ BIGINT NOT NULL, " +
      "OP VARCHAR(8), PAYLOAD VARCHAR(64), DELETED BOOLEAN)")
    val ps = conn.prepareStatement("INSERT INTO TGT (K, SEQ) VALUES (?, 0)")
    (0 until Keys).foreach { k => ps.setString(1, key(k)); ps.addBatch() }
    ps.executeBatch()
    if (!conn.getAutoCommit) conn.commit()
  }

  /** Keys of the key space whose target row is missing or whose seq is
    * not the newest source id of the key, computed by SQL on the source
    * (keys the source never wrote must still read 0). */
  def wrongKeys(conn: Connection): Long = {
    def read(sql: String): Map[String, Long] = {
      val st = conn.createStatement()
      try {
        val rs = st.executeQuery(sql)
        val b = Map.newBuilder[String, Long]
        while (rs.next()) b += rs.getString(1) -> rs.getLong(2)
        b.result()
      } finally st.close()
    }
    val newest = read("SELECT K, MAX(ID) FROM SRC GROUP BY K")
    val target = read("SELECT K, SEQ FROM TGT")
    (0 until Keys).map(key).count(k => !target.get(k).contains(newest.getOrElse(k, 0L))).toLong
  }

  /** One applied micro-batch: the handler's wall time and the number of
    * target keys it updated, read back from the target. */
  final case class Batch(id: Long, applied: Stats.Applied, applyNs: Long, keysUpdated: Long)

  /** One pipeline instance: Derby source and target, the writer, and the
    * streaming query with its applied-batch log. */
  final class Pipeline(ctx: Ctx, spark: SparkSession, name: String) {
    val conn: Connection = Derby.create(name)
    private val probe = Derby.create(name) // driver-side reads of the target
    val spec: Jdbc.ConnectionSpec = Jdbc.ConnectionSpec(Derby.url(name), Map.empty)
    val ckpt: String = new java.io.File(ctx.work, s"$name-ckpt").getAbsolutePath
    val applied = ArrayBuffer.empty[Batch]

    createTables(conn)
    // the newest seq in the target, and how many keys hold a seq newer than `?`
    private val probeTarget = probe.prepareStatement(
      "SELECT MAX(SEQ), SUM(CASE WHEN SEQ > ? THEN 1 ELSE 0 END) FROM TGT")
    val writer = new Writer(conn, ctx.seed)

    private val sink = JdbcApply(spec, "TGT", Seq("k"), Seq("seq"))

    def start(): StreamingQuery = {
      val changes = spark.readStream.format("cdc")
        .option("mode", "polling").option("url", spec.url)
        .option("table.name", "SRC").option("polling.column", "id")
        .option("numpartitions", ctx.cpus.toString).load()
        .select(col("k").as("key"), col("id").as("seq"), lit("update").as("op"), col("payload"))
        .as(Encoders.product[StreamOps.KeyedChange])
      // KEY is reserved in Derby: the image's key column lands in column K
      StreamOps.latestImage(changes).toDF().withColumnRenamed("key", "k").withColumn("_op", lit("update"))
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime(0))
        .foreachBatch { (df: DataFrame, id: Long) =>
          val t0 = System.nanoTime()
          ctx.tracer.span("sink.apply")(sink(df, id))
          val t1 = System.nanoTime()
          // a batch only holds ids beyond every earlier batch, so the keys
          // newer than the last applied seq are exactly the keys it updated
          val (maxSeq, updated) = probe.synchronized {
            probeTarget.setLong(1, maxApplied)
            val rs = probeTarget.executeQuery()
            try { rs.next(); (rs.getLong(1), rs.getLong(2)) } finally rs.close()
          }
          applied.synchronized { applied += Batch(id, Stats.Applied(t1, maxSeq), t1 - t0, updated) }
          ()
        }
        .start()
    }

    def maxApplied: Long = applied.synchronized(applied.lastOption.map(_.applied.maxSeq).getOrElse(0L))

    def targetRows: Long = probe.synchronized(Derby.queryLong(probe, "SELECT COUNT(*) FROM TGT"))

    /** Waits until the target shows `id`; false on timeout. */
    def awaitApplied(id: Long, q: StreamingQuery): Boolean = {
      val deadline = System.nanoTime() + DrainTimeoutNs
      while (maxApplied < id && System.nanoTime() < deadline && q.exception.isEmpty) Thread.sleep(2)
      maxApplied >= id
    }

    def close(): Unit = { probeTarget.close(); Derby.close(probe); Derby.close(conn); Derby.drop(name) }
  }

  /** Collects the progress of the traced run's query. */
  final class Progress extends StreamingQueryListener {
    val all = ArrayBuffer.empty[(StreamingQueryProgress, Long)] // with committed id at report
    @volatile var committed: () => Long = () => 0L
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      all.synchronized { all += ((e.progress, committed())) }
  }

  /** Set-up (session, Derby load, stream start, warm-up), timed from JVM
    * start, then the timed phase. */
  def run(ctx: Ctx): Outcome = {
    val (spark, p, q) = ctx.tracer.span("setup") {
      val spark = ctx.tracer.span("setup.session")(Bench.session(ctx))
      val p = ctx.tracer.span("setup.derby_load")(new Pipeline(ctx, spark, "poll"))
      val q = ctx.tracer.span("setup.stream_start")(p.start())
      ctx.tracer.span("setup.warmup") {
        val (_, last) = p.writer.runOnThread(WarmupSeconds)
        require(p.awaitApplied(last, q), s"warm-up rows not applied: ${q.exception}")
      }
      (spark, p, q)
    }
    measure(ctx, spark, p, q, Bench.setupSeconds())
  }

  private def measure(ctx: Ctx, spark: SparkSession, p: Pipeline, q: StreamingQuery,
                      setup: Metric): Outcome = {
    val counters = if (ctx.traced) Counters.register(spark.sparkContext) else null
    ctx.tracer.counters = Option(counters)
    val progress = new Progress
    progress.committed = () => p.writer.committed.get
    if (ctx.traced) spark.streams.addListener(progress)

    // ---- timed phase at the offered rate ----
    val phaseStart = Clock.nowNs
    val batchesBefore = p.applied.size
    val rowsBefore = p.targetRows
    val ticksBefore = p.writer.lateNs.size
    val (first, last) = ctx.tracer.span("phase.steady")(p.writer.runOnThread(ctx.seconds))
    val writerSeconds = (Clock.nowNs - phaseStart) / 1e9
    p.awaitApplied(last, q)
    val steadyBatches = p.applied.synchronized(p.applied.drop(batchesBefore).toList)
    val rowsAfter = p.targetRows
    val (lat, missing) = Stats.applyLatencies(first,
      p.writer.commitNs.slice((first - 1).toInt, last.toInt).toArray, steadyBatches.map(_.applied))

    // ---- backlogs committed while stopped, each drained by a restart
    // from the checkpoint ----
    var running = q
    val drains = (1 to Drains).map { _ =>
      running.stop()
      val (_, backlogLast) = p.writer.burst(BacklogRows)
      val t0 = System.nanoTime()
      val ok = ctx.tracer.span("phase.drain") {
        running = p.start()
        p.awaitApplied(backlogLast, running)
      }
      (ok, BacklogRows / ((System.nanoTime() - t0) / 1e9))
    }
    running.stop()
    val undrained = drains.count(!_._1)
    System.err.println(s"[poll_latest] drain rows/s: ${drains.map(d => math.round(d._2)).mkString(" ")}")

    // ---- output checks ----
    val wrong = wrongKeys(p.conn)
    val offered = Derby.queryLong(p.conn, "SELECT COUNT(*) FROM SRC")
    val allThere = offered == p.writer.committed.get
    val timedRows = last - first + 1
    val failed = missing + undrained * BacklogRows + wrong + (if (allThere) 0 else 1)
    if (missing > 0) System.err.println(s"[poll_latest] $missing of $timedRows rows never applied")
    if (undrained > 0) System.err.println(s"[poll_latest] $undrained backlogs of $BacklogRows rows not drained")
    if (wrong > 0) System.err.println(s"[poll_latest] CHECK FAILED: $wrong target keys differ from the source")
    if (!allThere) System.err.println(s"[poll_latest] CHECK FAILED: source holds $offered rows, writer committed ${p.writer.committed.get}")

    val latList = lat.toSeq
    val rule = Bench.percentileRule("poll_latest", lat.length.toLong -> "rows", steadyBatches.size.toLong -> "batches")
    val metrics = Map(
      "setup_s" -> setup,
      "apply_p50_ms" -> Metric(Bench.pct(latList, 0.5), "ms"),
      "apply_p90_ms" -> Metric(Bench.pct(latList, 0.9), "ms"),
      "drain_rows_per_s" -> Metric(Stats.median(drains.map(_._2)), "rows/s"))

    val layer = if (!ctx.traced) Map.empty[String, Metric] else {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      layerMetrics(ctx, progress, counters, steadyBatches, p.writer.lateNs.drop(ticksBefore).toSeq,
        timedRows / writerSeconds, lat.length, rowsAfter - rowsBefore)
    }
    p.close()
    spark.stop()
    Outcome(attempted = timedRows + Drains * BacklogRows, failed = failed, correct = failed == 0,
      metrics = metrics ++ layer,
      detail = Map("percentile_rule" -> rule, "drain_rows_per_s" -> drains.map(_._2),
        "progress" -> progress.all.synchronized(progress.all.map(x => Bench.mapper.readTree(x._1.json)).toList)))
  }

  private def layerMetrics(ctx: Ctx, progress: Progress, counters: Counters,
                           batches: Seq[Batch], lateNs: Seq[Long], achieved: Double,
                           samples: Int, targetRowsAdded: Long): Map[String, Metric] = {
    val ids = batches.map(_.id).toSet
    val steady = progress.all.synchronized(progress.all.toList)
      .filter { case (pr, _) => pr.numInputRows > 0 && ids.contains(pr.batchId) }
    def dur(pr: StreamingQueryProgress, k: String): Double =
      Option(pr.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    def p50(f: StreamingQueryProgress => Double) = Bench.pct(steady.map(x => f(x._1)), 0.5)
    val cycles = steady.map { case (pr, _) =>
      val s = Clock.fromEpochMs(java.time.Instant.parse(pr.timestamp).toEpochMilli)
      (s, s + (dur(pr, "triggerExecution") * 1e6).toLong)
    }
    cycles.foreach { case (s, e) => ctx.tracer.add("cycle", s, e) }
    val lag = steady.map { case (pr, committed) =>
      (committed - pr.sources.head.endOffset.stripPrefix("num:").toLong).toDouble }
    val rowsIn = steady.map(_._1.numInputRows).sum.toDouble
    val imagesOut = steady.map(_._1.stateOperators.head.numRowsUpdated).sum.toDouble
    val lastState = steady.lastOption.map(_._1.stateOperators.head)
    val applyMs = batches.map(_.applyNs / 1e6)
    val sinkJobs = ctx.tracer.spans.filter(_.name == "sink.apply").flatMap(s => counters.jobsIn(s.startNs, s.endNs))
    Layers.cycleMetrics(cycles, sinkJobs, counters) ++ Map(
      "sources.lag_rows_p90" -> Metric(Bench.pct(lag, 0.9), "count"),
      "operator.ms_p50" -> Metric(p50(_.stateOperators.head.allUpdatesTimeMs.toDouble), "ms"),
      "operator.rows_out" -> Metric(imagesOut, "count"),
      "operator.collapse_ratio" -> Metric(if (imagesOut > 0) rowsIn / imagesOut else 0.0, "ratio"),
      "state.rows" -> Metric(lastState.map(_.numRowsTotal.toDouble).getOrElse(0.0), "count"),
      "state.bytes" -> Metric(lastState.map(_.memoryUsedBytes.toDouble).getOrElse(0.0), "bytes"),
      "commit.ms_p50" -> Metric(p50(pr => dur(pr, "walCommit") + dur(pr, "commitOffsets")), "ms"),
      "plan.ms_p50" -> Metric(p50(dur(_, "queryPlanning")), "ms"),
      "sink.apply_ms" -> Metric(Bench.pct(applyMs, 0.5), "ms"),
      // measured at the target: keys each batch moved to a newer seq, and
      // the change in its row count (the pipeline sends updates only)
      "sink.inserts" -> Metric(math.max(targetRowsAdded, 0L).toDouble, "count"),
      "sink.updates" -> Metric(batches.map(_.keysUpdated).sum.toDouble, "count"),
      "sink.deletes" -> Metric(math.max(-targetRowsAdded, 0L).toDouble, "count"),
      "gen.late_p99_ms" -> Metric(Bench.pct(lateNs.map(_ / 1e6), 0.99), "ms"),
      "gen.achieved_rows_per_s" -> Metric(achieved, "rows/s"),
      "apply.samples" -> Metric(samples.toDouble, "count"),
      "apply.batches" -> Metric(batches.size.toDouble, "count"))
  }
}
