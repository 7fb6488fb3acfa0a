package perfbench

import java.sql.Connection
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.Jdbc
import graft.streaming.SnapshotCapture

/** snapshot_rounds: a Derby table of fixed size is captured by a bootstrap
  * `SnapshotCapture.captureAndApply` round (every row arrives as an
  * INSERT), then by incremental rounds, each after a fixed churn of
  * inserts, updates and deletes, applied into a keyed Derby target. The
  * churn is written before each round and the round starts right after
  * it (closed loop), so the target must equal the source after every
  * round. */
object SnapshotRounds {
  val Rows = 5000
  val Inserts = 75
  val Updates = 150
  val Deletes = 50
  val WarmupRounds = 12
  val Bootstraps = 3
  val MinRounds = 3

  /** The source table and its seeded writer. Ids, keys, payloads and which
    * rows each churn touches come only from the seed. */
  final class Source(val conn: Connection, seed: Long) {
    private val rng = new SplittableRandom(seed)
    private val live = ArrayBuffer.empty[Long]
    private var nextId = 1L
    conn.setAutoCommit(false)
    Derby.exec(conn, "CREATE TABLE SRC (ID BIGINT NOT NULL PRIMARY KEY, K INT, NAME VARCHAR(32), V DOUBLE)")
    private val ins = conn.prepareStatement("INSERT INTO SRC (ID, K, NAME, V) VALUES (?, ?, ?, ?)")
    private val upd = conn.prepareStatement("UPDATE SRC SET NAME = ?, V = ? WHERE ID = ?")
    private val del = conn.prepareStatement("DELETE FROM SRC WHERE ID = ?")

    private def value(): Double = rng.nextInt(10000000) / 100.0
    private def name(): String = s"n${rng.nextInt(1000000000)}"

    private def insert(n: Int): Unit = {
      (0 until n).foreach { _ =>
        ins.setLong(1, nextId); ins.setInt(2, rng.nextInt(100)); ins.setString(3, name())
        ins.setDouble(4, value()); ins.addBatch()
        live += nextId; nextId += 1
      }
      ins.executeBatch()
    }

    def load(): Unit = { insert(Rows); conn.commit() }

    /** One churn, committed as one transaction; returns its commit time. */
    def churn(): Long = {
      (0 until Updates).foreach { _ =>
        upd.setString(1, name()); upd.setDouble(2, value())
        upd.setLong(3, live(rng.nextInt(live.size))); upd.addBatch()
      }
      upd.executeBatch()
      (0 until Deletes).foreach { _ =>
        val i = rng.nextInt(live.size)
        del.setLong(1, live(i)); del.addBatch()
        live(i) = live.last; live.remove(live.size - 1)
      }
      del.executeBatch()
      insert(Inserts)
      conn.commit()
      System.nanoTime()
    }

    def rows: Int = live.size
  }

  def createTarget(conn: Connection, table: String): Unit = {
    Derby.exec(conn, s"CREATE TABLE $table (ID BIGINT NOT NULL PRIMARY KEY, K INT, NAME VARCHAR(32), V DOUBLE)")
    conn.commit()
  }

  /** Every row of a table by id. */
  type Image = Map[Long, (Int, String, Double)]

  def image(conn: Connection, table: String): Image = {
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery(s"SELECT ID, K, NAME, V FROM $table")
      val b = Map.newBuilder[Long, (Int, String, Double)]
      while (rs.next()) b += rs.getLong(1) -> ((rs.getInt(2), rs.getString(3), rs.getDouble(4)))
      b.result()
    } finally st.close()
  }

  /** Net row changes from `before` to `after`. */
  final case class Ops(inserts: Long, updates: Long, deletes: Long) {
    def total: Long = inserts + updates + deletes
  }

  def opsBetween(before: Image, after: Image): Ops =
    Ops(inserts = after.keysIterator.count(!before.contains(_)),
      updates = after.count { case (id, row) => before.get(id).exists(_ != row) },
      deletes = before.keysIterator.count(!after.contains(_)))

  /** Records planning time of every query execution the engine runs. */
  final class Plans extends QueryExecutionListener {
    val all = ArrayBuffer.empty[(Long, Long)] // (end on the benchmark clock, planning ms)
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      all.synchronized {
        all += ((Clock.nowNs, qe.tracker.phases.get("planning").map(_.durationMs).getOrElse(0L)))
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** The phases of `captureAndApply`, in the order it runs them. */
  val Phases: Seq[String] = Seq("capture.capture", "operator.diff", "sink.apply", "capture.commit")

  /** The phase a job of `captureAndApply` belongs to, read from the long
    * call site of the action that started it: the snapshot and digest
    * writes (and any job of the pruned diff's construction) run inside
    * `capture`, the change-set count in `captureAndApply` itself, the
    * per-partition writes in `JdbcApply`. */
  def phaseOf(site: String): Option[String] =
    if (site.contains("graft.streaming.JdbcApply")) Some("sink.apply")
    else if (site.contains("SnapshotCapture$.capture(")) Some("capture.capture")
    else if (site.contains("SnapshotCapture$.captureAndApply(")) Some("operator.diff")
    else None

  /** Splits a round `[start, end]` into the phases of `captureAndApply`:
    * each of the first three ends with the last job of that phase (the
    * driver work after it, a parquet commit or the next plan, lands in the
    * next phase), and the commit plus block release run from the end of
    * the last apply job to the end of the round. */
  def splitRound(start: Long, end: Long, jobs: Seq[Counters.Job]): Seq[(String, Long, Long)] = {
    var t = start
    Phases.map { ph =>
      val last = if (ph == Phases.last) end
        else jobs.filter(j => phaseOf(j.site).contains(ph)).map(_.endNs).maxOption.getOrElse(t)
      val to = math.min(math.max(last, t), end)
      val seg = (ph, t, to)
      t = to
      seg
    }
  }

  final class Capture(ctx: Ctx, spark: SparkSession, src: Source, db: String, val table: String,
                      val stateDir: String) {
    val spec: Jdbc.ConnectionSpec = Jdbc.ConnectionSpec(Derby.url(db), Map.empty)
    createTarget(src.conn, table)

    private def source(): DataFrame = spark.read.format("cdc")
      .option("mode", "polling").option("url", spec.url)
      .option("table.name", "SRC").option("polling.column", "id")
      .option("numpartitions", ctx.cpus.toString).load()

    /** One round, the same one-call `captureAndApply` traced or not;
      * returns the number of changes it applied. */
    def round(): Long = ctx.tracer.span("capture.round")(
      SnapshotCapture.captureAndApply(spark, source(), Seq("id"), stateDir, spec, table))

    def target: Image = image(src.conn, table)
  }

  /** One timed incremental round: its interval on the benchmark clock, the
    * changes pending at its start (source against target), what it
    * reported applying, and what the target shows it applied. */
  final case class Round(startNs: Long, endNs: Long, pending: Long, reported: Long, applied: Ops)

  /** Set-up (session, Derby load, warm-up rounds), timed from JVM start,
    * then the timed phase. */
  def run(ctx: Ctx): Outcome = {
    val (spark, src) = ctx.tracer.span("setup") {
      val spark = ctx.tracer.span("setup.session")(Bench.session(ctx))
      val src = ctx.tracer.span("setup.derby_load") {
        val s = new Source(Derby.create("snap"), ctx.seed)
        s.load()
        s
      }
      ctx.tracer.span("setup.warmup") {
        val warm = new Capture(ctx, spark, src, "snap", "WARM",
          new java.io.File(ctx.work, "snap-warm").getAbsolutePath)
        warm.round()
        (1 to WarmupRounds).foreach { _ => src.churn(); warm.round() }
        require(warm.target == image(src.conn, "SRC"), "warm-up target differs from the source")
      }
      (spark, src)
    }
    measure(ctx, spark, src, Bench.setupSeconds())
  }

  private def measure(ctx: Ctx, spark: SparkSession, src: Source, setup: Metric): Outcome = {
    val counters = if (ctx.traced) Counters.register(spark.sparkContext) else null
    ctx.tracer.counters = Option(counters)
    val plans = new Plans
    if (ctx.traced) spark.listenerManager.register(plans)

    var failedRounds = 0
    def check(target: Image, source: Image, what: String): Unit = if (target != source) {
      failedRounds += 1
      System.err.println(s"[snapshot_rounds] CHECK FAILED after $what: target differs from the source")
    }

    // ---- bootstraps into fresh targets ----
    var srcImage = image(src.conn, "SRC")
    val boots = (1 to Bootstraps).map { b =>
      val cap = new Capture(ctx, spark, src, "snap", s"TGT$b",
        new java.io.File(ctx.work, s"snap-timed-$b").getAbsolutePath)
      val t0 = System.nanoTime()
      ctx.tracer.span("phase.bootstrap")(cap.round())
      val rowsPerSecond = src.rows / ((System.nanoTime() - t0) / 1e9)
      check(cap.target, srcImage, s"bootstrap $b")
      (cap, rowsPerSecond)
    }
    val cap = boots.last._1

    // ---- incremental rounds on the last target for the timed phase ----
    val lat = ArrayBuffer.empty[Double]
    val late = ArrayBuffer.empty[Double]
    val rounds = ArrayBuffer.empty[Round]
    var targetImage = cap.target
    val phaseStart = System.nanoTime()
    val deadline = phaseStart + ctx.seconds * 1000000000L
    var due = System.nanoTime()
    while (rounds.size < MinRounds || System.nanoTime() < deadline) {
      late += (System.nanoTime() - due) / 1e6
      val commitNs = src.churn()
      val s = Clock.nowNs
      val reported = cap.round()
      val endNs = System.nanoTime()
      val e = Clock.nowNs
      // the source does not change during a round: read both tables after it
      srcImage = image(src.conn, "SRC")
      val after = cap.target
      rounds += Round(s, e, opsBetween(targetImage, srcImage).total, reported, opsBetween(targetImage, after))
      targetImage = after
      lat += (endNs - commitNs) / 1e6
      check(after, srcImage, s"round ${rounds.size}")
      due = System.nanoTime()
    }
    val phaseSeconds = (System.nanoTime() - phaseStart) / 1e9

    val metrics = Map(
      "setup_s" -> setup,
      "apply_p50_ms" -> Metric(Bench.pct(lat.toSeq, 0.5), "ms"),
      "apply_p90_ms" -> Metric(Bench.pct(lat.toSeq, 0.9), "ms"),
      "drain_rows_per_s" -> Metric(Stats.median(boots.map(_._2)), "rows/s"))

    var split = Seq.empty[Seq[(String, Long, Long)]]
    val layer = if (!ctx.traced) Map.empty[String, Metric] else {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val cycles = rounds.map(r => (r.startNs, r.endNs)).toSeq
      split = cycles.map { case (s, e) => splitRound(s, e, counters.jobsIn(s, e)) }
      // the phases become child spans of their round
      val roundSpans = ctx.tracer.spans.filter(_.name == "capture.round")
      split.foreach { phases =>
        val (s, e) = (phases.head._2, phases.last._3)
        val parent = roundSpans.find(r => r.startNs >= s && r.startNs <= e)
        phases.foreach { case (name, s, e) => ctx.tracer.add(name, s, e, parent.map(_.id).getOrElse(-1)) }
      }
      def p50(phase: String): Double =
        Bench.pct(split.map(_.collect { case (`phase`, s, e) => (e - s) / 1e6 }.sum), 0.5)
      val sinkJobs = cycles.flatMap { case (s, e) =>
        counters.jobsIn(s, e).filter(j => phaseOf(j.site).contains("sink.apply")) }
      val plansByRound = cycles.map { case (a, b) =>
        plans.all.synchronized(plans.all.filter(x => x._1 >= a && x._1 <= b).map(_._2).sum).toDouble }
      val scanned = counters.taskSums(cycles.flatMap { case (a, b) =>
        counters.stagesIn(a, b).filter(_.scansJdbc).map(_.id) }).recordsRead.toDouble
      val changes = rounds.map(_.reported).sum.toDouble
      val applied = rounds.map(_.applied)
      val lastRoundDir = lastRound(cap.stateDir)
      Layers.cycleMetrics(cycles, sinkJobs, counters) ++ Map(
        "sources.lag_rows_p90" -> Metric(Bench.pct(rounds.map(_.pending.toDouble).toSeq, 0.9), "count"),
        "operator.ms_p50" -> Metric(p50("operator.diff"), "ms"),
        "operator.rows_out" -> Metric(changes, "count"),
        "operator.collapse_ratio" -> Metric(if (changes > 0) scanned / changes else 0.0, "ratio"),
        "state.rows" -> Metric(
          spark.read.parquet(new java.io.File(lastRoundDir, "snapshot").getAbsolutePath).count().toDouble, "count"),
        "state.bytes" -> Metric(dirBytes(lastRoundDir).toDouble, "bytes"),
        "commit.ms_p50" -> Metric(p50("capture.commit"), "ms"),
        "plan.ms_p50" -> Metric(Bench.pct(plansByRound, 0.5), "ms"),
        "sink.apply_ms" -> Metric(p50("sink.apply"), "ms"),
        "sink.inserts" -> Metric(applied.map(_.inserts).sum.toDouble, "count"),
        "sink.updates" -> Metric(applied.map(_.updates).sum.toDouble, "count"),
        "sink.deletes" -> Metric(applied.map(_.deletes).sum.toDouble, "count"),
        "gen.late_p99_ms" -> Metric(Bench.pct(late.toSeq, 0.99), "ms"),
        "gen.achieved_rows_per_s" -> Metric(rounds.map(_.pending).sum / phaseSeconds, "rows/s"),
        "apply.samples" -> Metric(rounds.map(_.pending).sum.toDouble, "count"),
        "apply.batches" -> Metric(rounds.size.toDouble, "count"))
    }
    Derby.close(src.conn)
    spark.stop()
    val rule = Bench.percentileRule("snapshot_rounds", rounds.size.toLong -> "rounds")
    Outcome(attempted = Bootstraps.toLong + rounds.size, failed = failedRounds, correct = failedRounds == 0,
      metrics = metrics ++ layer,
      detail = Map("percentile_rule" -> rule,
        "rounds" -> rounds.map(r => Map("s" -> (r.endNs - r.startNs) / 1e9, "pending" -> r.pending,
          "reported" -> r.reported, "applied" -> r.applied)).toSeq,
        "round_phases_ms" -> split.map(_.map { case (n, s, e) => n -> (e - s) / 1e6 }.toMap),
        "round_jobs" -> rounds.map { r =>
          Option(counters).map(_.jobsIn(r.startNs, r.endNs)).getOrElse(Nil).map { j =>
            Map("phase" -> phaseOf(j.site).getOrElse("other"), "site" -> j.site.linesIterator.take(3).mkString(" | "),
              "ms" -> (j.endNs - j.startNs) / 1e6)
          }
        }.toSeq,
        "bootstrap_rows_per_s" -> boots.map(_._2)))
  }

  /** The newest `round_<n>` directory of a capture state directory. */
  def lastRound(stateDir: String): java.io.File =
    new java.io.File(stateDir).listFiles().filter(_.getName.matches("round_\\d+"))
      .maxBy(_.getName.stripPrefix("round_").toLong)

  def dirBytes(f: java.io.File): Long =
    if (f.isFile) f.length() else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
}
