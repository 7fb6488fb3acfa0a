package perfbench

import java.io.File
import java.sql.{Connection, DriverManager, SQLException}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** A measured value with its unit. */
final case class Metric(value: Double, unit: String)

/** What a workload run reports: operations attempted and failed, whether
  * every output check passed, and every metric (end-to-end and per-layer)
  * it measured. `detail` goes into the trace file only. */
final case class Outcome(attempted: Long, failed: Long, correct: Boolean,
                         metrics: Map[String, Metric], detail: Map[String, Any] = Map.empty)

/** Settings shared by the workloads of one run. */
final case class Ctx(seed: Long, seconds: Int, tracer: Tracer, work: File, cpus: Int) {
  def traced: Boolean = tracer.enabled
}

/** Embedded in-memory Derby: source and target tables live in the
  * benchmark's JVM, so no database disk flush is counted as program time. */
object Derby {
  Class.forName("org.apache.derby.jdbc.EmbeddedDriver")

  def url(db: String): String = s"jdbc:derby:memory:$db"

  def create(db: String): Connection = DriverManager.getConnection(url(db) + ";create=true")

  def drop(db: String): Unit =
    try DriverManager.getConnection(url(db) + ";drop=true").close()
    catch { case e: SQLException if e.getSQLState == "08006" => () } // Derby's "dropped"

  def close(conn: Connection): Unit = {
    if (!conn.getAutoCommit) conn.commit()
    conn.close()
  }

  def exec(conn: Connection, sql: String): Unit = {
    val st = conn.createStatement()
    try st.execute(sql) finally st.close()
  }

  def queryLong(conn: Connection, sql: String): Long = {
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery(sql)
      rs.next()
      rs.getLong(1)
    } finally st.close()
  }
}

object Bench {
  val Workloads: Map[String, Ctx => Outcome] = Map(
    "poll_latest" -> PollLatest.run,
    "snapshot_rounds" -> SnapshotRounds.run)

  /** A fresh local session with the engine's own configuration. */
  def session(ctx: Ctx): SparkSession = graft.GraftSession.create(ctx.cpus.toString)

  /** Seconds from JVM start to now: a workload calls it when its set-up
    * ends, right before its first timed operation, so class loading, JIT
    * start-up, session start, the Derby load and the warm-up all count. */
  def setupSeconds(): Metric = Metric((Clock.nowNs - jvmStartNs) / 1e9, "s")

  def jvmStartNs: Long =
    Clock.fromEpochMs(java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)

  /** States which percentile the latency samples support, for each way of
    * counting them (rows, and the batches whose rows share one apply
    * time), and prints it with the run's log. */
  def percentileRule(workload: String, counts: (Long, String)*): Map[String, Any] = {
    System.err.println(s"[$workload] highest percentile with >= 10 samples beyond it: " +
      counts.map { case (n, unit) => s"${Stats.topPercentile(n).getOrElse("none")} over $n $unit" }.mkString(", "))
    counts.flatMap { case (n, unit) => Seq(unit -> n, s"${unit}_top" -> Stats.topPercentile(n)) }.toMap
  }

  def pct(xs: Seq[Double], q: Double): Double = if (xs.isEmpty) 0.0 else Stats.quantile(xs, q)

  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def usage(): Nothing = {
    System.err.println("usage: perfbench.Bench --workload <" + Workloads.keys.toSeq.sorted.mkString("|") +
      "> --seed <n> --seconds <n> --trace <0|1> --work <dir> [--trace-out <file>]")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val run = kv.get("workload").flatMap(Workloads.get).getOrElse(usage())
    val seed = kv.get("seed").flatMap(_.toLongOption).getOrElse(usage())
    val seconds = kv.get("seconds").flatMap(_.toIntOption).filter(_ > 0).getOrElse(usage())
    val traced = kv.get("trace") match {
      case Some("0") => false
      case Some("1") => true
      case _ => usage()
    }
    val work = new File(kv.getOrElse("work", usage()))
    work.mkdirs()
    // Spark gets half the cores: the driver, the writer, the JIT compilers
    // and GC keep the rest, so a trigger's tasks do not queue behind them
    val ctx = Ctx(seed, seconds, new Tracer(traced), work,
      math.max(1, Runtime.getRuntime.availableProcessors() / 2))
    val out = run(ctx)
    out.metrics.foreach { case (k, m) => require(!m.value.isNaN && !m.value.isInfinite, s"$k is ${m.value}") }
    kv.get("trace-out").foreach { path =>
      val runId = s"${kv("workload")}-seed$seed"
      val recorded = ctx.tracer.spans
      // sink calls of a micro-batch nest under its trigger (known from progress)
      val spans = Trace.nestUnder(recorded, recorded.filter(_.name == "cycle"), slackNs = 1000000L)
      val self = Trace.selfTimes(spans)
      val selfByName = spans.groupBy(_.name).map { case (n, ss) =>
        n -> Map("count" -> ss.size, "total_s" -> ss.map(_.durNs).sum / 1e9,
          "self_s" -> ss.map(s => self(s.id)).sum / 1e9)
      }
      val doc = Map("run_id" -> runId, "workload" -> kv("workload"),
        "seed" -> seed, "seconds" -> seconds, "cpus" -> ctx.cpus,
        "metrics" -> out.metrics, "self_time_by_span" -> selfByName,
        "spans" -> spans.map { s =>
          // listener counts of the jobs and stages that started inside the span
          val counts = ctx.tracer.counters.map { c =>
            val stages = c.stagesIn(s.startNs, s.endNs)
            Map("jobs" -> c.jobsIn(s.startNs, s.endNs).size, "stages" -> stages.size,
              "tasks" -> stages.map(_.tasks).sum)
          }.getOrElse(Map.empty)
          Map("run_id" -> runId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
            "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_ns" -> self(s.id)) ++ counts
        }) ++ out.detail
      val w = new java.io.PrintWriter(path, "UTF-8")
      try w.println(mapper.writeValueAsString(doc)) finally w.close()
    }
    println(mapper.writeValueAsString(Map("correct" -> out.correct, "attempted" -> out.attempted,
      "failed" -> out.failed, "metrics" -> out.metrics)))
    SparkSession.getActiveSession.foreach(_.stop())
    sys.exit(0)
  }
}
