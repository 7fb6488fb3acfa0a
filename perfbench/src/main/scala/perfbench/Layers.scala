package perfbench

/** Per-layer metrics that both workloads report. A cycle is one unit of
  * capture work: a micro-batch trigger (poll_latest) or an incremental
  * capture round (snapshot_rounds). Stages and jobs are attributed to the
  * cycle in which they started. */
object Layers {

  def ms(ns: Double): Double = ns / 1e6

  /** `sinkJobs` are the jobs `JdbcApply` started: their result stages are
    * the per-partition writes, which read the sink's rows from its
    * repartition shuffle. */
  def cycleMetrics(cycles: Seq[(Long, Long)], sinkJobs: Seq[Counters.Job],
                   counters: Counters): Map[String, Metric] = {
    val per = cycles.map { case (s, e) =>
      val stages = counters.stagesIn(s, e)
      val busy = Stats.clippedUnion(stages.map(st => (st.startNs, st.endNs)), s, e)
      val read = Stats.clippedUnion(stages.filter(_.scansJdbc).map(st => (st.startNs, st.endNs)), s, e)
      (e - s, counters.jobsIn(s, e).size, stages, (e - s) - busy, read)
    }
    val allStages = per.flatMap(_._3)
    val sums = counters.taskSums(allStages.map(_.id))
    val sinks = sinkJobs.filter(j => cycles.exists { case (s, e) => j.startNs >= s && j.startNs <= e })
    def med(f: ((Long, Int, Seq[Counters.Stage], Long, Long)) => Double) = Bench.pct(per.map(f), 0.5)
    Map(
      "cycle.count" -> Metric(per.size.toDouble, "count"),
      "cycle.ms_p50" -> Metric(med(c => ms(c._1.toDouble)), "ms"),
      "cycle.jobs" -> Metric(med(_._2.toDouble), "count"),
      "cycle.stages" -> Metric(med(_._3.size.toDouble), "count"),
      "cycle.tasks" -> Metric(med(_._3.map(_.tasks).sum.toDouble), "count"),
      "cycle.driver_gap_ms" -> Metric(med(c => ms(c._4.toDouble)), "ms"),
      "sources.read_ms" -> Metric(med(c => ms(c._5.toDouble)), "ms"),
      "sources.rows_read" -> Metric(
        counters.taskSums(allStages.filter(_.scansJdbc).map(_.id)).recordsRead.toDouble, "count"),
      "sink.rows_applied" -> Metric(
        counters.taskSums(sinks.map(_.resultStage)).shuffleRecords.toDouble, "count"),
      "sink.tasks" -> Metric(counters.resultTasks(sinks).toDouble, "count"),
      "task.run_s" -> Metric(sums.runMs / 1e3, "s"),
      "task.cpu_s" -> Metric(sums.cpuNs / 1e9, "s"),
      "task.deserialize_s" -> Metric(sums.deserializeMs / 1e3, "s"),
      "shuffle.bytes" -> Metric(sums.shuffleBytes.toDouble, "bytes"))
  }
}
