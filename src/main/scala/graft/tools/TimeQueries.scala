package graft.tools

import java.util.concurrent.atomic.AtomicLong

import graft._
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Time a subset of SparkEntry queries (dev diagnostics):
  * `runMain graft.tools.TimeQueries sfDir q1 q2 ...`
  * (`all` as the single query name = every registered query);
  * `SPARK_GRAFT_TQ_REPS` (default 1) reports the min of N reps. Each
  * `[time]` line also carries the stage accounting of the last rep of
  * each side: stages, shuffle-write bytes, task deserialize and run
  * seconds, summed over the query's completed stages. */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names =
      if (args.length > 1 && args(1) == "all") SparkEntry.queries.keys.toSeq.sorted
      else if (args.length > 1) args.tail.toSeq
      else Seq("p6_dedup_ngram", "p7_dedup_minhash")
    val reps = sys.env.getOrElse("SPARK_GRAFT_TQ_REPS", "1").toInt
    val spark = GraftSession.create("32")
    names.foreach { n => // warm-up at tiny sf
      SparkEntry.queries(n)(spark, "/root/testdata/sf0.001")
        .write.format("noop").mode("overwrite").save()
    }
    // stage + shuffle-write + task-time accounting: the evidence for
    // recompute-vs-reuse questions (a 3x-referenced subtree that does NOT
    // stage-reuse shows up as ~3x the shuffle bytes of its single run,
    // invisible in wall time on a page-cached local disk);
    // executorDeserializeTime isolates task-binary deserialization —
    // where a boxed plan literal bills
    val stages = new AtomicLong
    val shufBytes = new AtomicLong
    val deserMs = new AtomicLong
    val runMs = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        shufBytes.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        deserMs.addAndGet(sc.stageInfo.taskMetrics.executorDeserializeTime)
        runMs.addAndGet(sc.stageInfo.taskMetrics.executorRunTime)
      }
    })
    // a real drain, not a fixed sleep: under load, stage events posted
    // late would bleed into the next query's window. LiveListenerBus
    // .waitUntilEmpty is private[spark] (public bytecode), so reflect —
    // dev tool, same pattern as the DebeziumRuntime public-API loader
    def drainBus(): Unit = {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty", java.lang.Long.TYPE)
        .invoke(bus, java.lang.Long.valueOf(30000L))
    }
    def counters(): Seq[Long] = Seq(stages.get, shufBytes.get, deserMs.get, runMs.get)
    // matched-window A/B: SPARK_GRAFT_TQ_DIR2 alternates a second data
    // dir with the first INSIDE each query's rep loop, so both sides see
    // the same contention window and the min-vs-min is window-robust
    val dir2 = sys.env.get("SPARK_GRAFT_TQ_DIR2")
    names.foreach { n =>
      // wall seconds and the run's stage accounting
      def one(d: String): (Double, String) = {
        drainBus()
        val c0 = counters()
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, d).write.format("noop").mode("overwrite").save()
        val secs = (System.nanoTime() - t0) / 1e9
        drainBus()
        val Seq(st, sb, de, ru) = counters().zip(c0).map { case (c, z) => c - z }
        (secs, f"stages=$st shuffle_bytes=$sb deser_s=${de / 1e3}%.2f run_s=${ru / 1e3}%.2f")
      }
      dir2 match {
        case Some(d2) =>
          val (ra, rb) = (1 to reps).map(_ => (one(dir), one(d2))).unzip
          val (a, b) = (ra.map(_._1), rb.map(_._1))
          println(f"[time] $n%-24s A ${a.min}%.2f  B ${b.min}%.2f  dAB ${a.min - b.min}%+.2f  " +
            f"(A ${a.map(t => f"$t%.2f").mkString(",")} | B ${b.map(t => f"$t%.2f").mkString(",")})  " +
            s"A ${ra.last._2} | B ${rb.last._2}")
        case None =>
          val runs = (1 to reps).map(_ => one(dir))
          val ts = runs.map(_._1)
          println(f"[time] $n%-24s ${ts.min}%.2f s  (${ts.map(t => f"$t%.2f").mkString(",")})  " +
            runs.last._2)
      }
    }
    spark.stop()
  }
}
