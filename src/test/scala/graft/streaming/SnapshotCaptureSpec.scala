package graft.streaming

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

import graft.{Cdc, SparkSpec}
import graft.operators.{IncrementalAgg, SnapshotDiff, SnapshotDiffSpec}

/** The snapshot capture loop's per-round work, pinned by deterministic
  * counts (jobs, call sites, plan nodes, persisted RDDs, round
  * directories) rather than wall time, plus its state-layout
  * compatibility and schema-drift failure modes. Round-trip and crash
  * replay are pinned in CdcSpec. */
class SnapshotCaptureSpec extends SparkSpec {
  import spark.implicits._
  import SnapshotCaptureSpec.Job

  private def stateDir(tag: String): String = Files.createTempDirectory(tag).toString

  private def rounds(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("round_")).sorted.toSeq

  private def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().map(_.toSeq).toSeq

  /** A Derby source table CSRC and target CTGT, recreated for one case. */
  private def withDerby(db: String)(body: (java.sql.Connection, Map[String, String],
      graft.sources.Jdbc.ConnectionSpec) => Unit): Unit = {
    System.setProperty("derby.system.home", "/tmp/graft-derby")
    Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    val plain = s"jdbc:derby:/tmp/graft-derby/$db"
    val conn = java.sql.DriverManager.getConnection(plain + ";create=true")
    try {
      for (t <- Seq("CSRC", "CTGT")) {
        try conn.createStatement().execute(s"DROP TABLE $t") catch { case _: Exception => }
        conn.createStatement().execute(s"CREATE TABLE $t (ID INT, NAME VARCHAR(32), V DOUBLE)")
      }
      conn.createStatement().execute(
        "INSERT INTO CSRC VALUES " + (1 to 40).map(i => s"($i,'n$i',$i.5)").mkString(", "))
      body(conn, Map("url" -> plain, "table.name" -> "CSRC", "polling.column" -> "id",
        "numpartitions" -> "2"), graft.sources.Jdbc.ConnectionSpec(plain, Map.empty))
    } finally conn.close()
  }

  private def table(conn: java.sql.Connection, t: String): Seq[(Int, String, Double)] = {
    val rs = conn.createStatement().executeQuery(s"SELECT ID, NAME, V FROM $t ORDER BY ID")
    Iterator.continually(rs).takeWhile(_.next())
      .map(r => (r.getInt(1), r.getString(2), r.getDouble(3))).toSeq
  }

  /** The jobs `body` starts (the listener bus is drained before reading). */
  private def jobsOf(body: => Unit): Seq[Job] = {
    val jobs = ArrayBuffer.empty[Job]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.synchronized {
        jobs += Job(j.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse(""),
          String.valueOf(j.properties.getProperty("spark.job.description")))
      }
    }
    drainListeners()
    spark.sparkContext.addSparkListener(listener)
    try { body; drainListeners() } finally spark.sparkContext.removeSparkListener(listener)
    jobs.synchronized(jobs.toList)
  }

  private def describe(jobs: Seq[Job]): String =
    jobs.map(j => s"[${j.description}] " + j.site.linesIterator.take(2).mkString(" | ")).mkString("\n")

  private def chain(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(x => String.valueOf(x.getMessage)).mkString(" | ")

  /** Asserts `e` is the state-layout refusal for `stateDir`'s round 0,
    * naming the fix, with `why` in it. */
  private def assertLayoutRefusal(e: IllegalStateException, stateDir: String, why: String): Unit = {
    val msg = e.getMessage
    assert(msg.startsWith(s"committed round ${new Path(stateDir, "round_0")} is not of the current state layout: "), msg)
    assert(msg.contains(why), msg)
    assert(msg.endsWith(s"Delete $stateDir and re-bootstrap against an empty target table " +
      "(the bootstrap round sends every row as an insert)"), msg)
  }

  test("bootstrap projection equals the diff against an empty snapshot: names, order, types, rows") {
    val dir = stateDir("cap_boot")
    // pk listed out of column order, nulls in key and non-key columns
    Seq((Option("x"), 1L, Option(2.5), "a"), (None, 2L, None, "b"), (Option("z"), 3L, Option(0.0), "c"))
      .toDF("s", "id", "v", "k").write.parquet(dir + "/snap")
    val snap = spark.read.parquet(dir + "/snap")
    val pk = Seq("k", "id")
    val old = SnapshotDiff.diff(snap.limit(0), snap, pk)
    val now = SnapshotDiff.inserts(snap, pk)
    assert(now.schema === old.schema)
    assert(now.columns.toSeq === Seq("k", "id", "s", "v", "before_s", "before_v", "_op"))
    assert(rows(now.orderBy("id")) === rows(old.orderBy("id")))
    intercept[IllegalArgumentException](SnapshotDiff.inserts(snap, Seq("nope")))
  }

  test("an incremental round: <= 5 jobs, each named for its phase, no parquet write but the snapshot's, no schema inference, 0 changes when quiet") {
    withDerby("cap_jobs") { (conn, opts, spec) =>
      val state = stateDir("cap_jobs_state")
      assert(Cdc.snapshotDiffApply(spark, opts, Seq("id"), state, spec, "CTGT") === 40L)
      conn.createStatement().execute("UPDATE CSRC SET V = 9.0 WHERE ID = 2")
      conn.createStatement().execute("DELETE FROM CSRC WHERE ID = 3")
      conn.createStatement().execute("INSERT INTO CSRC VALUES (41,'d',4.0)")
      var applied = -1L
      val jobs = jobsOf {
        applied = Cdc.snapshotDiffApply(spark, opts, Seq("id"), state, spec, "CTGT")
      }
      assert(applied === 3L && table(conn, "CTGT") === table(conn, "CSRC"))
      assert(jobs.size <= 5, s"${jobs.size} jobs in one incremental round:\n${describe(jobs)}")
      // every job, AQE's query-stage jobs included, is named for its round
      // and phase; the snapshot is the only parquet the round writes
      assert(jobs.forall(_.description.startsWith("capture round 1: ")), describe(jobs))
      val writes = jobs.filter(_.site.contains("DataFrameWriter.parquet"))
      assert(writes.map(_.description) === Seq("capture round 1: snapshot"), describe(jobs))
      assert(jobs.map(_.description).distinct.sorted ===
        Seq("capture round 1: apply", "capture round 1: snapshot"), describe(jobs))
      // every parquet read names its schema: no read starts a job
      val reads = jobs.filter(_.site.contains("DataFrameReader.parquet"))
      assert(reads.isEmpty, s"schema-inference jobs:\n${describe(reads)}")
      // the description set for the round is gone after it
      assert(spark.sparkContext.getLocalProperty("spark.job.description") === null)
      // quiet round: nothing dirty, nothing applied
      assert(Cdc.snapshotDiffApply(spark, opts, Seq("id"), state, spec, "CTGT") === 0L)
      assert(table(conn, "CTGT") === table(conn, "CSRC"))
    }
  }

  test("an empty source bootstraps, then converges once rows arrive; its digests arrive empty") {
    withDerby("cap_empty") { (conn, opts, spec) =>
      conn.createStatement().execute("DELETE FROM CSRC")
      val state = stateDir("cap_empty_state")
      assert(Cdc.snapshotDiffApply(spark, opts, Seq("id"), state, spec, "CTGT") === 0L)
      assert(table(conn, "CTGT").isEmpty)
      val fs = new Path(state).getFileSystem(spark.sessionState.newHadoopConf())
      val in = fs.open(new Path(state, "round_0/digests.bin"))
      val boot = try SnapshotDiff.Digests.fromBytes(in.readAllBytes()) finally in.close()
      assert(boot.buckets === 4096 && boot.rows.isEmpty)
      conn.createStatement().execute("INSERT INTO CSRC VALUES (1,'a',1.0), (2,NULL,2.0)")
      assert(Cdc.snapshotDiffApply(spark, opts, Seq("id"), state, spec, "CTGT") === 2L)
      assert(table(conn, "CTGT") === table(conn, "CSRC"))
      assert(Cdc.snapshotDiffApply(spark, opts, Seq("id"), state, spec, "CTGT") === 0L)
    }
  }

  test("captureIntoLadder rounds read parquet with known schemas; a ladder without one re-bootstraps with no inference read") {
    val dir = stateDir("cap_ladder")
    def src(n: Int) = ((1 to 40).filterNot(_ == 10 + n) :+ (100 + n))
      .map(i => (i.toLong, (i % 3).toLong, i.toLong * 7 - 120, i / 4.0 + n))
      .toDF("event_id", "key", "ts", "value")
    def levels(ls: Seq[(String, DataFrame)]): Seq[(String, Set[Seq[Any]])] =
      ls.map { case (l, df) => l -> rows(df.select($"key", $"bucket_start", $"cnt",
        $"sum_dec".cast("string"))).toSet }
    /** Runs round `n`, checks its ladder, returns the round's parquet-read jobs. */
    def round(n: Int, grans: Seq[(String, Long)]): Seq[String] = {
      var ladder = Seq.empty[(String, DataFrame)]
      val jobs = jobsOf {
        ladder = SnapshotCapture.captureIntoLadder(spark, src(n), Seq("event_id"), dir,
          "key", "ts", "value", grans)._2
      }
      assert(levels(ladder) === levels(IncrementalAgg.rollup(src(n), "key", "ts", "value", grans)),
        s"round $n")
      jobs.map(_.site).filter(_.contains("DataFrameReader.parquet"))
    }
    // bootstrap, a fold, a grain change that re-bootstraps from the snapshot
    for ((n, grans) <- Seq(0 -> Seq("b" -> 100L, "b4" -> 400L), 1 -> Seq("b" -> 100L, "b4" -> 400L),
                           2 -> Seq("b" -> 50L, "b4" -> 400L))) {
      val reads = round(n, grans)
      assert(reads.isEmpty, s"round $n schema-inference jobs:\n${reads.mkString("\n\n")}")
    }
    // a ladder_meta of the earlier layout (grain line only) is treated like
    // a grain mismatch: the finest level is rebuilt from the snapshot,
    // with no inference read of the old ladder
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val meta = new Path(dir, "round_2/ladder_meta")
    val grain = scala.io.Source.fromInputStream(fs.open(meta)).getLines().next()
    val out = fs.create(meta, true)
    try out.write(grain.getBytes("UTF-8")) finally out.close()
    val reads = round(3, Seq("b" -> 50L, "b4" -> 400L))
    assert(reads.isEmpty, s"round 3 schema-inference jobs:\n${reads.mkString("\n\n")}")
  }

  test("pruned diffs plan no broadcast exchange and register no checkpoint blocks") {
    val before = (1L to 500L).map(i => (i, s"s$i")).toDF("id", "s")
    val after = (2L to 501L).map(i => (i, if (i == 7) "CHANGED" else s"s$i")).toDF("id", "s")
    val baseline = storageBaseline()
    val pruned = SnapshotDiff.diffPruned(before, after, Seq("id"), 64)
    val Seq(b, a) = SnapshotDiff.digestsOf(Seq(before, after), Seq("id"), 64)
    val incr = SnapshotDiff.diffPrunedIncremental(before, b, after, a, Seq("id"), 64)
    for (d <- Seq(pruned, incr)) {
      val p = d.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastExchange"), s"the dirty set must not broadcast:\n$p")
      assert(rows(d.select("id", "_op").orderBy("id")) ===
        Seq(Seq(1L, "delete"), Seq(7L, "update"), Seq(501L, "insert")))
    }
    // both frames are still held here: a checkpoint behind either would
    // keep storage above the baseline
    assert(storageAfterDrop(baseline) === baseline)
  }

  test("a capture round leaves other code's registered checkpoint blocks alone") {
    withDerby("cap_ledger") { (conn, opts, spec) =>
      val state = stateDir("cap_ledger_state")
      Cdc.snapshotDiffApply(spark, opts, Seq("id"), state, spec, "CTGT")
      // a returned frame backed by checkpoint blocks, as activityCosineTopK leaves one
      val baseline = storageBaseline()
      val held = spark.range(0, 100).toDF("x").where($"x" % 3 === 0).localCheckpoint()
      val withHeld = spark.sparkContext.getPersistentRDDs.size
      assert(withHeld > baseline)
      conn.createStatement().execute("UPDATE CSRC SET NAME = 'u' WHERE ID = 5")
      assert(Cdc.snapshotDiffApply(spark, opts, Seq("id"), state, spec, "CTGT") === 1L)
      // the round neither frees the held frame's blocks nor leaves its own
      assert(storageAfterDrop(withHeld) === withHeld)
      assert(held.count() === 34L)
    }
  }

  test("superseded rounds retire: after three committed rounds only the last one stays live") {
    val dir = stateDir("cap_retire")
    def src(n: Int) = (1 to 20).map(i => (i.toLong, s"v$i-${if (i <= n) "x" else ""}")).toDF("id", "s")
    for (n <- 0 until 3) {
      val r = SnapshotCapture.capture(spark, src(n), Seq("id"), dir, 16)
      assert(r.round === n.toLong)
      // the round in flight and the baseline it diffs against, nothing older
      assert(rounds(dir) === (math.max(0, n - 1) to n).map(i => s"round_$i"))
      assert(r.changes.count() === (if (n == 0) 20L else 1L))
      r.commit()
    }
    // three committed rounds: the next capture deletes every round but the
    // last committed one, its baseline, which stays readable until then
    val r3 = SnapshotCapture.capture(spark, src(3), Seq("id"), dir, 16)
    assert(rounds(dir) === Seq("round_2", "round_3"))
    assert(r3.changes.count() === 1L)
  }

  test("state without the schema sidecar (earlier layout) is refused, naming the fix") {
    withDerby("cap_compat") { (conn, opts, spec) =>
      val state = stateDir("cap_compat_state")
      assert(Cdc.snapshotDiffApply(spark, opts, Seq("id"), state, spec, "CTGT") === 40L)
      val fs = new Path(state).getFileSystem(spark.sessionState.newHadoopConf())
      assert(fs.delete(new Path(state, "round_0/schema"), false))
      conn.createStatement().execute("UPDATE CSRC SET V = 0.25 WHERE ID < 4")
      val e = intercept[IllegalStateException](
        Cdc.snapshotDiffApply(spark, opts, Seq("id"), state, spec, "CTGT"))
      assertLayoutRefusal(e, state, "it has no schema")
      // refused before the round's scan: no round in flight, target untouched
      assert(rounds(state) === Seq("round_0"))
      assert(table(conn, "CTGT").size === 40)
    }
  }

  test("a committed round with a parquet digest table (earlier layout) is refused, naming the fix") {
    withDerby("cap_pqdig") { (conn, opts, spec) =>
      val state = stateDir("cap_pqdig_state")
      assert(Cdc.snapshotDiffApply(spark, opts, Seq("id"), state, spec, "CTGT") === 40L)
      // rewrite round 0 as the earlier layout stored it: the digests as a
      // parquet table of bucket digests over the snapshot
      val fs = new Path(state).getFileSystem(spark.sessionState.newHadoopConf())
      val r0 = new Path(state, "round_0")
      SnapshotDiffSpec.bucketDigests(spark.read.parquet(new Path(r0, "snapshot").toString), Seq("id"), 4096)
        .coalesce(1).write.parquet(new Path(r0, "digests").toString)
      assert(fs.delete(new Path(r0, "digests.bin"), false))
      conn.createStatement().execute("DELETE FROM CSRC WHERE ID = 8")
      val e = intercept[IllegalStateException](
        Cdc.snapshotDiffApply(spark, opts, Seq("id"), state, spec, "CTGT"))
      assertLayoutRefusal(e, state, "it has no digests.bin")
      assert(rounds(state) === Seq("round_0"))
    }
  }

  test("a damaged digest file is refused, naming the fix: truncated, one byte over, unknown format") {
    val src = (1 to 30).map(i => (i.toLong, s"s$i")).toDF("id", "s")
    /** Round 1 over a committed round 0 whose digest file `damage`
      * rewrote is refused before its scan, with `why` in the message.
      * The file is rewritten through the Hadoop filesystem, so its
      * checksum matches, unless `bypass` writes it directly. */
    def refused(why: String, bypass: Boolean = false)(damage: Array[Byte] => Array[Byte]): Unit = {
      val dir = stateDir("cap_damaged")
      SnapshotCapture.capture(spark, src, Seq("id"), dir, 16).commit()
      val file = new Path(dir, "round_0/digests.bin")
      val local = java.nio.file.Paths.get(file.toString)
      val damaged = damage(Files.readAllBytes(local))
      if (bypass) Files.write(local, damaged)
      else {
        val out = file.getFileSystem(spark.sessionState.newHadoopConf()).create(file, true)
        try out.write(damaged) finally out.close()
      }
      assertLayoutRefusal(intercept[IllegalStateException](
        SnapshotCapture.capture(spark, src, Seq("id"), dir, 16)), dir, why)
      assert(rounds(dir) === Seq("round_0"))
    }
    /** `damage` applied to the inflated payload, deflated again. */
    def payload(damage: java.nio.ByteBuffer => java.nio.ByteBuffer)(file: Array[Byte]): Array[Byte] = {
      val in = new java.util.zip.InflaterInputStream(new java.io.ByteArrayInputStream(file))
      val p = damage(java.nio.ByteBuffer.wrap(try in.readAllBytes() finally in.close()))
      val out = new java.io.ByteArrayOutputStream()
      val z = new java.util.zip.DeflaterOutputStream(out)
      try z.write(p.array()) finally z.close()
      out.toByteArray
    }
    refused("digest file is truncated")(b => b.take(b.length / 2))
    refused("1 bytes follow the digest file's deflate stream")(_ :+ 0.toByte)
    refused("unknown digest file format 2")(payload(_.putInt(0, 2)))
    refused("digest file stamps buckets=0")(payload(_.putInt(4, 0)))
    // a payload one byte longer than its stamps need
    refused("need")(payload(p => java.nio.ByteBuffer.wrap(p.array() :+ 0.toByte)))
    // a file changed behind the filesystem's back fails its checksum
    refused("Checksum error", bypass = true)(_ :+ 0.toByte)
  }

  test("a digest file stamped with another bucket count or column list is refused, in validateDigests' words") {
    val src = (1 to 30).map(i => (i.toLong, s"s$i")).toDF("id", "s")
    def refusal(after: DataFrame, buckets: Int): String = {
      val dir = stateDir("cap_refuse")
      SnapshotCapture.capture(spark, src, Seq("id"), dir, 16).commit()
      chain(intercept[IllegalStateException](SnapshotCapture.capture(spark, after, Seq("id"), dir, buckets)))
    }
    val changed = src.where($"id" =!= 5L)
    val wrongBuckets = refusal(changed, 32)
    assert(wrongBuckets.contains("digest artifact was built with buckets=16 but this diff uses " +
      "buckets=32; bucket ids would misalign and changed rows would be silently pruned"), wrongBuckets)
    val reordered = changed.select("s", "id")
    val wrongCols = refusal(reordered, 16)
    assert(wrongCols.contains("digest artifact was built over [pk=id;cols=id,s] but this diff runs " +
      "over [pk=id;cols=s,id]; signatures would not be comparable"), wrongCols)
  }

  test("a source column added between rounds fails loudly, with or without the sidecar") {
    for (sidecar <- Seq(true, false)) {
      val dir = stateDir("cap_drift")
      val r0 = SnapshotCapture.capture(spark,
        (1 to 10).map(i => (i.toLong, s"s$i")).toDF("id", "s"), Seq("id"), dir, 16)
      r0.commit()
      if (!sidecar) new java.io.File(dir, "round_0/schema").delete()
      val e = intercept[Exception] {
        SnapshotCapture.capture(spark,
          (1 to 10).map(i => (i.toLong, s"s$i", i)).toDF("id", "s", "extra"), Seq("id"), dir, 16)
          .changes.collect()
      }
      if (sidecar) {
        val msg = chain(e)
        assert(msg.contains("not be comparable") || msg.contains("snapshots must share a schema"), msg)
      } else assertLayoutRefusal(e.asInstanceOf[IllegalStateException], dir, "it has no schema")
    }
  }
}

object SnapshotCaptureSpec {
  /** A job a spec body started: its long call site and its description. */
  private final case class Job(site: String, description: String)
}
