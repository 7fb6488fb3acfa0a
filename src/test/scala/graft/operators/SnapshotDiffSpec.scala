package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Snapshot differencing: op classification, envelope images, null-safe
  * change detection, contract validation. */
class SnapshotDiffSpec extends SparkSpec {
  import spark.implicits._
  import SnapshotDiffSpec.bucketDigests

  test("diff emits insert/update/delete with envelope images; unchanged rows omitted") {
    val before = Seq(
      (1L, Some("a"), 10L),
      (2L, Some("b"), 20L),
      (3L, Some("c"), 30L),
      (4L, None: Option[String], 40L)).toDF("id", "s", "v")
    val after = Seq(
      (2L, Some("b"), 20L), // unchanged -> omitted
      (3L, Some("c2"), 30L), // value update
      (4L, Some("d"), 40L), // NULL -> value must count as a change (<=>)
      (5L, Some("e"), 50L)).toDF("id", "s", "v")
    val out = SnapshotDiff.diff(before, after, Seq("id")).orderBy("id")
    assert(out.columns.toSeq ===
      Seq("id", "s", "v", "before_s", "before_v", "_op"))
    val rows = out.select("id", "_op", "s", "before_s")
      .as[(Long, String, Option[String], Option[String])].collect().toSeq
    assert(rows === Seq(
      (1L, "delete", None, Some("a")),
      (3L, "update", Some("c2"), Some("c")),
      (4L, "update", Some("d"), None),
      (5L, "insert", Some("e"), None)))
    // delete keeps the before image and null-pads the after image (O6
    // padding convention), insert the reverse
    val del = out.where(col("_op") === "delete").select("v", "before_v")
      .as[(Option[Long], Option[Long])].head()
    assert(del === ((None, Some(10L))))
  }

  test("mismatched schemas and non-schema pk are rejected") {
    val a = Seq((1L, "x")).toDF("id", "s")
    val b = Seq((1L, "x", 2L)).toDF("id", "s", "v")
    intercept[IllegalArgumentException](SnapshotDiff.diff(a, b, Seq("id")))
    intercept[IllegalArgumentException](SnapshotDiff.diff(a, a, Seq("nope")))
    intercept[IllegalArgumentException](SnapshotDiff.diff(a, a, Seq.empty))
  }

  test("diff output feeds JdbcApply unchanged: a binlog-free replication round-trip") {
    System.setProperty("derby.system.home", "/tmp/graft-derby")
    Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    val url = "jdbc:derby:/tmp/graft-derby/sdiff_rt;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      try conn.createStatement().execute("DROP TABLE TGT") catch { case _: Exception => }
      conn.createStatement().execute("CREATE TABLE TGT (ID INT, NAME VARCHAR(32), V DOUBLE)")
      conn.createStatement().execute(
        "INSERT INTO TGT VALUES (1,'a',1.0), (2,'b',2.0), (3,'c',3.0)")
      // the target mirrors the previous snapshot; the source has since
      // updated 2, deleted 3, inserted 4
      val prev = Seq((1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)).toDF("id", "name", "v")
      val now = Seq((1, "a", 1.0), (2, "B", 9.0), (4, "d", 4.0)).toDF("id", "name", "v")
      val diff = SnapshotDiff.diff(prev, now, Seq("id"))
      graft.streaming.JdbcApply(
        graft.sources.Jdbc.ConnectionSpec(url.stripSuffix(";create=true"), Map.empty),
        "TGT", Seq("id"))(diff, 0L)
      val rs = conn.createStatement().executeQuery("SELECT ID, NAME, V FROM TGT ORDER BY ID")
      val got = Iterator.continually(rs).takeWhile(_.next())
        .map(r => (r.getInt(1), r.getString(2), r.getDouble(3))).toSeq
      assert(got === Seq((1, "a", 1.0), (2, "B", 9.0), (4, "d", 4.0)))
    } finally conn.close()
  }

  test("diffPruned equals diff, and a localized change dirties few buckets") {
    val before = (1L to 2000L).map(i => (i, s"name_$i", i * 10)).toDF("id", "s", "v")
    // one update, one delete, one insert — everything else untouched
    val after = ((1L to 2000L).filter(_ != 1700L).map { i =>
      (i, s"name_$i", if (i == 300L) -1L else i * 10)
    } :+ (9999L, "new", 0L)).toDF("id", "s", "v")
    val full = SnapshotDiff.diff(before, after, Seq("id"))
      .orderBy("id").collect().map(_.toSeq).toSeq
    val pruned = SnapshotDiff.diffPruned(before, after, Seq("id"), buckets = 256)
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(full === pruned)
    assert(full.size === 3)
    // 3 changed keys -> at most 3 dirty buckets of 256; unchanged buckets
    // are proven clean by digest and never enter the PK join
    val Seq(b, a) = SnapshotDiff.digestsOf(Seq(before, after), Seq("id"), 256)
    val dirty = b.dirtyIds(a).size
    assert(dirty >= 1 && dirty <= 3, s"expected <=3 dirty buckets, got $dirty")
    // the capture-loop shape: last round's PERSISTED digests, one scan of
    // the new snapshot — identical change set
    val persisted = SnapshotDiff.Digests.fromBytes(b.toBytes)
    val Seq(fresh) = SnapshotDiff.digestsOf(Seq(after), Seq("id"), 256)
    val incr = SnapshotDiff.diffPrunedIncremental(before, persisted, after, fresh, Seq("id"), 256)
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(incr === full)
    // unchanged snapshots: zero dirty buckets, empty diff
    assert(b.dirtyIds(persisted).isEmpty)
    assert(SnapshotDiff.diffPruned(before, before, Seq("id"), 256).isEmpty)
  }

  test("digest prune detects a null-position swap (hash functions skip NULLs)") {
    // (a='x', b=NULL) -> (a=NULL, b='x'): xxhash64 over values alone is
    // IDENTICAL for both rows (null inputs leave the running hash
    // unchanged), so a signature without null flags silently prunes this
    // update — the deterministic collision class from the round-7 advice
    val before = Seq((1L, Option("x"), Option.empty[String]),
      (2L, Option("k"), Option("m"))).toDF("id", "a", "b")
    val after = Seq((1L, Option.empty[String], Option("x")),
      (2L, Option("k"), Option("m"))).toDF("id", "a", "b")
    val full = SnapshotDiff.diff(before, after, Seq("id"))
      .select("id", "_op").as[(Long, String)].collect().toSeq
    assert(full === Seq((1L, "update")))
    val pruned = SnapshotDiff.diffPruned(before, after, Seq("id"), buckets = 64)
      .select("id", "_op").as[(Long, String)].collect().toSeq
    assert(pruned === full)
    // and the same through the persisted-digest capture-loop path
    val Seq(b, a) = SnapshotDiff.digestsOf(Seq(before, after), Seq("id"), 64)
    val incr = SnapshotDiff.diffPrunedIncremental(before, b, after, a, Seq("id"), 64)
      .select("id", "_op").as[(Long, String)].collect().toSeq
    assert(incr === full)
  }

  test("digests observed during a write equal bucketDigests of the written parquet, row for row") {
    import java.sql.{Date, Timestamp}
    // multi-column pk (listed out of column order), nulls in key and
    // non-key columns, the null-position swap pair, timestamp/date/double
    val rows = (1 to 300).map { i =>
      (if (i % 7 == 0) None else Some(s"k${i % 11}"), i.toLong,
        if (i % 5 == 0) None else Some(new Timestamp(1700000000000L + i * 3600000L)),
        if (i % 6 == 0) None else Some(Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i))),
        if (i % 4 == 0) None else Some(i / 3.0),
        if (i == 1) Some("x") else if (i == 2) None else Some(s"a$i"),
        if (i == 1) None else if (i == 2) Some("x") else None)
    }
    val src = rows.toDF("kc", "id", "ts", "d", "v", "a", "b")
    val pk = Seq("id", "kc")
    for (buckets <- Seq(1, 16, 4096)) {
      val path = java.nio.file.Files.createTempDirectory("sdiff_obs").toString + "/snap"
      val (observed, digests) = SnapshotDiff.observeDigests(src, pk, buckets)
      observed.write.parquet(path)
      val got = digests.await()
      val want = bucketDigests(spark.read.parquet(path), pk, buckets)
      assert(got.rows === want.select("_bkt", "_digest", "_n").orderBy("_bkt")
        .as[(Long, Long, Long)].collect().toSeq, s"buckets=$buckets")
      assert(got.rows.map(_._3).sum === 300L)
      // and digestsOf, which folds several frames in one aggregation
      assert(SnapshotDiff.digestsOf(Seq(src, spark.read.parquet(path)), pk, buckets)
        .map(_.rows) === Seq(got.rows, got.rows), s"buckets=$buckets")
      assert(want.select("_buckets", "_cols").distinct().as[(Long, String)].collect().toSeq ===
        Seq((buckets.toLong, got.cols)))
    }
    // the swapped rows sign differently, so their buckets can tell them apart
    val sig = src.where($"id" <= 2L).select(SnapshotDiff.rowSignature(Seq("a", "b")))
      .as[Long].collect()
    assert(sig(0) !== sig(1))
    // an empty frame's observation still arrives, with no bucket in it
    val (empty, none) = SnapshotDiff.observeDigests(src.limit(0), pk, 16)
    empty.write.parquet(java.nio.file.Files.createTempDirectory("sdiff_obs0").toString + "/snap")
    assert(none.await().rows.isEmpty)
    // an observation no action ever ran fails after its bound, never hangs
    val (_, never) = SnapshotDiff.observeDigests(src, pk, 16)
    val e = intercept[IllegalStateException](never.await(scala.concurrent.duration.Duration(200, "ms")))
    assert(e.getMessage.contains("did not arrive"), e.getMessage)
  }

  test("incremental diff refuses a digest artifact with a mismatched bucket count or column set") {
    val before = (1L to 500L).map(i => (i, s"s$i")).toDF("id", "s")
    val after = (1L to 500L).map(i => (i, if (i == 7) "CHANGED" else s"s$i")).toDF("id", "s")
    val Seq(afterDigests) = SnapshotDiff.digestsOf(Seq(after), Seq("id"), 256)
    def incr(beforeDigests: SnapshotDiff.Digests): DataFrame =
      SnapshotDiff.diffPrunedIncremental(before, beforeDigests, after, afterDigests, Seq("id"), 256)
    // bucket-count mismatch: stamped digests fail loudly instead of
    // misaligning bucket ids and silently pruning real changes
    val Seq(wrongBuckets) = SnapshotDiff.digestsOf(Seq(before), Seq("id"), 128)
    val e1 = intercept[IllegalStateException](incr(wrongBuckets))
    assert(e1.getMessage.contains("buckets"), e1.getMessage)
    // column-order mismatch: signatures not comparable
    val Seq(wrongCols) = SnapshotDiff.digestsOf(Seq(before.select("s", "id")), Seq("id"), 256)
    val e2 = intercept[IllegalStateException](incr(wrongCols))
    assert(e2.getMessage.contains("not be comparable"), e2.getMessage)
    // matching stamped digests pass and find the change
    val ok = incr(SnapshotDiff.digestsOf(Seq(before), Seq("id"), 256).head)
    assert(ok.select("id").as[Long].collect().toSeq === Seq(7L))
  }

  test("diff over two PK-bucketed snapshots plans ZERO hash exchanges (co-located full outer)") {
    // the scaladoc claim (SnapshotDiff.scala header): snapshots written
    // bucketBy(pk) make the full-outer join exchange-free. BucketedJoinSpec
    // proves it for inner joins; a full-outer SortMergeJoin has the same
    // required distribution, so the bucketed scan must satisfy it too —
    // this is what makes a RECURRING capture loop pay zero shuffle per
    // round at 100 TB (each snapshot is bucket-written once, on ingest).
    val before = (1L to 2000L).map(i => (i, s"s$i", i * 10)).toDF("id", "s", "v")
    val after = (3L to 2002L).map(i =>
      (i, if (i % 97 == 0) "CHANGED" else s"s$i", i * 10)).toDF("id", "s", "v")
    try {
      Bucketing.writeBucketed(before, "snap_before", "id", 4)
      Bucketing.writeBucketed(after, "snap_after", "id", 4)
      // kill broadcast: a BHJ cannot serve a full outer join anyway, but
      // keep the plan deterministic under AQE
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val d = SnapshotDiff.diff(
        spark.table("snap_before"), spark.table("snap_after"), Seq("id"))
      val p = d.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin") && p.contains("FullOuter"),
        s"expected full-outer SMJ:\n$p")
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed snapshot diff must not shuffle either side:\n$p")
      // and parity with the unbucketed diff (plan change, same rows)
      val plain = SnapshotDiff.diff(before, after, Seq("id"))
      assert(d.exceptAll(plain).isEmpty && plain.exceptAll(d).isEmpty)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS snap_before")
      spark.sql("DROP TABLE IF EXISTS snap_after")
    }
  }

  test("diffPruned runs at most 2 jobs while its frame is built") {
    // one global digest aggregation over both sides (its partial and final
    // stages under AQE); the full-outer join of two digest tables it
    // replaced ran 3
    val before = (1L to 2000L).map(i => (i, s"s$i")).toDF("id", "s")
    val after = (2L to 2001L).map(i => (i, if (i == 7) "CHANGED" else s"s$i")).toDF("id", "s")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    drainListeners()
    spark.sparkContext.addSparkListener(listener)
    val d = try {
      val d = SnapshotDiff.diffPruned(before, after, Seq("id"), 64)
      drainListeners()
      d
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get <= 2, s"${jobs.get} jobs at construction")
    assert(d.select("id", "_op").orderBy("id").as[(Long, String)].collect().toSeq ===
      Seq((1L, "delete"), (7L, "update"), (2001L, "insert")))
  }

  test("identical snapshots diff to empty; fully disjoint ones to inserts + deletes") {
    val x = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    assert(SnapshotDiff.diff(x, x, Seq("id")).isEmpty)
    val y = Seq((3L, "c")).toDF("id", "s")
    val ops = SnapshotDiff.diff(x, y, Seq("id"))
      .groupBy("_op").count().as[(String, Long)].collect().toMap
    assert(ops === Map("insert" -> 1L, "delete" -> 2L))
  }
}

object SnapshotDiffSpec {
  /** The parity reference for [[SnapshotDiff.observeDigests]] and
    * [[SnapshotDiff.digestsOf]]: one (bucket, digest, row count) row per
    * non-empty PK-hash bucket, by a groupBy and `bit_xor` (an independent
    * computation of the same digests), stamped `_buckets`/`_cols`. */
  def bucketDigests(df: DataFrame, pk: Seq[String], buckets: Int): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val cols = df.columns.toSeq
    df.select(SnapshotDiff.bucketOf(pk, buckets).as("_bkt"), SnapshotDiff.rowSignature(cols).as("_sig"))
      .groupBy("_bkt").agg(bit_xor(col("_sig")).as("_digest"),
        count(lit(1)).as("_n"))
      .withColumn("_buckets", lit(buckets.toLong))
      .withColumn("_cols", lit(s"pk=${pk.mkString(",")};cols=${cols.mkString(",")}"))
  }
}
