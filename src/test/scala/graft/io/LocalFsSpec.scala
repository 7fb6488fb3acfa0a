package graft.io

import java.nio.file.{Files, Path => JPath}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.{Cdc, SparkSpec}
import graft.functions.EngineWarnings

/** The engine's `file:` I/O starts no process ([[NioLocalFileSystem]],
  * [[LocalFirstCheckpointFileManager]]), pinned with JFR's
  * `jdk.ProcessStart` events, and it keeps stock Hadoop's on-disk
  * semantics: mode bits, `.crc` files, atomic-write contract and
  * checkpoints that restart under either manager. */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): JPath = Files.createTempDirectory(tag)

  /** Program names of the processes `body` starts in this JVM. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val out = Files.createTempFile("process-starts", ".jfr")
    try {
      rec.dump(out)
      RecordingFile.readAllEvents(out).asScala.toSeq
        .map(e => e.getString("command").trim.split("\\s+").head.split('/').last)
    } finally { rec.close(); Files.deleteIfExists(out) }
  }

  /** Hadoop's shell fallbacks for permissions and symlinks. */
  private val Forked = Set("chmod", "readlink", "stat", "ls")

  private def assertNoHadoopForks(what: String)(body: => Unit): Unit = {
    val started = processStarts(body)
    val hadoop = started.filter(Forked)
    assert(hadoop.isEmpty, s"$what started ${hadoop.size} Hadoop shell processes: " +
      started.groupBy(identity).map { case (c, n) => s"$c x${n.size}" }.mkString(", "))
  }

  private def withDerby(db: String)(body: (java.sql.Connection, String) => Unit): Unit = {
    System.setProperty("derby.system.home", "/tmp/graft-derby")
    Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    val url = s"jdbc:derby:/tmp/graft-derby/$db"
    val conn = java.sql.DriverManager.getConnection(url + ";create=true")
    try body(conn, url) finally conn.close()
  }

  private def recreate(conn: java.sql.Connection, ddl: (String, String)*): Unit =
    ddl.foreach { case (t, cols) =>
      try conn.createStatement().execute(s"DROP TABLE $t") catch { case _: Exception => }
      conn.createStatement().execute(s"CREATE TABLE $t ($cols)")
    }

  test("the session's file: filesystem and checkpoint manager are the fork-free ones") {
    val conf = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(java.net.URI.create("file:///"), conf).isInstanceOf[NioLocalFileSystem])
    val fm = CheckpointFileManager.create(new Path("file:" + tmp("fm_local")), conf)
    assert(fm.asInstanceOf[LocalFirstCheckpointFileManager].delegate
      .isInstanceOf[FileSystemBasedCheckpointFileManager])
    // an unqualified path resolves against the default filesystem (file:)
    val bare = CheckpointFileManager.create(new Path(tmp("fm_bare").toString), conf)
    assert(bare.asInstanceOf[LocalFirstCheckpointFileManager].delegate
      .isInstanceOf[FileSystemBasedCheckpointFileManager])
  }

  test("pin: 20 atomic checkpoint writes start no chmod/readlink/stat/ls process") {
    val dir = new Path("file:" + tmp("fm_atomic"))
    val fm = CheckpointFileManager.create(dir, spark.sessionState.newHadoopConf())
    val payload = ("v1\n" + "x" * 300).getBytes("UTF-8")
    assertNoHadoopForks("20 createAtomic writes") {
      (0 until 20).foreach { i =>
        val out = fm.createAtomic(new Path(dir, i.toString), overwriteIfPossible = false)
        out.write(payload)
        out.close()
      }
    }
    assert(fm.list(dir).map(_.getPath.getName).sorted.toSeq === (0 until 20).map(_.toString).sorted)
  }

  test("pin: three micro-batches of a RocksDB-state query on a file: checkpoint start none") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Int)]
    val ckpt = "file:" + tmp("pin_ckpt")
    val q = in.toDF().toDF("k", "v").groupBy("k").count()
      .writeStream.format("memory").queryName("pin_rocksdb").outputMode("update")
      .option("checkpointLocation", ckpt).trigger(Trigger.ProcessingTime(0)).start()
    try {
      assertNoHadoopForks("three stateful micro-batches") {
        (1 to 3).foreach { b =>
          in.addData(Seq("a" -> b, "b" -> b, s"k$b" -> b): _*)
          q.processAllAvailable()
        }
      }
      assert(q.lastProgress.batchId === 2L)
      assert(spark.table("pin_rocksdb").where("k = 'a'").agg(org.apache.spark.sql.functions.max("count"))
        .as[Long].head() === 3L)
    } finally q.stop()
  }

  test("pin: one snapshot-capture round (snapshot, schema, digests.bin, _COMMIT) starts none") {
    withDerby("fs_pin_cap") { (conn, url) =>
      recreate(conn, "PSRC" -> "ID INT, NAME VARCHAR(32)", "PTGT" -> "ID INT, NAME VARCHAR(32)")
      conn.createStatement().execute(
        "INSERT INTO PSRC VALUES " + (1 to 30).map(i => s"($i,'n$i')").mkString(", "))
      val opts = Map("url" -> url, "table.name" -> "PSRC", "polling.column" -> "id",
        "numpartitions" -> "2")
      val spec = graft.sources.Jdbc.ConnectionSpec(url, Map.empty)
      val state = "file:" + tmp("pin_cap")
      assert(Cdc.snapshotDiffApply(spark, opts, Seq("id"), state, spec, "PTGT") === 30L)
      conn.createStatement().execute("UPDATE PSRC SET NAME = 'u' WHERE ID = 2")
      var applied = -1L
      assertNoHadoopForks("one captureAndApply round") {
        applied = graft.streaming.SnapshotCapture.captureAndApply(
          spark, Cdc.snapshot(spark, opts), Seq("id"), state, spec, "PTGT")
      }
      assert(applied === 1L)
    }
  }

  /** Mode bits (`unix:mode`, sticky bit included) of what `fs` creates. */
  private def modesOf(fs: FileSystem, root: JPath): Seq[(String, Int)] = {
    val base = new Path(root.toUri)
    val dflt = fs.create(new Path(base, "dflt"))
    dflt.write(1); dflt.close()
    fs.create(new Path(base, "p640"), new FsPermission("640"), true, 4096, 1.toShort, 1L << 20, null)
      .close()
    fs.mkdirs(new Path(base, "d/e"))
    fs.mkdirs(new Path(base, "d750"), new FsPermission("750"))
    fs.create(new Path(base, "chmod")).close()
    fs.setPermission(new Path(base, "chmod"), new FsPermission("604"))
    fs.mkdirs(new Path(base, "sticky"))
    fs.setPermission(new Path(base, "sticky"), new FsPermission("1777"))
    Files.walk(root).iterator().asScala.toSeq.filterNot(_ == root).map { p =>
      root.relativize(p).toString -> Files.getAttribute(p, "unix:mode").asInstanceOf[Int]
    }.sortBy(_._1)
  }

  test("files, .crc files and directories get stock LocalFileSystem's mode bits under the same umask") {
    for (umask <- Seq("022", "027", "077")) {
      val conf = new Configuration(spark.sessionState.newHadoopConf())
      conf.set("fs.permissions.umask-mode", umask)
      def fresh(fs: LocalFileSystem): LocalFileSystem = {
        fs.initialize(java.net.URI.create("file:///"), conf); fs
      }
      val stock = modesOf(fresh(new LocalFileSystem()), tmp("mode_stock"))
      val nio = modesOf(fresh(new NioLocalFileSystem()), tmp("mode_nio"))
      assert(nio === stock, s"umask $umask")
      assert(nio.map(_._1).contains(".dflt.crc") && nio.map(_._1).contains(".p640.crc"))
    }
    assert(NioRawLocalFileSystem.modeBits(new FsPermission("751")) ===
      java.nio.file.attribute.PosixFilePermissions.fromString("rwxr-x--x"))
  }

  /** Spark's default manager and the session's one, on the same kind of path. */
  private def managers(tag: String): Seq[(String, Path, CheckpointFileManager)] = {
    val conf = spark.sessionState.newHadoopConf()
    Seq("default" -> { (p: Path) => new FileContextBasedCheckpointFileManager(p, conf) },
        "graft" -> { (p: Path) => CheckpointFileManager.create(p, conf) }).map { case (n, mk) =>
      val dir = new Path("file:" + tmp(s"${tag}_$n"))
      (n, dir, mk(dir))
    }
  }

  private def write(fm: CheckpointFileManager, p: Path, s: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(s.getBytes("UTF-8"))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  private def names(dir: Path): Seq[String] =
    new java.io.File(dir.toUri).list().toSeq.sorted

  test("createAtomic(overwrite = false) over an existing file throws FileAlreadyExistsException") {
    val left = managers("atomic_exists").map { case (name, dir, fm) =>
      val p = new Path(dir, "0")
      write(fm, p, "first", overwrite = false)
      intercept[FileAlreadyExistsException](write(fm, p, "second", overwrite = false))
      assert(read(fm, p) === "first", name)
      write(fm, p, "third", overwrite = true)
      assert(read(fm, p) === "third", name)
      names(dir).map(_.replaceAll("[0-9a-f-]{36}", "<uuid>")).sorted
    }
    // the refused write's temp file stays behind under Spark's manager too
    assert(left.distinct.size === 1, left)
  }

  test("cancel() leaves no temp file") {
    for ((name, dir, fm) <- managers("atomic_cancel")) {
      val out = fm.createAtomic(new Path(dir, "1"), overwriteIfPossible = false)
      out.write("partial".getBytes("UTF-8"))
      out.cancel()
      assert(names(dir).isEmpty, s"$name left ${names(dir)}")
    }
  }

  test("a non-file: path still gets Spark's FileContext-based manager") {
    // viewfs: a non-file: scheme Hadoop resolves offline, from a mount table
    val conf = new Configuration(spark.sessionState.newHadoopConf())
    conf.set("fs.viewfs.mounttable.graft.link./ckpt", "file:" + tmp("viewfs_ckpt"))
    val fm = CheckpointFileManager.create(new Path("viewfs://graft/ckpt"), conf)
    assert(fm.asInstanceOf[LocalFirstCheckpointFileManager].delegate
      .isInstanceOf[FileContextBasedCheckpointFileManager])
    write(fm, new Path("viewfs://graft/ckpt/0"), "through viewfs", overwrite = false)
    assert(read(fm, new Path("viewfs://graft/ckpt/0")) === "through viewfs")
    assert(!LocalFirstCheckpointFileManager.isLocal(new Path("hdfs://nn:8020/ckpt"), conf))
    assert(!LocalFirstCheckpointFileManager.isLocal(new Path("s3a://bucket/ckpt"), conf))
    val hdfsDefault = new Configuration(conf)
    hdfsDefault.set("fs.defaultFS", "hdfs://nn:8020")
    assert(!LocalFirstCheckpointFileManager.isLocal(new Path("/ckpt"), hdfsDefault))
    assert(LocalFirstCheckpointFileManager.isLocal(new Path("file:/ckpt"), hdfsDefault))
  }

  test("a file: path on another filesystem class gets Spark's default manager, and overwrites") {
    // the JVM's file: class when nothing sets fs.file.impl is Hive's
    // ProxyLocalFileSystem (service-loaded from hive-exec); stock Hadoop's
    // LocalFileSystem stands in for any class but the graft one
    for (impl <- Seq("org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem",
                     classOf[LocalFileSystem].getName)) {
      val conf = new Configuration(spark.sessionState.newHadoopConf())
      conf.set("fs.file.impl", impl)
      conf.setBoolean("fs.file.impl.disable.cache", true)
      val dir = new Path("file:" + tmp("other_fs"))
      val fm = CheckpointFileManager.create(dir, conf)
      assert(fm.asInstanceOf[LocalFirstCheckpointFileManager].delegate
        .isInstanceOf[FileContextBasedCheckpointFileManager], impl)
      write(fm, new Path(dir, "0"), "first", overwrite = false)
      write(fm, new Path(dir, "0"), "second", overwrite = true)
      assert(read(fm, new Path(dir, "0")) === "second", impl)
    }
  }

  /** A session whose streaming checkpoints go through `manager`. */
  private def sessionWith(manager: Class[_]): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.checkpointFileManagerClass", manager.getName)
    s
  }

  /** One polling + per-key count (RocksDB state) run to completion:
    * the rows each batch emitted, as (key, running count). */
  private def countRun(s: SparkSession, url: String, ckpt: String): Seq[(String, Long)] = {
    val got = ArrayBuffer.empty[(String, Long)]
    val q = s.readStream.format("cdc").option("mode", "polling").option("url", url)
      .option("table.name", "RSRC").option("polling.column", "id").load()
      .groupBy("name").count()
      .writeStream.outputMode("update").option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        got.synchronized(got ++= b.collect().map(r => r.getString(0) -> r.getLong(1)))
        ()
      }.start()
    try q.awaitTermination() finally q.stop()
    got.synchronized(got.toSeq.sorted)
  }

  test("a checkpoint written under either manager restarts under the other at its committed offset") {
    val default = classOf[FileContextBasedCheckpointFileManager]
    val graftFm = classOf[LocalFirstCheckpointFileManager]
    for ((first, second) <- Seq(default -> graftFm, graftFm -> default)) {
      withDerby(s"fs_restart_${first.getSimpleName.take(8)}") { (conn, url) =>
        recreate(conn, "RSRC" -> "ID INT, NAME VARCHAR(32)")
        conn.createStatement().execute("INSERT INTO RSRC VALUES (1,'a'), (2,'b'), (3,'a')")
        val ckpt = "file:" + tmp("restart")
        // the source bootstraps at the table's max: rows 1-3 are the baseline
        assert(countRun(sessionWith(first), url, ckpt).isEmpty)
        conn.createStatement().execute("INSERT INTO RSRC VALUES (4,'a'), (5,'c')")
        assert(countRun(sessionWith(first), url, ckpt) === Seq("a" -> 1L, "c" -> 1L))
        conn.createStatement().execute("INSERT INTO RSRC VALUES (6,'a'), (7,'b')")
        // resumed after row 5, with the per-key counts of the first manager's state
        assert(countRun(sessionWith(second), url, ckpt) === Seq("a" -> 2L, "b" -> 1L),
          s"${first.getSimpleName} -> ${second.getSimpleName}")
      }
    }
  }

  test("a stock file: filesystem fixed before the session gets one advisory per session") {
    val stock = new LocalFileSystem()
    stock.initialize(java.net.URI.create("file:///"), new Configuration())
    val s = spark.newSession()
    val err = new java.io.ByteArrayOutputStream()
    val prev = System.err
    System.setErr(new java.io.PrintStream(err, true))
    val warned = try Seq(
      EngineWarnings.warnIfLocalFsForks(s, stock),
      EngineWarnings.warnIfLocalFsForks(s, stock),
      EngineWarnings.warnIfLocalFsForks(spark.newSession(), FileSystem.get(
        java.net.URI.create("file:///"), spark.sessionState.newHadoopConf())))
    finally System.setErr(prev)
    assert(warned === Seq(true, false, false))
    val lines = err.toString("UTF-8").linesIterator.filter(_.startsWith("[graft]")).toSeq
    assert(lines.size === 1 && lines.head.contains(classOf[LocalFileSystem].getName), lines)
    // the suite's session gets none: its filesystem is the graft one
    assert(!EngineWarnings.warnIfLocalFsForks(spark))
  }
}
