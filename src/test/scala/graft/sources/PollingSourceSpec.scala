package graft.sources

import java.nio.file.Files
import java.sql.DriverManager

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Polling-source round-trips over embedded Derby — the Spark analog of
  * the reference's H2/MySQL polling tests (TestCaseOfCDCPollingMode):
  * insert capture, offset bootstrap, checkpoint recovery, gap hold-back. */
class PollingSourceSpec extends SparkSpec {

  /** This suite's own database directory, wiped of a previous run's
    * databases; other suites' databases under `/tmp/graft-derby` may still
    * be booted in the same JVM, so they are left alone. */
  private lazy val dbDir = {
    System.setProperty("derby.system.home", "/tmp/graft-derby")
    Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    val root = java.nio.file.Paths.get("/tmp/graft-derby/polling")
    if (Files.exists(root)) { // stale DBs from a previous run
      import scala.jdk.CollectionConverters._
      Files.walk(root).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    }
    Files.createDirectories(root)
    root.toString
  }

  private def withDb[A](name: String)(f: (String, java.sql.Connection) => A): A = {
    val url = s"jdbc:derby:$dbDir/$name;create=true"
    val conn = DriverManager.getConnection(url)
    try f(url.stripSuffix(";create=true"), conn) finally conn.close()
  }

  private def readCdc(url: String, table: String, extra: Map[String, String] = Map.empty): DataFrame = {
    val base = spark.readStream.format("cdc")
      .option("mode", "polling").option("url", url)
      .option("table.name", table).option("polling.column", "id")
    extra.foldLeft(base) { case (r, (k, v)) => r.option(k, v) }.load()
  }

  /** Run a query until processAllAvailable, collecting batch rows. */
  private def collectStream(df: DataFrame, checkpoint: String,
                            during: => Unit = ()): Seq[(Long, String)] = {
    val rows = ArrayBuffer.empty[(Long, String)]
    val q = df.writeStream
      .trigger(Trigger.ProcessingTime(50))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        rows.synchronized {
          rows ++= batch.collect().map(r =>
            (r.getInt(r.fieldIndex("id")).toLong, r.getString(r.fieldIndex("name"))))
        }
        ()
      }.start()
    // drain once first so the source's initial offset is established
    // BEFORE `during` mutates the table (otherwise the inserts race the
    // MAX() bootstrap and are treated as pre-existing)
    try { q.processAllAvailable(); during; q.processAllAvailable() } finally q.stop()
    rows.synchronized(rows.toSeq)
  }

  test("insert capture: pre-existing rows skipped, new rows streamed, lowercase cols") {
    withDb("db_ins") { (url, conn) =>
      conn.createStatement().execute("CREATE TABLE LOGIN (ID INT, NAME VARCHAR(32))")
      conn.createStatement().execute("INSERT INTO LOGIN VALUES (1, 'pre1'), (2, 'pre2')")
      val df = readCdc(url, "LOGIN")
      assert(df.columns.toSeq === Seq("id", "name")) // lowercased (O14)
      val ckpt = Files.createTempDirectory("ckpt").toString
      val got = collectStream(df, ckpt, during = {
        conn.createStatement().execute("INSERT INTO LOGIN VALUES (3, 'e003'), (4, 'e004')")
      })
      assert(got.toSet === Set((3L, "e003"), (4L, "e004"))) // 1,2 skipped (O13 bootstrap)
    }
  }

  test("checkpoint recovery: rows inserted while stopped are replayed (O17)") {
    withDb("db_rec") { (url, conn) =>
      conn.createStatement().execute("CREATE TABLE LOGINR (ID INT, NAME VARCHAR(32))")
      val ckpt = Files.createTempDirectory("ckpt").toString
      val first = collectStream(readCdc(url, "LOGINR"), ckpt, during = {
        conn.createStatement().execute("INSERT INTO LOGINR VALUES (1, 'a')")
      })
      assert(first.toSet === Set((1L, "a")))
      // while the query is DOWN:
      conn.createStatement().execute("INSERT INTO LOGINR VALUES (2, 'missed')")
      val second = collectStream(readCdc(url, "LOGINR"), ckpt, during = {
        conn.createStatement().execute("INSERT INTO LOGINR VALUES (3, 'c')")
      })
      assert(second.toSet === Set((2L, "missed"), (3L, "c"))) // replay + new
    }
  }

  test("char-typed polling column (O14, ref CDCSource.java:396-398 'S001' example): " +
      "string offsets stream, skip pre-existing, and recover from checkpoint") {
    withDb("db_str") { (url, conn) =>
      conn.createStatement().execute("CREATE TABLE SHIP (SID VARCHAR(8), NAME VARCHAR(32))")
      conn.createStatement().execute("INSERT INTO SHIP VALUES ('S001', 'pre')")
      def read() = spark.readStream.format("cdc")
        .option("mode", "polling").option("url", url)
        .option("table.name", "SHIP").option("polling.column", "sid").load()
      def run(ckpt: String, during: => Unit): Seq[(String, String)] = {
        val rows = ArrayBuffer.empty[(String, String)]
        val q = read().writeStream.trigger(Trigger.ProcessingTime(50))
          .option("checkpointLocation", ckpt)
          .foreachBatch { (batch: DataFrame, _: Long) =>
            rows.synchronized { rows ++= batch.collect().map(r =>
              (r.getString(r.fieldIndex("sid")), r.getString(r.fieldIndex("name")))) }
            ()
          }.start()
        try { q.processAllAvailable(); during; q.processAllAvailable() } finally q.stop()
        rows.synchronized(rows.toSeq)
      }
      val ckpt = Files.createTempDirectory("ckpt_str").toString
      val first = run(ckpt, during = {
        conn.createStatement().execute("INSERT INTO SHIP VALUES ('S002', 'two')")
      })
      assert(first.toSet === Set(("S002", "two"))) // S001 skipped by MAX bootstrap
      // while the query is DOWN (string offset rides the checkpoint):
      conn.createStatement().execute("INSERT INTO SHIP VALUES ('S003', 'missed')")
      val second = run(ckpt, during = {
        conn.createStatement().execute("INSERT INTO SHIP VALUES ('S004', 'four')")
      })
      assert(second.toSet === Set(("S003", "missed"), ("S004", "four")))
    }
  }

  test("gap hold-back (O15): stream waits at a sequence hole until the row arrives") {
    withDb("db_gap") { (url, conn) =>
      conn.createStatement().execute("CREATE TABLE STUDENTS (ID INT, NAME VARCHAR(32))")
      val opts = Map("wait.on.missed.record" -> "true")
      val ckpt = Files.createTempDirectory("ckpt").toString
      val got1 = collectStream(readCdc(url, "STUDENTS", opts), ckpt, during = {
        conn.createStatement().execute("INSERT INTO STUDENTS VALUES (1,'a'), (2,'b'), (4,'d')")
      })
      assert(got1.toSet === Set((1L, "a"), (2L, "b"))) // held at the 3-hole
      val got2 = collectStream(readCdc(url, "STUDENTS", opts), ckpt, during = {
        conn.createStatement().execute("INSERT INTO STUDENTS VALUES (3,'c')")
      })
      assert(got2.toSet === Set((3L, "c"), (4L, "d"))) // resumed through the gap
    }
  }

  test("gap hold-back timeout: advances past the hole after missed.record.waiting.timeout") {
    withDb("db_gapto") { (url, conn) =>
      conn.createStatement().execute("CREATE TABLE STUDT (ID INT, NAME VARCHAR(32))")
      val opts = Map("wait.on.missed.record" -> "true", "missed.record.waiting.timeout" -> "0")
      val ckpt = Files.createTempDirectory("ckpt").toString
      val got = collectStream(readCdc(url, "STUDT", opts), ckpt, during = {
        conn.createStatement().execute("INSERT INTO STUDT VALUES (1,'a'), (2,'b'), (4,'d')")
      })
      assert(got.toSet === Set((1L, "a"), (2L, "b"), (4L, "d"))) // 3 skipped after timeout
    }
  }

  test("a gap-hold poll runs all its offset queries on one connection") {
    withDb("db_gapconn") { (url, conn) =>
      conn.createStatement().execute("CREATE TABLE GAPC (ID INT, NAME VARCHAR(32))")
      conn.createStatement().execute("INSERT INTO GAPC VALUES (1,'a'), (2,'b'), (4,'d'), (5,'e')")
      val counting = PollingSourceSpec.CountingDriver
      val schema = StructType(Seq(StructField("id", IntegerType), StructField("name", StringType)))
      def polled(timeoutSec: Int, last: String): (String, Int) = {
        val opts = CdcOptions(new CaseInsensitiveStringMap(Map(
          "mode" -> "polling", "url" -> counting.wrap(url), "table.name" -> "GAPC",
          "polling.column" -> "id", "wait.on.missed.record" -> "true",
          "missed.record.waiting.timeout" -> timeoutSec.toString).asJava))
        val stream = new CdcMicroBatchStream(schema, schema, opts, Array.empty)
        stream.deserializeOffset(last)
        val before = counting.opened.get()
        val o = stream.latestOffset().json()
        (o, counting.opened.get() - before)
      }
      // max, min-above: held at the hole after 2
      assert(polled(-1, "num:2") === ("num:2" -> 1))
      // max, min-above, then on timeout min-above and run-end: past the hole
      assert(polled(0, "num:2") === ("num:5" -> 1))
      // max, min-above, run-end: an unbroken run to the max
      assert(polled(-1, "num:3") === ("num:5" -> 1))
    }
  }

  test("schema normalization (O8) at inference: narrow ints, decimals") {
    withDb("db_types") { (url, conn) =>
      conn.createStatement().execute(
        """CREATE TABLE TYPED (ID INT, S SMALLINT, D0 NUMERIC(10,0), D2 NUMERIC(10,2),
          |N VARCHAR(8), T TIMESTAMP, B BOOLEAN)""".stripMargin.replaceAll("\n", " "))
      val df = spark.read.format("cdc")
        .option("mode", "polling").option("url", url)
        .option("table.name", "TYPED").option("polling.column", "id").load()
      val types = df.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
      assert(types("s") === "int")       // SMALLINT -> int
      assert(types("d0") === "bigint")   // scale 0 -> long
      assert(types("d2") === "double")   // scale 2 -> double
      assert(types("n") === "string")
      assert(types("t") === "timestamp")
      assert(types("b") === "boolean")
    }
  }

  test("cron semantics (O16): Trigger.AvailableNow drains once and stops") {
    withDb("db_cron") { (url, conn) =>
      conn.createStatement().execute("CREATE TABLE CRONT (ID INT, NAME VARCHAR(32))")
      val ckpt = Files.createTempDirectory("ckpt").toString
      // fire 1: establishes the MAX() bootstrap offset, sees nothing new
      val q1 = readCdc(url, "CRONT").writeStream
        .option("checkpointLocation", ckpt).format("noop")
        .trigger(Trigger.AvailableNow()).start()
      q1.awaitTermination()
      conn.createStatement().execute("INSERT INTO CRONT VALUES (1,'a'), (2,'b')")
      // fire 2: one-shot sweep of everything newer than the stored offset
      val rows = ArrayBuffer.empty[Int]
      val q2 = readCdc(url, "CRONT").writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) =>
          rows.synchronized { rows ++= b.collect().map(_.getInt(0)) }; ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q2.awaitTermination() // terminates by itself = one cron fire
      assert(rows.synchronized(rows.toSet) === Set(1, 2))
    }
  }

  test("non-numeric polling column (timestamp): string-offset capture like the reference") {
    withDb("db_ts") { (url, conn) =>
      conn.createStatement().execute(
        "CREATE TABLE TLOG (ID INT, NAME VARCHAR(32), UPDATED_AT TIMESTAMP)")
      conn.createStatement().execute(
        "INSERT INTO TLOG VALUES (1, 'old', TIMESTAMP('2026-01-01 10:00:00'))")
      val df = spark.readStream.format("cdc")
        .option("mode", "polling").option("url", url)
        .option("table.name", "TLOG").option("polling.column", "updated_at").load()
      val rows = ArrayBuffer.empty[Int]
      val ckpt = Files.createTempDirectory("ckpt").toString
      val q = df.writeStream.trigger(Trigger.ProcessingTime(50))
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) =>
          rows.synchronized { rows ++= b.collect().map(_.getInt(0)) }; ()
        }.start()
      try {
        q.processAllAvailable()
        conn.createStatement().execute(
          "INSERT INTO TLOG VALUES (2, 'new', TIMESTAMP('2026-02-03 11:30:00'))," +
            "(3, 'newer', TIMESTAMP('2026-02-03 12:00:00'))")
        q.processAllAvailable()
      } finally q.stop()
      assert(rows.synchronized(rows.toSet) === Set(2, 3)) // row 1 pre-existing
    }
  }

  test("pushdown: pruned columns + translated predicates reach the vendor SQL") {
    withDb("db_push") { (url, conn) =>
      conn.createStatement().execute(
        "CREATE TABLE PUSHT (ID INT NOT NULL, NAME VARCHAR(32), V DOUBLE, EXTRA VARCHAR(64))")
      conn.createStatement().execute(
        "INSERT INTO PUSHT VALUES (1,'x',1.5,'a'), (2,'y',2.5,'b'), (3,'z',3.5,'c')")
      Jdbc.IssuedSql.clear()
      val df = spark.read.format("cdc")
        .option("mode", "polling").option("url", url)
        .option("table.name", "PUSHT").option("polling.column", "id").load()
        .where("id >= 2 AND v < 3.0").select("name")
      assert(df.collect().map(_.getString(0)).toSeq === Seq("y"))
      val issued = Jdbc.IssuedSql.recent.filter(_.contains("PUSHT"))
      assert(issued.nonEmpty)
      issued.foreach { s =>
        // only the referenced columns in the select list — never EXTRA
        assert(s.contains("SELECT name FROM"), s)
        // both predicates executed by the database
        assert(s.contains("id >= 2") && s.contains("v < 3.0"), s)
      }
      // numeric predicates are fully handed off: no Spark-side Filter left
      val planned = df.queryExecution.executedPlan.toString()
      assert(!planned.contains("Filter ("), planned)
    }
  }

  test("pushdown: string predicates are pushed AND re-checked by Spark (collation safety)") {
    withDb("db_pushs") { (url, conn) =>
      conn.createStatement().execute("CREATE TABLE PUSHS (ID INT NOT NULL, NAME VARCHAR(32))")
      conn.createStatement().execute("INSERT INTO PUSHS VALUES (1,'alpha'), (2,'beta'), (3,'al%pha')")
      Jdbc.IssuedSql.clear()
      def read() = spark.read.format("cdc")
        .option("mode", "polling").option("url", url)
        .option("table.name", "PUSHS").option("polling.column", "id").load()
      val eq = read().where("name = 'beta'")
      assert(eq.collect().map(_.getInt(0)).toSeq === Seq(2))
      val issuedEq = Jdbc.IssuedSql.recent.filter(_.contains("PUSHS"))
      assert(issuedEq.exists(_.contains("name = 'beta'"))) // DB reduces the rows...
      assert(eq.queryExecution.executedPlan.toString().contains("Filter")) // ...Spark re-checks
      // LIKE-metacharacter values must NOT be pushed as LIKE (no portable escape)
      Jdbc.IssuedSql.clear()
      val meta = read().where("name LIKE 'al\\%%'") // startsWith("al%")
      assert(meta.collect().map(_.getInt(0)).toSeq === Seq(3))
      assert(!Jdbc.IssuedSql.recent.filter(_.contains("PUSHS")).exists(_.contains("LIKE")))
    }
  }

  test("pushdown: scan.columns/scan.where narrow the STREAMING micro-batch SQL") {
    // Catalyst's V2 pushdown rules do NOT run for streaming scans (a
    // .select/.where above readStream is applied engine-side on full
    // rows — verified), so the source exposes the reference's own
    // mechanism: user-declared select list + predicate
    // (PollingStrategy.java:127-205 template override)
    withDb("db_pushst") { (url, conn) =>
      conn.createStatement().execute(
        "CREATE TABLE PUSHST (ID INT NOT NULL, NAME VARCHAR(32), V DOUBLE, EXTRA VARCHAR(64))")
      val df = spark.readStream.format("cdc")
        .option("mode", "polling").option("url", url)
        .option("table.name", "PUSHST").option("polling.column", "id")
        .option("scan.columns", "id,name,v")
        .option("scan.where", "v < 3.0").load()
      assert(df.schema.fieldNames.toSeq === Seq("id", "name", "v")) // no extra
      val rows = ArrayBuffer.empty[String]
      val ckpt = Files.createTempDirectory("ckpt").toString
      val q = df.writeStream.trigger(Trigger.ProcessingTime(50))
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) =>
          rows.synchronized { rows ++= b.collect().map(_.getString(1)) }; ()
        }.start()
      try {
        q.processAllAvailable()
        Jdbc.IssuedSql.clear()
        conn.createStatement().execute(
          "INSERT INTO PUSHST VALUES (1,'x',1.5,'a'), (2,'y',9.5,'b'), (3,'z',2.5,'c')")
        q.processAllAvailable()
      } finally q.stop()
      assert(rows.synchronized(rows.toSet) === Set("x", "z")) // v < 3.0 in the DB
      val issued = Jdbc.IssuedSql.recent.filter(_.contains("PUSHST"))
      assert(issued.nonEmpty)
      issued.foreach { s =>
        assert(s.contains("SELECT id, name, v FROM"), s) // declared select list
        assert(s.contains("(v < 3.0)"), s)               // predicate in the DB
        assert(s.contains("id >") || s.contains("id <="), s) // delta range rides along
        assert(!s.toLowerCase.contains("extra"), s)
      }
      // the polling column must stay in the declared list
      val bad = intercept[IllegalArgumentException] {
        spark.readStream.format("cdc")
          .option("mode", "polling").option("url", url)
          .option("table.name", "PUSHST").option("polling.column", "id")
          .option("scan.columns", "name,v").load()
      }
      assert(bad.getMessage.contains("must include the polling column"))
    }
  }

  test("pushdown: a batch limit reaches the vendor SQL (per-partition, Spark keeps the global cut)") {
    withDb("db_pushl") { (url, conn) =>
      conn.createStatement().execute("CREATE TABLE PUSHL (ID INT NOT NULL, NAME VARCHAR(32))")
      val ins = conn.prepareStatement("INSERT INTO PUSHL VALUES (?, ?)")
      (1 to 50).foreach { i => ins.setInt(1, i); ins.setString(2, s"r$i"); ins.executeUpdate() }
      Jdbc.IssuedSql.clear()
      val df = spark.read.format("cdc")
        .option("mode", "polling").option("url", url)
        .option("table.name", "PUSHL").option("polling.column", "id")
        .option("numpartitions", "4").load()
        .limit(7)
      assert(df.count() === 7) // partial pushdown: Spark's limit still applies
      val issued = Jdbc.IssuedSql.recent.filter(_.contains("PUSHL"))
      assert(issued.nonEmpty)
      // every partition's scan stops at 7 rows inside the database
      issued.foreach(s => assert(s.contains("FETCH FIRST 7 ROWS ONLY"), s))
    }
  }

  test("pushdown: grouped MIN/MAX/COUNT aggregates run inside the database (partial merge)") {
    withDb("db_pusha") { (url, conn) =>
      conn.createStatement().execute(
        "CREATE TABLE PUSHA (ID INT NOT NULL, GRP INT, V DOUBLE, NAME VARCHAR(8))")
      conn.createStatement().execute(
        "INSERT INTO PUSHA VALUES (1,10,1.5,'e1'), (2,10,2.5,'e2'), " +
          "(3,20,0.5,'e3'), (4,20,9.5,'e4'), (5,20,4.0,'e5')")
      def read(parts: Int) = spark.read.format("cdc")
        .option("mode", "polling").option("url", url)
        .option("table.name", "PUSHA").option("polling.column", "id")
        .option("numpartitions", parts.toString).load()
      Jdbc.IssuedSql.clear()
      // grouped agg across 3 range partitions: partial per partition,
      // Spark merges (max of maxes, sum of counts)
      val df = read(3).groupBy("grp")
        .agg(org.apache.spark.sql.functions.count("*").as("cnt"),
          org.apache.spark.sql.functions.max("v").as("mx"),
          org.apache.spark.sql.functions.min("id").as("mn"))
        .orderBy("grp")
      assert(df.collect().map(_.toSeq).toSeq ===
        Seq(Seq(10, 2L, 2.5, 1), Seq(20, 3L, 9.5, 3)))
      val issued = Jdbc.IssuedSql.recent.filter(_.contains("PUSHA"))
      assert(issued.nonEmpty)
      issued.foreach { s =>
        assert(s.contains("COUNT(*)") && s.contains("MAX(v)") && s.contains("MIN(id)"), s)
        assert(s.contains("GROUP BY grp"), s)
      }
      // ungrouped global MAX: the reference's offset-bootstrap shape
      Jdbc.IssuedSql.clear()
      val mx = read(3).agg(org.apache.spark.sql.functions.max("id")).collect()
      assert(mx.head.getInt(0) === 5)
      assert(Jdbc.IssuedSql.recent.filter(_.contains("PUSHA")).forall(_.contains("MAX(id)")))
      // MAX over a string column must NOT be pushed (vendor collation):
      // the issued SQL stays a plain row scan
      Jdbc.IssuedSql.clear()
      val sm = read(1).agg(org.apache.spark.sql.functions.max("name")).collect()
      assert(sm.head.getString(0) === "e5")
      assert(!Jdbc.IssuedSql.recent.filter(_.contains("PUSHA")).exists(_.contains("MAX(name)")))
    }
  }

  test("pushdown: ORDER BY + LIMIT becomes a per-partition DB-side top-N") {
    withDb("db_pushn") { (url, conn) =>
      conn.createStatement().execute("CREATE TABLE PUSHN (ID INT NOT NULL, NAME VARCHAR(32))")
      val ins = conn.prepareStatement("INSERT INTO PUSHN VALUES (?, ?)")
      (1 to 30).foreach { i => ins.setInt(1, i); ins.setString(2, s"r$i"); ins.executeUpdate() }
      def read(parts: Int) = spark.read.format("cdc")
        .option("mode", "polling").option("url", url)
        .option("table.name", "PUSHN").option("polling.column", "id")
        .option("numpartitions", parts.toString).load()
      Jdbc.IssuedSql.clear()
      // "latest 3 by id" over 3 range partitions: each partition walks its
      // ORDER BY inside the DB, Spark merges the per-partition top-3s
      val got = read(3).orderBy(org.apache.spark.sql.functions.col("id").desc)
        .limit(3).collect().map(_.getInt(0)).toSeq
      assert(got === Seq(30, 29, 28))
      val issued = Jdbc.IssuedSql.recent.filter(_.contains("PUSHN"))
      assert(issued.nonEmpty)
      issued.foreach { s =>
        assert(s.contains("ORDER BY id DESC"), s)
        assert(s.contains("FETCH FIRST 3 ROWS ONLY"), s)
      }
      // a string sort key must NOT be pushed (vendor collation)
      Jdbc.IssuedSql.clear()
      val byName = read(1).orderBy("name").limit(2).collect().map(_.getString(1)).toSeq
      assert(byName === Seq("r1", "r10"))
      assert(!Jdbc.IssuedSql.recent.filter(_.contains("PUSHN")).exists(_.contains("ORDER BY")))
    }
  }

  test("runtime filtering: a broadcast-dimension join prunes the fact scan inside the database") {
    import org.apache.spark.sql.functions.{broadcast, col}
    import spark.implicits._
    withDb("db_dpp") { (url, conn) =>
      conn.createStatement().execute("CREATE TABLE FACTR (ID INT NOT NULL, GRP INT, V INT)")
      val ins = conn.prepareStatement("INSERT INTO FACTR VALUES (?, ?, ?)")
      (1 to 100).foreach { i =>
        ins.setInt(1, i); ins.setInt(2, i % 10); ins.setInt(3, i); ins.executeUpdate()
      }
      conn.createStatement().execute("CREATE TABLE DIMR (ID INT NOT NULL, NAME VARCHAR(8))")
      val di = conn.prepareStatement("INSERT INTO DIMR VALUES (?, ?)")
      (0 until 10).foreach { i =>
        di.setInt(1, i); di.setString(2, if (i < 3) "hot" else "cold"); di.executeUpdate()
      }
      def readT(t: String) = spark.read.format("cdc")
        .option("mode", "polling").option("url", url)
        .option("table.name", t).option("polling.column", "id")
        .option("numpartitions", "2").load()
      Jdbc.IssuedSql.clear()
      // a string predicate keeps a Spark-side recheck Filter on the dim —
      // dynamic pruning requires a visible selective filter on that side
      val dim = readT("DIMR").where(col("name") === "hot").select(col("id").as("grp"))
      val out = readT("FACTR").join(broadcast(dim), Seq("grp"))
        .select("id").as[Int].collect().toSet
      // grp ∈ {0,1,2} → ids with i % 10 in 0..2 — results identical to a
      // plain join; the runtime filter only moves WHERE the cut happens
      assert(out === (1 to 100).filter(i => i % 10 < 3).toSet)
      // the dimension's surviving keys reached the fact table's vendor SQL
      val issued = Jdbc.IssuedSql.recent.filter(_.contains("FACTR"))
      assert(issued.nonEmpty)
      assert(issued.exists(s => s.contains("grp IN (") &&
        Seq("0", "1", "2").forall(k => s.contains(k))), issued.mkString("\n"))
      // and WITHOUT the hint: reported statistics auto-broadcast the dim,
      // so the full chain (stats -> BHJ -> dynamic pruning -> vendor IN)
      // fires on its own — canonicalized, so the IN-list text is exact
      Jdbc.IssuedSql.clear()
      val unhinted = readT("FACTR").join(dim, Seq("grp"))
        .select("id").as[Int].collect().toSet
      assert(unhinted === (1 to 100).filter(i => i % 10 < 3).toSet)
      val issued2 = Jdbc.IssuedSql.recent.filter(_.contains("FACTR"))
      assert(issued2.nonEmpty)
      assert(issued2.exists(_.contains("grp IN (0, 1, 2)")), issued2.mkString("\n"))
    }
  }

  test("reported statistics: a small snapshot auto-broadcasts without a hint") {
    import org.apache.spark.sql.functions.col
    withDb("db_stats") { (url, conn) =>
      conn.createStatement().execute("CREATE TABLE FACTS (ID INT NOT NULL, GRP INT)")
      val ins = conn.prepareStatement("INSERT INTO FACTS VALUES (?, ?)")
      (1 to 100).foreach { i => ins.setInt(1, i); ins.setInt(2, i % 10); ins.executeUpdate() }
      conn.createStatement().execute("CREATE TABLE DIMS (ID INT NOT NULL, V INT)")
      val di = conn.prepareStatement("INSERT INTO DIMS VALUES (?, ?)")
      (0 until 10).foreach { i => di.setInt(1, i); di.setInt(2, i * 100); di.executeUpdate() }
      def readT(t: String) = spark.read.format("cdc")
        .option("mode", "polling").option("url", url)
        .option("table.name", t).option("polling.column", "id")
        .option("numpartitions", "2").load()
      Jdbc.IssuedSql.clear()
      // no broadcast() hint: the size estimate alone must pick BHJ —
      // without reported statistics a V2 relation is "infinite" and this
      // join would degrade to sort-merge
      val out = readT("FACTS")
        .join(readT("DIMS").select(col("id").as("grp"), col("v")), Seq("grp"))
      assert(out.count() === 100)
      val plan = out.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), plan)
      // the estimate came from a DB-side COUNT, not a guess
      assert(Jdbc.IssuedSql.recent.exists(_.startsWith("SELECT COUNT(*) FROM DIMS")))
    }
  }

  test("statistics.enabled=false: no COUNT probe is ever issued") {
    withDb("db_nostats") { (url, conn) =>
      conn.createStatement().execute("CREATE TABLE NOSTATS (ID INT NOT NULL, V INT)")
      val ins = conn.prepareStatement("INSERT INTO NOSTATS VALUES (?, ?)")
      (1 to 20).foreach { i => ins.setInt(1, i); ins.setInt(2, i); ins.executeUpdate() }
      Jdbc.IssuedSql.clear()
      val df = spark.read.format("cdc")
        .option("mode", "polling").option("url", url)
        .option("table.name", "NOSTATS").option("polling.column", "id")
        .option("statistics.enabled", "false").load()
      assert(df.count() === 20)
      // the range partitioner's parameterized per-bound counts still run
      // (they size the scan's partitions); only the PLANNING-time stats
      // probe — an unparameterized whole-table count — must be absent
      assert(!Jdbc.IssuedSql.recent.exists(_ == "SELECT COUNT(*) FROM NOSTATS"),
        Jdbc.IssuedSql.recent.mkString("\n"))
    }
  }

  test("CdcScan hash is stable across runtime filter() mutation") {
    // AQE stage caches and exchange-reuse maps key on the scan's hash; a
    // hash that moves when dynamic pruning lands mid-execution silently
    // breaks those lookups. equals still distinguishes (fewer rows).
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.IntegerType)))
    val opts = CdcOptions(mode = "polling", url = "jdbc:derby:memory:h", username = None,
      password = None, table = "T", operation = Seq.empty, pollingColumn = Some("id"),
      pollingIntervalSec = 1L, waitOnMissedRecord = false, missedRecordTimeoutSec = -1L,
      cronExpression = None, numPartitions = 2, connectorProperties = Map.empty)
    val scan = new CdcScan(schema, schema, opts, Array.empty)
    val twin = new CdcScan(schema, schema, opts, Array.empty)
    val h0 = scan.hashCode()
    assert(scan === twin && scan.hashCode() === twin.hashCode())
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("id", Array(1, 2, 3))))
    assert(scan.hashCode() === h0, "hash moved after filter()")
    assert(scan !== twin, "runtime-filtered scan emits fewer rows; equals must see it")
  }

  test("pushdown dialect: SQL Server renders TOP n and refuses top-N") {
    val ms = "jdbc:sqlserver://host:1433;databaseName=d"
    // T-SQL rejects both LIMIT and a bare FETCH FIRST (its fetch form
    // requires ORDER BY ... OFFSET) — the limit must be a TOP prefix
    assert(Jdbc.limitSyntax(ms, 7) === (("TOP 7 ", "")))
    // and NULLS FIRST/LAST does not parse → top-N pushdown refused
    assert(!Jdbc.supportsAnsiNullOrdering(ms))
    // ANSI vendors keep the fetch clause; LIMIT dialects keep LIMIT
    assert(Jdbc.limitSyntax("jdbc:postgresql://h/d", 7) ===
      (("", "FETCH FIRST 7 ROWS ONLY")))
    assert(Jdbc.limitSyntax("jdbc:mysql://h/d", 7) === (("", "LIMIT 7")))
    assert(Jdbc.supportsAnsiNullOrdering("jdbc:postgresql://h/d"))
    assert(!Jdbc.supportsAnsiNullOrdering("jdbc:mysql://h/d"))
  }

  test("driver-side offset queries survive transient SQL blips (bounded retry)") {
    // two transient failures then success -> value returned
    var calls = 0
    val v = Jdbc.withRetry(retries = 3, waitMs = 1L) {
      calls += 1
      if (calls < 3) throw new java.sql.SQLException("transient")
      42
    }
    assert(v === 42 && calls === 3)
    // retries exhausted -> the SQLException propagates
    var calls2 = 0
    intercept[java.sql.SQLException] {
      Jdbc.withRetry(retries = 2, waitMs = 1L) {
        calls2 += 1; throw new java.sql.SQLException("down")
      }
    }
    assert(calls2 === 3) // 1 try + 2 retries
    // non-SQL failures are NOT retried (bad SQL must fail fast)
    var calls3 = 0
    intercept[IllegalArgumentException] {
      Jdbc.withRetry(retries = 5, waitMs = 1L) {
        calls3 += 1; throw new IllegalArgumentException("bug")
      }
    }
    assert(calls3 === 1)
    // permanent SQL errors (syntax, missing table) fail fast too —
    // retrying them would burn backoff on every micro-batch forever
    var calls4 = 0
    intercept[java.sql.SQLSyntaxErrorException] {
      Jdbc.withRetry(retries = 5, waitMs = 1L) {
        calls4 += 1; throw new java.sql.SQLSyntaxErrorException("bad scan.where")
      }
    }
    assert(calls4 === 1)
    // ...but non-transient CONNECTION errors are retryable (DB restart)
    var calls5 = 0
    val v5 = Jdbc.withRetry(retries = 2, waitMs = 1L) {
      calls5 += 1
      if (calls5 < 2) throw new java.sql.SQLNonTransientConnectionException("down")
      7
    }
    assert(v5 === 7 && calls5 === 2)
  }

  test("pushdown refusals: NOT over string predicates, string GROUP BY keys") {
    withDb("db_pushneg") { (url, conn) =>
      conn.createStatement().execute("CREATE TABLE PUSHNEG (ID INT NOT NULL, NAME VARCHAR(32))")
      conn.createStatement().execute("INSERT INTO PUSHNEG VALUES (1,'x'), (2,'y'), (3,'Y')")
      def read() = spark.read.format("cdc")
        .option("mode", "polling").option("url", url)
        .option("table.name", "PUSHNEG").option("polling.column", "id").load()
      // NOT over a collation-sensitive predicate: the DB's answer would be
      // a SUBSET under a case-folding collation, and the residual recheck
      // can only remove rows — so it must stay entirely Spark-side
      Jdbc.IssuedSql.clear()
      val notEq = read().where("NOT (name = 'y')")
      assert(notEq.collect().map(_.getInt(0)).toSet === Set(1, 3))
      assert(!Jdbc.IssuedSql.recent.filter(_.contains("PUSHNEG")).exists(_.contains("NOT (")))
      // string GROUP BY keys: a case-folding vendor would MERGE 'y'/'Y'
      // partials irrecoverably -> the aggregate stays Spark-side
      Jdbc.IssuedSql.clear()
      val grouped = read().groupBy("name").count()
      assert(grouped.collect().map(r => (r.getString(0), r.getLong(1))).toSet ===
        Set(("x", 1L), ("y", 1L), ("Y", 1L)))
      assert(!Jdbc.IssuedSql.recent.filter(_.contains("PUSHNEG")).exists(_.contains("GROUP BY")))
    }
  }

  test("batch snapshot range-partitions on the polling column; rows identical to single scan") {
    withDb("db_rsnap") { (url, conn) =>
      conn.createStatement().execute("CREATE TABLE RSNAP (ID INT NOT NULL, NAME VARCHAR(32))")
      val ins = conn.prepareStatement("INSERT INTO RSNAP VALUES (?, ?)")
      // irregular id spacing: range splits must not assume density
      (1 to 40).foreach { i => ins.setInt(1, i * i); ins.setString(2, s"r$i"); ins.executeUpdate() }
      def read(parts: Int) = spark.read.format("cdc")
        .option("mode", "polling").option("url", url)
        .option("table.name", "RSNAP").option("polling.column", "id")
        .option("numpartitions", parts.toString).load()
      val multi = read(4)
      assert(multi.rdd.getNumPartitions === 4) // genuinely parallel scan
      val single = read(1)
      assert(single.rdd.getNumPartitions === 1)
      assert(multi.collect().map(_.toSeq).toSet === single.collect().map(_.toSeq).toSet)
      assert(multi.count() === 40)
    }
  }

  test("batch snapshot: nullable polling column keeps IS NULL rows under range partitioning") {
    withDb("db_nsnap") { (url, conn) =>
      conn.createStatement().execute("CREATE TABLE NSNAP (ID INT, NAME VARCHAR(32))")
      conn.createStatement().execute(
        "INSERT INTO NSNAP VALUES (1,'a'), (5,'b'), (9,'c'), (NULL,'orphan')")
      val df = spark.read.format("cdc")
        .option("mode", "polling").option("url", url)
        .option("table.name", "NSNAP").option("polling.column", "id")
        .option("numpartitions", "3").load()
      val got = df.collect().map(r => (if (r.isNullAt(0)) -999 else r.getInt(0), r.getString(1))).toSet
      assert(got === Set((1, "a"), (5, "b"), (9, "c"), (-999, "orphan")))
    }
  }

  test("batch (snapshot) read returns full table with values intact") {
    withDb("db_batch") { (url, conn) =>
      conn.createStatement().execute("CREATE TABLE SNAP (ID INT, NAME VARCHAR(32), V DOUBLE)")
      conn.createStatement().execute("INSERT INTO SNAP VALUES (1,'x',1.5), (2,'y',2.5)")
      val df = spark.read.format("cdc")
        .option("mode", "polling").option("url", url)
        .option("table.name", "SNAP").option("polling.column", "id").load()
      val rows = df.orderBy("id").collect()
      assert(rows.length === 2)
      assert(rows(0).getInt(0) === 1 && rows(0).getString(1) === "x" && rows(0).getDouble(2) === 1.5)
    }
  }

  test("Cdc.snapshotDiff captures in-place updates and deletes polling deltas can never see") {
    withDb("db_diff") { (url, conn) =>
      conn.createStatement().execute("CREATE TABLE ACC (ID INT, NAME VARCHAR(32), V DOUBLE)")
      conn.createStatement().execute(
        "INSERT INTO ACC VALUES (1,'a',1.0), (2,'b',2.0), (3,'c',3.0)")
      val opts = Map("url" -> url, "table.name" -> "ACC",
        "polling.column" -> "id", "numpartitions" -> "2")
      // materialize t1 — a real deployment persists it; localCheckpoint
      // stands in so the diff does not re-read the mutated table
      val t1 = graft.Cdc.snapshot(spark, opts).localCheckpoint()
      // mutations the reference's `> last offset` delta scan misses:
      conn.createStatement().execute("UPDATE ACC SET V = 9.0 WHERE ID = 2")
      conn.createStatement().execute("DELETE FROM ACC WHERE ID = 3")
      conn.createStatement().execute("INSERT INTO ACC VALUES (4,'d',4.0)")
      val diff = graft.Cdc.snapshotDiff(spark, opts, t1, Seq("id"))
        .orderBy("id").collect()
      assert(diff.map(r => (r.getInt(r.fieldIndex("id")),
        r.getString(r.fieldIndex("_op")))).toSeq ===
        Seq((2, "update"), (3, "delete"), (4, "insert")))
      val upd = diff(0)
      assert(upd.getDouble(upd.fieldIndex("v")) === 9.0)
      assert(upd.getDouble(upd.fieldIndex("before_v")) === 2.0)
    }
  }
}

object PollingSourceSpec {
  /** A JDBC driver for `jdbc:graftcount:<rest>` URLs that opens
    * `jdbc:<rest>` and counts the connections it opened. */
  object CountingDriver extends java.sql.Driver {
    private val Prefix = "jdbc:graftcount:"
    val opened = new java.util.concurrent.atomic.AtomicInteger()
    DriverManager.registerDriver(this)

    def wrap(url: String): String = Prefix + url.stripPrefix("jdbc:")
    override def acceptsURL(url: String): Boolean = url.startsWith(Prefix)
    override def connect(url: String, info: java.util.Properties): java.sql.Connection =
      if (!acceptsURL(url)) null
      else {
        opened.incrementAndGet()
        DriverManager.getConnection("jdbc:" + url.stripPrefix(Prefix), info)
      }
    override def getPropertyInfo(url: String, info: java.util.Properties) =
      Array.empty[java.sql.DriverPropertyInfo]
    override def getMajorVersion: Int = 1
    override def getMinorVersion: Int = 0
    override def jdbcCompliant(): Boolean = false
    override def getParentLogger: java.util.logging.Logger =
      throw new java.sql.SQLFeatureNotSupportedException()
  }
}
