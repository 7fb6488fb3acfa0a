package graft.streaming

import java.sql.DriverManager

import graft.SparkSpec
import graft.sources.Jdbc
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** JdbcApply ordering and mode edge cases (advice r2):
  *   - same-millisecond same-key operations across many source partitions
  *     apply in SOURCE-OFFSET order when `orderCols` names the offset;
  *   - delete-only flattened streams (before_* + metadata columns only)
  *     apply without referencing absent after-image columns;
  *   - a batch already clustered on the key is written without a shuffle
  *     and still applies in offset order;
  *   - timestamp, date, decimal, boolean, long, string and null values
  *     reach the table as JDBC values under either datetime API. */
class JdbcApplyOrderSpec extends SparkSpec {
  import spark.implicits._

  private def withTable(db: String, ddl: String, table: String)(f: (String, java.sql.Connection) => Unit): Unit = {
    System.setProperty("derby.system.home", "/tmp/graft-derby")
    Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    val url = s"jdbc:derby:/tmp/graft-derby/$db;create=true"
    val conn = DriverManager.getConnection(url)
    try {
      try conn.createStatement().execute(s"DROP TABLE $table") catch { case _: Exception => }
      conn.createStatement().execute(ddl)
      f(s"jdbc:derby:/tmp/graft-derby/$db", conn)
    } finally conn.close()
  }

  test("equal-_ts_ms same-key ops across >=4 partitions apply in offset order") {
    withTable("db_ord2", "CREATE TABLE T_ORD (ID VARCHAR(8), V VARCHAR(8), OFF BIGINT)", "T_ORD") { (url, conn) =>
      // 5 ops on one key, ALL at _ts_ms=5, arriving scattered over 8
      // partitions: only the offset column (a data column, as a polling
      // column is) recovers stream order. Final state after off=5 must be
      // the re-inserted v4 row.
      val batch = Seq(
        ("k1", "v1", 1L, "k1", "v1", "insert", 5L),
        ("k1", "v2", 2L, "k1", "v1", "update", 5L),
        ("k1", "v3", 3L, "k1", "v2", "update", 5L),
        ("k1", "v3", 4L, "k1", "v3", "delete", 5L),
        ("k1", "v4", 5L, "k1", "v3", "insert", 5L))
        .toDF("id", "v", "off", "before_id", "before_v", "_op", "_ts_ms")
        .repartition(8) // scrambles partition-major _seq vs offset order
      JdbcApply(Jdbc.ConnectionSpec(url, Map.empty), "T_ORD", Seq("id"),
        orderCols = Seq("off"))(batch, 0L)
      val rs = conn.createStatement().executeQuery("SELECT ID, V FROM T_ORD")
      val got = Iterator.continually(rs).takeWhile(_.next())
        .map(r => (r.getString(1), r.getString(2))).toList
      assert(got === List(("k1", "v4")))
    }
  }

  test("delete-only stream (no after-image columns) applies by before_ keys") {
    withTable("db_delonly", "CREATE TABLE T_DEL (ID VARCHAR(8), V VARCHAR(8))", "T_DEL") { (url, conn) =>
      Seq("a" -> "1", "b" -> "2", "c" -> "3").foreach { case (k, v) =>
        conn.createStatement().execute(s"INSERT INTO T_DEL VALUES ('$k', '$v')")
      }
      // flatten(..., "delete") emits ONLY before_* + metadata columns
      val batch = Seq(("a", "1", "delete", 1L), ("c", "3", "delete", 2L))
        .toDF("before_id", "before_v", "_op", "_ts_ms")
        .repartition(4)
      JdbcApply(Jdbc.ConnectionSpec(url, Map.empty), "T_DEL", Seq("id"))(batch, 0L)
      val rs = conn.createStatement().executeQuery("SELECT ID FROM T_DEL")
      val got = Iterator.continually(rs).takeWhile(_.next()).map(_.getString(1)).toList
      assert(got === List("b"))
    }
  }

  /** A session planning like a micro-batch (streaming runs without AQE),
    * with `confs` set. */
  private def session(confs: (String, String)*): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  test("a key-clustered batch written in place still applies same-key ops in offset order") {
    withTable("db_inplace", "CREATE TABLE T_IP (ID VARCHAR(8), V VARCHAR(8), OFF BIGINT)", "T_IP") { (url, conn) =>
      val s = session()
      import s.implicits._
      // insert, update, delete, re-insert, update per key, each key's rows
      // in REVERSE offset order inside its partition: applied as they sit,
      // k ends as (k, "v1"); in offset order, as (k, "v5")
      val ops = Seq("insert", "update", "delete", "insert", "update")
      val batch = (for (k <- Seq("a", "b", "c"); (op, i) <- ops.zipWithIndex)
        yield (k, s"v${i + 1}", (i + 1).toLong, op)).toDF("id", "v", "off", "_op")
        .repartition(2, col("id"))
        .sortWithinPartitions(col("off").desc)
      val stages = new java.util.concurrent.atomic.AtomicInteger()
      val listener = new SparkListener {
        override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = stages.incrementAndGet()
      }
      drainListeners()
      spark.sparkContext.addSparkListener(listener)
      val n = try JdbcApply.write(Jdbc.ConnectionSpec(url, Map.empty), "T_IP", Seq("id"), batch,
        orderCols = Seq("off"), numPartitions = 2)
      finally { drainListeners(); spark.sparkContext.removeSparkListener(listener) }
      assert(n === 15L)
      assert(stages.get === 2, "the batch's own shuffle and the write: no second shuffle")
      val rs = conn.createStatement().executeQuery("SELECT ID, V FROM T_IP ORDER BY ID")
      val got = Iterator.continually(rs).takeWhile(_.next())
        .map(r => (r.getString(1), r.getString(2))).toList
      assert(got === List(("a", "v5"), ("b", "v5"), ("c", "v5")))
    }
  }

  test("timestamp, date, decimal, boolean, long, string and null columns round-trip under either datetime API") {
    for (java8 <- Seq("false", "true")) {
      withTable("db_apply_types", "CREATE TABLE T_TY (N BIGINT, TS TIMESTAMP, D DATE, AMT DECIMAL(10, 2), " +
        "FLAG BOOLEAN, S VARCHAR(8), NUL VARCHAR(8))", "T_TY") { (url, conn) =>
        val s = session("spark.sql.datetime.java8API.enabled" -> java8)
        val batch = s.sql("SELECT 7L AS n, TIMESTAMP'2024-03-01 12:34:56.789' AS ts, DATE'2024-02-29' AS d, " +
          "CAST(1234.5 AS DECIMAL(10, 2)) AS amt, true AS flag, 'x' AS s, CAST(NULL AS STRING) AS nul, " +
          "'insert' AS _op")
        assert(JdbcApply.write(Jdbc.ConnectionSpec(url, Map.empty), "T_TY", Seq("n"), batch) === 1L, java8)
        val rs = conn.createStatement().executeQuery("SELECT N, TS, D, AMT, FLAG, S, NUL FROM T_TY")
        assert(rs.next(), java8)
        assert(rs.getLong(1) === 7L, java8)
        assert(rs.getTimestamp(2).toInstant === java.time.Instant.parse("2024-03-01T12:34:56.789Z"), java8)
        assert(rs.getDate(3).toLocalDate === java.time.LocalDate.parse("2024-02-29"), java8)
        assert(rs.getBigDecimal(4) === new java.math.BigDecimal("1234.50"), java8)
        assert(rs.getBoolean(5), java8)
        assert(rs.getString(6) === "x", java8)
        assert(rs.getString(7) === null, java8)
        assert(!rs.next(), java8)
      }
    }
  }
}
