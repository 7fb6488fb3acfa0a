package graft.streaming

import java.nio.file.Files
import java.sql.{Connection, DriverManager}

import scala.collection.mutable.ArrayBuffer

import graft.SparkSpec
import graft.sources.Jdbc
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The scheduled shape of a change write: a polling micro-batch through
  * [[StreamOps.latestImage]] and [[JdbcApply]] runs as one job of two
  * stages (the scan and the state stage, which also writes), and a batch
  * that is not clustered on its key, or is spread over more partitions
  * than the connection cap, is re-shuffled into `numPartitions` writers. */
class JdbcApplyShapeSpec extends SparkSpec {

  /** What one micro-batch or one write scheduled. */
  private final case class Shape(jobs: Int, stages: Int, tasks: Int, lastStageTasks: Int)

  /** The jobs and submitted stages `body` starts, grouped by the
    * micro-batch id they ran under (`-1` outside a stream); the listener
    * bus is drained before reading. */
  private def shapesOf(body: => Unit): Map[Long, Shape] = {
    val jobs = ArrayBuffer.empty[Long]
    val stages = ArrayBuffer.empty[(Long, Int, Int)] // (batch, stage id, tasks)
    def batchOf(p: java.util.Properties): Long =
      Option(p).flatMap(p => Option(p.getProperty("streaming.sql.batchId"))).map(_.toLong).getOrElse(-1L)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.synchronized(jobs += batchOf(j.properties))
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = stages.synchronized {
        stages += ((batchOf(s.properties), s.stageInfo.stageId, s.stageInfo.numTasks))
      }
    }
    drainListeners()
    spark.sparkContext.addSparkListener(listener)
    try { body; drainListeners() } finally spark.sparkContext.removeSparkListener(listener)
    val js = jobs.synchronized(jobs.toList)
    stages.synchronized(stages.toList).groupBy(_._1).map { case (b, ss) =>
      b -> Shape(js.count(_ == b), ss.size, ss.map(_._3).sum, ss.maxBy(_._2)._3)
    }
  }

  private def withDerby(db: String)(body: (Connection, Jdbc.ConnectionSpec) => Unit): Unit = {
    System.setProperty("derby.system.home", "/tmp/graft-derby")
    Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    val url = s"jdbc:derby:/tmp/graft-derby/$db"
    val conn = DriverManager.getConnection(url + ";create=true")
    try body(conn, Jdbc.ConnectionSpec(url, Map.empty)) finally conn.close()
  }

  private def recreate(conn: Connection, table: String, cols: String): Unit = {
    try conn.createStatement().execute(s"DROP TABLE $table") catch { case _: Exception => }
    conn.createStatement().execute(s"CREATE TABLE $table ($cols)")
  }

  private def rows(conn: Connection, sql: String): List[(String, String)] = {
    val rs = conn.createStatement().executeQuery(sql)
    Iterator.continually(rs).takeWhile(_.next()).map(r => (r.getString(1), r.getString(2))).toList
  }

  /** A session that plans like a micro-batch: streaming runs without AQE,
    * and an adaptive plan reports no partitioning before it runs. */
  private lazy val noAqe: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  test("a polling micro-batch through latestImage and JdbcApply runs 1 job, 2 stages, 2 x shuffle-partitions tasks") {
    withDerby("db_shape") { (conn, spec) =>
      recreate(conn, "SSRC", "ID BIGINT NOT NULL PRIMARY KEY, K VARCHAR(16) NOT NULL, PAYLOAD VARCHAR(32)")
      recreate(conn, "STGT", "K VARCHAR(16) NOT NULL PRIMARY KEY, SEQ BIGINT NOT NULL, " +
        "OP VARCHAR(8), PAYLOAD VARCHAR(32), DELETED BOOLEAN")
      val keys = (0 until 6).map(i => s"k$i")
      keys.foreach(k => conn.createStatement().execute(s"INSERT INTO STGT (K, SEQ) VALUES ('$k', 0)"))
      conn.createStatement().execute("INSERT INTO SSRC VALUES (1, 'k0', 'p1')")
      val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val ckpt = Files.createTempDirectory("shape_ckpt").toString
      def run(): Unit = {
        val changes = spark.readStream.format("cdc")
          .option("mode", "polling").option("url", spec.url)
          .option("table.name", "SSRC").option("polling.column", "id")
          .option("numpartitions", parts.toString).load()
          .select(col("k").as("key"), col("id").as("seq"), lit("update").as("op"), col("payload"))
          .as(Encoders.product[StreamOps.KeyedChange])
        val q = StreamOps.latestImage(changes).toDF().withColumnRenamed("key", "k")
          .withColumn("_op", lit("update"))
          .writeStream.outputMode("update").option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .foreachBatch(JdbcApply(spec, "STGT", Seq("k"), Seq("seq")))
          .start()
        try q.awaitTermination() finally q.stop()
      }
      run() // bootstraps at the table's max: row 1 is the baseline
      val ids = 2 to 41
      ids.foreach { id =>
        conn.createStatement().execute(s"INSERT INTO SSRC VALUES ($id, '${keys(id % keys.size)}', 'p$id')")
      }
      val shapes = shapesOf(run()).filter(_._1 >= 0)
      assert(shapes.size === 1, shapes)
      assert(shapes.head._2 === Shape(1, 2, 2 * parts, parts), shapes)
      val newest = ids.groupBy(id => keys(id % keys.size)).map { case (k, is) => k -> is.max.toString }
      assert(rows(conn, "SELECT K, CAST(SEQ AS CHAR(8)) FROM STGT ORDER BY K")
        .map { case (k, s) => k -> s.trim }.toMap === newest)
    }
  }

  /** One write of `batch` capped at 3 writers: its jobs, its stages, the
    * tasks of its last stage (the writers) and the rows it applied. */
  private def writeShape(spec: Jdbc.ConnectionSpec, table: String, batch: DataFrame): (Int, Int, Int, Long) = {
    var n = 0L
    val shapes = shapesOf { n = JdbcApply.write(spec, table, Seq("id"), batch, numPartitions = 3) }
    assert(shapes.keySet === Set(-1L))
    val s = shapes(-1L)
    (s.jobs, s.stages, s.lastStageTasks, n)
  }

  test("JdbcApply writes a key-clustered batch in place and re-shuffles any other into numPartitions writers") {
    withDerby("db_shape2") { (conn, spec) =>
      recreate(conn, "SHP", "ID VARCHAR(8), V VARCHAR(8)")
      val s = noAqe
      import s.implicits._
      val after = (1 to 20).map(i => (s"k$i", s"v${i % 3}", "insert")).toDF("id", "v", "_op")
      // clustered on the key in 2 <= 3 partitions: the write runs in the
      // stage that produced the batch
      assert(writeShape(spec, "SHP", after.repartition(2, col("id"))) === ((1, 2, 2, 20L)))
      // clustered on a non-key column: one more shuffle, into 3 writers
      assert(writeShape(spec, "SHP", after.repartition(2, col("v"))) === ((1, 3, 3, 20L)))
      // clustered on the key but over more partitions than the cap
      assert(writeShape(spec, "SHP", after.repartition(6, col("id"))) === ((1, 3, 3, 20L)))
      // a mixed before/after batch hashes on a per-row key: always re-shuffled
      val mixed = (1 to 20).map(i => (s"k$i", s"w$i", s"k$i", s"v${i % 3}", "update"))
        .toDF("id", "v", "before_id", "before_v", "_op")
      assert(writeShape(spec, "SHP", mixed.repartition(2, col("id"))) === ((1, 3, 3, 20L)))
      assert(rows(conn, "SELECT ID, V FROM SHP WHERE ID = 'k4'") === List.fill(3)(("k4", "w4")))
      // under AQE the same key-clustered batch is re-shuffled
      val adaptive = spark.createDataFrame(after.rdd, after.schema).repartition(2, col("id"))
      assert(writeShape(spec, "SHP", adaptive).productIterator.drop(1).toSeq === Seq(3, 3, 20L))
    }
  }

  test("JdbcApply refuses a non-positive numPartitions when it is built") {
    val e = intercept[IllegalArgumentException](
      JdbcApply(Jdbc.ConnectionSpec("jdbc:derby:unused", Map.empty), "T", Seq("id"), numPartitions = 0))
    assert(e.getMessage.contains("numPartitions must be positive (got 0)"))
  }
}
