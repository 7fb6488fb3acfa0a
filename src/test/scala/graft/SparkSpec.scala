package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM per `Test / fork`). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Persistent RDDs once Spark's `ContextCleaner` has freed what earlier
    * cases dropped: the storage baseline a case measures against. */
  def storageBaseline(): Int =
    graft.functions.CheckpointUtil.awaitUnreferenced(spark.sparkContext, 0, 1000L)

  /** Persistent RDDs after waiting for the cleaner to bring them back to
    * `baseline`: equal to it once everything a case dropped is freed. */
  def storageAfterDrop(baseline: Int): Int =
    graft.functions.CheckpointUtil.awaitUnreferenced(spark.sparkContext, baseline, 30000L)

  /** Waits until every listener has seen the events posted so far
    * (`LiveListenerBus.waitUntilEmpty` is private[spark], public in
    * bytecode). */
  def drainListeners(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", java.lang.Long.TYPE).invoke(bus, java.lang.Long.valueOf(30000L))
  }
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.create("4")
}
