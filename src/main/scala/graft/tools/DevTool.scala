package graft.tools

import graft.GraftSession
import org.apache.spark.sql.SparkSession

/** Shared session recipe for the dev diagnostics (ScaleSmoke,
  * KernelAudit), so the tools stay consistent. */
private[tools] object DevTool {
  def session(): SparkSession =
    GraftSession.create(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
}
