package graft.functions

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.SparkSession

/** Once-per-session stderr advisories for conf states that silently
  * degrade the engine's plans (the [[Dedup.minhashJaccardEstimate]]
  * AQE-off warning, generalized). Results stay correct either way —
  * these exist so a deployment that bypassed [[graft.GraftSession]]
  * finds out from its logs, not from a profile. */
object EngineWarnings {
  private val InferRule =
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
  private def perSession() =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())
  private val warned = perSession()
  private val warnedLocalFs = perSession()

  /** True when the session EXPLICITLY opted out via the escape hatch
    * (`spark.graft.excludeInferFiltersFromGenerate=false`) — a deliberate,
    * documented choice that must not be nagged about. Lenient parse: a
    * malformed hatch value is not an explicit opt-out (GraftSession.create
    * rejects it loudly; a user-built session just gets the advisory). */
  private def hatchExplicitlyFalse(spark: SparkSession): Boolean =
    spark.conf.getOption(graft.GraftSession.ExcludeHatchKey)
      .exists(_.trim.equalsIgnoreCase("false"))

  /** Sessions built outside [[graft.GraftSession.create]] (user builder +
    * extensions conf) keep `InferFiltersFromGenerate` enabled, so every
    * explode over a projected kernel column re-evaluates the kernel
    * inside a synthesized pushdown filter (measured 1.7x on the
    * cross-corpus probe, the r13 plan-wide audit). Warn once per session
    * from the kernel chokepoints; GraftSession sessions never trigger
    * this (the rule is excluded there unless the escape hatch
    * `spark.graft.excludeInferFiltersFromGenerate=false` was chosen, an
    * explicit opt-out — which also suppresses this advisory). */
  def warnIfGenerateInferEnabled(spark: SparkSession, site: String): Unit =
    if (!spark.conf.get("spark.sql.optimizer.excludedRules", "").contains(InferRule)
        && !hatchExplicitlyFalse(spark)
        && warned.put(spark, java.lang.Boolean.TRUE) == null)
      System.err.println(s"[graft] $site: InferFiltersFromGenerate is " +
        "enabled in this session — explodes over projected kernel columns " +
        "will re-derive the kernel inside synthesized scan filters " +
        "(correct, ~1.7x slower on LSH shapes). Create the session via " +
        "graft.GraftSession, or exclude the rule: " +
        s"spark.conf.set(\"spark.sql.optimizer.excludedRules\", \"$InferRule\")")

  /** Hadoop caches one `file:` filesystem per JVM. When anything called
    * `FileSystem.get(file:)` before [[graft.GraftSession]] built the
    * session, that call fixed another class (stock Hadoop's, or Hive's
    * `ProxyLocalFileSystem`), and every local file the engine creates
    * starts a `chmod` process (see GraftSession). Results
    * stay correct; streaming triggers are slower. Warns once per session;
    * true when it warned. */
  def warnIfLocalFsForks(spark: SparkSession): Boolean =
    warnIfLocalFsForks(spark,
      FileSystem.get(java.net.URI.create("file:///"), spark.sessionState.newHadoopConf()))

  /** [[warnIfLocalFsForks]] on a given `file:` filesystem. */
  def warnIfLocalFsForks(spark: SparkSession, local: FileSystem): Boolean = {
    val forks = !local.isInstanceOf[graft.io.NioLocalFileSystem]
    forks && warnedLocalFs.put(spark, java.lang.Boolean.TRUE) == null && {
      System.err.println(s"[graft] the file: filesystem is ${local.getClass.getName}, " +
        "not graft.io.NioLocalFileSystem: something called FileSystem.get(file:) " +
        "before the session was built, and Hadoop keeps that class for the JVM. " +
        "Without native Hadoop it starts a chmod process for every local file " +
        "(correct, each streaming trigger slower). Build the session with " +
        "graft.GraftSession before touching the local filesystem.")
      true
    }
  }
}
