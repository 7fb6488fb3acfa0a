package graft

import org.apache.spark.sql.SparkSession

/** One place for session config so Verify, Bench and tests agree.
  *
  * Scale notes: shuffle partitions sized to local cores here; on a real
  * cluster this would be `spark.sql.shuffle.partitions` ≈ 2-3× total cores
  * plus AQE coalescing (enabled) to right-size post-shuffle partitions at
  * 100 TB. `nanosAsLong` is required to read the ns-timestamp events table.
  *
  * State store: RocksDB, not the default HDFS-backed in-memory provider —
  * the stateful streaming operators (CEP patterns, streaming dedup,
  * as-of join, latest image) keep one entry per open key, and at 100 TB
  * key cardinality an executor-heap-bounded map is the first thing to
  * fall over. RocksDB spills state to local disk with bounded
  * block-cache memory (`boundedMemoryUsage`), so state scales with disk,
  * not heap; changelog checkpointing keeps commits incremental.
  *
  * Local I/O without process starts: `fs.file.impl` and
  * `checkpointFileManagerClass` ([[graft.io]]). Without the native Hadoop
  * library (any pip or tarball Spark), Hadoop's local filesystem starts a
  * `chmod` process for every file it creates, and Spark's default
  * checkpoint manager (`FileContext`-based) also starts `readlink`
  * processes on every atomic write. Every streaming trigger writes the offset
  * log and the commit log and commits the state store. On a 4-core host,
  * a JFR `jdk.ProcessStart` recording of a 6 s `poll_latest` benchmark
  * run (with its backlog drains) counted 635 `chmod` and 2,496 `readlink`
  * starts, and 0 with these confs. One 300-byte atomic checkpoint write
  * took 33-64 ms p50 through Spark's default manager, 7-8 ms through
  * `FileSystemBasedCheckpointFileManager` on Hadoop's `LocalFileSystem`,
  * and 0.4-0.7 ms on [[graft.io.NioLocalFileSystem]]. The two confs
  * set the same mode bits in-process and keep the `.crc` files, so the
  * on-disk layout is unchanged; a non-`file:` checkpoint keeps Spark's
  * default manager. Hadoop caches one `file:` filesystem per JVM, so
  * [[create]] warns when another class was fixed before the session was
  * built.
  */
object GraftSession {
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage", "true")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      .config("spark.hadoop.fs.file.impl", classOf[graft.io.NioLocalFileSystem].getName)
      .config("spark.sql.streaming.checkpointFileManagerClass",
        classOf[graft.io.LocalFirstCheckpointFileManager].getName)
      .config("spark.ui.enabled", "false")

  private val InferFiltersFromGenerateRule =
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"

  /** Conf key for the [[applyOptimizerExclusions]] escape hatch. */
  val ExcludeHatchKey = "spark.graft.excludeInferFiltersFromGenerate"

  /** The hatch conf, parsed leniently (trimmed, case-insensitive) with a
    * readable failure: a bare `.toBoolean` on a malformed value (`"False "`,
    * `"0"`, `"no"`) would crash create() with an unhelpful stack. */
  def excludeHatch(spark: SparkSession): Boolean =
    spark.conf.get(ExcludeHatchKey, "true").trim.toLowerCase match {
      case "true" => true
      case "false" => false
      case other => throw new IllegalArgumentException(
        s"$ExcludeHatchKey must be 'true' or 'false' (got '$other')")
    }

  /** Exclude `InferFiltersFromGenerate` unless the escape hatch
    * `spark.graft.excludeInferFiltersFromGenerate=false` is set.
    *
    * Why: the rule synthesizes `isnotnull(e) AND size(e) > 0` under every
    * explode of a plain attribute, and predicate pushdown then substitutes
    * the attribute's deriving expression — so when the exploded column is
    * a projected KERNEL (trigram_shingles, minhash_bands, words∘normText),
    * the scan-stage Filter re-evaluates the kernel once per conjunct on
    * top of the projection's own evaluation (the r13 p51/bigramSets
    * postmortem, found plan-wide by the p33/p37 plan pins). In this engine
    * every Generate sits DIRECTLY on its deriving scan, so the inferred
    * prune can never pay for itself: it drops only rows explode would drop
    * in the same stage anyway. Measured (ProbeFamily `_noinfer` twins,
    * x40, min-of-6; the probe is in git history,
    * `git show 68ce229:src/main/scala/graft/tools/ProbeFamily.scala`):
    * cross_corpus 5.66 -> 3.53 s (the minhash_bands kernel
    * ran 3x per indexed doc), containment_scan 4.64 -> 4.45 s (the cheaper
    * trigram kernel). Exclusion is semantics-preserving — the rule is an
    * optimization only.
    *
    * User workloads whose Generates do NOT sit on their deriving scan
    * (e.g. an explode above a join that the inferred prune could shrink)
    * can restore the rule with the escape-hatch conf, or per query via
    * `spark.conf.set("spark.sql.optimizer.excludedRules", ...)`.
    * Deployer-set exclusions are APPENDED to, never clobbered. */
  def applyOptimizerExclusions(spark: SparkSession): Unit =
    if (excludeHatch(spark)) {
      val prior = spark.conf.get("spark.sql.optimizer.excludedRules", "")
      val rules = (prior.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
        :+ InferFiltersFromGenerateRule).distinct
      spark.conf.set("spark.sql.optimizer.excludedRules", rules.mkString(","))
    }

  def create(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")): SparkSession = {
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    applyOptimizerExclusions(spark)
    graft.functions.EngineWarnings.warnIfLocalFsForks(spark)
    spark
  }
}
