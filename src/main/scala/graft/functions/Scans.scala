package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

/** Scan-parallelism helpers. */
object Scans {

  /** Scale-adaptive scan spread (optimization-guide §2.5, "input skew:
    * one huge unsplittable file ... otherwise repartition immediately
    * after the read").
    *
    * The local test tables are single-file single-ROW-GROUP parquet, so
    * every scan stage is ONE task no matter how many cores the session
    * has — and in this engine the expensive per-row kernels (trigram
    * shingles, minhash bands, words∘normText, vector prep) are map-side
    * projections that run IN the scan stage, single-threaded. Spreading
    * the (tiny) raw rows across `defaultParallelism` partitions first
    * costs one round-robin exchange of the un-derived rows and buys
    * cores× parallel kernel evaluation.
    *
    * Scale-adaptive by construction: the repartition fires only when the
    * input arrives with FEWER partitions than the session's parallelism.
    * At cluster scale (100 TB = tens of thousands of files/row groups)
    * the scan always has ≥ cores partitions and this is a no-op — no
    * extra exchange is ever paid where the scan parallelizes naturally.
    *
    * Probe safety (r17): the partition count is probed via `df.rdd`,
    * which under AQE finalizes the adaptive plan — on a frame derived
    * through exchanges (a join/aggregate/repartition result) that
    * EXECUTES the upstream stages at DataFrame-construction time, and
    * the probe's QueryExecution does not share shuffle reuse with the
    * real run, so those stages would run twice. The probe therefore
    * fires only when the logical plan is a bare narrow chain
    * (project/filter) over a single leaf — a file scan, local rows, or
    * an already-materialized RDD — where `.rdd` plans nothing but the
    * scan itself. Anything wider (any exchange-bearing plan) returns
    * unchanged: such frames arrive shuffle-partitioned (≥ the session's
    * shuffle parallelism) and were never this helper's target.
    *
    * Applied ONLY where measured to win (sf0.1 min-of-5 matched
    * windows; per-site table in OPTIMIZATION_r16.md §3): heavy-kernel
    * paths gain 25-60% (minhashLsh 1.14→0.91 s, ngramNovelty
    * 1.75→0.83, jaccardEstimate 1.61→1.02,
    * cosineNearDupPairs 0.48→0.18, nearDupClusters 1.59→1.27, langid
    * eval 0.95→0.41, fingerprint 1.18→0.81); cheap-kernel paths LOSE
    * the exchange cost (ngramJaccardPairs 0.86→1.28, tfidf 0.84→1.30,
    * crossCorpusPairs 0.75→1.02) and keep the bare scan.
    *
    * Determinism: round-robin repartition sorts within input partitions
    * first (spark.sql.execution.sortBeforeRepartition, on by default),
    * and every operator in this engine is partitioning-independent by
    * the repo determinism contract (hash sampling, fixed-point folds,
    * id-keyed aggregation), pinned by the oracle suite at sf0.01. */
  def spread(df: DataFrame): DataFrame = {
    // analyzed, not logical: a fresh `read.parquet` plans a lazy
    // UnresolvedDataSource leaf until analysis resolves it to the
    // LogicalRelation; analysis is pure plan work (no exchange executes)
    if (!bareScan(df.queryExecution.analyzed)) return df
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par) df.repartition(par) else df
  }

  /** True when `plan` is a narrow (project/filter) chain over a single
    * exchange-free leaf, i.e. probing `.rdd` cannot execute any upstream
    * stage. */
  private def bareScan(plan: LogicalPlan): Boolean = plan match {
    case _: LogicalRelation => true
    case _: LocalRelation => true
    case _: LogicalRDD => true // localCheckpoint / ExistingRDD leaves
    case Project(_, child) => bareScan(child)
    case Filter(_, child) => bareScan(child)
    case SubqueryAlias(_, child) => bareScan(child)
    case _ => false
  }
}
