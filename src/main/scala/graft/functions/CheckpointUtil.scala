package graft.functions

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Shared lineage-truncation device for ITERATIVE DataFrame loops
  * (connected components in [[Dedup]], the BPE merge loop in
  * [[TextFunctions.bpeTrain]]): `localCheckpoint` a frame eagerly and
  * hand back the persisted RDDs that now back it, so the loop can free
  * each round's blocks DETERMINISTICALLY once the next round has
  * materialized — `Dataset.unpersist` only talks to the CacheManager,
  * which knows nothing about checkpoint blocks. Truncating lineage each
  * round is what keeps round i from recomputing rounds 1..i−1 (the
  * quadratic-recompute trap of naive iterative DataFrames) and keeps the
  * analyzer's per-round plan cost O(1) instead of O(i).
  *
  * Blocks behind a RETURNED frame (the [[Dedup.connectedComponents]]
  * label table on its distributed route, the q36 activity cells, the q37
  * activity-LSH index) are released by reachability: `localCheckpoint`
  * persists its RDD, `persist` registers that RDD with Spark's
  * `ContextCleaner`, and the cleaner unpersists it once the driver holds
  * no reference to it — no frame, and no frame derived from one. So
  * releasing one caller's blocks can never break a frame another caller
  * still holds, and nothing here keeps a ledger. This depends on
  * `spark.cleaner.referenceTracking` (default true); a caller that wants
  * its blocks freed drops its references, and [[awaitUnreferenced]]
  * waits for the cleaner to catch up. Hidden references keep blocks
  * alive: a `val (a, b) = …` pattern in a class body keeps its tuple in a
  * synthetic field.
  *
  * Durability trade (deliberate, documented rather than hidden in a
  * conf): `localCheckpoint` stores blocks on executors and TRUNCATES
  * lineage, so on a cluster an executor loss makes the checkpointed
  * frame unrecomputable and fails the job — the caller re-runs the
  * query. Every site using this device checkpoints BOUNDED state (cell
  * tables, label tables, index cells — never the corpus), so the
  * re-run-on-loss trade buys the removal of repeated corpus-wide scans;
  * a deployment that cannot accept query-level retry should configure
  * `spark.checkpoint.dir` and switch these sites to reliable
  * `checkpoint()` — semantics are identical, cost is one write+read of
  * the bounded table through the checkpoint filesystem. */
object CheckpointUtil {

  /** Checkpoint `df` eagerly; returns the checkpointed frame plus the
    * storage-bearing RDDs backing it, found by walking the physical
    * plan's RDD dependency graph from `queryExecution.toRdd` down to
    * the first persisted ancestors (the walk stops at them, so
    * unrelated persisted RDDs deeper in a lineage are never touched). */
  private[graft] def trackedLocalCheckpoint(df: DataFrame): (DataFrame, Seq[RDD[_]]) = {
    val cp = df.localCheckpoint()
    val out = scala.collection.mutable.Buffer[RDD[_]]()
    def walk(r: RDD[_]): Unit =
      if (r.getStorageLevel != StorageLevel.NONE) out += r
      else r.dependencies.foreach(d => walk(d.rdd))
    walk(cp.queryExecution.toRdd)
    (cp, out.toSeq)
  }

  /** Wait until the `ContextCleaner` has freed every persisted RDD the
    * driver no longer references: while more than `baseline` RDDs are
    * persisted, runs `System.gc()` and polls again, for at most
    * `timeoutMs`. Returns the number still persisted. Harness epilogues
    * (Bench, ScaleSmoke) and specs call it after dropping their frames. */
  def awaitUnreferenced(sc: SparkContext, baseline: Int, timeoutMs: Long): Int = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    def left = sc.getPersistentRDDs.size
    while (left > baseline && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(100)
    }
    left
  }
}
