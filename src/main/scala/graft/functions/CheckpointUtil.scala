package graft.functions

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Shared lineage-truncation device for ITERATIVE DataFrame loops
  * (connected components in [[Dedup]], the BPE merge loop in
  * [[TextFunctions.bpeTrain]]) and for RETURNED frames whose plan
  * references one bounded intermediate several ways (the q37
  * activity-LSH index, the q36 activity cells): `localCheckpoint` a
  * frame eagerly and hand back
  * the persisted RDDs that now back it, so the caller can free each
  * round's blocks DETERMINISTICALLY once the next round has
  * materialized — `Dataset.unpersist` only talks to the CacheManager,
  * which knows nothing about checkpoint blocks, so without the handle
  * every iteration would leak one state table for the life of the
  * session. Truncating lineage each round is what keeps round i from
  * recomputing rounds 1..i−1 (the quadratic-recompute trap of naive
  * iterative DataFrames) and keeps the analyzer's per-round plan cost
  * O(1) instead of O(i).
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

  /** The one session-wide ledger for checkpoint blocks that back a
    * RETURNED frame: the [[Dedup.connectedComponents]] label table on
    * its distributed route, the q36 activity cells and the q37
    * activity-LSH index. Freeing them inside the producing call would
    * make the result unrecomputable (lineage is truncated), so the
    * producer registers them and [[releaseRegistered]] drains them. */
  private val ledger = scala.collection.mutable.Buffer[RDD[_]]()

  private[graft] def register(blocks: Seq[RDD[_]]): Unit =
    ledger.synchronized { ledger ++= blocks }

  /** Free every registered checkpoint block — the one drain, returning
    * executor storage to baseline. SESSION-GLOBAL: call it only once
    * every previously returned registered frame (and every frame derived
    * from one) has been fully consumed (written / aggregated /
    * collected); executing such a frame after the release fails
    * unrecoverably. Only harness epilogues between queries (Bench,
    * ScaleSmoke) and specs call it. A loop must not call it from a
    * per-round epilogue: it would free blocks of frames other code
    * still holds. */
  def releaseRegistered(): Unit = ledger.synchronized {
    ledger.foreach(_.unpersist(blocking = false))
    ledger.clear()
  }

  /** Number of currently registered (un-released) block RDDs — spec
    * observability for the zero-retained-blocks-after-a-batch pins. */
  private[graft] def registeredCount: Int = ledger.synchronized(ledger.size)
}
