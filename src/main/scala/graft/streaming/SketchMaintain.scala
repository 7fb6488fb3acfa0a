package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Sketches

/** Maintained corpus sketches — the ingest-loop form of
  * [[graft.functions.Sketches]], entry-point parity with the capture
  * loops ([[SnapshotCapture]], [[CorpusIngest]]): each round folds ONE
  * increment's partial sketches into a stored artifact, so corpus-wide
  * token statistics — heavy-hitter estimates (CMS) and per-group
  * distinct cardinalities (KMV) — stay queryable over the WHOLE ingest
  * history while no round ever re-reads earlier data and the state
  * stays sketch-sized (cells + minima + the surviving candidate set),
  * never corpus-sized.
  *
  * State layout (any Hadoop filesystem) — only the LAST committed round
  * is live (each [[advance]] retires earlier committed rounds, so state
  * and round-listing cost stay bounded across any ingest history):
  * {{{
  * stateDir/round_<n>/cms/         merged CMS cell table (depth·width rows)
  * stateDir/round_<n>/kmv/         merged per-group bottom-k minima rows
  * stateDir/round_<n>/cand/        heavy-hitter candidates ≥ floor (token, est_cnt)
  * stateDir/round_<n>/sketch_meta  config + running total, written BEFORE _COMMIT
  * stateDir/round_<n>/_COMMIT     marker, written LAST by commit()
  * }}}
  *
  * Candidate maintenance (CMS cannot enumerate, only estimate): each
  * round the candidate set is (previous candidates ∪ the increment's
  * distinct values), estimated against the MERGED cells, pruned at
  * `floorPermille`. This keeps heavy-hitter recall perfect for any
  * query support ≥ the floor: an item's true share of the running
  * total can only rise in a round where the item appears — and in that
  * round it is in the candidate input with an estimate covering its
  * ENTIRE history (cells merge) — so an item pruned in some round had
  * share < floor then and, absent from later increments, its share
  * only falls as the total grows. (Precision stays the CMS over-count
  * bound; a collision-inflated false positive CAN drop out between
  * rounds — only true counts are monotone — which is the correct
  * direction to lose.)
  *
  * Crash contract = the capture-loop geometry: artifacts write before
  * `_COMMIT`; an uncommitted round is swept on the next [[advance]] and
  * the round replays to an identical result (same increment, same
  * deterministic hashes). Under foreachBatch ([[start]]) rounds carry
  * the batch id as a tag, upgrading the loop to EXACTLY-ONCE: a crash
  * between our commit and the checkpoint's replays the batch, which
  * finds its own round committed and no-ops instead of double-counting.
  * Config (group/value columns, depth, width, k,
  * floor) is persisted in `sketch_meta` and VALIDATED each round — a
  * changed geometry cannot silently merge incompatible cells (the
  * ladder-grain guard pattern); it refuses instead of re-bootstrapping
  * because earlier increments are gone by design.
  */
object SketchMaintain {

  /** One maintenance round over the stored artifact. Call `commit()`
    * after any downstream use of the round is durable.
    *
    * LIFETIME: the three frames are EAGERLY cached and materialized
    * inside [[advance]] (they are sketch-sized — cells are a
    * depth·width constant, minima groups·k, candidates floor-bounded —
    * so the cache cost is ~nothing), because a LATER [[advance]]
    * deletes this round's parquet (an uncommitted round is swept; a
    * committed round is retired once a newer round commits after it).
    * A caller may therefore hold a round across any number of
    * subsequent advances and still read its frames. Call `release()`
    * when done with the frames to drop the cached blocks; after
    * `release()` — or an external `spark.catalog.clearCache()` — a
    * retired round's frames are gone for good (recompute would read
    * deleted parquet). Callers that never read the frames (the
    * streaming [[handler]]) pass `eagerFrames = false` to [[advance]]:
    * the frames come back as plain lazy scans — valid only until the
    * round is retired — and no read-back jobs run. */
  final case class SketchRound(round: Long, cms: DataFrame, kmv: DataFrame,
                               candidates: DataFrame, totalValues: Long,
                               commit: () => Unit, release: () => Unit)

  /** Cache + materialize NOW: the frame must survive this round's
    * parquet being retired by a later advance (see [[SketchRound]]). */
  private def eager(df: DataFrame): DataFrame = {
    val cached = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cached.count()
    cached
  }

  private def eagerRound(round: Long, roundDir: Path, total: Long,
                         spark: SparkSession, commit: () => Unit,
                         eagerFrames: Boolean = true): SketchRound = {
    val frames = Seq("cms", "kmv", "cand").map { a =>
      val df = spark.read.parquet(new Path(roundDir, a).toString)
      if (eagerFrames) eager(df) else df
    }
    SketchRound(round, frames(0), frames(1), frames(2), total, commit,
      () => frames.foreach(_.unpersist(false)))
  }

  /** Fold `increment` (columns `groupCol`, `valueCol`) into the stored
    * sketches. The increment is normalized, null values dropped (a null
    * value hashes to null buckets — it could never be estimated or
    * recalled, and counting it into the running total would silently
    * deflate every candidate's support share), then cached ONCE; the
    * three sketch passes — cells, minima, distinct candidates — read
    * the cached blocks and the cache is dropped before returning, so no
    * increment image ever reaches the filesystem and committed state
    * stays sketch-sized. (An executor-loss recompute re-evaluates the
    * increment plan — deterministic by the ingest contract, and a
    * failed advance is swept and replayed anyway.) The running total
    * comes from the cache-settling `count` of the null-filtered
    * increment — one job that both yields the round total and
    * materializes the cache so the three concurrent writes below never
    * race to compute it; at factor 1 the round cost is nearly all
    * job-scheduling floor, so the per-round job budget is exactly:
    * that count plus the three coalesced artifact writes. */
  def advance(spark: SparkSession, increment: DataFrame, groupCol: String,
              valueCol: String, stateDir: String, floorPermille: Int = 1,
              depth: Int = Sketches.CmsDepth, width: Int = Sketches.CmsWidth,
              k: Int = Sketches.DefaultK, tag: String = "",
              eagerFrames: Boolean = true): SketchRound = {
    require(floorPermille >= 1 && floorPermille <= 1000,
      s"floorPermille must be in [1, 1000] (got $floorPermille)")
    require(!tag.contains("|"), s"tag must not contain '|' (got $tag)")
    Seq("group" -> groupCol, "value" -> valueCol).foreach { case (what, c) =>
      require(!c.exists("|;=".contains(_)),
        s"$what column name must not contain '|', ';' or '=' " +
          s"(got $c): sketch_meta uses them as delimiters")
    }
    val dir = new Path(stateDir)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val committed = listRounds(fs, dir)
    sweepUncommitted(fs, dir, committed)
    // committed rounds BEFORE the last are dead by construction (every
    // reader — advance, heavyHitters, distinctReport — uses only the
    // last committed round), so retire them here: without this, a
    // streaming query commits one round per micro-batch and both the
    // stored state and listRounds' per-advance metadata RPCs grow
    // linearly with history, violating the sketch-sized-state contract.
    committed.dropRight(1).foreach(p => fs.delete(new Path(dir, s"round_$p"), true))
    val round = committed.lastOption.map(_ + 1L).getOrElse(0L)
    val roundDir = new Path(dir, s"round_$round")
    val config = s"group=$groupCol;value=$valueCol;depth=$depth;" +
      s"width=$width;k=$k;floor=$floorPermille"
    val prev = committed.lastOption.map { p =>
      val prevDir = new Path(dir, s"round_$p")
      val meta = readSmallFile(fs, new Path(prevDir, "sketch_meta"))
        .getOrElse(sys.error(s"round_$p committed without sketch_meta"))
      val parts = meta.split("\\|")
      require(parts(0) == config,
        s"sketch config changed across rounds (${parts(0)} -> $config): " +
          "merged cells/minima would be meaningless and earlier increments " +
          "are gone — start a fresh stateDir instead")
      (prevDir, parts(1).stripPrefix("total=").toLong,
        parts.lift(2).map(_.stripPrefix("tag=")).getOrElse(""))
    }
    // exactly-once under the foreachBatch replay contract: a round
    // already committed for this batch tag means the crash happened
    // BETWEEN our commit and the checkpoint's — the replayed batch is
    // already folded in, so return the committed round (commit = no-op)
    // instead of double-counting it.
    prev match {
      case Some((prevDir, prevTotal, prevTag))
          if tag.nonEmpty && prevTag == tag =>
        return eagerRound(round - 1L, prevDir, prevTotal, spark, () => (),
          eagerFrames)
      case _ => ()
    }
    val inc = increment.select(col(groupCol).cast("string").as("_g"),
        col(valueCol).cast("string").as("_v"))
      .where(col("_v").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the count both yields the round total AND settles the cache, so the
    // three concurrent writes below never race to materialize it
    val nInc = inc.count()
    val total = prev.map(_._2).getOrElse(0L) + nInc
    val cellsInc = Sketches.cmsPartial(inc, col("_v"), depth, width)
    val kmvInc = Sketches.kmvPartial(inc, "_g", col("_v"), k)
    val (cells, kmv, candIn) = prev match {
      case Some((prevDir, _, _)) =>
        (Sketches.cmsMerge(spark.read.parquet(new Path(prevDir, "cms").toString)
           .unionByName(cellsInc)),
         Sketches.kmvCompact(spark.read.parquet(new Path(prevDir, "kmv").toString)
           .unionByName(kmvInc), k),
         // ONE distinct over the union (the outer distinct subsumes a
         // per-side dedup; map-side partials compact the increment) —
         // one exchange instead of two on the candidate chain
         inc.select(col("_v"))
           .unionByName(spark.read.parquet(new Path(prevDir, "cand").toString)
             .select(col("_v"))).distinct())
      case None =>
        (cellsInc, kmvInc, inc.select(col("_v")).distinct())
    }
    // at factor 1 the round cost is almost entirely job-scheduling floor
    // (3 tiny writes x ~1 s wall measured), so the three INDEPENDENT
    // artifact writes run CONCURRENTLY: the candidate estimate probes the
    // in-plan merged cells (cmsEstimate broadcasts them — identical to
    // probing the written parquet) instead of chaining on the cms write,
    // and each cell-sized artifact coalesces to ONE file (fewer write
    // tasks now, a 1-file scan of the prev round next time)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    // each write runs under a NAMED fair-scheduler pool (a thread-local
    // property, so it must be set on the future's own thread): under the
    // default FIFO scheduler the property is inert, but on a busy shared
    // cluster configured FAIR the three cell-sized writes then share a
    // pool instead of serializing behind whatever large job holds the
    // FIFO head — the factor-1 concurrency win stays portable. Each
    // future ALSO eager-loads its written artifact (cache + count, the
    // SketchRound lifetime contract) so the read-backs ride the same
    // three concurrent slots instead of adding three sequential
    // job-scheduling floors after the writes.
    def pooled(name: String)(write: String => Unit): scala.concurrent.Future[DataFrame] =
      scala.concurrent.Future {
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", "graft_sketch")
        val path = new Path(roundDir, name).toString
        write(path)
        // eagerFrames=false (the streaming handler): the caller never
        // reads the frames, so skip the cache+count read-back entirely —
        // the returned frame is a plain lazy scan of what was just
        // written and release() is a no-op on it
        if (eagerFrames) eager(spark.read.parquet(path))
        else spark.read.parquet(path)
      }
    val frames =
      try {
        val writes = Seq(
          pooled("cms")(
            cells.coalesce(1).write.mode("overwrite").parquet(_)),
          pooled("kmv")(
            kmv.coalesce(1).write.mode("overwrite").parquet(_)),
          pooled("cand")(
            Sketches.cmsEstimate(candIn, "_v", cells, depth, width)
              .where(col("est_cnt") * 1000 >= lit(total) * floorPermille)
              .coalesce(1).write.mode("overwrite").parquet(_)))
        scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(writes),
          scala.concurrent.duration.Duration.Inf)
      } finally {
        pool.shutdown()
        // in the finally: a failed write must not leak the cached
        // increment blocks into the session (the advance is swept and
        // replayed, but the session may be long-lived)
        inc.unpersist(false)
      }
    val out = fs.create(new Path(roundDir, "sketch_meta"), true)
    try out.write(s"$config|total=$total|tag=$tag"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    SketchRound(round, frames(0), frames(1), frames(2), total,
      () => { fs.create(new Path(roundDir, "_COMMIT"), true).close(); () },
      () => frames.foreach(_.unpersist(false)))
  }

  /** The foreachBatch handler: fold the batch tagged by its batch id —
    * with the tag, a batch replayed after a crash between our commit
    * and the checkpoint's finds its own round already committed and
    * no-ops, making the maintained sketch EXACTLY-ONCE under the
    * streaming engine's at-least-once foreachBatch contract. */
  def handler(groupCol: String, valueCol: String, stateDir: String,
              floorPermille: Int = 1, depth: Int = Sketches.CmsDepth,
              width: Int = Sketches.CmsWidth, k: Int = Sketches.DefaultK)
  : (DataFrame, Long) => Unit = { (batch, batchId) =>
    // the loop never touches the returned frames (readers go through
    // heavyHitters/distinctReport), so skip the eager read-back loads —
    // eagerFrames=false keeps the per-batch job budget at the count plus
    // the three concurrent writes, with nothing cached to release
    val r = advance(batch.sparkSession, batch, groupCol, valueCol, stateDir,
      floorPermille, depth, width, k, tag = s"b$batchId", eagerFrames = false)
    r.commit()
    r.release()
  }

  /** Wire a streaming frame (columns `groupCol`, `valueCol`) into the
    * loop: `SketchMaintain.start(df, "src", "w", state, ckpt).start()`.
    * `depth`/`width`/`k` mirror [[handler]]'s geometry so a stream can
    * use — or resume a stateDir bootstrapped with — a non-default
    * sketch geometry (the config guard refuses a mismatch either way). */
  def start(increment: DataFrame, groupCol: String, valueCol: String,
            stateDir: String, checkpointDir: String, floorPermille: Int = 1,
            depth: Int = Sketches.CmsDepth, width: Int = Sketches.CmsWidth,
            k: Int = Sketches.DefaultK)
  : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    increment.writeStream.option("checkpointLocation", checkpointDir)
      .foreachBatch(handler(groupCol, valueCol, stateDir, floorPermille,
        depth, width, k))

  /** Heavy hitters over the ENTIRE ingest history from the last
    * committed round's artifact: every candidate whose CM estimate
    * reaches `supportPermille`‰ of the running total. Must be ≥ the
    * maintenance floor (below it the candidate set makes no recall
    * promise). Output: (token, est_cnt) — the [[Sketches.heavyHitters]]
    * shape, without re-reading a single ingested row. */
  def heavyHitters(spark: SparkSession, stateDir: String,
                   supportPermille: Int): DataFrame = {
    val (roundDir, config, total) = lastCommitted(spark, stateDir)
    val floor = config.split(";").find(_.startsWith("floor="))
      .map(_.stripPrefix("floor=").toInt)
      .getOrElse(sys.error(s"malformed sketch_meta config: $config"))
    require(supportPermille >= floor,
      s"query support ${supportPermille}‰ is below the maintenance floor " +
        s"${floor}‰ — candidates under the floor were pruned")
    spark.read.parquet(new Path(roundDir, "cand").toString)
      .where(col("est_cnt") * 1000 >= lit(total) * supportPermille)
      .select(col("_v").as("token"), col("est_cnt"))
  }

  /** Per-group distinct-cardinality report over the entire ingest
    * history ([[Sketches.kmvMerge]] over the stored minima). */
  def distinctReport(spark: SparkSession, stateDir: String): DataFrame = {
    val (roundDir, config, _) = lastCommitted(spark, stateDir)
    val parts = config.split(";").map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
    Sketches.kmvMerge(spark.read.parquet(new Path(roundDir, "kmv").toString),
      parts("group"), parts("k").toInt)
  }

  private def lastCommitted(spark: SparkSession,
                            stateDir: String): (Path, String, Long) = {
    val dir = new Path(stateDir)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val last = listRounds(fs, dir).lastOption
      .getOrElse(sys.error(s"no committed sketch round under $stateDir"))
    val roundDir = new Path(dir, s"round_$last")
    val meta = readSmallFile(fs, new Path(roundDir, "sketch_meta"))
      .getOrElse(sys.error(s"round_$last committed without sketch_meta"))
    val parts = meta.split("\\|")
    (roundDir, parts(0), parts(1).stripPrefix("total=").toLong)
  }

  private def readSmallFile(fs: org.apache.hadoop.fs.FileSystem,
                            p: Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    }

  private def listRounds(fs: org.apache.hadoop.fs.FileSystem, dir: Path): Seq[Long] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath)
      .filter(_.getName.matches("round_\\d+"))
      .filter(p => fs.exists(new Path(p, "_COMMIT")))
      .map(_.getName.stripPrefix("round_").toLong).sorted

  private def sweepUncommitted(fs: org.apache.hadoop.fs.FileSystem, dir: Path,
                               committed: Seq[Long]): Unit =
    if (fs.exists(dir)) {
      val keep = committed.toSet
      fs.listStatus(dir).toSeq.map(_.getPath)
        .filter(_.getName.matches("round_\\d+"))
        .filterNot(p => keep.contains(p.getName.stripPrefix("round_").toLong))
        .foreach(p => fs.delete(p, true))
    }
}
