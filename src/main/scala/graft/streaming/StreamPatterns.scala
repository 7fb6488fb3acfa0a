package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming CEP pattern detection — the live-stream analogs of the batch
  * operators in [[graft.operators.Patterns]] (the Siddhi host-language
  * surface the reference's `@source(type='cdc')` streams feed:
  * `from every a=S -> b=S[cond] within T`,
  * `TestCaseOfCDCListeningMode.java:86,324-334` shows the consumption
  * shape). Each operator produces, as the watermark passes, exactly the
  * rows its batch twin produces on the same data (parity-asserted per
  * operator in StreamPatternsSpec).
  *
  * Mechanism: per-key watermark-buffered finalization over
  * `flatMapGroupsWithState` with event-time timeouts —
  *   - events buffer in per-key state, sorted by the total order
  *     `(ts, id)` (the same determinism contract as the batch operators);
  *   - an element finalizes when the watermark proves its outcome can no
  *     longer change (A at `a.ts + within`, burst-X at `x.ts`, a session
  *     at `lastTs + gap`); finalized elements emit and leave state;
  *   - an event-time timer wakes the key at its earliest pending
  *     finalization, so results flow on watermark advance even with no
  *     further input for that key;
  *   - state per key is bounded by the pattern horizon (`within` /
  *     `windowLen` / `gap`) — eviction drops everything no pending
  *     element can reference. Input later than the watermark is treated
  *     as Spark treats late data everywhere: best-effort, never
  *     double-emitting.
  *
  * Scale: one hash exchange on the key, per-key state in the state store
  * (RocksDB on a cluster), no driver state, no global ordering — the same
  * shape as any keyed streaming aggregation at 100 TB.
  */
object StreamPatterns {

  /** Buffered event: `tsUs` duplicates `eventTime` as epoch µs because all
    * pattern arithmetic is integer µs (bit-compatible with the batch
    * operators and their oracles). `v` carries the value column for
    * guarded patterns (0.0 when the pattern declares none). */
  case class PatEvent(key: Long, tsUs: Long, id: Long, typ: String,
                      eventTime: Timestamp, v: Double)

  /** Per-key state: the undecided-event buffer + the watermark of the last
    * flush (the emission frontier — only burst needs it, to keep emitted
    * events as count context without re-emitting them). */
  case class PatBuf(evs: Seq[PatEvent], frontierUs: Long)

  case class SeqMatch(key: Long, a_id: Long, b_id: Long, gap: Long)
  case class ChainMatch(key: Long, a_id: Long, b_id: Long, c_id: Long, gap: Long)
  case class GuardMatch(key: Long, a_id: Long, b_id: Long, a_value: Double, gap: Long)
  case class LenWinMatch(key: Long, id: Long, win_cnt: Long, win_sum: Double)
  case class FirstEveryMatch(key: Long, id: Long, bucket_start: Long)
  case class OrMatch(key: Long, a_id: Option[Long], b_id: Option[Long])
  case class AbsMatch(key: Long, a_id: Long)
  case class BurstMatch(key: Long, id: Long, cnt: Long)
  case class Session(key: Long, session_start: Long, n_events: Long)
  case class LenBatchMatch(key: Long, batch_no: Long, batch_sum: Double,
                           first_id: Long, last_id: Long)
  case class CountSeqMatch(key: Long, b_id: Long, a_cnt: Long)
  case class SortWinSnap(key: Long, rev: Long, rk: Long, id: Long, value: Double)
  case class FreqSnap(key: Long, rev: Long, rk: Long, attr: String, cnt: Long)
  case class DelayMatch(key: Long, id: Long, rel_cnt: Long, rel_sum: Double)
  case class LossyFreqSnap(key: Long, rev: Long, attr: String, cnt: Long, total: Long)

  implicit private val patEventEnc: Encoder[PatEvent] = Encoders.product[PatEvent]
  implicit private val patBufEnc: Encoder[PatBuf] = Encoders.product[PatBuf]
  implicit private val seqEnc: Encoder[SeqMatch] = Encoders.product[SeqMatch]
  implicit private val chainEnc: Encoder[ChainMatch] = Encoders.product[ChainMatch]
  implicit private val guardEnc: Encoder[GuardMatch] = Encoders.product[GuardMatch]
  implicit private val lenWinEnc: Encoder[LenWinMatch] = Encoders.product[LenWinMatch]
  implicit private val lenBatchEnc: Encoder[LenBatchMatch] = Encoders.product[LenBatchMatch]
  implicit private val firstEnc: Encoder[FirstEveryMatch] = Encoders.product[FirstEveryMatch]
  implicit private val orEnc: Encoder[OrMatch] = Encoders.product[OrMatch]
  implicit private val absEnc: Encoder[AbsMatch] = Encoders.product[AbsMatch]
  implicit private val burstEnc: Encoder[BurstMatch] = Encoders.product[BurstMatch]
  implicit private val sessEnc: Encoder[Session] = Encoders.product[Session]
  implicit private val cseqEnc: Encoder[CountSeqMatch] = Encoders.product[CountSeqMatch]
  implicit private val sortWinEnc: Encoder[SortWinSnap] = Encoders.product[SortWinSnap]
  implicit private val freqEnc: Encoder[FreqSnap] = Encoders.product[FreqSnap]
  implicit private val delayEnc: Encoder[DelayMatch] = Encoders.product[DelayMatch]
  implicit private val lossyEnc: Encoder[LossyFreqSnap] = Encoders.product[LossyFreqSnap]
  implicit private val longEnc: Encoder[Long] = Encoders.scalaLong

  /** The engine: key, sort, flush-on-data-or-timer.
    *
    * `onlyType` filters AFTER `withWatermark`, never before: the watermark
    * must advance on the FULL stream (a pattern interested only in rare
    * `error` events would otherwise stall at the last error seen and never
    * finalize it — caught by the burst parity spec). There is no safe
    * place for a DataFrame-level filter: `PushPredicateThroughNonJoin`
    * pushes any predicate not referencing the watermark attribute below
    * the `EventTimeWatermark` node, and a blocker conjunct like
    * `isnull(eventTime)` constant-folds away when the column is
    * non-nullable — both verified to stall the watermark in testing. So
    * the filter lives INSIDE the stateful function: non-matching rows pay
    * the keyed shuffle (they carry 5 narrow columns) and are dropped
    * before touching state.
    *
    * `flush(sortedEvents, frontierUs, watermarkUs)` returns
    * `(emissions, retainedEvents, earliestPendingFinalizeUs)`. */
  private def watermarkedEvents(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String, typeCol: String, delay: String,
      valueCol: Option[String]): Dataset[PatEvent] =
    events.select(
        col(keyCol).cast("long").as("key"),
        unix_micros(col(tsCol)).as("tsUs"),
        col(idCol).cast("long").as("id"),
        col(typeCol).cast("string").as("typ"),
        col(tsCol).as("eventTime"),
        valueCol.map(c => col(c).cast("double")).getOrElse(lit(0.0)).as("v"))
      .withWatermark("eventTime", delay)
      .as[PatEvent]

  /** Fails fast on `spark.graft.patterns.engine`, the removed selector of
    * a second (TWS) state engine. The pattern, as-of and dedup operators
    * run on `flatMapGroupsWithState` only, and a TWS state checkpoint is
    * unreadable here: any value but `fmgws` throws when the operator is
    * built instead of letting a restart load incompatible state. */
  private[streaming] def requireFmgwsEngine(spark: SparkSession): Unit = {
    val conf = "spark.graft.patterns.engine"
    spark.conf.getOption(conf).filter(_ != "fmgws").foreach { v =>
      throw new IllegalArgumentException(
        s"$conf=$v is no longer supported: the stateful streaming operators run on " +
          "flatMapGroupsWithState only. Unset the conf; a query whose state checkpoint " +
          "was written by the TWS engine needs a fresh checkpointLocation.")
    }
  }

  private def runPattern[O: Encoder](events: DataFrame, keyCol: String, tsCol: String,
      idCol: String, typeCol: String, delay: String, onlyType: Option[String] = None,
      valueCol: Option[String] = None)(
      flush: (Vector[PatEvent], Long, Long) => (Seq[O], Vector[PatEvent], Option[Long]))
  : Dataset[O] = {
    requireFmgwsEngine(events.sparkSession)
    val ds = watermarkedEvents(events, keyCol, tsCol, idCol, typeCol, delay, valueCol)
    ds.groupByKey(_.key).flatMapGroupsWithState[PatBuf, O](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
      (_: Long, it: Iterator[PatEvent], state: GroupState[PatBuf]) =>
        val prev = state.getOption
        val frontier = prev.map(_.frontierUs).getOrElse(Long.MinValue)
        val wmUs = state.getCurrentWatermarkMs() * 1000L
        val incoming = onlyType.fold(it)(t => it.filter(_.typ == t))
        val merged = (prev.map(_.evs.toVector).getOrElse(Vector.empty) ++ incoming)
          .sortBy(e => (e.tsUs, e.id))
        val (out, retained, nextFinalize) = flush(merged, frontier, wmUs)
        if (retained.isEmpty) state.remove()
        else {
          state.update(PatBuf(retained, math.max(frontier, wmUs)))
          nextFinalize.foreach { f =>
            // fire once the watermark strictly passes f (ms granularity)
            state.setTimeoutTimestamp(math.max(f / 1000L + 1, state.getCurrentWatermarkMs() + 1))
          }
        }
        out.iterator
    }
  }

  /** First `typeB` strictly after `a` in `(ts, id)` order, within the
    * horizon — the batch operator's `_next_b` pick. */
  private def firstB(evs: Vector[PatEvent], a: PatEvent, typeB: String,
                     withinUs: Long): Option[PatEvent] =
    evs.find(e => e.typ == typeB && e.tsUs <= a.tsUs + withinUs &&
      (e.tsUs > a.tsUs || (e.tsUs == a.tsUs && e.id > a.id)))

  /** Shared sequence/absence flush: an A finalizes when
    * `a.ts + within < watermark` (every candidate B has then arrived).
    *
    * Retention keeps (a) pending A events and everything at-or-after the
    * earliest pending A (its candidate Bs), AND (b) every event with
    * `ts >= watermark` even when no A is pending: an A may still arrive
    * out-of-order in a later micro-batch with `a.ts >= wm` and claim an
    * already-buffered B at-or-after it — dropping those Bs turned a match
    * into a false absence (cross-batch B-before-A regression spec). A
    * B with `ts < wm` and no pending A before it is safely evictable:
    * any future A passes the lateness filter only with `a.ts >= wm > b.ts`
    * and a B never matches an A after it. */
  private def seqFlush[O](typeA: String, withinUs: Long,
      emit: (Vector[PatEvent], PatEvent) => Option[O])(
      evs: Vector[PatEvent], frontier: Long, wmUs: Long)
  : (Seq[O], Vector[PatEvent], Option[Long]) = {
    val out = evs.filter(a => a.typ == typeA && a.tsUs + withinUs < wmUs)
      .flatMap(a => emit(evs, a))
    val pendingA = evs.filter(a => a.typ == typeA && a.tsUs + withinUs >= wmUs)
    if (pendingA.isEmpty) {
      val retained = evs.filter(_.tsUs >= wmUs)
      // no finalization pending — wake only to evict once wm passes the
      // buffer (keeps state from lingering forever on dead keys)
      val wake = if (retained.isEmpty) None else Some(retained.map(_.tsUs).max)
      (out, retained, wake)
    } else {
      val m = pendingA.head // evs sorted -> head is min (ts, id)
      val retained = evs.filter(e => e.tsUs >= wmUs ||
        e.tsUs > m.tsUs || (e.tsUs == m.tsUs && e.id >= m.id))
      (out, retained, Some(m.tsUs + withinUs))
    }
  }

  /** Streaming `every A -> B within T` (first-match) — batch twin
    * [[graft.operators.Patterns.followedBy]]. Output: (key, a_id, b_id, gap). */
  def followedBy(events: DataFrame, keyCol: String, tsCol: String, idCol: String,
                 typeCol: String, typeA: String, typeB: String, withinUs: Long,
                 delay: String): Dataset[SeqMatch] =
    runPattern[SeqMatch](events, keyCol, tsCol, idCol, typeCol, delay)(
      seqFlush[SeqMatch](typeA, withinUs, (evs, a) =>
        firstB(evs, a, typeB, withinUs).map(bb =>
          SeqMatch(a.key, a.id, bb.id, bb.tsUs - a.tsUs))))

  /** Streaming `A not followed by B within T` — batch twin
    * [[graft.operators.Patterns.absence]]. Output: (key, a_id). The
    * timeout-driven flush IS the absence detector: the per-key event-time
    * timer at `a.ts + within` is exactly Siddhi's `not ... for T` timer. */
  def absence(events: DataFrame, keyCol: String, tsCol: String, idCol: String,
              typeCol: String, typeA: String, typeB: String, withinUs: Long,
              delay: String): Dataset[AbsMatch] =
    runPattern[AbsMatch](events, keyCol, tsCol, idCol, typeCol, delay)(
      seqFlush[AbsMatch](typeA, withinUs, (evs, a) =>
        if (firstB(evs, a, typeB, withinUs).isEmpty) Some(AbsMatch(a.key, a.id))
        else None))

  /** Streaming guarded sequence `every A -> B[guard(a.v, b.v)] within T`
    * (first-match) — batch twin
    * [[graft.operators.Patterns.guardedFollowedBy]]: the earliest
    * following B whose guard over both bindings' values holds. Output:
    * (key, a_id, b_id, a_value, gap). Shares [[seqFlush]] — in the
    * buffered-scan world the binding-dependent guard costs nothing
    * extra, unlike the batch side's range join; the A still finalizes at
    * `a.ts + within < watermark`. */
  def guardedFollowedBy(events: DataFrame, keyCol: String, tsCol: String,
                        idCol: String, typeCol: String, valueCol: String,
                        typeA: String, typeB: String, withinUs: Long,
                        guard: (Double, Double) => Boolean,
                        delay: String): Dataset[GuardMatch] =
    runPattern[GuardMatch](events, keyCol, tsCol, idCol, typeCol, delay,
        valueCol = Some(valueCol))(
      seqFlush[GuardMatch](typeA, withinUs, (evs, a) =>
        evs.find(e => e.typ == typeB && e.tsUs <= a.tsUs + withinUs &&
            (e.tsUs > a.tsUs || (e.tsUs == a.tsUs && e.id > a.id)) &&
            guard(a.v, e.v))
          .map(b => GuardMatch(a.key, a.id, b.id, a.v, b.tsUs - a.tsUs))))

  /** Streaming chained sequence `every A -> B -> C within T` (first-match,
    * whole chain inside the horizon) — batch twin
    * [[graft.operators.Patterns.chain]]. Output: (key, a_id, b_id, c_id,
    * gap = tc − ta).
    *
    * Shares [[seqFlush]] with followedBy/absence: an A finalizes when
    * `a.ts + within < watermark` — every B and C the chain could use is
    * then in the buffer (tb, tc <= ta + within), and the seqFlush
    * retention already keeps everything at-or-after the earliest pending
    * A, which covers both hops (B and C are strictly after A). */
  def chain(events: DataFrame, keyCol: String, tsCol: String, idCol: String,
            typeCol: String, typeA: String, typeB: String, typeC: String,
            withinUs: Long, delay: String): Dataset[ChainMatch] =
    runPattern[ChainMatch](events, keyCol, tsCol, idCol, typeCol, delay)(
      seqFlush[ChainMatch](typeA, withinUs, (evs, a) =>
        for {
          b <- firstB(evs, a, typeB, withinUs)
          c <- evs.find(e => e.typ == typeC && e.tsUs <= a.tsUs + withinUs &&
            (e.tsUs > b.tsUs || (e.tsUs == b.tsUs && e.id > b.id)))
        } yield ChainMatch(a.key, a.id, b.id, c.id, c.tsUs - a.tsUs)))

  /** Streaming `A and B within T` (nearest B either direction, tie → the
    * earlier B) — batch twin [[graft.operators.Patterns.conjunction]].
    * Output: (key, a_id, b_id, gap = |tb − ta|).
    *
    * An A finalizes when `a.ts + within < watermark` (both its backward
    * and forward horizons are then closed). Retention keeps, besides the
    * [[seqFlush]] rules, B events back to
    * `min(earliest pending A, watermark) − within`: a pending or
    * future-arriving A can reach that far BACKWARD — the one-direction
    * patterns never look back, which is why this flush is separate. */
  def conjunction(events: DataFrame, keyCol: String, tsCol: String, idCol: String,
                  typeCol: String, typeA: String, typeB: String, withinUs: Long,
                  delay: String): Dataset[SeqMatch] =
    runPattern[SeqMatch](events, keyCol, tsCol, idCol, typeCol, delay) {
      (all, frontier, wmUs) =>
        // only A/B events can ever affect conjunction output — buffering
        // noise types would hold them in state for the watermark delay
        val evs = all.filter(e => e.typ == typeA || e.typ == typeB)
        val bs = evs.filter(_.typ == typeB)
        // `>= frontier` excludes As already finalized at a previous
        // watermark: under self-conjunction (typeA == typeB) a finalized A
        // inside the backward horizon is retained as B-context and would
        // otherwise re-pass the `< wmUs` filter and double-emit
        val out = evs.filter(a => a.typ == typeA &&
            a.tsUs + withinUs < wmUs && a.tsUs + withinUs >= frontier).flatMap { a =>
          // mirror the batch window split exactly: B "before" A in (ts, id)
          // order -> nearest is the LARGEST such; "after" -> the smallest
          val prevB = bs.filter(b => b.tsUs < a.tsUs || (b.tsUs == a.tsUs && b.id < a.id))
            .filter(b => a.tsUs - b.tsUs <= withinUs)
            .maxByOption(b => (b.tsUs, b.id))
          val nextB = bs.filter(b => b.tsUs > a.tsUs || (b.tsUs == a.tsUs && b.id > a.id))
            .filter(b => b.tsUs - a.tsUs <= withinUs)
            .minByOption(b => (b.tsUs, b.id))
          (prevB, nextB) match {
            case (Some(p), n) if n.forall(nn => a.tsUs - p.tsUs <= nn.tsUs - a.tsUs) =>
              Some(SeqMatch(a.key, a.id, p.id, a.tsUs - p.tsUs))
            case (_, Some(n)) => Some(SeqMatch(a.key, a.id, n.id, n.tsUs - a.tsUs))
            case _ => None
          }
        }
        val pendingA = evs.filter(a => a.typ == typeA && a.tsUs + withinUs >= wmUs)
        val floor = math.min(pendingA.headOption.map(_.tsUs).getOrElse(Long.MaxValue),
          wmUs) - withinUs
        val retained = evs.filter(e =>
          e.tsUs >= wmUs ||                                   // future-claimable
          (e.typ == typeA && e.tsUs + withinUs >= wmUs) ||    // pending As
          (e.typ == typeB && e.tsUs >= floor))                // backward horizon
        // wake at the next finalization, or — with only context Bs left —
        // at their EVICTION time (ts + within), not their (past) ts, which
        // would clamp to wm+1 and churn the key on every watermark advance
        val wake =
          if (pendingA.nonEmpty) Some(pendingA.head.tsUs + withinUs)
          else if (retained.isEmpty) None
          else Some(retained.map(e =>
            if (e.tsUs >= wmUs) e.tsUs else e.tsUs + withinUs).max)
        (out, retained, wake)
    }

  /** Streaming `every (a or b)` — batch twin
    * [[graft.operators.Patterns.disjunction]]: each event matching either
    * branch completes the pattern immediately (arrived branch binds, the
    * other is null; typeA == typeB binds the first-declared branch).
    * Output: (key, a_id, b_id).
    *
    * Deliberately STATELESS — no watermark, no keyed shuffle, no state
    * store: disjunction looks at one event at a time, so it is a pure
    * streaming projection (emits in the arriving micro-batch, exact
    * append-mode semantics, zero latency added). The only family member
    * that needs none of [[runPattern]]'s machinery. */
  def disjunction(events: DataFrame, keyCol: String, idCol: String,
                  typeCol: String, typeA: String, typeB: String): Dataset[OrMatch] =
    events.where(col(typeCol) === typeA || col(typeCol) === typeB)
      .select(col(keyCol).cast("long").as("key"),
        when(col(typeCol) === typeA, col(idCol).cast("long")).as("a_id"),
        when(col(typeCol) =!= typeA && col(typeCol) === typeB, col(idCol).cast("long")).as("b_id"))
      .as[OrMatch]

  /** Shared trailing-count flush: a `typeB` event finalizes when the
    * watermark strictly passes its own ts (its window looks only
    * backward, and a peer `typeA` at exactly `b.ts` can still arrive
    * while `wm <= b.ts`); it emits when its trailing `windowUs` window
    * holds >= `minCount` `typeA` events. `typeA` context ages out at
    * `ts + windowUs`, pending Bs stay until finalized, and the frontier
    * prevents re-emission. [[burst]] is exactly the `typeA == typeB`
    * instance — one copy of the finalize/retain/wake logic (the
    * conjunction double-emit fix showed how twin flushes drift). */
  private def trailingCountFlush[O](typeA: String, typeB: String, windowUs: Long,
      minCount: Long, emit: (PatEvent, Long) => O)(
      all: Vector[PatEvent], frontier: Long, wmUs: Long)
  : (Seq[O], Vector[PatEvent], Option[Long]) = {
    val evs = all.filter(e => e.typ == typeA || e.typ == typeB)
    val out = evs.filter(b => b.typ == typeB && b.tsUs < wmUs && b.tsUs >= frontier)
      .flatMap { b =>
        val cnt = evs.count(a => a.typ == typeA &&
          a.tsUs >= b.tsUs - windowUs && a.tsUs <= b.tsUs).toLong
        if (cnt >= minCount) Some(emit(b, cnt)) else None
      }
    val retained = evs.filter(e =>
      (e.typ == typeA && e.tsUs + windowUs >= wmUs) || // countable for future Bs
      (e.typ == typeB && e.tsUs >= wmUs))              // pending Bs
    val pendingB = retained.filter(e => e.typ == typeB && e.tsUs >= wmUs)
    val wake =
      if (retained.isEmpty) None
      else if (pendingB.nonEmpty) Some(pendingB.map(_.tsUs).min)
      else Some(retained.map(_.tsUs + windowUs).max) // pure A context: evict
    (out, retained, wake)
  }

  /** Streaming trailing-window count pattern — batch twin
    * [[graft.operators.Patterns.burst]]: every `typeX` event whose
    * trailing `windowUs` window holds >= minCount X events.
    * Output: (key, id, cnt). */
  def burst(events: DataFrame, keyCol: String, tsCol: String, idCol: String,
            typeCol: String, typeX: String, windowUs: Long, minCount: Long,
            delay: String): Dataset[BurstMatch] =
    runPattern[BurstMatch](events, keyCol, tsCol, idCol, typeCol, delay,
        onlyType = Some(typeX))(
      trailingCountFlush[BurstMatch](typeX, typeX, windowUs, minCount,
        (x, cnt) => BurstMatch(x.key, x.id, cnt)))

  /** Streaming count-quantifier sequence `a<n:> -> b within T` — batch
    * twin [[graft.operators.Patterns.countSequence]]: every `typeB` event
    * whose trailing window holds >= minCount `typeA` events. Shares
    * [[trailingCountFlush]] with [[burst]].
    * Output: (key, b_id, a_cnt). */
  def countSequence(events: DataFrame, keyCol: String, tsCol: String, idCol: String,
                    typeCol: String, typeA: String, typeB: String, withinUs: Long,
                    minCount: Long, delay: String): Dataset[CountSeqMatch] =
    runPattern[CountSeqMatch](events, keyCol, tsCol, idCol, typeCol, delay)(
      trailingCountFlush[CountSeqMatch](typeA, typeB, withinUs, minCount,
        (b, cnt) => CountSeqMatch(b.key, b.id, cnt)))

  /** Streaming sliding length window — batch twin
    * [[graft.operators.Patterns.lengthWindow]]: at every event, count +
    * DECIMAL-exact sum over the last `n` events of its key. An event
    * finalizes when the watermark strictly passes its ts (its trailing
    * window looks only backward in the (ts, id) total order, and a peer
    * at the same ts could still arrive while wm <= ts).
    *
    * State is bounded by `n` events per key and NEVER expires by time —
    * a count-based window reaches arbitrarily far back (an event
    * arriving years later still counts its key's previous n−1 events),
    * so retention keeps the last n−1 finalized events as permanent
    * context plus everything pending. Eviction is safe: a dropped event
    * always has ≥ n−1 buffered events after it, and any future arrival
    * sorts after all of them (arrival.ts >= wm > finalized ts), so the
    * dropped event can never re-enter a window. */
  def lengthWindow(events: DataFrame, keyCol: String, tsCol: String, idCol: String,
                   valueCol: String, n: Int, delay: String,
                   onlyType: (String, String) = null): Dataset[LenWinMatch] = {
    require(n >= 1, s"window length must be >= 1, got $n")
    // a type restriction ("window over s[type=='X']") must ride
    // runPattern's onlyType (filtered INSIDE the stateful function): a
    // DataFrame filter before the watermark would stall it on the
    // filtered stream — see the runPattern contract
    val (typeColName, tagged) = Option(onlyType) match {
      case Some((tc, _)) => (tc, events)
      case None => ("_ptyp", events.withColumn("_ptyp", lit("e")))
    }
    runPattern[LenWinMatch](tagged, keyCol, tsCol, idCol, typeColName,
        delay = delay, onlyType = Option(onlyType).map(_._2),
        valueCol = Some(valueCol)) { (evs, frontier, wmUs) =>
      val out = evs.zipWithIndex
        .filter { case (e, _) => e.tsUs < wmUs && e.tsUs >= frontier }
        .map { case (e, i) =>
          val win = evs.slice(math.max(0, i - (n - 1)), i + 1)
          val sum = win.map(x => BigDecimal(x.v).setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum
          LenWinMatch(e.key, e.id, win.size.toLong, sum.toDouble)
        }
      val pendingIdx = evs.indexWhere(_.tsUs >= wmUs)
      val retained =
        if (pendingIdx < 0) evs.takeRight(n - 1)
        else evs.slice(math.max(0, pendingIdx - (n - 1)), evs.size)
      val wake = if (pendingIdx < 0) None else Some(evs(pendingIdx).tsUs)
      (out, retained, wake)
    }
  }

  /** Streaming twin of [[graft.operators.Patterns.timeLengthWindow]] —
    * Siddhi's doubly-bounded `s#window.timeLength(T, n)`: per finalized
    * event, the count and decimal-exact sum over the last
    * `min(n, events within (ts−T, ts])` events in (ts, id) order.
    * Output shape shared with [[lengthWindow]] ([[LenWinMatch]]).
    *
    * Unlike the count-only window (whose state is permanent BY DESIGN),
    * the time bound gives this one natural eviction: events at or below
    * `watermark − T` can enter no future window and drop from state, so
    * retention is O(span × rate + pending) per key. */
  def timeLengthWindow(events: DataFrame, keyCol: String, tsCol: String,
                       idCol: String, valueCol: String, spanUs: Long, n: Int,
                       delay: String, onlyType: (String, String) = null)
  : Dataset[LenWinMatch] = {
    require(spanUs > 0 && n >= 1, s"need positive span and count, got $spanUs/$n")
    val (typeColName, tagged) = Option(onlyType) match {
      case Some((tc, _)) => (tc, events)
      case None => ("_ptyp", events.withColumn("_ptyp", lit("e")))
    }
    runPattern[LenWinMatch](tagged, keyCol, tsCol, idCol, typeColName,
        delay = delay, onlyType = Option(onlyType).map(_._2),
        valueCol = Some(valueCol)) { (evs, frontier, wmUs) =>
      val out = evs.zipWithIndex
        .filter { case (e, _) => e.tsUs < wmUs && e.tsUs >= frontier }
        .map { case (e, i) =>
          val win = evs.slice(0, i + 1)
            .filter(_.tsUs > e.tsUs - spanUs).takeRight(n)
          val sum = win.map(x =>
            BigDecimal(x.v).setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum
          LenWinMatch(e.key, e.id, win.size.toLong, sum.toDouble)
        }
      val pendingIdx = evs.indexWhere(_.tsUs >= wmUs)
      val retained = evs.filter(x => x.tsUs > wmUs - spanUs || x.tsUs >= wmUs)
      val wake = if (pendingIdx < 0) None else Some(evs(pendingIdx).tsUs)
      (out, retained, wake)
    }
  }

  /** The type tag of the per-key counter sentinel [[lengthBatch]] rides
    * in its event buffer — impossible in real input: untyped streams are
    * tagged `"e"` and typed ones are filtered to the requested type
    * before state. */
  private val BatchSentinel = "#b"

  /** Streaming twin of [[graft.operators.Patterns.lengthBatch]] —
    * Siddhi's TUMBLING count window `s#window.lengthBatch(n)`: every
    * complete batch of `n` finalized (below-watermark) events per key
    * emits one aggregate row, in event-time order; the trailing partial
    * batch waits for more events (lengthBatch flushes only when full).
    *
    * State: the < n leftover events of the current batch, everything
    * still pending above the watermark, and ONE sentinel row carrying
    * the consumed-batch counter (batch numbering must survive eviction
    * of emitted events; the sentinel sorts first at ts = Long.MinValue
    * and is the same one-permanent-row-per-key class as
    * [[lengthWindow]]'s context — the soak pins both). Emitted events
    * are never retained at all, so state is O(n + pending) per key. */
  def lengthBatch(events: DataFrame, keyCol: String, tsCol: String, idCol: String,
                  valueCol: String, n: Int, delay: String,
                  onlyType: (String, String) = null): Dataset[LenBatchMatch] = {
    require(n >= 1, s"batch length must be >= 1, got $n")
    val (typeColName, tagged) = Option(onlyType) match {
      case Some((tc, _)) => (tc, events)
      case None => ("_ptyp", events.withColumn("_ptyp", lit("e")))
    }
    runPattern[LenBatchMatch](tagged, keyCol, tsCol, idCol, typeColName,
        delay = delay, onlyType = Option(onlyType).map(_._2),
        valueCol = Some(valueCol)) { (evs, _, wmUs) =>
      if (evs.isEmpty) (Nil, Vector.empty, None)
      else {
        val key = evs.head.key
        val (sentinels, real) = evs.partition(_.typ == BatchSentinel)
        val consumed = sentinels.headOption.map(_.id).getOrElse(0L)
        val (ready, pending) = real.partition(_.tsUs < wmUs) // sorted: pending is a suffix
        val complete = ready.size / n
        val out = (0 until complete).map { b =>
          val batch = ready.slice(b * n, (b + 1) * n)
          val sum = batch.map(x =>
            BigDecimal(x.v).setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum
          LenBatchMatch(key, consumed + b, sum.toDouble, batch.head.id, batch.last.id)
        }
        val leftover = ready.drop(complete * n)
        val total = consumed + complete
        val retained =
          if (total == 0 && leftover.isEmpty && pending.isEmpty) Vector.empty
          else PatEvent(key, Long.MinValue, total, BatchSentinel,
            new Timestamp(0L), 0.0) +: (leftover ++ pending)
        val wake = pending.headOption.map(_.tsUs)
        (out, retained, wake)
      }
    }
  }

  /** Streaming output rate limiting `output first every T` — batch twin
    * [[graft.operators.Patterns.outputFirstEvery]]: the first event (by
    * the (ts, id) total order) of each key inside every `periodUs`-wide
    * tumbling bucket, emitted when the watermark closes the bucket.
    * Output: (key, id, bucket_start).
    *
    * State is ONE event per open bucket (a candidate can only be
    * replaced by an earlier-ordered arrival, and losers can never win
    * later), so a key holds at most ceil(delay/period)+1 events — the
    * cheapest stateful operator in the family. A bucket emits exactly
    * once: it fires on the first flush where the watermark passes its
    * end; stragglers into long-closed buckets are dropped (the same
    * best-effort late-data contract as everywhere else). */
  def outputFirstEvery(events: DataFrame, keyCol: String, tsCol: String,
                       idCol: String, periodUs: Long, delay: String,
                       onlyType: (String, String) = null): Dataset[FirstEveryMatch] =
    rateLimited(events, keyCol, tsCol, idCol, periodUs, delay, onlyType,
      _.minBy(e => (e.tsUs, e.id)))

  /** Streaming `output last every T` — batch twin
    * [[graft.operators.Patterns.outputLastEvery]]: the trailing-edge
    * variant; identical O(one-candidate-per-open-bucket) state with a
    * max pick instead of min. */
  def outputLastEvery(events: DataFrame, keyCol: String, tsCol: String,
                      idCol: String, periodUs: Long, delay: String,
                      onlyType: (String, String) = null): Dataset[FirstEveryMatch] =
    rateLimited(events, keyCol, tsCol, idCol, periodUs, delay, onlyType,
      _.maxBy(e => (e.tsUs, e.id)))

  /** Rate-limit flush: the frontier guard is what makes a bucket emit
    * exactly once across flushes. */
  private def rateFlush(periodUs: Long, pick: Vector[PatEvent] => PatEvent)(
      evs: Vector[PatEvent], frontier: Long, wmUs: Long)
  : (Seq[FirstEveryMatch], Vector[PatEvent], Option[Long]) = {
    val byBucket = evs.groupBy(e => Math.floorDiv(e.tsUs, periodUs)).toVector.sortBy(_._1)
    val (done, open) = byBucket.partition { case (b, _) => (b + 1) * periodUs <= wmUs }
    val out = done.collect {
      // emit only buckets that were still open at the previous flush
      case (b, es) if (b + 1) * periodUs > frontier =>
        val winner = pick(es)
        FirstEveryMatch(winner.key, winner.id, b * periodUs)
    }
    val retained = open.map { case (_, es) => pick(es) }
    val wake = open.headOption.map { case (b, _) => (b + 1) * periodUs }
    (out, retained, wake)
  }

  private def rateLimited(events: DataFrame, keyCol: String, tsCol: String,
                          idCol: String, periodUs: Long, delay: String,
                          onlyType: (String, String),
                          pick: Vector[PatEvent] => PatEvent): Dataset[FirstEveryMatch] = {
    require(periodUs > 0, s"period must be positive, got $periodUs")
    val (typeColName, tagged) = Option(onlyType) match {
      case Some((tc, _)) => (tc, events)
      case None => ("_ptyp", events.withColumn("_ptyp", lit("e")))
    }
    runPattern[FirstEveryMatch](tagged, keyCol, tsCol, idCol, typeColName,
      delay = delay, onlyType = Option(onlyType).map(_._2))(
      rateFlush(periodUs, pick))
  }

  /** Streaming session windows — batch twin
    * [[graft.operators.Patterns.sessionize]]: consecutive same-key events
    * merge while the gap is <= `gapUs`; a session finalizes (emits once)
    * when the watermark passes `lastTs + gap` — any later event is a new
    * session by definition. Output: (key, session_start, n_events). */
  def sessionize(events: DataFrame, keyCol: String, tsCol: String, gapUs: Long,
                 delay: String): Dataset[Session] = {
    val tagged = events.withColumn("_pid", lit(0L)).withColumn("_ptyp", lit("e"))
    runPattern[Session](tagged, keyCol, tsCol, "_pid", "_ptyp", delay) { (evs, _, wmUs) =>
      if (evs.isEmpty) (Nil, Vector.empty, None)
      else {
        // split the sorted buffer into gap-delimited sessions
        val sessions = evs.tail.foldLeft(Vector(Vector(evs.head))) { (acc, e) =>
          if (e.tsUs - acc.last.last.tsUs <= gapUs) acc.init :+ (acc.last :+ e)
          else acc :+ Vector(e)
        }
        val (done, open) = sessions.partition(s => s.last.tsUs + gapUs < wmUs)
        val out = done.map(s => Session(s.head.key, s.head.tsUs, s.size.toLong))
        val retained = open.flatten
        val wake = open.headOption.map(_.last.tsUs + gapUs)
        (out, retained, wake)
      }
    }
  }

  /** Sort-window member rows and consumed-event counters ride the state
    * buffer under reserved type tags (same trick as [[BatchSentinel]] —
    * `#`-prefixed tags are impossible in real input: untyped streams tag
    * `"e"` and typed ones filter to the requested type before state). */
  private val WinMember = "#s"
  private val CntSentinel = "#c"
  private val FreqPrefix = "#f:"
  private val DelayCnt = "#dc"
  private val DelaySum = "#ds"

  /** [[frequentTypes]] / [[lossyFrequent]] route USER attribute values
    * through the state rows' `typ` namespace, where the `#`-prefixed
    * sentinel tags live — unlike the typed operators, whose `typ` values
    * are filtered to a requested type before state. Every live attribute
    * is therefore escaped with this prefix at ingestion (stripped on
    * emit), so a user value of "#c" or "#f:x" can never be absorbed as a
    * sentinel/counter row and corrupt counts. */
  private val AttrEsc = "="

  /** Exact cents of a value under the repo-wide decimal(18,2) contract —
    * the integer the batch operators' `cast("decimal(18,2)")` sums. */
  private def cents(v: Double): Long =
    (BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact

  /** Streaming twin of [[graft.operators.Patterns.sortWindow]] — Siddhi
    * `s#window.sort(n, value, 'asc')`. Emits a SNAPSHOT of the window
    * (its full ≤ n contents, rk 1-based by (value, id)) each time
    * finalized events change it, tagged `rev` = total events consumed so
    * far — a batch-split-independent version number, so the snapshot at
    * any given `rev` is deterministic and the max-rev snapshot equals
    * the batch operator's final contents (parity spec). An element
    * evicted from a sort window can never re-enter, so the window after
    * m events is exactly top-n of the first m — the flush exploits that
    * (merge + take n) instead of replaying insert/evict.
    *
    * State per key: the ≤ n window members + one counter sentinel +
    * whatever is pending above the watermark — O(n + pending). */
  def sortWindow(events: DataFrame, keyCol: String, tsCol: String, idCol: String,
                 valueCol: String, n: Int, delay: String,
                 onlyType: (String, String) = null): Dataset[SortWinSnap] = {
    require(n >= 1, s"sort window size must be >= 1, got $n")
    val (typeColName, tagged) = Option(onlyType) match {
      case Some((tc, _)) => (tc, events)
      case None => ("_ptyp", events.withColumn("_ptyp", lit("e")))
    }
    runPattern[SortWinSnap](tagged, keyCol, tsCol, idCol, typeColName,
        delay = delay, onlyType = Option(onlyType).map(_._2),
        valueCol = Some(valueCol)) { (evs, _, wmUs) =>
      if (evs.isEmpty) (Nil, Vector.empty, None)
      else {
        val key = evs.head.key
        val (sent, rest) = evs.partition(_.typ == CntSentinel)
        val consumed0 = sent.headOption.map(_.id).getOrElse(0L)
        val (members, live) = rest.partition(_.typ == WinMember)
        val (ready, pending) = live.partition(_.tsUs < wmUs)
        val window = (members ++ ready).sortBy(e => (e.v, e.id)).take(n)
        val consumed = consumed0 + ready.size
        val out =
          if (ready.isEmpty) Nil
          else window.zipWithIndex.map { case (e, i) =>
            SortWinSnap(key, consumed, i + 1L, e.id, e.v) }
        val retained =
          if (consumed == 0 && pending.isEmpty) Vector.empty
          else PatEvent(key, Long.MinValue, consumed, CntSentinel,
            new Timestamp(0L), 0.0) +: (window.map(_.copy(typ = WinMember)) ++ pending)
        (out, retained, pending.headOption.map(_.tsUs))
      }
    }
  }

  /** Streaming twin of [[graft.operators.Patterns.frequentTypes]] —
    * Siddhi `s#window.frequent(k)`, exact form: per key, the top-`k`
    * attribute values by count (count desc, value asc). Same snapshot
    * contract as [[sortWindow]]: the full top-k is re-emitted with
    * `rev` = events consumed whenever finalized events arrive, and the
    * max-rev snapshot equals the batch answer.
    *
    * State per key: one counter row PER DISTINCT attribute value (the
    * exact counts the Misra–Gries sketch approximates) + the consumed
    * sentinel + pending — bounded by attribute cardinality, not stream
    * length; a deployment whose per-key attribute cardinality explodes
    * swaps the exact map for the sketch without changing the contract. */
  def frequentTypes(events: DataFrame, keyCol: String, tsCol: String, idCol: String,
                    attrCol: String, k: Int, delay: String): Dataset[FreqSnap] = {
    require(k >= 1, s"frequent window size must be >= 1, got $k")
    val esc = events.withColumn("_pattr", concat(lit(AttrEsc), col(attrCol)))
    runPattern[FreqSnap](esc, keyCol, tsCol, idCol, "_pattr",
        delay = delay) { (evs, _, wmUs) =>
      if (evs.isEmpty) (Nil, Vector.empty, None)
      else {
        val key = evs.head.key
        val (cntRows, rest) = evs.partition(_.typ.startsWith(FreqPrefix))
        val (sent, live) = rest.partition(_.typ == CntSentinel)
        val consumed0 = sent.headOption.map(_.id).getOrElse(0L)
        val (ready, pending) = live.partition(_.tsUs < wmUs)
        val counts = ready.foldLeft(
          cntRows.map(e => e.typ.drop(FreqPrefix.length) -> e.id).toMap) {
          (m, e) => m.updated(e.typ, m.getOrElse(e.typ, 0L) + 1L) }
        val consumed = consumed0 + ready.size
        val out =
          if (ready.isEmpty) Nil
          else counts.toSeq.sortBy { case (a, c) => (-c, a) }.take(k)
            .zipWithIndex.map { case ((a, c), i) =>
              FreqSnap(key, consumed, i + 1L, a.drop(AttrEsc.length), c) }
        val retained =
          if (consumed == 0 && pending.isEmpty) Vector.empty
          else PatEvent(key, Long.MinValue, consumed, CntSentinel,
            new Timestamp(0L), 0.0) +:
            (counts.toVector.sortBy(_._1).map { case (a, c) =>
              PatEvent(key, Long.MinValue, c, FreqPrefix + a, new Timestamp(0L), 0.0)
            } ++ pending)
        (out, retained, pending.headOption.map(_.tsUs))
      }
    }
  }

  /** Streaming twin of [[graft.operators.Patterns.delayWindow]] — Siddhi
    * `s#window.delay(T)`: per finalized event, the count and
    * decimal-exact sum of its key's events already RELEASED at its
    * arrival (`ts' <= ts − T`). Output: (key, id, rel_cnt, rel_sum).
    *
    * State per key: the events inside the trailing `T` span plus two
    * permanent sentinel rows — everything at or below `watermark − T`
    * can never leave a future event's released set, so it folds into a
    * running (count, cents) pair and leaves the buffer; the buffer is
    * O(T × rate), the same natural-eviction class as
    * [[timeLengthWindow]]. Cents (not floats) accumulate in the
    * sentinel so the fold order can never drift from the batch twin's
    * decimal sum. */
  def delayWindow(events: DataFrame, keyCol: String, tsCol: String,
                  idCol: String, valueCol: String, delayUs: Long,
                  delay: String, onlyType: (String, String) = null)
  : Dataset[DelayMatch] = {
    require(delayUs > 0, s"delay must be positive, got $delayUs")
    val (typeColName, tagged) = Option(onlyType) match {
      case Some((tc, _)) => (tc, events)
      case None => ("_ptyp", events.withColumn("_ptyp", lit("e")))
    }
    runPattern[DelayMatch](tagged, keyCol, tsCol, idCol, typeColName,
        delay = delay, onlyType = Option(onlyType).map(_._2),
        valueCol = Some(valueCol)) { (evs, frontier, wmUs) =>
      if (evs.isEmpty) (Nil, Vector.empty, None)
      else {
        val key = evs.head.key
        val (sent, live) = evs.partition(e => e.typ == DelayCnt || e.typ == DelaySum)
        val foldedCnt = sent.find(_.typ == DelayCnt).map(_.id).getOrElse(0L)
        val foldedCents = sent.find(_.typ == DelaySum).map(_.id).getOrElse(0L)
        val out = live
          .filter(e => e.tsUs < wmUs && e.tsUs >= frontier)
          .map { e =>
            // folded events all satisfy ts <= prevWm − T <= e.ts − T
            // (e finalizes now, so e.ts >= prevWm); the buffer holds the rest
            val rel = live.filter(_.tsUs <= e.tsUs - delayUs)
            DelayMatch(e.key, e.id, foldedCnt + rel.size,
              (foldedCents + rel.map(x => cents(x.v)).sum) / 100.0)
          }
        // fold what no future cut (>= wm − T) can exclude
        val (fold, keep) = live.partition(_.tsUs <= wmUs - delayUs)
        val cnt = foldedCnt + fold.size
        val cs = foldedCents + fold.map(x => cents(x.v)).sum
        val retained =
          if (cnt == 0 && keep.isEmpty) Vector.empty
          else Vector(
            PatEvent(key, Long.MinValue, cnt, DelayCnt, new Timestamp(0L), 0.0),
            PatEvent(key, Long.MinValue, cs, DelaySum, new Timestamp(0L), 0.0)) ++ keep
        // wake at the next finalization, else to fold the buffer tail
        // once wm passes ts + T (state shrinks to the two permanent
        // sentinels on dead keys)
        val wake = keep.find(_.tsUs >= wmUs).map(_.tsUs)
          .orElse(keep.lastOption.map(_.tsUs + delayUs))
        (out, retained, wake)
      }
    }
  }

  /** Streaming twin of [[graft.operators.Patterns.lossyFrequent]] —
    * Siddhi `s#window.lossyFrequent(support)`, exact form: per key, the
    * attribute values whose count clears the support fraction of ALL
    * events consumed, by the integer cross-multiply
    * `cnt * 1000 >= support_milli * total`. Same snapshot contract as
    * [[frequentTypes]]: each batch of finalized events re-emits the full
    * passing set tagged `rev` = events consumed, and the max-rev
    * snapshot equals the batch answer. Unlike the top-k twins (whose
    * snapshot of non-empty counts is never empty), a threshold filter
    * CAN pass nothing; a flush whose passing set is empty emits one
    * TOMBSTONE row (attr null, cnt 0) at that rev, so snapshot readers
    * see the emptiness instead of holding the previous non-empty
    * snapshot as current. Reading convention: the snapshot at a rev is
    * its non-null-attr rows. Output: (key, rev, attr, cnt, total).
    *
    * State per key: one counter row per distinct attribute + the
    * consumed sentinel + pending — the exact counters the lossy-counting
    * sketch approximates; a cardinality-exploding deployment swaps in
    * the sketch without changing the contract. */
  def lossyFrequent(events: DataFrame, keyCol: String, tsCol: String,
                    idCol: String, attrCol: String, supportMilli: Long,
                    delay: String): Dataset[LossyFreqSnap] = {
    require(supportMilli > 0 && supportMilli <= 1000,
      s"support must be in (0, 1000] milli-units, got $supportMilli")
    val esc = events.withColumn("_pattr", concat(lit(AttrEsc), col(attrCol)))
    runPattern[LossyFreqSnap](esc, keyCol, tsCol, idCol, "_pattr",
        delay = delay) { (evs, _, wmUs) =>
      if (evs.isEmpty) (Nil, Vector.empty, None)
      else {
        val key = evs.head.key
        val (cntRows, rest) = evs.partition(_.typ.startsWith(FreqPrefix))
        val (sent, live) = rest.partition(_.typ == CntSentinel)
        val consumed0 = sent.headOption.map(_.id).getOrElse(0L)
        val (ready, pending) = live.partition(_.tsUs < wmUs)
        val counts = ready.foldLeft(
          cntRows.map(e => e.typ.drop(FreqPrefix.length) -> e.id).toMap) {
          (m, e) => m.updated(e.typ, m.getOrElse(e.typ, 0L) + 1L) }
        val consumed = consumed0 + ready.size
        val out =
          if (ready.isEmpty) Nil
          else {
            val passing = counts.toSeq
              .filter { case (_, c) => c * 1000 >= supportMilli * consumed }
              .sortBy { case (a, c) => (-c, a) }
              .map { case (a, c) =>
                LossyFreqSnap(key, consumed, a.drop(AttrEsc.length), c, consumed) }
            if (passing.nonEmpty) passing
            // tombstone: an empty passing set is a real snapshot —
            // without a row at this rev, readers would hold the previous
            // non-empty snapshot as current
            else Seq(LossyFreqSnap(key, consumed, null, 0L, consumed))
          }
        val retained =
          if (consumed == 0 && pending.isEmpty) Vector.empty
          else PatEvent(key, Long.MinValue, consumed, CntSentinel,
            new Timestamp(0L), 0.0) +:
            (counts.toVector.sortBy(_._1).map { case (a, c) =>
              PatEvent(key, Long.MinValue, c, FreqPrefix + a, new Timestamp(0L), 0.0)
            } ++ pending)
        (out, retained, pending.headOption.map(_.tsUs))
      }
    }
  }
}
