package graft.sources

import java.sql.{Connection, DriverManager, ResultSet, Types}
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.{NullOrdering, SortDirection, SortOrder}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count => AggCount, CountStar, Max => AggMax, Min => AggMin}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** CDC polling source (reference O11–O17) as a DataSource V2
  * `MicroBatchStream`: `spark.readStream.format("cdc")
  * .option("mode","polling").option("url", ...).option("table.name", ...)
  * .option("polling.column", ...)`.
  *
  * Semantics mirrored from the reference:
  *   - initial offset = `SELECT MAX(pollingColumn)`, empty table → −1:
  *     pre-existing rows are NOT replayed (`DefaultPollingStrategy.java:109-132`);
  *   - each micro-batch reads `WHERE col > last AND col <= latest`
  *     (`DefaultPollingStrategy.java:134-168`) — the delta predicate is
  *     executed BY the database (pushdown, `:142-145`);
  *   - column names lowercased (`:153`);
  *   - scalar normalization (O8) applied at schema inference: narrow ints
  *     → int, decimal scale ≤ 0 → long else double
  *     (`RdbmsChangeDataCapture.java:199-219`);
  *   - gap hold-back (O15, `WaitOnMissingRecordPollingStrategy.java:64-182`):
  *     with `wait.on.missed.record`, `latestOffset` refuses to advance past
  *     a hole in the numeric sequence until the missing row arrives or
  *     `missed.record.waiting.timeout` expires — head-of-line blocking
  *     exactly like the reference;
  *   - offsets live in the Structured Streaming checkpoint (replaces
  *     `InMemoryOffsetBackingStore` + `CdcState`, exactly-once not
  *     at-least-once);
  *   - `polling.interval` / cron (O16) are honored at the query level via
  *     [[graft.streaming.CdcPoll.trigger]] (ProcessingTime(interval) /
  *     AvailableNow) — a V2 source cannot set its own query trigger.
  *
  * Scale design: the reference polls single-threaded on one JVM; here each
  * micro-batch splits the (last, latest] numeric range into
  * `numPartitions` executor-parallel JDBC range scans, so ingest
  * throughput scales with the cluster, and the source DB sees only
  * indexed range predicates.
  */
class CdcTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "cdc"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val opts = CdcOptions(options)
    require(opts.mode == CdcOptions.ModePolling,
      "mode=listening requires a user-declared row schema (the reference declares it " +
        "on the stream, TestCaseOfCDCListeningMode.java:79-87) and so is not served by " +
        "this schema-inferring format: use EnvelopeStream.listen(spark, opts, rowSchema, " +
        "stateDir) — a live Debezium log-tail when the debezium jars are on the runtime " +
        "classpath (DebeziumRuntime.available) — or EnvelopeStream.replay for recorded " +
        "envelopes; both feed the same flatten/offset/checkpoint pipeline. mode=polling " +
        "is handled here.")
    Jdbc.withConnection(opts) { conn =>
      val full = Jdbc.inferSchema(conn, opts.table)
      if (opts.scanColumns.isEmpty) full
      else {
        val missing = opts.scanColumns.filterNot(full.fieldNames.contains)
        require(missing.isEmpty,
          s"scan.columns not in ${opts.table}: ${missing.mkString(", ")}")
        StructType(full.fields.filter(f => opts.scanColumns.contains(f.name)))
      }
    }
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    val opts = CdcOptions(new CaseInsensitiveStringMap(properties))
    new CdcTable(schema, opts)
  }
}

class CdcTable(schema: StructType, opts: CdcOptions) extends Table with SupportsRead {
  /** Value equality (with [[CdcScan]]'s): two reads of the same table
    * must canonicalize `sameResult`, or Catalyst never reuses exchanges
    * across them and dynamic pruning's broadcast-reuse check fails. */
  override def equals(o: Any): Boolean = o match {
    case t: CdcTable => schema == t.schema() && opts == t.optsKey
    case _ => false
  }
  override def hashCode(): Int = (schema, opts).hashCode()
  private[sources] def optsKey: CdcOptions = opts
  override def name(): String = s"cdc:${opts.table}"
  override def schema(): StructType = schema
  override def capabilities(): java.util.Set[TableCapability] = {
    val s = new java.util.HashSet[TableCapability]()
    s.add(TableCapability.MICRO_BATCH_READ)
    s.add(TableCapability.BATCH_READ)
    s
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new CdcScanBuilder(schema, opts)
}

/** Scan builder with operator pushdown (SURVEY §4: improves on the
  * reference's unconditional `SELECT *`,
  * `DefaultPollingStrategy.java:134-154`):
  *
  *   - **column pruning** (`SupportsPushDownRequiredColumns`): the
  *     per-partition JDBC `SELECT` lists exactly the pruned columns, so a
  *     2-column projection over a 40-column table never ships the other 38
  *     out of the database;
  *   - **filter pushdown** (`SupportsPushDownFilters`): predicates that
  *     translate to vendor-neutral SQL run INSIDE the database (the same
  *     trust the reference places in its delta predicate,
  *     `DefaultPollingStrategy.java:142-145`). Comparisons on strings are
  *     pushed for the row-reduction but ALSO kept as Spark-side residual
  *     filters: vendor collations (e.g. case-insensitive defaults) may
  *     match more rows than Spark semantics, so the DB result is treated
  *     as a superset and re-checked exactly. Null-ordering-free predicates
  *     on numerics/booleans/dates are fully handed off.
  */
class CdcScanBuilder(schema: StructType, opts: CdcOptions) extends ScanBuilder
  with SupportsPushDownRequiredColumns with SupportsPushDownFilters
  with SupportsPushDownLimit with SupportsPushDownTopN
  with SupportsPushDownAggregates {

  private var readSchema: StructType = schema
  private var pushed: Array[Filter] = Array.empty
  private var limit: Int = -1
  private var aggSelect: Option[(String, String)] = None // (select list, GROUP BY clause)
  private var aggSchema: Option[StructType] = None
  private var topN: Option[(String, Int)] = None // (ORDER BY clause, n)

  /** Aggregate pushdown (`SupportsPushDownAggregates`): MIN/MAX/COUNT —
    * optionally grouped — run INSIDE the database, per range partition,
    * and each partition ships back one row per group instead of its
    * rows. The reference already trusts the DB with exactly this shape
    * for its offset bootstrap (`SELECT MAX(pollingColumn)`,
    * `DefaultPollingStrategy.java:115`); this generalizes it to user
    * queries over the snapshot. Always PARTIAL (`supportCompletePushDown`
    * = false): Spark merges the per-partition partials (max of maxes,
    * sum of counts), which is exactly correct over the parallel ranges.
    * MIN/MAX on strings are NOT pushed — vendor collations order text
    * differently than Spark (same caution as the filter residuals);
    * COUNT is collation-free and always safe. */
  override def supportCompletePushDown(agg: Aggregation): Boolean = false

  override def pushAggregation(agg: Aggregation): Boolean = {
    def colName(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case f: org.apache.spark.sql.connector.expressions.NamedReference
          if f.fieldNames.length == 1 =>
          val n = f.fieldNames.head.toLowerCase
          if (schema.fieldNames.contains(n)) Some(n) else None
        case _ => None
      }
    def rangeSafe(c: String): Boolean = schema(c).dataType match {
      case StringType | BinaryType => false // vendor collation order
      case _ => true
    }
    val groups = agg.groupByExpressions.toSeq.map(colName)
    // string group keys are refused like string MIN/MAX: a case-folding
    // vendor collation MERGES groups Spark would keep distinct, and no
    // final aggregate over the partials can un-merge them
    if (groups.exists(g => g.isEmpty || !rangeSafe(g.get))) return false
    val aggs = agg.aggregateExpressions.toSeq.map {
      case m: AggMax => colName(m.column).filter(rangeSafe)
        .map(c => (s"MAX($c)", schema(c).dataType))
      case m: AggMin => colName(m.column).filter(rangeSafe)
        .map(c => (s"MIN($c)", schema(c).dataType))
      case _: CountStar => Some(("COUNT(*)", LongType: DataType))
      case c: AggCount if !c.isDistinct =>
        colName(c.column).map(n => (s"COUNT($n)", LongType: DataType))
      case _ => None
    }
    if (aggs.isEmpty || aggs.exists(_.isEmpty)) return false
    val gcols = groups.map(_.get)
    aggSchema = Some(StructType(
      gcols.map(c => StructField(c, schema(c).dataType)) ++
        aggs.map(_.get).zipWithIndex.map { case ((_, dt), i) => StructField(s"agg_$i", dt) }))
    aggSelect = Some((
      (gcols ++ aggs.map(_.get._1)).mkString(", "),
      if (gcols.isEmpty) "" else gcols.mkString(" GROUP BY ", ", ", "")))
    true
  }

  /** Limit pushdown (`SupportsPushDownLimit`): each partition's JDBC
    * SELECT carries the limit, so a `df.limit(n)` snapshot probe stops
    * the DB scan after n rows per partition instead of shipping the
    * table. Partial by construction (ranges are parallel), so Spark
    * keeps its global limit on top. Batch-only: the micro-batch stream
    * ignores it (a limit under streaming has no stable semantics). */
  override def pushLimit(l: Int): Boolean = { limit = l; true }
  override def isPartiallyPushed(): Boolean = true

  /** Top-N pushdown (`SupportsPushDownTopN`): an ORDER BY + LIMIT probe
    * ("latest n rows by id") becomes a per-partition `ORDER BY ... FETCH
    * FIRST n` — the DB walks its index instead of shipping the
    * partition. Partial like the limit (Spark merges and re-sorts the
    * per-partition top-Ns). String sort keys are refused for the same
    * vendor-collation reason as filter residuals and MIN/MAX. */
  override def pushTopN(orders: Array[SortOrder], n: Int): Boolean = {
    // the generated ORDER BY spells out ANSI NULLS FIRST/LAST, which the
    // LIMIT-dialect vendors (MySQL/MariaDB/SQLite) and SQL Server do not
    // parse (T-SQL also requires ORDER BY ... OFFSET for its fetch form)
    // — top-N is partial pushdown, so refusing costs only the optimization
    if (!Jdbc.supportsAnsiNullOrdering(opts.url)) return false
    val compiled = orders.toSeq.map { so =>
      so.expression() match {
        case f: org.apache.spark.sql.connector.expressions.NamedReference
          if f.fieldNames.length == 1 =>
          val c = f.fieldNames.head.toLowerCase
          val sortSafe = schema.fieldNames.contains(c) &&
            (schema(c).dataType match {
              case StringType | BinaryType => false
              case _ => true
            })
          if (!sortSafe) None
          else {
            val dir = if (so.direction == SortDirection.ASCENDING) "ASC" else "DESC"
            val nulls = if (so.nullOrdering == NullOrdering.NULLS_FIRST) "NULLS FIRST"
                        else "NULLS LAST"
            Some(s"$c $dir $nulls")
          }
        case _ => None
      }
    }
    if (compiled.isEmpty || compiled.exists(_.isEmpty)) return false
    topN = Some((compiled.map(_.get).mkString(" ORDER BY ", ", ", ""), n))
    true
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    readSchema = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ok, unsupported) = filters.partition(f => Jdbc.compileFilter(f, schema).isDefined)
    pushed = ok
    // residual = untranslatable + best-effort (collation-sensitive) ones
    unsupported ++ ok.filter(Jdbc.needsSparkRecheck)
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    new CdcScan(schema, aggSchema.getOrElse(readSchema), opts,
      pushed.flatMap(f => Jdbc.compileFilter(f, schema)), limit, aggSelect, topN)
}

class CdcScan(fullSchema: StructType, pruned: StructType, opts: CdcOptions,
              pushedWhere: Array[String], limit: Int = -1,
              aggSelect: Option[(String, String)] = None,
              topN: Option[(String, Int)] = None)
  extends Scan with SupportsRuntimeFiltering with SupportsReportStatistics {
  // `scan.where` joins the pushed predicates on BOTH paths; for streaming
  // it is the ONLY way a user predicate reaches the vendor SQL (Catalyst
  // V2 pushdown rules do not run for streaming scans)
  private val where: Array[String] = pushedWhere ++ opts.scanWhere.map(w => s"($w)")

  /** Runtime filtering (`SupportsRuntimeFiltering`): when this snapshot
    * joins a broadcast dimension (the q10 hydration shape), dynamic
    * pruning hands the scan the dimension's surviving join keys AFTER the
    * broadcast materializes — each partition's JDBC WHERE gains the
    * IN-list, so the DATABASE prunes the fact rows instead of shipping
    * them for Spark's join to discard. Purely an optimization: the join
    * re-checks every row, so refusing (or a vendor matching a superset)
    * can never change results. String/binary attributes are withheld for
    * the same vendor-collation reason as [[CdcScanBuilder.pushFilters]];
    * IN-lists wider than [[Jdbc.MaxRuntimeInList]] stay Spark-side
    * (vendors cap IN length — Oracle at 1000). */
  private val runtimeHolder = new RuntimeWhere
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    pruned.fields.collect {
      case StructField(n, dt, _, _) if dt != StringType && dt != BinaryType =>
        org.apache.spark.sql.connector.expressions.Expressions.column(n)
    }
  override def filter(filters: Array[Filter]): Unit = {
    import org.apache.spark.sql.sources.In
    runtimeHolder.extra = filters.flatMap {
      case f if Jdbc.needsSparkRecheck(f) => None // defensive: strings withheld above
      case In(a, vs) =>
        // join keys arrive in broadcast-iteration order with possible
        // duplicates — canonicalize so the issued SQL is deterministic
        // (and as short as the key set) run to run
        val canon = vs.distinct.sortBy(String.valueOf(_))
        if (canon.length > Jdbc.MaxRuntimeInList) None
        else Jdbc.compileFilter(In(a, canon), fullSchema)
      case f => Jdbc.compileFilter(f, fullSchema)
    }
  }

  /** Value equality over everything that determines emitted rows —
    * `BatchScanExec` compares `Scan`s when canonicalizing, so without
    * this no two reads of the same table ever `sameResult`: exchange
    * reuse for self-joins fails, and the dynamic-pruning broadcast-reuse
    * check above always degrades to `true`. `runtimeWhere` is included
    * in `equals` because a runtime-filtered scan emits fewer rows than an
    * unfiltered one — but NOT in `hashCode`: `filter()` mutates the
    * holder mid-execution, and a hash that changes after a hash-keyed
    * structure (AQE stage cache, exchange-reuse map) captured the scan
    * would silently stop matching. Hashing only the immutable fields
    * keeps the contract (equal ⇒ same hash) while leaving the runtime
    * distinction to the slower-but-safe `equals`. */
  private def eqKey =
    (fullSchema, pruned, opts, pushedWhere.toSeq, limit, aggSelect, topN)
  override def equals(o: Any): Boolean = o match {
    case s: CdcScan =>
      eqKey == s.eqKey && runtimeHolder.extra.toSeq == s.runtimeHolder.extra.toSeq
    case _ => false
  }
  override def hashCode(): Int = eqKey.hashCode()

  /** Size estimation (`SupportsReportStatistics`): without it a V2
    * relation reports `defaultSizeInBytes` (effectively infinite), so a
    * small dimension read through this source is NEVER auto-broadcast and
    * every hydration join degrades to sort-merge unless the user hints.
    * One driver-side `COUNT(*)` carrying the pushed predicates — the
    * vendor answers from its index/metadata, the same trust the offset
    * bootstrap places in `SELECT MAX` — priced once per planned scan
    * (lazy), memoized across scans of the same (url, table, predicates)
    * for [[CdcScan.StatsTtlMs]] so re-planning (AQE, repeated queries in
    * a session) does not re-tax the vendor; failures degrade to unknown,
    * which Spark treats as the old infinite default. On vendors where
    * COUNT(*) is a table walk the probe can be switched off entirely with
    * `statistics.enabled=false` (the scan then reports unknown and small
    * snapshots need an explicit `broadcast()` hint). Row width from the
    * pruned schema's type sizes. */
  private lazy val stats: Statistics = {
    val counted: java.util.OptionalLong =
      if (!opts.statisticsEnabled) java.util.OptionalLong.empty()
      else try {
        val w = if (where.isEmpty) "" else where.mkString(" WHERE ", " AND ", "")
        val sql = s"SELECT COUNT(*) FROM ${opts.table}$w"
        val key = (opts.url, sql)
        val now = System.currentTimeMillis()
        val cached = Option(CdcScan.statsCache.get(key)).collect {
          case (ts, n) if now - ts < CdcScan.StatsTtlMs => n
        }
        val n = cached.getOrElse {
          val fresh = Jdbc.withConnection(opts) { conn =>
            Jdbc.IssuedSql.add(sql)
            val rs = conn.createStatement().executeQuery(sql)
            rs.next(); rs.getLong(1)
          }
          CdcScan.statsPut(key, now, fresh)
          fresh
        }
        java.util.OptionalLong.of(n)
      } catch { case _: Exception => java.util.OptionalLong.empty() }
    new Statistics {
      override def numRows(): java.util.OptionalLong = counted
      override def sizeInBytes(): java.util.OptionalLong =
        if (counted.isPresent)
          java.util.OptionalLong.of(counted.getAsLong * math.max(1, pruned.defaultSize))
        else java.util.OptionalLong.empty()
    }
  }
  override def estimateStatistics(): Statistics = stats

  override def readSchema(): StructType = pruned
  override def description(): String =
    s"cdc:${opts.table} cols=[${pruned.fieldNames.mkString(",")}]" +
      (if (where.isEmpty) "" else s" pushed=[${where.mkString(" AND ")}]") +
      (if (limit < 0) "" else s" limit=$limit") +
      aggSelect.map(a => s" agg=[${a._1}]").getOrElse("") +
      topN.map(t => s" topN=[${t._1.trim} n=${t._2}]").getOrElse("")
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new CdcMicroBatchStream(fullSchema, pruned, opts, where)
  // the holder rides along because Spark calls `filter` AFTER `toBatch`
  // (and even after `createReaderFactory` — `supportsColumnar` forces the
  // factory during planning): the IN-list must be read at task time
  override def toBatch: Batch =
    new CdcBatch(fullSchema, pruned, opts, where, runtimeHolder,
      limit, aggSelect, topN)
}

object CdcScan {
  /** How long a COUNT(*) probe result is trusted across plans. Short on
    * purpose: a stale under-count risks broadcasting a table that grew
    * past the threshold, so the window only needs to cover the re-plans
    * of one query burst (AQE, self-joins), not a session. */
  private[sources] val StatsTtlMs = 30000L
  /** Hard cap on live entries: every distinct (url, probe-SQL) pair —
    * i.e. every table × pushed-predicate combination a session ever
    * plans — gets a slot, so without a bound a long-lived driver over
    * many tables accumulates forever. Entries past the TTL are useless
    * by definition (never read again), so inserts sweep them out; the
    * cap is a backstop for >512 distinct probes inside one 30 s window,
    * where clearing (losing at worst one probe per re-plan) beats
    * unbounded growth. */
  private[sources] val StatsMaxEntries = 512
  private[sources] val statsCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), (Long, Long)]()
  private[sources] def statsPut(key: (String, String), ts: Long, n: Long): Unit = {
    statsCache.entrySet().removeIf(e => ts - e.getValue._1 >= StatsTtlMs)
    if (statsCache.size >= StatsMaxEntries) statsCache.clear()
    statsCache.put(key, (ts, n))
  }
}

/** Offset = largest polling-column value emitted; serialized as
  * `num:<v>` / `str:<v>` / `none` (empty table, −1 analog). */
case class CdcOffset(value: Option[String], numeric: Boolean) extends Offset {
  override def json(): String = value match {
    case Some(v) => (if (numeric) "num:" else "str:") + v
    case None => "none"
  }
  def asLong: Long = value.map(_.toLong).getOrElse(-1L)
}

object CdcOffset {
  def parse(json: String): CdcOffset = json match {
    case "none" => CdcOffset(None, numeric = true)
    case s if s.startsWith("num:") => CdcOffset(Some(s.drop(4)), numeric = true)
    case s if s.startsWith("str:") => CdcOffset(Some(s.drop(4)), numeric = false)
    case other => throw new IllegalArgumentException(s"bad CdcOffset: $other")
  }
}

class CdcMicroBatchStream(fullSchema: StructType, readSchema: StructType,
                          opts: CdcOptions, where: Array[String]) extends MicroBatchStream {
  private val pollingCol = opts.pollingColumn.get.toLowerCase
  private val numericCol: Boolean = fullSchema(pollingCol).dataType match {
    case IntegerType | LongType | ShortType => true
    case _ => false
  }
  /** Last offset the engine has planned through (restored from checkpoint
    * via deserializeOffset on recovery). */
  private val lastPlanned = new AtomicReference[CdcOffset](null)
  /** Gap hold-back state (O15, mirrors `waitingFor`/`waitingFrom` in
    * `WaitOnMissingRecordPollingStrategy.java:72-73,116-131`): the hole we
    * are waiting on and when we first saw it. Driver-side, like the
    * reference's poll thread. */
  @volatile private var gapHole: Long = -1L
  @volatile private var gapFirstSeenMs: Long = -1L
  private def gapReset(): Unit = { gapHole = -1L; gapFirstSeenMs = -1L }

  private def queryMax(conn: Connection): CdcOffset = {
    val rs = conn.createStatement().executeQuery(
      s"SELECT MAX($pollingCol) FROM ${opts.table}")
    rs.next()
    val v = rs.getString(1)
    CdcOffset(Option(v), numericCol)
  }

  /** Smallest present value strictly above `v` (None if none). */
  private def queryMinAbove(conn: Connection, v: Long): Option[Long] = {
    val ps = conn.prepareStatement(
      s"SELECT MIN($pollingCol) FROM ${opts.table} WHERE $pollingCol > ?")
    ps.setLong(1, v)
    val rs = ps.executeQuery()
    rs.next()
    val r = rs.getLong(1)
    if (rs.wasNull()) None else Some(r)
  }

  /** End of the contiguous run beginning at present value `start`:
    * smallest present value >= start whose successor is absent (the DB
    * executes the self-join — no data leaves the source). */
  private def runEnd(conn: Connection, start: Long): Long = {
    val sql =
      s"""SELECT MIN(a.$pollingCol) FROM ${opts.table} a
         |LEFT OUTER JOIN ${opts.table} b ON b.$pollingCol = a.$pollingCol + 1
         |WHERE a.$pollingCol >= ? AND b.$pollingCol IS NULL""".stripMargin
    val ps = conn.prepareStatement(sql)
    ps.setLong(1, start)
    val rs = ps.executeQuery()
    rs.next()
    rs.getLong(1)
  }

  override def initialOffset(): Offset = {
    val o = Jdbc.withConnection(opts)(queryMax)
    lastPlanned.set(o)
    o
  }

  override def deserializeOffset(json: String): Offset = {
    val o = CdcOffset.parse(json)
    lastPlanned.set(o)
    o
  }

  /** One connection (and one retry scope) for all of a poll's offset
    * queries: the max, and with a gap hold also the min-above and
    * run-end probes. */
  override def latestOffset(): Offset = Jdbc.withConnection(opts) { conn =>
    val max = queryMax(conn)
    if (!opts.waitOnMissedRecord || !numericCol || max.value.isEmpty) max
    else {
      val last = Option(lastPlanned.get()).map(_.asLong).getOrElse(-1L)
      if (max.asLong <= last) { gapReset(); CdcOffset(Some(last.toString), numericCol) }
      else queryMinAbove(conn, last) match {
        // each query is its own auto-committed statement; a concurrent
        // delete after queryMax can make the min query come back empty —
        // degrade to a no-op poll (hold the offset) instead of failing
        case None => CdcOffset(Some(last.toString), numericCol)
        case Some(minNew) if last >= 0 && minNew > last + 1 =>
          // hole immediately after last (reference: current - last > 1)
          holdOrRelease(conn, holdAt = last, hole = last + 1)
        case Some(minNew) =>
          val end = runEnd(conn, minNew)
          if (end >= max.asLong) { gapReset(); max } // unbroken run to max
          else holdOrRelease(conn, holdAt = end, hole = end + 1)
      }
    }
  }

  /** Hold the offset at `holdAt` while waiting on `hole`; on timeout,
    * resume past this ONE hole to the end of the next contiguous run
    * (reference resumes at the next scanned row and re-waits per hole:
    * `WaitOnMissingRecordPollingStrategy.java:124-143`). */
  private def holdOrRelease(conn: Connection, holdAt: Long, hole: Long): CdcOffset = {
    val now = System.currentTimeMillis()
    if (gapHole != hole) { gapHole = hole; gapFirstSeenMs = now }
    val timedOut = opts.missedRecordTimeoutSec >= 0 &&
      now - gapFirstSeenMs >= opts.missedRecordTimeoutSec * 1000
    if (!timedOut) CdcOffset(Some(holdAt.toString), numericCol)
    else queryMinAbove(conn, holdAt) match {
      // concurrent delete between queryMax and here: keep holding; the
      // next poll re-evaluates from a fresh max
      case None => CdcOffset(Some(holdAt.toString), numericCol)
      case Some(resume) =>
        gapReset()
        CdcOffset(Some(runEnd(conn, resume).toString), numericCol)
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[CdcOffset]
    val e = end.asInstanceOf[CdcOffset]
    lastPlanned.set(e)
    if (e.value.isEmpty || s.value == e.value) return Array.empty
    if (numericCol) {
      val lo = s.asLong
      val hi = e.asLong
      val span = hi - lo
      val n = math.max(1, math.min(opts.numPartitions.toLong, span)).toInt
      val step = span / n
      (0 until n).map { i =>
        val pLo = lo + i * step
        val pHi = if (i == n - 1) hi else lo + (i + 1) * step
        CdcInputPartition(Some(pLo.toString), Some(pHi.toString), numeric = true)
      }.toArray
    } else {
      Array(CdcInputPartition(s.value, Some(e.value.get), numeric = false))
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    CdcReaderFactory(Jdbc.connectionSpec(opts), opts.table, pollingCol, readSchema, where)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Batch (full-snapshot) path. When the polling column is numeric, the
  * snapshot is split into `numpartitions` executor-parallel range scans
  * (boundaries from one driver-side `SELECT MIN, MAX`): the edge ranges
  * are left unbounded so rows racing the boundary query are still
  * covered, and a nullable polling column gets one extra `IS NULL`
  * partition (range predicates drop SQL NULLs). Non-numeric polling
  * columns (or numpartitions=1) fall back to a single full scan — the
  * micro-batch delta path, not the snapshot, is the string-offset route. */
class CdcBatch(fullSchema: StructType, readSchema: StructType, opts: CdcOptions,
               where: Array[String], runtime: RuntimeWhere = new RuntimeWhere,
               limit: Int = -1,
               aggSelect: Option[(String, String)] = None,
               topN: Option[(String, Int)] = None) extends Batch {
  /** Value equality: `BatchScanExec.equals` compares `scan.toBatch`, and
    * every `toBatch` call builds a fresh CdcBatch — without this, scan
    * reuse (and dynamic pruning's broadcast-reuse check) never matches.
    * Runtime predicates compare by their CURRENT contents. */
  private def eqKey =
    (fullSchema, readSchema, opts, where.toSeq, runtime.extra.toSeq,
      limit, aggSelect, topN)
  override def equals(o: Any): Boolean = o match {
    case b: CdcBatch => eqKey == b.eqKey
    case _ => false
  }
  override def hashCode(): Int = eqKey.hashCode()

  private val pollingCol = opts.pollingColumn.map(_.toLowerCase).getOrElse("")

  private def numericPoll: Boolean =
    pollingCol.nonEmpty && fullSchema.fieldNames.contains(pollingCol) &&
      (fullSchema(pollingCol).dataType match {
        case IntegerType | LongType | ShortType => true
        case _ => false
      })

  override def planInputPartitions(): Array[InputPartition] = {
    val full = Array[InputPartition](CdcInputPartition(None, None, numeric = false))
    if (!numericPoll || opts.numPartitions <= 1) return full
    val bounds = Jdbc.withConnection(opts) { conn =>
      val rs = conn.createStatement().executeQuery(
        s"SELECT MIN($pollingCol), MAX($pollingCol) FROM ${opts.table}")
      rs.next()
      val mn = rs.getLong(1)
      if (rs.wasNull()) None else Some((mn, rs.getLong(2)))
    }
    bounds match {
      case None => full // empty table (or all-NULL polling column)
      case Some((mn, mx)) =>
        // BigInt span: mx - mn + 1 overflows a long when the column spans
        // most of the long range (same guard as SequenceGaps)
        val span = BigInt(mx) - BigInt(mn) + 1
        val n = span.min(BigInt(opts.numPartitions)).max(1).toInt
        if (n <= 1) return full
        val bound = (i: Int) => (BigInt(mn) - 1 + span * i / n).toString
        val ranges = (0 until n).map { i =>
          CdcInputPartition(
            lo = if (i == 0) None else Some(bound(i)),
            hi = if (i == n - 1) None else Some(bound(i + 1)),
            numeric = true)
        }
        val nullPart =
          if (fullSchema(pollingCol).nullable)
            Seq(CdcInputPartition(None, None, numeric = true, nullScan = true))
          else Seq.empty
        (ranges ++ nullPart).toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // topN subsumes limit; aggregation excludes both (Spark pushes one
    // shape per scan — guard defensively anyway)
    val orderAndLimit = (topN, limit) match {
      case _ if aggSelect.nonEmpty => None
      case (Some((orderBy, n)), _) =>
        val (pre, clause) = Jdbc.limitSyntax(opts.url, n)
        Some((pre, orderBy, clause))
      case (None, l) if l >= 0 =>
        val (pre, clause) = Jdbc.limitSyntax(opts.url, l)
        Some((pre, "", clause))
      case _ => None
    }
    CdcReaderFactory(Jdbc.connectionSpec(opts), opts.table, pollingCol, readSchema,
      where, orderAndLimit, aggSelect, runtime)
  }
}

/** (loExclusive, hiInclusive] range on the polling column; an absent bound
  * is unbounded on that side (both absent → full scan). `nullScan` selects
  * exactly the rows the range predicates can't: polling column IS NULL. */
case class CdcInputPartition(lo: Option[String], hi: Option[String], numeric: Boolean,
                             nullScan: Boolean = false)
  extends InputPartition

/** Serializable mutable carrier for predicates that arrive AFTER the
  * reader factory is built (runtime filters): Spark forces the factory
  * during planning but serializes it per task — at job submission, after
  * `CdcScan.filter` ran — so reading the CURRENT contents on the
  * executor picks up the IN-list. */
final class RuntimeWhere(@volatile var extra: Array[String] = Array.empty)
  extends Serializable

case class CdcReaderFactory(conn: Jdbc.ConnectionSpec, table: String,
                            pollingCol: String, schema: StructType,
                            where: Array[String] = Array.empty,
                            limit: Option[(String, String, String)] = None,
                            aggSelect: Option[(String, String)] = None,
                            runtime: RuntimeWhere = new RuntimeWhere)
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new CdcPartitionReader(conn, table, pollingCol, schema,
      partition.asInstanceOf[CdcInputPartition], where ++ runtime.extra,
      limit, aggSelect)
}

/** Executor-side JDBC range reader: the vendor executes the range
  * predicate plus any pushed-down user predicates, and the SELECT lists
  * only the pruned columns — the narrowest query the plan allows. */
class CdcPartitionReader(spec: Jdbc.ConnectionSpec, table: String, pollingCol: String,
                         schema: StructType, part: CdcInputPartition,
                         pushedWhere: Array[String] = Array.empty,
                         limit: Option[(String, String, String)] = None,
                         aggSelect: Option[(String, String)] = None)
  extends PartitionReader[InternalRow] {

  private var conn: Connection = _
  private var rs: ResultSet = _
  private val converters = schema.fields.map(f => Jdbc.converter(f.dataType))

  private def ensureOpen(): Unit = if (conn == null) {
    conn = Jdbc.connect(spec)
    // empty pruned schema (e.g. a bare count) still needs a select list
    val cols = if (schema.isEmpty) "1" else schema.fieldNames.mkString(", ")
    val (rangeWhere, binds) = part match {
      case p if p.nullScan => (Seq(s"$pollingCol IS NULL"), Seq.empty[String])
      case CdcInputPartition(None, None, _, _) => (Seq.empty[String], Seq.empty[String])
      case CdcInputPartition(None, Some(hi), _, _) =>
        (Seq(s"$pollingCol <= ?"), Seq(hi))
      case CdcInputPartition(Some(lo), None, _, _) =>
        (Seq(s"$pollingCol > ?"), Seq(lo))
      case CdcInputPartition(Some(lo), Some(hi), _, _) =>
        (Seq(s"$pollingCol > ? AND $pollingCol <= ?"), Seq(lo, hi))
    }
    val conj = rangeWhere ++ pushedWhere
    val where = if (conj.isEmpty) "" else conj.mkString(" WHERE ", " AND ", "")
    val sql = aggSelect match {
      case Some((sel, groupBy)) => s"SELECT $sel FROM $table$where$groupBy"
      case None =>
        val pre = limit.map(_._1).getOrElse("")
        s"SELECT $pre$cols FROM $table$where" +
          limit.map { case (_, orderBy, clause) =>
            if (clause.isEmpty) orderBy else s"$orderBy $clause"
          }.getOrElse("")
    }
    Jdbc.IssuedSql.add(sql)
    val ps = conn.prepareStatement(sql)
    binds.zipWithIndex.foreach { case (b, i) =>
      if (part.numeric) ps.setLong(i + 1, b.toLong) else ps.setString(i + 1, b)
    }
    rs = ps.executeQuery()
  }

  override def next(): Boolean = { ensureOpen(); rs.next() }

  override def get(): InternalRow = {
    val row = new GenericInternalRow(schema.length)
    var i = 0
    while (i < schema.length) {
      val v = converters(i)(rs, i + 1)
      row.update(i, if (rs.wasNull()) null else v)
      i += 1
    }
    row
  }

  override def close(): Unit = {
    if (rs != null) rs.close()
    if (conn != null) conn.close()
  }
}

/** JDBC plumbing shared by driver (offset queries, schema inference) and
  * executors (range readers). */
object Jdbc {
  case class ConnectionSpec(url: String, props: Map[String, String]) extends Serializable

  def connectionSpec(opts: CdcOptions): ConnectionSpec = {
    val p = opts.username.map("user" -> _).toMap ++
      opts.password.map("password" -> _).toMap ++ opts.connectorProperties
    ConnectionSpec(opts.url, p)
  }

  def connect(spec: ConnectionSpec): Connection = {
    val props = new java.util.Properties()
    spec.props.foreach { case (k, v) => props.setProperty(k, v) }
    DriverManager.getConnection(spec.url, props)
  }

  def withConnection[A](opts: CdcOptions)(f: Connection => A): A =
    withRetry(opts.connectionRetries, opts.connectionRetryWaitMs) {
      val conn = connect(connectionSpec(opts))
      try f(conn) finally conn.close()
    }

  /** Bounded retry for the DRIVER-side offset/bounds queries: a transient
    * DB blip between micro-batches must not kill the streaming query —
    * the reference keeps the stream alive by surfacing SQLExceptions as
    * retryable `ConnectionUnavailableException` and letting Siddhi
    * re-connect (`CDCSource.java:651-659,675-685`). `retries` additional
    * attempts, linear backoff, SQL/connect errors only (anything else —
    * bad SQL, interrupt — propagates immediately). Executor-side range
    * readers deliberately DON'T retry here: Spark's task retry already
    * covers them with a fresh connection. */
  def withRetry[A](retries: Int, waitMs: Long)(f: => A): A = {
    // SQLNonTransientException covers syntax errors, missing tables, auth
    // failures — retrying those burns retries x backoff on every
    // micro-batch for an error that can't heal; plain SQLExceptions (most
    // drivers' connect refusals) and the transient/recoverable hierarchy
    // do retry
    def permanent(e: java.sql.SQLException): Boolean =
      e.isInstanceOf[java.sql.SQLNonTransientException] &&
        !e.isInstanceOf[java.sql.SQLNonTransientConnectionException]
    var attempt = 0
    while (true) {
      try return f
      catch {
        case e: java.sql.SQLException if attempt < retries && !permanent(e) =>
          attempt += 1
          System.err.println(
            s"[cdc] transient JDBC failure (attempt $attempt/$retries, " +
              s"retrying in ${waitMs * attempt} ms): $e")
          Thread.sleep(waitMs * attempt)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Schema from JDBC metadata: names lowercased (O14), scalars normalized
    * per O8 (`RdbmsChangeDataCapture.java:199-219`). */
  def inferSchema(conn: Connection, table: String): StructType = {
    val rs = conn.createStatement().executeQuery(s"SELECT * FROM $table WHERE 1=0")
    val md = rs.getMetaData
    StructType((1 to md.getColumnCount).map { i =>
      val dt = md.getColumnType(i) match {
        case Types.INTEGER | Types.SMALLINT | Types.TINYINT => IntegerType
        case Types.BIGINT => LongType
        case Types.FLOAT | Types.DOUBLE => DoubleType
        case Types.REAL => FloatType
        case Types.NUMERIC | Types.DECIMAL =>
          if (md.getScale(i) <= 0) LongType else DoubleType
        case Types.BOOLEAN | Types.BIT => BooleanType
        case Types.TIMESTAMP => TimestampType
        case Types.DATE => DateType
        case _ => StringType
      }
      StructField(md.getColumnName(i).toLowerCase, dt,
        md.isNullable(i) != java.sql.ResultSetMetaData.columnNoNulls)
    })
  }

  /** Bounded ring of the most recent reader SELECT statements — cheap
    * always-on diagnostics (the SQL actually issued to the vendor), and
    * what PollingSourceSpec asserts pushdown against. */
  /** Widest IN-list a runtime filter may push to the vendor — Oracle caps
    * expression lists at 1000; a wider set stays a Spark-side join
    * filter (the runtime filter is advisory, never load-bearing). */
  val MaxRuntimeInList = 1000

  /** Vendor limit syntax as a (selectPrefix, trailingClause) pair: ANSI
    * `FETCH FIRST n ROWS ONLY` (Derby, Postgres, Oracle 12c+), the
    * `LIMIT n` spelling for the vendors that never adopted ANSI fetch,
    * and `SELECT TOP n` for SQL Server — T-SQL rejects both `LIMIT` and
    * a bare `FETCH FIRST` (its fetch form requires `ORDER BY ... OFFSET`).
    * Same tiny URL-dispatch the config compiler uses for connector
    * classes. */
  def limitSyntax(url: String, n: Int): (String, String) =
    if (url.startsWith("jdbc:sqlserver:")) (s"TOP $n ", "")
    else if (supportsAnsiNullOrdering(url)) ("", s"FETCH FIRST $n ROWS ONLY")
    else ("", s"LIMIT $n")

  /** Vendors whose ORDER BY parses ANSI `NULLS FIRST/LAST` — the gate for
    * top-N pushdown. The LIMIT-dialect vendors (MySQL/MariaDB/SQLite)
    * lack it, and so does SQL Server (T-SQL has no NULLS ordering clause
    * and its fetch form needs `ORDER BY ... OFFSET`), so top-N is refused
    * there and only the TOP-n limit is pushed. */
  def supportsAnsiNullOrdering(url: String): Boolean =
    !(url.startsWith("jdbc:mysql:") || url.startsWith("jdbc:mariadb:") ||
      url.startsWith("jdbc:sqlite:") || url.startsWith("jdbc:sqlserver:"))

  private[graft] object IssuedSql {
    private val q = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def add(sql: String): Unit = { q.add(sql); while (q.size > 64) q.poll() }
    def recent: Seq[String] = {
      import scala.jdk.CollectionConverters._
      q.iterator().asScala.toList
    }
    def clear(): Unit = q.clear()
  }

  /** Translate a Catalyst source filter to a vendor-neutral SQL fragment;
    * None = not pushable (stays a Spark-side filter). Literals are
    * rendered inline (strings escaped, temporals via JDBC `{ts}`/`{d}`
    * escapes every driver rewrites to its own dialect); attributes must
    * be plain lowercase identifiers present in the inferred schema —
    * nested/quoted names don't occur in a flat JDBC schema. */
  def compileFilter(f: Filter, schema: StructType): Option[String] = {
    import org.apache.spark.sql.sources._
    def col(attr: String): Option[String] = {
      val n = attr.toLowerCase
      if (schema.fieldNames.contains(n) && n.matches("[a-z_][a-z0-9_]*")) Some(n) else None
    }
    def value(v: Any): Option[String] = v match {
      case null => None
      case s: String => Some("'" + s.replace("'", "''") + "'")
      case _: Int | _: Long | _: Short | _: Byte => Some(v.toString)
      case d: Double if !d.isNaN && !d.isInfinite => Some(d.toString)
      case fl: Float if !fl.isNaN && !fl.isInfinite => Some(fl.toString)
      case b: java.math.BigDecimal => Some(b.toPlainString)
      case b: Boolean => Some(if (b) "TRUE" else "FALSE")
      case t: java.sql.Timestamp => Some(s"{ts '$t'}")
      case t: java.time.Instant => Some(s"{ts '${java.sql.Timestamp.from(t)}'}")
      case d: java.sql.Date => Some(s"{d '$d'}")
      case d: java.time.LocalDate => Some(s"{d '${java.sql.Date.valueOf(d)}'}")
      case _ => None
    }
    def cmp(attr: String, op: String, v: Any): Option[String] =
      for { c <- col(attr); l <- value(v) } yield s"$c $op $l"
    // LIKE-metacharacter-free values only: escaping % _ \ portably across
    // vendors is not worth the residual-filter we keep anyway
    def likeSafe(s: String): Boolean =
      !s.exists(ch => ch == '%' || ch == '_' || ch == '\\' || ch == '\'')
    f match {
      case EqualTo(a, v) => cmp(a, "=", v)
      case GreaterThan(a, v) => cmp(a, ">", v)
      case GreaterThanOrEqual(a, v) => cmp(a, ">=", v)
      case LessThan(a, v) => cmp(a, "<", v)
      case LessThanOrEqual(a, v) => cmp(a, "<=", v)
      case IsNull(a) => col(a).map(c => s"$c IS NULL")
      case IsNotNull(a) => col(a).map(c => s"$c IS NOT NULL")
      case In(a, vs) if vs.nonEmpty && !vs.contains(null) =>
        for {
          c <- col(a)
          ls <- vs.foldLeft(Option(Vector.empty[String])) { (acc, v) =>
            acc.flatMap(xs => value(v).map(xs :+ _))
          }
        } yield s"$c IN (${ls.mkString(", ")})"
      case StringStartsWith(a, v) if likeSafe(v) => col(a).map(c => s"$c LIKE '$v%'")
      case StringEndsWith(a, v) if likeSafe(v) => col(a).map(c => s"$c LIKE '%$v'")
      case StringContains(a, v) if likeSafe(v) => col(a).map(c => s"$c LIKE '%$v%'")
      case And(l, r) =>
        for { ls <- compileFilter(l, schema); rs <- compileFilter(r, schema) }
          yield s"($ls AND $rs)"
      case Or(l, r) =>
        for { ls <- compileFilter(l, schema); rs <- compileFilter(r, schema) }
          yield s"($ls OR $rs)"
      // NOT inverts the superset-plus-recheck trust model: a vendor
      // collation matching MORE rows than Spark makes NOT(match) return
      // FEWER — and the Spark-side residual can drop rows but never
      // restore ones the DB withheld. NOT over anything
      // collation-sensitive therefore must not be pushed at all.
      case Not(c) if needsSparkRecheck(c) => None
      case Not(c) => compileFilter(c, schema).map(s => s"(NOT ($s))")
      case _ => None
    }
  }

  /** True when the vendor's answer may be a SUPERSET of Spark semantics
    * (string comparisons under vendor collation / CHAR padding, LIKE):
    * push for the row reduction, but keep the exact Spark filter on top. */
  def needsSparkRecheck(f: Filter): Boolean = {
    import org.apache.spark.sql.sources._
    def strVal(v: Any): Boolean = v.isInstanceOf[String]
    f match {
      case EqualTo(_, v) => strVal(v)
      case GreaterThan(_, v) => strVal(v)
      case GreaterThanOrEqual(_, v) => strVal(v)
      case LessThan(_, v) => strVal(v)
      case LessThanOrEqual(_, v) => strVal(v)
      case In(_, vs) => vs.exists(strVal)
      case _: StringStartsWith | _: StringEndsWith | _: StringContains => true
      case And(l, r) => needsSparkRecheck(l) || needsSparkRecheck(r)
      case Or(l, r) => needsSparkRecheck(l) || needsSparkRecheck(r)
      case Not(c) => needsSparkRecheck(c)
      case _ => false
    }
  }

  /** ResultSet → InternalRow field converter per Spark type. */
  def converter(dt: DataType): (ResultSet, Int) => Any = dt match {
    case IntegerType => (rs, i) => rs.getInt(i)
    case LongType => (rs, i) =>
      // NUMERIC(p,0) normalized to long: read via BigDecimal to be safe
      val bd = rs.getBigDecimal(i); if (bd == null) null else bd.longValue()
    case DoubleType => (rs, i) => rs.getDouble(i)
    case FloatType => (rs, i) => rs.getFloat(i)
    case BooleanType => (rs, i) => rs.getBoolean(i)
    case StringType => (rs, i) => UTF8String.fromString(rs.getString(i))
    case TimestampType => (rs, i) =>
      val t = rs.getTimestamp(i)
      if (t == null) null
      else math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    case DateType => (rs, i) =>
      val d = rs.getDate(i)
      if (d == null) null else d.toLocalDate.toEpochDay.toInt
    case other => (rs, i) => UTF8String.fromString(String.valueOf(rs.getObject(i)))
  }
}
