package graft

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo, Literal, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.AnalysisException
import graft.functions.expr.{AnchorWindowHashes, AnchorWindowPosHashes, BinCountAgg, BpeMergePair, CharHist16, MinhashBands, NearestCell, NearestCellTwoLevel, NearestCells, NearestCellsTwoLevel, PqAdcScore, PqAdcTable, Simhash16, TrigramShingles, VecDot, VecSumFixed, WordRepStats, WordStats, WordTermCounts}
import graft.functions.TextFunctions

/** Engine extensions: custom Catalyst expressions ("kernels"), reachable
  * two ways from ONE registration table:
  *   - the supported `SparkSessionExtensions` hook
  *     (`spark.sql.extensions=graft.GraftExtensions`, set by
  *     [[GraftSession]]), which SQL text needs;
  *   - [[GraftExtensions.ensure]], which registers the same entries into
  *     any session on use. Every DataFrame-level call site goes through
  *     [[GraftExtensions.kernel]], so a frame built on a session without
  *     the extensions conf plans the same kernels, not a slower or
  *     failing substitute.
  *
  * Registrations live as DATA in the companion object so the plan-audit
  * sweep ([[graft.tools.KernelAudit.Kernels]]) derives its kernel list
  * from the same source the session registers from — a future kernel
  * added here is swept automatically; it cannot silently escape the
  * KernelAuditSpec guards (the r14 verdict's "manual allowlist" gap). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.registrations.foreach { case (name, cls, builder) =>
      ext.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name),
        builder))
    }
}

object GraftExtensions {

  private def arity(name: String, children: Seq[Expression], n: Int): Unit =
    if (children.size != n)
      throw new AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map("functionName" -> name,
          "expectedNum" -> n.toString, "actualNum" -> children.size.toString,
          "docroot" -> ""))

  /** Integer literal argument (SQL builders run at analysis time — a
    * non-foldable argument would crash `eval()` with an unbound-attribute
    * error instead of a readable message). */
  private def intLit(name: String, e: Expression, pos: Int): Int = e match {
    case Literal(v: Int, _) => v
    case _ => throw new AnalysisException(
      errorClass = "NON_FOLDABLE_ARGUMENT",
      messageParameters = Map("funcName" -> name,
        "paramName" -> s"argument $pos", "paramType" -> "INT"))
  }

  /** Long (or int) literal argument — same analysis-time contract. */
  private def longLit(name: String, e: Expression, pos: Int): Long = e match {
    case Literal(v: Long, _) => v
    case Literal(v: Int, _) => v.toLong
    case _ => throw new AnalysisException(
      errorClass = "NON_FOLDABLE_ARGUMENT",
      messageParameters = Map("funcName" -> name,
        "paramName" -> s"argument $pos", "paramType" -> "BIGINT"))
  }

  /** Every session function this engine registers: (name, expression
    * class, builder). The single source of truth — [[GraftExtensions]]
    * registers from it and [[graft.tools.KernelAudit]] sweeps it. */
  val registrations: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("vec_dot", classOf[VecDot], (children: Seq[Expression]) => {
      arity("vec_dot", children, 2)
      VecDot(children.head, children(1))
    }),
    ("nearest_cell", classOf[NearestCell], (children: Seq[Expression]) => {
      arity("nearest_cell", children, 3)
      NearestCell(children.head, children(1), children(2))
    }),
    ("nearest_cell_2", classOf[NearestCellTwoLevel], (children: Seq[Expression]) => {
      arity("nearest_cell_2", children, 5)
      NearestCellTwoLevel(children.head, children(1), children(2),
        children(3), children(4))
    }),
    ("nearest_cells", classOf[NearestCells], (children: Seq[Expression]) => {
      arity("nearest_cells", children, 4)
      NearestCells(children.head, children(1), children(2),
        intLit("nearest_cells", children(3), 4))
    }),
    ("nearest_cells_2", classOf[NearestCellsTwoLevel], (children: Seq[Expression]) => {
      arity("nearest_cells_2", children, 7)
      NearestCellsTwoLevel(children.head, children(1), children(2),
        children(3), children(4),
        intLit("nearest_cells_2", children(5), 6),
        intLit("nearest_cells_2", children(6), 7))
    }),
    ("bpe_merge", classOf[BpeMergePair], (children: Seq[Expression]) => {
      arity("bpe_merge", children, 3)
      BpeMergePair(children.head, children(1), children(2))
    }),
    ("pq_adc_table", classOf[PqAdcTable], (children: Seq[Expression]) => {
      arity("pq_adc_table", children, 2)
      PqAdcTable(children.head, children(1))
    }),
    ("pq_adc_score", classOf[PqAdcScore], (children: Seq[Expression]) => {
      arity("pq_adc_score", children, 3)
      PqAdcScore(children.head, children(1), children(2))
    }),
    ("simhash16", classOf[Simhash16], (children: Seq[Expression]) => {
      arity("simhash16", children, 1)
      Simhash16(children.head)
    }),
    ("trigram_shingles", classOf[TrigramShingles], (children: Seq[Expression]) => {
      arity("trigram_shingles", children, 1)
      TrigramShingles(children.head)
    }),
    ("word_stats", classOf[WordStats], (children: Seq[Expression]) => {
      arity("word_stats", children, 1)
      // constants owned by TextFunctions — one source of truth with the
      // DuckDB oracle generators
      WordStats(children.head, TextFunctions.Stopwords, TextFunctions.LangMarkers)
    }),
    ("char_hist16", classOf[CharHist16], (children: Seq[Expression]) => {
      arity("char_hist16", children, 1)
      CharHist16(children.head)
    }),
    ("word_rep_stats", classOf[WordRepStats], (children: Seq[Expression]) => {
      arity("word_rep_stats", children, 1)
      WordRepStats(children.head)
    }),
    ("word_term_counts", classOf[WordTermCounts], (children: Seq[Expression]) => {
      arity("word_term_counts", children, 1)
      WordTermCounts(children.head)
    }),
    ("vec_sum_fixed", classOf[VecSumFixed], (children: Seq[Expression]) => {
      arity("vec_sum_fixed", children, 2)
      VecSumFixed(children.head, longLit("vec_sum_fixed", children(1), 2))
    }),
    ("bin_count_agg", classOf[BinCountAgg], (children: Seq[Expression]) => {
      arity("bin_count_agg", children, 2)
      BinCountAgg(children.head, intLit("bin_count_agg", children(1), 2))
    }),
    ("minhash_bands", classOf[MinhashBands], (children: Seq[Expression]) => {
      arity("minhash_bands", children, 3)
      MinhashBands(children.head,
        intLit("minhash_bands", children(1), 2),
        intLit("minhash_bands", children(2), 3))
    }),
    ("anchor_window_hashes", classOf[AnchorWindowHashes], (children: Seq[Expression]) => {
      arity("anchor_window_hashes", children, 2)
      AnchorWindowHashes(children.head,
        intLit("anchor_window_hashes", children(1), 2))
    }),
    ("anchor_window_pos_hashes", classOf[AnchorWindowPosHashes], (children: Seq[Expression]) => {
      arity("anchor_window_pos_hashes", children, 2)
      AnchorWindowPosHashes(children.head,
        intLit("anchor_window_pos_hashes", children(1), 2))
    }),
    // Spark's own runtime-filter Bloom expressions, surfaced as session
    // functions (they are internal-only in OSS Spark — InjectRuntimeFilter
    // builds them directly): bloom_agg(value, estItems, numBits) -> binary
    // sketch; bloom_contains(sketch, value) -> boolean with NO false
    // negatives. Values are xxhash64-bridged on BOTH sides so insert and
    // probe hash identically. The decontamination prefilter
    // (Dedup.contaminationPairs) rides these instead of a custom sketch:
    // TypedImperativeAggregate with map-side partial merge, codegen probe.
    ("bloom_agg", classOf[BloomFilterAggregate], (children: Seq[Expression]) => {
      arity("bloom_agg", children, 3)
      new BloomFilterAggregate(new XxHash64(Seq(children.head)),
        Literal(longLit("bloom_agg", children(1), 2)),
        Literal(longLit("bloom_agg", children(2), 3)))
    }),
    ("bloom_contains", classOf[BloomFilterMightContain], (children: Seq[Expression]) => {
      arity("bloom_contains", children, 2)
      BloomFilterMightContain(children.head, new XxHash64(Seq(children(1))))
    }))

  /** The registered function names, in registration order. */
  val FunctionNames: Seq[String] = registrations.map(_._1)

  /** Register every [[registrations]] entry that `session`'s function
    * registry lacks (the check-then-inject form of a session extension).
    * Idempotent: a session built with the extensions conf, or one that
    * was already ensured, registers nothing. Registration is per
    * session, so a parent or sibling session is left as it is.
    *
    * A name already bound to another class (for example a user's
    * `spark.udf.register("word_stats", ...)`) is refused before anything
    * is registered: calling it would run the user's function in place of
    * the kernel. */
  def ensure(session: SparkSession): Unit = {
    val registry = session.sessionState.functionRegistry
    registry.synchronized {
      val missing = registrations.filter { case (name, cls, _) =>
        registry.lookupFunction(FunctionIdentifier(name)) match {
          case None => true
          case Some(info) if info.getClassName == cls.getName => false
          case Some(info) => throw new IllegalStateException(
            s"function $name is already registered as ${info.getClassName}, " +
              s"not the engine kernel ${cls.getName}")
        }
      }
      missing.foreach { case (name, cls, builder) =>
        registry.registerFunction(FunctionIdentifier(name),
          new ExpressionInfo(cls.getName, name), builder)
      }
    }
  }

  /** A kernel call: [[ensure]] on the session that owns the frame the
    * column is used in, then `call_function`. The one route every
    * DataFrame-level caller takes to a registered kernel. */
  def kernel(session: SparkSession, name: String, args: Column*): Column = {
    ensure(session)
    org.apache.spark.sql.functions.call_function(name, args: _*)
  }
}
