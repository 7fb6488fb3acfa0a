package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** One route per kernel: [[GraftExtensions.ensure]] registers the kernels
  * into whatever session builds a frame, so every contract query plans the
  * same kernels on a session built without `spark.sql.extensions` as on
  * the shared [[GraftSession]] one, and the registration itself is
  * idempotent, per session, and refuses to shadow a user's function. */
class KernelRouteSpec extends SparkSpec {

  private val names = GraftExtensions.FunctionNames

  /** A child of the shared session with every kernel registration dropped
    * (a bare `newSession()` re-applies the extensions conf), and the
    * shared session's optimizer exclusions, so only the registrations
    * differ. */
  private def kernelLess(): SparkSession = {
    val s = spark.newSession()
    names.foreach(n =>
      s.sessionState.functionRegistry.dropFunction(FunctionIdentifier(n)))
    GraftSession.applyOptimizerExclusions(s)
    s
  }

  private def registered(s: SparkSession): Set[String] =
    names.filter(n => s.catalog.functionExists(n)).toSet

  private def functions(s: SparkSession): Set[FunctionIdentifier] =
    s.sessionState.functionRegistry.listFunction().toSet

  /** Kernel invocations in a query's executed plan. */
  private def kernelsOf(plan: String): Set[String] =
    names.filter(n => plan.contains(n + "(")).toSet

  test("ensure registers every kernel once; a second call registers nothing") {
    val s = kernelLess()
    assert(registered(s).isEmpty)
    GraftExtensions.ensure(s)
    assert(registered(s) === names.toSet)
    val registry = s.sessionState.functionRegistry
    val infos = names.map(n => registry.lookupFunction(FunctionIdentifier(n)).get)
    val before = functions(s)
    GraftExtensions.ensure(s)
    assert(functions(s) === before)
    names.zip(infos).foreach { case (n, info) =>
      assert(registry.lookupFunction(FunctionIdentifier(n)).get eq info,
        s"$n was registered again")
    }
  }

  test("ensure into one newSession leaves its parent and siblings unchanged") {
    val parentBefore = functions(spark)
    val a = kernelLess()
    val b = kernelLess()
    val siblingBefore = functions(b)
    GraftExtensions.ensure(a)
    assert(registered(a) === names.toSet)
    assert(registered(b).isEmpty)
    assert(functions(b) === siblingBefore)
    assert(functions(spark) === parentBefore)
  }

  test("a same-named function of another class is refused and the registry is left unchanged") {
    val s = kernelLess()
    s.udf.register("word_stats", (t: String) => if (t == null) 0 else t.length)
    val before = functions(s)
    val e = intercept[IllegalStateException](GraftExtensions.ensure(s))
    assert(e.getMessage.contains("word_stats"), e.getMessage)
    assert(functions(s) === before)
    assert(registered(s) === Set("word_stats"))
    // the kernel helper takes the same refusal: no query silently runs
    // the user's function in place of the kernel
    intercept[IllegalStateException](
      SparkEntry.queries("p1_text_stats")(s, sf()))
  }

  test("every contract query plans the shared session's kernels on a kernel-less session") {
    val t0 = System.nanoTime()
    val differing = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, q) =>
      val s = kernelLess()
      assert(registered(s).isEmpty, s"$name: session still has kernels")
      val own = kernelsOf(q(s, sf()).queryExecution.executedPlan.toString)
      val shared = kernelsOf(q(spark, sf()).queryExecution.executedPlan.toString)
      if (own == shared) None else Some(s"$name: $own vs shared $shared")
    }
    assert(differing.isEmpty, differing.mkString("\n"))
    // p33 builds its sketch with bloom_agg at construction and probes it
    // with bloom_contains, which plans as Spark's might_contain
    val plan = SparkEntry.queries("p33_contamination_bloom")(kernelLess(), sf())
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain("), plan)
    info(f"${SparkEntry.queries.size} queries in ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }
}
