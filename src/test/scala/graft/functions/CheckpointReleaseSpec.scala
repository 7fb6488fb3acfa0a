package graft.functions

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.DataFrame

/** Release by reachability: the checkpoint blocks behind a returned
  * q36/q37 frame live exactly as long as the driver references that
  * frame, so dropping one caller's frame never breaks another's. */
class CheckpointReleaseSpec extends SparkSpec {

  private val Queries = Seq("q36_user_similarity", "q37_user_similarity_lsh")

  // ids copied out: `getPersistentRDDs.keySet` is a view over a map of
  // the RDDs themselves, so holding it would keep every block alive
  private def persistedIds(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keysIterator.toSet

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("two live q36/q37 frames release independently: the dropped one's blocks free, the held one still collects") {
    val baseline = storageBaseline()
    // frames are held only in this map (no `val (a, b) = …` pattern: its
    // hidden tuple would keep a dropped frame reachable)
    val frames = scala.collection.mutable.Map.empty[String, DataFrame]
    val blocks = scala.collection.mutable.Map.empty[String, Set[Int]]
    for (q <- Queries; copy <- Seq("held", "dropped")) {
      val before = persistedIds()
      frames(s"$q/$copy") = SparkEntry.queries(q)(spark, sf())
      blocks(s"$q/$copy") = persistedIds() -- before
    }
    blocks.foreach { case (k, ids) =>
      assert(ids.nonEmpty, s"$k: expected its construction to checkpoint blocks")
    }
    val rows = frames.map { case (k, df) => k -> rowsOf(df) }.toMap
    rows.foreach { case (k, r) => assert(r.nonEmpty, s"$k collected no rows") }

    Queries.foreach(q => frames.remove(s"$q/dropped"))
    val held = Queries.flatMap(q => blocks(s"$q/held")).toSet
    val dropped = Queries.flatMap(q => blocks(s"$q/dropped")).toSet
    assert(storageAfterDrop(baseline + held.size) === baseline + held.size)
    assert((persistedIds() intersect dropped).isEmpty,
      "the dropped frames' checkpoint blocks must be freed")
    assert(held.subsetOf(persistedIds()),
      "the held frames' checkpoint blocks must survive the other frames' release")
    Queries.foreach { q =>
      assert(rowsOf(frames(s"$q/held")) === rows(s"$q/held"),
        s"$q: the held frame must still collect its rows after the other's release")
      assert(rows(s"$q/held") === rows(s"$q/dropped"))
    }

    frames.clear()
    assert(storageAfterDrop(baseline) === baseline,
      "dropping every frame must return executor storage to baseline")
  }
}
