package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The output checks must catch a corrupted target: each case builds a
  * correct source/target pair in Derby, shows the check passes, corrupts
  * the target, and shows the check fails. */
class ChecksSpec extends AnyFunSuite {

  private def withDb[A](name: String)(f: java.sql.Connection => A): A = {
    val conn = Derby.create(name)
    try f(conn) finally { Derby.close(conn); Derby.drop(name) }
  }

  test("poll_latest: a target key behind, ahead of, or missing from the source fails the check") {
    withDb("checks_poll") { conn =>
      PollLatest.createTables(conn)
      val rows = Seq(1L -> 0, 2L -> 1, 3L -> 0, 4L -> 2, 5L -> 1)
      val ins = conn.prepareStatement("INSERT INTO SRC (ID, K, PAYLOAD) VALUES (?, ?, 'p')")
      rows.foreach { case (id, k) => ins.setLong(1, id); ins.setString(2, PollLatest.key(k)); ins.addBatch() }
      ins.executeBatch()
      def setSeq(k: Int, seq: Long): Unit =
        Derby.exec(conn, s"UPDATE TGT SET SEQ = $seq WHERE K = '${PollLatest.key(k)}'")
      setSeq(0, 3); setSeq(1, 5); setSeq(2, 4)
      assert(PollLatest.wrongKeys(conn) == 0)

      setSeq(1, 2) // an older image won
      assert(PollLatest.wrongKeys(conn) == 1)
      setSeq(1, 5)
      setSeq(7, 9) // a key the source never wrote
      assert(PollLatest.wrongKeys(conn) == 1)
      setSeq(7, 0)
      Derby.exec(conn, s"DELETE FROM TGT WHERE K = '${PollLatest.key(2)}'")
      assert(PollLatest.wrongKeys(conn) == 1) // a key lost from the target
    }
  }

  test("snapshot_rounds: a changed, missing or extra target row fails the check") {
    withDb("checks_snap") { conn =>
      val src = new SnapshotRounds.Source(conn, seed = 5)
      src.load()
      src.churn()
      SnapshotRounds.createTarget(conn, "TGT")
      Derby.exec(conn, "INSERT INTO TGT SELECT * FROM SRC")
      def same = SnapshotRounds.image(conn, "SRC") == SnapshotRounds.image(conn, "TGT")
      assert(same)
      assert(SnapshotRounds.image(conn, "TGT").size == src.rows)

      val id = Derby.queryLong(conn, "SELECT MIN(ID) FROM TGT")
      Derby.exec(conn, s"UPDATE TGT SET V = V + 0.01 WHERE ID = $id")
      assert(!same)
      Derby.exec(conn, s"UPDATE TGT SET V = (SELECT V FROM SRC WHERE SRC.ID = $id) WHERE ID = $id")
      assert(same)

      Derby.exec(conn, s"DELETE FROM TGT WHERE ID = $id")
      assert(!same)
      Derby.exec(conn, s"INSERT INTO TGT SELECT * FROM SRC WHERE ID = $id")
      assert(same)
      Derby.exec(conn, "INSERT INTO TGT VALUES (999999999, 1, 'extra', 1.0)")
      assert(!same)
    }
  }

  test("snapshot_rounds: net changes between two images split into inserts, updates and deletes") {
    val before: SnapshotRounds.Image = Map(1L -> ((1, "a", 1.0)), 2L -> ((1, "b", 2.0)), 3L -> ((2, "c", 3.0)))
    val after: SnapshotRounds.Image = Map(1L -> ((1, "a", 1.0)), 2L -> ((1, "b", 2.5)), 4L -> ((3, "d", 4.0)))
    assert(SnapshotRounds.opsBetween(before, after) == SnapshotRounds.Ops(inserts = 1, updates = 1, deletes = 1))
    assert(SnapshotRounds.opsBetween(after, after).total == 0)
  }

  test("the seed alone decides the generated inputs") {
    def churned(seed: Long, db: String) = withDb(db) { conn =>
      val s = new SnapshotRounds.Source(conn, seed)
      s.load(); s.churn()
      SnapshotRounds.image(conn, "SRC")
    }
    assert(churned(3, "seed_a") == churned(3, "seed_b"))
    assert(churned(3, "seed_c") != churned(4, "seed_d"))
  }
}
