package graftbench

import org.scalatest.funsuite.AnyFunSuite

class ModelSpec extends AnyFunSuite {
  private def ev(k: Long, s: Long, t: String = "view", v: String = "1.00") = Gen.Event(k, s, t, v)

  test("last write wins by order, not by arrival") {
    val m = new KeyedModel
    m.upsert(Seq(ev(1, 10), ev(1, 5), ev(2, 7)), 1)
    assert(m.lookup(Seq(1L)) == Digest.row(1, 10, "view", "1.00"))
    assert(m.digest.rows == 2)
  }

  test("a tombstone wins at an equal or higher order and loses to a later write") {
    val m = new KeyedModel
    m.upsert(Seq(ev(1, 10), ev(2, 10)), 1)
    m.delete(Seq((1L, 9L)), 2)
    assert(m.digest.rows == 2, "an older tombstone loses")
    m.delete(Seq((1L, 11L)), 3)
    assert(m.digest.rows == 1)
    m.upsert(Seq(ev(1, 12)), 4)
    assert(m.digest.rows == 2, "a later write re-creates the key")
    m.deleteWhere("view", 5)
    assert(m.digest.rows == 0 && m.byType.isEmpty, "DELETE WHERE tombstones at the row's own order")
    m.upsert(Seq(ev(2, 10)), 6)
    assert(m.digest.rows == 0, "a replay at the tombstoned order still loses")
  }

  test("per-version digests and the change feed since a version") {
    val m = new KeyedModel
    m.upsert(Seq(ev(1, 1), ev(2, 2)), 1); m.commit(1)
    m.upsert(Seq(ev(2, 3), ev(3, 4)), 2); m.commit(2); m.commit(3)
    assert(m.digestAt(1).contains(Digest.row(1, 1, "view", "1.00") + Digest.row(2, 2, "view", "1.00")))
    assert(m.digestAt(3) == m.digestAt(2))
    assert(m.changedSince(1) == Digest.row(2, 3, "view", "1.00") + Digest.row(3, 4, "view", "1.00"))
    assert(m.changedSince(2) == Digest.Zero)
  }
}
