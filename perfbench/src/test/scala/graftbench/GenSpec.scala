package graftbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def waves(seed: Long): Seq[Array[Byte]] = {
    val r = Gen.rng(seed, "waves")
    val z = new Gen.Zipf(Ingest.Keys, Ingest.ZipfS)
    (0 until 3).map(w => Gen.csv(Gen.events(r, z, 2000, w * 3000L + 1)))
  }

  test("the same seed gives byte-identical waves, a different seed different ones") {
    val a = waves(7)
    val b = waves(7)
    assert(a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x, y) })
    assert(!a.zip(waves(8)).forall { case (x, y) => java.util.Arrays.equals(x, y) })
  }

  test("the same seed gives the same corpus and vectors, a different seed different ones") {
    def vecs(s: Long) = Gen.vectors(s, 500, 16, 4, 10)
    def flat(v: Gen.Vectors) = (v.vecs.map { case (i, e) => (i, e.toSeq) }, v.twins, v.queryIds)
    assert(Gen.corpus(3, 400) == Gen.corpus(3, 400))
    assert(Gen.corpus(3, 400).docs != Gen.corpus(4, 400).docs)
    assert(flat(vecs(3)) == flat(vecs(3)))
    assert(flat(vecs(3)) != flat(vecs(4)))
  }

  test("the star schema and the events table follow the seed") {
    assert(Gen.star(5, 50) == Gen.star(5, 50))
    assert(Gen.star(5, 50).lineitem != Gen.star(6, 50).lineitem)
    assert(Gen.eventTable(5, 100, 10) == Gen.eventTable(5, 100, 10))
    assert(Gen.eventTable(5, 100, 10) != Gen.eventTable(6, 100, 10))
  }

  test("waves carry unique, increasing LWW orders and routable events") {
    val r = Gen.rng(1, "waves")
    val ev = Gen.events(r, new Gen.Zipf(1000, 1.05), 5000, 101)
    assert(ev.map(_.seq).toSeq == (101L until 5101L))
    assert(ev.exists(e => !Gen.Routed(e.eventType)) && ev.exists(e => Gen.Routed(e.eventType)))
    assert(ev.exists(_.eventType == "churn"))
  }

  test("the planted corpus truth is consistent") {
    val c = Gen.corpus(9, 1000)
    val byId = c.docs.map(d => d.id -> d).toMap
    assert(c.docs.map(_.id) == (1L to c.docs.size.toLong))
    c.exactCopies.foreach { case (copy, orig) => assert(byId(copy).text == byId(orig).text && copy > orig) }
    c.nearCopies.foreach { case (near, orig) =>
      val (a, b) = (byId(near).text.split(" "), byId(orig).text.split(" "))
      assert(a.length == b.length && a.zip(b).count { case (x, y) => x != y } <= 2)
    }
    assert(c.benchmark.forall(id => byId(id).source == "benchmark"))
  }
}
