package graftbench

import java.nio.charset.StandardCharsets
import java.time.LocalDateTime
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** Seeded input generators. Everything a run consumes is produced here
  * before timing starts, from the seed alone: the same seed gives
  * byte-identical inputs, a different seed different ones. Nothing is
  * read from outside the run's own directory.
  */
object Gen {

  /** An independent random stream per (seed, purpose), so adding a draw to
    * one generator never shifts another's inputs.
    */
  def rng(seed: Long, stream: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ stream.hashCode.toLong * 0xC2B2AE3D27D4EB4FL)

  /** Zipf(s) over ranks 1..n by inverse-CDF lookup. Rank r maps to key
    * r - 1, so key 0 is the hottest.
    */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val c = new Array[Double](n)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += 1.0 / math.pow(i + 1.0, s); c(i) = acc; i += 1 }
      i = 0
      while (i < n) { c(i) /= acc; i += 1 }
      c
    }
    def draw(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  // ------------------------------------------------------------ events

  /** One generated event. `value` stays a string end to end: it is what
    * the CSV carries, and keeping it textual makes the reference hash
    * identical on both sides without any float formatting rule.
    */
  final case class Event(userId: Long, seq: Long, eventType: String, value: String)

  /** Event types with their shares. `heartbeat` is dropped by the routing
    * rule; `churn` is what each cycle's DELETE WHERE removes.
    */
  val EventTypes: Seq[(String, Double)] = Seq(
    "view" -> 0.44, "click" -> 0.25, "purchase" -> 0.12, "signup" -> 0.08,
    "error" -> 0.05, "heartbeat" -> 0.05, "churn" -> 0.01)
  private val typeCdf = EventTypes.map(_._2).scanLeft(0.0)(_ + _).tail.toArray
  val Routed: String => Boolean = _ != "heartbeat"

  def eventType(r: SplittableRandom): String = {
    val u = r.nextDouble() * typeCdf.last
    EventTypes(math.min(EventTypes.size - 1, typeCdf.indexWhere(u < _)))._1
  }

  def value(r: SplittableRandom): String = {
    val cents = r.nextInt(100000)
    val frac = cents % 100
    s"${cents / 100}.${if (frac < 10) "0" else ""}$frac"
  }

  /** `n` events whose `seq` runs from `firstSeq`, keys Zipf-drawn. */
  def events(r: SplittableRandom, zipf: Zipf, n: Int, firstSeq: Long): Array[Event] =
    Array.tabulate(n)(i =>
      Event(zipf.draw(r).toLong, firstSeq + i, eventType(r), value(r)))

  val CsvHeader: Seq[String] = Seq("user_id", "seq", "event_type", "value")

  def csv(events: Array[Event]): Array[Byte] = {
    val sb = new StringBuilder(events.length * 32)
    sb.append(CsvHeader.mkString(",")).append('\n')
    events.foreach { e =>
      sb.append(e.userId).append(',').append(e.seq).append(',')
        .append(e.eventType).append(',').append(e.value).append('\n')
    }
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }

  // ------------------------------------------------------- star schema

  final case class Star(
      region: Seq[(Int, String)],
      nation: Seq[(Int, String, Int)],
      customer: Seq[(Long, String, Int, Double, String)],
      supplier: Seq[(Long, String, Int, Double)],
      orders: Seq[(Long, Long, String, Double, LocalDateTime, String)],
      lineitem: Seq[(Long, Long, Long, Int, Double, Double, Double, Double, String, String, LocalDateTime)])

  private def cents(r: SplittableRandom, lo: Int, hi: Int): Double =
    (lo + r.nextInt(hi - lo)) / 100.0

  private def day(r: SplittableRandom): LocalDateTime =
    LocalDateTime.of(1992, 1, 1, 0, 0).plusDays(r.nextInt(3650).toLong)

  /** A TPC-H-shaped star schema (the columns the analytic operators
    * read), `customers` customers with about ten orders each.
    */
  def star(seed: Long, customers: Int): Star = {
    val r = rng(seed, "star")
    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    val region = regions.zipWithIndex.map { case (n, i) => (i, n) }
    val nation = (0 until 25).map(i => (i, f"NATION$i%02d", i % 5))
    val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val customer = (1 to customers).map(i =>
      (i.toLong, s"Customer#$i", r.nextInt(25), cents(r, -99999, 999999), segments(r.nextInt(5))))
    val suppliers = math.max(10, customers / 15)
    val supplier = (1 to suppliers).map(i =>
      (i.toLong, s"Supplier#$i", r.nextInt(25), cents(r, -99999, 999999)))
    val orders = ArrayBuffer.empty[(Long, Long, String, Double, LocalDateTime, String)]
    val lineitem = ArrayBuffer.empty[(Long, Long, Long, Int, Double, Double, Double, Double, String, String, LocalDateTime)]
    val prio = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    for (o <- 1 to customers * 10) {
      val cust = 1L + r.nextInt(customers)
      val odate = day(r)
      val lines = 1 + r.nextInt(7)
      var total = 0L
      for (l <- 1 to lines) {
        val qty = 1 + r.nextInt(50)
        val price = qty * (90000 + r.nextInt(20000)) / 100
        total += price
        val ship = odate.plusDays(1L + r.nextInt(120))
        lineitem += ((o.toLong, 1L + r.nextInt(2000), 1L + r.nextInt(suppliers), l,
          qty.toDouble, price / 100.0, r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          Seq("R", "A", "N")(r.nextInt(3)), if (ship.getYear < 1998) "F" else "O", ship))
      }
      orders += ((o.toLong, cust, if (odate.getYear < 1998) "F" else "O",
        total / 100.0, odate, prio(r.nextInt(5))))
    }
    Star(region, nation, customer, supplier, orders.toSeq, lineitem.toSeq)
  }

  /** Rows of the `events` fixture table the event operators read:
    * (event_id, ts, user_id, event_type, value, props).
    */
  def eventTable(seed: Long, n: Int, users: Int): Seq[(Long, LocalDateTime, Long, String, Double, String)] = {
    val r = rng(seed, "event-table")
    val start = LocalDateTime.of(2024, 3, 1, 0, 0)
    val types = Seq("view", "click", "purchase", "signup", "error")
    (1 to n).map { i =>
      // bursts of activity per user so sessions hold several events
      val ts = start.plusSeconds(r.nextInt(14 * 24 * 3600).toLong).plusNanos(r.nextInt(1000000) * 1000L)
      (i.toLong, ts, 1L + r.nextInt(users), types(r.nextInt(types.size)),
        r.nextInt(100000) / 100.0, s"""{"k":${r.nextInt(100)}}""")
    }
  }

  // ------------------------------------------------------------ corpus

  val Stopwords: Seq[String] = Seq("the", "and", "not", "this", "of", "a", "to", "in", "is", "it")

  /** A fixed pseudo-English vocabulary (independent of the seed, so every
    * seed draws from the same language).
    */
  lazy val Vocabulary: IndexedSeq[String] = {
    val r = new SplittableRandom(7L)
    val on = Seq("b", "c", "d", "f", "g", "l", "m", "n", "p", "r", "s", "t", "v", "w", "br", "cr", "st", "tr")
    val nu = Seq("a", "e", "i", "o", "u", "ea", "ai", "ou")
    val co = Seq("n", "r", "s", "t", "l", "m", "nd", "st", "rk", "ng")
    val words = scala.collection.mutable.LinkedHashSet.empty[String]
    while (words.size < 8000) {
      val syl = 2 + r.nextInt(2)
      words += (0 until syl).map(_ => on(r.nextInt(on.size)) + nu(r.nextInt(nu.size))).mkString +
        co(r.nextInt(co.size))
    }
    words.toIndexedSeq.filterNot(Stopwords.contains)
  }

  /** Text of `n` tokens. A stopword only ever follows a content word, so
    * stopword bigrams stay rare and unplanted documents do not look
    * contaminated by chance.
    */
  def text(r: SplittableRandom, n: Int): Array[String] = {
    val out = new Array[String](n)
    var i = 0
    while (i < n) {
      out(i) =
        if (i > 0 && !Stopwords.contains(out(i - 1)) && r.nextDouble() < 0.3)
          Stopwords(r.nextInt(Stopwords.size))
        else Vocabulary(r.nextInt(Vocabulary.size))
      i += 1
    }
    out
  }

  final case class Doc(id: Long, text: String, source: String)

  /** The planted truth the curation checks run against. */
  final case class Corpus(
      docs: IndexedSeq[Doc],
      exactCopies: Map[Long, Long],       // copy id -> original id
      nearCopies: Map[Long, Long],        // near-duplicate id -> original id
      contaminated: Set[Long],            // docs carrying a benchmark span
      benchmark: Set[Long])               // the benchmark docs themselves

  def corpus(seed: Long, n: Int): Corpus = {
    val r = rng(seed, "corpus")
    val sources = Seq("web", "books", "news", "forums")
    val nBench = math.max(4, n / 100)
    val nExact = n * 5 / 100
    val nNear = n * 5 / 100
    val nCont = n * 2 / 100
    val nBase = n - nBench - nExact - nNear - nCont
    val docs = ArrayBuffer.empty[Doc]
    val bench = (0 until nBench).map(_ => text(r, 40 + r.nextInt(40)))
    bench.foreach(t => docs += Doc(docs.size + 1L, t.mkString(" "), "benchmark"))
    (0 until nBase).foreach(_ =>
      docs += Doc(docs.size + 1L, text(r, 40 + r.nextInt(80)).mkString(" "),
        sources(r.nextInt(sources.size))))
    val base = docs.filter(_.source != "benchmark").toIndexedSeq
    val exact = (0 until nExact).map { _ =>
      val o = base(r.nextInt(base.size))
      val d = Doc(docs.size + 1L, o.text, o.source)
      docs += d
      d.id -> o.id
    }.toMap
    val near = (0 until nNear).map { _ =>
      val o = base(r.nextInt(base.size))
      val toks = o.text.split(" ")
      // two content-word substitutions
      var edits = 0
      while (edits < 2) {
        val p = r.nextInt(toks.length)
        if (!Stopwords.contains(toks(p))) { toks(p) = Vocabulary(r.nextInt(Vocabulary.size)); edits += 1 }
      }
      val d = Doc(docs.size + 1L, toks.mkString(" "), o.source)
      docs += d
      d.id -> o.id
    }.toMap
    val cont = (0 until nCont).map { _ =>
      val b = bench(r.nextInt(bench.size))
      val at = r.nextInt(b.length - 20)
      val toks = text(r, 20 + r.nextInt(30)) ++ b.slice(at, at + 20) ++ text(r, 20 + r.nextInt(30))
      val d = Doc(docs.size + 1L, toks.mkString(" "), sources(r.nextInt(sources.size)))
      docs += d
      d.id
    }.toSet
    Corpus(docs.toIndexedSeq, exact, near, cont, (1L to nBench.toLong).toSet)
  }

  /** Clustered 64-d float vectors with planted near-duplicates: the twin
    * of vector `o` is `o` plus noise two orders below the cluster spread.
    */
  final case class Vectors(vecs: IndexedSeq[(Long, Array[Float])], twins: Map[Long, Long], queryIds: IndexedSeq[Long])

  def vectors(seed: Long, n: Int, dims: Int, clusters: Int, queries: Int): Vectors = {
    val r = rng(seed, "vectors")
    val centers = Array.fill(clusters)(Array.fill(dims)(r.nextGaussian().toFloat))
    val nTwin = n * 5 / 100
    val nBase = n - nTwin
    val base = (1 to nBase).map { i =>
      val c = centers(r.nextInt(clusters))
      (i.toLong, Array.tabulate(dims)(d => (c(d) + 0.4 * r.nextGaussian()).toFloat))
    }
    val twins = (1 to nTwin).map { j =>
      val (oid, ov) = base(r.nextInt(nBase))
      ((nBase + j).toLong, ov.map(x => (x + 0.004 * r.nextGaussian()).toFloat), oid)
    }
    val twinMap = twins.map(t => t._1 -> t._3).toMap
    // half the queries are twinned originals, whose exact nearest
    // neighbour is known by construction; the rest are random vectors
    val originals = twins.map(_._3).distinct
    val q = (originals.take(queries / 2) ++
      Iterator.continually(1L + r.nextInt(nBase)).filterNot(originals.contains).distinct
        .take(queries - math.min(queries / 2, originals.size)))
    Vectors(base ++ twins.map(t => (t._1, t._2)), twinMap, q.toIndexedSeq)
  }
}
