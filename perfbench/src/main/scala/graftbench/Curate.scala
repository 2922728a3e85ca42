package graftbench

import java.nio.file.Path

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.dedup.Dedup
import graft.pipeline.Curation
import graft.sim.Similarity

/** corpus_curate: the training-data half of the paper. Bound by task CPU
  * and shuffle, with no sink and little planning. One cycle is one pass:
  * Curation.curate and Dedup.minhashNearDups over the documents, then
  * Similarity.semDedup and Similarity.ivfPqTopK over the vectors.
  * Embeddings are array<float>: on array<double> the FloatVecDot kernel
  * behind Similarity.fnorm dies with a NullPointerException instead of
  * refusing the type at analysis.
  */
final class Curate(spark: SparkSession, seed: Long) extends Workload {
  import Curate._

  private var root: Path = _
  private var corpus: Gen.Corpus = _
  private var vecs: Gen.Vectors = _
  private var docs: DataFrame = _
  private var embeddings: DataFrame = _
  private var queries: DataFrame = _

  private val curated = ArrayBuffer.empty[Set[Long]]
  private val pairs = ArrayBuffer.empty[Set[(Long, Long)]]
  private val survivors = ArrayBuffer.empty[Map[Long, Long]] // vec_id -> cluster
  private val neighbours = ArrayBuffer.empty[Map[Long, Seq[(Long, Double)]]]

  def setup(dir: Path): Unit = {
    root = dir
    corpus = Gen.corpus(seed, Docs)
    vecs = Gen.vectors(seed, Vectors, Dims, Clusters, Queries)
    val docSchema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType), StructField("source", StringType)))
    spark.createDataFrame(corpus.docs.map(d => Row(d.id, d.text, d.source)).asJava, docSchema)
      .coalesce(1).write.parquet(dir.resolve("docs").toString)
    val vecSchema = StructType(Seq(StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false))))
    spark.createDataFrame(vecs.vecs.map { case (id, v) => Row(id, v.toSeq) }.asJava, vecSchema)
      .coalesce(1).write.parquet(dir.resolve("vectors").toString)
    docs = spark.read.parquet(dir.resolve("docs").toString)
    embeddings = spark.read.parquet(dir.resolve("vectors").toString)
    val q = vecs.queryIds.toSet
    queries = embeddings.filter(col("vec_id").isin(q.toSeq: _*))
  }

  // every set-up generates the same inputs, so the warm pass's results are
  // the ones every later pass must reproduce
  def warm(rec: Recorder): Unit = cycle(rec)

  def cycle(rec: Recorder): Unit = {
    val p = rec.probe
    rec.op("curate", Docs) {
      p.span("pipeline.curate") {
        Curation.curate(docs, col("source") === "benchmark").select("doc_id").collect().map(_.getLong(0)).toSet
      }
    }.foreach(curated += _)
    rec.op("minhash", Docs) {
      p.span("dedup.minhash") {
        val out = Dedup.minhashNearDups(docs, threshold = Jaccard).select("doc_id_a", "doc_id_b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        p.note("pairs", out.size.toDouble)
        out
      }
    }.foreach(pairs += _)
    rec.op("semdedup", Vectors) {
      p.span("sim.semdedup") {
        Similarity.semDedup(embeddings, threshold = SemThreshold, kCentroids = Clusters)
          .select("vec_id", "cluster_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
    }.foreach(survivors += _)
    rec.op("ann", Vectors) {
      p.span("sim.ann") {
        topK(Similarity.ivfPqTopK(embeddings, queries, k = K, numSub = 2, lloydIters = 1, coarseK = Clusters,
          nprobe = 2, rerank = Similarity.AutoRerank))
      }
    }.foreach(neighbours += _)
  }

  private def topK(df: DataFrame): Map[Long, Seq[(Long, Double)]] =
    df.select("query_id", "rnk", "neighbor_id", "cosine").collect().toSeq
      .groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.sortBy(_.getLong(1)).map(r => (r.getLong(2), r.getDouble(3)))
      }

  def primary(kind: String): Boolean = true

  private def shingles(text: String): Set[String] =
    text.split(" +").filter(_.nonEmpty).sliding(2).map(_.mkString(" ")).toSet

  private def jaccard(a: Long, b: Long): Double = {
    val sa = shingles(corpus.docs(a.toInt - 1).text)
    val sb = shingles(corpus.docs(b.toInt - 1).text)
    (sa intersect sb).size.toDouble / (sa union sb).size
  }

  private lazy val exact: Map[Long, Seq[(Long, Double)]] =
    topK(Similarity.bruteForceTopK(embeddings, queries, k = K))

  def check(rec: Recorder): Unit = {
    val byId = vecs.vecs.toMap
    def cosine(a: Long, b: Long): Double = {
      val (x, y) = (byId(a), byId(b))
      var dot, nx, ny = 0.0
      x.indices.foreach { i => dot += x(i) * y(i); nx += x(i) * x(i); ny += y(i) * y(i) }
      dot / math.sqrt(nx * ny)
    }
    // every repetition must reproduce the first one
    Seq("curate" -> curated, "minhash" -> pairs, "semdedup" -> survivors, "ann" -> neighbours)
      .foreach { case (name, runs) =>
        runs.drop(1).foreach(r => rec.verify(r == runs.head, s"corpus_curate $name differs between passes"))
      }
    curated.headOption.foreach { out =>
      val leaked = (corpus.contaminated ++ corpus.benchmark ++ corpus.exactCopies.keySet) intersect out
      rec.verify(leaked.isEmpty, s"corpus_curate: curate kept contaminated/benchmark/duplicate docs ${leaked.take(10)}")
    }
    pairs.headOption.foreach { ps =>
      val bad = ps.filter { case (a, b) => jaccard(a, b) < Jaccard - 1e-9 }
      rec.verify(bad.isEmpty, s"corpus_curate: minhash pairs below the Jaccard threshold ${bad.take(10)}")
    }
    // SemDeDup compares vectors within a trained cluster only: it may drop
    // nothing but planted twins, and two near-identical survivors must sit
    // in different clusters
    survivors.headOption.foreach { s =>
      val falselyDropped = vecs.vecs.map(_._1).filterNot(id => vecs.twins.contains(id) || s.contains(id))
      rec.verify(falselyDropped.isEmpty, s"corpus_curate: semDedup dropped unplanted vectors ${falselyDropped.take(10)}")
      val groups = vecs.twins.groupBy(_._2).map { case (o, ts) => (ts.keySet + o).toSeq.filter(s.contains) }
      val sameCluster = groups.filter(g => g.map(s).distinct.size < g.size)
      rec.verify(sameCluster.isEmpty, s"corpus_curate: semDedup kept near-identical vectors in one cluster ${sameCluster.take(5)}")
    }
    // the exact reference itself against the planted truth: a twinned
    // original's nearest neighbour is one of its twins
    val twinsOf = vecs.twins.groupBy(_._2).map { case (o, ts) => o -> ts.keySet }
    vecs.queryIds.filter(twinsOf.contains).foreach { q =>
      rec.verify(exact.get(q).exists(ns => twinsOf(q).contains(ns.head._1)),
        s"corpus_curate: exact top-1 of $q is not its planted twin")
    }
    neighbours.headOption.foreach { ann =>
      val wrong = ann.toSeq.flatMap { case (q, ns) =>
        ns.filter { case (n, c) => n == q || math.abs(cosine(q, n) - c) > 1e-4 }.map(q -> _)
      }
      rec.verify(ann.size == vecs.queryIds.size && ann.values.forall(_.size == K) && wrong.isEmpty,
        s"corpus_curate: ANN rows malformed or cosines wrong ${wrong.take(5)}")
      rec.verify(annRecall(ann) >= MinAnnRecall, s"corpus_curate: ANN recall ${annRecall(ann)} < $MinAnnRecall")
    }
  }

  private def annRecall(ann: Map[Long, Seq[(Long, Double)]]): Double = {
    val hits = exact.toSeq.map { case (q, ns) =>
      (ns.map(_._1).toSet intersect ann.getOrElse(q, Nil).map(_._1).toSet).size
    }.sum
    hits.toDouble / math.max(1, exact.values.map(_.size).sum)
  }

  def userMetrics(rec: Recorder): Map[String, Double] = {
    val removed = curated.headOption.map(out => corpus.exactCopies.keySet.count(!out.contains(_))).getOrElse(0)
    val paired = pairs.headOption.map(ps => corpus.nearCopies.count { case (n, o) =>
      ps.contains((math.min(n, o), math.max(n, o)))
    }).getOrElse(0)
    Map(
      "docs_per_s" -> rec.items(k => k == "curate" || k == "minhash") /
        (rec.wallMs(k => k == "curate" || k == "minhash") / 1000.0),
      "vectors_per_s" -> rec.items(k => k == "semdedup" || k == "ann") /
        (rec.wallMs(k => k == "semdedup" || k == "ann") / 1000.0),
      "dedup_recall" -> (removed + paired).toDouble / (corpus.exactCopies.size + corpus.nearCopies.size),
      "ann_recall" -> neighbours.headOption.map(annRecall).getOrElse(0.0))
  }

}

object Curate {
  val Docs = 2000
  val Vectors = 2500
  val Dims = 64
  val Clusters = 8
  val Queries = 32
  val K = 10
  val Jaccard = 0.7
  val SemThreshold = 0.98
  val MinAnnRecall = 0.5
}
