package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.ops.{Similarity, TextDedup}

/** `corpus`: each op is one curation pass over a seeded corpus.
  *
  * Documents are keyed by URL-like string ids and carry planted
  * near-duplicate families; embeddings are keyed by long ids and carry
  * planted clusters. A pass runs `TextDedup.minHashNearDups` and
  * `TextDedup.dedupClusters` over the documents, `Similarity.nearDupPairs`
  * and `dedupClusters` over the embeddings, and `Similarity.pqTopK` for a
  * planted-cluster query. MinHash and sign-bucket LSH are approximate,
  * so the check holds them to the planted ground truth this way: every
  * reported document pair and every embedding group is planted (exact
  * precision), at least [[CorpusWorkload.RecallFloor]] of the planted
  * pairs are found on each side, and the document clusters are exactly
  * the connected components of the pairs found. Every PQ top-k must hold
  * the rest of its query's cluster with exact cosines. Sizes follow the
  * bench fixture (sf0.1: 5,000 documents of median 55 words, 2,000
  * 64-dim embeddings).
  */
final class CorpusWorkload(spark: SparkSession, seed: Long, work: String)
    extends Workload(spark, seed, work) {
  import CorpusWorkload._

  val kinds = Seq("pass")

  private var corpus: IndexedSeq[Gen.Doc] = _
  private var vectors: IndexedSeq[Gen.Vec] = _
  private var docs: DataFrame = _
  private var emb: DataFrame = _

  def generate(): Unit = {
    corpus = Gen.corpus(seed, Docs, Words, Families, FamilySize)
    vectors = Gen.embeddings(seed, Vectors, Dim, Clusters, ClusterSize)
  }

  /** The starting state is the two input frames, built and materialized. */
  def setup(dir: String): Unit = {
    docs = spark.createDataFrame(corpus.map(d => Row(d.id, d.text)).asJava, DocSchema)
    emb = spark.createDataFrame(vectors.map(v => Row(v.id, v.v.toSeq)).asJava, EmbSchema)
    require(docs.count() == Docs && emb.count() == Vectors)
  }

  /** Non-singleton groups of a (doc_id, cluster_id) result, as sets. */
  private def groups[K](rows: Array[Row], key: Row => K): Set[Set[K]] =
    rows.toSeq.groupBy(_.get(1)).values.map(_.map(key).toSet).filter(_.size > 1).toSet

  private lazy val families: Set[Set[String]] =
    corpus.filter(_.family >= 0).groupBy(_.family).values.map(_.map(_.id).toSet).toSet
  private lazy val clusters: Set[Set[Long]] =
    vectors.filter(_.cluster >= 0).groupBy(_.cluster).values.map(_.map(_.id).toSet).toSet

  /** Query vectors: the first member of the first planted clusters. */
  private lazy val queries: Seq[Gen.Vec] =
    vectors.filter(_.cluster >= 0).groupBy(_.cluster).toSeq.sortBy(_._1)
      .take(Queries).map(_._2.minBy(_.id))

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    val (x, y) = (a.map(_.toDouble), b.map(_.toDouble))
    val dot = x.zip(y).map { case (p, q) => p * q }.sum
    dot / (math.sqrt(x.map(v => v * v).sum) * math.sqrt(y.map(v => v * v).sum))
  }

  /** Planted pairs: every unordered pair inside a planted group. */
  private def plantedPairs[K](groups: Set[Set[K]]): Int = groups.toSeq.map(g => g.size * (g.size - 1) / 2).sum

  /** Connected components (size > 1) of an undirected edge list. */
  private def components[K](edges: Seq[(K, K)]): Set[Set[K]] = {
    val parent = scala.collection.mutable.Map.empty[K, K]
    def find(x: K): K = { val p = parent.getOrElseUpdate(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    edges.foreach { case (a, b) => parent(find(a)) = find(b) }
    parent.keys.toSeq.groupBy(find).values.map(_.toSet).filter(_.size > 1).toSet
  }

  def op(i: Int): Op = {
    var docPairs = Seq.empty[(String, String)]
    var docGroups = Set.empty[Set[String]]
    var vecGroups = Set.empty[Set[Long]]
    var topK = Seq.empty[Map[Long, Double]]
    Op("pass", Docs + Vectors,
      () => {
        val pairs = TextDedup.minHashNearDups(docs, k = MinHashK, bands = MinHashBands,
          threshold = JaccardThreshold)
        try {
          docGroups = groups(TextDedup.dedupClusters(docs.select("doc_id"),
            pairs.select("doc_a", "doc_b")).collect(), _.getString(0))
          docPairs = pairs.select("doc_a", "doc_b").collect().map(r => (r.getString(0), r.getString(1))).toSeq
        } finally pairs.unpersist()
        val vecPairs = Similarity.nearDupPairs(emb, bits = LshBits, threshold = CosineThreshold)
          .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
        vecGroups = groups(TextDedup.dedupClusters(emb.select(col("vec_id").as("doc_id")),
          vecPairs).collect(), _.getLong(0))
        topK = queries.map(q => Similarity.pqTopK(emb, m = 8, dsub = 8, nCentroids = 32,
          queryId = q.id, k = TopK, rerank = 4, trainIters = 3,
          seedSpread = Vectors / 32).collect()
          .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cos_sim")).toMap)
      },
      () => {
        // MinHash and sign-bucket LSH are approximate: a reported pair
        // must be planted (exact), enough planted pairs must be found
        // (RecallFloor), and the clusters must be exactly the connected
        // components of what was found.
        val familyOf = corpus.filter(_.family >= 0).map(d => d.id -> d.family).toMap
        val docPrecise = docPairs.forall { case (a, b) => familyOf.get(a).exists(familyOf.get(b).contains) }
        docRecall = docPairs.size.toDouble / plantedPairs(families)
        val docOk = docPrecise && docRecall >= RecallFloor && docGroups == components(docPairs)
        val clusterOf = vectors.filter(_.cluster >= 0).map(v => v.id -> v.cluster).toMap
        val vecPrecise = vecGroups.forall(g => g.map(clusterOf.get).size == 1 && clusterOf.contains(g.head))
        vecRecall = vecGroups.toSeq.map(g => g.size * (g.size - 1) / 2).sum.toDouble / plantedPairs(clusters)
        val vecOk = vecPrecise && vecRecall >= RecallFloor
        val byId = vectors.map(v => v.id -> v).toMap
        val pqOk = queries.zip(topK).forall { case (q, got) =>
          val mates = clusters.find(_.contains(q.id)).get - q.id
          mates.subsetOf(got.keySet) && got.forall { case (id, c) =>
            math.abs(c - cosine(q.v, byId(id).v)) <= 1e-6 }
        }
        if (!docOk) System.err.println(s"corpus: document pairs precise=$docPrecise recall=$docRecall, " +
          s"clusters ${if (docGroups == components(docPairs)) "match" else "differ from"} the pair components")
        if (!vecOk) System.err.println(s"corpus: embedding clusters precise=$vecPrecise pair recall=$vecRecall")
        if (!pqOk) System.err.println("corpus: a PQ top-k misses its query's planted cluster")
        docOk && vecOk && pqOk
      })
  }

  private var docRecall = Double.NaN
  private var vecRecall = Double.NaN

  override def extraMetrics(): Seq[(String, Double, String)] =
    Seq(("minhash_pair_recall", docRecall, "ratio"), ("lsh_pair_recall", vecRecall, "ratio"))
}

object CorpusWorkload {
  val Docs = 5000
  val Words = 55
  val Families = 50
  val FamilySize = 4
  val Vectors = 2000
  val Dim = 64
  val Clusters = 40
  val ClusterSize = 5
  val Queries = 1
  val TopK = 10
  val MinHashK = 32
  val MinHashBands = 8
  val JaccardThreshold = 0.4
  val LshBits = 2
  val CosineThreshold = 0.9
  /** Least share of planted pairs an approximate pass must find. */
  val RecallFloor = 0.9

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType), StructField("text", StringType)))
  val EmbSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType, containsNull = false))))
}
