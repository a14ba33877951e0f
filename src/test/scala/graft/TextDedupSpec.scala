package graft

import org.apache.spark.sql.functions.col

import graft.ops.{Similarity, TextDedup}

/** Sanity tests for the near-dup family: exact copies are found with
  * similarity 1.0; unrelated docs are not paired. */
class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "completely different words about spark window aggregation shuffles and joins"),
    (3L, "the quick brown fox jumps over the lazy dog near the river bank yesterday")
  ).toDF("doc_id", "text")

  test("minhash-lsh finds exact and near duplicates, not unrelated docs") {
    val pairs = TextDedup.minHashNearDups(docs, k = 16, bands = 4, threshold = 0.4)
      .orderBy("doc_a", "doc_b")
      .as[(Long, Long, Double)].collect().toSeq
    assert(pairs.exists { case (a, b, j) => a == 0L && b == 1L && j == 1.0 })
    assert(pairs.forall { case (a, b, _) => Set(a, b).subsetOf(Set(0L, 1L, 3L)) })
  }

  test("simhash: identical docs have identical fingerprints (hamming 0)") {
    val pairs = TextDedup.simHashNearDups(docs, bits = 48, chunks = 4,
      maxHamming = 3).as[(Long, Long, Int)].collect().toSeq
    assert(pairs.exists { case (a, b, h) => a == 0L && b == 1L && h == 0 })
    assert(pairs.forall { case (a, b, _) => !(Set(a, b) contains 2L) })
  }

  test("embedding near-dup: identical vectors pair at cosine 1") {
    val emb = Seq(
      (0L, Array(1f, 2f, 3f, 4f)),
      (1L, Array(1f, 2f, 3f, 4f)),
      (2L, Array(-4f, 3f, -2f, 1f))
    ).toDF("vec_id", "embedding")
    val pairs = Similarity.nearDupPairs(emb, bits = 4, threshold = 0.99)
      .as[(Long, Long, Double)].collect().toSeq
    assert(pairs.map(p => (p._1, p._2)) == Seq((0L, 1L)))
    assert(math.abs(pairs.head._3 - 1.0) < 1e-12)
  }

  test("docs shorter than the shingle width never become near-dup candidates") {
    val short = Seq(
      (0L, "hello world"), (1L, "hello world"), // identical, but < 3 tokens
      (2L, "three token doc x"), (3L, "three token doc x")
    ).toDF("doc_id", "text")
    assert(graft.ops.TextDedup.shingles(short)
      .filter(col("doc_id") < 2).count() == 0)
    val mh = graft.ops.TextDedup.minHashNearDups(short)
      .as[(Long, Long, Double)].collect().toSeq.map(p => (p._1, p._2))
    val ng = graft.ops.TextDedup.ngramJaccardDups(short, maxDF = 10)
      .as[(Long, Long, Double)].collect().toSeq.map(p => (p._1, p._2))
    assert(mh == Seq((2L, 3L)) && ng == Seq((2L, 3L)))
    // exact dedup is the tool that does catch identical short docs
    val kept = graft.ops.TextDedup.exactByFingerprint(short)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(0L, 2L))
  }

  // ---- connected-component clustering -----------------------------------

  test("dedupClusters closes a 200-link chain within the default cap (pointer jumping)") {
    val n = 200
    val chainDocs = (0 until n).map(i => (i.toLong, s"doc $i"))
      .toDF("doc_id", "text")
    val chainPairs = (0 until n - 1).map(i => (i.toLong, i.toLong + 1))
      .toDF("doc_a", "doc_b")
    // diameter 199 >> default maxIterations 20: plain hash-min would hit
    // the cap; pointer jumping needs ~log2(199) + 1 rounds
    val labels = graft.ops.TextDedup.dedupClusters(chainDocs, chainPairs)
      .as[(Long, Long)].collect().toMap
    assert(labels.size == n && labels.values.forall(_ == 0L))
  }

  test("dedupClusters surfaces non-convergence instead of returning split clusters") {
    // STRING ids: integral-keyed small graphs close exactly on the
    // driver (no iteration, nothing to converge) — the refusal under
    // test belongs to the distributed loop, which strings exercise
    val n = 40
    val chainDocs = (0 until n).map(i => (f"d$i%03d", s"doc $i"))
      .toDF("doc_id", "text")
    val chainPairs = (0 until n - 1)
      .map(i => (f"d$i%03d", f"d${i + 1}%03d")).toDF("doc_a", "doc_b")
    intercept[IllegalStateException] {
      graft.ops.TextDedup.dedupClusters(chainDocs, chainPairs,
        maxIterations = 2)
    }
    // opt-out path still returns (partial) labels
    val partial = graft.ops.TextDedup.dedupClusters(chainDocs, chainPairs,
      maxIterations = 2, requireConvergence = false)
    assert(partial.count() == n)
  }

  test("driver union-find and the distributed loop agree on a seeded random graph") {
    // parity: the same 300-edge random graph clustered through BOTH
    // paths — Long ids take the driver union-find, zero-padded string
    // spellings of the same ids force the distributed loop (label
    // minima agree because zero-padded lexicographic == numeric order)
    val rnd = new scala.util.Random(42)
    val n = 120
    val edges = Seq.fill(300)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
    val docsL = (0 until n).map(_.toLong).toDF("doc_id")
    val pairsL = edges.toDF("doc_a", "doc_b")
    val gotL = graft.ops.TextDedup.dedupClusters(docsL, pairsL)
      .as[(Long, Long)].collect().toMap
    val docsS = (0 until n).map(i => f"d$i%04d").toDF("doc_id")
    val pairsS = edges.map { case (a, b) => (f"d$a%04d", f"d$b%04d") }
      .toDF("doc_a", "doc_b")
    val gotS = graft.ops.TextDedup.dedupClusters(docsS, pairsS)
      .as[(String, String)].collect().toMap
    assert(gotL.size == n && gotS.size == n)
    gotL.foreach { case (d, c) =>
      assert(gotS(f"d$d%04d") == f"d$c%04d",
        s"doc $d: driver label $c vs loop label ${gotS(f"d$d%04d")}")
    }
  }

  test("dedupClusters integral small graph is exact regardless of the iteration cap (driver union-find)") {
    // a 200-link Long chain with maxIterations=1: the loop would refuse;
    // the capped driver union-find returns the exact single component
    val n = 200
    val chainDocs = (0 until n).map(i => (i.toLong, s"doc $i"))
      .toDF("doc_id", "text")
    val chainPairs = (0 until n - 1).map(i => (i.toLong, i.toLong + 1))
      .toDF("doc_a", "doc_b")
    val labels = graft.ops.TextDedup.dedupClusters(chainDocs, chainPairs,
        maxIterations = 1)
      .as[(Long, Long)].collect().toMap
    assert(labels.size == n && labels.values.forall(_ == 0L))
  }

  // ---- oversized-bucket skew guards -------------------------------------
  // A degenerate LSH bucket (identical-template corpus) makes one bucket's
  // pair count quadratic; maxBucket must drop it while genuine near-dup
  // pairs in normal-sized buckets survive.

  private val template =
    "terms of service template page copyright footer all rights reserved please read carefully"
  private def plantedDocs(nTemplate: Int) = (
    (0 until nTemplate).map(i => (i.toLong, template)) ++ Seq(
      (9000L, "a genuinely unique story about a fox crossing the frozen river at dawn light"),
      (9001L, "a genuinely unique story about a fox crossing the frozen river at dawn today"))
  ).toDF("doc_id", "text")

  test("minhash-lsh maxBucket drops a planted template cluster, keeps real pairs") {
    val docs = plantedDocs(300)
    val capped = TextDedup.minHashNearDups(docs, k = 16, bands = 4,
      threshold = 0.4, maxBucket = 50)
      .as[(Long, Long, Double)].collect().toSeq
    // quadratic cluster (300² / 2 ≈ 45k pairs) suppressed entirely...
    assert(capped.forall { case (a, b, _) => a >= 9000L && b >= 9000L })
    // ...while the genuine near-dup pair in its own size-2 bucket survives
    assert(capped.map(p => (p._1, p._2)) == Seq((9000L, 9001L)))
    // and with the default (generous) cap the cluster pairs are all found
    val uncapped = TextDedup.minHashNearDups(docs, k = 16, bands = 4,
      threshold = 0.4)
    assert(uncapped.count() == 300L * 299 / 2 + 1)
  }

  test("simhash maxBucket drops the template cluster, keeps real pairs") {
    val docs = plantedDocs(300)
    val capped = TextDedup.simHashNearDups(docs, bits = 48, chunks = 4,
      maxHamming = 6, maxBucket = 50)
      .as[(Long, Long, Int)].collect().toSeq
    assert(capped.forall { case (a, b, _) => a >= 9000L && b >= 9000L })
    assert(capped.map(p => (p._1, p._2)) == Seq((9000L, 9001L)))
  }

  test("oversizedBuckets diagnostic reports exactly what capBuckets drops") {
    import graft.ops.SkewGuard
    val rows = (Seq.fill(60)("big") ++ Seq.fill(3)("small"))
      .zipWithIndex.map { case (b, i) => (i.toLong, b) }
      .toDF("id", "bucket")
    val over = SkewGuard.oversizedBuckets(rows, Seq("bucket"), maxBucket = 50)
      .as[(String, Long)].collect().toSeq
    assert(over == Seq(("big", 60L)))
    // complement check: the cap keeps precisely the non-reported buckets
    val kept = SkewGuard.capBuckets(rows, Seq("bucket"), maxBucket = 50)
      .select("bucket").distinct().as[String].collect().toSet
    assert(kept == Set("small"))
  }

  test("embedding nearDupPairs maxBucket drops a degenerate vector bucket") {
    val dup = Array(1f, 1f, 1f, 1f)
    val emb = ((0 until 200).map(i => (i.toLong, dup)) ++ Seq(
      (9000L, Array(-1f, 2f, -3f, 4f)),
      (9001L, Array(-1f, 2f, -3f, 4.001f))
    )).toDF("vec_id", "embedding")
    val capped = Similarity.nearDupPairs(emb, bits = 4, threshold = 0.9,
      maxBucket = 50).as[(Long, Long, Double)].collect().toSeq
    assert(capped.map(p => (p._1, p._2)) == Seq((9000L, 9001L)))
    // default cap leaves the quadratic bucket in place
    assert(Similarity.nearDupPairs(emb, bits = 4, threshold = 0.9)
      .count() == 200L * 199 / 2 + 1)
  }

  test("dedupClusters surfaces an iteration cap hit instead of splitting") {
    // a 12-node STRING chain (strings keep the distributed loop — see
    // the driver union-find note above): min-label propagation +
    // pointer jumping cannot reach the fixpoint in one round, so the
    // cap fires
    val docs = (0 to 11).map(i => f"d$i%02d").toDF("doc_id")
    val pairs = (0 to 10).map(i => (f"d$i%02d", f"d${i + 1}%02d"))
      .toDF("doc_a", "doc_b")
    val ex = intercept[IllegalStateException] {
      TextDedup.dedupClusters(docs, pairs, maxIterations = 1)
    }
    assert(ex.getMessage.contains("did not converge"))
    // opting out of the throw yields the (partial) labels instead
    val partial = TextDedup.dedupClusters(docs, pairs, maxIterations = 1,
      requireConvergence = false)
    assert(partial.count() == 12)
    // and the default cap converges (O(log diameter) rounds) to 1 cluster
    val full = TextDedup.dedupClusters(docs, pairs)
    assert(full.select("cluster_id").distinct().count() == 1)
  }

  test("lineDedup strips corpus-repeated lines, keeps order, keeps docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "COOKIE BANNER\nunique alpha\nunique beta"),
      (2L, "unique gamma\nCOOKIE BANNER\nfooter note"),
      (3L, "COOKIE BANNER\nfooter note\nunique delta"),
      (4L, "footer note\nCOOKIE BANNER"), // fully boilerplate
      (5L, "only unique lines\nhere")).toDF("doc_id", "text")
    // COOKIE BANNER x4 and footer note x3 cross the >=3 threshold
    val out = TextDedup.lineDedup(docs, minDupCount = 3)
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(out == Seq(
      (1L, "unique alpha\nunique beta"),
      (2L, "unique gamma"),
      (3L, "unique delta"),
      (4L, ""), // still present: dropping empty docs is caller policy
      (5L, "only unique lines\nhere")))
    // below-threshold duplicates (x2) survive untouched
    val two = Seq((1L, "twice seen\na"), (2L, "twice seen\nb"))
      .toDF("doc_id", "text")
    val kept = TextDedup.lineDedup(two, minDupCount = 3)
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(kept == Seq((1L, "twice seen\na"), (2L, "twice seen\nb")))
  }

  test("dedupClusters label broadcast is gated by bytes, not rows alone") {
    import org.apache.spark.sql.types.{BinaryType, LongType, StringType}
    // integral ids keep the 4M-row cap
    assert(TextDedup.broadcastLabels(LongType, 4000000L))
    assert(!TextDedup.broadcastLabels(LongType, 4000001L))
    // wider ids get the same byte budget, so a lower row cap
    Seq(StringType, BinaryType).foreach { t =>
      assert(TextDedup.broadcastLabels(t, 500000L), t)
      assert(!TextDedup.broadcastLabels(t, 500001L), t)
      assert(!TextDedup.broadcastLabels(t, 4000000L), t)
    }
    // a small pair graph (the corpus scale) broadcasts whatever the key
    assert(TextDedup.broadcastLabels(StringType, 600L))
  }
}
