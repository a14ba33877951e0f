package perfbench

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

/** The generator is the benchmark's only source of inputs: one seed must
  * always give the same inputs, and another seed other inputs. */
class GenSpec extends AnyFunSuite {

  private def feedBytes(seed: Long, g: Int): Map[String, Seq[Byte]] = {
    val dir = Files.createTempDirectory("perfbench-gen")
    try {
      TickWorkload.writeFeed(seed, dir.toString, g)
      Seq("events", "customer", "supplier").map { t =>
        t -> Files.readAllBytes(dir.resolve(s"$t.parquet")).toSeq
      }.toMap
    } finally deleteTree(dir)
  }

  private def deleteTree(p: Path): Unit = {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally s.close()
  }

  private def corpus(seed: Long) = Gen.corpus(seed, 200, 40, 10, 4)
  private def vectors(seed: Long) =
    Gen.embeddings(seed, 200, 16, 10, 5).map(v => (v.id, v.v.toSeq, v.cluster))

  test("the same seed gives byte-identical tick feeds") {
    assert(feedBytes(11, 3) == feedBytes(11, 3))
  }

  test("another seed gives other tick feeds") {
    val (a, b) = (feedBytes(11, 3), feedBytes(12, 3))
    Seq("events", "customer", "supplier").foreach(t => assert(a(t) != b(t), t))
  }

  test("the same seed gives the same funding values, corpus and embeddings") {
    assert((0 until 50).map(i => Gen.fundingValue(5, 3, i)) ==
      (0 until 50).map(i => Gen.fundingValue(5, 3, i)))
    assert(corpus(5) == corpus(5))
    assert(vectors(5) == vectors(5))
  }

  test("another seed gives other funding values, corpus and embeddings") {
    assert((0 until 50).map(i => Gen.fundingValue(5, 3, i)) !=
      (0 until 50).map(i => Gen.fundingValue(6, 3, i)))
    assert(corpus(5) != corpus(6))
    assert(vectors(5) != vectors(6))
  }

  test("generated funding keys are unique and inside FundingStats' 120-day slice") {
    val end = Gen.SliceStartMicros + 120L * 86400L * 1000000L
    val times = for (s <- 0 until Gen.Symbols; i <- Seq(0, Gen.MaxSessions - 1))
      yield Gen.sessionMicros(s, i)
    assert(times.forall(t => t > Gen.SliceStartMicros && t < end))
    val keys = for (s <- 0 until Gen.Symbols; i <- 0 until 500) yield (s, Gen.sessionMicros(s, i))
    assert(keys.distinct.size == keys.size)
    assert((0 until 500).forall(i => Gen.userId(9, 4, i) % Gen.Symbols == 4))
  }

  test("planted families and clusters have the planned sizes") {
    val c = corpus(7)
    assert(c.map(_.id).distinct.size == c.size)
    assert(c.filter(_.family >= 0).groupBy(_.family).values.forall(_.size == 4))
    val v = Gen.embeddings(7, 200, 16, 10, 5)
    assert(v.map(_.id).distinct.size == v.size)
    assert(v.filter(_.cluster >= 0).groupBy(_.cluster).values.forall(_.size == 5))
  }
}
