package perfbench

import java.util.SplittableRandom

/** Seeded input generator. Every value is a pure function of the run seed
  * and the value's coordinates (symbol, session, op index, ...), so the same
  * seed gives byte-identical inputs and a re-delivered row carries exactly
  * the value it had the first time. The program under test only ever sees
  * what these functions produce, written as files or handed over as
  * DataFrames.
  */
object Gen {

  /** splitmix64 finalizer: a well-mixed 64-bit hash of `x`. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** A generator stream keyed by the seed and a coordinate path. */
  def rng(seed: Long, path: Long*): SplittableRandom =
    new SplittableRandom(path.foldLeft(mix(seed))((h, p) => mix(h ^ p)))

  // ---------------------------------------------------------------- funding

  /** FundingStats derives the symbol from `user_id % 20`. */
  val Symbols = 20

  def symbol(s: Int): String = s"SYM${s}USDTM"

  /** FundingStats slices 120 days ending at its fixed AnchorDate; every
    * generated funding time lies inside that slice, one hour after its
    * start plus 15 minutes per session (symbols offset by seconds). */
  val SliceStartMicros: Long =
    java.time.LocalDate.parse(graft.pipelines.FundingStats.AnchorDate)
      .minusDays(120).atStartOfDay(java.time.ZoneOffset.UTC)
      .toEpochSecond * 1000000L

  val SessionMicros: Long = 900L * 1000000L

  /** Sessions that fit in the slice with an hour of margin either side. */
  val MaxSessions: Int = ((120L * 86400L - 7200L) * 1000000L / SessionMicros).toInt

  def sessionMicros(s: Int, i: Int): Long = {
    require(i >= 0 && i < MaxSessions, s"session $i outside the 120-day slice")
    SliceStartMicros + 3600L * 1000000L + i * SessionMicros + s * 7L * 1000000L
  }

  /** A funding value in raw feed units (funding_rate = value / 1e4) with
    * exactly two decimals, so its decimal(18,2) cast is exact. */
  def fundingValue(seed: Long, s: Int, i: Int): Double =
    (rng(seed, 1, s, i).nextInt(-5000, 5001)).toDouble / 100.0

  /** The feed's user id for (symbol, session): `user_id % 20 == s`, and
    * the spread over ids also spreads Lending's `user_id % 28` terms. */
  def userId(seed: Long, s: Int, i: Int): Long =
    s + Symbols.toLong * rng(seed, 2, s, i).nextInt(0, 5000)

  // ----------------------------------------------------------------- corpus

  private val Vocab: Array[String] = {
    val syll = Array("ka", "lo", "mi", "ne", "ru", "ta", "vo", "shi", "pe",
      "zu", "gra", "fen", "bol", "dri", "qua", "ost")
    (for { a <- syll; b <- syll; c <- syll } yield a + b + c).distinct
  }

  /** A URL-like string document id, as real corpora key their documents. */
  def docUrl(seed: Long, n: Int): String = {
    val r = rng(seed, 3, n)
    s"https://site${r.nextInt(0, 97)}.example.org/${Vocab(r.nextInt(Vocab.length))}/$n"
  }

  final case class Doc(id: String, text: String, family: Int)

  /** `docs` documents of `words` words each. The first `families` ×
    * `familySize` documents form planted near-duplicate families: each
    * member is the family's base text with one word substituted, which
    * keeps every in-family 3-shingle Jaccard near 0.9, far above the 0.4
    * threshold.
    * Every other document is drawn independently (family -1), so no pair
    * outside a family shares more than a stray shingle. Rows are shuffled
    * so families do not sit next to each other. */
  def corpus(seed: Long, docs: Int, words: Int, families: Int,
      familySize: Int): IndexedSeq[Doc] = {
    def text(r: SplittableRandom): Array[String] =
      Array.fill(words)(Vocab(r.nextInt(Vocab.length)))
    val planted = for {
      f <- 0 until families
      base = text(rng(seed, 4, f))
      m <- 0 until familySize
    } yield {
      val r = rng(seed, 5, f, m)
      val t = base.clone()
      t(r.nextInt(words)) = Vocab(r.nextInt(Vocab.length))
      (t.mkString(" "), f)
    }
    val singles = (planted.size until docs).map(n =>
      (text(rng(seed, 6, n)).mkString(" "), -1))
    val all = (planted ++ singles).zipWithIndex.map { case ((t, f), n) =>
      Doc(docUrl(seed, n), t, f) }
    shuffle(seed, 7, all)
  }

  final case class Vec(id: Long, v: Array[Float], cluster: Int)

  /** `n` unit-norm vectors of `dim` dims. The first `clusters` ×
    * `clusterSize` ids are planted clusters: a random center plus noise of
    * norm ~0.02, so in-cluster cosines exceed 0.99 while random centers in
    * 64 dims sit far below 0.9. Ids are long and spread out, not 0..n-1. */
  def embeddings(seed: Long, n: Int, dim: Int, clusters: Int,
      clusterSize: Int): IndexedSeq[Vec] = {
    def gauss(r: SplittableRandom, scale: Double): Array[Double] =
      Array.fill(dim) {
        // Box-Muller from the seeded stream (no shared global RNG)
        val u1 = 1.0 - r.nextDouble(); val u2 = r.nextDouble()
        math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2) * scale
      }
    def unit(a: Array[Double]): Array[Float] = {
      val nrm = math.sqrt(a.map(x => x * x).sum)
      a.map(x => (x / nrm).toFloat)
    }
    val noise = 0.02 / math.sqrt(dim.toDouble)
    val centers = (0 until clusters).map(c => unit(gauss(rng(seed, 8, c), 1.0)).map(_.toDouble))
    val vs = (0 until n).map { j =>
      val c = if (j < clusters * clusterSize) j / clusterSize else -1
      val v =
        if (c >= 0) {
          val center = centers(c)
          val e = gauss(rng(seed, 9, j), noise)
          unit(center.zip(e).map { case (a, b) => a + b })
        } else unit(gauss(rng(seed, 10, j), 1.0))
      Vec(1000003L * j + 17L, v, c)
    }
    shuffle(seed, 11, vs)
  }

  /** Seeded Fisher-Yates. */
  def shuffle[A](seed: Long, tag: Long, xs: IndexedSeq[A]): IndexedSeq[A] = {
    val a = xs.toArray[Any]
    val r = rng(seed, tag)
    for (i <- a.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[A]]
  }
}
