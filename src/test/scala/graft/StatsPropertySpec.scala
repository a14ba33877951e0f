package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.ops.Stats

/** Property-based check of the trailing-window kernel against a
  * driver-side brute force (SURVEY.md §5.3): for generated per-key series,
  * each horizon equals the mean of the N newest values, null iff the key
  * has fewer than N observations — regardless of insertion order.
  * (Raw scalacheck Gen driven by fixed seeds — the scalatest bridge
  * artifact is not in the offline cache.) The second test pins the
  * double addition order too: sums run newest-first, one row at a
  * time, exactly as a left fold over the N newest values. */
class StatsPropertySpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private val seriesGen = for {
    nKeys <- Gen.choose(1, 4)
    rows <- Gen.listOfN(nKeys, for {
      n <- Gen.choose(0, 12)
      vals <- Gen.listOfN(n, Gen.choose(-1000000L, 1000000L))
    } yield vals)
  } yield rows

  test("trailing horizon = brute-force mean of N newest; null gate at count<N") {
    import spark.implicits._
    val horizons = Seq(Stats.Horizon("h3", 3), Stats.Horizon("h5", 5))
    (0 until 20).foreach { trial =>
      val series = seriesGen(Gen.Parameters.default, Seed(42L + trial)).get
      // ts = index within key; value = cents (exact decimal arithmetic)
      val rows = series.zipWithIndex.flatMap { case (vals, k) =>
        vals.zipWithIndex.map { case (v, i) => (s"k$k", i.toLong, v) }
      }
      if (rows.nonEmpty) {
        val df = rows.toDF("key", "t", "cents")
          .withColumn("v", col("cents").cast("decimal(18,2)"))
        val got = Stats.trailing(df, "key", "t", col("v"), horizons)
          .select("key", "h3", "h5").collect()
          .map(r => r.getString(0) ->
            (Option(r.get(1)).map(_.asInstanceOf[Double]),
              Option(r.get(2)).map(_.asInstanceOf[Double]))).toMap
        series.zipWithIndex.foreach { case (vals, k) =>
          if (vals.nonEmpty) {
            val newestFirst = vals.reverse
            def brute(n: Int): Option[Double] =
              if (newestFirst.size >= n)
                Some(newestFirst.take(n).map(BigDecimal(_)).sum.toDouble / n)
              else None
            val (h3, h5) = got(s"k$k")
            assert(h3 === brute(3), s"k$k h3")
            assert(h5 === brute(5), s"k$k h5")
          } else assert(!got.contains(s"k$k"))
        }
      }
    }
  }

  /** One key's rows, newest-first: (time, cents, double value). A tie
    * repeats the previous row's time AND values, so Spark's order among
    * peers cannot change any result. Lengths straddle every reference
    * horizon; values span 12 orders of magnitude so the double sum
    * depends on addition order; ~10% are null. */
  private val richKeyGen: Gen[List[(Long, Option[Long], Option[Double])]] = {
    val near = Stats.referenceHorizons.flatMap(h =>
      Seq(h.sessions - 1, h.sessions, h.sessions + 1))
    val value = for {
      isNull <- Gen.choose(0, 9).map(_ == 0)
      cents <- Gen.choose(-1000000L, 1000000L)
      exp <- Gen.choose(-3, 9)
    } yield if (isNull) (None, None)
      else (Some(cents), Some(cents * math.pow(10.0, exp)))
    for {
      n <- Gen.frequency(1 -> Gen.choose(0, 12), 3 -> Gen.oneOf(near),
        1 -> Gen.choose(0, 300))
      steps <- Gen.listOfN(n, Gen.zip(Gen.choose(0, 6).map(_ == 0), value))
    } yield steps.foldLeft(List.empty[(Long, Option[Long], Option[Double])]) {
      case ((t, c, d) :: rest, (true, _)) => (t, c, d) :: (t, c, d) :: rest
      case (acc, (_, (c, d))) =>
        (acc.headOption.fold(0L)(_._1 + 1), c, d) :: acc
    }
  }

  /** Spark's `sum` over doubles: null until the first non-null value,
    * then `coalesce(sum, 0) + v` per row, in frame order. */
  private def foldSum(vs: Seq[Option[Double]]): Option[Double] =
    vs.foldLeft(Option.empty[Double])((acc, v) =>
      v.fold(acc)(x => Some(acc.getOrElse(0.0) + x)))

  private def bits(d: Option[Double]): Option[Long] =
    d.map(java.lang.Double.doubleToRawLongBits)

  test("every reference horizon, double and decimal, with ties and nulls") {
    import spark.implicits._
    val horizons = Stats.referenceHorizons
    var orderSensitive = 0
    (0 until 12).foreach { trial =>
      val series = Gen.choose(1, 4).flatMap(Gen.listOfN(_, richKeyGen))(
        Gen.Parameters.default, Seed(7L + trial)).get
      val rows = series.zipWithIndex.flatMap { case (rs, k) =>
        rs.map { case (t, c, d) => (s"k$k", t, c, d) }
      }
      if (rows.nonEmpty) {
        val df = rows.toDF("key", "t", "cents", "d")
        def run(value: Column): Map[String, Seq[Option[Double]]] =
          Stats.trailing(df, "key", "t", value, horizons)
            .select(col("key") +: (horizons.map(_.name) :+ "latest")
              .map(col): _*)
            .collect().map(r => r.getString(0) ->
              (1 to horizons.size + 1).map(i =>
                Option(r.get(i)).map(_.asInstanceOf[Double]))).toMap
        val gotDouble = run(col("d"))
        val gotDecimal = run(col("cents").cast("decimal(18,2)"))
        series.zipWithIndex.foreach { case (rs, k) =>
          val key = s"k$k"
          if (rs.isEmpty) {
            assert(!gotDouble.contains(key) && !gotDecimal.contains(key))
          } else {
            val wantDouble = horizons.map { h =>
              if (rs.size < h.sessions) None
              else {
                val newest = rs.take(h.sessions).map(_._3)
                if (foldSum(newest) != foldSum(newest.reverse))
                  orderSensitive += 1
                foldSum(newest).map(_ / h.sessions)
              }
            } :+ rs.head._3
            val wantDecimal = horizons.map { h =>
              val newest = rs.take(h.sessions).flatMap(_._2)
              if (rs.size < h.sessions || newest.isEmpty) None
              else Some(newest.map(BigDecimal(_)).sum.toDouble / h.sessions)
            } :+ rs.head._2.map(_.toDouble)
            val names = horizons.map(_.name) :+ "latest"
            names.indices.foreach { i =>
              assert(bits(gotDouble(key)(i)) === bits(wantDouble(i)),
                s"trial $trial $key ${names(i)} (double)")
              assert(bits(gotDecimal(key)(i)) === bits(wantDecimal(i)),
                s"trial $trial $key ${names(i)} (decimal)")
            }
          }
        }
      }
    }
    // the data must make the double order observable, or the parity
    // above would not pin it
    assert(orderSensitive > 0)
  }
}
