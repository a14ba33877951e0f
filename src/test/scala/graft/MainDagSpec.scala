package graft

import java.nio.file.Files

import graft.pipelines.{FundingStats, MainDag}

/** End-to-end main-DAG tick (SURVEY §3.1): all five tables land, and a
  * retried tick converges to the same state (DDL idempotent, overwrites
  * atomic, upserts newest-wins, stats replaced) — the invariant behind
  * the reference's 5×-retry policy. */
class MainDagSpec extends SparkSpec {

  test("one tick lands all five tables; a second tick is idempotent") {
    val wh = Files.createTempDirectory("dag-wh").toFile.getAbsolutePath
    val dir = "/root/testdata/sf0.001"
    // the footer-summed counts equal Spark's own count of each table,
    // whose directory also holds _SUCCESS and .crc files
    def n(t: String): Long = spark.read.parquet(s"$wh/$t").count()
    def sparkCounts = MainDag.TickResult(
      n("kucoin_active_futures"), n("kucoin_active_spot_pairs"),
      n("kucoin_lending_rates"), n("kucoin_funding_rates"),
      n("kucoin_funding_stats"))
    // every sink swapped its staging dir in and cleaned up after itself:
    // the warehouse holds the five tables and no __staging__ or __old__
    // sibling
    def assertOnlyTables(): Unit =
      assert(new java.io.File(wh).listFiles().map(_.getName).sorted.toSeq ===
        Seq("kucoin_active_futures", "kucoin_active_spot_pairs",
          "kucoin_funding_rates", "kucoin_funding_stats",
          "kucoin_lending_rates"))
    val r1 = MainDag.runTick(spark, dir, wh)
    assert(r1.futures > 0 && r1.spotPairs > 0 && r1.lending > 0 &&
      r1.fundingRows > 0 && r1.statsRows > 0, r1.toString)
    assert(r1 === sparkCounts)
    assertOnlyTables()

    val r2 = MainDag.runTick(spark, dir, wh)
    assert(r2 === r1, "retried tick must converge to the same state")
    assert(r2 === sparkCounts)
    assertOnlyTables()

    // the stats table equals the flagship query's direct result
    val fromDag = spark.read.parquet(s"$wh/kucoin_funding_stats")
      .orderBy("symbol").collect().toSeq
    val direct = FundingStats.build(spark, dir)
      .orderBy("symbol").collect().toSeq
    assert(fromDag === direct)

    spark.sql("DROP TABLE IF EXISTS kucoin_lending_rates")
    spark.sql("DROP TABLE IF EXISTS kucoin_funding_rates")
  }
}
