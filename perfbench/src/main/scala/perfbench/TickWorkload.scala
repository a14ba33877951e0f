package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.pipelines.MainDag

/** `tick`: each op is one `MainDag.runTick` over a fresh feed directory.
  *
  * The feed is a rolling funding history: tick `g` delivers sessions
  * `[g * NewPerTick, g * NewPerTick + Window)` of every symbol, so each tick
  * adds `NewPerTick` sessions per symbol and re-delivers the rest of the
  * previous window with identical values; the funding upsert meets both
  * conflicts and inserts. Customers and suppliers (the dimension feeds)
  * change size every tick. The starting state is the warehouse after
  * tick 0.
  */
final class TickWorkload(spark: SparkSession, seed: Long, work: String)
    extends Workload(spark, seed, work) {
  import TickWorkload._

  val kinds = Seq("tick")
  override def maxOps: Int = MaxTicks

  private def feed(tag: String) = s"$work/feeds/$tag"
  private var warehouse = ""

  /** Tick 0's feed. Later feeds are written just before their op, outside
    * its clock; each tick reads a directory of its own because the library
    * caches frames by directory. */
  def generate(): Unit = writeFeed(seed, feed("t0"), 0)

  // ------------------------------------------------------------------ model

  /** Distinct lending keys (created_at micros, term) delivered so far. */
  private val lendingKeys = mutable.Set.empty[(Long, Int)]

  private def lendingKeysOf(g: Int): Set[(Long, Int)] = {
    val maxTs = mutable.Map.empty[Int, Long]
    for (s <- 0 until Gen.Symbols; i <- g * NewPerTick until g * NewPerTick + Window) {
      val term = (Gen.userId(seed, s, i) % 28 + 1).toInt
      maxTs(term) = math.max(maxTs.getOrElse(term, Long.MinValue), Gen.sessionMicros(s, i))
    }
    val p = 300L * 1000000L
    maxTs.iterator.map { case (term, x) => (x - x % p + p, term) }.toSet
  }

  private def check(g: Int, r: MainDag.TickResult): Boolean = {
    lendingKeys ++= lendingKeysOf(g)
    val futures = (1 to suppliers(seed, g)).count(_ % 5 != 0)
    val spot = (1 to customers(seed, g)).count(_ % 2 == 0)
    val funding = Gen.Symbols.toLong * (Window + g * NewPerTick)
    val counts = r == MainDag.TickResult(futures, spot, lendingKeys.size, funding, Gen.Symbols)
    if (!counts) System.err.println(s"tick $g: got $r, want " +
      MainDag.TickResult(futures, spot, lendingKeys.size, funding, Gen.Symbols))
    // funding_8h is the newest session's rate, annualized
    val stats = spark.read.parquet(s"$warehouse/kucoin_funding_stats")
      .select("symbol", "funding_8h").collect()
      .map(row => row.getString(0) -> row.getDouble(1)).toMap
    val latest = (0 until Gen.Symbols).forall { s =>
      val want = Gen.fundingValue(seed, s, g * NewPerTick + Window - 1) / 10000.0 *
        graft.pipelines.FundingStats.AnnualFactor
      stats.get(Gen.symbol(s)).exists(v => math.abs(v - want) <= 1e-12 * math.max(1.0, math.abs(want)))
    }
    if (!latest) System.err.println(s"tick $g: funding_8h differs from the model")
    counts && latest
  }

  def setup(dir: String): Unit = {
    warehouse = dir
    val r = MainDag.runTick(spark, feed("t0"), warehouse)
    require(check(0, r), "setup tick does not match the model")
  }

  def op(i: Int): Op = {
    val g = i + 1
    var result: MainDag.TickResult = null
    writeFeed(seed, feed(s"t$g"), g)
    Op("tick", Gen.Symbols.toLong * Window + customers(seed, g) + suppliers(seed, g),
      () => result = MainDag.runTick(spark, feed(s"t$g"), warehouse),
      () => check(g, result))
  }

  /** Bytes on disk under the warehouse over bytes of the data files the
    * five tables' current state consists of. */
  override def extraMetrics(): Seq[(String, Double, String)] = {
    val root = Paths.get(warehouse)
    val walk = Files.walk(root)
    val files = try walk.iterator().asScala.filter(Files.isRegularFile(_)).toSeq finally walk.close()
    val all = files.map(Files.size).sum.toDouble
    val live = files.filter(f => f.getFileName.toString.endsWith(".parquet") &&
      Tables.contains(root.relativize(f.getParent).toString)).map(Files.size).sum
    Seq(("space_amp", all / live, "ratio"))
  }
}

object TickWorkload {
  /** Dimension feed sizes: the bench fixture's 15,000 customers and 1,000
    * suppliers (TPC-H at scale factor 0.1), give or take a few per tick. */
  def customers(seed: Long, g: Int): Int = 14950 + Gen.rng(seed, 20, g).nextInt(100)
  def suppliers(seed: Long, g: Int): Int = 995 + Gen.rng(seed, 21, g).nextInt(10)

  /** Write tick `g`'s feed (events, customer, supplier) as `<dir>/<table>.parquet`. */
  def writeFeed(seed: Long, dir: String, g: Int): Unit = {
    import ParquetFiles._
    write(s"$dir/events.parquet", Seq("event_id" -> I64, "ts" -> TsMicros,
      "user_id" -> I64, "event_type" -> Str, "value" -> F64, "props" -> Str),
      for {
        s <- (0 until Gen.Symbols).iterator
        i <- g * NewPerTick until g * NewPerTick + Window
      } yield Seq(s * 10000000L + i, Gen.sessionMicros(s, i), Gen.userId(seed, s, i),
        "funding", Gen.fundingValue(seed, s, i), "{}"))
    write(s"$dir/customer.parquet", Seq("c_custkey" -> I64, "c_name" -> Str,
      "c_nationkey" -> I32, "c_acctbal" -> F64, "c_mktsegment" -> Str),
      (1 to customers(seed, g)).iterator.map { k =>
        val r = Gen.rng(seed, 22, g, k)
        Seq(k.toLong, s"Customer#$k", r.nextInt(25), r.nextInt(-99999, 999999) / 100.0, "BUILDING")
      })
    write(s"$dir/supplier.parquet", Seq("s_suppkey" -> I64, "s_name" -> Str,
      "s_nationkey" -> I32, "s_acctbal" -> F64),
      (1 to suppliers(seed, g)).iterator.map { k =>
        Seq(k.toLong, s"Supplier#$k", k % 25, Gen.rng(seed, 23, g, k).nextInt(0, 999999) / 100.0)
      })
  }

  /** Sessions per symbol in one feed: 20 symbols × 2,500 = 50,000 funding
    * rows, the funding rows one tick reads from the bench fixture (sf0.1:
    * half of its 100,000 events fall inside the 120-day slice). */
  val Window = 2500
  /** New sessions per symbol per tick: a 5-minute tick sees at most one
    * new funding session per symbol (the funding interval is 8 hours). */
  val NewPerTick = 1
  val MaxTicks = 64

  val Tables: Set[String] = Set("kucoin_active_futures", "kucoin_active_spot_pairs",
    "kucoin_lending_rates", "kucoin_funding_rates", "kucoin_funding_stats")
}
