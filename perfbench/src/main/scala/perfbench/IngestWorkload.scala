package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.ops.Snapshots

/** `ingest`: a closed loop of commits and reads on a funding-rate
  * snapshot table.
  *
  * One cycle of the op mix is seven commits and two reads. The commits:
  * an `append` of new sessions, a retention `deleteWhere`, an
  * `updateWhere` correction, a keyed `Snapshots.merge` upsert (updates of
  * live keys plus new sessions), and SQL MERGE, UPDATE and DELETE through
  * the graft catalog (the DELETE with deletion vectors). The reads: a
  * `lookup` (a point `readWhere` and a `countWhere` over one symbol's
  * range) and a `history` (`read` of the version before the cycle's merge,
  * and the `changeFeed` of that merge). The table's version count grows
  * through the run. Every commit checks the version it committed, every
  * read its rows, count or checksum; the run ends by comparing the full
  * table with the model.
  */
final class IngestWorkload(spark: SparkSession, seed: Long, work: String)
    extends Workload(spark, seed, work) {
  import IngestWorkload._

  val kinds: Seq[String] = Kinds
  override def cycle: Int = Mix.size

  private var t: FundingTable = _
  private var nextSession = 0
  private var lowWater = 0
  private var expectVersion = -1
  /** The table before and after the cycle's keyed merge, and the version
    * the merge committed; what `history` reads back. */
  private var preMerge = Map.empty[(Int, Int), Double]
  private var postMerge = Map.empty[(Int, Int), Double]
  private var mergeVersion = -1

  def generate(): Unit = ()

  def setup(dir: String): Unit = {
    t = new FundingTable(spark, work, "setup", "funding")
    for (b <- 0 until InitialBatches) {
      val rows = for (s <- 0 until Gen.Symbols; i <- b * BatchSessions until (b + 1) * BatchSessions)
        yield (s, i) -> Gen.fundingValue(seed, s, i) / 1e4
      Snapshots.append(t.frame(rows), t.dir)
      t.model ++= rows
    }
    nextSession = InitialBatches * BatchSessions
    lowWater = 0
    expectVersion = t.version
  }

  /** A commit op: `run` commits, the check wants the next version. */
  private def commit(kind: String, rows: Int, body: => Unit): Op = {
    require(rows > 0, s"$kind op would change nothing")
    expectVersion += 1
    val want = expectVersion
    Op(kind, rows, () => body, () => t.version == want)
  }

  private def newSessions(n: Int): Seq[((Int, Int), Double)] = {
    val rows = for (s <- 0 until Gen.Symbols; i <- nextSession until nextSession + n)
      yield (s, i) -> Gen.fundingValue(seed, s, i) / 1e4
    nextSession += n
    rows
  }

  /** `n` distinct live keys with new rates, each different from the
    * key's current rate, so every update shows in the change feed. */
  private def updates(i: Int, n: Int): Seq[((Int, Int), Double)] = {
    val live = t.model.keys.toIndexedSeq.sorted
    val r = Gen.rng(seed, 30, i)
    Gen.shuffle(seed, 31L + i, live).take(n).map(k => k -> (t.model(k) + r.nextInt(1, 1000) / 1e6))
  }

  /** A read op: it commits nothing and counts no rows for `rows_per_s`. */
  private def read[A](kind: String, body: => A)(check: A => Boolean): Op = {
    var got: Option[A] = None
    Op(kind, 0, () => got = Some(body), () => got.exists(check))
  }

  def op(i: Int): Op = {
    val m = t.model
    val sym = Gen.rng(seed, 32, i).nextInt(Gen.Symbols)
    Mix(i % Mix.size) match {
      case "merge" =>
        val src = updates(i, MergeUpdates) ++ newSessions(MergeNewSessions)
        val df = t.frame(src)
        preMerge = m.toMap
        m ++= src
        postMerge = m.toMap
        val op = commit("merge", src.size, Snapshots.merge(spark, t.dir, df, FundingTable.Keys))
        mergeVersion = expectVersion
        op
      case "append" =>
        val src = newSessions(AppendSessions)
        val df = t.frame(src)
        m ++= src
        commit("append", src.size, Snapshots.append(df, t.dir))
      case "delete" =>
        lowWater += RetentionStep
        val gone = m.keys.filter(_._2 < lowWater).toSeq
        m --= gone
        val pred = t.before(lowWater)
        commit("delete", gone.size, Snapshots.deleteWhere(spark, t.dir, pred))
      case "update" =>
        val (from, until) = (lowWater + 30, lowWater + 60)
        val hit = m.keys.filter(k => k._1 == sym && k._2 >= from && k._2 < until).toSeq
        hit.foreach(k => m(k) = m(k) * 2)
        val pred = t.symbolRange(sym, from, until)
        commit("update", hit.size,
          Snapshots.updateWhere(spark, t.dir, pred, Seq("funding_rate" -> col("funding_rate") * 2)))
      case "sql_merge" =>
        val src = updates(i, MergeUpdates) ++ newSessions(MergeNewSessions)
        t.frame(src).createOrReplaceTempView("ingest_src")
        m ++= src
        commit("sql_merge", src.size, spark.sql(
          s"""MERGE INTO ${t.sqlName} t USING ingest_src s
             |ON t.symbol = s.symbol AND t.funding_time = s.funding_time
             |WHEN MATCHED THEN UPDATE SET funding_rate = s.funding_rate
             |WHEN NOT MATCHED THEN INSERT (symbol, funding_time, funding_rate)
             |  VALUES (s.symbol, s.funding_time, s.funding_rate)""".stripMargin))
      case "sql_update" =>
        val (from, until) = (lowWater + 40, lowWater + 80)
        val s2 = (sym + 7) % Gen.Symbols
        val hit = m.keys.filter(k => k._1 == s2 && k._2 >= from && k._2 < until).toSeq
        hit.foreach(k => m(k) = m(k) * 2)
        commit("sql_update", hit.size, spark.sql(
          s"UPDATE ${t.sqlName} SET funding_rate = funding_rate * 2 WHERE ${t.sqlSymbolRange(s2, from, until)}"))
      case "sql_delete" =>
        val (from, until) = (lowWater, lowWater + 30)
        val s3 = (sym + 13) % Gen.Symbols
        val gone = m.keys.filter(k => k._1 == s3 && k._2 >= from && k._2 < until).toSeq
        m --= gone
        commit("sql_delete", gone.size, withDeletionVectors(spark.sql(
          s"DELETE FROM ${t.sqlName} WHERE ${t.sqlSymbolRange(s3, from, until)}")))
      case "lookup" =>
        val keys = m.keys.toIndexedSeq.sorted
        val k = keys(Gen.rng(seed, 33, i).nextInt(keys.size))
        val (s4, from) = ((sym + 3) % Gen.Symbols, lowWater + 100)
        val want = m.keys.count(x => x._1 == s4 && x._2 >= from && x._2 < from + CountSessions)
        read("lookup", (t.rowsOf(Snapshots.readWhere(spark, t.dir, t.symbolRange(k._1, k._2, k._2 + 1))),
          Snapshots.countWhere(spark, t.dir, t.symbolRange(s4, from, from + CountSessions)).count)) {
          case (row, n) => row == Map(k -> m(k)) && n == want
        }
      case "history" =>
        val (v, before, after) = (mergeVersion, preMerge, postMerge)
        read("history", (t.checksumOf(Snapshots.read(spark, t.dir, v - 1)),
          t.feedChecksumOf(Snapshots.changeFeed(spark, t.dir, v - 1, v)))) {
          case (old, feed) =>
            val (wantOld, wantFeed) = (FundingTable.checksum(before), FundingTable.feedChecksum(before, after))
            if (old != wantOld) System.err.println(s"history: version ${v - 1} reads $old, model $wantOld")
            if (feed != wantFeed) System.err.println(s"history: change feed of v$v is $feed, model $wantFeed")
            old == wantOld && feed == wantFeed
        }
    }
  }

  private def withDeletionVectors[A](body: => A): A = {
    spark.conf.set(DvConf, "true")
    try body finally spark.conf.unset(DvConf)
  }

  override def finish(): Boolean = {
    val table = t.read()
    val ok = table == t.model
    if (!ok) System.err.println(s"ingest final state: table ${table.size} rows, model " +
      s"${t.model.size}, ${FundingTable.changed(table, t.model)} keys differ")
    ok
  }

  override def tableFiles(): Map[String, Int] = Map(t.dir -> t.liveFiles())

  override def extraMetrics(): Seq[(String, Double, String)] =
    Seq(("space_amp", SpaceAmp.of(spark, t.dir), "ratio"))
}

object IngestWorkload {
  val Kinds: Seq[String] = Seq("merge", "append", "delete", "update", "sql_merge",
    "sql_update", "sql_delete", "lookup", "history")
  /** One of each kind. The first op of a run is the coldest, so it is the
    * cheapest kind; `history` reads back the cycle's merge. */
  val Mix: Seq[String] = Seq("append", "delete", "update", "merge", "sql_merge",
    "sql_update", "sql_delete", "lookup", "history")
  val DvConf = "spark.graft.sql.deletionVectors"
  /** The starting table: 20 symbols × 2,500 sessions = 50,000 rows, the
    * funding history one tick of the bench fixture carries (see
    * [[TickWorkload.Window]]). */
  val InitialBatches = 1
  val BatchSessions = 2500
  /** A merge source is 1,000 rows, the batch one trigger of the funding
    * stream carries (FundingStatsStream, 1,000 rows across 20 symbols):
    * 500 updates of live keys and 25 new sessions per symbol. An append
    * is one such batch of new sessions. */
  val MergeUpdates = 500
  val MergeNewSessions = 25
  val AppendSessions = 50
  /** Sessions the retention delete drops per cycle, about what the cycle
    * adds, so the table stays near its starting size. */
  val RetentionStep = 100
  /** Sessions of one symbol a `lookup` counts. */
  val CountSessions = 150
}
