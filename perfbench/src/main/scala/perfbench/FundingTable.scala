package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.apache.spark.sql.types._

import graft.ops.Snapshots

/** A funding-rate-shaped snapshot table (symbol, funding_time,
  * funding_rate) keyed by (symbol, funding_time), and its model: the map of
  * live keys to rates the table must hold. Keys are (symbol index, session
  * index); [[Gen.sessionMicros]] turns them into funding times. The table
  * is addressed both by directory (the Snapshots verbs) and by catalog name
  * (SQL), which map to the same bytes. */
final class FundingTable(spark: SparkSession, warehouse: String,
    namespace: String, name: String) {
  import FundingTable._

  val dir: String = s"$warehouse/$namespace/$name"
  val sqlName: String = s"graft.`$namespace`.`$name`"
  val model: mutable.Map[(Int, Int), Double] = mutable.Map.empty

  def frame(rows: Iterable[((Int, Int), Double)]): DataFrame =
    spark.createDataFrame(rows.map { case ((s, i), r) =>
      Row(Gen.symbol(s), java.time.Instant.ofEpochSecond(0, Gen.sessionMicros(s, i) * 1000L), r)
    }.toSeq.asJava, Schema)

  /** `funding_time < session i` of every symbol (symbols sit seconds apart
    * inside a 15-minute session). */
  def before(i: Int): Column = col("funding_time") < lit(instant(0, i))

  def symbolRange(s: Int, from: Int, until: Int): Column =
    col("symbol") === Gen.symbol(s) && col("funding_time") >= lit(instant(s, from)) &&
      col("funding_time") < lit(instant(s, until))

  def sqlSymbolRange(s: Int, from: Int, until: Int): String =
    s"symbol = '${Gen.symbol(s)}' AND funding_time >= TIMESTAMP '${sqlTs(s, from)}' " +
      s"AND funding_time < TIMESTAMP '${sqlTs(s, until)}'"

  /** The table's current rows as the model's key -> rate map. */
  def read(): Map[(Int, Int), Double] = rowsOf(Snapshots.read(spark, dir))

  def version: Int = Snapshots.currentVersion(spark, dir).getOrElse(-1)

  /** A frame's rows as the model's key -> rate map. */
  def rowsOf(df: DataFrame): Map[(Int, Int), Double] =
    df.select("symbol", "funding_time", "funding_rate").collect().iterator
      .map(r => keyOf(r.getString(0), r.getTimestamp(1)) -> r.getDouble(2)).toMap

  /** A frame's (count, exact sum of rates at 6 decimals, sum of session
    * indexes), aggregated by Spark; compare with [[FundingTable.checksum]]. */
  def checksumOf(df: DataFrame): (Long, BigDecimal, Long) = {
    val r = df.agg(count(lit(1)), sum(col("funding_rate").cast("decimal(18,6)")),
      sum(((col("funding_time").cast("long") * 1000000L - lit(Gen.SliceStartMicros) -
        lit(3600L * 1000000L)) / Gen.SessionMicros).cast("long"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)),
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  /** A change feed's rows and exact rate sum per change type. */
  def feedChecksumOf(feed: DataFrame): Map[String, (Long, BigDecimal)] =
    feed.groupBy("_change_type")
      .agg(count(lit(1)), sum(col("funding_rate").cast("decimal(18,6)"))).collect()
      .map(row => row.getString(0) -> (row.getLong(1), BigDecimal(row.getDecimal(2)))).toMap

  /** Data files of the current version, for the tracer's prune count. */
  def liveFiles(): Int = Snapshots.files(spark, dir).count().toInt
}

object FundingTable {
  val Keys: Seq[String] = Seq("symbol", "funding_time")

  val Schema: StructType = StructType(Seq(
    StructField("symbol", StringType), StructField("funding_time", TimestampType),
    StructField("funding_rate", DoubleType)))

  def instant(s: Int, i: Int): java.time.Instant =
    java.time.Instant.ofEpochSecond(0, Gen.sessionMicros(s, i) * 1000L)

  def sqlTs(s: Int, i: Int): String =
    java.time.LocalDateTime.ofInstant(instant(s, i), java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS"))

  /** (symbol index, session index) of a stored row. */
  def keyOf(symbol: String, t: java.sql.Timestamp): (Int, Int) = {
    val s = symbol.stripPrefix("SYM").stripSuffix("USDTM").toInt
    val micros = t.getTime / 1000 * 1000000L + t.getNanos / 1000 % 1000000
    val i = ((micros - Gen.sessionMicros(s, 0)) / Gen.SessionMicros).toInt
    require(Gen.sessionMicros(s, i) == micros, s"$symbol at $t is not a generated session")
    (s, i)
  }

  private def dec(x: Double): BigDecimal = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)

  /** (count, exact sum of rates at 6 decimals, sum of session indexes). */
  def checksum(rows: collection.Map[(Int, Int), Double]): (Long, BigDecimal, Long) =
    (rows.size.toLong, rows.valuesIterator.map(dec).sum, rows.keysIterator.map(_._2.toLong).sum)

  /** The change feed of one commit from state `a` to state `b`: rows and
    * exact rate sum per change type. Unchanged rows do not appear; a key
    * on both sides is an update (pre- and post-image). */
  def feedChecksum(a: collection.Map[(Int, Int), Double],
      b: collection.Map[(Int, Int), Double]): Map[String, (Long, BigDecimal)] = {
    val out = mutable.Map.empty[String, List[Double]].withDefaultValue(Nil)
    (a.keySet ++ b.keySet).foreach { k =>
      (a.get(k), b.get(k)) match {
        case (None, Some(y)) => out("insert") ::= y
        case (Some(x), None) => out("delete") ::= x
        case (Some(x), Some(y)) if x != y =>
          out("update_preimage") ::= x; out("update_postimage") ::= y
        case _ =>
      }
    }
    out.map { case (k, xs) => k -> (xs.size.toLong, xs.map(dec).sum) }.toMap
  }

  /** Keys whose presence or value differs between two states. */
  def changed(a: collection.Map[(Int, Int), Double], b: collection.Map[(Int, Int), Double]): Int =
    (a.keySet ++ b.keySet).count(k => a.get(k) != b.get(k))
}
