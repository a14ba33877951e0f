package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Trailing-window statistics kernel — the reference's analytics core.
  *
  * Re-expresses the per-symbol driver loop of
  * /root/reference/scripts/funding_stats_etl.py:63-120 (six
  * `rolling(N).mean()` passes over a desc-sorted series, per symbol, plus a
  * latest-value pick and a `len(df) >= N` null gate) as ONE Spark window
  * pass:
  *
  *   - all horizon frames share the same window spec
  *     (`partitionBy(key).orderBy(time desc)`), so Catalyst plans a single
  *     Exchange + Sort + Window — one shuffle total regardless of how many
  *     horizons are requested. At 100 TB this is the difference between 6
  *     scans of the fact table (the reference's shape) and 1.
  *   - the count gate (null when history < N — funding_stats_etl.py:86,96-97)
  *     is an unbounded-frame `count` over the same spec, costing nothing
  *     extra.
  *   - the newest row per key is `row_number() == 1` over the same spec.
  *
  * Horizon frames grow from the partition start:
  * `rowsBetween(unboundedPreceding, N-1)`. Only the newest row survives
  * the `row_number() == 1` filter, and for that row the growing frame
  * and the sliding frame `rowsBetween(currentRow, N-1)` are the same
  * rows — there is nothing before the first row — added in the same
  * order, so the sums are bitwise equal for decimal and double values
  * alike. The cost differs: Spark re-aggregates a sliding frame from
  * scratch on every row, O(n·ΣN) additions per partition (435 per row
  * for the six reference horizons), while a growing frame adds one row
  * per output row, O(n). Every row of the partition still gets a value;
  * the filter runs after the Window operator.
  *
  * Numeric determinism: trailing means are computed as
  * `cast(sum(decimal) as double) / N` rather than floating `avg` so results
  * are bitwise-reproducible across engines and across partition layouts
  * (decimal addition is exact and associative; double addition is not).
  * Double values are summed newest-first, one row at a time.
  */
object Stats {

  /** A trailing horizon: output column name + number of most-recent rows. */
  final case class Horizon(name: String, sessions: Int)

  /** The reference's six horizons at 3 funding sessions/day
    * (funding_stats_etl.py:83: N = [3, 9, 21, 42, 90, 270]). */
  val referenceHorizons: Seq[Horizon] = Seq(
    Horizon("funding_24h", 3), Horizon("funding_3d", 9),
    Horizon("funding_7d", 21), Horizon("funding_14d", 42),
    Horizon("funding_30d", 90), Horizon("funding_90d", 270))

  /** One row per key: latest value + trailing mean per horizon (null when
    * the key has fewer than N observations).
    *
    * @param df        input observations
    * @param key       partition key column name (e.g. "symbol")
    * @param time      event-time column name, orders observations
    * @param value     numeric observation column (exact/decimal type
    *                  recommended for cross-engine determinism)
    * @param horizons  trailing windows to compute
    * @param latestCol output name for the newest observation
    */
  def trailing(
      df: DataFrame,
      key: String,
      time: String,
      value: Column,
      horizons: Seq[Horizon],
      latestCol: String = "latest"): DataFrame = {
    val w = Window.partitionBy(key).orderBy(col(time).desc)
    val wAll = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val base = df
      .withColumn("__v", value)
      .withColumn("__rn", row_number().over(w))
      .withColumn("__cnt", count(lit(1)).over(wAll))
    val withMeans = horizons.foldLeft(base) { (acc, h) =>
      // at the newest row (the only one kept) this frame is that row and
      // the N-1 after it in desc order: the N most recent observations
      val frame = w.rowsBetween(Window.unboundedPreceding, h.sessions - 1)
      acc.withColumn(
        h.name,
        when(col("__cnt") >= h.sessions,
          sum(col("__v")).over(frame).cast("double") / h.sessions)
          .otherwise(lit(null).cast("double")))
    }
    withMeans
      .filter(col("__rn") === 1)
      .withColumn(latestCol, col("__v").cast("double"))
      .drop("__v", "__rn", "__cnt")
  }

  /** Wall-clock variant: trailing mean over a time range rather than a row
    * count — the range-frame generalization noted in SURVEY.md §2.5. At
    * the newest row a window covers every observation whose epoch second
    * lies in `[t - seconds, t]`, ties included. The frame runs over epoch
    * seconds descending, `rangeBetween(unboundedPreceding, seconds)`: the
    * rows before the newest one are its peers, so at that row it equals
    * the ascending `rangeBetween(-seconds, 0)` frame, and it grows by
    * O(1) per row instead of being re-aggregated per row. The sum runs
    * newest-first; pass an exact (decimal) value for results that do
    * not depend on addition order. */
  def trailingByTime(
      df: DataFrame,
      key: String,
      time: String,
      value: Column,
      windows: Seq[(String, Long)]): DataFrame = {
    val w = Window.partitionBy(key).orderBy(col(time).cast("long").desc)
    val base = df
      .withColumn("__v", value)
      .withColumn("__rn", row_number().over(
        Window.partitionBy(key).orderBy(col(time).desc)))
    val withMeans = windows.foldLeft(base) { case (acc, (name, seconds)) =>
      val frame = w.rangeBetween(Window.unboundedPreceding, seconds)
      acc.withColumn(name, sum(col("__v")).over(frame).cast("double") /
        count(lit(1)).over(frame))
    }
    withMeans.filter(col("__rn") === 1).drop("__v", "__rn")
  }
}
