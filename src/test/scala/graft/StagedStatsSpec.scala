package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ops.Snapshots

/** Round-15 optimization guard: staged-commit stats now come from the
  * parquet FOOTERS for footer-exact column types (ints, float/double,
  * boolean, date) instead of a per-commit read-back aggregate job —
  * this spec pins the LINE-LEVEL parity contract: the `#stats` lines a
  * commit writes must be byte-identical to what the aggregate path
  * renders via Spark's own cast-to-string, for every covered type and
  * for the fallback shapes (strings, decimals, timestamps, NaN
  * bounds). Divergence here would silently change pruning and the
  * stats-decided aggregates. */
class StagedStatsSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft_sstats").toFile.toString + "/t"

  /** The staged commit's #stats lines, parsed to
    * (file, col) -> (rows, nulls, min, max). */
  private def statsOf(dir: String): Map[(String, String),
      (Long, Long, String, String)] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val md = new org.apache.hadoop.fs.Path(root, "_manifests")
    val name = fs.listStatus(md).map(_.getPath.getName)
      .filter(_.matches("v[0-9]{9}")).max
    val in = fs.open(new org.apache.hadoop.fs.Path(md, name))
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().toList finally in.close()
    lines.filter(_.startsWith("#stats\t")).map { l =>
      val f = l.split('\t')
      ((f(1), java.net.URLDecoder.decode(f(3), "UTF-8")),
        (f(2).toLong, f(4).toLong, f(5), f(6)))
    }.toMap
  }

  /** What the old read-back aggregate would render for `col` over the
    * staged files: min/max/null-count via Spark's own cast-to-string —
    * the parity reference. */
  private def aggRendered(dir: String, c: String)
      : Map[String, (Long, Long, String, String)] = {
    spark.read.parquet(s"$dir/data/*")
      .groupBy(input_file_name().as("__f"))
      .agg(count(lit(1L)).as("rows"),
        min(col(c)).cast("string").as("mn"),
        max(col(c)).cast("string").as("mx"),
        count(col(c)).as("nn"))
      .collect().map { r =>
        val file = r.getString(0).split('/').takeRight(3).mkString("/")
        def opt(i: Int): String =
          if (r.isNullAt(i)) "null"
          else "v:" + java.net.URLEncoder.encode(r.getString(i), "UTF-8")
        file -> ((r.getLong(1), r.getLong(1) - r.getLong(4), opt(2), opt(3)))
      }.toMap
  }

  private def assertParity(dir: String, cols: Seq[String]): Unit = {
    val got = statsOf(dir)
    cols.foreach { c =>
      val want = aggRendered(dir, c)
      assert(want.nonEmpty, s"no staged files under $dir")
      want.foreach { case (file, exp) =>
        val g = got.getOrElse((file, c),
          fail(s"no #stats line for ($file, $c); have ${got.keys}"))
        assert(g == exp, s"stats mismatch for ($file, $c)")
      }
    }
  }

  test("footer-exact types render identically to the aggregate path") {
    import spark.implicits._
    val dir = tmp()
    val df = Seq(
      (1L, 7, 1.5e20, -0.0f, true, "2024-01-31"),
      (-9L, -3, 1.0e-7, 2.5f, false, "1969-12-31"),
      (Long.MaxValue, 0, -123456.789, Float.MaxValue, true, "2000-02-29"))
      .toDF("l", "i", "d", "f", "b", "ds")
      .withColumn("dt", col("ds").cast("date")).drop("ds")
    Snapshots.append(df, dir)
    assertParity(dir, Seq("l", "i", "d", "f", "b", "dt"))
  }

  test("infinities keep parity; NaN bounds fall back to the aggregate") {
    import spark.implicits._
    val dir = tmp()
    val df = Seq(
      (1L, Double.PositiveInfinity, 1.0),
      (2L, Double.NegativeInfinity, Double.NaN),
      (3L, 4.25, 2.0)).toDF("k", "inf_col", "nan_col")
    Snapshots.append(df.coalesce(1), dir)
    assertParity(dir, Seq("k", "inf_col", "nan_col"))
  }

  test("strings, decimals and timestamps keep the aggregate rendering") {
    import spark.implicits._
    val dir = tmp()
    val longStr = "z" * 200 // exercises the truncated-bounds discipline
    val df = Seq(
      (1L, "alpha", BigDecimal("12345.67"), "2024-01-01 00:00:00"),
      (2L, longStr, BigDecimal("-0.01"), "2024-06-15 12:34:56.789"))
      .toDF("k", "s", "dec", "tss")
      .withColumn("ts", col("tss").cast("timestamp")).drop("tss")
    Snapshots.append(df.coalesce(1), dir)
    val got = statsOf(dir)
    // string bounds truncate: min is a <=64-char prefix, max is bumped
    val (_, _, smn, smx) = got((got.keys.find(_._2 == "s").get))
    assert(smn.startsWith("v:alpha"))
    assert(smx == "v:" + java.net.URLEncoder.encode(
      "z" * 63 + "{", "UTF-8"))
    // decimal + timestamp render via Spark's cast (aggregate path)
    assertParity(dir, Seq("k", "dec"))
    val (_, _, tmn, tmx) = got(got.keys.find(_._2 == "ts").get)
    assert(tmn == "v:" + java.net.URLEncoder.encode(
      "2024-01-01 00:00:00", "UTF-8"), tmn)
    assert(tmx == "v:" + java.net.URLEncoder.encode(
      "2024-06-15 12:34:56.789", "UTF-8"), tmx)
  }

  test("nulls and all-null columns are counted exactly") {
    import spark.implicits._
    val dir = tmp()
    val df = Seq[(java.lang.Long, java.lang.Double)](
      (1L, null), (null, null), (3L, null))
      .toDF("k", "allnull")
    Snapshots.append(df.coalesce(1), dir)
    assertParity(dir, Seq("k", "allnull"))
    val got = statsOf(dir)
    val (_, nulls, mn, mx) = got(got.keys.find(_._2 == "allnull").get)
    assert(nulls == 3L && mn == "null" && mx == "null")
  }

  test("dates written in LEGACY rebase mode take the aggregate path") {
    import spark.implicits._
    val dir = tmp()
    val key = "spark.sql.parquet.datetimeRebaseModeInWrite"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "LEGACY")
    try {
      // pre-1582 dates: the file stores hybrid-calendar days, which
      // decode to other dates when read as proleptic Gregorian
      val df = Seq((1L, "1000-01-01"), (2L, "1500-06-15"), (3L, "2024-01-31"))
        .toDF("k", "ds").withColumn("dt", col("ds").cast("date")).drop("ds")
      Snapshots.append(df.coalesce(1), dir)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    // the writer really marked the file as legacy-rebased
    val data = new org.apache.hadoop.fs.Path(dir, "data")
    val fs = data.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.globStatus(new org.apache.hadoop.fs.Path(data, "*/*.parquet"))
      .filter(_.getLen > 0)
    assert(files.nonEmpty)
    files.foreach { st =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st,
          spark.sparkContext.hadoopConfiguration))
      try assert(r.getFooter.getFileMetaData.getKeyValueMetaData
        .containsKey("org.apache.spark.legacyDateTime"), st.getPath)
      finally r.close()
    }
    assertParity(dir, Seq("k", "dt"))
    val (_, _, mn, mx) = statsOf(dir).collectFirst {
      case ((_, "dt"), v) => v }.get
    assert(mn == "v:1000-01-01" && mx == "v:2024-01-31", (mn, mx))
  }
}
