package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ops.Sinks

/** Batch sink behaviors: S10 TSV staging roundtrip; footer row counts
  * agree with Spark's own count. */
class SinksSpec extends SparkSpec {

  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  test("tsvStaging writes tab-separated headerless CSV that roundtrips") {
    val path = tmp("tsv") + "/out"
    val df = Tables.nation(spark, "/root/testdata/sf0.001")
      .select("n_nationkey", "n_name", "n_regionkey")
      // plant a quote+tab value: the writer's RFC-4180 quoting and the
      // reader's matching escape must roundtrip it
      .withColumn("n_name",
        when(col("n_nationkey") === 0, lit("has \"quote\"\tand tab"))
          .otherwise(col("n_name")))
    Sinks.tsvStaging(df, path)
    val back = spark.read
      .option("sep", "\t").option("header", "false")
      .option("escape", "\"")
      .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
      .csv(path)
    assert(back.count() === df.count())
    assert(back.orderBy("n_nationkey").collect().toSeq ===
      df.orderBy("n_nationkey").collect().toSeq)
  }

  test("parquetRowCount equals Spark's count past hidden files") {
    import spark.implicits._
    val path = tmp("rowcount") + "/t"
    (1 to 50).map(i => (i % 3, i)).toDF("p", "v")
      .repartition(4).write.partitionBy("p").parquet(path)
    // entries Spark's file index skips: not parquet, so reading any of
    // them as a data file would throw
    def junk(rel: String): Unit = {
      val f = new java.io.File(s"$path/$rel")
      f.getParentFile.mkdirs()
      Files.write(f.toPath, "x".getBytes)
    }
    junk(".hidden")
    junk("_notes")
    junk("p=1/.part.tmp")
    junk("p=2/upload._COPYING_")
    junk("_tmp/part-0.parquet")
    assert(Sinks.parquetRowCount(spark, path) === 50L)
    assert(spark.read.parquet(path).count() === 50L)
  }
}
