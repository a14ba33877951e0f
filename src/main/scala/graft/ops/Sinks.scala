package graft.ops

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Batch sinks (SURVEY.md S8-S10).
  *
  * The reference's TRUNCATE+COPY (active_futures_etl.py:96-104) and
  * to_sql(replace) (funding_stats_etl.py:123-128) are both replace
  * semantics. Spark's bare `mode("overwrite")` deletes the target before
  * the job commits, so [[overwriteParquet]] goes through the shared
  * stage-and-swap ([[AtomicDir]]): the previous table stays readable
  * until the final rename pair, and a crash at any point is healed on
  * the next call. Region-restricted rewrites and clustered layouts are
  * the snapshot format's job (`Snapshots.replaceWhere`,
  * `Snapshots.optimize`), whose manifest commits carry no
  * delete-before-commit window.
  */
object Sinks {

  /** S8/S9: crash-safe truncate-and-reload / drop-recreate-from-frame. */
  def overwriteParquet(df: DataFrame, path: String): Unit =
    AtomicDir.replaceWith(df.sparkSession, path)(_ => df)

  /** Row count of the parquet table at `path`, summed from the footers
    * of its data files on the driver: no Spark job, one footer read per
    * file. Equal to `spark.read.parquet(path).count()` because the files
    * are chosen the way Spark's file index chooses them: subdirectories
    * are walked, names starting with `.` or with `_` (unless they hold
    * `=`, a partition directory) are skipped along with in-flight
    * `._COPYING_` uploads; every other file is read as parquet. Meant
    * for tables a sink has just written, whose file count is small. */
  def parquetRowCount(spark: SparkSession, path: String): Long = {
    val root = new HPath(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(conf)
    def hidden(name: String): Boolean =
      (name.startsWith("_") && !name.contains("=")) ||
        name.startsWith(".") || name.endsWith("._COPYING_")
    def rows(st: FileStatus): Long =
      if (st.isDirectory) fs.listStatus(st.getPath).iterator
        .filterNot(c => hidden(c.getPath.getName)).map(rows).sum
      else {
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        try reader.getRecordCount finally reader.close()
      }
    rows(fs.getFileStatus(root))
  }

  /** S10: tab-separated, headerless CSV staging file
    * (to_csv(sep="\t", header=False), active_futures_etl.py:103).
    * escape='"' makes embedded quotes RFC-4180 doubled ("a""b") instead
    * of Spark's default backslash escaping — the convention every other
    * CSV reader (including the DuckDB oracle and the reference's COPY)
    * expects, so staged strings stay parseable outside Spark. */
  def tsvStaging(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite")
      .option("sep", "\t").option("header", "false")
      .option("escape", "\"")
      .csv(path)
}
