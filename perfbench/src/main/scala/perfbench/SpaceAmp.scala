package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.ops.Snapshots

object SpaceAmp {
  /** Bytes on disk under the snapshot table directories over the bytes of
    * the data files their current versions reference. */
  def of(spark: SparkSession, dirs: String*): Double = {
    val disk = dirs.map { d =>
      val walk = Files.walk(Paths.get(d))
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally walk.close()
    }.sum
    val live = dirs.map(d => Snapshots.files(spark, d).collect().map(_.getAs[Long]("bytes")).sum).sum
    disk.toDouble / live
  }
}
