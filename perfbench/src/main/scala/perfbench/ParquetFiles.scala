package perfbench

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser

/** Writes generated input tables as single parquet files with the plain
  * parquet writer: no Spark job, so making inputs costs milliseconds and
  * never shows in a trace. */
object ParquetFiles {

  sealed trait Type
  case object I64 extends Type
  case object I32 extends Type
  case object F64 extends Type
  case object Str extends Type
  /** Epoch microseconds, read by Spark as a TIMESTAMP. */
  case object TsMicros extends Type

  def write(path: String, columns: Seq[(String, Type)], rows: Iterator[Seq[Any]]): Unit = {
    val fields = columns.map {
      case (n, I64) => s"required int64 $n;"
      case (n, I32) => s"required int32 $n;"
      case (n, F64) => s"required double $n;"
      case (n, Str) => s"required binary $n (STRING);"
      case (n, TsMicros) => s"required int64 $n (TIMESTAMP(MICROS,true));"
    }
    val schema = MessageTypeParser.parseMessageType(fields.mkString("message t {", " ", "}"))
    val out = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(out.getParent)
    val writer = ExampleParquetWriter.builder(new LocalOutputFile(out)).withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try rows.foreach { r =>
      val g = groups.newGroup()
      columns.zip(r).foreach {
        case ((n, I64 | TsMicros), v) => g.append(n, v.asInstanceOf[Long])
        case ((n, I32), v) => g.append(n, v.asInstanceOf[Int])
        case ((n, F64), v) => g.append(n, v.asInstanceOf[Double])
        case ((n, Str), v) => g.append(n, v.asInstanceOf[String])
      }
      writer.write(g)
    } finally writer.close()
  }
}
