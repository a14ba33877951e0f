package graft

import org.apache.spark.sql.types._

import graft.ops.Conform

class ConformClusterSpec extends SparkSpec {

  test("conform: reorder, cast, null-fill nullable, drop extras, fail on required") {
    import spark.implicits._
    val declared = StructType(Seq(
      StructField("symbol", StringType, nullable = false),
      StructField("funding_rate", DoubleType, nullable = true),
      StructField("volume", DoubleType, nullable = true)))
    val incoming = Seq(("0.0001", "BTCUSDTM", 7))
      .toDF("funding_rate", "symbol", "extra_col") // wrong order, extra, string-typed
    val out = Conform.conform(incoming, declared)
    assert(out.schema.fieldNames.toSeq === Seq("symbol", "funding_rate", "volume"))
    assert(out.schema("funding_rate").dataType === DoubleType)
    val r = out.collect().head
    assert(r.getString(0) === "BTCUSDTM")
    assert(r.getDouble(1) === 0.0001)
    assert(r.isNullAt(2))

    val missingRequired = Seq((0.1, 1.0)).toDF("funding_rate", "volume")
    val e = intercept[IllegalArgumentException] {
      Conform.conform(missingRequired, declared)
    }
    assert(e.getMessage.contains("symbol"))
  }
}
