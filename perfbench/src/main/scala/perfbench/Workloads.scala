package perfbench

import org.apache.spark.sql.SparkSession

object Workloads {
  val all: Map[String, (SparkSession, Long, String) => Workload] = Map(
    "tick" -> ((s, seed, w) => new TickWorkload(s, seed, w)),
    "ingest" -> ((s, seed, w) => new IngestWorkload(s, seed, w)),
    "corpus" -> ((s, seed, w) => new CorpusWorkload(s, seed, w)))

  /** Op kinds with their own per-layer breakdown (`<kind>.<metric>`). */
  val breakdownKinds: Seq[String] = IngestWorkload.Kinds
}
