package perfbench

import org.apache.spark.sql.SparkSession

/** One operation of a workload's closed loop. `run` is the timed call into
  * the library; `check` then verifies its result against the generator's
  * model, outside the clock. `rows` is how many input rows the op
  * processes, for `rows_per_s`. */
final case class Op(kind: String, rows: Long, run: () => Unit, check: () => Boolean)

/** A workload: seeded inputs, a starting state built through the library,
  * and an endless sequence of ops.
  *
  * @param seed run seed; every input is a function of it
  * @param work scratch directory owned by this run
  */
abstract class Workload(val spark: SparkSession, val seed: Long, val work: String) {

  /** Op kinds in report order. */
  def kinds: Seq[String]

  /** Make the inputs. Not part of `setup_s`. */
  def generate(): Unit

  /** Build the starting state under `dir` through the library. */
  def setup(dir: String): Unit

  /** The op at loop position `i`, from 0. */
  def op(i: Int): Op

  /** Ops in one cycle of the op mix; the timed loop runs whole cycles. */
  def cycle: Int = kinds.size

  /** Highest op count the generated inputs support. */
  def maxOps: Int = 10000

  /** Final check of the state the loop left, against the model. */
  def finish(): Boolean = true

  /** Workload-specific end-to-end figures: name -> (value, unit). */
  def extraMetrics(): Seq[(String, Double, String)] = Nil

  /** Live data files per table directory, for the tracer's prune count. */
  def tableFiles(): Map[String, Int] = Map.empty
}
