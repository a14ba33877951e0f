package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's main program:
  *
  * {{{
  * Main --workload <tick|ingest|corpus> --seed <n> --seconds <s> --trace <0|1>
  * }}}
  *
  * One process, one client, one outstanding op (a closed loop). The run
  * starts the session, generates the seeded inputs, builds the starting
  * state (`setup_s` covers both session start and this), then runs whole
  * cycles of the op mix until `--seconds` have passed (at least
  * one), checking each op's result against the generator's model.
  *
  * With `--trace 0` the last stdout line carries the end-to-end metrics.
  * With `--trace 1` every timed op is traced; the last line carries the
  * per-layer means per op, and every span is written under
  * `perfbench/out/`.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, not $t")
      })
  }

  /** Spark task slots. Two, not one per core: on a shared host one slow
    * core stalls every stage of a `local[4]` job behind its straggler
    * task, and run-to-run spread on a 4-core VM fell from about 30% to 5%
    * with two slots, at the same median. */
  val Cores: Int = math.min(2, Runtime.getRuntime.availableProcessors)

  def session(work: String, trace: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.catalog.graft", "graft.sql.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", work)
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
    if (trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
    b.getOrCreate()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest of p50/p75/p90/p95/p99 with at least ten samples above
    * it, with its name; None below 20 samples. */
  def tail(xs: Seq[Double]): Option[(String, Double)] = {
    val s = xs.sorted
    Seq(99, 95, 90, 75, 50).find(p => s.size * (100 - p) / 100.0 >= 10).map { p =>
      (s"p$p", s(math.min(s.size - 1, math.ceil(s.size * p / 100.0).toInt - 1)))
    }
  }

  private def heapUsedMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    mem.getHeapMemoryUsage.getUsed / 1e6
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }

  def fmt(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.math.BigDecimal.valueOf(x).toPlainString

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val a = parse(argv)
    val make = Workloads.all.getOrElse(a.workload,
      throw new IllegalArgumentException(
        s"unknown workload ${a.workload}; one of ${Workloads.all.keys.mkString(", ")}"))
    val base = Paths.get(sys.props.getOrElse("perfbench.dir", "perfbench")).toAbsolutePath
    val work = base.resolve("work").resolve(
      s"${a.workload}-s${a.seed}-t${if (a.trace) 1 else 0}-${ProcessHandle.current.pid}")
    deleteTree(work)
    Files.createDirectories(work)
    val spark = session(work.toString, a.trace)
    try {
      val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
      val line = run(spark, a, make, work.toString, sessionS,
        base.resolve("out").resolve(s"${a.workload}-seed${a.seed}-spans.jsonl"))
      println(line)
    } finally {
      spark.stop()
      deleteTree(work)
    }
  }

  final case class Sample(kind: String, seconds: Double, rows: Long, layer: Map[String, Double])

  def run(spark: SparkSession, a: Args,
      make: (SparkSession, Long, String) => Workload,
      work: String, sessionS: Double, spanFile: Path): String = {
    val wl = make(spark, a.seed, work)
    val genT = System.nanoTime()
    wl.generate()
    val generateS = (System.nanoTime() - genT) / 1e9
    val setupT = System.nanoTime()
    wl.setup(s"$work/setup")
    val setupS = (System.nanoTime() - setupT) / 1e9
    val tracer = if (a.trace) Some(new Tracer(spark)) else None

    var attempted = 0
    var failed = 0
    val samples = mutable.ArrayBuffer.empty[Sample]
    def runOp(i: Int): Unit = {
      val op = wl.op(i)
      tracer.foreach { t => t.tableFiles = wl.tableFiles(); t.begin(i, op.kind) }
      val t0 = System.nanoTime()
      val threw = try { op.run(); None } catch { case e: Throwable => Some(e) }
      val dt = (System.nanoTime() - t0) / 1e9
      val layer = tracer.map(_.end(dt)).getOrElse(Map.empty)
      val ok = threw.isEmpty && (try op.check() catch {
        case e: Throwable => System.err.println(s"check of op $i (${op.kind}) threw: $e"); false
      })
      threw.foreach(e => System.err.println(s"op $i (${op.kind}) threw: $e"))
      if (!ok) System.err.println(s"op $i (${op.kind}) failed its check")
      attempted += 1
      if (!ok) failed += 1
      samples += Sample(op.kind, dt, op.rows, layer)
    }

    // Whole cycles of the op mix until --seconds have passed, so every run
    // measures the same mix of kinds. The heap is read once, after the
    // first cycle, so it does not depend on how many cycles fit.
    tracer.foreach(_.install())
    val loopStart = System.nanoTime()
    var i = 0
    var heapMb = Double.NaN
    while ((i == 0 || (System.nanoTime() - loopStart) / 1e9 < a.seconds) &&
      i + wl.cycle <= wl.maxOps) {
      (0 until wl.cycle).foreach(j => runOp(i + j))
      i += wl.cycle
      if (heapMb.isNaN) heapMb = heapUsedMb()
    }
    tracer.foreach(_.uninstall())
    if (!wl.finish()) {
      System.err.println("final state check failed: every op of the run counts as failed")
      failed = attempted
    }

    val opP50 = median(samples.map(_.seconds).toSeq)
    val opMean = samples.map(_.seconds).sum / samples.size
    val rowsPerS = samples.map(_.rows).sum / samples.map(_.seconds).sum
    val setupTotal = sessionS + setupS

    // Human-readable report: every end-to-end figure this workload has.
    val report = mutable.ArrayBuffer[(String, Double, String)](
      ("setup_s", setupTotal, "s"),
      ("op_mean_s", opMean, "s"),
      ("op_p50_s", opP50, "s"),
      ("rows_per_s", rowsPerS, "rows/s"),
      ("retained_heap_mb", heapMb, "MB"),
      ("error_rate", failed.toDouble / math.max(1, attempted), "ratio"))
    tail(samples.map(_.seconds).toSeq).foreach { case (p, v) =>
      report += (("op_tail_s", v, s"s@$p")) }
    report ++= wl.extraMetrics()
    wl.kinds.foreach { k =>
      val ks = samples.filter(_.kind == k).map(_.seconds).toSeq
      if (ks.nonEmpty && wl.kinds.size > 1) report += ((s"$k.p50_s", median(ks), "s"))
    }
    println(f"run workload=${a.workload} seed=${a.seed} trace=${a.trace} ops=$attempted " +
      f"generate_s=$generateS%.3f session_s=$sessionS%.3f setup_tables_s=$setupS%.3f " +
      s"local[$Cores]")
    println("op_s " + samples.map(x => f"${x.kind}:${x.seconds}%.3f").mkString(" "))
    report.foreach { case (n, v, u) => println(s"metric $n = ${fmt(v)} $u") }

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", setupTotal, "s"),
        ("op_mean_s", opMean, "s"),
        ("rows_per_s", rowsPerS, "rows/s"))
      else {
        tracer.foreach(_.writeSpans(spanFile))
        layerMetrics(samples.toSeq) :+ (("jvm.retained_heap_mb", heapMb, "MB"))
      }
    val body = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${fmt(v)}, "unit": "$u"}""" }.mkString(", ")
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}"""
  }

  /** Per-op-kind breakdown, limited to the metrics a layer change most
    * likely moves. */
  val PerKindMetrics: Seq[String] =
    Seq("spark.jobs", "spark.busy_s", "catalyst.analysis_s", "driver.other_s", "fs.open")

  def unitOf(m: String): String =
    if (m.endsWith("_s") || m.startsWith("jobs_s.")) "s" else if (m.endsWith("_mb")) "MB" else "count"

  /** Mean per op of every tracer metric, and the same per kind for the
    * kinds with a breakdown. `op.wall_s` is the traced run's mean op time:
    * its ratio to the untraced run's `op_mean_s` on the same seed is the
    * tracing overhead. */
  def layerMetrics(traced: Seq[Sample]): Seq[(String, Double, String)] = {
    def mean(ss: Seq[Sample], m: String) =
      if (ss.isEmpty) 0.0 else ss.map(_.layer.getOrElse(m, 0.0)).sum / ss.size
    val overall = Tracer.Counted.filterNot(_ == "scan.rows").map(m => (m, mean(traced, m), unitOf(m)))
    val rowsPerResult = traced.map(_.layer.getOrElse("scan.rows", 0.0)).sum /
      math.max(1L, traced.map(_.rows).sum)
    val perKind = for {
      k <- Workloads.breakdownKinds
      m <- PerKindMetrics
    } yield (s"$k.$m", mean(traced.filter(_.kind == k), m), unitOf(m))
    overall ++ Seq(("scan.rows_per_result", rowsPerResult, "ratio")) ++ perKind
  }
}
