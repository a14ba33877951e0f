package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: one timed interval at a layer boundary. Times are epoch
  * milliseconds; `parent` is the id of the span that caused it (-1 for an
  * op span) and `op` the op it belongs to. */
final case class Span(id: Int, name: String, start: Double, end: Double,
    parent: Int, op: Int)

/** Outside-in tracer for the traced run. Nothing in the library changes:
  * a SparkListener times and counts jobs and tasks, a
  * QueryExecutionListener reads each executed query's planning phases and
  * scans, and [[CountingFileSystem]] counts Hadoop FS calls. Spans stay in
  * memory and are written once, at the end of the run.
  *
  * Listener events arrive asynchronously, so [[end]] drains the listener
  * bus before it closes an op. The drain happens after the op's clock has
  * stopped. */
final class Tracer(spark: SparkSession) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var op = -1
  private var opSpanId = -1
  private var opStartMs = 0.0
  private val jobStarts = mutable.Map.empty[Int, (Long, (String, String))]
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val sqlSites = mutable.Map.empty[Long, String]
  private val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var fs0: Array[Double] = Array.empty
  private var gc0 = 0L

  /** Live data files per table directory, for `scan.files_pruned`. The
    * workload refreshes it before each op. */
  @volatile var tableFiles: Map[String, Int] = Map.empty

  private def newSpan(name: String, start: Double, end: Double, parent: Int): Int =
    synchronized {
      val id = nextId; nextId += 1
      spans += Span(id, name, start, end, parent, op)
      id
    }

  private val jobListener = new SparkListener {
    // A SQL job may be submitted from an adaptive-execution thread whose
    // own call site holds no library frame; its query's start event
    // carries the call site of the action that ran it.
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Tracer.this.synchronized {
        if (op >= 0) sqlSites(s.executionId) = s.details
      }
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      if (op >= 0) {
        val props = Option(e.properties)
        val sql = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => sqlSites.get(id.toLong))
        jobStarts(e.jobId) = (e.time, Tracer.moduleOf(sql.toSeq ++
          props.flatMap(p => Option(p.getProperty("callSite.long"))).toSeq ++
          e.stageInfos.map(_.details)))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStarts.remove(e.jobId).foreach { case (t0, (module, site)) =>
        jobIntervals += ((t0, e.time))
        acc("spark.jobs") += 1
        acc(s"jobs_s.$module") += (e.time - t0) / 1e3
        newSpan(s"job.$module $site", t0.toDouble, e.time.toDouble, opSpanId)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      if (op >= 0) {
        acc("spark.tasks") += 1
        val m = e.taskMetrics
        if (m != null) acc("spark.shuffle_write_mb") += m.shuffleWriteMetrics.bytesWritten / 1e6
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe)
  }

  private def record(funcName: String, qe: QueryExecution): Unit = synchronized {
    if (op >= 0) {
      acc("catalyst.actions") += 1
      for ((phase, summary) <- qe.tracker.phases
           if Tracer.Phases.contains(phase)) {
        acc(s"catalyst.${phase}_s") += summary.durationMs / 1e3
        newSpan(s"catalyst.$phase $funcName", summary.startTimeMs.toDouble,
          summary.endTimeMs.toDouble, opSpanId)
      }
      val plan = try Some(qe.executedPlan) catch { case _: Throwable => None }
      plan.toSeq.flatMap(Tracer.scans).foreach { scan =>
        def metric(n: String) = scan.metrics.get(n).map(_.value.toDouble).getOrElse(0.0)
        val files = metric("numFiles")
        acc("scan.files_read") += files
        acc("scan.rows") += metric("numOutputRows")
        val roots = scan.relation.location.rootPaths.map(_.toUri.getPath)
        tableFiles.find { case (dir, _) => roots.nonEmpty && roots.forall(_.startsWith(dir)) }
          .foreach { case (_, live) => acc("scan.files_pruned") += math.max(0.0, live - files) }
      }
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(queryListener)
  }

  def uninstall(): Unit = {
    PerfbenchBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(queryListener)
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Open op `id`: everything the listeners see from here to [[end]]
    * belongs to it. */
  def begin(id: Int, kind: String): Unit = {
    PerfbenchBridge.drainListenerBus(spark.sparkContext)
    synchronized {
      op = id
      acc.clear(); jobStarts.clear(); jobIntervals.clear(); sqlSites.clear()
      opStartMs = System.currentTimeMillis().toDouble
      opSpanId = newSpan(s"op.$kind", opStartMs, opStartMs, -1)
    }
    fs0 = CountingFileSystem.snapshot()
    gc0 = gcMs()
  }

  /** Close the current op, whose measured wall time was `wallS`, and
    * return its per-layer metrics. */
  def end(wallS: Double): Map[String, Double] = {
    val endMs = System.currentTimeMillis().toDouble
    val fs1 = CountingFileSystem.snapshot()
    val gc = (gcMs() - gc0) / 1e3
    PerfbenchBridge.drainListenerBus(spark.sparkContext)
    synchronized {
      val i = spans.indexWhere(_.id == opSpanId)
      spans(i) = spans(i).copy(end = endMs)
      val busy = Tracer.unionSeconds(jobIntervals.toSeq)
      val catalyst = Tracer.Phases.map(p => acc(s"catalyst.${p}_s")).sum
      val m = acc.toMap ++ Tracer.Modules.map(mod => s"jobs_s.$mod" -> acc(s"jobs_s.$mod")) ++
        CountingFileSystem.Names.zipWithIndex.map { case (n, j) => n -> (fs1(j) - fs0(j)) } ++
        Map("spark.busy_s" -> busy, "jvm.gc_s" -> gc, "op.wall_s" -> wallS,
          "driver.other_s" -> (wallS - busy - catalyst))
      op = -1
      Tracer.Counted.map(k => k -> m.getOrElse(k, 0.0)).toMap
    }
  }

  /** Write every span as one JSON object per line. */
  def writeSpans(path: java.nio.file.Path): Unit = synchronized {
    val lines = spans.map(s =>
      f"""{"id":${s.id},"name":"${s.name.replace("\"", "'")}","start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f,"parent":${s.parent},"op":${s.op}}""")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  val Phases: Seq[String] = Seq("analysis", "optimization", "planning")

  val Modules: Seq[String] =
    Seq("pipelines", "sinks", "snapshots", "sql", "corpus_ops", "bench", "other")

  /** Every per-op metric the tracer produces, in report order. */
  val Counted: Seq[String] =
    Seq("op.wall_s", "spark.jobs", "spark.tasks", "spark.shuffle_write_mb", "spark.busy_s") ++
      Phases.map(p => s"catalyst.${p}_s") ++
      Seq("catalyst.actions", "jvm.gc_s", "driver.other_s") ++
      CountingFileSystem.Names ++ Modules.map(m => s"jobs_s.$m") ++
      Seq("scan.files_read", "scan.files_pruned", "scan.rows")

  private val Sinks = Set("Upsert", "Sinks", "AtomicDir", "Ddl", "Delete", "Compact")
  private val SnapshotFiles = Set("Snapshots", "CommitCoordinator")
  private val CorpusOps = Set("TextDedup", "Similarity", "Graph")

  /** The repo module of a job and the frame it was decided by: the first
    * library or benchmark frame of its call site. */
  def moduleOf(callSites: Seq[String]): (String, String) = {
    val lines = callSites.iterator.flatMap(_.split("\n")).map(_.trim).toSeq
    val frame = lines.find(l => l.startsWith("graft.") || l.startsWith("perfbench."))
    frame.fold(("other", lines.headOption.getOrElse("?"))) { f =>
      val cls = f.takeWhile(_ != '(').split('.').dropRight(1)
      val obj = cls.lastOption.getOrElse("").takeWhile(_ != '$')
      val module =
        if (f.startsWith("perfbench.")) "bench"
        else if (cls.length > 1 && cls(1) == "pipelines") "pipelines"
        else if (cls.length > 1 && cls(1) == "sql") "sql"
        else if (Sinks(obj)) "sinks"
        else if (SnapshotFiles(obj)) "snapshots"
        else if (CorpusOps(obj)) "corpus_ops"
        else "other"
      (module, f)
    }
  }

  /** Executed file scans of a plan, looking through adaptive execution
    * and subqueries. */
  def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case s: QueryStageExec => scans(s.plan)
    case f: FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  /** Length of the union of [start, end] millisecond intervals, in
    * seconds: jobs overlap, so their summed time overstates busy time. */
  def unionSeconds(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1e3
  }
}
