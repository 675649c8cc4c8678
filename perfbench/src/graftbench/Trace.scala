package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.catalog.{CreateTableEvent, DropTableEvent,
  ExternalCatalogEvent, ExternalCatalogEventListener, RenameTableEvent}
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec,
  QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** A timed part of one operation, recorded by the benchmark around its
  * call into a library layer. `kind` is "make" (the call that returns a
  * lazy frame) or "materialize" (collect, or an eager write/build); `layer`
  * names the module called. Times are System.nanoTime. */
final case class Seg(kind: String, layer: String, t0: Long, t1: Long)

/** One Spark job, as the listener saw it, with the counters of the
  * stages it ran. Times are epoch milliseconds. */
final class JobRec(val id: Int, val group: String, val start: Long) {
  var end: Long = -1L
  var stages, tasks, shuffles = 0
  var runMs, cpuNs, shRead, shWrite, spill = 0L
  var bytesRead, rowsRead, bytesWritten = 0L
}

/** Counters of one operation that come from outside the job tree: the
  * files its scans read and the catalog events seen while it ran. */
final class OpIo {
  var filesRead, catalogOps = 0L
}

/** Spark-side attribution for the traced run: a SparkListener for jobs
  * and stages (parented to operations by the job group the loop sets), a
  * QueryExecutionListener for file-scan metrics, and an external-catalog
  * listener for create/drop/rename events. Everything is held in memory
  * and read by the loop after each operation. */
final class SparkTrace(spark: SparkSession) {
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.HashMap[Int, Int]()
  @volatile private var current: OpIo = new OpIo

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs(e.jobId) = new JobRec(e.jobId, g, e.time)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val si = e.stageInfo
        stageJob.get(si.stageId).flatMap(jobs.get).foreach { j =>
          val m = si.taskMetrics
          j.stages += 1
          j.tasks += si.numTasks
          if (m != null) {
            // a stage that wrote shuffle output is a shuffle map stage
            if (m.shuffleWriteMetrics.recordsWritten > 0) j.shuffles += 1
            j.runMs += m.executorRunTime
            j.cpuNs += m.executorCpuTime
            j.shRead += m.shuffleReadMetrics.totalBytesRead
            j.shWrite += m.shuffleWriteMetrics.bytesWritten
            j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            j.bytesRead += m.inputMetrics.bytesRead
            j.rowsRead += m.inputMetrics.recordsRead
            j.bytesWritten += m.outputMetrics.bytesWritten
          }
        }
      }
  }

  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case r: ReusedExchangeExec => Nil
    case c: CommandResultExec => planNodes(c.commandPhysicalPlan)
    case other => other +: (other.children ++ other.subqueries)
      .flatMap(planNodes)
  }

  private def record(qe: QueryExecution): Unit = {
    val io = current
    planNodes(qe.executedPlan).foreach {
      case s: FileSourceScanExec =>
        val files = s.metrics.get("numFiles").map(_.value).getOrElse(0L)
        io.synchronized(io.filesRead += files)
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      try record(qe) catch { case _: Throwable => () }
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = ()
  }

  private val catalogListener = new ExternalCatalogEventListener {
    override def onEvent(e: ExternalCatalogEvent): Unit = e match {
      case _: CreateTableEvent | _: DropTableEvent | _: RenameTableEvent =>
        val io = current
        io.synchronized(io.catalogOps += 1)
      case _ =>
    }
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)
  spark.sharedState.externalCatalog.addListener(catalogListener)

  /** Start collecting for a new operation; returns its scan/catalog
    * counters, complete once [[finish]] has returned. */
  def begin(): OpIo = { current = new OpIo; current }

  /** Wait until every event posted so far has been delivered, then hand
    * over (and forget) the jobs of `group`. */
  def finish(group: String): Seq[JobRec] = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    synchronized {
      val mine = jobs.values.filter(_.group == group).toVector
      mine.foreach(j => jobs.remove(j.id))
      // jobs outside any traced group (setup, untraced twins) are dropped
      jobs.values.filter(_.end >= 0).map(_.id).toVector.foreach(jobs.remove)
      val live = jobs.keySet
      stageJob.filterInPlace((_, j) => live.contains(j))
      mine
    }
  }
}

/** Spans of one traced operation, written as JSON lines at the end of the
  * run: a root span per operation, `make` and `materialize` children, and
  * one span per Spark job, parented through the job group. `self_ms` is a
  * span's duration minus the part of it that its children cover, so the
  * self times of make, materialize (the driver gap outside make) and the
  * jobs add up to the root's wall. */
object Spans {
  private def esc(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ")

  def line(op: Int, id: String, parent: String, name: String, t0Ms: Double,
      t1Ms: Double, selfMs: Double, attrs: Seq[(String, Any)]): String = {
    val a = attrs.map {
      case (k, v: String) => s""""$k":"${esc(v)}""""
      case (k, v) => s""""$k":$v"""
    }
    (Seq(s""""op":$op""", s""""span":"$id"""", s""""parent":"$parent"""",
      s""""name":"${esc(name)}"""", f""""start_ms":$t0Ms%.3f""",
      f""""end_ms":$t1Ms%.3f""", f""""self_ms":$selfMs%.3f""") ++ a)
      .mkString("{", ",", "}")
  }
}
