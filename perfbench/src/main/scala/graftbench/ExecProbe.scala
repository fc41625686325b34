package graftbench

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark execution counters, gathered by a `SparkListener` and a
  * `QueryExecutionListener` that the benchmark registers on its own
  * session. Jobs are attributed to the job group the benchmark set
  * when it launched them (`Groups.build` while a registry key builds
  * its frame, for instance), so eager work inside a key function is
  * told apart from the materialization the user waits for. */
final class ExecProbe(spark: SparkSession) {

  final class Totals {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var taskBusyMs = 0L
    var taskCpuNs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var scan = 0L
    var planMs = 0L
    var writeMs = 0L
    val jobsByGroup = mutable.Map.empty[String, Long].withDefaultValue(0L)
  }

  @volatile private var cur = new Totals

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      val t = cur
      t.synchronized { t.jobs += 1; t.jobsByGroup(g) += 1 }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val t = cur
      t.synchronized { t.stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val t = cur
        t.synchronized {
          t.tasks += 1
          t.taskBusyMs += m.executorRunTime
          t.taskCpuNs += m.executorCpuTime
          t.gcMs += m.jvmGCTime
          t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          t.scan += m.inputMetrics.bytesRead
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
      record(qe, ns)
    override def onFailure(fn: String, qe: QueryExecution,
                           e: Exception): Unit = record(qe, 0L)
    private def record(qe: QueryExecution, ns: Long): Unit = {
      val ph = qe.tracker.phases
      val ms = Seq("analysis", "optimization", "planning")
        .flatMap(ph.get).map(_.durationMs).sum
      // file writes (parquet outputs, artifacts, lake data directories)
      val write = qe.logical.find(_.nodeName.startsWith("InsertIntoHadoopFsRelation")).isDefined
      val t = cur
      t.synchronized {
        t.planMs += ms
        if (write) t.writeMs += ns / 1000000L
      }
    }
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Starts a fresh window: events already posted are delivered first,
    * so nothing from before the call lands in the new totals. */
  def reset(): Unit = {
    BenchBus.drain(spark.sparkContext)
    cur = new Totals
  }

  /** Totals since the last `reset`, after every posted event arrived. */
  def snapshot(): Totals = {
    BenchBus.drain(spark.sparkContext)
    cur
  }
}

object ExecProbe {
  /** Summed counters, possibly gathered in several processes. */
  final case class Sum(jobs: Long, stages: Long, tasks: Long, busyMs: Long,
                       cpuNs: Long, gcMs: Long, shuffleWrite: Long,
                       shuffleRead: Long, spill: Long, scan: Long)

  def sum(ts: Seq[ExecProbe#Totals]): Sum = Sum(
    ts.map(_.jobs).sum, ts.map(_.stages).sum, ts.map(_.tasks).sum,
    ts.map(_.taskBusyMs).sum, ts.map(_.taskCpuNs).sum, ts.map(_.gcMs).sum,
    ts.map(_.shuffleWrite).sum, ts.map(_.shuffleRead).sum,
    ts.map(_.spill).sum, ts.map(_.scan).sum)
}

/** Job-group names the workloads set around their calls. */
object Groups {
  val build = "bench.build"
  val exec = "bench.exec"
  val check = "bench.check"
  val setup = "bench.setup"

  def within[A](spark: SparkSession, group: String)(body: => A): A = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try body
    finally sc.clearJobGroup()
  }
}
