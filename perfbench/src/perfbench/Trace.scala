package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `parent` is the enclosing span's id (0 for an
  * operation), `op` the id of the operation span it belongs to. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark-side counts of one operation, gathered by [[OpListener]] from
  * the events tagged with the operation's job group. */
final class OpCounts {
  var sqlExecutions, jobs, stages, tasks, failedTasks = 0L
  var taskRunMs, taskCpuNs, gcMs = 0L
  var inputBytes, inputRecords, outputBytes = 0L
  var shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  /** (launch, finish) epoch millis of every finished task. */
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Listener that files every job, stage, task, SQL execution and query
  * planning record under the job group of the operation that caused it.
  * Group ids are `pb-<op span id>`. */
final class OpListener extends SparkListener with QueryExecutionListener {
  private val byGroup = mutable.HashMap.empty[String, OpCounts]
  private val stageGroup = mutable.HashMap.empty[Int, String]

  private def counts(g: String): OpCounts =
    byGroup.getOrElseUpdate(g, new OpCounts)

  def take(group: String): OpCounts = synchronized {
    byGroup.remove(group).getOrElse(new OpCounts)
  }

  private def groupOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty(SparkContextGroupKey)))
      .filter(_.startsWith("pb-"))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    groupOf(e.properties).foreach { g =>
      counts(g).jobs += 1
      e.stageIds.foreach(stageGroup(_) = g)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageGroup.get(e.stageInfo.stageId).foreach(counts(_).stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val c = counts(g)
      c.tasks += 1
      if (!e.taskInfo.successful) c.failedTasks += 1
      c.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      Option(e.taskMetrics).foreach { m =>
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRecords += m.inputMetrics.recordsRead
        c.outputBytes += m.outputMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      s.jobGroupId.filter(_.startsWith("pb-")).foreach { g =>
        counts(g).sqlExecutions += 1
      }
    }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = phases(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = phases(qe)

  /** The job group of the operation running now. Query-execution
    * callbacks carry no job group; the tracer drains the bus before an
    * operation ends, so every callback of the operation arrives while
    * it is still the current one. */
  @volatile var currentGroup: Option[String] = None

  private def phases(qe: QueryExecution): Unit = synchronized {
    currentGroup.foreach { g =>
      val c = counts(g)
      val p = qe.tracker.phases
      c.analysisMs += p.get("analysis").map(_.durationMs).getOrElse(0L)
      c.optimizationMs += p.get("optimization").map(_.durationMs).getOrElse(0L)
      c.planningMs += p.get("planning").map(_.durationMs).getOrElse(0L)
    }
  }

  private val SparkContextGroupKey = "spark.jobGroup.id"
}

/** A finished operation: its span, its children and its Spark counts
  * (None when the operation ran untraced). */
final case class OpRecord(span: Span, children: Seq[Span],
    counts: Option[OpCounts]) {
  def seconds: Double = span.seconds

  /** Span time not covered by any child span. */
  def selfSeconds: Double = {
    val covered = Trace.unionNs(children.map(c => (c.startNs, c.endNs)))
    (span.endNs - span.startNs - covered) / 1e9
  }

  /** Wall time during which no task of this operation was running. */
  def driverOnlySeconds: Option[Double] = counts.map { c =>
    val busy = Trace.unionNs(c.taskIntervals.toSeq.map { case (a, b) =>
      (a * 1000000L, b * 1000000L)
    }) / 1e9
    math.max(0.0, span.seconds - busy)
  }
}

/** Spans kept in memory and written out when the run ends. With tracing
  * off, `op` and `child` only time the call: no listener, no job group,
  * no spans kept. */
final class Trace(spark: SparkSession) {
  private val listener = new OpListener
  private var nextId = 1L
  private var traced = false
  private var current: Option[(Span, mutable.ArrayBuffer[Span])] = None
  val spans = mutable.ArrayBuffer.empty[Span]

  def tracing: Boolean = traced

  /** Turn the tracer on or off between operations. */
  def setTracing(on: Boolean): Unit = if (on != traced) {
    PerfbenchBus.drain(spark.sparkContext)
    if (on) {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(listener)
    } else {
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(listener)
    }
    traced = on
  }

  /** Run one operation (closed loop: returns when the call returns). */
  def op[T](name: String)(f: => T): (T, OpRecord) = {
    val id = nextId; nextId += 1
    val kids = mutable.ArrayBuffer.empty[Span]
    val sc = spark.sparkContext
    if (traced) {
      sc.setJobGroup(s"pb-$id", name, interruptOnCancel = false)
      listener.currentGroup = Some(s"pb-$id")
    }
    val t0 = System.nanoTime()
    current = Some((Span(id, 0L, id, name, t0, 0L), kids))
    val out = try f finally {
      current = None
      if (traced) {
        sc.clearJobGroup()
        PerfbenchBus.drain(sc)
        listener.currentGroup = None
      }
    }
    val span = Span(id, 0L, id, name, t0, System.nanoTime())
    val counts = if (traced) {
      spans += span
      spans ++= kids
      Some(listener.take(s"pb-$id"))
    } else None
    (out, OpRecord(span, kids.toSeq, counts))
  }

  /** A child span around one public call inside the current operation. */
  def child[T](name: String)(f: => T): T = current match {
    case Some((opSpan, kids)) if traced =>
      val id = nextId; nextId += 1
      val t0 = System.nanoTime()
      val out = f
      kids += Span(id, opSpan.id, opSpan.id, name, t0, System.nanoTime())
      out
    case _ => f
  }
}

object Trace {
  /** Total length of the union of [start, end) intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
