package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one span occurrence: what Spark did between the span's
  * start and end, as reported by the listener bus. */
final class SpanTally {
  var wallNs = 0L
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var execCpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  var outputRecords = 0L
  /** Catalyst analysis + optimization + planning, summed over every query
    * execution the span ran; -1 until one execution reported its phases. */
  var planMs = -1L
  /** Executor run time per `graft.*` call-site frame of the stage. */
  val execRunMsByFrame = mutable.Map.empty[String, Long]
  private val jobStart = mutable.Map.empty[Int, Long]
  /** [start, end] wall-clock ms of every job of the span. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def jobStarted(id: Int, t: Long): Unit = { jobs += 1; jobStart(id) = t }
  def jobEnded(id: Int, t: Long): Unit =
    jobStart.remove(id).foreach(s => jobIntervals += ((s, t)))

  /** Milliseconds during which at least one job was running. */
  def jobBusyMs: Long = {
    var busy = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    jobIntervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) busy += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) busy += curE - curS
    busy
  }

  def wallS: Double = wallNs / 1e9
  /** Span wall time minus the time during which any job was running. */
  def driverS: Double = math.max(0.0, wallS - jobBusyMs / 1e3)
}

/** One SparkListener plus one QueryExecutionListener, attached only
  * around the traced operations of a traced run. Spans are opened from the benchmark's own code around each
  * call into a layer's public function; every bus event is charged to the
  * span that is open when it is delivered, and the bus is drained at both
  * span edges so no event leaks into a neighbour. */
final class Tracer(spark: SparkSession)
    extends SparkListener with QueryExecutionListener {
  @volatile private var current: SpanTally = null

  def attach(): Unit = {
    execFrame.clear()
    stageExec.clear()
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def span[A](f: => A): (A, SpanTally) = {
    val t = new SpanTally
    PerfbenchBus.drain(spark.sparkContext)
    current = t
    val t0 = System.nanoTime()
    try {
      val r = f
      t.wallNs = System.nanoTime() - t0
      (r, t)
    } finally {
      PerfbenchBus.drain(spark.sparkContext)
      current = null
    }
  }

  /** SQL execution id → the graft frame that started it; stage → the SQL
    * execution of its job. */
  private val execFrame = mutable.Map.empty[Long, String]
  private val stageExec = mutable.Map.empty[Int, Long]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      val own = Tracer.graftFrame(s.details)
      val frame =
        if (own.nonEmpty) own
        else s.rootExecutionId.flatMap(execFrame.get).getOrElse("")
      execFrame(s.executionId) = frame
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(id => e.stageIds.foreach(stageExec(_) = id.toLong))
    val t = current
    if (t != null) t.synchronized(t.jobStarted(e.jobId, e.time))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val t = current
    if (t != null) t.synchronized(t.jobEnded(e.jobId, e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val t = current
    if (t == null) return
    val info = e.stageInfo
    val m = info.taskMetrics
    t.synchronized {
      t.stages += 1
      t.tasks += info.numTasks
      if (m != null) {
        t.execCpuNs += m.executorCpuTime
        t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        t.inputBytes += m.inputMetrics.bytesRead
        t.inputRecords += m.inputMetrics.recordsRead
        t.outputBytes += m.outputMetrics.bytesWritten
        t.outputRecords += m.outputMetrics.recordsWritten
        // stages submitted from Spark's own threads (broadcasts, adaptive
        // query stages) carry no caller frame: take their SQL execution's
        val frame = Some(Tracer.graftFrame(info.details)).filter(_.nonEmpty)
          .orElse(stageExec.get(info.stageId).flatMap(execFrame.get))
          .getOrElse("")
        t.execRunMsByFrame(frame) =
          t.execRunMsByFrame.getOrElse(frame, 0L) + m.executorRunTime
      }
    }
  }

  private def phases(qe: QueryExecution): Unit = {
    val t = current
    if (t == null) return
    val ph = qe.tracker.phases
    if (ph.nonEmpty) t.synchronized {
      t.planMs = math.max(t.planMs, 0L) + ph.values.map(_.durationMs).sum
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = phases(qe)
}

object Tracer {
  /** The innermost `graft.*` frame of a stage's call site (the engine
    * function that triggered the job), without its line number. */
  def graftFrame(details: String): String =
    details.linesIterator.map(_.trim)
      .find(l => l.startsWith("graft."))
      .map(l => l.takeWhile(_ != '('))
      .getOrElse("")
}
