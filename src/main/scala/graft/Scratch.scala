package graft

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.graft.ListenerBusShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener,
  StreamingQueryProgress}

/** Dev harness: time named board rows N times in one JVM, on Bench's
  * session ([[GraftSession.boardBuilder]]), and attribute every rep from
  * the listener bus. Reps are not warmed, so rep 1 shows first-run
  * codegen/JIT cost and later reps the steady state Bench's medians see.
  *
  * Usage:
  *   [SPARK_GRAFT_ONLY=q1,q2] [SPARK_GRAFT_REPS=3] [SPARK_GRAFT_SF_DIR=dir]
  *   [SPARK_GRAFT_CPUS=32] [SPARK_GRAFT_CONF="k=v;k2=v2"]
  *   runMain graft.Scratch
  * An empty or unset SPARK_GRAFT_ONLY runs every board row.
  *
  * Output per rep (`scripts/bench_ab.py` parses the prefix up to `s`):
  *   [scratch] run<r> <query>: <wall> s jobs= stages= tasks= run= cpu= gc=
  *     shuffleR= shuffleW= spill=
  * `run`/`cpu`/`gc` are executor seconds summed over tasks, shuffle and
  * spill are MB. A streaming row adds one `[scratch]   batch<i>` line per
  * micro-batch with its `durationMs` phases; after a query's last rep its
  * five most expensive stages follow as `[scratch]   stage` lines.
  */
object Scratch {

  /** What Spark reported during one rep: one SparkListener for jobs and
    * stages plus a StreamingQueryListener ([[streams]]) for micro-batch
    * progress. Read it only after [[measure]] has drained the bus. */
  final class Tally extends SparkListener {
    var jobs = 0
    var stages = 0
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleReadBytes = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    /** (executor run seconds, tasks, stage name | graft call site). */
    val stageCosts = ArrayBuffer.empty[(Double, Int, String)]
    val batches = ArrayBuffer.empty[StreamingQueryProgress]

    override def onJobStart(e: SparkListenerJobStart): Unit =
      synchronized { jobs += 1 }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val info = e.stageInfo
        stages += 1
        tasks += info.numTasks
        val m = info.taskMetrics
        if (m != null) {
          runMs += m.executorRunTime
          cpuNs += m.executorCpuTime
          gcMs += m.jvmGCTime
          shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          val site = info.details.linesIterator.map(_.trim)
            .find(l => l.startsWith("graft.") && !l.startsWith("graft.Scratch"))
            .fold("")(" | " + _)
          stageCosts += ((m.executorRunTime / 1e3, info.numTasks,
            (info.name.linesIterator.next() + site).take(180)))
        }
      }

    val streams: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        Tally.this.synchronized { batches += e.progress }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }

    def summary: String = synchronized {
      f"jobs=$jobs stages=$stages tasks=$tasks run=${runMs / 1e3}%.2fs " +
        f"cpu=${cpuNs / 1e9}%.2fs gc=${gcMs / 1e3}%.2fs " +
        f"shuffleR=${shuffleReadBytes / 1e6}%.1fMB " +
        f"shuffleW=${shuffleWriteBytes / 1e6}%.1fMB " +
        f"spill=${spillBytes / 1e6}%.1fMB"
    }
  }

  /** Runs `body` under a fresh [[Tally]] and returns its wall seconds and
    * the tally. The bus is drained before the tally is attached (nothing
    * earlier leaks in) and again before it is detached (every event of
    * `body` is in). */
  def measure(spark: SparkSession)(body: => Unit): (Double, Tally) = {
    val sc = spark.sparkContext
    val t = new Tally
    ListenerBusShim.drain(sc)
    sc.addSparkListener(t)
    spark.streams.addListener(t.streams)
    val t0 = System.nanoTime()
    try {
      body
      ((System.nanoTime() - t0) / 1e9, t)
    } finally {
      ListenerBusShim.drain(sc)
      sc.removeSparkListener(t)
      spark.streams.removeListener(t.streams)
    }
  }

  private val phases = Seq("addBatch", "getBatch", "latestOffset",
    "queryPlanning", "walCommit", "commitOffsets")

  private def batchLine(i: Int, p: StreamingQueryProgress): String = {
    def ms(k: String): Long = p.durationMs.getOrDefault(k, 0L).longValue
    val other = ms("triggerExecution") - phases.map(ms).sum
    f"[scratch]   batch$i rows=${p.numInputRows} " +
      f"trigger=${ms("triggerExecution")}ms " +
      phases.map(k => s"$k=${ms(k)}ms").mkString(" ") +
      f" other=${other}ms" +
      p.stateOperators.headOption.fold("")(so =>
        s" stateRows=${so.numRowsTotal}")
  }

  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val only = sys.env.getOrElse("SPARK_GRAFT_ONLY", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val names = if (only.nonEmpty) only else SparkEntry.defs.map(_.name)
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val spark = GraftSession.boardBuilder().getOrCreate()
    // optional ad-hoc conf overrides: SPARK_GRAFT_CONF="k=v;k2=v2"
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
    })
    spark.sparkContext.setLogLevel("WARN")
    for (r <- 1 to reps; n <- names) {
      try {
        // clearCache stays inside the timed region, as in Bench
        val (wall, t) = measure(spark) {
          SparkEntry.queries(n)(spark, d)
            .write.format("noop").mode("overwrite").save()
          spark.catalog.clearCache()
        }
        println(f"[scratch] run$r $n: $wall%.2f s ${t.summary}")
        t.batches.zipWithIndex.foreach { case (p, i) =>
          println(batchLine(i, p)) }
        if (r == reps)
          t.stageCosts.sortBy(-_._1).take(5).foreach { case (sec, nt, name) =>
            println(f"[scratch]   stage $sec%.2fs tasks=$nt  $name") }
      } catch { case NonFatal(e) =>
        spark.catalog.clearCache()
        println(s"[scratch] run$r $n failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
