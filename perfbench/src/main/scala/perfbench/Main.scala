package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{GraftSession, SparkEntry, Tables}
import graft.operators.GoldFeatures
import graft.sources.BatchedIngest
import graft.streaming.StreamingOps

/** The Medallion workloads, run in one JVM per benchmark run.
  *
  * `perfbench/run.py` generates the inputs from the seed, starts this
  * program, and runs the correctness gates on what it leaves behind. This
  * program only measures: it writes one JSON record (`--out`) holding the
  * raw samples, the per-layer counters of a traced run, and the paths and
  * oracle SQL the gates need.
  *
  * Usage: perfbench.Main --workload <medallion_rebuild|incremental_refresh>
  *   --seconds <s> --trace <0|1> --input <dir> --work <dir>
  *   --out <file>
  */
object Main {

  /** Re-set-ups per untraced run after the cold one; `setup_s` is their
    * median. */
  val SetupRepeats = 2
  /** Operations per run at least, whatever `--seconds` allows: two
    * untraced ones give `op_s_p50`; a traced run alternates untraced and
    * traced ones, two of each. */
  def minOps(trace: Boolean): Int = if (trace) 4 else 2

  final case class Args(workload: String, seconds: Double, trace: Boolean,
                        input: String, work: String, out: String)

  def parse(a: Array[String]): Args = {
    require(a.length % 2 == 0, s"odd argument list: ${a.mkString(" ")}")
    val m = a.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    Args(m("workload"), m("seconds").toDouble, m("trace") == "1",
      m("input"), m("work"), m("out"))
  }

  val cores: Int = Runtime.getRuntime.availableProcessors

  def session(work: String): SparkSession = {
    val s = GraftSession.builder(s"local[$cores]", cores.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def rm(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new File(path))

  /** Bytes and files under `path`, keyed by file path → (size, mtime). */
  def listing(path: String): Map[String, (Long, Long)] = {
    val root = new File(path)
    if (!root.exists()) Map.empty
    else if (root.isFile) Map(root.getPath -> ((root.length(), root.lastModified())))
    else {
      val it = org.apache.commons.io.FileUtils
        .listFiles(root, null, true).iterator()
      val b = Map.newBuilder[String, (Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        b += f.getPath -> ((f.length(), f.lastModified()))
      }
      b.result()
    }
  }

  /** Files new or changed between two listings: (bytes, files). */
  def written(before: Map[String, (Long, Long)],
              after: Map[String, (Long, Long)]): (Long, Long) = {
    val changed = after.filter { case (p, v) => !before.get(p).contains(v) }
    (changed.values.map(_._1).sum, changed.size.toLong)
  }

  def dirBytes(path: String): Long = listing(path).values.map(_._1).sum

  /** Outside every timed region: release cached plans and data, then
    * collect, so one operation's garbage is not charged to the next. */
  def quiesce(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    System.gc()
  }

  /** Heap in use once collections stop freeing memory. One collection is
    * not enough: it only enqueues the weak references through which
    * Spark's context cleaner then drops broadcast and shuffle blocks, so
    * collect and pause until two readings agree within 1 MB. */
  def heapUsedMb(): Double = {
    val heap = ManagementFactory.getMemoryMXBean
    def used = { System.gc(); heap.getHeapMemoryUsage.getUsed / 1048576.0 }
    var prev = used
    var cur = prev
    var k = 0
    do {
      Thread.sleep(500)
      prev = cur
      cur = used
      k += 1
      log(f"heap after collection $k: $cur%.1f MB")
    } while (math.abs(cur - prev) >= 1.0 && k < 10)
    cur
  }

  def log(msg: String): Unit =
    System.err.println(s"[perfbench] ${java.time.LocalTime.now()} $msg")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Runs one operation: through the tracer when one is attached,
    * otherwise with a bare clock. */
  final class Clock(val tracer: Option[Tracer]) {
    def apply[A](f: => A): (A, SpanTally) = tracer match {
      case Some(t) => t.span(f)
      case None =>
        val tally = new SpanTally
        val t0 = System.nanoTime()
        val r = f
        tally.wallNs = System.nanoTime() - t0
        (r, tally)
    }
  }

  /** Per-layer counters of one span kind, reported as medians over the
    * operations of a traced run. */
  final class LayerSamples {
    private val values = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def add(name: String, v: Double): Unit =
      values.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
    def medians: Seq[(String, Double)] =
      values.toSeq.map { case (k, vs) => k -> median(vs.toSeq) }
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val rec = args.workload match {
      case "medallion_rebuild" => new Rebuild(args).run(jvmStartMs)
      case "incremental_refresh" => new Refresh(args).run(jvmStartMs)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    java.nio.file.Files.writeString(new File(args.out).toPath, Json.write(rec))
  }
}

/** Shared run skeleton: repeated set-ups, the closed loop of operations,
  * and the end-of-workload heap reading. */
abstract class Workload(args: Main.Args) {
  import Main._

  var spark: SparkSession = _
  val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0
  var failed = 0
  val layers = new LayerSamples

  /** Make inputs ready in a fresh state dir and warm the JVM and Spark up
    * with one untimed operation. */
  def prepare(dir: String): Unit
  /** One operation; returns the seconds of its timed region. */
  def op(i: Int, clock: Clock): Double
  /** Outside the timed region, after each operation. */
  def afterOp(i: Int): Unit
  /** Workload-specific facts and gate inputs for the record. */
  def record(): Map[String, Any]
  def haveMoreOps(i: Int): Boolean = true

  def run(jvmStartMs: Long): Map[String, Any] = {
    // Set-up 0 starts the JVM and Spark cold and is timed from process
    // start; it is reported apart (`cold_setup_s`), as it is always the
    // slowest. The re-set-ups after it are timed from stopping the previous
    // session, so they are like samples. A traced run sets up once.
    val setups = (0 to (if (args.trace) 0 else SetupRepeats)).map { r =>
      val startNs = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(args.work)
      prepare(s"${args.work}/state_$r")
      quiesce(spark)
      val s =
        if (r == 0) (System.currentTimeMillis() - jvmStartMs) / 1e3
        else (System.nanoTime() - startNs) / 1e9
      log(f"setup $r: $s%.3f s")
      s
    }

    // The closed loop. An untraced run gives the end-to-end samples. A
    // traced run alternates untraced and traced operations, so that the
    // difference of their medians is the tracer's own cost and not drift
    // along the run; listeners are attached only around traced ones.
    val tracer = if (args.trace) Some(new Tracer(spark)) else None
    val untraced = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var i = 0
    while (haveMoreOps(i) && ((System.nanoTime() - t0) / 1e9 < args.seconds ||
        untraced.size + traced.size < minOps(args.trace))) {
      val clock = new Clock(tracer.filter(_ => i % 2 == 1))
      attempted += 1
      try {
        clock.tracer.foreach(_.attach())
        val wall = try op(i, clock) finally clock.tracer.foreach(_.detach())
        (if (clock.tracer.isDefined) traced else untraced) += wall
        log(f"op $i: $wall%.3f s")
        afterOp(i)
      } catch { case e: Throwable =>
        failed += 1
        errors += s"op $i: ${e.getClass.getSimpleName}: ${e.getMessage}"
          .take(500)
      }
      quiesce(spark)
      i += 1
    }
    val heapMb = heapUsedMb()
    val extra = record()
    spark.stop()
    Map(
      "workload" -> args.workload,
      "cores" -> cores,
      "cold_setup_s" -> setups.head,
      "setup_s" -> setups.tail,
      "op_s" -> untraced.toSeq,
      "traced_op_s" -> traced.toSeq,
      "heap_retained_mb" -> heapMb,
      "attempted" -> attempted,
      "failed" -> failed,
      "errors" -> errors.toSeq,
      "layers" -> layers.medians.toMap
    ) ++ extra
  }
}

/** `medallion_rebuild`: one operation is a full pass of the batch path
  * over the raw bars, every stage writing parquet. */
final class Rebuild(args: Main.Args) extends Workload(args) {
  import Main._

  val raw = s"${args.input}/raw/events.parquet"
  lazy val symbols: Seq[String] =
    spark.read.parquet(raw).select("user_id").distinct().collect()
      .map(_.getLong(0)).sorted.map(_.toString).toSeq
  lazy val rawRows: Long = spark.read.parquet(raw).count()
  val rawBytes: Long = dirBytes(raw)
  /** Symbols per ingest batch: two upstream requests per full pass. */
  def batchSize: Int = math.max(1, (symbols.size + 1) / 2)

  /** Stage → (query whose oracle SQL checks it, output dir name). */
  val stages: Seq[(String, String, String)] = Seq(
    ("bronze_clean", "sql1_bronze_clean", "bronze_clean"),
    ("silver_grid", "pl1_grid_fill", "silver_grid"),
    ("gold", "pl16_gold_fused", "gold"),
    ("trend", "pl5_trend_events", "trend"),
    ("train", "mlprep_logit", "train_logit"),
    ("train", "mlprep_gbt", "train_gbt"))
  val queries = SparkEntry.queries

  var lastPass = ""
  val passWrites = mutable.ArrayBuffer.empty[Double]

  def pass(dir: String, clock: Clock, keys: Seq[String]): Unit = {
    val bronzeDir = s"$dir/bronze"
    val bronze = s"$bronzeDir/events.parquet"
    def step(name: String)(f: => Unit): Unit = {
      val (_, t) = clock(f)
      log(f"  $name: ${t.wallS}%.3f s")
      // tracer self-check on a known row: the SQL-text stage must report
      // planning time, else the phase reading is broken
      if (clock.tracer.isDefined && name == "bronze_clean" && t.planMs <= 0)
        throw new IllegalStateException(
          "tracer read no planning phases on sql1_bronze_clean")
      if (clock.tracer.isDefined) {
        val p = s"rebuild.$name."
        layers.add(p + "wall_s", t.wallS)
        layers.add(p + "exec_cpu_s", t.execCpuNs / 1e9)
        layers.add(p + "shuffle_write_mb", t.shuffleWriteBytes / 1048576.0)
        layers.add(p + "spill_mb", t.spillBytes / 1048576.0)
        layers.add(p + "driver_s", t.driverS)
      }
    }
    var inserted = 0L
    step("ingest") {
      inserted = BatchedIngest.run(spark, keys, batchSize,
        keys => spark.read.parquet(raw)
          .filter(col("user_id").isin(keys.map(_.toLong): _*)),
        bronze, "user_id", "ts", "event_id").map(_.rowsInserted).sum
    }
    if (clock.tracer.isDefined)
      layers.add("rebuild.ingest.rows_inserted_ratio",
        inserted.toDouble / rawRows)
    // train runs two trainers; the span covers both
    stages.groupBy(_._1).toSeq
      .sortBy { case (n, _) => stages.indexWhere(_._1 == n) }
      .foreach { case (name, qs) =>
        step(name) {
          qs.foreach { case (_, q, out) =>
            val df =
              if (q == "pl16_gold_fused")
                GoldFeatures.goldTable(Tables.events(spark, bronzeDir))
              else queries(q)(spark, bronzeDir)
            df.write.mode("overwrite").parquet(s"$dir/$out")
          }
        }
      }
  }

  /** The warm-up is one full pass: a smaller one leaves the first timed
    * pass slower (other adaptive plan choices, colder code). */
  def prepare(dir: String): Unit = {
    require(symbols.nonEmpty && rawRows > 0, s"no bars in $raw")
    pass(dir, new Clock(None), symbols)
    rm(dir)
  }

  def op(i: Int, clock: Clock): Double = {
    if (lastPass.nonEmpty) rm(lastPass)
    lastPass = s"${args.work}/pass_$i"
    val t0 = System.nanoTime()
    pass(lastPass, clock, symbols)
    (System.nanoTime() - t0) / 1e9
  }

  def afterOp(i: Int): Unit =
    passWrites += dirBytes(lastPass).toDouble

  def record(): Map[String, Any] = Map(
    "input_rows" -> rawRows,
    "input_bytes" -> rawBytes,
    "write_amp" -> median(passWrites.toSeq.map(_ / rawBytes)),
    "gate_dir" -> lastPass,
    "gate_raw" -> raw,
    "gate_outputs" -> stages.map { case (_, q, out) => q -> out }.toMap,
    "oracles" -> stages.map { case (_, q, _) =>
      q -> SparkEntry.oracleSql(q) }.toMap
  )
}

/** `incremental_refresh`: set-up lands a seeded history; one operation is
  * one micro-batch through `StreamingOps.processGoldBatch`. */
final class Refresh(args: Main.Args) extends Workload(args) {
  import Main._

  val batches: Seq[String] = new File(s"${args.input}/batches").listFiles()
    .map(_.getPath).sorted.toSeq
  var state = ""
  def bronze = s"$state/bronze"
  def gold = s"$state/gold"
  var inputBytes = 0L
  var writtenBytes = 0L
  var bars = 0L

  def load(dir: String): DataFrame =
    Tables.events(spark, dir).select("user_id", "ts", "value")

  /** Lands the history as bronze batch 0 and its full gold table (laid
    * out as the merge sink keeps it: one file per day partition), then
    * warms up with batch 1. */
  def prepare(dir: String): Unit = {
    if (state.nonEmpty) rm(state)
    state = dir
    val history = load(s"${args.input}/history")
    history.write.parquet(s"$bronze/batch_id=0")
    GoldFeatures.goldTable(history).repartition(col("day"))
      .write.partitionBy("day").parquet(gold)
    StreamingOps.processGoldBatch(load(batches.head), bronze, gold, 1L)
  }

  // batch 1 is the warm-up of every set-up
  override def haveMoreOps(i: Int): Boolean = i + 1 < batches.size

  private var before: Map[String, (Long, Long)] = Map.empty
  private var batchBars = 0L

  def op(i: Int, clock: Clock): Double = {
    val b = batches(i + 1)
    val df = load(b)
    before = listing(bronze) ++ listing(gold)
    batchBars = spark.read.parquet(s"$b/events.parquet").count()
    val (_, t) = clock(StreamingOps.processGoldBatch(df, bronze, gold,
      (i + 2).toLong))
    if (clock.tracer.isDefined) {
      val (_, files) = written(before, listing(bronze) ++ listing(gold))
      val p = "refresh.batch."
      layers.add(p + "wall_s", t.wallS)
      layers.add(p + "plan_s", t.planMs / 1e3)
      layers.add(p + "driver_s", t.driverS)
      layers.add(p + "jobs", t.jobs.toDouble)
      layers.add(p + "stages", t.stages.toDouble)
      layers.add(p + "tasks", t.tasks.toDouble)
      layers.add(p + "input_mb", t.inputBytes / 1048576.0)
      layers.add(p + "output_mb", t.outputBytes / 1048576.0)
      layers.add(p + "files_written", files.toDouble)
      layers.add(p + "rows_read_per_bar", t.inputRecords.toDouble / batchBars)
      layers.add(p + "rows_written_per_bar",
        t.outputRecords.toDouble / batchBars)
      def frames(tag: String) = t.execRunMsByFrame.collect {
        case (f, ms) if f.contains(tag) => ms
      }.sum / 1e3
      layers.add("refresh.bronze_write.exec_run_s",
        frames("StreamingOps"))
      layers.add("refresh.gold_refresh.exec_run_s",
        frames("IncrementalGold"))
      layers.add("refresh.gold_merge.exec_run_s", frames("MergeUpsert"))
      if (t.planMs < 0) errors += s"op $i: no query execution reported planning phases"
    }
    t.wallS
  }

  def afterOp(i: Int): Unit = {
    val (bytes, _) = written(before, listing(bronze) ++ listing(gold))
    writtenBytes += bytes
    inputBytes += dirBytes(s"${batches(i + 1)}/events.parquet")
    bars += batchBars
  }

  def record(): Map[String, Any] = {
    // gate inputs: the refreshed gold table and a full rebuild of gold
    // over the final bronze, both flattened for an order-free compare
    val gate = s"${args.work}/gate"
    spark.read.parquet(gold).write.mode("overwrite").parquet(s"$gate/actual")
    GoldFeatures.goldTable(spark.read.parquet(bronze).drop("batch_id"))
      .write.mode("overwrite").parquet(s"$gate/expected")
    Map(
      "input_bytes" -> inputBytes,
      "input_rows" -> bars,
      "history_bytes" -> dirBytes(s"${args.input}/history"),
      "write_amp" -> (if (inputBytes > 0) writtenBytes.toDouble / inputBytes
                      else Double.NaN),
      "gate_actual" -> s"$gate/actual",
      "gate_expected" -> s"$gate/expected"
    )
  }
}
