package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The dev harness's listener must see every event of a run before it is
  * read: the bus delivers asynchronously, so a sleep- or poll-based wait
  * undercounts whenever delivery lags. Back-to-back runs with no pause
  * between them are where a lagging bus shows. */
class ScratchSpec extends SparkSpec {

  test("tally counts exact jobs, stages and tasks on 20 back-to-back runs") {
    val counts = (1 to 20).map { _ =>
      val (_, t) = Scratch.measure(spark) {
        spark.range(0, 10000, 1, 4).repartition(3)
          .write.format("noop").mode("overwrite").save()
      }
      (t.jobs, t.stages, t.tasks)
    }
    // AQE runs the 4-task shuffle map stage as its own job, then the
    // 3-task result stage in a second job (the map stage skipped there)
    assert(counts.forall(_ == ((2, 2, 7L))), counts)
  }

  test("tally carries one progress event per streaming micro-batch") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (_, t) = Scratch.measure(spark) {
      val in = MemoryStream[Int]
      val q = in.toDF().writeStream.format("noop").start()
      try {
        in.addData(1, 2, 3); q.processAllAvailable()
        in.addData(4, 5); q.processAllAvailable()
      } finally q.stop()
    }
    val withRows = t.batches.filter(_.numInputRows > 0)
    assert(withRows.map(_.numInputRows).toList == List(3L, 2L))
    assert(withRows.forall(_.durationMs.containsKey("triggerExecution")))
  }
}
