package graft

import graft.operators.Ewm

class EwmNativeSpec extends SparkSpec {

  test("native window expression matches hand recurrence") {
    val df = spark.createDataFrame(Seq(
      (1L, ts("2024-01-01 00:00:01"), 10.0),
      (1L, ts("2024-01-01 00:00:02"), 20.0),
      (1L, ts("2024-01-01 00:00:03"), 30.0),
      (2L, ts("2024-01-01 00:00:01"), 5.0)
    )).toDF("k", "t", "x")
    val out = df.selectExpr("k", "t",
        "ewm_nr(x, 0.5) OVER (PARTITION BY k ORDER BY t) AS y")
      .orderBy("k", "t").collect().map(_.getDouble(2))
    assert(out.toSeq == Seq(10.0, 15.0, 22.5, 5.0))
  }

  test("native expression is bit-equal to the flatMapGroups implementation") {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val a = ev.selectExpr("user_id", "ts",
        "ewm_nr(value, 0.1) OVER (PARTITION BY user_id ORDER BY ts) AS y")
      .orderBy("user_id", "ts").collect().map(_.getDouble(2))
    val b = Ewm.recursive(ev, "user_id", "ts", "value", 0.1)
      .orderBy("key", "ts").collect().map(_.getAs[Double]("ewm"))
    assert(a.length == b.length && a.length > 0)
    assert(a.zip(b).forall { case (x, y) => x == y })
  }

  test("extensions class wires ewm_nr into SparkSessionExtensions") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.functions.GraftExtensions().apply(ext) // registration accepted
  }
}
