package graft

import graft.functions.TrainerNative
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The native trainer primitives (graft.functions.TrainerNative) must be
  * BIT-IDENTICAL to the unrolled projection chains they replace — that is
  * the whole parity contract (the DuckDB oracles still run the chains).
  * These tests evaluate both formulations over the same frames and compare
  * raw bits, including the clamp bounds, NaN, -0.0, and the zero-matrix
  * null path.
  */
class TrainerNativeSpec extends SparkSpec {

  import spark.implicits._

  test("sigmoid_r16 equals the 16-squaring projection chain bit-for-bit") {
    val zs = Seq(-1e9, -31.0, -30.0, -29.999999, -4.2, -1.0, -1e-12,
      -0.0, 0.0, 1e-12, 0.5, 1.0, 7.25, 29.999999, 30.0, 31.0, 1e9,
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
    val df = zs.toDF("z")
    def chain(in: DataFrame): DataFrame = {
      val zc = greatest(least(col("z"), lit(30.0)), lit(-30.0))
      var cur = in.withColumn("e", lit(1.0) + (-zc) / lit(65536.0))
      var i = 0
      while (i < 16) { cur = cur.withColumn("e", col("e") * col("e")); i += 1 }
      cur.withColumn("p", lit(1.0) / (lit(1.0) + col("e")))
    }
    val rows = chain(df).select("z", "p").collect()
    assert(rows.length == zs.length)
    for (r <- rows) {
      val (z, p) = (r.getDouble(0), r.getDouble(1))
      val pn = TrainerNative.sigmoidR16(z)
      assert(java.lang.Double.doubleToRawLongBits(p) ==
        java.lang.Double.doubleToRawLongBits(pn),
        s"z=$z: chain $p vs native $pn")
    }
  }

  test("power_iter3 equals the 48-step projection chain bit-for-bit") {
    // symmetric matrices with mixed magnitudes, a dominant-negative-v1
    // case (sign canonicalization downstream), and near-degenerate gaps
    val mats = Seq(
      (4.0, 1.0, 0.5, 3.0, 0.25, 2.0),
      (1e-6, -2e-7, 3e-7, 2e-6, -1e-7, 1.5e-6),
      (2.0, -1.9, 0.0, 2.0, -0.1, 0.5),
      (1.0, 0.999999, 0.0, 1.0, 0.0, 0.1),
      (5.5, 0.0, 0.0, 5.5, 0.0, 5.5))
    val df = mats.toDF("c11", "c12", "c13", "c22", "c23", "c33")
    def chain(cov: DataFrame): DataFrame = {
      val keep = Seq("c11", "c12", "c13", "c22", "c23", "c33").map(col)
      def mulW(cur: DataFrame): DataFrame = cur
        .withColumn("w1", col("c11") * col("v1") + col("c12") * col("v2")
          + col("c13") * col("v3"))
        .withColumn("w2", col("c12") * col("v1") + col("c22") * col("v2")
          + col("c23") * col("v3"))
        .withColumn("w3", col("c13") * col("v1") + col("c23") * col("v2")
          + col("c33") * col("v3"))
      var it = cov.withColumn("v1", lit(1.0))
        .withColumn("v2", lit(1.0)).withColumn("v3", lit(1.0))
      for (_ <- 1 to 48) {
        val w = mulW(it).withColumn("m",
          nullif(greatest(abs(col("w1")), abs(col("w2")),
            abs(col("w3"))), lit(0.0)))
        it = w.select(keep :+ (col("w1") / col("m")).as("v1")
          :+ (col("w2") / col("m")).as("v2")
          :+ (col("w3") / col("m")).as("v3"): _*)
      }
      mulW(it)
    }
    val byChain = chain(df)
      .select("c11", "v1", "v2", "v3", "w1", "w2", "w3").collect()
    val byNative = df.withColumn("pi", call_function("power_iter3",
        col("c11"), col("c12"), col("c13"),
        col("c22"), col("c23"), col("c33")))
      .select(col("c11"), col("pi.v1"), col("pi.v2"), col("pi.v3"),
        col("pi.w1"), col("pi.w2"), col("pi.w3")).collect()
    val cm = byChain.map(r => r.getDouble(0) -> r).toMap
    for (n <- byNative; c = cm(n.getDouble(0)); i <- 1 to 6) {
      assert(java.lang.Double.doubleToRawLongBits(c.getDouble(i)) ==
        java.lang.Double.doubleToRawLongBits(n.getDouble(i)),
        s"matrix c11=${n.getDouble(0)} field $i: " +
          s"chain ${c.getDouble(i)} vs native ${n.getDouble(i)}")
    }
  }

  test("power_iter3 nulls out on the zero matrix (NULLIF contract)") {
    val z = Seq((0.0, 0.0, 0.0, 0.0, 0.0, 0.0))
      .toDF("c11", "c12", "c13", "c22", "c23", "c33")
      .withColumn("pi", call_function("power_iter3",
        col("c11"), col("c12"), col("c13"),
        col("c22"), col("c23"), col("c33")))
    assert(z.select("pi").collect().head.isNullAt(0))
    // and a null input nulls the whole struct
    val n = Seq((1.0, 2.0)).toDF("a", "b")
      .select(call_function("power_iter3", lit(null).cast("double"),
        col("a"), col("b"), col("a"), col("b"), col("a")).as("pi"))
    assert(n.collect().head.isNullAt(0))
  }
}
