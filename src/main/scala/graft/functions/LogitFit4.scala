package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._

/** `logit_fit4(x1, x2, n, yc)` — mlprep_logit's four IRLS/Newton steps +
  * tie-correct train AUC as ONE typed aggregate per group (the
  * tree_fit3/gbt_fit4 doctrine). Each step replays the projection
  * formulation's exact IEEE sequence: p = TrainerNative.sigmoidR16(z) with
  * z = (c0 + c1·x1) + c2·x2, p and n·p·(1−p) floor-quantized to the
  * 1e-9 grid, the nine Newton moments summed as exact longs, the 3×3
  * Cramer solve through the identical det3 double tree, β' = β + d/det.
  * The AUC histograms final scores by value (key z + 0.0) and runs the
  * exact-long tied-block rank-sum; null when a class is empty.
  * Determinism: moment sums are order-free longs; the AUC iterates a
  * sorted map. The DuckDB oracle keeps its unrolled CTE chain;
  * unchanged hashes prove the identity.
  *
  * Output: struct(n, b0_q, b1_q, b2_q, auc_train) — one row per group.
  */
case class LogitFit4(
    children: Seq[Expression],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends FitAggregate {

  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("b0_q", LongType, nullable = false),
    StructField("b1_q", LongType, nullable = false),
    StructField("b2_q", LongType, nullable = false),
    StructField("auc_train", DoubleType, nullable = true)))
  override def prettyName: String = "logit_fit4"

  override def eval(buf: ArrayBuffer[Array[Long]]): Any = {
    // det3 in the projection tree's exact operation order
    def det3(a1: Double, a2: Double, a3: Double,
             b1: Double, b2: Double, b3: Double,
             c1: Double, c2: Double, c3: Double): Double =
      a1 * (b2 * c3 - b3 * c2) -
      a2 * (b1 * c3 - b3 * c1) +
      a3 * (b1 * c2 - b2 * c1)
    val cells = buf.toArray
    val len = cells.length
    var c0 = 0.0; var c1 = 0.0; var c2 = 0.0
    for (_ <- 0 until 4) {
      var ig0 = 0L; var ig1 = 0L; var ig2 = 0L
      var ih00 = 0L; var ih01 = 0L; var ih02 = 0L
      var ih11 = 0L; var ih12 = 0L; var ih22 = 0L
      var i = 0
      while (i < len) {
        val x1 = cells(i)(0); val x2 = cells(i)(1)
        val n = cells(i)(2); val yc = cells(i)(3)
        val z = (c0 + c1 * x1.toDouble) + c2 * x2.toDouble
        val p = TrainerNative.sigmoidR16(z)
        val pq = math.floor(p * 1e9).toLong
        val wq = math.floor(((n.toDouble * p) * (1.0 - p)) * 1e9).toLong
        val gterm = yc * 1000000000L - n * pq
        ig0 += gterm; ig1 += x1 * gterm; ig2 += x2 * gterm
        ih00 += wq; ih01 += wq * x1; ih02 += wq * x2
        ih11 += wq * x1 * x1; ih12 += wq * x1 * x2; ih22 += wq * x2 * x2
        i += 1
      }
      def u(l: Long): Double = l.toDouble / 1e9
      val (g0, g1, g2) = (u(ig0), u(ig1), u(ig2))
      val (h00, h01, h02) = (u(ih00), u(ih01), u(ih02))
      val (h11, h12, h22) = (u(ih11), u(ih12), u(ih22))
      val det = det3(h00, h01, h02, h01, h11, h12, h02, h12, h22)
      val d0 = det3(g0, h01, h02, g1, h11, h12, g2, h12, h22)
      val d1 = det3(h00, g0, h02, h01, g1, h12, h02, g2, h22)
      val d2 = det3(h00, h01, g0, h01, h11, g1, h02, h12, g2)
      c0 = c0 + d0 / det
      c1 = c1 + d1 / det
      c2 = c2 + d2 / det
    }
    // tie-correct train AUC over the final-score histogram
    val sh = new java.util.TreeMap[java.lang.Double, Array[Long]]()
    var nTot = 0L
    var i = 0
    while (i < len) {
      val z = (c0 + c1 * cells(i)(0).toDouble) + c2 * cells(i)(1).toDouble
      val key = java.lang.Double.valueOf(z + 0.0)
      val slot = sh.computeIfAbsent(key, _ => Array(0L, 0L))
      slot(0) += cells(i)(3)
      slot(1) += cells(i)(2) - cells(i)(3)
      nTot += cells(i)(2)
      i += 1
    }
    val auc = aucRankSum(sh)
    InternalRow(nTot,
      math.floor(c0 * 1e9 + 0.5).toLong,
      math.floor(c1 * 1e9 + 0.5).toLong,
      math.floor(c2 * 1e9 + 0.5).toLong, auc)
  }

  override def withNewMutableAggBufferOffset(n: Int): LogitFit4 =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): LogitFit4 =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): LogitFit4 =
    copy(children = newChildren)
}
