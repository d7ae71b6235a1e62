package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** `gbt_fit4(x1, x2, n, yc)` — mlprep_gbt's four Newton boosting rounds
  * of depth-1 stumps (logistic loss, XGBoost split algebra, η=.5, λ=1)
  * as ONE typed aggregate per group — the tree_fit3 doctrine applied to
  * the board's remaining top row. The DataFrame formulation ran, per
  * round, a sigmoid projection + histogram aggregate + cumulative
  * windows + row_number pick + broadcast f-update + per-round persist +
  * the tie-correct AUC windows — 4× that chain per invocation, with
  * Catalyst planning and stage dispatch dominating (the 10× probe ran
  * gbt flat). Here the one data-sized pass is still the grid build;
  * `eval` replays all four rounds on the ≤168-cells-per-group state.
  *
  * Parity contract (bit-exact replay of the projection formulation,
  * whose unrolled CTEs the DuckDB oracle still runs):
  *  - p = TrainerNative.sigmoidR16(f) (the identical
  *    16-squaring sequence), gq/hq floor-quantized to the 1e-9 grid
  *    exactly as the column expressions cast them;
  *  - per-feature value histograms summed as exact longs, candidates at
  *    v < vmax, gain/dl/dr through the identical double tree
  *    (sums-over-1e9 casts first, λ=1 denominators);
  *  - winner by (gain DESC, feat ASC, thr ASC) with
  *    `java.lang.Double.compare`, first-wins on exact ties;
  *  - f update f + 0.5·(dl|dr) per routed cell; a round with no valid
  *    candidate leaves f unchanged and emits no row (the left-join +
  *    inner-join shape of the original);
  *  - tie-correct AUC: histogram by the score value (key f + 0.0 — the
  *    −0.0 fold both engines apply), ascending-key rank-sum
  *    pos·(2·cumneg + neg) in exact longs, null when a class is empty
  *    (the NULLIF contract).
  * Determinism: all iteration is over sorted maps, so partial-merge
  * arrival order cannot matter.
  *
  * Output: array of (round, feat, thr, delta_l_q, delta_r_q, gain_q,
  * auc_train) — one row per round that found a split.
  */
case class GbtFit4(
    children: Seq[Expression],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends FitAggregate {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("round", LongType, nullable = false),
    StructField("feat", LongType, nullable = false),
    StructField("thr", LongType, nullable = false),
    StructField("delta_l_q", LongType, nullable = false),
    StructField("delta_r_q", LongType, nullable = false),
    StructField("gain_q", LongType, nullable = false),
    StructField("auc_train", DoubleType, nullable = true))),
    containsNull = false)
  override def prettyName: String = "gbt_fit4"

  override def eval(buf: ArrayBuffer[Array[Long]]): Any = {
    val cells = buf.toArray
    val len = cells.length
    val f = new Array[Double](len) // init 0.0 — the fc0 seed
    val out = ArrayBuffer.empty[InternalRow]
    for (k <- 0 until 4) {
      // per-cell gradient/hessian on the 1e-9 integer grid, the exact
      // column-expression cast order
      val gq = new Array[Long](len)
      val hq = new Array[Long](len)
      var i = 0
      while (i < len) {
        val p = TrainerNative.sigmoidR16(f(i))
        val n = cells(i)(2); val yc = cells(i)(3)
        gq(i) = n * math.floor(p * 1e9).toLong - yc * 1000000000L
        hq(i) = math.floor(((n.toDouble * p) * (1.0 - p)) * 1e9).toLong
        i += 1
      }
      var found = false
      var bGain = 0.0; var bFeat = 0L; var bThr = 0L
      var bDl = 0.0; var bDr = 0.0
      for (feat <- 1 to 2) {
        val hist = new java.util.TreeMap[Long, Array[Long]]()
        var sgt = 0L; var sht = 0L
        var j = 0
        while (j < len) {
          val v = if (feat == 1) cells(j)(0) else cells(j)(1)
          val slot = hist.computeIfAbsent(v, _ => Array(0L, 0L))
          slot(0) += gq(j); slot(1) += hq(j)
          sgt += gq(j); sht += hq(j)
          j += 1
        }
        if (hist.size > 1) {
          val vmax = hist.lastKey()
          var sgl = 0L; var shl = 0L
          val it = hist.entrySet().iterator()
          while (it.hasNext) {
            val en = it.next()
            val v = en.getKey
            sgl += en.getValue()(0); shl += en.getValue()(1)
            if (v < vmax) {
              val gl = sgl.toDouble / 1e9; val hl = shl.toDouble / 1e9
              val gr = (sgt - sgl).toDouble / 1e9
              val hr = (sht - shl).toDouble / 1e9
              val gt = sgt.toDouble / 1e9; val ht = sht.toDouble / 1e9
              val gain = gl * gl / (hl + 1.0) + gr * gr / (hr + 1.0) -
                gt * gt / (ht + 1.0)
              val better = !found || {
                val c0 = java.lang.Double.compare(gain, bGain)
                c0 > 0 || (c0 == 0 && (feat < bFeat ||
                  (feat == bFeat && v < bThr)))
              }
              if (better) {
                found = true; bGain = gain; bFeat = feat.toLong; bThr = v
                bDl = -gl / (hl + 1.0); bDr = -gr / (hr + 1.0)
              }
            }
          }
        }
      }
      if (found) {
        var j = 0
        while (j < len) {
          val v = if (bFeat == 1L) cells(j)(0) else cells(j)(1)
          f(j) = f(j) + (if (v <= bThr) 0.5 * bDl else 0.5 * bDr)
          j += 1
        }
        // tie-correct AUC over the score histogram (ascending f + 0.0)
        val sh = new java.util.TreeMap[java.lang.Double, Array[Long]]()
        var j2 = 0
        while (j2 < len) {
          val key = java.lang.Double.valueOf(f(j2) + 0.0)
          val slot = sh.computeIfAbsent(key, _ => Array(0L, 0L))
          slot(0) += cells(j2)(3)               // pos
          slot(1) += cells(j2)(2) - cells(j2)(3) // neg
          j2 += 1
        }
        val auc = aucRankSum(sh)
        out += InternalRow(k.toLong, bFeat, bThr,
          math.floor(bDl * 1e9 + 0.5).toLong,
          math.floor(bDr * 1e9 + 0.5).toLong,
          math.floor(bGain * 1e6 + 0.5).toLong, auc)
      }
      // no candidate: f unchanged, no output row (the original's
      // left-join null branch + inner output join)
    }
    new GenericArrayData(out.toArray[Any])
  }

  override def withNewMutableAggBufferOffset(n: Int): GbtFit4 =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): GbtFit4 =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): GbtFit4 =
    copy(children = newChildren)
}
