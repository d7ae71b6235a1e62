package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** `forest_fit8(tree, feat, x1, x2, wn, wy, c0, p0, cnt, cy)` —
  * mlprep_forest's post-grid machinery (per-tree weighted stump search,
  * per-tree OOB AUC, exact ensemble AUC) as ONE typed aggregate per
  * group, completing the trainer fusion family (tree_fit3 / gbt_fit4 /
  * logit_fit4). The data-sized work is unchanged: the 8-way bagged
  * fan-out and the deterministic hash bootstrap stay in the grid build
  * (one map-side-combined scan); this aggregate receives the 8×-grid
  * HISTOGRAM rows and replays, in sorted order:
  *  - per tree (mtry=1 — `feat` rides in as a grid column): the value
  *    histogram of in-bag weighted counts, candidates at v < vmax with
  *    both split sides in-bag non-empty, gini surrogate through the
  *    identical double tree, winner by (score, thr) ascending;
  *  - leaf rates floor-quantized exactly as the column expression
  *    (`floor(p/n · 1e9)`, no rounding offset);
  *  - per-tree OOB AUC over the w=0 counts and the group ensemble AUC
  *    over the exact integer sum of quantized leaf predictions — both
  *    via the tie-correct score-histogram rank-sum, null when a class
  *    is empty (the NULLIF contract);
  *  - a tree with no valid candidate emits no row and contributes
  *    nothing to the ensemble (the original's inner joins).
  * The DuckDB oracle keeps its unrolled CTEs; unchanged hashes prove
  * the identity.
  *
  * Output: array of (tree, feat, thr, wn_inbag, wpos_inbag, pred_l_q,
  * pred_r_q, oob_auc, ens_auc) — one row per tree that split.
  */
case class ForestFit8(
    children: Seq[Expression],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends FitAggregate {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("tree", LongType, nullable = false),
    StructField("feat", LongType, nullable = false),
    StructField("thr", LongType, nullable = false),
    StructField("wn_inbag", LongType, nullable = false),
    StructField("wpos_inbag", LongType, nullable = false),
    StructField("pred_l_q", LongType, nullable = false),
    StructField("pred_r_q", LongType, nullable = false),
    StructField("oob_auc", DoubleType, nullable = true),
    StructField("ens_auc", DoubleType, nullable = true))),
    containsNull = false)
  override def prettyName: String = "forest_fit8"

  override def eval(buf: ArrayBuffer[Array[Long]]): Any = {
    // cell fields: 0=tree 1=feat 2=x1 3=x2 4=wn 5=wy 6=c0 7=p0 8=cnt 9=cy
    val cells = buf.toArray
    val byTree = cells.indices.groupBy(i => cells(i)(0))
    // per-tree pick: tree -> (feat, thr, ntot, postot, predLq, predRq)
    val picks = ArrayBuffer.empty[(Long, Long, Long, Long, Long, Long, Long, Any)]
    // the ensemble's base counts come from the tree=0 grid slice
    // UNCONDITIONALLY (the original joins base regardless of whether
    // tree 0 itself split); cell sets are identical across trees
    val cellOrd: Ordering[(Long, Long)] =
      Ordering.Tuple2(Ordering.Long, Ordering.Long)
    val base = new java.util.TreeMap[(Long, Long), Array[Long]](cellOrd)
    for (i <- byTree.getOrElse(0L, Seq.empty))
      base.put((cells(i)(2), cells(i)(3)), Array(cells(i)(8), cells(i)(9)))
    // ensemble accumulation: (x1, x2) -> sum of quantized leaf preds
    val ensQ = new java.util.TreeMap[(Long, Long), Array[Long]](cellOrd)
    for (tree <- byTree.keys.toSeq.sorted) {
      val idxs = byTree(tree)
      val feat = cells(idxs.head)(1)
      val hist = new java.util.TreeMap[java.lang.Long, Array[Long]]()
      var ntot = 0L; var postot = 0L
      for (i <- idxs) {
        val v = if (feat == 1L) cells(i)(2) else cells(i)(3)
        val slot = hist.computeIfAbsent(v, _ => Array(0L, 0L))
        slot(0) += cells(i)(4); slot(1) += cells(i)(5)
        ntot += cells(i)(4); postot += cells(i)(5)
      }
      var found = false
      var bScore = 0.0; var bThr = 0L
      var bPredL = 0L; var bPredR = 0L
      if (hist.size > 1) {
        val vmax = hist.lastKey()
        var nl = 0L; var posl = 0L
        val it = hist.entrySet().iterator()
        while (it.hasNext) {
          val en = it.next()
          val v: Long = en.getKey
          nl += en.getValue()(0); posl += en.getValue()(1)
          // zero-in-bag split sides are excluded (nl > 0 and nr > 0)
          if (v < vmax && nl > 0L && ntot - nl > 0L) {
            val nr = ntot - nl; val posr = postot - posl
            val score = half(nl, posl) + half(nr, posr)
            val better = !found || {
              val c0 = java.lang.Double.compare(score, bScore)
              c0 < 0 || (c0 == 0 && v < bThr)
            }
            if (better) {
              found = true; bScore = score; bThr = v
              // rate9: floor(p / n · 1e9), the column expression's order
              bPredL = math.floor(posl.toDouble / nl.toDouble * 1e9).toLong
              bPredR = math.floor(posr.toDouble / nr.toDouble * 1e9).toLong
            }
          }
        }
      }
      if (found) {
        // per-tree OOB AUC over the w=0 counts, histogrammed by score_q
        val oobHist = new java.util.TreeMap[java.lang.Long, Array[Long]]()
        for (i <- idxs) {
          val v = if (feat == 1L) cells(i)(2) else cells(i)(3)
          val sq = if (v <= bThr) bPredL else bPredR
          val slot = oobHist.computeIfAbsent(sq, _ => Array(0L, 0L))
          slot(0) += cells(i)(7)                 // p0
          slot(1) += cells(i)(6) - cells(i)(7)   // c0 - p0
          // ensemble: exact integer sum of quantized predictions
          val key = (cells(i)(2), cells(i)(3))
          val e = ensQ.computeIfAbsent(key, _ => Array(0L))
          e(0) += sq
        }
        picks += ((tree, feat, bThr, ntot, postot, bPredL, bPredR,
          aucRankSum(oobHist)))
      }
    }
    if (picks.isEmpty) return new GenericArrayData(Array.empty[Any])
    // group-level ensemble AUC: join the ens_q cells to the tree-0 base
    // counts, histogram by ens_q
    val ensHist = new java.util.TreeMap[java.lang.Long, Array[Long]]()
    val eit = ensQ.entrySet().iterator()
    while (eit.hasNext) {
      val en = eit.next()
      val b = base.get(en.getKey)
      if (b != null) {
        val slot = ensHist.computeIfAbsent(en.getValue()(0),
          _ => Array(0L, 0L))
        slot(0) += b(1)         // cy
        slot(1) += b(0) - b(1)  // cnt - cy
      }
    }
    val ensAuc = aucRankSum(ensHist)
    new GenericArrayData(picks.map { case (t, fe, th, n, p, pl, pr, oob) =>
      InternalRow(t, fe, th, n, p, pl, pr, oob, ensAuc)
    }.toArray[Any])
  }

  override def withNewMutableAggBufferOffset(n: Int): ForestFit8 =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): ForestFit8 =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ForestFit8 =
    copy(children = newChildren)
}
