package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** `tree_fit3(x1, x2, n, yc)` — the depth-3 histogram-split gini tree
  * (mlprep_tree's / mlprep_importance's shared search) as ONE typed
  * aggregate per group.
  *
  * The DataFrame formulation ran three level rounds of
  * histogram-aggregate → two cumulative windows → row_number pick →
  * broadcast re-route — ~a dozen tiny stages whose scheduling and
  * per-invocation planning dominated the rows' wall time (the round-9
  * 10× probe ran both queries flat — constants, not data). This
  * aggregate receives the SAME ≤168-cell grid rows (the one data-sized
  * pass is still the grid build, map-side combined) and computes the
  * whole tree in `eval` on the groups-sized state — two exec stages
  * total, nothing else.
  *
  * Parity contract (TrainerNative doctrine): `eval` replays the exact
  * IEEE operation sequence of the projection formulation — per-node
  * per-feature value histograms from exact-long cumulative sums, the
  * gini surrogate `half(n,p) = n − (p² + (n−p)²)/n` evaluated in the
  * identical cast order, candidate pick by (score, feat, thr) ascending
  * with `java.lang.Double.compare` (Spark's double ordering; scores are
  * ≥ +0.0 by construction so the −0.0/NaN edge never appears), a node
  * with no valid candidate left unsplit routing left (node·2), and ids
  * doubling from root 0. Determinism is by construction: state is a
  * cell multiset, and every iteration below runs in sorted (node, feat,
  * value) order, so partial-buffer arrival order cannot matter. The
  * DuckDB oracles keep their unrolled level CTEs; unchanged hashes
  * prove the identity (plus the spec's brute-forced root split).
  *
  * Output: array of (level, node, feat, thr, n, pos, score) — split
  * rows for levels 0–2 (score = the winning candidate's impurity sum,
  * for the MDI importance numerator), leaf rows at level 3 with
  * feat/thr/score null.
  */
case class TreeFit3(
    children: Seq[Expression],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends FitAggregate {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("level", LongType, nullable = false),
    StructField("node", LongType, nullable = false),
    StructField("feat", LongType, nullable = true),
    StructField("thr", LongType, nullable = true),
    StructField("n", LongType, nullable = false),
    StructField("pos", LongType, nullable = false),
    StructField("score", DoubleType, nullable = true))),
    containsNull = false)
  override def prettyName: String = "tree_fit3"

  override def eval(buf: ArrayBuffer[Array[Long]]): Any = {
    // (cellIdx -> node); cells are (x1, x2, n, yc)
    val cells = buf.toArray
    val node = Array.fill(cells.length)(0L)
    val out = ArrayBuffer.empty[InternalRow]
    for (lvl <- 0 until 3) {
      val byNode = cells.indices.groupBy(node(_))
      for (nd <- byNode.keys.toSeq.sorted) {
        val idxs = byNode(nd)
        // best candidate over both features: (score, feat, thr) asc
        var bScore = 0.0; var bFeat = 0L; var bThr = 0L
        var bNtot = 0L; var bPostot = 0L; var found = false
        for (feat <- 1 to 2) {
          val hist = new java.util.TreeMap[Long, Array[Long]]()
          var ntot = 0L; var postot = 0L
          for (i <- idxs) {
            val v = if (feat == 1) cells(i)(0) else cells(i)(1)
            val slot = hist.computeIfAbsent(v, _ => Array(0L, 0L))
            slot(0) += cells(i)(2); slot(1) += cells(i)(3)
            ntot += cells(i)(2); postot += cells(i)(3)
          }
          if (hist.size > 1) {
            val vmax = hist.lastKey()
            var nl = 0L; var posl = 0L
            val it = hist.entrySet().iterator()
            while (it.hasNext) {
              val en = it.next()
              val v = en.getKey
              nl += en.getValue()(0); posl += en.getValue()(1)
              if (v < vmax) {
                val nr = ntot - nl; val posr = postot - posl
                val score = half(nl, posl) + half(nr, posr)
                val better = !found || {
                  val c0 = java.lang.Double.compare(score, bScore)
                  c0 < 0 || (c0 == 0 && (feat < bFeat ||
                    (feat == bFeat && v < bThr)))
                }
                if (better) {
                  found = true; bScore = score; bFeat = feat.toLong
                  bThr = v; bNtot = ntot; bPostot = postot
                }
              }
            }
          }
        }
        if (found) {
          out += InternalRow(lvl.toLong, nd, bFeat, bThr, bNtot, bPostot,
            bScore)
          for (i <- idxs) {
            val v = if (bFeat == 1L) cells(i)(0) else cells(i)(1)
            node(i) = if (v <= bThr) nd * 2 else nd * 2 + 1
          }
        } else {
          // no valid candidate: stay unsplit, route left (ids aligned)
          for (i <- idxs) node(i) = nd * 2
        }
      }
    }
    val leaves = cells.indices.groupBy(node(_))
    for (nd <- leaves.keys.toSeq.sorted) {
      var n = 0L; var pos = 0L
      for (i <- leaves(nd)) { n += cells(i)(2); pos += cells(i)(3) }
      out += InternalRow(3L, nd, null, null, n, pos, null)
    }
    new GenericArrayData(out.toArray[Any])
  }

  override def withNewMutableAggBufferOffset(n: Int): TreeFit3 =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): TreeFit3 =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TreeFit3 =
    copy(children = newChildren)
}
