package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._

/** Native trainer primitives: the deterministic sigmoid
  * ([[TrainerNative.sigmoidR16]]) and power iteration ([[PowerIter3]],
  * SQL `power_iter3`) of mlprep_logit / mlprep_gbt / mlprep_pca, and
  * [[FitAggregate]], the shared base of the fused trainer aggregates
  * (`logit_fit4`, `gbt_fit4`, `tree_fit3`, `forest_fit8`).
  *
  * Motivation is PLANNING cost, not row throughput: the engine's
  * deterministic sigmoid and power iteration were built as unrolled
  * projection chains (16 squarings per sigmoid; 48 matvec+normalize
  * steps) so both engines replay one IEEE tree — correct, but Catalyst
  * re-analyzes the whole unrolled chain on every invocation, a constant
  * ~44s/board across the trainer rows (round-8 verdict; the 10× probe
  * showed the cost is flat in data size). Each primitive here computes
  * the SAME IEEE operation sequence in one call, so the arithmetic — and
  * therefore every CORRECTNESS hash — is bit-identical while the plan
  * shrinks from dozens of projections to one.
  *
  * The DuckDB oracles keep their unrolled CTE chains: the parity
  * contract is unchanged arithmetic, proven by unchanged hashes.
  */

/** Shared plumbing of the fused trainer aggregates. The state is the
  * multiset of bigint input rows (one `Array[Long]` of `children.length`
  * values per row); a row with a null in any input is skipped. Partial
  * buffers merge by append, so each subclass's `eval` must iterate in a
  * sorted order for its result not to depend on arrival order
  * (FitAggregatesSpec drives every layout).
  */
abstract class FitAggregate
    extends TypedImperativeAggregate[ArrayBuffer[Array[Long]]] {

  @transient private lazy val inputs: Array[Expression] = children.toArray

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.forall(_.dataType == LongType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects ${children.length} bigint columns, got " +
        children.map(_.dataType.simpleString).mkString(", "))

  override def nullable: Boolean = false

  override def createAggregationBuffer(): ArrayBuffer[Array[Long]] =
    ArrayBuffer.empty

  override def update(buf: ArrayBuffer[Array[Long]],
                      input: InternalRow): ArrayBuffer[Array[Long]] = {
    val row = new Array[Long](inputs.length)
    var i = 0
    while (i < inputs.length) {
      val v = inputs(i).eval(input)
      if (v == null) return buf
      row(i) = v.asInstanceOf[Long]
      i += 1
    }
    buf += row
  }

  override def merge(buf: ArrayBuffer[Array[Long]],
                     other: ArrayBuffer[Array[Long]]): ArrayBuffer[Array[Long]] =
    buf ++= other

  override def serialize(buf: ArrayBuffer[Array[Long]]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + buf.length * 8 * children.length)
    bb.putInt(buf.length)
    buf.foreach(_.foreach(bb.putLong))
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): ArrayBuffer[Array[Long]] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val w = children.length
    val buf = ArrayBuffer.empty[Array[Long]]
    var i = 0
    while (i < n) {
      buf += Array.fill(w)(bb.getLong)
      i += 1
    }
    buf
  }

  /** The gini surrogate `n − (p² + (n−p)²)/n` in the projection chain's
    * cast order: exact-long products, then doubles. */
  protected def half(n: Long, p: Long): Double =
    n.toDouble - ((p * p).toDouble + ((n - p) * (n - p)).toDouble) /
      n.toDouble

  /** Tie-correct AUC over a score histogram (slot = (pos, neg), keys
    * ascending): the rank-sum pos·(2·cumneg + neg) in exact longs over
    * 2·P·N, null when a class is empty (the oracle's NULLIF contract). */
  protected def aucRankSum(hist: java.util.TreeMap[_, Array[Long]]): Any = {
    var cumneg = 0L; var num2 = 0L; var np = 0L; var nn = 0L
    val it = hist.values().iterator()
    while (it.hasNext) {
      val slot = it.next()
      num2 += slot(0) * (2L * cumneg + slot(1))
      np += slot(0); nn += slot(1)
      cumneg += slot(1)
    }
    if (2L * np * nn == 0L) null
    else num2.toDouble / (2L * np * nn).toDouble
  }
}

/** `power_iter3(c11, c12, c13, c22, c23, c33)` — 48 power-iteration
  * steps on the symmetric 3×3 matrix, exactly the unrolled chain in
  * mlprep_pca: v₀ = (1,1,1); each step w = C·v (products and
  * left-to-right sums in the chain's order), L∞-normalize v = w/m with
  * m = greatest(|w₁|,|w₂|,|w₃|); returns
  * struct(v1, v2, v3, w1, w2, w3) with w = C·v once more after the
  * loop (the Rayleigh numerator's ingredients). A zero matrix returns
  * NULL — the chain's NULLIF(m, 0) propagation.
  *
  * CodegenFallback is deliberate: this runs on the |groups|-row stats
  * frame (a handful of rows), where interpreted eval is free and the
  * planning win is the whole point.
  */
case class PowerIter3(children: Seq[Expression]) extends Expression
    with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.length == 6 && children.forall(_.dataType == DoubleType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "power_iter3 expects 6 double arguments (c11,c12,c13,c22,c23,c33)")

  override def dataType: DataType = StructType(
    Seq("v1", "v2", "v3", "w1", "w2", "w3")
      .map(StructField(_, DoubleType, nullable = true)))
  override def nullable: Boolean = true
  override def prettyName: String = "power_iter3"
  override def foldable: Boolean = children.forall(_.foldable)

  override def eval(input: InternalRow): Any = {
    val in = new Array[Double](6)
    var i = 0
    while (i < 6) {
      val v = children(i).eval(input)
      if (v == null) return null
      in(i) = v.asInstanceOf[Double]
      i += 1
    }
    TrainerNative.powerIter3(in(0), in(1), in(2), in(3), in(4), in(5))
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): PowerIter3 =
    copy(children = newChildren)
}

object TrainerNative {

  /** The engine's deterministic rational sigmoid: clamp z to ±30, then
    * `1 / (1 + (1 − z/65536)^65536)` by 16 exact squarings (every step
    * correctly rounded, so both engines agree bit-for-bit; `exp` would
    * not be). Replicates the projection chain the mlprep_logit /
    * mlprep_gbt oracles run, including Spark's `greatest(least(z, 30),
    * −30)` NaN semantics (NaN clamps to 30). */
  def sigmoidR16(z: Double): Double = {
    // greatest(least(z, 30), -30) with Spark's NaN-is-greatest ordering
    val zc = if (z.isNaN) 30.0 else math.max(math.min(z, 30.0), -30.0)
    var e = 1.0 + (-zc) / 65536.0
    var i = 0
    while (i < 16) { e = e * e; i += 1 }
    1.0 / (1.0 + e)
  }

  /** The exact 48-step L∞ power iteration; see [[PowerIter3]]. */
  def powerIter3(c11: Double, c12: Double, c13: Double,
                 c22: Double, c23: Double, c33: Double): InternalRow = {
    var v1 = 1.0; var v2 = 1.0; var v3 = 1.0
    var i = 0
    while (i < 48) {
      val w1 = c11 * v1 + c12 * v2 + c13 * v3
      val w2 = c12 * v1 + c22 * v2 + c23 * v3
      val w3 = c13 * v1 + c23 * v2 + c33 * v3
      val m = math.max(math.max(math.abs(w1), math.abs(w2)), math.abs(w3))
      if (m == 0.0) return null // NULLIF(m, 0): the null propagates
      v1 = w1 / m; v2 = w2 / m; v3 = w3 / m
      i += 1
    }
    val w1 = c11 * v1 + c12 * v2 + c13 * v3
    val w2 = c12 * v1 + c22 * v2 + c23 * v3
    val w3 = c13 * v1 + c23 * v2 + c33 * v3
    new GenericInternalRow(Array[Any](v1, v2, v3, w1, w2, w3))
  }

  val powerIdent: FunctionIdentifier = FunctionIdentifier("power_iter3")
  val powerInfo: ExpressionInfo =
    new ExpressionInfo(classOf[PowerIter3].getName, "power_iter3")
  val powerBuilder: PartialFunction[Seq[Expression], Expression] = {
    case cs if cs.length == 6 => PowerIter3(cs)
  }
}
