package graft.exprs

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Tight-loop MIPS-IVF model expressions — the [[SigExprs]] pattern
  * applied to the norm-augmented coarse quantizer ([[graft.ops.Ann.mipsIvf]]).
  *
  * The r20 build shipped the assignment as an `array_min(array(struct ×
  * nlist))` tree with one 64-element `typedLit` per centroid: correct,
  * but the tree is nlist·dim literal leaves that Catalyst re-analyzes and
  * re-optimizes on every invocation — measured ~1.0 s of DRIVER planning
  * per knn_mips_ivf run (ProbeDissect21 "plan-only", ~35% of the query's
  * wall) before a single row moved. These expressions carry the collected
  * model as constructor constants (the [[Sq8CosKey]] discipline), so the
  * plan holds ONE node and the per-row work is one JIT-compiled loop.
  *
  * Values are bit-identical to the struct-array forms they replace:
  *  - assignment: ns = −(⟨f,c⟩.toDouble + e_x·e_c) with ⟨·,·⟩ an exact
  *    integer sum, e_x = √(max(m2 − ⟨f,f⟩, 0)); argmin by Spark's struct
  *    ordering on (ns, cid), tie to smallest cid. Spark orders ±0.0 as
  *    equal while `java.lang.Double.compare` puts −0.0 < 0.0, but the
  *    two agree here: a long converts to +0.0, never −0.0, and an IEEE
  *    sum is −0.0 only when both operands are, so the sum is never −0.0
  *    and a zero ns is always −0.0 — no ns is ever +0.0;
  *  - probes: ns = −⟨q,c⟩ stays a pure integer; sort (ns, cid)
  *    ascending, keep the first nProbe cids in order.
  */
object MipsExprs {
  import graft.exprs.exprs.{toColumn, toExpr}

  /** Argmin cell id for one corpus vector under the norm-augmented score.
    * `cents`: (cid, cf, eC) sorted by cid; `m2`: max corpus ⟨f,f⟩. */
  def mips_assign(f: Column, cents: Array[(Long, Array[Long], Double)],
      m2: Long): Column =
    toColumn(MipsAssign(toExpr(f), cents, m2))

  /** The nProbe nearest cell ids for one query vector by integer ⟨q,c⟩
    * descending (ns = −dot ascending), ties to smallest cid, in order. */
  def mips_probe_cells(qf: Column, cents: Array[(Long, Array[Long])],
      nProbe: Int): Column =
    toColumn(MipsProbeCells(toExpr(qf), cents, nProbe))
}

case class MipsAssign(child: Expression,
    cents: Array[(Long, Array[Long], Double)], m2: Long)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val f = input.asInstanceOf[ArrayData]
    val n = f.numElements()
    var self = 0L
    var i = 0
    while (i < n) { val x = f.getLong(i); self += x * x; i += 1 }
    val eX = math.sqrt(math.max(m2 - self, 0L).toDouble)
    var bestNs = Double.NaN // NaN sorts AFTER every double in Spark's ordering
    var bestC = 0L
    var first = true
    var c = 0
    while (c < cents.length) {
      val (cid, cf, eC) = cents(c)
      val m = math.min(n, cf.length) // dot_int's min-length contract
      var dot = 0L
      i = 0
      while (i < m) { dot += f.getLong(i) * cf(i); i += 1 }
      val ns = -(dot.toDouble + eX * eC)
      val cmp = java.lang.Double.compare(ns, bestNs)
      if (first || cmp < 0 || (cmp == 0 && cid < bestC)) {
        bestNs = ns; bestC = cid; first = false
      }
      c += 1
    }
    if (first) null else java.lang.Long.valueOf(bestC)
  }

  override protected def withNewChildInternal(c: Expression): MipsAssign =
    copy(child = c)
  override def prettyName: String = "mips_assign"
}

case class MipsProbeCells(child: Expression,
    cents: Array[(Long, Array[Long])], nProbe: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val q = input.asInstanceOf[ArrayData]
    val n = q.numElements()
    val scored = new Array[(Long, Long)](cents.length) // (ns, cid)
    var c = 0
    while (c < cents.length) {
      val (cid, cf) = cents(c)
      val m = math.min(n, cf.length)
      var dot = 0L
      var i = 0
      while (i < m) { dot += q.getLong(i) * cf(i); i += 1 }
      scored(c) = (-dot, cid)
      c += 1
    }
    val take = math.min(nProbe, scored.length)
    val top = scored.sorted.take(take).map(_._2)
    new GenericArrayData(top)
  }

  override protected def withNewChildInternal(c: Expression): MipsProbeCells =
    copy(child = c)
  override def prettyName: String = "mips_probe_cells"
}
