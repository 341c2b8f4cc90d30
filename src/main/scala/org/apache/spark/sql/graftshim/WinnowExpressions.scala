package org.apache.spark.sql.graftshim

import graft.operators.HashBase
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing fingerprint computation (Schleimer/Wilkerson/Aiken MOSS
  * scheme) as a single native expression: hash every k-gram of the input
  * string, take the minimum hash of each sliding window of `w` consecutive
  * k-gram hashes, and return the distinct minima sorted ascending.
  *
  * The k-gram hash is the row-local form of a [[graft.operators.HashBase]]:
  * with `Md5` (`int(md5(kgram)[0:8], 16)`, shared with the portable
  * MinHash/SimHash variants) the exact fingerprints are reproducible in any
  * md5-capable engine — this is what makes q45 oracle-checkable in DuckDB;
  * `Xx` is the production base, whose digest-free hash removes the
  * dominant CPU cost of the portable variant.
  *
  * Replaces the round-1 higher-order-function formulation
  * (`transform(sequence(...), i => xxhash64(substr(...)))` + nested `least`),
  * which never entered whole-stage codegen: nested HOF lambdas are
  * interpreted per element. Here the whole computation is one static call
  * per row inside codegen, with an O(n) monotonic-deque rolling minimum
  * instead of the O(n·w) `least` cascade.
  */
object WinnowUtil {

  /** Distinct sorted window minima of the k-gram hashes of `norm`.
    * K-grams are slices of Unicode code points (matching Spark's `length`
    * and DuckDB's `substr` character semantics, not UTF-16 code units).
    * K-grams are hashed with `base`, chosen once per row.
    * Returns an empty array when the string is shorter than k + w − 1.
    */
  def fingerprints(norm: UTF8String, k: Int, w: Int, base: HashBase): ArrayData = {
    val cps = norm.toString.codePoints().toArray
    val n = cps.length
    val m = n - k + 1 // number of k-grams
    if (m < w) return new GenericArrayData(Array.emptyLongArray)
    val hash = base.row
    val h = new Array[Long](m)
    var i = 0
    while (i < m) {
      h(i) = hash.applyAsLong(new String(cps, i, k))
      i += 1
    }
    // O(m) sliding-window minimum via monotonic index deque
    val mins = new Array[Long](m - w + 1)
    val deque = new Array[Int](m)
    var head = 0
    var tail = 0 // deque indices in [head, tail)
    i = 0
    while (i < m) {
      while (tail > head && h(deque(tail - 1)) >= h(i)) tail -= 1
      deque(tail) = i
      tail += 1
      if (deque(head) <= i - w) head += 1
      if (i >= w - 1) mins(i - w + 1) = h(deque(head))
      i += 1
    }
    java.util.Arrays.sort(mins)
    // dedupe in place over the sorted minima
    val out = new Array[Long](mins.length)
    var outN = 0
    i = 0
    while (i < mins.length) {
      if (outN == 0 || out(outN - 1) != mins(i)) { out(outN) = mins(i); outN += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, outN))
  }
}

/** `graft_winnow(text, k, w)` → array<long> of distinct sorted winnowing
  * fingerprints under `base`.
  * See [[WinnowUtil.fingerprints]].
  */
case class WinnowFingerprints(child: Expression, k: Int, w: Int, base: HashBase)
    extends UnaryExpression with ExpectsInputTypes {

  require(k >= 1 && w >= 1, "k and w must be positive")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_winnow"

  override def nullSafeEval(s: Any): Any =
    WinnowUtil.fingerprints(s.asInstanceOf[UTF8String], k, w, base)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val baseRef = ctx.addReferenceObj("hashBase", base, classOf[HashBase].getName)
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graftshim.WinnowUtil.fingerprints($c, $k, $w, $baseRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprints =
    copy(child = newChild)
}

object WinnowFunctions {
  /** Column API for [[WinnowFingerprints]]. */
  def winnow_fingerprints(text: Column, k: Int, w: Int, base: HashBase): Column =
    ColumnBridge.column(
      WinnowFingerprints(ColumnBridge.expression(text), k, w, base))
}
