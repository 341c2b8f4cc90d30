package org.apache.spark.sql.graftshim

import graft.operators.HashBase
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Whole MinHash signature of a token array as ONE native expression —
  * the row-local form of the explode/groupBy pipeline:
  *
  *   shingles = distinct n-gram joins of the token array
  *   sig[p]   = min over shingles of (a_p · h(shingle) + b_p) mod P
  *
  * The exploded formulation pays, per SHINGLE: a generated row through
  * `explode`, a hash-aggregate probe keyed on doc_id, and (after partial
  * aggregation) an exchange carrying numPerms min-buffers per doc. All of
  * it exists only to compute a per-DOC quantity from per-doc data — this
  * expression computes the identical signature in one tight loop per row
  * and removes the aggregate and its exchange from every MinHash pipeline.
  *
  * Each shingle is hashed with the row-local form of `base`
  * ([[graft.operators.HashBase]]), chosen once per row. Permutation
  * coefficients arrive as literals (they are data-independent md5 draws,
  * computed once driver-side — see `Dedup.permCoeff`).
  *
  * Value contract: bit-identical to the exploded pipeline for every input
  * (distinct is a no-op under min; remainder operands are non-negative so
  * Java `%` equals Spark's `%` here). Pinned by MinhashSigSpec against
  * the explode/groupBy formulation on randomized corpora, both bases.
  * Returns null when the array holds fewer than `n` tokens — callers
  * filter `size(w) >= n` first, exactly as the exploded path did. Null
  * tokens count toward that size and are skipped inside a shingle, as
  * `array_join` skips them.
  */
object MinhashUtil {

  /** Prime > 2³² for the universal-hash permutation family. */
  val MinhashPrime = 4294967311L

  def signature(w: ArrayData, n: Int, a: Array[Long], b: Array[Long],
                base: HashBase): ArrayData = {
    val len = w.numElements()
    if (len < n) return null
    val numPerms = a.length
    val mins = new Array[Long](numPerms)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val toks = new Array[String](len)
    var i = 0
    while (i < len) {
      if (!w.isNullAt(i)) toks(i) = w.getUTF8String(i).toString
      i += 1
    }
    val seen = new java.util.HashSet[String]()
    val sb = new java.lang.StringBuilder()
    val hash = base.row
    i = 0
    while (i + n <= len) {
      // array_join semantics: null tokens are skipped, and the delimiter
      // goes only between the non-null ones
      sb.setLength(0)
      var first = true
      var j = 0
      while (j < n) {
        val t = toks(i + j)
        if (t != null) {
          if (!first) sb.append(' ')
          sb.append(t)
          first = false
        }
        j += 1
      }
      val g = sb.toString
      if (seen.add(g)) {
        val h = hash.applyAsLong(g)
        var p = 0
        while (p < numPerms) {
          val v = (h * a(p) + b(p)) % MinhashPrime
          if (v < mins(p)) mins(p) = v
          p += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
}

case class MinhashSignature(child: Expression, n: Int,
                            aCoeffs: Seq[Long], bCoeffs: Seq[Long],
                            base: HashBase)
    extends UnaryExpression with ExpectsInputTypes {

  require(n >= 1 && aCoeffs.nonEmpty && aCoeffs.length == bCoeffs.length,
    "need a positive shingle width and matching permutation coefficients")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_signature"
  override def nullable: Boolean = true

  @transient private lazy val aArr = aCoeffs.toArray
  @transient private lazy val bArr = bCoeffs.toArray

  override def nullSafeEval(w: Any): Any =
    MinhashUtil.signature(w.asInstanceOf[ArrayData], n, aArr, bArr, base)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("minhashA", aArr, "long[]")
    val bRef = ctx.addReferenceObj("minhashB", bArr, "long[]")
    val baseRef = ctx.addReferenceObj("hashBase", base, classOf[HashBase].getName)
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = org.apache.spark.sql.graftshim.MinhashUtil.signature(
         |  $c, $n, $aRef, $bRef, $baseRef);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashSignature =
    copy(child = newChild)
}

object MinhashFunctions {
  /** Column API: see [[MinhashSignature]]. */
  def minhash_signature(w: Column, n: Int, aCoeffs: Seq[Long],
                        bCoeffs: Seq[Long], base: HashBase): Column =
    ColumnBridge.column(MinhashSignature(ColumnBridge.expression(w),
      n, aCoeffs, bCoeffs, base))
}
