package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** `conv(substring(md5(x), 1, width), 16, 10) :: long` as ONE native
  * codegen expression.
  *
  * The composed form pays, per call: a JCA provider lookup + fresh
  * MessageDigest (inside commons-codec's `md5Hex`), a 32-char hex string,
  * a substring copy, and `conv`'s string-to-number parse — all to produce
  * ≤ 60 bits of the digest. The portable-hash family (MinHash base,
  * SimHash per-token bits, Bloom/CMS slots, classifier draws) calls this
  * once per SHINGLE or TOKEN, so the overhead multiplies by corpus token
  * count. This expression digests into a thread-local instance and folds
  * the first `width` nibbles directly into a long.
  *
  * Value contract: bit-identical to the composed form for every input
  * (verified by Md5PrefixSpec against the built-ins) — oracle hashes are
  * unchanged wherever it replaces the composed chain.
  */
case class Md5PrefixLong(child: Expression, width: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(width >= 1 && width <= 15,
    "md5 prefix width must be 1..15 hex digits to fit a signed long")

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_md5_prefix_long"

  override def nullSafeEval(input: Any): Any =
    RowHash.md5PrefixLong(input.asInstanceOf[Array[Byte]], width)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graftshim.RowHash.md5PrefixLong($c, $width)")

  override protected def withNewChildInternal(newChild: Expression): Md5PrefixLong =
    copy(child = newChild)
}

object Md5Functions {
  /** Column API: see [[Md5PrefixLong]]. */
  def md5_prefix_long(c: Column, width: Int): Column =
    ColumnBridge.column(Md5PrefixLong(ColumnBridge.expression(c), width))
}
