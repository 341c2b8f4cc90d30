package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftshim.{VectorFunctions => Shim}

/** Public Column API for graft's native Catalyst expressions. The
  * implementations live under org.apache.spark.sql.graftshim because
  * Spark's expression SPI types (AbstractDataType, the Column constructor)
  * are private[sql].
  */
package object functions {
  object VectorFunctions {
    def dot_product(a: Column, b: Column): Column = Shim.dot_product(a, b)
    def l2_norm(a: Column): Column = Shim.l2_norm(a)
  }

  /** Winnowing fingerprints (k-gram hashes under `base`, distinct sorted
    * window minima) as one native codegen expression → array<long>.
    */
  def winnow_fingerprints(text: Column, k: Int, w: Int,
                          base: graft.operators.HashBase): Column =
    org.apache.spark.sql.graftshim.WinnowFunctions
      .winnow_fingerprints(text, k, w, base)

  /** `conv(substring(md5(c), 1, width), 16, 10) :: long` as one native
    * codegen expression — bit-identical, one thread-local digest, no hex
    * string / substring / conv parse per call.
    */
  def md5_prefix_long(c: Column, width: Int): Column =
    org.apache.spark.sql.graftshim.Md5Functions.md5_prefix_long(c, width)

  /** Intersection size of two SORTED DISTINCT array<string> columns by
    * linear merge, early-exiting (with a < `required` result) once the
    * count provably cannot reach `required` — exact whenever ≥ `required`.
    */
  def sorted_intersect_count(a: Column, b: Column, required: Column): Column =
    org.apache.spark.sql.graftshim.ArrayFunctions
      .sorted_intersect_count(a, b, required)
}
