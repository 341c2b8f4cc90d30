package graft.operators

import java.util.function.ToLongFunction

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{lit, pmod, xxhash64}
import org.apache.spark.sql.graftshim.RowHash

/** The hash base of every sketch and salted draw: string → unsigned 32-bit
  * long. The MinHash/LSH and winnowing machinery, the classifier buckets
  * and the split/mixture/sample draws are hash-agnostic; only this choice
  * varies.
  *
  *   - [[HashBase.Md5]], `int(md5(s)[0:8], 16)`, is recomputable in any
  *     md5-capable engine and is what every oracle replays.
  *   - [[HashBase.Xx]], `pmod(xxhash64(s), 2^32)`, is the production base:
  *     codegen'd, digest-free, an order of magnitude cheaper per call.
  *
  * Both yield values in [0, 2³²), so downstream arithmetic (linear
  * permutations, mod cuts, weight scaling) never overflows a signed 64-bit
  * product in either engine. Swapping the base changes WHICH docs collide
  * or land where, but no distributional property.
  *
  * `apply` is the Column form; `row` is the row-local form the native
  * expressions use, bit-identical to it ([[RowHash]]).
  */
sealed abstract class HashBase(val row: ToLongFunction[String]) extends Product with Serializable {
  def apply(s: Column): Column
}

object HashBase {
  case object Md5 extends HashBase(RowHash.md5Prefix32(_)) {
    def apply(s: Column): Column = graft.functions.md5_prefix_long(s, 8)
  }

  case object Xx extends HashBase(RowHash.xxFold32(_)) {
    def apply(s: Column): Column = pmod(xxhash64(s), lit(1L << 32))
  }
}
