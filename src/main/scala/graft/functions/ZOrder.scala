package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Z-order (Morton) curve values for multi-dimensional data layout —
  * the clustering technique behind "OPTIMIZE ZORDER BY" in modern
  * lakehouse engines: interleave the bits of two sort keys so rows
  * close in EITHER dimension land in the same files and row groups,
  * and min/max statistics prune scans filtered on either key (a
  * layout sorted on one column only prunes that column).
  *
  * The interleave is an unrolled sum of `2·bits` shift/mask terms —
  * pure int64 arithmetic, whole-stage codegen inlines it, and the
  * DuckDB twin is the same expression, so layout keys are
  * engine-portable and oracle-checkable like every other derived
  * column. Inputs are masked to the low `bits` bits (callers bucket
  * or mod larger domains down first — layout needs locality, not
  * injectivity).
  */
object ZOrder {

  /** Morton value of (a, b): bit i of `a` lands at position 2i, bit i
    * of `b` at 2i+1. Result < 4^bits. */
  def zValue(a: Column, b: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31,
      s"bits must be in [1, 31] (z value must fit int64), got $bits")
    val mask = (1L << bits) - 1
    val am = a.cast("long").bitwiseAND(lit(mask))
    val bm = b.cast("long").bitwiseAND(lit(mask))
    (0 until bits).map { i =>
      shiftright(am, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(bm, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)
  }

  /** DuckDB twin of [[zValue]] over SQL expressions `a` and `b`. */
  def zValueSql(a: String, b: String, bits: Int): String = {
    val mask = (1L << bits) - 1
    val terms = (0 until bits).map { i =>
      s"(((CAST($a AS BIGINT) & $mask) >> $i) & 1) * ${1L << (2 * i)}" +
        s" + (((CAST($b AS BIGINT) & $mask) >> $i) & 1) * ${1L << (2 * i + 1)}"
    }
    terms.mkString("(", " + ", ")")
  }

  /** Reference interleave for tests (driver-side). */
  def zValueRef(a: Long, b: Long, bits: Int): Long = {
    val mask = (1L << bits) - 1
    val (am, bm) = (a & mask, b & mask)
    (0 until bits).foldLeft(0L) { (acc, i) =>
      acc | (((am >> i) & 1L) << (2 * i)) | (((bm >> i) & 1L) << (2 * i + 1))
    }
  }
}
