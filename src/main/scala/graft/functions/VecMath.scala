package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftext.FloatVecDot

/** Public API over the codegen'd vector expressions
  * ([[org.apache.spark.sql.graftext.FloatVecDot]]). Used by the
  * `ann_native_topk` throughput path; the DuckDB-oracle queries keep
  * the exact-decimal fold in [[graft.ext.Similarity]] where
  * cross-engine bit-determinism matters more than speed.
  */
object VecMath {

  /** Codegen'd dot product of two `array<float>` columns (double). */
  def dotF(a: Column, b: Column): Column = FloatVecDot.dotColumn(a, b)
}
