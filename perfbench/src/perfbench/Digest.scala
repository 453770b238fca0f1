package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The timed action of a query and the check of its output.
  *
  * `count()` lets column pruning skip work a user pays for, so the
  * action hashes every output column of every row and folds the hashes
  * into (rows, sum mod 2^64). The fold runs in plain JVM arithmetic
  * after the plan, so ANSI overflow checks never fire, and the sum is
  * independent of row and partition order. A typed `mapPartitions`
  * sits above the query's plan, so a final sort is executed, as it is
  * for a user who collects or writes the result.
  *
  * Floating-point columns are hashed after rounding to float: sums
  * whose last bits depend on the order partials were merged in then
  * still hash the same.
  */
object Digest {
  final case class Result(rows: Long, sum: Long) {
    def show: String = s"$rows\t$sum"
  }

  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => c.cast(FloatType)
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case StructType(fields) =>
      when(c.isNull, lit(null)).otherwise(
        struct(fields.toSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(kt, vt, _) =>
      norm(map_entries(c), ArrayType(StructType(Seq(
        StructField("key", kt), StructField("value", vt)))))
    case _ => c
  }

  def of(df: DataFrame): Result = {
    import df.sparkSession.implicits._
    // positional names: a query may emit two columns of the same name
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => norm(col(f.name), f.dataType))
    val parts = named.select(xxhash64(cols: _*).as("h")).as[Long]
      .mapPartitions { it =>
        var n = 0L
        var s = 0L
        it.foreach { h => n += 1; s += h }
        Iterator((n, s))
      }.collect()
    Result(parts.map(_._1).sum, parts.map(_._2).foldLeft(0L)(_ + _))
  }
}
