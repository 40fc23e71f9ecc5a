package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Consumes every output column of a frame with one order-independent
  * aggregate: the row count plus the wrapping 64-bit sum of a per-row
  * xxhash64 over all columns. Unlike `Dataset.count()`, column pruning
  * cannot drop an output column, so the work a reader of the result
  * pays for is done.
  *
  * Top-level floating-point columns are hashed at float precision, so a
  * sum whose last double bits depend on the order partial results are
  * merged in still hashes the same. */
object Digest {
  final case class Result(rows: Long, hash: Long)

  /** The aggregate frame (one row: n, lo, hi). */
  def frame(df: DataFrame): DataFrame = {
    // positional names: query outputs may repeat a column name
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => col(f.name).cast(FloatType)
        case _ => col(f.name)
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    // two 32-bit halves: neither sum can overflow below 2^31 rows
    named.select(h.as("h")).agg(
      count(lit(1)).as("n"),
      sum(col("h").bitwiseAND(lit(0xffffffffL))).as("lo"),
      sum(shiftright(col("h"), 32)).as("hi"))
  }

  def collect(agg: DataFrame): Result = {
    val r = agg.head()
    val lo = if (r.isNullAt(1)) 0L else r.getLong(1)
    val hi = if (r.isNullAt(2)) 0L else r.getLong(2)
    Result(r.getLong(0), lo + (hi << 32))
  }
}
