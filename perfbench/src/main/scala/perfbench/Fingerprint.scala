package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The one consuming action every timed query goes through: the row
  * count plus an order-independent sum of a 64-bit hash over ALL
  * output columns. A bare `count()` lets ColumnPruning drop every
  * column (and the aggregators that compute them); hashing each column
  * keeps the whole program in the optimized plan.
  *
  * The hash sum is a DECIMAL(30,0): a LONG sum of 64-bit hashes
  * overflows after a handful of rows, and Spark's ANSI default throws
  * on that overflow. */
final case class Fingerprint(rows: Long, hashSum: BigInt) {
  override def toString: String = s"$rows:$hashSum"
}

object Fingerprint {

  /** The single-row aggregate plan over `df`. Columns are renamed
    * positionally first, so duplicate or dotted output names cannot
    * make the hash ambiguous. */
  def plan(df: DataFrame): DataFrame = {
    val n = df.columns.length
    val h =
      if (n == 0) lit(0L)
      else xxhash64((0 until n).map(i => col(s"c$i")): _*)
    df.toDF((0 until n).map(i => s"c$i"): _*)
      .select(h.cast(DecimalType(20, 0)).as("h"))
      .agg(count(lit(1)).as("rows"), sum(col("h")).as("hash_sum"))
  }

  def of(df: DataFrame): Fingerprint = {
    val r = plan(df).collect()(0)
    val s = if (r.isNullAt(1)) BigInt(0) else BigInt(r.getDecimal(1).toBigIntegerExact)
    Fingerprint(r.getLong(0), s)
  }

  def parse(s: String): Fingerprint = {
    val Array(rows, sum) = s.trim.split(":")
    Fingerprint(rows.toLong, BigInt(sum))
  }
}
