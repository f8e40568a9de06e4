package perfbench

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Order-insensitive digest of a result that still counts duplicate rows:
  * the row count plus the sums of the two 32-bit halves of every row's
  * xxhash64. A `bit_xor` fold (what `Bench.consume` computes) cancels a
  * duplicated pair of rows; a sum does not, and the halves keep each sum
  * inside a Long under ANSI overflow checks for up to 2^31 rows.
  */
object Digest {
  final case class Value(rows: Long, digest: String)

  private val Hash = "__perfbench_row_hash"

  private def aggregates: Seq[Column] = {
    val h = col(Hash)
    Seq(count(lit(1)).as("rows"),
      coalesce(sum(h.bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)).as("lo"),
      coalesce(sum(shiftrightunsigned(h, 32)), lit(0L)).as("hi"))
  }

  private def hashed(df: DataFrame): DataFrame =
    df.select(col("*"), xxhash64(struct(col("*"))).as(Hash))

  private def value(rows: Long, lo: Long, hi: Long) = Value(rows, f"$lo%x.$hi%x")

  def of(df: DataFrame): Value = {
    val r = hashed(df).agg(aggregates.head, aggregates.tail: _*).head()
    value(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** `df` with the digest observed as a side output of whatever action
    * evaluates it, and a function that returns the digest once that
    * action has succeeded. The query's own plan is unchanged below the
    * observation.
    */
  def observed(df: DataFrame): (DataFrame, () => Value) = {
    val obs = Observation()
    val aggs = aggregates
    (hashed(df).observe(obs, aggs.head, aggs.tail: _*).drop(Hash), () => {
      val r = Await.result(obs.future, 5.minutes)
      value(r.getLong(0), r.getLong(1), r.getLong(2))
    })
  }
}
