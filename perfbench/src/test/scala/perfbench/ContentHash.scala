package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** GoldenOutputSpec-style content hash: the sum of xxhash64 over each
  * row's columns cast to string and joined by `|`. Row order does not
  * matter, any value change does.
  */
object ContentHash {
  def of(df: DataFrame): (Long, String) = {
    val h = df.select(xxhash64(concat_ws("|",
        df.columns.map(c => coalesce(col(c).cast("string"), lit("\u0000"))).toIndexedSeq: _*)).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .head()
    (h.getLong(0), Option(h.getDecimal(1)).map(_.toBigInteger.toString).getOrElse("0"))
  }
}
