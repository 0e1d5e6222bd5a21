package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Output fingerprints in the canonical form of the repository's oracle
  * gate (`tools/check_correctness.py`): columns ordered by name, floats
  * rounded to 6 places, row order ignored. Two results with the same row
  * count and digest are the same result. */
object Check {
  final case class Print(rows: Long, digest: String) {
    def toMap: Map[String, String] = Map("rows" -> rows.toString, "digest" -> digest)
  }

  /** The fingerprint, computed where the rows are so that no result is
    * collected: each canonical row hashed twice and the hashes summed,
    * which no row order changes. */
  def inSpark(df: DataFrame): Print = {
    def canon(c: Column, t: DataType): Column = t match {
      case DoubleType | FloatType => round(c.cast(DoubleType), 6)
      case ArrayType(DoubleType | FloatType, _) =>
        transform(c, x => round(x.cast(DoubleType), 6))
      case _ => c
    }
    val cols = df.schema.fields.sortBy(_.name).map(f => canon(col(f.name), f.dataType))
    val r = df.select(xxhash64(cols: _*).as("h1"), hash(cols: _*).as("h2"))
      .agg(count(lit(1)), sum(pmod(col("h1"), lit(2147483647L))),
        sum(pmod(col("h2"), lit(2147483629L))))
      .collect().head
    def l(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
    Print(l(0), s"${l(1)}:${l(2)}")
  }
}
