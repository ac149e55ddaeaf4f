package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent content fingerprint of a frame: its row count and
  * the sum of a per-row xxhash64 (read as unsigned) over the columns
  * taken in name order. Doubles, also inside arrays, are rounded to 6
  * decimals first, the precision of the DuckDB oracle compare, so a
  * last-bit change in a floating sum does not read as another result.
  */
object Fingerprint {
  final case class Value(rows: Long, hash: String) {
    override def toString: String = s"$rows\t$hash"
  }

  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case ArrayType(DoubleType | FloatType, _) =>
      transform(c, x => round(x.cast(DoubleType), 6))
    case _ => c
  }

  /** Row count and the hash sum as two 32-bit halves, so no sum can
    * overflow. Column names are unique: outputs are also written to
    * parquet, which rejects duplicates.
    */
  def aggs(df: DataFrame): Seq[Column] = {
    val h = xxhash64(df.schema.fields.sortBy(_.name)
      .map(f => canon(col(f.name), f.dataType)).toIndexedSeq: _*)
    Seq(count(lit(1)).as("fp_rows"), sum(shiftrightunsigned(h, 32)).as("fp_hi"),
      sum(h.bitwiseAND(lit(0xffffffffL))).as("fp_lo"))
  }

  /** The fingerprint from the three values [[aggs]] computes. */
  def value(rows: Any, hi: Any, lo: Any): Value = {
    def big(x: Any) = java.math.BigInteger.valueOf(Option(x).fold(0L)(_.asInstanceOf[Long]))
    Value(rows.asInstanceOf[Long], big(hi).shiftLeft(32).add(big(lo)).toString)
  }

  def apply(df: DataFrame): Value = {
    val a = aggs(df)
    val r = df.agg(a.head, a.tail: _*).head()
    value(r.get(0), r.get(1), r.get(2))
  }

  /** `df` with the fingerprint attached as a Spark observation: whatever
    * action runs the frame also computes it, with no extra job.
    */
  def observed(df: DataFrame): (DataFrame, () => Value) = {
    val obs = Observation()
    val a = aggs(df)
    (df.observe(obs, a.head, a.tail: _*), () => {
      val m = obs.get
      value(m("fp_rows"), m("fp_hi"), m("fp_lo"))
    })
  }
}
