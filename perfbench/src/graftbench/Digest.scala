package graftbench

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Row count plus an order-insensitive content hash of a result. */
final case class Digest(rows: Long, sum: Long, xor: Long) {
  override def toString: String = s"rows=$rows sum=$sum xor=$xor"
}

/** Computes a [[Digest]] as a side effect of materializing a frame
  * (`Dataset.observe`), so checking a result costs no second execution.
  * Floating-point values are rounded to a fixed number of significant
  * digits first, so a change of summation order does not change the hash. */
object Digest {
  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType => format_string("%.9e", c + lit(0.0))
    case FloatType => format_string("%.5e", c.cast(DoubleType) + lit(0.0))
    case ArrayType(et @ (DoubleType | FloatType), _) =>
      transform(c, x => norm(x, et))
    case _: MapType | VariantType => to_json(c) // neither is hashable
    case _ => c
  }

  private def rowHash(df: DataFrame): Column =
    xxhash64(df.schema.fields.toSeq.map(f => norm(col(s"`${f.name}`"), f.dataType)): _*)

  private def aggs(h: Column): Seq[Column] = Seq(count(lit(1)).as("n"),
    coalesce(sum(h.bitwiseAND(lit(0xffffffffL))), lit(0L)).as("s"),
    coalesce(bit_xor(h), lit(0L)).as("x"))

  /** `df` with the digest attached, and the handle to read it from after
    * an action ran. */
  def observe(df: DataFrame, name: String): (DataFrame, Observation) = {
    val obs = Observation(name)
    val as = aggs(rowHash(df))
    (df.observe(obs, as.head, as.tail: _*), obs)
  }

  def read(obs: Observation): Digest = {
    val m = obs.get
    Digest(m("n").asInstanceOf[Long], m("s").asInstanceOf[Long],
      m("x").asInstanceOf[Long])
  }

  /** Digest of a frame by one aggregate query (for checks that recompute
    * an expected result). */
  def of(df: DataFrame): Digest = {
    val as = aggs(rowHash(df))
    val r = df.agg(as.head, as.tail: _*).head()
    Digest(r.getLong(0), r.getLong(1), r.getLong(2))
  }
}
