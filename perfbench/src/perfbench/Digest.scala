package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive output digests: row count plus the sum of a
  * 64-bit hash of every row. Doubles are hashed at float precision so a
  * sum whose last bits depend on task order still digests the same.
  */
object Digest {
  private def canonical(df: DataFrame): Seq[Column] = df.schema.fields.toSeq.map { f =>
    val c = col(s"`${f.name}`")
    f.dataType match {
      case DoubleType => c.cast(FloatType)
      case ArrayType(DoubleType, n) => c.cast(ArrayType(FloatType, n))
      case _: MapType => to_json(c)
      case _ => c
    }
  }

  /** Aggregate expressions yielding `rows` and `hash` for `df`. */
  def exprs(df: DataFrame): Seq[Column] = Seq(
    count(lit(1)).as("rows"),
    coalesce(sum(xxhash64(canonical(df): _*).cast(DecimalType(38, 0))),
      lit(BigDecimal(0)).cast(DecimalType(38, 0))).as("hash"))

  def of(df: DataFrame): Map[String, Any] = {
    val r = df.agg(exprs(df).head, exprs(df).tail: _*).head()
    Map("rows" -> r.getLong(0), "hash" -> r.getDecimal(1).toString)
  }

  def fromObservation(m: Map[String, Any]): Map[String, Any] =
    Map("rows" -> m("rows"), "hash" -> m("hash").toString)
}
