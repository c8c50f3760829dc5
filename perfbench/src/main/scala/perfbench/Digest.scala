package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** An order-independent digest of a result: its schema, its row count and
  * the sums of the high and low 32 bits of a 64-bit hash of every row (two
  * sums of unsigned 32-bit halves cannot overflow a long below 2^31 rows).
  * Row and partition order cannot move it. Doubles and floats are hashed
  * by their raw bit pattern, so -0.0 and 0.0 differ as they do in the oracle
  * compare; nested values are hashed through their JSON text, whose
  * number rendering is exact. Every column also contributes its null
  * flag, so a NULL cannot trade places with a neighbouring column. */
object Digest {
  private val doubleBits =
    udf((d: Double) => java.lang.Double.doubleToRawLongBits(d))
  private val floatBits =
    udf((f: Float) => java.lang.Float.floatToRawIntBits(f))

  private def hashed(c: Column, t: DataType): Column = t match {
    case DoubleType => doubleBits(c)
    case FloatType => floatBits(c)
    case _: ArrayType | _: MapType | _: StructType =>
      to_json(struct(c.as("v")))
    case _ => c
  }

  def of(df: DataFrame): String = {
    val parts = df.schema.fields.toSeq.flatMap { f =>
      val c = col("`" + f.name.replace("`", "``") + "`")
      Seq(hashed(c, f.dataType), c.isNull)
    }
    val row = if (parts.isEmpty) lit(0L) else xxhash64(parts: _*)
    val r = df.select(row.as("h"))
      .agg(count(lit(1)), sum(shiftrightunsigned(col("h"), 32)),
        sum(col("h").bitwiseAND(0xffffffffL)))
      .head()
    def sumOf(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
    val schema = df.schema.fields
      .map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
    s"${r.getLong(0)}:${sumOf(1)}:${sumOf(2)}:" +
      Integer.toHexString(schema.hashCode)
  }
}
