package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Order-independent table digests: row count plus the sums of the low
 * and high 32 bits of a per-row 64-bit hash over every column (sorted
 * by name), with floating-point values rounded to 6 decimals first so
 * a change of summation order cannot flip the digest.
 */
object Digest {

  final case class D(rows: Long, lo: Long, hi: Long) {
    override def toString: String = s"$rows:$lo:$hi"
  }
  def parse(s: String): D = { val Array(r, l, h) = s.split(':'); D(r.toLong, l.toLong, h.toLong) }

  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case StructType(fs) => struct(fs.toIndexedSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _ => c
  }

  def of(df: DataFrame): D = {
    val fs = df.schema.fields.sortBy(_.name).toIndexedSeq
    val h = xxhash64(fs.map(f => norm(col(s"`${f.name}`"), f.dataType)): _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(lit(0xffffffffL))),
        sum(shiftrightunsigned(col("h"), 32)))
      .first()
    D(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }
}
