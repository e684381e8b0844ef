package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive output fingerprint: the row count plus the sum of a
  * per-row 64-bit hash. Doubles and floats are normalised the way
  * `tools/oracle_check.py` renders them (floats widened to double, NaN
  * and null both map to one null marker, then the shortest decimal
  * rendering). Maps become key-sorted entry arrays so the hash does not
  * depend on insertion order. The sum is kept as two 32-bit halves so it
  * cannot overflow under ANSI arithmetic.
  */
object Fingerprint {

  private def norm(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType =>
      val d = c.cast(DoubleType)
      when(d.isNull || isnan(d), lit(null).cast(StringType)).otherwise(d.cast(StringType))
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case StructType(fs) =>
      if (fs.isEmpty) lit(0)
      else struct(fs.toSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(kt, vt, _) =>
      norm(array_sort(map_entries(c)),
        ArrayType(StructType(Seq(StructField("key", kt), StructField("value", vt)))))
    case _ => c
  }

  /** (rows, hash) of `df`, evaluated as one Spark job. */
  def of(df: DataFrame): (Long, String) = {
    // positional names: an output may repeat a column name
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => norm(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = named.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(lit(0xffffffffL))),
        sum(shiftrightunsigned(col("h"), 32)))
      .head()
    val lo = if (r.isNullAt(1)) 0L else r.getLong(1)
    val hi = if (r.isNullAt(2)) 0L else r.getLong(2)
    // fold the two half-sums into one 64-bit value: hi carries into bit 32
    (r.getLong(0), f"${(hi << 32) + lo}%016x")
  }
}
