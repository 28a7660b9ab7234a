package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Row count plus an order-independent digest of every column of a
  * result: the sum of a per-row xxhash64 over all columns. Consuming
  * each value forces the whole result to materialise. Floating-point
  * values are hashed at float precision, so a last-digit difference in
  * a double sum does not count as a wrong result. */
object Digest {
  final case class Value(rows: Long, digest: String)

  private def hasFloat(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType => true
    case ArrayType(et, _) => hasFloat(et)
    case MapType(kt, vt, _) => hasFloat(kt) || hasFloat(vt)
    case st: StructType => st.fields.exists(f => hasFloat(f.dataType))
    case _ => false
  }

  private def normalize(c: Column, dt: DataType): Column = dt match {
    case _ if !hasFloat(dt) && !dt.isInstanceOf[MapType] => c
    case DoubleType | FloatType => c.cast(FloatType)
    case ArrayType(et, _) => transform(c, x => normalize(x, et))
    case st: StructType =>
      struct(st.fields.toIndexedSeq.map(f => normalize(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(kt, vt, _) =>
      // hashing a map is refused by Spark; hash its sorted entries
      transform(array_sort(map_entries(c)),
        e => struct(normalize(e.getField("key"), kt), normalize(e.getField("value"), vt)))
  }

  def of(df: DataFrame): Value = {
    // positional names: results may carry duplicate or dotted names
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toIndexedSeq.map(f => normalize(col(f.name), f.dataType))
    val hash = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = named.agg(count(lit(1)), sum(hash.cast("decimal(38,0)"))).head()
    Value(r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }
}
