package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Full materialization of a result as one aggregate over every output
  * column: the row count plus an order-insensitive hash. `count()` would
  * let Catalyst prune whole branches of a query; this aggregate reads
  * every column, so the plan that runs is the plan a consumer would run.
  *
  * Floating values are rounded to `SigDigits` significant digits before
  * hashing, so a sum that differs in its last bits across partitionings
  * still gives the same fingerprint. Maps hash as sorted entry arrays.
  */
object Fingerprint {
  val SigDigits = 9

  final case class Fp(rows: Long, hash: java.math.BigDecimal) {
    override def toString: String = s"$rows:$hash"
  }

  private def roundDouble(x: Column): Column = {
    val e = floor(log10(abs(x)))
    val scale = pow(lit(10.0), lit(SigDigits - 1) - e)
    when(x.isNull, lit(null).cast("string"))
      .when(isnan(x), lit("nan"))
      .when(x === 0, lit("0"))
      .when(x === Double.PositiveInfinity, lit("inf"))
      .when(x === Double.NegativeInfinity, lit("-inf"))
      .otherwise(concat(round(x * scale).cast("long").cast("string"), lit("e"), e.cast("long").cast("string")))
  }

  /** A hashable, rounding-stable form of column `c` of type `t`. */
  def normalize(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => roundDouble(c.cast("double"))
    case ArrayType(et, _) => transform(c, x => normalize(x, et))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(normalize(e.getField("key"), kt).as("k"), normalize(e.getField("value"), vt).as("v"))))
    case StructType(fields) if fields.isEmpty => c.isNull
    case StructType(fields) =>
      when(c.isNull, lit(null)).otherwise(struct(fields.toSeq.map(f =>
        normalize(c.getField(f.name), f.dataType).as(f.name)): _*))
    case _: UserDefinedType[_] | CalendarIntervalType => c.cast("string")
    case _ => c
  }

  /** The aggregate that consumes `df`: one job (plus the plan's own). */
  def frame(df: DataFrame): DataFrame = {
    // positional names: a result may carry duplicate column names
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => normalize(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    named.select(h.as("h")).agg(count(lit(1)).as("n"), sum(col("h").cast("decimal(38,0)")).as("s"))
  }

  def of(df: DataFrame): Fp = {
    val r = frame(df).head()
    Fp(r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }
}
