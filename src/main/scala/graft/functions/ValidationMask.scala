package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** SURVEY.md §3.1 F1-F4 — the /collect request checks as one native
  * kernel over `(lat, lon, buffer_m, event_id)` (double, double, double,
  * string): each child is evaluated once and the result is a bit mask
  * of the checks that fail, bit i set for [[ValidationMask.errors]](i).
  *
  * The composed form, `size(filter(array(when…))) = 0`, is a
  * higher-order function: Spark evaluates it interpreted and keeps any
  * Filter holding it out of whole-stage codegen. This kernel is one
  * static call from generated code, shared with `eval`.
  *
  * Semantics are the composed form's three-valued logic: a check whose
  * comparison is null (a null input) is unknown, and unknown is not an
  * error. "outside supported US regions" applies only when the
  * coordinates are known to be valid. The event id's length counts
  * characters, and its pattern is matched as `rlike` does
  * (`find(0)`, so `$` also matches before a final line break).
  */
case class ValidationMask(lat: Expression, lon: Expression, bufferM: Expression, eventId: Expression)
    extends QuaternaryExpression {

  override def first: Expression = lat
  override def second: Expression = lon
  override def third: Expression = bufferM
  override def fourth: Expression = eventId

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.map(_.dataType) == Seq(DoubleType, DoubleType, DoubleType, StringType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (double, double, double, string), got " +
        children.map(_.dataType.simpleString).mkString("(", ", ", ")"))
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  override def prettyName: String = "validation_mask"

  override def eval(input: InternalRow): Any = {
    val la = lat.eval(input)
    val lo = lon.eval(input)
    val b = bufferM.eval(input)
    ValidationMask.mask(
      la == null, if (la == null) 0.0 else la.asInstanceOf[Double],
      lo == null, if (lo == null) 0.0 else lo.asInstanceOf[Double],
      b == null, if (b == null) 0.0 else b.asInstanceOf[Double],
      eventId.eval(input).asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val Seq(la, lo, b, id) = children.map(_.genCode(ctx))
    ev.copy(isNull = FalseLiteral, code = code"""
      |${la.code}
      |${lo.code}
      |${b.code}
      |${id.code}
      |int ${ev.value} = graft.functions.ValidationMask.mask(
      |  ${la.isNull}, ${la.value}, ${lo.isNull}, ${lo.value}, ${b.isNull}, ${b.value},
      |  ${id.isNull} ? null : ${id.value});
      """.stripMargin)
  }

  override protected def withNewChildrenInternal(newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): Expression =
    copy(lat = newFirst, lon = newSecond, bufferM = newThird, eventId = newFourth)
}

object ValidationMask {

  /** The reference's error strings (X27), in report order; bit i of the
    * mask is `errors(i)`. */
  val errors: Seq[String] = Seq("invalid coordinates", "outside supported US regions",
    "buffer out of range", "invalid event id")

  private val idPattern = Pattern.compile("^[a-zA-Z0-9_-]+$")

  // Java's comparisons equal Spark's on these finite bounds: NaN fails
  // both (Spark orders NaN above every number), and -0.0 equals 0.0.
  private def within(x: Double, lo: Double, hi: Double): Boolean = x >= lo && x <= hi

  private def inUs(lat: Double, lon: Double): Boolean =
    (within(lat, 24.5, 49.5) && within(lon, -125, -67)) ||
      (within(lat, 54, 71.5) && (within(lon, -180, -130) || within(lon, 170, 180))) ||
      (within(lat, 18, 29) && within(lon, -178, -154))

  /** The failure mask; static so generated code calls it directly. A
    * null input arrives as its flag (the value is then ignored) or, for
    * the id, as null. */
  def mask(latNull: Boolean, lat: Double, lonNull: Boolean, lon: Double,
           bufferNull: Boolean, buffer: Double, eventId: UTF8String): Int = {
    val latOut = !latNull && !within(lat, -90, 90)
    val lonOut = !lonNull && !within(lon, -180, 180)
    val origin = !latNull && !lonNull && lat == 0.0 && lon == 0.0
    var m = 0
    if (latOut || lonOut || origin) m |= 1
    else if (!latNull && !lonNull && !inUs(lat, lon)) m |= 2
    if (!bufferNull && !within(buffer, 100, 50000)) m |= 4
    if (eventId != null) {
      val n = eventId.numChars()
      if (n < 3 || n > 100 || !idPattern.matcher(eventId.toString).find(0)) m |= 8
    }
    m
  }
}
