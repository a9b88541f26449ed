package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Formatting kernel for the Go `.999`-trimmed ISO-8601 rendering
  * (reference internal/processor/processor.go:16-18): µs epoch → UTC,
  * truncate to milliseconds, trim trailing fractional zeros, bare second
  * has no dot. The year is the proleptic one, as `date_format`'s `yyyy`
  * prints it: at least four digits, `-` before a year below 0000 and `+`
  * before one above 9999. Pure integer arithmetic into one `byte[]`, no
  * java.time; it lives in its own object (no companion class) so the Scala
  * static forwarder is callable from generated Java.
  */
object IsoMicrosFormat {

  def format(epochMicros: Long): UTF8String = {
    val seconds = Math.floorDiv(epochMicros, 1000000L)
    val ms = (Math.floorMod(epochMicros, 1000000L) / 1000L).toInt // truncation, as Go's .999 formatting
    val days = Math.floorDiv(seconds, 86400L)
    val secondOfDay = (seconds - days * 86400L).toInt
    // Days since 1970-01-01 → proleptic-Gregorian civil date, counted in
    // 400-year eras of 146,097 days from 0000-03-01 so the leap day ends a year.
    val z = days + 719468L
    val era = Math.floorDiv(z, 146097L)
    val dayOfEra = (z - era * 146097L).toInt
    val yearOfEra = (dayOfEra - dayOfEra / 1460 + dayOfEra / 36524 - dayOfEra / 146096) / 365
    val dayOfYear = dayOfEra - (365 * yearOfEra + yearOfEra / 4 - yearOfEra / 100)
    val mp = (5 * dayOfYear + 2) / 153
    val day = dayOfYear - (153 * mp + 2) / 5 + 1
    val month = if (mp < 10) mp + 3 else mp - 9
    val year = era * 400 + yearOfEra + (if (month <= 2) 1 else 0)

    val absYear = Math.abs(year)
    var yearDigits = 4
    var bound = 10000L
    while (absYear >= bound) { yearDigits += 1; bound *= 10 }
    val sign = if (year < 0 || year > 9999) 1 else 0
    val fracDigits = if (ms == 0) 0 else if (ms % 100 == 0) 1 else if (ms % 10 == 0) 2 else 3
    val out = new Array[Byte](sign + yearDigits + 16 + (if (fracDigits == 0) 0 else fracDigits + 1))
    if (sign == 1) out(0) = (if (year < 0) '-' else '+').toByte
    digits(out, sign, yearDigits, absYear)
    val i = sign + yearDigits // "-MM-ddTHH:mm:ss" then ".f{1,3}" or nothing, then "Z"
    out(i) = '-'.toByte
    digits(out, i + 1, 2, month)
    out(i + 3) = '-'.toByte
    digits(out, i + 4, 2, day)
    out(i + 6) = 'T'.toByte
    digits(out, i + 7, 2, secondOfDay / 3600)
    out(i + 9) = ':'.toByte
    digits(out, i + 10, 2, secondOfDay / 60 % 60)
    out(i + 12) = ':'.toByte
    digits(out, i + 13, 2, secondOfDay % 60)
    if (fracDigits > 0) {
      out(i + 15) = '.'.toByte
      digits(out, i + 16, fracDigits, if (fracDigits == 3) ms else if (fracDigits == 2) ms / 10 else ms / 100)
    }
    out(out.length - 1) = 'Z'.toByte
    UTF8String.fromBytes(out)
  }

  /** Write `v` (non-negative) as exactly `n` zero-padded decimal digits at `at`. */
  private def digits(out: Array[Byte], at: Int, n: Int, v: Long): Unit = {
    var rest = v
    var i = at + n - 1
    while (i >= at) {
      out(i) = ('0' + rest % 10).toByte
      rest /= 10
      i -= 1
    }
  }
}

/** Native Catalyst expression for the trimmed ISO format: a codegen'd
  * single-call kernel, what [[Scalars.isoMicrosTrimmed]] returns. UTC by
  * definition, as the reference's `Z` suffix is: the session time zone
  * does not shape it. The composed `date_format`+`regexp_replace` form it
  * replaced is kept only in the specs, as the oracle the kernel is
  * compared with; `q_pipe_iso_trim` and `q_pipe_iso_trim_native` check it
  * on real data under the DuckDB oracle.
  */
case class IsoMicrosTrimExpression(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == LongType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"iso_micros_trimmed requires BIGINT input, got ${child.dataType.sql}")
  }

  override protected def nullSafeEval(v: Any): Any =
    IsoMicrosFormat.format(v.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.IsoMicrosFormat.format($c)")

  override protected def withNewChildInternal(newChild: Expression): IsoMicrosTrimExpression =
    copy(child = newChild)
}

object IsoMicrosTrimExpression {
  /** Column wrapper for the native expression (Spark 4 bridges Column and
    * Expression through classic.ExpressionUtils).
    */
  def column(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(IsoMicrosTrimExpression(ColumnBridge.expression(c)))
  }
}
