package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** Parsing kernel for the Snort timestamp, Go layout
  * "06/01/02-15:04:05.999999" (reference internal/app/app.go:195): exactly
  * `yy/MM/dd-HH:mm:ss.f{1,6}` in ASCII digits, year 20yy, read as UTC →
  * epoch µs. Every field is range-checked as `try_to_timestamp(s,
  * Scalars.SnortTimestampFormat)` checks it (month 1-12, the day within its
  * month, hour 0-23, minute and second 0-59); anything else is
  * [[Invalid]]. Lives in its own object so generated Java can call it.
  */
object SnortTimestampParse {

  /** What [[micros]] returns for a string that is not a valid Snort time
    * (no such time lies in the years 2000-2099 it reads).
    */
  final val Invalid = Long.MinValue

  def micros(s: UTF8String): Long = {
    val n = s.numBytes
    if (n < 19 || n > 24) return Invalid
    val yy = twoDigits(s, 0)
    val month = twoDigits(s, 3)
    val day = twoDigits(s, 6)
    val hour = twoDigits(s, 9)
    val minute = twoDigits(s, 12)
    val second = twoDigits(s, 15)
    if (s.getByte(2) != '/' || s.getByte(5) != '/' || s.getByte(8) != '-' || s.getByte(11) != ':' ||
      s.getByte(14) != ':' || s.getByte(17) != '.') return Invalid
    if (yy < 0 || month < 1 || month > 12 || hour < 0 || hour > 23 || minute < 0 || minute > 59 ||
      second < 0 || second > 59) return Invalid
    val year = 2000 + yy
    val leap = year % 4 == 0 && (year % 100 != 0 || year % 400 == 0)
    // 31 days in odd months up to July and in even ones from August
    val monthDays = if (month == 2) (if (leap) 29 else 28) else 30 + ((month + month / 8) & 1)
    if (day < 1 || day > monthDays) return Invalid
    var fraction = 0L
    var i = 18
    while (i < n) {
      val d = s.getByte(i) - '0'
      if (d < 0 || d > 9) return Invalid
      fraction = fraction * 10 + d
      i += 1
    }
    while (i < 24) { fraction *= 10; i += 1 }
    // Days since 1970-01-01, in 400-year eras of 146,097 days counted from
    // 0000-03-01, so that February, with its leap day, ends a year.
    val y = if (month <= 2) year - 1 else year
    val era = y / 400
    val yearOfEra = y - era * 400
    val dayOfYear = (153 * (if (month > 2) month - 3 else month + 9) + 2) / 5 + day - 1
    val days = era * 146097L + yearOfEra * 365 + yearOfEra / 4 - yearOfEra / 100 + dayOfYear - 719468
    (days * 86400L + hour * 3600 + minute * 60 + second) * 1000000L + fraction
  }

  /** The two ASCII digits at `at` as a number, or -1. */
  private def twoDigits(s: UTF8String, at: Int): Int = {
    val hi = s.getByte(at) - '0'
    val lo = s.getByte(at + 1) - '0'
    if (hi < 0 || hi > 9 || lo < 0 || lo > 9) -1 else hi * 10 + lo
  }
}

/** Native Catalyst expression for the Snort timestamp parse: a codegen'd
  * single-call kernel yielding a UTC timestamp, or null for a string that
  * is not a valid Snort time, as Go's `time.Parse` with no zone reads it.
  * `try_to_timestamp(s, Scalars.SnortTimestampFormat)` in a UTC session is
  * its oracle in the specs.
  */
case class SnortTimestampExpression(child: Expression) extends UnaryExpression {
  override def dataType: DataType = TimestampType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"snort_timestamp requires STRING input, got ${child.dataType.sql}")

  override protected def nullSafeEval(v: Any): Any = {
    val us = SnortTimestampParse.micros(v.asInstanceOf[UTF8String])
    if (us == SnortTimestampParse.Invalid) null else us
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.SnortTimestampParse.micros($c);
         |${ev.isNull} = ${ev.value} == graft.functions.SnortTimestampParse.Invalid();""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): SnortTimestampExpression =
    copy(child = newChild)
}

object SnortTimestampExpression {
  def column(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(SnortTimestampExpression(ColumnBridge.expression(c)))
  }
}
