package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The composed built-in forms the timestamp kernels replaced, kept as the
  * oracles their specs compare them with, in a UTC session.
  */
object TimestampOracles {

  /** Oracle of [[Scalars.isoMicrosTrimmed]]: `date_format` prints the first
    * three fraction digits (truncation, as Go), then one regexp trims
    * trailing fractional zeros and a bare dot.
    */
  def isoMicrosTrimmed(epochMicros: Column): Column =
    regexp_replace(
      date_format(timestamp_micros(epochMicros), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"),
      "\\.?0+Z$",
      "Z")

  /** Oracle of [[SnortTimestampExpression]]: null where the parse fails. */
  def snortTimestamp(s: Column): Column =
    try_to_timestamp(s, lit(Scalars.SnortTimestampFormat))
}
