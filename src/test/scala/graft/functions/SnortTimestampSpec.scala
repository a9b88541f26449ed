package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** The Snort timestamp parse kernel against its oracle,
  * `try_to_timestamp(s, Scalars.SnortTimestampFormat)`, in a UTC session.
  */
class SnortTimestampSpec extends SparkSpec {
  import spark.implicits._

  private val canonical = "25/01/31-04:15:06.927463"

  private val corpus: Seq[String] = {
    val fractions = "" +: "." +: (1 to 7).map(n => "." + "1234567".take(n))
    val leapDays = (0 to 99).map(yy => f"$yy%02d/02/29-12:00:00.5")
    val ranges = Seq(
      "25/00/15-04:15:06.9", "25/13/15-04:15:06.9", "25/01/00-04:15:06.9", "25/01/32-04:15:06.9",
      "25/04/31-04:15:06.9", "25/06/31-04:15:06.9", "25/09/31-04:15:06.9", "25/11/31-04:15:06.9",
      "25/04/30-04:15:06.9", "25/12/31-23:59:59.999999", "00/01/01-00:00:00.0",
      "25/01/31-24:00:00.0", "25/01/31-23:60:00.0", "25/01/31-23:59:60.0")
    val shapes = Seq(
      "25/1/31-04:15:06.9", "25/01/3-04:15:06.9", "5/01/31-04:15:06.9", "25/01/31-4:15:06.9",
      "25/01/31-04:5:06.9", "25/01/31-04:15:6.9", "+5/01/31-04:15:06.9", "-5/01/31-04:15:06.9",
      "25/+1/31-04:15:06.9", "25/01/31-04:15:06.+9", "25/01/31-04:15:06.-9",
      " 25/01/31-04:15:06.9", "25/01/31-04:15:06.9 ", "25/01/31 04:15:06.9", "25/ 1/31-04:15:06.9",
      "２５/01/31-04:15:06.9", "25/01/31-04:15:06.９", "25/01/31T04:15:06.9", "2025/01/31-04:15:06.9",
      "25-01-31-04:15:06.9", "25/01/31-04:15:06,9", "")
    val edits = canonical.indices.flatMap { i =>
      (canonical.take(i) + canonical.drop(i + 1)) +:
        "0123456789/-:. +a９".map(c => canonical.updated(i, c))
    }
    (fractions.map("25/01/31-04:15:06" + _) ++ leapDays ++ ranges ++ shapes ++ edits).distinct
  }

  test("parse kernel ≡ try_to_timestamp over a hostile corpus, in generated code and interpreted") {
    val rows = (corpus.map(Option(_)) :+ None).toDF("s")
      // repartitioned, so the projection runs in generated code, not folded into a local relation
      .repartition(4)
      .select($"s", unix_micros(SnortTimestampExpression.column($"s")),
        unix_micros(TimestampOracles.snortTimestamp($"s")))
      .as[(Option[String], Option[Long], Option[Long])].collect()
    assert(rows.length == corpus.size + 1)
    rows.foreach { case (s, kernel, oracle) =>
      assert(kernel == oracle, s"generated kernel on ${s.map("\"" + _ + "\"")}")
      s.foreach { str =>
        val us = SnortTimestampParse.micros(UTF8String.fromString(str))
        assert((if (us == SnortTimestampParse.Invalid) None else Some(us)) == oracle, s"interpreted kernel on \"$str\"")
      }
    }
    val parsed = rows.collect { case (Some(s), Some(_), _) => s }.toSet
    assert(parsed.contains(canonical) && parsed.size > 100, s"only ${parsed.size} strings parse")
    assert((0 to 99).count(yy => parsed(f"$yy%02d/02/29-12:00:00.5")) == 25)
  }
}
