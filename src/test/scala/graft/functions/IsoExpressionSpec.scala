package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class IsoExpressionSpec extends SparkSpec {
  import spark.implicits._

  private val vectors = Seq(
    1738296906927463L -> "2025-01-31T04:15:06.927Z",
    1738296906900000L -> "2025-01-31T04:15:06.9Z",
    1738296906000000L -> "2025-01-31T04:15:06Z",
    1738296906999999L -> "2025-01-31T04:15:06.999Z",
    1738296906010000L -> "2025-01-31T04:15:06.01Z",
    0L -> "1970-01-01T00:00:00Z",
    // the proleptic year, as date_format's yyyy prints it: 0000, and signed below it or past 9999
    -62135596800000001L -> "0000-12-31T23:59:59.999Z",
    -100000000000000000L -> "-1199-02-15T14:13:20Z",
    Long.MinValue -> "-290308-12-21T19:59:05.224Z",
    253402300800000000L -> "+10000-01-01T00:00:00Z",
    Long.MaxValue -> "+294247-01-10T04:00:54.775Z")

  test("native expression matches golden vectors (codegen path)") {
    // repartitioned, so the projection runs in generated code, not folded into a local relation
    val got = vectors.map(_._1).toDF("us").repartition(2)
      .select($"us", IsoMicrosTrimExpression.column($"us")).as[(Long, String)].collect().toMap
    assert(got == vectors.toMap)
  }

  test("interpreted eval path matches codegen kernel") {
    vectors.foreach { case (us, want) =>
      assert(IsoMicrosFormat.format(us).toString == want)
    }
  }

  test("native expression ≡ composed built-ins on real data") {
    val events = graft.Graft.table(spark, sf(), "events")
      .withColumn("us", unix_micros($"ts"))
    val diff = events.select(
      IsoMicrosTrimExpression.column($"us").as("native"),
      TimestampOracles.isoMicrosTrimmed($"us").as("composed"))
      .filter($"native" =!= $"composed")
    assert(diff.count() == 0)
  }

  test("kernel ≡ composed built-ins on 100k seeded µs over the whole Long range") {
    val rnd = new scala.util.Random(20250131L)
    val us = vectors.map(_._1) ++ Seq.fill(100000)(rnd.nextLong())
    // repartitioned, so the projection runs in generated code, not folded into a local relation
    val got = us.toDF("us").repartition(4)
      .select($"us", IsoMicrosTrimExpression.column($"us"), TimestampOracles.isoMicrosTrimmed($"us"))
      .as[(Long, String, String)].collect()
    assert(got.length == us.size)
    got.foreach { case (v, native, composed) =>
      assert(native == composed, s"codegen kernel at $v")
      assert(IsoMicrosFormat.format(v).toString == composed, s"interpreted kernel at $v")
    }
  }

  test("null input yields null, not a crash") {
    val got = Seq[Option[Long]](Some(1L), None).toDF("us")
      .select(IsoMicrosTrimExpression.column($"us")).collect()
    assert(!got(0).isNullAt(0) && got(1).isNullAt(0))
  }
}
