package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar column functions re-expressing the reference's per-record transforms
  * (mata-elang-stable/event-stream-aggr) as codegen-friendly Catalyst
  * expressions — no UDFs, so all of these stay inside whole-stage codegen.
  */
object Scalars {

  /** Snort priority number → label.
    * Reference: internal/processor/processor.go:109-120 (1/2/3/else →
    * High/Medium/Low/Informational).
    */
  def priorityLabel(priority: Column): Column =
    when(priority === 1, "High")
      .when(priority === 2, "Medium")
      .when(priority === 3, "Low")
      .otherwise("Informational")

  /** Unix-microseconds epoch → ISO-8601 UTC string with Go `.999`
    * fraction-trimming semantics: microseconds are TRUNCATED to milliseconds,
    * trailing fractional zeros are trimmed, and a bare second has no dot.
    * Golden vectors (internal/processor/processor_test.go:14-18):
    *   1738296906927463 → "2025-01-31T04:15:06.927Z"
    *   1738296906900000 → "2025-01-31T04:15:06.9Z"
    *   1738296906000000 → "2025-01-31T04:15:06Z"
    * Reference: internal/processor/processor.go:16-18.
    *
    * One codegen'd arithmetic kernel, [[IsoMicrosTrimExpression]], UTC
    * whatever the session time zone. It prints what
    * `regexp_replace(date_format(timestamp_micros(us),
    * "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"), "\\.?0+Z$", "Z")` prints in a UTC
    * session, which the specs keep as its oracle.
    */
  def isoMicrosTrimmed(epochMicros: Column): Column =
    IsoMicrosTrimExpression.column(epochMicros)

  /** Snort timestamp format, Go layout "06/01/02-15:04:05.999999"
    * (internal/app/app.go:195). */
  val SnortTimestampFormat = "yy/MM/dd-HH:mm:ss.SSSSSS"

  /** Event-time parse with fallback: parse the Snort-format timestamp string;
    * if unparseable, fall back to the unix-seconds column.
    * Reference: internal/app/app.go:195-198. The parse is one codegen'd
    * kernel, [[SnortTimestampExpression]], UTC as Go's `time.Parse` with no
    * zone is; it yields null where the reference's parse fails, which is
    * the Go fallback branch. `try_to_timestamp(ts, SnortTimestampFormat)`
    * in a UTC session is its oracle in the specs.
    */
  def eventTimeWithFallback(snortTimestamp: Column, fallbackSeconds: Column): Column =
    coalesce(SnortTimestampExpression.column(snortTimestamp), timestamp_seconds(fallbackSeconds))

  /** Floor an epoch-seconds value to an n-second bucket:
    * roundTime(t, n) = (t / n) * n (integer division).
    * Reference: internal/processor/processor.go:105-107 (latent time-bucketing,
    * SURVEY.md B1). Go's `/` truncates toward zero and `%` keeps the dividend
    * sign — same as Spark's `%` — so (t/n)*n ≡ t - t%n exactly, including for
    * negative epochs, with no double-precision round-trip.
    */
  def timeBucket(epochSeconds: Column, bucketSeconds: Long): Column =
    (epochSeconds - (epochSeconds % lit(bucketSeconds))).cast("long")

  /** Lowercase-hex SHA-256 of a string — reference GetHashKeyData,
    * internal/processor/processor.go:96-103. Spark's `sha2` is already
    * lowercase hex, so this is the built-in verbatim.
    */
  def sha256Hex(c: Column): Column = sha2(c.cast("string"), 256)
}
