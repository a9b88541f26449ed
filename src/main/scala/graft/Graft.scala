package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session + table plumbing shared by the engine entry points.
  *
  * The engine is DataFrame-first (see SURVEY.md §1.3): explicit schemas at the
  * rim, Catalyst-planned declarative transforms everywhere else. Config below
  * is sized for the driver's `local[32]` single-JVM harness but the knobs
  * (AQE, shuffle partitions, broadcast threshold) are exactly the ones that
  * matter on a 1000-executor cluster — nothing here is local-mode-only.
  */
object Graft {

  /** Every streaming query's offset log, commit log and state-store files
    * go through [[graft.streaming.LocalCheckpointFileManager]]: on `file:`
    * checkpoints it forks no `chmod`/`readlink` per file, which Spark's
    * default manager does without the native Hadoop library (33–48 ms per
    * file, about 80 ms of every micro-batch; PARITY.md records the
    * measurement). Other schemes keep Spark's default manager. Tests apply
    * the same conf (SparkSpec), so the restart specs guard it.
    */
  val checkpointFileManager: (String, String) =
    graft.streaming.LocalCheckpointFileManager.ConfKey ->
      classOf[graft.streaming.LocalCheckpointFileManager].getName

  /** Build (or reuse) a session with engine defaults. */
  def session(appName: String = "graft", master: String = "local[*]"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession
      .builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", master))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet stores ts as TIMESTAMP(NANOS); Spark 4 rejects that
      // parquet type unless it is read back as a nanosecond long.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the engine's Catalyst rules (banded-levenshtein predicate rewrite);
      // semantics-preserving, so sessions built elsewhere (driver, tests)
      // differ only in plan cost, never in results
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // r16 measure-and-decide: RocksDB state-store commits upload a FULL
      // snapshot per trigger by default; changelog checkpointing uploads
      // O(trigger delta) and moves snapshots to background maintenance —
      // at 100 TB-class state that is the streaming checkpoint cost model.
      // A/B over the watermark-buffered transformWithState operators
      // since retired (AbBench `*-cl-*` legs, 600k events/20k keys):
      // checkpoint state bytes −21..−37%, commit latency −20..−35%, wall
      // never worse. Restart exactness under the mode, and from a
      // snapshot-mode checkpoint into it, is pinned on timedSessions
      // (TransformWithStateSpec's restart cases). No-op unless a query
      // opts into the RocksDB provider, and Spark supports toggling it
      // across restarts of an existing checkpoint, so checkpoints stay
      // portable to sessions built elsewhere — with one floor (r16
      // ADVICE): once a checkpoint's recent commits are changelog-only
      // deltas, reading it
      // requires a runtime with RocksDB changelog replay (Spark >= 3.4.0,
      // where changelogCheckpointing shipped); an older runtime cannot
      // open it. PARITY.md records the decision and the floor.
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      .config(Map(checkpointFileManager))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Per-JVM parquet schema cache (r18 optimization): every
    * `spark.read.parquet` without an explicit schema re-lists the path and
    * re-reads footers for schema inference — measured at ~30-90 ms PER
    * TABLE REFERENCE (it shows up as a `parquet at Graft.scala` job in
    * every bench run; a 3-table join paid ~0.3 s of pure metadata work per
    * run). The testdata files are immutable within a process, so the
    * inferred schema is read ONCE per (path) and passed explicitly
    * thereafter — exactly what a catalog table does in production (the
    * 100 TB shape: schemas come from the metastore/manifest, never from
    * re-footer-reading every query). Data is still scanned from parquet on
    * every action; only schema METADATA is reused — results are
    * byte-identical (same schema, read from the same file).
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  /** Read one of the driver-generated testdata tables (TESTDATA.md). */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // Runtime-settable so it also covers sessions we did not build (Verify,
    // tests): parquet TIMESTAMP(NANOS) → LongType nanos instead of
    // an ILLEGAL_PARQUET_TYPE error.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$sfDir/$name.parquet"
    val schema = schemaCache.computeIfAbsent(path, p => spark.read.parquet(p).schema)
    val df = spark.read.schema(schema).parquet(path)
    if (name == "events")
      // The driver has shipped two physical types for events.ts across
      // testdata generations: TIMESTAMP(NANOS) (surfaced as a nanos LONG via
      // nanosAsLong) and plain TIMESTAMP(MICROS) (surfaced as TIMESTAMP_NTZ).
      // Normalize BOTH to a µs TimestampType so every downstream plan and the
      // DuckDB oracle (`CAST(ts AS TIMESTAMP)` — a no-op on µs, a truncation
      // on ns) see identical values (FIXTURES.md §4).
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          df.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          // Session TZ is pinned to UTC, so this cast is wall-clock-preserving.
          df.withColumn("ts",
            org.apache.spark.sql.functions.col("ts").cast(org.apache.spark.sql.types.TimestampType))
        case _ => df
      }
    else df
  }
}

/** Convenience accessors for the star-schema tables a query touches.
  * Each accessor is a fresh scan so Catalyst prunes columns/filters per query.
  */
final case class Tables(spark: SparkSession, sfDir: String) {
  def region: DataFrame     = Graft.table(spark, sfDir, "region")
  def nation: DataFrame     = Graft.table(spark, sfDir, "nation")
  def customer: DataFrame   = Graft.table(spark, sfDir, "customer")
  def supplier: DataFrame   = Graft.table(spark, sfDir, "supplier")
  def part: DataFrame       = Graft.table(spark, sfDir, "part")
  def orders: DataFrame     = Graft.table(spark, sfDir, "orders")
  def lineitem: DataFrame   = Graft.table(spark, sfDir, "lineitem")
  def events: DataFrame     = Graft.table(spark, sfDir, "events")
  def documents: DataFrame  = Graft.table(spark, sfDir, "documents")
  def embeddings: DataFrame = Graft.table(spark, sfDir, "embeddings")
}
