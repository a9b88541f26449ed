package graft.tools

import org.apache.spark.sql.SparkSession

/** The migration recipe's step 1 as a runnable script (r14 verdict task
  * 2): dump a pre-r14-continuation buffered-exact checkpoint's state to
  * parquet, offline.
  *
  * {{{
  * sbt "runMain graft.tools.StateMigrationDump <oldCheckpoint> <outDir> cep|cusum|attribution|session [rocksdb|hdfs] [old|current]"
  * }}}
  *
  * Writes one row per key — `userId`, the unsettled `buffer`, the
  * operator's `folded` state (null when the key never settled) — which
  * the bootstrap side reads straight back:
  *
  * {{{
  * val snap = spark.read.parquet(outDir)
  *   .as[StatefulOps.BufferedSnapshot[(Long, Long, Long)]]   // cep / cusum
  * StatefulOps.patternMatchCountsExactFrom(source.withWatermark("ts", delay), snap)
  *   .writeStream.option("checkpointLocation", FRESH_CKPT)...
  * }}}
  *
  * The optional 4th arg selects the state-store provider the OLD
  * checkpoint was written with (default `rocksdb`; pass `hdfs` for the
  * default HDFS-backed provider) — the offline reader instantiates the
  * same provider to open the store files. The optional 5th arg selects
  * the buffer LAYOUT: `old` (default) reads pre-r14 ValueState-buffer
  * checkpoints — the r14 restart break this script was built for;
  * `current` reads the shipped ListState-buffer layout, so the NEXT
  * layout break already has a working dump of the checkpoints users
  * hold then (r16 — the insurance the r14 break did not have).
  *
  * Scale shape: the dump is a distributed `statestore` scan (one task
  * per state partition) piped to a parquet write — nothing collects to
  * the driver; the printed count is computed from the written files.
  */
object StateMigrationDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: StateMigrationDump <oldCheckpoint> <outDir> " +
        "cep|cusum|attribution|session [rocksdb|hdfs] [old|current]")
    val Array(ckpt, outDir, shape) = args.take(3)
    val provider = if (args.length > 3) args(3) else "rocksdb"
    val layout = if (args.length > 4) args(4) else "old"
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[8]"))
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      // this session is offline BY DEFINITION (no streaming query ever
      // starts), so the StateStoreCoordinator RPC endpoint that snapshot-
      // upload-lag reporting needs does not exist — without this the
      // RocksDB load inside the statestore reader dies with
      // CANNOT_LOAD_STATE_STORE / RpcEndpointNotFoundException (r16,
      // caught by the committed fixture's spec: the r15 round-trip specs
      // masked it because their sessions had already run streams)
      .config("spark.sql.streaming.stateStore.coordinatorReportSnapshotUploadLag", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (provider == "rocksdb")
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val n = run(spark, ckpt, outDir, shape, layout)
    println(s"[migrate] dumped $n key snapshot(s) from $ckpt to $outDir ($shape shape, $layout layout)")
    spark.stop()
  }

  /** The dump itself, session-agnostic (the spec drives this directly;
    * `main` owns only arg parsing and session lifecycle). Returns the
    * written key count, read back from the parquet files.
    */
  def run(spark: SparkSession, ckpt: String, outDir: String,
      shape: String, layout: String = "old"): Long = {
    import spark.implicits._
    import graft.streaming.StateMigration
    val old = layout match {
      case "old" => true
      case "current" => false
      case other => throw new IllegalArgumentException(
        s"unknown buffer layout '$other' (want old or current)")
    }
    val snap = shape match {
      case "cep" | "cusum" =>
        (if (old) StateMigration.readOldBufferedExact[(Long, Long, Long)](spark, ckpt)
         else StateMigration.readCurrentBufferedExact[(Long, Long, Long)](spark, ckpt)).toDF()
      case "attribution" =>
        (if (old) StateMigration.readOldBufferedExact[(Long, Long, String)](spark, ckpt)
         else StateMigration.readCurrentBufferedExact[(Long, Long, String)](spark, ckpt)).toDF()
      case "session" =>
        // row 22's fold state is the open-fragment LIST — array-typed, so
        // it reads through the sequence-shaped twin (r15 verdict task 1)
        (if (old) StateMigration.readOldBufferedSession(spark, ckpt)
         else StateMigration.readCurrentBufferedSession(spark, ckpt)).toDF()
      case other =>
        throw new IllegalArgumentException(
          s"unknown operator shape '$other' (want cep, cusum, attribution, or session)")
    }
    snap.write.mode("overwrite").parquet(outDir)
    spark.read.parquet(outDir).count()
  }
}
