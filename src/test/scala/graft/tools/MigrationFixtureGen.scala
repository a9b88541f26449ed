package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.{OldAttributionLayoutProcessor, OldBufferLayoutProcessor,
  OldSessionLayoutProcessor, StatefulOps}

/** Generator for the COMMITTED golden old-layout checkpoint fixture
  * (r15 verdict task 3) under `src/test/resources/migration-fixture/`.
  *
  * The migration round-trip specs synthesize the pre-r14 ValueState-buffer
  * layout at test time — so if the synthesizing processors and the reader
  * drift TOGETHER, nothing fails. A committed binary checkpoint breaks
  * that coupling: `MigrationFixtureSpec` dumps these frozen bytes with
  * `StateMigration.readOldBuffered*` and pins the exact snapshot rows, so
  * any future accidental drift in the reader (or in Spark's statestore
  * source handling of the old layout) fails a spec immediately instead of
  * surfacing on a user's real checkpoint at restart time.
  *
  * Run once (from the repo root) to (re)generate, then commit the bytes:
  * {{{
  * sbt "Test/runMain graft.tools.MigrationFixtureGen"
  * }}}
  *
  * One OLD-layout checkpoint per operator shape — `cep` (the tuple fold
  * state CUSUM shares), `attribution` (the String-bearing fold state),
  * `session` (the array-typed fragment list) — plus one CURRENT-layout
  * checkpoint per shipped operator (`cep-current`, `cusum-current`,
  * `attribution-current`, `session-current`; r16/r17, the full 7-shape
  * matrix). All are RocksDB-provider checkpoints:
  * transformWithState — which the old layout also used — supports ONLY the
  * RocksDB state store, so an HDFS-provider old checkpoint cannot exist
  * and no HDFS fixture is committed (the dump script's `hdfs` provider
  * arg remains for generality of the reader, not for these operators).
  *
  * Key shapes per checkpoint (2 buffered + 1 drained — the drained key
  * exercises the full-outer join's empty-buffer coalesce):
  * u1 = folded + buffer, u2 = buffer only, u3 = folded only.
  */
object MigrationFixtureGen {
  /** Resolved against the build-injected repo root (`graft.repoRoot`,
    * set by build.sbt for every forked test/main) so the generator and
    * its specs work from ANY process CWD; the bare relative fallback
    * keeps non-sbt invocations from the repo root working.
    */
  def FixtureRoot: String = sys.props.get("graft.repoRoot")
    .map(r => s"$r/src/test/resources/migration-fixture")
    .getOrElse("src/test/resources/migration-fixture")

  private def deleteTree(dir: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.walk(dir)
    try s.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
    finally s.close()
  }

  /** The freeze guard + rebuild driver, extracted so the guard itself is
    * spec-pinned (r16 verdict task 2 — it used to live only inside
    * `main`, exercised manually): a fixture is FROZEN once committed —
    * regenerating an existing one would silently re-stamp the very bytes
    * the pinning spec exists to hold still. An existing `shape` dir is
    * skipped unless `force` names it (or `--all`). Returns whether a
    * checkpoint was (re)written.
    *
    * Crash safety (r17 ADVICE): a forced rebuild generates into a
    * SIBLING SCRATCH dir and swaps it into place only after the
    * generator completed — the committed bytes are either fully replaced
    * or left exactly as they were; a generator that throws mid-run can
    * no longer destroy the fixture it was rebuilding. (The checkpoints
    * are location-independent — MigrationFixtureSpec already reads them
    * through a temp copy — so generating at a different path is sound.)
    */
  private[tools] def regen(root: String, shape: String, force: Set[String])(
      start: String => org.apache.spark.sql.streaming.StreamingQuery): Boolean =
    regenWith(root, shape, force) { ckpt =>
      val q = start(ckpt)
      q.processAllAvailable()
      q.stop()
    }

  /** [[regen]] with the query lifecycle abstracted away — the shape the
    * crash-safety spec drives directly.
    */
  private[tools] def regenWith(root: String, shape: String, force: Set[String])(
      generate: String => Unit): Boolean = {
    val dir = java.nio.file.Paths.get(root, shape)
    if (java.nio.file.Files.exists(dir)
        && !(force.contains(shape) || force.contains("--all"))) {
      println(s"[fixture] $shape exists — skipped (pass '$shape' or --all to rebuild)")
      false
    } else {
      java.nio.file.Files.createDirectories(dir.toAbsolutePath.getParent)
      val tmp = java.nio.file.Files.createTempDirectory(
        dir.toAbsolutePath.getParent, s".$shape-rebuild")
      try generate(tmp.toString)
      catch {
        case e: Throwable =>
          deleteTree(tmp)
          throw e
      }
      // success — swap: old bytes aside, scratch in, old bytes gone
      val bak = if (java.nio.file.Files.exists(dir)) {
        val b = dir.toAbsolutePath.resolveSibling(s".$shape-old")
        if (java.nio.file.Files.exists(b)) deleteTree(b)
        java.nio.file.Files.move(dir, b)
        Some(b)
      } else None
      try java.nio.file.Files.move(tmp, dir)
      catch {
        case e: Throwable =>
          bak.foreach(b => java.nio.file.Files.move(b, dir))
          deleteTree(tmp)
          throw e
      }
      bak.foreach(deleteTree)
      println(s"[fixture] wrote $shape checkpoint to $dir")
      true
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[2]")
      // 2 state partitions keep the committed checkpoint small (a RocksDB
      // instance per partition); the reader scales partition count freely
      .config("spark.sql.shuffle.partitions", 2)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // Freeze guard: see `regen` above (spec-pinned by
    // MigrationFixtureGenSpec). To rebuild a committed fixture on
    // purpose, pass its shape name (or --all) as a program arg.
    val force = args.toSet
    def regen(shape: String)(start: String => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      MigrationFixtureGen.regen(FixtureRoot, shape, force)(start)
      ()
    }

    def ev(uid: Long, ms: Long, id: Long, typ: String, cents: Long) =
      StatefulOps.TimedUserEvent(new java.sql.Timestamp(ms), uid, id, typ, cents)

    regen("cep") { ckpt =>
      val in = MemoryStream[StatefulOps.TimedUserEvent](spark)
      in.addData(Seq(
        ev(1L, 40000, 7, "view", 0L), ev(1L, 41000, 8, "purchase", 5L),
        ev(2L, 15000, 10, "click", 2L),
        ev(3L, 15000, 30, "view", 0L))) // u3 bufferless: installs folded only
      in.toDS().withWatermark("ts", "10 seconds").groupByKey(_.userId)
        .transformWithState(new OldBufferLayoutProcessor(
            installFolded = Map(1L -> ((1L, 4L, 1L)), 3L -> ((0L, 9L, 3L))),
            bufferless = Set(3L)),
          org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Update())
        .writeStream.outputMode(OutputMode.Update)
        .foreachBatch((df: org.apache.spark.sql.Dataset[StatefulOps.PatternCount],
            _: Long) => { df.count(); () })
        .option("checkpointLocation", ckpt).start()
    }

    regen("attribution") { ckpt =>
      val in = MemoryStream[StatefulOps.TimedUserEvent](spark)
      in.addData(Seq(
        ev(1L, 20000, 51, "purchase", 700L),
        ev(2L, 15000, 60, "click", 0L),
        ev(3L, 15000, 70, "view", 0L))) // u3 bufferless
      in.toDS().withWatermark("ts", "10 seconds").groupByKey(_.userId)
        .transformWithState(new OldAttributionLayoutProcessor(
            installFolded = Map(1L -> ((5000L, 50L, "view")), 3L -> ((7000L, 70L, "click"))),
            bufferless = Set(3L)),
          org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Append())
        .writeStream.outputMode(OutputMode.Append)
        .foreachBatch((df: org.apache.spark.sql.Dataset[StatefulOps.AttributedPurchaseTs],
            _: Long) => { df.count(); () })
        .option("checkpointLocation", ckpt).start()
    }

    regen("session") { ckpt =>
      val in = MemoryStream[StatefulOps.TimedEvent](spark)
      in.addData(Seq(
        StatefulOps.TimedEvent(new java.sql.Timestamp(33000L), 1L, 20L, 1L),
        StatefulOps.TimedEvent(new java.sql.Timestamp(24000L), 2L, 10L, 1L),
        StatefulOps.TimedEvent(new java.sql.Timestamp(12000L), 3L, 1L, 1L))) // u3 bufferless
      in.toDS().withWatermark("ts", "10 seconds").groupByKey(_.userId)
        .transformWithState(new OldSessionLayoutProcessor(
            installFolded = Map(
              1L -> Seq((30000L, 31000L, 1L, 1L)),
              3L -> Seq((10000L, 12000L, 2L, 2L))),
            bufferless = Set(3L)),
          org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Append())
        .writeStream.outputMode(OutputMode.Append)
        .foreachBatch((df: org.apache.spark.sql.Dataset[StatefulOps.SessionSummary],
            _: Long) => { df.count(); () })
        .option("checkpointLocation", ckpt).start()
    }

    // ---- CURRENT-layout fixtures (r16): written by the SHIPPED
    // operators, frozen so `readCurrentBuffered*` drift is detectable
    // against bytes the readers cannot influence (same rationale as the
    // old-layout trio above). Two batches each: the first settles a fold
    // (and, for the session, drains the ListState), the second leaves
    // buffered state past the watermark. ----

    regen("cep-current") { ckpt =>
      val in = MemoryStream[StatefulOps.TimedUserEvent](spark)
      val q = StatefulOps.patternMatchCountsExact(in.toDS().withWatermark("ts", "10 seconds"))
        .writeStream.outputMode(OutputMode.Update)
        .foreachBatch((df: org.apache.spark.sql.Dataset[StatefulOps.PatternCount],
            _: Long) => { df.count(); () })
        .option("checkpointLocation", ckpt).start()
      // batch 1: u1 (v,c) + pusher to 16s -> wm 6s after commit
      in.addData(Seq(ev(1L, 5000, 0, "view", 0L), ev(1L, 6000, 1, "click", 0L),
        ev(9L, 16000, 90, "s", 0L)))
      q.processAllAvailable()
      // batch 2: timer pass at wm 6s folds u1 -> folded (1,2,0); the new
      // rows stay buffered past wm 10s
      in.addData(Seq(ev(1L, 20000, 2, "purchase", 0L), ev(2L, 15000, 10, "view", 0L),
        ev(9L, 17000, 91, "s", 0L)))
      q.processAllAvailable()
      q
    }

    regen("cusum-current") { ckpt =>
      val in = MemoryStream[StatefulOps.TimedUserEvent](spark)
      val q = StatefulOps.cusumMonitorExact(in.toDS().withWatermark("ts", "10 seconds"), target = 20L,
          threshold = 15L)
        .writeStream.outputMode(OutputMode.Update)
        .foreachBatch((df: org.apache.spark.sql.Dataset[StatefulOps.CusumState],
            _: Long) => { df.count(); () })
        .option("checkpointLocation", ckpt).start()
      // batch 1: u1 deviations (cents 30, 50 vs target 20) + pusher to
      // 16s -> wm 6s after commit
      in.addData(Seq(ev(1L, 5000, 0, "s", 30L), ev(1L, 6000, 1, "s", 50L),
        ev(9L, 16000, 90, "s", 0L)))
      q.processAllAvailable()
      // batch 2: timer pass at wm 6s folds u1 -> folded (2, 40, 1): acc
      // 10 then 40, crossing threshold 15 on event 1 (the alarm latch —
      // the fold-state column a cep fixture cannot exercise); the new
      // rows stay buffered past wm 10s
      in.addData(Seq(ev(1L, 20000, 2, "s", 5L), ev(2L, 15000, 10, "s", 7L),
        ev(9L, 17000, 91, "s", 0L)))
      q.processAllAvailable()
      q
    }

    regen("attribution-current") { ckpt =>
      val in = MemoryStream[StatefulOps.TimedUserEvent](spark)
      val q = StatefulOps.lastTouchAttributionExact(in.toDS().withWatermark("ts", "10 seconds"))
        .writeStream.outputMode(OutputMode.Append)
        .foreachBatch((df: org.apache.spark.sql.Dataset[StatefulOps.AttributedPurchaseTs],
            _: Long) => { df.count(); () })
        .option("checkpointLocation", ckpt).start()
      // batch 1: u1 view -> purchase + pusher to 16s -> wm 6s after commit
      in.addData(Seq(ev(1L, 5000, 0, "view", 0L), ev(1L, 6000, 1, "purchase", 700L),
        ev(9L, 16000, 90, "s", 0L)))
      q.processAllAvailable()
      // batch 2: timer pass at wm 6s folds u1 (the purchase emits,
      // credited "view"; folded keeps the String-bearing best-touch
      // triple); the new rows stay buffered past wm 10s
      in.addData(Seq(ev(1L, 20000, 2, "click", 0L), ev(2L, 15000, 10, "click", 0L),
        ev(9L, 17000, 91, "s", 0L)))
      q.processAllAvailable()
      q
    }

    regen("session-current") { ckpt =>
      val in = MemoryStream[StatefulOps.TimedEvent](spark)
      val q = StatefulOps.timedSessionsExact(in.toDS().withWatermark("ts", "10 seconds"), gapMs = 5000L)
        .writeStream.outputMode(OutputMode.Append)
        .foreachBatch((df: org.apache.spark.sql.Dataset[StatefulOps.SessionSummary],
            _: Long) => { df.count(); () })
        .option("checkpointLocation", ckpt).start()
      // batch 1: u1 pair + u2 single + pusher to 24s -> wm 14s after commit
      in.addData(Seq(
        StatefulOps.TimedEvent(new java.sql.Timestamp(10000L), 1L, 0L, 1L),
        StatefulOps.TimedEvent(new java.sql.Timestamp(12000L), 1L, 1L, 1L),
        StatefulOps.TimedEvent(new java.sql.Timestamp(24000L), 2L, 10L, 1L),
        StatefulOps.TimedEvent(new java.sql.Timestamp(24000L), 9L, 90L, 0L)))
      q.processAllAvailable()
      // batch 2: timer pass at wm 14s folds u1's pair into an OPEN
      // fragment (close 17s > wm) and DRAINS its ListState buffer
      in.addData(Seq(StatefulOps.TimedEvent(new java.sql.Timestamp(23000L), 9L, 91L, 0L)))
      q.processAllAvailable()
      q
    }

    spark.stop()
  }
}
