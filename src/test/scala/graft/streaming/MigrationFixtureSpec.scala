package graft.streaming

import graft.SparkSpec
import StatefulOps.BufferedSnapshot

/** Pins the COMMITTED golden old-layout checkpoint fixture (r15 verdict
  * task 3; generated once by `graft.tools.MigrationFixtureGen`, bytes in
  * `src/test/resources/migration-fixture/{cep,attribution,session}`).
  *
  * Why frozen bytes and not the synthesized layout the round-trip specs
  * use: the synthesizing Old*LayoutProcessors and the migration reader
  * live in the same repo — if both drift together (a renamed state
  * variable, a reordered tuple field, a changed encoder layout), the
  * synthesized round trip still passes while every REAL user checkpoint
  * written by the historical build becomes undumpable. These checkpoints
  * cannot drift; any reader regression — ours or a Spark statestore-source
  * behavior change under version upgrade — fails here first, as a spec,
  * instead of at a user's restart.
  *
  * All three fixtures are RocksDB-provider checkpoints: transformWithState
  * (old layout included) supports only the RocksDB store, so an
  * HDFS-provider old checkpoint cannot exist for these operators — there
  * is deliberately no HDFS fixture.
  *
  * Each fixture holds the three key shapes: u1 folded + buffered,
  * u2 buffer-only (folded never written), u3 folded-only (drained buffer
  * — the full-outer join's empty-buffer coalesce leg).
  */
class MigrationFixtureSpec extends SparkSpec {
  import spark.implicits._

  /** The offline-session conf contract this spec also pins (r16, found BY
    * this fixture): without a live streaming query the
    * StateStoreCoordinator RPC endpoint does not exist, and the reader's
    * RocksDB load dies reporting snapshot-upload lag to it — so offline
    * dumps disable the report (as graft.tools.StateMigrationDump does).
    * Wrapping here keeps the spec deterministic under any suite order
    * (a streaming suite running first in the shared session would mask
    * the fresh-session condition).
    */
  private def offline[T](body: => T): T =
    withConf("spark.sql.streaming.stateStore.coordinatorReportSnapshotUploadLag" ->
      "false")(withRocksDBProvider(body))

  /** The fixture is read from a COPY so a reader bug that writes into the
    * checkpoint (lock files, version bumps) can never corrupt the
    * committed bytes.
    */
  private def fixtureCopy(shape: String): String = {
    val src = java.nio.file.Paths.get("src/test/resources/migration-fixture", shape)
    assert(java.nio.file.Files.exists(src),
      s"fixture missing: $src (regenerate with Test/runMain graft.tools.MigrationFixtureGen)")
    val dst = java.nio.file.Paths.get(newDir(s"graft-fixture-$shape"), shape)
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.walk(src)
    try s.iterator().asScala.foreach { p =>
      java.nio.file.Files.copy(p, dst.resolve(src.relativize(p)),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
    dst.toString
  }

  test("cep fixture dumps to the exact pinned snapshots (tuple fold state)") {
    offline {
      val got = StateMigration
        .readOldBufferedExact[(Long, Long, Long)](spark, fixtureCopy("cep"))
        .collect().sortBy(_.userId).toSeq
      assert(got == Seq(
        BufferedSnapshot(1L, Seq((40000L, 7L, "view", 0L), (41000L, 8L, "purchase", 5L)),
          Some((1L, 4L, 1L))),
        BufferedSnapshot(2L, Seq((15000L, 10L, "click", 2L)), None),
        BufferedSnapshot(3L, Seq.empty, Some((0L, 9L, 3L)))),
        s"cep fixture dump drifted: $got")
    }
  }

  test("attribution fixture dumps to the exact pinned snapshots (String-bearing fold state)") {
    offline {
      val got = StateMigration
        .readOldBufferedExact[(Long, Long, String)](spark, fixtureCopy("attribution"))
        .collect().sortBy(_.userId).toSeq
      assert(got == Seq(
        BufferedSnapshot(1L, Seq((20000L, 51L, "purchase", 700L)), Some((5000L, 50L, "view"))),
        BufferedSnapshot(2L, Seq((15000L, 60L, "click", 0L)), None),
        BufferedSnapshot(3L, Seq.empty, Some((7000L, 70L, "click")))),
        s"attribution fixture dump drifted: $got")
    }
  }

  test("session fixture dumps to the exact pinned snapshots (array-typed fold state)") {
    offline {
      val got = StateMigration
        .readOldBufferedSession(spark, fixtureCopy("session"))
        .collect().sortBy(_.userId).toSeq
      assert(got == Seq(
        BufferedSnapshot(1L, Seq((33000L, 20L, "session", 1L)),
          Some(Seq((30000L, 31000L, 1L, 1L)))),
        BufferedSnapshot(2L, Seq((24000L, 10L, "session", 1L)), None),
        BufferedSnapshot(3L, Seq.empty, Some(Seq((10000L, 12000L, 2L, 2L))))),
        s"session fixture dump drifted: $got")
    }
  }

  // ---- CURRENT-layout fixtures (r16): bytes written by the SHIPPED
  // operators, so `readCurrentBuffered*` drift — or a Spark statestore
  // change in how a ListState reads back — fails here instead of on the
  // first real checkpoint a future migration has to rescue. ----

  test("cep-current fixture dumps to the exact pinned snapshots (ListState buffer)") {
    offline {
      val got = StateMigration
        .readCurrentBufferedExact[(Long, Long, Long)](spark, fixtureCopy("cep-current"))
        .collect().sortBy(_.userId).toSeq
      assert(got == Seq(
        BufferedSnapshot(1L, Seq((20000L, 2L, "purchase", 0L)), Some((1L, 2L, 0L))),
        BufferedSnapshot(2L, Seq((15000L, 10L, "view", 0L)), None),
        // the watermark pusher's own buffered rows freeze too — canonical
        // (ts, eventId) order is part of the pin
        BufferedSnapshot(9L, Seq((16000L, 90L, "s", 0L), (17000L, 91L, "s", 0L)), None)),
        s"cep-current fixture dump drifted: $got")
    }
  }

  test("cusum-current fixture dumps to the exact pinned snapshots (alarm-latched fold state)") {
    offline {
      val got = StateMigration
        .readCurrentBufferedExact[(Long, Long, Long)](spark, fixtureCopy("cusum-current"))
        .collect().sortBy(_.userId).toSeq
      assert(got == Seq(
        // u1's fold (n=2, acc=40, alarm latched on event 1) freezes the
        // alarm column a cep fixture cannot exercise
        BufferedSnapshot(1L, Seq((20000L, 2L, "s", 5L)), Some((2L, 40L, 1L))),
        BufferedSnapshot(2L, Seq((15000L, 10L, "s", 7L)), None),
        BufferedSnapshot(9L, Seq((16000L, 90L, "s", 0L), (17000L, 91L, "s", 0L)), None)),
        s"cusum-current fixture dump drifted: $got")
    }
  }

  test("attribution-current fixture dumps to the exact pinned snapshots (String-bearing fold state)") {
    offline {
      val got = StateMigration
        .readCurrentBufferedExact[(Long, Long, String)](spark, fixtureCopy("attribution-current"))
        .collect().sortBy(_.userId).toSeq
      assert(got == Seq(
        BufferedSnapshot(1L, Seq((20000L, 2L, "click", 0L)), Some((5000L, 0L, "view"))),
        BufferedSnapshot(2L, Seq((15000L, 10L, "click", 0L)), None),
        BufferedSnapshot(9L, Seq((16000L, 90L, "s", 0L), (17000L, 91L, "s", 0L)), None)),
        s"attribution-current fixture dump drifted: $got")
    }
  }

  test("session-current fixture dumps to the exact pinned snapshots (fold-drained ListState)") {
    offline {
      val got = StateMigration
        .readCurrentBufferedSession(spark, fixtureCopy("session-current"))
        .collect().sortBy(_.userId).toSeq
      assert(got == Seq(
        // u1: buffer drained by the pre-freeze fold; only the open
        // fragment survives — the current layout's drained-key leg
        BufferedSnapshot(1L, Seq.empty, Some(Seq((10000L, 12000L, 2L, 2L)))),
        BufferedSnapshot(2L, Seq((24000L, 10L, "session", 1L)), None),
        BufferedSnapshot(9L, Seq((23000L, 91L, "session", 0L), (24000L, 90L, "session", 0L)), None)),
        s"session-current fixture dump drifted: $got")
    }
  }
}
