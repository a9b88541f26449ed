package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.util.Try

/** The contract [[LocalCheckpointFileManager]] owes Spark's offset log,
  * commit log and state stores, checked against Spark's default manager
  * (`FileContextBasedCheckpointFileManager`) wherever the two must agree.
  */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {
  private val conf = new Configuration()

  private def newDir(): Path = new Path(Files.createTempDirectory("graft-cfm").toString)
  private def local(dir: Path): CheckpointFileManager = new LocalCheckpointFileManager(dir, conf)
  private def default(dir: Path): CheckpointFileManager = new FileContextBasedCheckpointFileManager(dir, conf)

  /** Write `s` atomically the way `HDFSMetadataLog` does: cancel on any
    * failure, close otherwise.
    */
  private def write(fm: CheckpointFileManager, p: Path, s: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    try { out.write(s.getBytes(UTF_8)); out.close() }
    catch { case e: Throwable => out.cancel(); throw e }
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** Every name in `dir`, hidden temp and checksum files included. */
  private def names(dir: Path): Set[String] = new File(dir.toUri.getPath).list().toSet

  test("no-overwrite create onto an existing file throws FileAlreadyExistsException and keeps the target") {
    val dir = newDir(); val fm = local(dir); val p = new Path(dir, "0")
    write(fm, p, "first", overwrite = false)
    intercept[FileAlreadyExistsException](write(fm, p, "second", overwrite = false))
    assert(read(fm, p) == "first")
    assert(names(dir) == Set("0"))
  }

  test("racing no-overwrite creates of one path: exactly one wins and the file holds its bytes") {
    val writers = 6
    val pool = Executors.newFixedThreadPool(writers)
    try (0 until 10).foreach { round =>
      val dir = newDir(); val fm = local(dir); val p = new Path(dir, "7")
      val ready = new CountDownLatch(writers)
      val won = new AtomicInteger(-1)
      val lost = new AtomicInteger(0)
      val body = (w: Int) => s"writer-$w-" * 2000
      val tasks = (0 until writers).map { w =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val out = fm.createAtomic(p, overwriteIfPossible = false)
            out.write(body(w).getBytes(UTF_8))
            ready.countDown(); ready.await() // every writer has its temp file before any commits
            try { out.close(); assert(won.compareAndSet(-1, w)) }
            catch { case _: FileAlreadyExistsException => out.cancel(); lost.incrementAndGet() }
          }
        })
      }
      tasks.foreach(_.get(30, TimeUnit.SECONDS))
      assert(won.get >= 0 && lost.get == writers - 1, s"round $round")
      assert(read(fm, p) == body(won.get), s"round $round")
      assert(names(dir) == Set("7"), s"round $round")
    } finally pool.shutdownNow()
  }

  test("overwrite replaces atomically and drops a stale .crc the default manager can trip on") {
    val dir = newDir(); val p = new Path(dir, "1.delta")
    write(default(dir), p, "old", overwrite = true)
    assert(names(dir) == Set("1.delta", ".1.delta.crc"))
    write(local(dir), p, "new", overwrite = true)
    assert(names(dir) == Set("1.delta"))
    assert(read(default(dir), p) == "new") // a stale checksum would fail this read

    // a reader racing repeated overwrites sees one whole version or the
    // other, never a missing or a partial file
    val fm = local(dir)
    val versions = Seq("A" * 8192, "B" * 8192)
    write(fm, p, versions(0), overwrite = true)
    @volatile var done = false
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reader = new Thread(() => while (!done) seen.add(read(fm, p)))
    reader.start()
    try (1 to 200).foreach(i => write(fm, p, versions(i % 2), overwrite = true))
    finally { done = true; reader.join(30000) }
    assert(!seen.isEmpty)
    assert(seen.toArray.forall(versions.contains))
    assert(names(dir) == Set("1.delta"))
  }

  test("cancel and a failing stream leave neither the file nor its temp file") {
    Seq(false, true).foreach { overwrite =>
      val dir = newDir(); val fm = local(dir); val p = new Path(dir, "2")
      val out = fm.createAtomic(p, overwrite)
      out.write("partial".getBytes(UTF_8))
      out.cancel()
      out.cancel(); out.close() // both are no-ops once the stream has ended
      assert(names(dir).isEmpty)

      val failure = intercept[IllegalStateException] {
        val failing = fm.createAtomic(p, overwrite)
        try { failing.write("half".getBytes(UTF_8)); throw new IllegalStateException("producer failed") }
        catch { case e: Throwable => failing.cancel(); throw e }
      }
      assert(failure.getMessage == "producer failed")
      assert(names(dir).isEmpty)
      assert(!fm.exists(p))
    }
  }

  test("list, exists, delete and mkdirs behave like the default manager, missing directory included") {
    val notOne = new PathFilter { def accept(p: Path): Boolean = p.getName != "1" }
    /** One scenario, as a trace of what each call returned or threw. */
    def trace(make: Path => CheckpointFileManager): Seq[String] = {
      val root = newDir(); val fm = make(root)
      val dir = new Path(root, "a/b")
      def attempt[T](what: String)(f: => T): String =
        what + "=" + Try(f).fold(e => e.getClass.getSimpleName, _.toString)
      def listed(p: Path): String = fm.list(p, notOne).map(_.getPath.getName).sorted.mkString(",")
      Seq(
        attempt("list-missing")(listed(dir)),
        attempt("exists-missing")(fm.exists(dir)),
        attempt("delete-missing")(fm.delete(new Path(dir, "0"))),
        attempt("mkdirs")(fm.mkdirs(dir)),
        attempt("mkdirs-again")(fm.mkdirs(dir)),
        attempt("exists-dir")(fm.exists(dir)),
        attempt("list-empty")(listed(dir)),
        attempt("write")(Seq("0", "1", "2").foreach(n => write(fm, new Path(dir, n), n, overwrite = false))),
        attempt("list")(listed(dir)),
        attempt("list-all")(fm.list(dir).map(_.getPath.getName).sorted.mkString(",")),
        attempt("exists-file")(fm.exists(new Path(dir, "2"))),
        attempt("delete-file")(fm.delete(new Path(dir, "2"))),
        attempt("exists-deleted")(fm.exists(new Path(dir, "2"))),
        attempt("names-after-delete")(names(dir).filterNot(_.endsWith(".crc")).toSeq.sorted.mkString(",")),
        attempt("crc-after-delete")(names(dir).contains(".2.crc")),
        attempt("delete-dir")(fm.delete(new Path(root, "a"))),
        attempt("exists-deleted-dir")(fm.exists(dir)),
        attempt("isLocal")(fm.isLocal),
        attempt("checkpoint-dir")(fm.createCheckpointDirectory().toString == s"file:$root"))
    }
    val expected = trace(default)
    assert(trace(local) == expected)
    assert(expected.take(3) == Seq("list-missing=FileNotFoundException", "exists-missing=false",
      "delete-missing=()"))
    assert(expected.contains("list=0,2") && expected.contains("crc-after-delete=false"))
  }

  test("a file written by either manager opens through the other") {
    val dir = newDir()
    val managers = Seq("default" -> default(dir), "local" -> local(dir))
    for ((wName, writer) <- managers; (rName, reader) <- managers; overwrite <- Seq(false, true)) {
      val p = new Path(dir, s"$wName-$rName-$overwrite")
      write(writer, p, s"written by $wName", overwrite)
      assert(read(reader, p) == s"written by $wName")
      assert(reader.list(dir).map(_.getPath.getName).contains(p.getName))
    }
    assert(names(dir).forall(!_.contains(".tmp")))
  }

  test("a non-file: path goes to the manager Spark picks without the conf") {
    assert(new LocalCheckpointFileManager(newDir(), conf).delegate.isEmpty)
    assert(new LocalCheckpointFileManager(new Path("relative/ckpt"), conf).delegate.isEmpty)
    // a scheme with a FileSystem but no AbstractFileSystem: Spark's own
    // choice falls back from FileContext to FileSystem, and so does ours
    val other = new Configuration(conf)
    other.set("fs.graftother.impl", classOf[org.apache.hadoop.fs.RawLocalFileSystem].getName)
    other.set(LocalCheckpointFileManager.ConfKey, classOf[LocalCheckpointFileManager].getName)
    val remote = new LocalCheckpointFileManager(new Path("graftother:/tmp/ckpt"), other)
    assert(remote.delegate.exists(_.isInstanceOf[FileSystemBasedCheckpointFileManager]))
  }
}
