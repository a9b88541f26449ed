package alertbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Everything a workload needs: the session, the run's options, its scratch
  * directory inside the checkout, and the report it fills. */
final class Ctx(
    val spark: SparkSession,
    val cores: Int,
    val seed: Long,
    val seconds: Double,
    val trace: Boolean,
    val work: java.io.File,
    val sfDir: String,
    val sessionSeconds: Double,
    val report: Report) {

  private var ckpt = 0
  /** A fresh checkpoint directory for one streaming query. */
  def checkpoint(): String = { ckpt += 1; new java.io.File(work, s"ckpt-$ckpt").getPath }

  /** Passes to time: the run's seconds over the pass length measured at
    * this commit on 4 cores, at least 3. The count does not depend on how
    * fast this run goes, so every run times the same work. */
  def passes(nominalPassSeconds: Double): Int = math.max(3, math.round(seconds / nominalPassSeconds).toInt)

  /** Start a streaming query `SetupReps` times, each time with one first
    * batch, stopping all but the last. Returns the last source and
    * query, and the seconds each start took. */
  def startRepeatedly(firstBatch: Array[Msg])(start: () => (MemoryStream[Msg], StreamingQuery))
      : (MemoryStream[Msg], StreamingQuery, Seq[Double]) = {
    val times = Seq.newBuilder[Double]
    var last: (MemoryStream[Msg], StreamingQuery) = null
    for (rep <- 1 to Ctx.SetupReps) {
      if (last != null) last._2.stop()
      val t0 = System.nanoTime()
      last = start()
      last._1.addData(firstBatch.toSeq)
      last._2.processAllAvailable()
      times += (System.nanoTime() - t0) / 1e9
    }
    (last._1, last._2, times.result())
  }

  /** Run the untimed warm-up, then idle `JitSettleMs` so the JIT compile
    * queue built up under load drains before timing starts. Returns the
    * seconds both took. */
  def warmUp(work: => Unit): Double = {
    val t0 = System.nanoTime()
    work
    Thread.sleep(Ctx.JitSettleMs)
    (System.nanoTime() - t0) / 1e9
  }

  /** setup_s: JVM start to a ready session, plus the median of the
    * workload's repeated query starts (each with its first batch), plus the
    * one warm-up that brings the JIT close to steady state before timing. */
  def putSetup(starts: Seq[Double], warmUpSeconds: Double): Unit = {
    report.put("setup_s", sessionSeconds + Report.median(starts) + warmUpSeconds, "s")
    report.note("setup_starts_s", Report.arr(starts))
    report.note("session_s", Report.num(sessionSeconds))
    report.note("warm_up_s", Report.num(warmUpSeconds))
  }
}

object Ctx {
  val SetupReps = 3
  val JitSettleMs = 1000L
}

/** Collects every progress event of the queries it is attached to (the
  * session keeps only the last 100 in `recentProgress`). Attached only in
  * traced runs. */
final class ProgressLog extends StreamingQueryListener {
  import StreamingQueryListener._
  private val all = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = all.add(e.progress)
  def of(q: StreamingQuery): Vector[StreamingQueryProgress] =
    all.asScala.filter(_.runId == q.runId).toVector
  def clear(): Unit = all.clear()
}

object ProgressLog {
  /** Micro-batch execution metrics over the batches that carried input. */
  def putBatch(r: Report, ps: Seq[StreamingQueryProgress]): Unit = {
    val data = ps.filter(_.numInputRows > 0)
    def d(k: String) = Report.median(data.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)))
    r.put("batch.n", data.size.toDouble, "count")
    r.put("batch.rows_p50", Report.median(data.map(_.numInputRows.toDouble)), "rows")
    r.put("batch.trigger_ms_p50", d("triggerExecution"), "ms")
    r.put("batch.planning_ms_p50", d("queryPlanning"), "ms")
    r.put("batch.add_batch_ms_p50", d("addBatch"), "ms")
    r.put("batch.wal_commit_ms_p50", d("walCommit"), "ms")
    r.put("batch.commit_offsets_ms_p50", d("commitOffsets"), "ms")
  }

  /** State-store metrics summed over the stateful operators. */
  def putState(r: Report, ps: Seq[StreamingQueryProgress]): Unit = {
    val ops = ps.flatMap(_.stateOperators.toSeq)
    r.put("state.rows_total", ps.lastOption.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0), "rows")
    r.put("state.rows_updated", ops.map(_.numRowsUpdated).sum.toDouble, "rows")
    r.put("state.update_ms", ops.map(_.allUpdatesTimeMs).sum.toDouble, "ms")
    r.put("state.commit_ms", ops.map(_.commitTimeMs).sum.toDouble, "ms")
    r.put("state.memory_bytes", ps.map(_.stateOperators.map(_.memoryUsedBytes).sum).maxOption.getOrElse(0L).toDouble, "bytes")
    r.put("state.dropped_late", ops.map(_.numRowsDroppedByWatermark).sum.toDouble, "rows")
  }
}
