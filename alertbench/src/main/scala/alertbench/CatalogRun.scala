package alertbench

import graft.SparkEntry
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer

/** catalog_sf0.1: a fixed slice of the program's headline queries over the
  * sf0.1 tables, one query at a time in a closed loop, each fully evaluated
  * to the noop sink. The warm-up pass writes every result to parquet
  * instead; run.py checks those dumps against the DuckDB oracle after the
  * JVM exits. */
object CatalogRun {
  /** Headline queries from distinct layer families: scan + scalar
    * functions, the five-table star join, the native as-of join exec
    * (plans) and the CEP string build over events. The whole headline list
    * takes about 31 s per pass on 4 cores, more than one run can afford;
    * this slice takes about 2.5 s, so a run times several passes. */
  val Queries: Seq[String] = Seq("q_scan_project", "q_join_star", "q_join_asof_native",
    "q_events_pattern_match")
  /** Untimed passes after the checked one: the JIT keeps speeding the
    * queries up over their first few executions. */
  val WarmPasses = 2
  val PassSeconds = 1.9

  private val Tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The listener bus delivers task-end events after the action returns;
    * read the counter once it has stopped moving. */
  private def settled(c: AtomicLong): Long = {
    var prev = -1L
    var cur = c.get()
    while (cur != prev) { Thread.sleep(20); prev = cur; cur = c.get() }
    cur
  }

  def run(ctx: Ctx): Unit = {
    val r = ctx.report
    val spark = ctx.spark
    val names = Queries
    val queries = SparkEntry.queries
    val dump = new java.io.File(ctx.work, "dump")
    dump.mkdirs()

    val t0 = System.nanoTime()
    // the checked pass is the first execution of every query: it counts as
    // the one start; the warm passes after it as the warm-up
    names.foreach { n =>
      try queries(n)(spark, ctx.sfDir).write.mode("overwrite").parquet(new java.io.File(dump, n).getPath)
      catch { case e: Exception => r.failed += 1; r.problem(s"$n: checked pass failed: $e") }
    }
    val oracle = SparkEntry.oracleSql.filter { case (n, _) => names.contains(n) }
    val json = oracle.map { case (n, sql) => s"${Report.q(n)}:${Report.q(sql)}" }.mkString("{", ",", "}")
    java.nio.file.Files.writeString(new java.io.File(dump, "oracle_sql.json").toPath, json)
    r.note("oracle_queries", s"${oracle.size}")
    val rows = Tables.map(t => spark.read.parquet(s"${ctx.sfDir}/$t.parquet").count()).sum

    val taskMs = new AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) taskMs.addAndGet(e.taskMetrics.executorRunTime)
    }
    val perQuery = names.map(_ -> ArrayBuffer[Double]()).toMap
    val perQueryTask = names.map(_ -> ArrayBuffer[Double]()).toMap

    val started = (System.nanoTime() - t0) / 1e9
    ctx.putSetup(Seq(started), ctx.warmUp((1 to WarmPasses).foreach(_ => names.foreach(n =>
      queries(n)(spark, ctx.sfDir).write.format("noop").mode("overwrite").save()))))

    /** One pass over the list: wall seconds. */
    def pass(traced: Boolean): Double = {
      val p0 = System.nanoTime()
      names.foreach { n =>
        val q0 = System.nanoTime()
        val k0 = taskMs.get()
        r.attempted += 1
        try {
          queries(n)(spark, ctx.sfDir).write.format("noop").mode("overwrite").save()
          perQuery(n) += (System.nanoTime() - q0) / 1e6
          if (traced) perQueryTask(n) += (settled(taskMs) - k0).toDouble
        } catch { case e: Exception => r.failed += 1; r.problem(s"$n: $e") }
      }
      (System.nanoTime() - p0) / 1e9
    }

    if (ctx.trace) {
      var tracing = false
      val (untraced, traced) = Trace.alternate(
        () => { spark.sparkContext.addSparkListener(listener); tracing = true },
        () => { spark.sparkContext.removeSparkListener(listener); tracing = false })(pass(tracing))
      Trace.putOverhead(r, untraced, traced)
      names.foreach { n =>
        r.put(s"query.$n.ms", Report.median(perQuery(n)), "ms")
        r.put(s"query.$n.task_ms", Report.median(perQueryTask(n)), "ms")
      }
    } else {
      val passes = Seq.fill(ctx.passes(PassSeconds))(pass(traced = false))
      val all = perQuery.values.flatten
      r.put("records_per_s", rows / Report.median(passes), "1/s")
      r.put("latency_p50_ms", Report.quantile(all, 0.5), "ms")
      r.put("latency_p90_ms", Report.quantile(all, 0.9), "ms")
      r.put("pass_s", Report.median(passes), "s")
      r.note("passes_s", Report.arr(passes))
      r.note("latency_samples", s"${all.size}")
      r.note("query_ms", names.map(n => s"${Report.q(n)}:${Report.num(Report.median(perQuery(n)))}").mkString("{", ",", "}"))
    }
  }
}
