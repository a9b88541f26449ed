package alertbench

/** Benchmark JVM entry point; `run.py` builds and launches it.
  *
  *   --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --cores <k> --work <dir inside the checkout> --sf <catalog data dir>
  *
  * Prints one JSON line (the last line of stdout) with the run's metrics,
  * operation counts and verification problems.
  */
object Main {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    val cores = opts.getOrElse("cores", "4").toInt
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.Graft.session("alertbench", s"local[$cores]")
    val ctx = new Ctx(spark, cores, opts("seed").toLong, opts("seconds").toDouble,
      opts.getOrElse("trace", "0") == "1", new java.io.File(opts("work")),
      opts.getOrElse("sf", ""), (System.currentTimeMillis() - jvmStartMs) / 1000.0, new Report)
    try {
      workload match {
        case "etl" => Etl.run(ctx)
        case "alert_windows" => Windows.run(ctx)
        case "catalog_sf0.1" => CatalogRun.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      if (ctx.trace) Trace.putJvm(ctx.report)
    } catch {
      case e: Throwable =>
        ctx.report.failed += 1
        ctx.report.problem(s"run aborted: $e")
        e.printStackTrace()
    }
    spark.streams.active.foreach(_.stop())
    println(ctx.report.json)
    spark.stop()
  }
}
