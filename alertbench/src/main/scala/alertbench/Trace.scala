package alertbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** Spans the benchmark records around its own calls into each layer. */
object Trace {

  /** Wall ms of each named prefix of a pipeline, the minimum of `reps`
    * interleaved repetitions (drift hits every prefix alike, and noise on a
    * shared host only ever adds time). The difference between consecutive
    * prefixes is the added layer's time. */
  def prefixTimes(prefixes: Seq[(String, () => Unit)], reps: Int): Map[String, Double] = {
    val spans = prefixes.map(_._1 -> collection.mutable.ArrayBuffer[Double]()).toMap
    for (_ <- 1 to reps; (name, run) <- prefixes) {
      val t0 = System.nanoTime()
      run()
      spans(name) += (System.nanoTime() - t0) / 1e6
    }
    spans.map { case (k, v) => k -> v.min }
  }

  /** Added time of a layer: the difference between the prefix that ends
    * with it and the one before. A layer too small to separate from the
    * noise of the two prefixes reads 0. */
  def layerMs(withLayer: Double, without: Double): Double = math.max(0.0, withLayer - without)

  /** Time the same work untraced, traced, traced, untraced (so a linear
    * warm-up drift hits both alike); returns the two medians. */
  def alternate(attach: () => Unit, detach: () => Unit)(work: => Double): (Double, Double) = {
    val untraced, traced = collection.mutable.ArrayBuffer[Double]()
    untraced += work
    attach()
    try { traced += work; traced += work } finally detach()
    untraced += work
    (Report.median(untraced), Report.median(traced))
  }

  /** The same fixed work timed with and without tracing attached. */
  def putOverhead(r: Report, untracedS: Double, tracedS: Double): Unit = {
    r.put("trace.wall_untraced_ms", untracedS * 1000, "ms")
    r.put("trace.wall_traced_ms", tracedS * 1000, "ms")
    r.put("trace.overhead_pct", (tracedS / untracedS - 1) * 100, "%")
  }

  def putJvm(r: Report): Unit = {
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum
    r.put("jvm.gc_ms", gc.toDouble, "ms")
    r.put("jvm.heap_peak_mb", heap / 1048576.0, "MB")
  }
}
