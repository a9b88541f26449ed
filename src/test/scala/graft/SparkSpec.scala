package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.scalatest.funsuite.AnyFunSuite

/** Shared test base: one session per suite, UTC, small shuffle width, and
  * the product's checkpoint file manager.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir",
      s"${System.getProperty("java.io.tmpdir")}/graft-test-warehouse")
    .config("spark.ui.enabled", "false")
    .config(Map(Graft.checkpointFileManager))
    .getOrCreate()

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Run `body` with the RocksDB state-store provider, restoring the
    * previous provider conf afterwards.
    */
  protected def withRocksDBProvider[T](body: => T): T =
    withConf("spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(body)

  /** Run `body` with session confs set, restoring each previous value
    * afterwards.
    */
  protected def withConf[T](kvs: (String, String)*)(body: => T): T =
    SparkSpec.withConf(spark, kvs: _*)(body)

  /** A fresh temp directory (checkpoint/source/sink scaffolding). */
  protected def newDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}

object SparkSpec {

  /** Run `body` with session confs set on `spark`, restoring each previous
    * value (or unsetting a key that had none) afterwards.
    */
  def withConf[T](spark: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.reverse.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  /** Every node of an executed plan, descending through AQE wrappers and
    * materialized query stages (whose subtrees hang off `plan`, not
    * `children`). Run the action on the DataFrame's own QueryExecution
    * first: AQE finalizes stages only at runtime, and a fresh plan's exec
    * nodes own fresh, zero metrics.
    */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = {
    val below = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    p +: below.flatMap(planNodes)
  }
}
