package graft.tools

import graft.Tables
import graft.queries.AllQueries
import org.apache.spark.sql.SparkSession

/** Plan inspection driver: prints the formatted physical plan for the given
  * (or all headline) queries so pushdown/broadcast/codegen can be reviewed.
  *
  * Usage: sbt "runMain graft.tools.Explain [sfDir] [query ...]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq else graft.SparkEntry.headline
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tables = Tables(spark, sfDir)
    names.foreach { n =>
      println(s"\n===================== $n =====================")
      AllQueries.all(n).run(tables).explain("formatted")
    }
    spark.stop()
  }
}
