package graft.tools

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Diagnostic: run one SparkEntry query N times in a single JVM and print
  * per-iteration wall times, so a query's cost can be separated from box
  * variance. Usage:
  *   sbt "runMain graft.tools.QueryLab cc_min_label 5 [sfDir]"
  */
object QueryLab {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("cc_min_label")
    val reps = if (args.length > 1) args(1).toInt else 5
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val fn = SparkEntry.queries(name)
      val times = (1 to reps).map { i =>
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        val s = (System.nanoTime() - t0) / 1e9
        println(f"[querylab] $name iter=$i rows=$n sec=$s%.3f")
        s
      }
      val sorted = times.sorted
      println(f"[querylab] $name min=${sorted.head}%.3f " +
        f"median=${sorted(reps / 2)}%.3f max=${sorted.last}%.3f")
    } finally spark.stop()
  }
}
