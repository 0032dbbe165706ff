package graft.tools

import org.apache.spark.sql.SparkSession

import graft.cluster.Pipeline
import graft.gen.SyntheticCorpus
import graft.model.GraftConfig

/** Diagnostic: run the flagship pipeline on the Bench synthetic corpus N
  * times in one JVM, printing per-rep wall + per-phase seconds + job
  * counts — used to isolate driver-loop overhead changes from box variance.
  * `mode` is a free-form label echoed in the output lines. Usage:
  *   sbt "runMain graft.tools.PipeLab <groups> <reps> [label]"
  */
object PipeLab {
  def main(args: Array[String]): Unit = {
    val groups = if (args.length > 0) args(0).toInt else 1500
    val reps = if (args.length > 1) args(1).toInt else 3
    val mode = if (args.length > 2) args(2) else "default"
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    @volatile var jobs = 0
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    })
    try {
      val gen = SyntheticCorpus.generate(spark,
        SyntheticCorpus.GenConfig(groups = groups)).cache()
      val images = SyntheticCorpus.imagesOf(gen)
      images.count()
      (1 to reps).foreach { i =>
        jobs = 0
        val t0 = System.nanoTime()
        val res = Pipeline.run(spark, images, GraftConfig(seed = 7L))
        res.assign.count()
        val sec = (System.nanoTime() - t0) / 1e9
        org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
        val phases = res.stats.map(s =>
          f"${s.phase}@${s.macroRound}=${s.seconds}%.2f").mkString(" ")
        println(f"[pipelab] mode=$mode iter=$i wall=$sec%.2f jobs=$jobs  $phases")
        res.features.unpersist()
        res.captions.unpersist()
        org.apache.spark.graft.ShuffleRetirement
          .retireAllExcept(spark.sparkContext, Set.empty)
      }
      gen.unpersist()
    } finally spark.stop()
  }
}
