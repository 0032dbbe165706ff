package perfbench

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload planted|queries --seed N --seconds S
  * --trace 0|1 --work DIR --expected FILE`. Prints every end-to-end metric
  * (untraced) or every per-layer metric (traced) as the last stdout line.
  * Exits 1 when an operation or an output check failed. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, expected: Path)

  /** Set-up is repeated this many times per run; `setup_s` takes the median
    * repetition. */
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val report = new Report
    val spark = session(a.work)
    // CPU seconds since the JVM started: JVM and Spark session start-up
    val sessionCpu = Workloads.processCpuNanos / 1e9
    val tracer = if (a.trace) Some(new Tracer(spark.sparkContext, a.work.resolve("local"))) else None
    try {
      val w = new Workloads(spark, a, report, tracer, Expected.load(a.expected))
      def run(): Unit = a.workload match {
        case "planted" => w.planted(sessionCpu)
        case "queries" => w.queries(sessionCpu)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      // the root span's self time is the benchmark's own time between calls
      tracer.fold(run())(_.span(a.workload)(run()))
      tracer.foreach { t =>
        // end-to-end metrics are measured with tracing off
        PerLayer.fill(report)
        report.retain(PerLayer.catalog.map(_._1).toSet)
        t.write(a.work.getParent.resolve("spans").resolve(s"${a.workload}-seed${a.seed}.jsonl"))
      }
    } finally spark.stop()
    System.err.println(s"[perfbench] ${a.workload} seed=${a.seed} trace=${a.trace}\n${report.table}")
    println(report.json)
    sys.exit(if (report.correct) 0 else 1)
  }

  def seconds(since: Long): Double = (System.nanoTime() - since) / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }

  /** The session conf of `graft.Bench` on four cores, with scratch and
    * warehouse inside the run's work directory. */
  private def session(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath, Paths.get(need("expected")))
  }
}

/** Values the output checks compare against, recorded in `expected.json`. */
final case class Expected(plantedPrecision: Double, plantedMinRecall: Double,
                          queryRows: Map[String, Long])

object Expected {
  def load(file: Path): Expected = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(file.toFile)
    val rows = root.get("query_rows")
    val names = scala.jdk.CollectionConverters.IteratorHasAsScala(rows.fieldNames()).asScala
    Expected(root.get("planted_precision").asDouble(), root.get("planted_min_recall").asDouble(),
      names.map(n => n -> rows.get(n).asLong()).toMap)
  }
}

/** Per-layer metric names and units. Every traced run reports all of them;
  * a layer the workload never calls reports 0. */
object PerLayer {
  val catalog: Seq[(String, String)] = Seq(
    "gen.generate_s" -> "s",
    "feat.featurize_s" -> "s", "feat.rows_per_s" -> "1/s",
    "lsh.candidate_pairs" -> "count", "lsh.band_s" -> "s", "lsh.band_shuffle_write_mb" -> "MB",
    "lsh.verified_pairs" -> "count", "lsh.verify_yield" -> "ratio", "lsh.verify_s" -> "s",
    "lsh.verify_shuffle_write_mb" -> "MB",
    "cc.components_s" -> "s", "cc.jobs" -> "count", "cc.star_loop" -> "count",
    "pipeline.wall_s" -> "s", "pipeline.featurize_cache_s" -> "s", "pipeline.round0_s" -> "s",
    "pipeline.macro_s" -> "s", "pipeline.round0_edges" -> "count", "pipeline.passes" -> "count",
    "pipeline.jobs" -> "count", "pipeline.stages" -> "count", "pipeline.task_s" -> "s",
    "pipeline.shuffle_write_mb" -> "MB", "pipeline.spill_mb" -> "MB",
    "pipeline.peak_scratch_mb" -> "MB", "pipeline.cache_mb" -> "MB",
    "eval.evaluate_s" -> "s", "eval.jobs" -> "count",
    "io.write_images_s" -> "s",
    "ckpt.cold_s" -> "s", "ckpt.resume_s" -> "s", "ckpt.jobs" -> "count",
    "ckpt.bytes_written_mb" -> "MB", "ckpt.features_computed" -> "count",
    "ckpt.rounds_computed" -> "count",
    "skew.lsh.candidate_pairs" -> "count", "skew.lsh.verified_pairs" -> "count",
    "skew.cc.components_s" -> "s", "skew.cc.jobs" -> "count", "skew.cc.star_loop" -> "count",
    "query.pass_s" -> "s", "query.p90_s" -> "s",
    "trace.job_cpu_s" -> "s", "trace.drain_s" -> "s") ++
    graft.Bench.headline.flatMap(q => Seq(s"query.$q.p50_s" -> "s", s"query.$q.jobs" -> "count"))

  /** Reports 0 for every per-layer metric the run did not measure. */
  def fill(report: Report): Unit =
    catalog.foreach { case (name, unit) => if (!report.has(name)) report.metric(name, 0.0, unit) }
}
