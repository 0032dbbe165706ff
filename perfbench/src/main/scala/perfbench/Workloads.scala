package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.perfbench.SparkCounters
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

import graft.SparkEntry
import graft.cluster.{CheckpointedPipeline, ConnectedComponents, Pipeline}
import graft.eval.Metrics
import graft.feat.MinHash
import graft.gen.SyntheticCorpus
import graft.io.TableIO
import graft.lsh.{Banding, VerifyPairs}
import graft.model.{GenRow, GraftConfig}

import Main.{median, percentile, seconds}

/** The two workloads. Both are closed loops with one client: the next call
  * is issued only after the previous one returned, until `--seconds` have
  * passed since the first call. The untraced run reports the end-to-end
  * metrics; the traced run wraps every call into the engine in a span and
  * adds the calls that only the per-layer metrics need. */
final class Workloads(spark: SparkSession, a: Main.Args, report: Report,
                      tracer: Option[Tracer], expected: Expected) {

  private val sc = spark.sparkContext
  private val mb = 1024.0 * 1024.0
  private val cfg = GraftConfig(seed = 7L)

  private def layer[A](name: String)(body: => A): A = tracer match {
    case Some(t) => t.span(name)(body)
    case None => body
  }

  private def traced(f: Tracer => Unit): Unit = tracer.foreach(f)

  /** Wall seconds and JVM CPU seconds of one call. */
  private def timed[A](body: => A): Timed[A] = {
    val t = System.nanoTime()
    val c = Workloads.processCpuNanos
    val r = body
    Timed(seconds(t), (Workloads.processCpuNanos - c) / 1e9, r)
  }

  /** Runs `body` [[Main.SetupReps]] times and keeps the last result; the
    * earlier ones are released with `release`. Returns the result and the
    * median CPU seconds of one repetition. */
  private def setup[A](name: String, release: A => Unit)(body: => A): (A, Double) = {
    val reps = ArrayBuffer.empty[Timed[A]]
    (1 to Main.SetupReps).foreach { _ =>
      reps.lastOption.foreach(r => release(r.result))
      reps += timed(layer(name)(body))
    }
    (reps.last.result, median(reps.map(_.cpu).toSeq))
  }

  /** Closed loop: issues `op` until `--seconds` have passed since the first
    * call or a call fails. */
  private def loop[A](op: => Option[A]): Seq[A] = {
    val out = ArrayBuffer.empty[A]
    val start = System.nanoTime()
    var next = true
    while (next && (out.isEmpty || seconds(start) < a.seconds)) op match {
      case Some(r) => out += r
      case None => next = false
    }
    out.toSeq
  }

  /** The seed's planted corpus, restricted to the first [[Workloads.PerSize]]
    * groups of each copy count. Every seed then yields the same group-size
    * histogram, so the same row count and about the same number of
    * duplicate pairs; only the contents differ. Copy counts come from a
    * fast-payload pass, which draws the same counts without encoding images.
    * With `mega > 0`, group 0 is kept and holds a mega group of that many
    * copies, and payloads are fast too: encoding the mega group would take
    * most of the traced run, and the layer probe reads only captions and
    * pHashes. */
  private def corpus(mega: Int): Dataset[GenRow] = {
    import spark.implicits._
    val sizes = SyntheticCorpus.generate(spark, SyntheticCorpus.GenConfig(
        groups = Workloads.MaxGroups, seed = a.seed, fastPayload = true))
      .groupBy("true_cluster_id").count().as[(Long, Long)].collect().sortBy(_._1)
    val keep = sizes.groupBy(_._2).values.flatMap(_.take(Workloads.PerSize).map(_._1)).toSet ++
      (if (mega > 0) Set(0L) else Set.empty[Long])
    val g = SyntheticCorpus.generate(spark, SyntheticCorpus.GenConfig(
        groups = keep.max.toInt + 1, seed = a.seed, megaGroupRows = mega,
        fastPayload = mega > 0))
      .where(col("true_cluster_id").isin(keep.toSeq: _*)).cache()
    g.count()
    g
  }

  private def release(r: Pipeline.Result): Unit = {
    r.features.unpersist()
    r.captions.unpersist()
    org.apache.spark.graft.ShuffleRetirement.retireAllExcept(sc, Set.empty)
  }

  private def cachedBytes: Long = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** `planted`: `Pipeline.run` on the planted corpus. */
  def planted(sessionCpu: Double): Unit = {
    val (gen, genCpu) = setup[Dataset[GenRow]]("gen.SyntheticCorpus.generate", _.unpersist()) {
      corpus(0)
    }
    val images = SyntheticCorpus.imagesOf(gen)
    val n = gen.count()
    report.metric("setup_s", sessionCpu + genCpu, "s")

    val shuffle = ArrayBuffer.empty[Double]
    var cacheMb = 0.0
    var last: Option[Pipeline.Result] = None
    val runs = loop {
      last.foreach(release)
      val mark = SparkCounters.lastStageId(sc)
      val run = report.attempt("Pipeline.run") {
        timed {
          layer("cluster.Pipeline.run") {
            val r = Pipeline.run(spark, images, cfg)
            r.assign.count()
            r
          }
        }
      }
      run.foreach { _ =>
        cacheMb = cachedBytes / mb
        shuffle += SparkCounters.shuffleWriteBytesAfter(sc, mark) / mb
      }
      last = run.map(_.result)
      run
    }
    if (runs.nonEmpty) {
      report.metric("job_cpu_s", median(runs.map(_.cpu)), "s")
      report.metric("shuffle_write_mb", median(shuffle.toSeq), "MB")
      val res = runs.last.result
      report.attempt("Metrics.evaluate") {
        layer("eval.Metrics.evaluate") {
          Metrics.evaluate(spark, res.assign, SyntheticCorpus.truthOf(gen))
        }
      }.foreach { m =>
        report.metric("dup_pair_recall", m.dupPairRecall, "ratio")
        report.metric("dup_pair_precision", m.dupPairPrecision, "ratio")
        report.check("every row assigned", m.n == n, s"${m.n} of $n rows assigned")
        report.check("recall", m.dupPairRecall >= expected.plantedMinRecall,
          s"dup-pair recall ${m.dupPairRecall} < ${expected.plantedMinRecall}")
        report.check("precision", m.dupPairPrecision == expected.plantedPrecision,
          s"dup-pair precision ${m.dupPairPrecision} != ${expected.plantedPrecision}")
      }
      traced { t =>
        report.metric("trace.job_cpu_s", median(runs.map(_.cpu)), "s")
        pipelineLayers(t, res, runs.last.wall, cacheMb)
        val e = t.last("eval.Metrics.evaluate")
        report.metric("eval.evaluate_s", t.seconds(e), "s")
        report.metric("eval.jobs", t.counts(e).jobs.toDouble, "count")
      }
    }
    last.foreach(release)

    traced { t =>
      report.metric("gen.generate_s", t.seconds(t.last("gen.SyntheticCorpus.generate")), "s")
      probe(t, images, n, "")
      resume(t, images)
      gen.unpersist()
      val skew = layer("gen.SyntheticCorpus.generate[skew]")(corpus(Workloads.MegaRows))
      probe(t, SyntheticCorpus.imagesOf(skew), skew.count(), "skew.")
      skew.unpersist()
      report.metric("trace.drain_s", t.drainSeconds, "s")
    }
  }

  private def pipelineLayers(t: Tracer, res: Pipeline.Result, wall: Double, cacheMb: Double): Unit = {
    val s = t.last("cluster.Pipeline.run")
    val c = t.counts(s)
    val phases = res.stats.map(_.seconds)
    report.metric("pipeline.wall_s", wall, "s")
    report.metric("pipeline.featurize_cache_s", wall - phases.sum, "s")
    report.metric("pipeline.round0_s", phases.head, "s")
    report.metric("pipeline.macro_s", phases.tail.sum, "s")
    report.metric("pipeline.round0_edges", res.stats.head.verifiedPairs.toDouble, "count")
    report.metric("pipeline.passes", (res.stats.size - 1).toDouble, "count")
    report.metric("pipeline.jobs", c.jobs.toDouble, "count")
    report.metric("pipeline.stages", c.stages.toDouble, "count")
    report.metric("pipeline.task_s", c.taskMs / 1e3, "s")
    report.metric("pipeline.shuffle_write_mb", c.shuffleWriteBytes / mb, "MB")
    report.metric("pipeline.spill_mb", c.spillBytes / mb, "MB")
    report.metric("pipeline.peak_scratch_mb", t.peakScratchBytes(s) / mb, "MB")
    report.metric("pipeline.cache_mb", cacheMb, "MB")
  }

  /** Layer probe: one call each into featurize, banding (round 0), verify
    * and connected components, on the corpus `images` of `n` rows. */
  private def probe(t: Tracer, images: DataFrame, n: Long, prefix: String): Unit = {
    val feats = layer("feat.MinHash.featurize") {
      val f = MinHash.featurize(spark, images, cfg).toDF()
        .select("row_id", "minhash", "phash", "caption").persist()
      f.count()
      f
    }
    val cand = layer("lsh.Banding.candidatePairs") {
      val c = Banding.candidatePairs(feats, cfg, 0).persist()
      c.count()
      c
    }
    val verified = layer("lsh.VerifyPairs.verify") {
      val v = VerifyPairs.verify(cand, feats, feats.select("row_id", "caption"), cfg.q,
        cfg.sdHigh, cfg.sdLow, cfg.distanceThreshold, cfg.hammingThreshold, cfg.minLcs).persist()
      v.count()
      v
    }
    val comps = layer("cluster.ConnectedComponents.components") {
      val c = ConnectedComponents.components(spark, verified)
      c.count()
      c
    }
    val nCand = cand.count()
    val nVerified = verified.count()
    // the driver fast path answers with a local relation; the star loop
    // with a checkpointed distributed one
    val starLoop = comps.queryExecution.analyzed.collectFirst { case l: LocalRelation => l }.isEmpty
    val f = t.last("feat.MinHash.featurize")
    val band = t.last("lsh.Banding.candidatePairs")
    val ver = t.last("lsh.VerifyPairs.verify")
    val cc = t.last("cluster.ConnectedComponents.components")
    if (prefix.isEmpty) {
      report.metric("feat.featurize_s", t.seconds(f), "s")
      report.metric("feat.rows_per_s", n / t.seconds(f), "1/s")
      report.metric("lsh.band_s", t.seconds(band), "s")
      report.metric("lsh.band_shuffle_write_mb", t.counts(band).shuffleWriteBytes / mb, "MB")
      report.metric("lsh.verify_yield", nVerified.toDouble / math.max(1L, nCand), "ratio")
      report.metric("lsh.verify_s", t.seconds(ver), "s")
      report.metric("lsh.verify_shuffle_write_mb", t.counts(ver).shuffleWriteBytes / mb, "MB")
    }
    report.metric(s"${prefix}lsh.candidate_pairs", nCand.toDouble, "count")
    report.metric(s"${prefix}lsh.verified_pairs", nVerified.toDouble, "count")
    report.metric(s"${prefix}cc.components_s", t.seconds(cc), "s")
    report.metric(s"${prefix}cc.jobs", t.counts(cc).jobs.toDouble, "count")
    report.metric(s"${prefix}cc.star_loop", if (starLoop) 1.0 else 0.0, "count")
    Seq(comps, verified, cand, feats).foreach(_.unpersist())
    org.apache.spark.graft.ShuffleRetirement.retireAllExcept(sc, Set.empty)
  }

  /** Resume path: write the corpus as a partitioned table, run the
    * checkpointed pipeline cold, drop the ledger entries a kill during the
    * rounds would leave missing, run it again and compare the clusterings. */
  private def resume(t: Tracer, images: DataFrame): Unit = {
    val table = a.work.resolve("images").toString
    val ckpt = a.work.resolve("ckpt").toString
    layer("io.TableIO.writeImages")(TableIO.writeImages(images, table, Workloads.TableParts))
    def run(name: String): Option[(Set[Set[Long]], CheckpointedPipeline.ResumeReport)] =
      report.attempt(name) {
        layer(name) {
          val (res, rr) = CheckpointedPipeline.run(spark, table, ckpt, cfg)
          val sets = Workloads.partition(res.assign)
          release(res)
          (sets, rr)
        }
      }
    val cold = run("cluster.CheckpointedPipeline.run")
    layer("io.TableIO.dropEntry") {
      TableIO.dropEntry(ckpt, "features_3")
      TableIO.completedKeys(ckpt).filter(_.startsWith("round_")).foreach(TableIO.dropEntry(ckpt, _))
    }
    val resumed = run("cluster.CheckpointedPipeline.run[resume]")
    for ((coldSets, _) <- cold; (resumedSets, rr) <- resumed) {
      report.check("resume clustering", coldSets == resumedSets,
        s"${coldSets.size} clusters cold, ${resumedSets.size} after resume")
      val c = t.last("cluster.CheckpointedPipeline.run")
      val r = t.last("cluster.CheckpointedPipeline.run[resume]")
      val (cc, rc) = (t.counts(c), t.counts(r))
      report.metric("io.write_images_s", t.seconds(t.last("io.TableIO.writeImages")), "s")
      report.metric("ckpt.cold_s", t.seconds(c), "s")
      report.metric("ckpt.resume_s", t.seconds(r), "s")
      report.metric("ckpt.jobs", (cc.jobs + rc.jobs).toDouble, "count")
      report.metric("ckpt.bytes_written_mb", (cc.outputBytes + rc.outputBytes) / mb, "MB")
      report.metric("ckpt.features_computed", rr.featuresComputed.size.toDouble, "count")
      report.metric("ckpt.rounds_computed", rr.roundsComputed.size.toDouble, "count")
    }
  }

  /** `queries`: passes over the `graft.Bench` headline queries in an order
    * drawn from the seed, on tables written at set-up. */
  def queries(sessionCpu: Double): Unit = {
    val dir = a.work.resolve("tables").toString
    val (_, genCpu) = setup[Unit]("gen.QueryTables.write", _ => ()) {
      QueryTables.write(spark, dir)
    }
    report.metric("setup_s", sessionCpu + genCpu, "s")
    val order = new scala.util.Random(a.seed).shuffle(graft.Bench.headline)
    val perQuery = ArrayBuffer.empty[(String, Double)]
    val shuffle = ArrayBuffer.empty[Double]
    var dupPairStats: Option[(Double, Double)] = None
    // a pass's wall and CPU are the sums over its query calls
    val passes = loop {
      val mark = SparkCounters.lastStageId(sc)
      val calls = order.map { q =>
        val call = report.attempt(q) {
          timed {
            layer(s"query.$q") {
              val df = SparkEntry.queries(q)(spark, dir)
              (df, df.count())
            }
          }
        }
        call.foreach { c =>
          val (df, rows) = c.result
          perQuery += ((q, c.wall))
          if (q == "m6_dup_pair_stats") {
            val r = df.head()
            dupPairStats = Some((r.getDouble(0), r.getDouble(1)))
          }
          report.check(s"$q rows", expected.queryRows.get(q).contains(rows),
            s"$rows rows, recorded ${expected.queryRows.get(q)}")
        }
        call
      }
      shuffle += SparkCounters.shuffleWriteBytesAfter(sc, mark) / mb
      if (calls.forall(_.isDefined))
        Some(Timed(calls.map(_.get.wall).sum, calls.map(_.get.cpu).sum, ()))
      else None
    }
    if (passes.nonEmpty) {
      report.metric("job_cpu_s", median(passes.map(_.cpu)), "s")
      report.metric("shuffle_write_mb", median(shuffle.toSeq), "MB")
      dupPairStats.foreach { case (recall, precision) =>
        report.metric("dup_pair_recall", recall, "ratio")
        report.metric("dup_pair_precision", precision, "ratio")
      }
    }
    traced { t =>
      report.metric("gen.generate_s", t.seconds(t.last("gen.QueryTables.write")), "s")
      if (passes.nonEmpty) {
        report.metric("trace.job_cpu_s", median(passes.map(_.cpu)), "s")
        report.metric("query.pass_s", median(passes.map(_.wall)), "s")
      }
      if (perQuery.nonEmpty) report.metric("query.p90_s", percentile(perQuery.map(_._2).toSeq, 0.9), "s")
      graft.Bench.headline.foreach { q =>
        val times = perQuery.collect { case (`q`, s) => s }.toSeq
        if (times.nonEmpty) {
          report.metric(s"query.$q.p50_s", median(times), "s")
          report.metric(s"query.$q.jobs", t.counts(t.last(s"query.$q")).jobs.toDouble, "count")
        }
      }
      report.metric("trace.drain_s", t.drainSeconds, "s")
    }
  }
}

/** One timed call. */
final case class Timed[A](wall: Double, cpu: Double, result: A)

object Workloads {
  /** Groups kept per copy count (1 to 20): 60 groups, 630 rows. Small
    * enough for one cold `Pipeline.run` to fit the run budget; the call is
    * bound by per-job latency. */
  val PerSize = 3
  /** Groups whose copy counts are drawn; each count has about 15 of them. */
  val MaxGroups = 300
  /** Copies in the skew probe's mega group: enough for its verified round-0
    * pairs to exceed `ConnectedComponents.DefaultDriverUnionFindMaxEdges`. */
  val MegaRows = 12000
  val TableParts = 8

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of all JVM threads; time the host takes from the VM is not in it. */
  def processCpuNanos: Long = os.getProcessCpuTime

  /** A clustering as the set of its clusters' row-id sets. */
  def partition(assign: DataFrame): Set[Set[Long]] = {
    import assign.sparkSession.implicits._
    assign.select("row_id", "cluster_id").as[(Long, Long)].collect()
      .groupBy(_._2).values.map(_.map(_._1).toSet).toSet
  }
}
