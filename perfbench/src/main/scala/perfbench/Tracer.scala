package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.{Counts, GroupListener, SparkCounters}

/** Spans around the benchmark's calls into the engine. Each span runs its
  * Spark jobs under a job group of its own, so the listener's counts fold
  * into the span that caused them; a span's counts include its children's.
  * Spans stay in memory until [[write]]. One sampler thread polls the size
  * of `spark.local.dir` for the scratch peak of each span. */
final class Tracer(sc: SparkContext, scratchDir: Path) {
  import Tracer.Span

  private val listener = new GroupListener
  sc.addSparkListener(listener)
  private val spans = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private val t0 = System.nanoTime()
  /** Time the benchmark thread spent waiting for the listener bus. */
  var drainSeconds = 0.0
  private val sampler = new ScratchSampler(scratchDir)
  sampler.start()

  private def group(id: Int): String = s"perfbench-span-$id"

  def span[A](name: String)(body: => A): A = {
    val s = Span(spans.size, name, open.headOption.getOrElse(-1), System.nanoTime())
    s.scratchBase = ScratchSampler.bytes(scratchDir)
    spans += s
    open = s.id :: open
    sc.setJobGroup(group(s.id), name)
    try body
    finally {
      s.end = System.nanoTime()
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(group(p), spans(p).name)
        case None => sc.clearJobGroup()
      }
    }
  }

  private def children(id: Int): Seq[Span] = spans.toSeq.filter(_.parent == id)
  private def subtree(id: Int): Seq[Int] = id +: children(id).flatMap(c => subtree(c.id))

  /** The most recent span with this name. */
  def last(name: String): Span = spans.findLast(_.name == name).getOrElse(
    throw new NoSuchElementException(s"no span named $name"))

  def seconds(s: Span): Double = (s.end - s.start) / 1e9
  def selfSeconds(s: Span): Double = seconds(s) - children(s.id).map(seconds).sum

  /** Counts of the span and its descendants, after draining the bus. */
  def counts(s: Span): Counts = {
    val t = System.nanoTime()
    SparkCounters.drain(sc)
    drainSeconds += (System.nanoTime() - t) / 1e9
    subtree(s.id).map(i => listener.counts(group(i))).foldLeft(Counts())(_ + _)
  }

  def peakScratchBytes(s: Span): Long =
    math.max(0L, sampler.peak(s.start, s.end) - s.scratchBase)

  /** Stops the sampler and writes one JSON object per span. */
  def write(file: Path): Unit = {
    sampler.halt()
    val mb = 1024.0 * 1024.0
    val lines = spans.map { s =>
      val c = counts(s)
      Json.obj(Seq(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_s" -> (s.start - t0) / 1e9, "end_s" -> (s.end - t0) / 1e9,
        "self_s" -> selfSeconds(s), "jobs" -> c.jobs, "stages" -> c.stages,
        "task_s" -> c.taskMs / 1e3, "shuffle_read_mb" -> c.shuffleReadBytes / mb,
        "shuffle_write_mb" -> c.shuffleWriteBytes / mb, "spill_mb" -> c.spillBytes / mb,
        "output_mb" -> c.outputBytes / mb, "peak_scratch_mb" -> peakScratchBytes(s) / mb))
    }
    Files.createDirectories(file.getParent)
    Files.write(file, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, start: Long,
                        var end: Long = 0L, var scratchBase: Long = 0L)
}

/** Polls the total file size under a directory every few milliseconds and
  * keeps (time, bytes) samples for per-span peaks. */
final class ScratchSampler(dir: Path) extends Thread("perfbench-scratch-sampler") {
  setDaemon(true)
  private val samples = ArrayBuffer.empty[(Long, Long)]
  @volatile private var running = true

  override def run(): Unit = while (running) {
    val b = ScratchSampler.bytes(dir)
    samples.synchronized { samples += ((System.nanoTime(), b)) }
    Thread.sleep(20)
  }

  def peak(from: Long, to: Long): Long = samples.synchronized {
    samples.iterator.collect { case (t, b) if t >= from && t <= to => b }.foldLeft(0L)(math.max)
  }

  def halt(): Unit = { running = false; join() }
}

object ScratchSampler {
  def bytes(dir: Path): Long =
    if (!Files.isDirectory(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.map { p =>
        try if (Files.isRegularFile(p)) Files.size(p) else 0L
        catch { case _: java.io.IOException => 0L } // deleted while walking
      }.sum
      catch { case _: java.io.UncheckedIOException => 0L }
      finally s.close()
    }

}
