package perfbench

import scala.collection.mutable

/** Minimal JSON rendering for the result line and the span file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Seq[(String, Any)] @unchecked => obj(m)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")
}

/** Operations attempted and failed, checks, and metrics of one run. An
  * operation is one timed call into the engine or one output check; a
  * failed operation is never timed. */
final class Report {
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def has(name: String): Boolean = metrics.contains(name)

  /** Runs one operation; an exception counts as a failure and yields None. */
  def attempt[A](what: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Exception =>
        failures += s"$what: ${e.toString.takeWhile(_ != '\n').take(300)}"
        System.err.println(s"[perfbench] FAILED $what")
        e.printStackTrace()
        None
    }
  }

  def check(what: String, ok: Boolean, detail: => String): Unit = {
    attempted += 1
    if (!ok) {
      failures += s"$what: $detail"
      System.err.println(s"[perfbench] CHECK FAILED $what: $detail")
    }
  }

  /** Keeps only the metrics with these names. */
  def retain(names: Set[String]): Unit = metrics.filterInPlace((k, _) => names.contains(k))

  def failed: Int = failures.size
  def correct: Boolean = failures.isEmpty

  def json: String = Json.obj(Seq(
    "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
    "metrics" -> metrics.toSeq.map { case (k, (v, u)) => k -> Seq("value" -> v, "unit" -> u) }))

  /** Human-readable lines for stderr: every metric by name and unit. */
  def table: String = (metrics.toSeq.map { case (k, (v, u)) => f"  $k%-34s $v%.6f $u" } ++
    failures.map("  FAILED " + _)).mkString("\n")
}
