package perfbench

import scala.collection.mutable

/** What every workload gets: its seed, the measuring time that sets how
  * many units of work run, whether this is the traced run, and a scratch
  * directory that is deleted when the run ends. */
final case class Ctx(seed: Long, seconds: Int, work: java.nio.file.Path,
    traced: Boolean) {
  def dir(name: String): String = work.resolve(name).toString
}

/** One completed operation: its latency, the work items it finished,
  * the check group it belongs to (a group's results are checked
  * together; a failed check fails all of its operations; -1: no later
  * check), whether it ran in the warm-up, and the latencies of its
  * parts, if it has any. */
final case class OpRec(op: String, ms: Double, items: Long, group: Int,
    traced: Boolean, warm: Boolean, parts: Seq[Double]) {
  /** The latencies the frequent-operation metrics count: one per part,
    * or the operation's own. */
  def latencies: Seq[Double] = if (parts.nonEmpty) parts else Seq(ms)
}

/** Closed-loop operation log with failure accounting: an operation that
  * throws or whose answer is wrong counts as attempted and failed and
  * never contributes a latency. */
final class OpLog(traceMode: Boolean) {
  private val recs = mutable.ArrayBuffer.empty[OpRec]
  private val seen = mutable.Map.empty[String, Int].withDefaultValue(0)
  private val parts = mutable.ArrayBuffer.empty[Double]
  var attempted = 0L
  var failed = 0L
  /** Set during the warm-up: its operations are checked and counted
    * like any other, but never traced and never timed. */
  var warming = false
  val errors: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  /** Run one operation. `body` returns (items done, answer correct). In
    * the traced run the occurrences of each kind of operation are traced
    * in the pattern T U U T, repeating, so that traced and untraced
    * latencies of the same operations can be compared without favouring
    * either side; a kind that occurs once is traced. */
  def op(name: String, group: Int = -1)(body: => (Long, Boolean)): Unit = {
    attempted += 1
    val traced = traceMode && !warming && Set(0, 3)(seen(name) % 4)
    if (!warming) seen(name) += 1
    Trace.on = traced
    parts.clear()
    val gc0 = if (traced) gcMs() else 0L
    val t0 = System.nanoTime()
    val res =
      try Right(Trace.request(name)(body))
      catch { case e: Exception => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    if (traced) Layer.sample("jvm.gc_ms", (gcMs() - gc0).toDouble)
    Trace.on = false
    res match {
      case Right((items, true)) => recs += OpRec(name, ms, items, group, traced, warming, parts.toList)
      case Right((_, false)) => fail(s"$name: wrong answer")
      case Left(e) => fail(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
  }

  /** Record the latency of one part of the running operation, such as
    * one query's catch-up in a live-book batch. */
  def part(ms: Double): Unit = parts += ms

  /** A later check found the results of `group` wrong: move its
    * operations from the timed records to the failures. */
  def failGroup(group: Int, why: String): Unit = {
    val bad = recs.filter(_.group == group)
    recs --= bad
    failed += bad.size
    errors += why
  }

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
  }

  private def fail(why: String): Unit = {
    failed += 1
    if (errors.size < 20) errors += why
  }

  /** The timed operations: every one outside the warm-up. */
  def records: Seq[OpRec] = recs.filterNot(_.warm).toSeq
  def untraced: Seq[OpRec] = records.filterNot(_.traced)
}

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]) of unsorted values. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest whole percentile with at least ten of `n` samples
    * above it; the median when there are fewer than twenty. */
  def tailPercentile(n: Int): Int = math.max(50, 100 * (n - 10) / math.max(n, 1))
}

/** Minimal JSON writer for the result lines. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ": " + apply(x) }
        .mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ", ", "]")
    case other => apply(other.toString)
  }
}
