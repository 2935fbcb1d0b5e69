package perfbench

import scala.collection.mutable

/** Order statistics and interval arithmetic used by the metrics. */
object Stats {
  /** Linear-interpolation percentile (numpy's default), p in [0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = (s.size - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The lower of the two middle values for an even count. Over a run's
    * passes, where the first timed pass may still run colder code, it
    * keeps runs of two passes comparable with runs of three. */
  def lowerMedian(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    xs.sorted.apply((xs.size - 1) / 2)
  }

  /** The highest of `candidates` (percent) that leaves at least
    * `minBeyond` of `n` samples above it; None if even the lowest does not. */
  def tailPercentile(n: Int, candidates: Seq[Double] = Seq(99.9, 99, 95, 90, 75, 50),
                     minBeyond: Int = 10): Option[Double] =
    candidates.sorted.reverse.find(p => n * (100.0 - p) / 100.0 >= minBeyond - 1e-9)

  /** Total length covered by the union of half-open [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** `[lo, hi)` minus the union of `iv` clipped to it. */
  def uncovered(lo: Long, hi: Long, iv: Seq[(Long, Long)]): Long =
    (hi - lo) - unionLength(iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) })
}

/** One traced call into a layer. Times are epoch milliseconds with
  * sub-millisecond precision, so they compare with Spark's event times. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
                      start: Double, end: Double) {
  def dur: Double = end - start
}

/** A finished Spark task as the listener saw it (times in epoch ms). */
final case class TaskRec(jobGroup: Option[String], jobStart: Long, finish: Long,
                         runMs: Long, cpuNs: Long, gcMs: Long, shuffleWriteBytes: Long,
                         spillBytes: Long, inputRecords: Long)

/** A finished Spark job: its group and start time (epoch ms). */
final case class JobRec(jobGroup: Option[String], start: Long)

/** A completed stage: submission and completion times, task count. */
final case class StageRec(submitted: Long, completed: Long, tasks: Int)

/** Planning phases of one executed query (epoch ms). */
final case class PlanRec(start: Long, planMs: Long)

/** Spans kept in memory, nested by a stack on the calling thread. Each
  * span sets the Spark job group to its id, so jobs started inside it
  * can be attributed to it. */
final class Tracer(setGroup: Option[String] => Unit) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String, String, Double)] = Nil
  private var nextId = 1
  private val counts = mutable.Map.empty[(Int, String), Long]

  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Epoch ms from the monotonic clock, anchored once to the wall clock. */
  def clock: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def span[A](layer: String, name: String)(body: => A): A = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.fold(0)(_._1)
    stack = (id, layer, name, clock) :: stack
    setGroup(Some(Tracer.group(id)))
    try body
    finally {
      val (_, l, n, s) = stack.head
      stack = stack.tail
      spans += Span(id, parent, l, n, s, clock)
      setGroup(stack.headOption.map(x => Tracer.group(x._1)))
    }
  }

  /** Runs the benchmark's own work (persisting and counting a layer's
    * output) under [[Tracer.BenchGroup]], so its jobs are attributed to
    * no span, then restores the open span's group. */
  def bench[A](body: => A): A = {
    setGroup(Some(Tracer.BenchGroup))
    try body finally setGroup(stack.headOption.map(x => Tracer.group(x._1)))
  }

  /** Adds `n` to counter `name` of the innermost open span. */
  def add(name: String, n: Long): Unit =
    stack.headOption.foreach(x => counts((x._1, name)) = counts.getOrElse((x._1, name), 0L) + n)

  def result: Seq[Span] = spans.sortBy(_.id).toSeq
  def counters: Map[(Int, String), Long] = counts.toMap
}

object Tracer {
  val GroupPrefix = "perfbench-span-"
  /** The job group of the benchmark's own jobs inside a traced pass. */
  val BenchGroup = "perfbench-own"
  def group(id: Int): String = GroupPrefix + id
  def spanOf(group: Option[String]): Option[Int] =
    group.filter(_.startsWith(GroupPrefix)).map(_.stripPrefix(GroupPrefix).toInt)

  /** Self time of each span: its duration minus what its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ch = kids.getOrElse(s.id, Nil).map(c => (math.round(c.start * 1000), math.round(c.end * 1000)))
      s.id -> Stats.uncovered(math.round(s.start * 1000), math.round(s.end * 1000), ch) / 1000.0
    }.toMap
  }

  /** The innermost span open at time `t` (ms), if any. */
  def innermostAt(spans: Seq[Span], t: Double): Option[Span] =
    spans.filter(s => s.start <= t && t <= s.end).sortBy(s => s.end - s.start).headOption

  /** The span a job belongs to: the one named by its job group, or else
    * the innermost span open when it started (jobs submitted from pool
    * threads do not inherit the caller's group). */
  def owner(spans: Seq[Span], group: Option[String], start: Long): Option[Span] = {
    val byGroup = spanOf(group).flatMap(id => spans.find(_.id == id))
    byGroup.orElse(innermostAt(spans, start.toDouble))
  }

  /** Listener records grouped under the span each belongs to (see [[owner]]);
    * records outside every span, and the benchmark's own, are dropped. */
  def attribute[A](spans: Seq[Span], recs: Seq[A])(group: A => Option[String],
                                                   start: A => Long): Map[Int, Seq[A]] =
    recs.filterNot(r => group(r).contains(BenchGroup))
      .flatMap(r => owner(spans, group(r), start(r)).map(_.id -> r)).groupMap(_._1)(_._2)
}
