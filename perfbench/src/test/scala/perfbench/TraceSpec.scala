package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  test("union of intervals counts overlaps once and ignores empty intervals") {
    assert(Stats.unionLength(Nil) == 0)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20)
    assert(Stats.unionLength(Seq((0L, 100L), (10L, 20L), (30L, 40L))) == 100) // nested
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 3L))) == 0)
    assert(Stats.unionLength(Seq((10L, 20L), (0L, 10L))) == 20) // touching, unsorted
  }

  test("driver gap is the pass wall minus stage intervals clipped to the pass") {
    // pass [100, 200): stages cover [90, 120) -> 20 inside, [150, 160), [155, 170)
    // -> 20, and [190, 250) -> 10; the rest of the wall is the gap
    val stages = Seq((90L, 120L), (150L, 160L), (155L, 170L), (190L, 250L))
    assert(Stats.uncovered(100, 200, stages) == 100 - 20 - 20 - 10)
    assert(Stats.uncovered(100, 200, Nil) == 100)
    assert(Stats.uncovered(100, 200, Seq((300L, 400L))) == 100)
  }

  test("span self time subtracts the union of its direct children only") {
    val spans = Seq(
      Span(1, 0, "jobs", "job", 0.0, 100.0),
      Span(2, 1, "tables", "load", 10.0, 30.0),
      Span(3, 1, "ops", "op", 20.0, 60.0), // overlaps span 2 by 10 ms
      Span(4, 3, "operators", "inner", 25.0, 55.0))
    val self = Tracer.selfTimes(spans)
    assert(self(1) == 100.0 - 50.0)
    assert(self(2) == 20.0)
    assert(self(3) == 40.0 - 30.0)
    assert(self(4) == 30.0)
  }

  test("tail percentile is the highest one with at least ten samples beyond it") {
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(99).contains(75.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(19).isEmpty)
  }

  test("percentile interpolates linearly between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.median(xs) == 2.5)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 100) == 4.0)
    assert(math.abs(Stats.percentile(xs, 90) - 3.7) < 1e-12)
    assert(Stats.lowerMedian(xs) == 2.0)
    assert(Stats.lowerMedian(Seq(5.0, 3.0, 4.0)) == 4.0)
    assert(Stats.lowerMedian(Seq(7.0)) == 7.0)
  }

  test("tracer nests spans, sets the job group of the open span and restores it") {
    val groups = scala.collection.mutable.ArrayBuffer.empty[Option[String]]
    val t = new Tracer(g => groups += g)
    t.span("jobs", "outer") {
      t.add("rows_out", 3)
      t.span("ops", "inner") { t.add("rows_out", 5) }
      t.add("rows_out", 4)
    }
    val Seq(outer, inner) = t.result
    assert(outer.id == 1 && outer.parent == 0 && inner.parent == 1)
    assert(inner.start >= outer.start && inner.end <= outer.end)
    assert(groups.toSeq == Seq(Some(Tracer.group(1)), Some(Tracer.group(2)),
      Some(Tracer.group(1)), None))
    assert(t.counters == Map((1, "rows_out") -> 7L, (2, "rows_out") -> 5L))
  }

  test("listener counters go to the span named by the job group, else the innermost open span") {
    val spans = Seq(
      Span(1, 0, "jobs", "job", 0.0, 100.0),
      Span(2, 1, "operators", "Dedup.x", 10.0, 50.0),
      Span(3, 1, "sources", "write", 60.0, 90.0))
    // the group names span 2 even though the job starts inside span 3's window
    assert(Tracer.owner(spans, Some(Tracer.group(2)), 70).map(_.id).contains(2))
    // no group (a job submitted from a pool thread): innermost span open at its start
    assert(Tracer.owner(spans, None, 70).map(_.id).contains(3))
    assert(Tracer.owner(spans, None, 55).map(_.id).contains(1))
    assert(Tracer.owner(spans, Some("someone-else"), 20).map(_.id).contains(2))
    assert(Tracer.owner(spans, None, 150).isEmpty)

    def task(g: Option[String], jobStart: Long, cpuNs: Long) =
      TaskRec(g, jobStart, jobStart + 1, 1, cpuNs, 0, 0, 0, 0)
    val tasks = Seq(task(Some(Tracer.group(2)), 70, 5), task(Some(Tracer.group(2)), 20, 7),
      task(None, 65, 11), task(None, 5, 13), task(None, 150, 17))
    val cpuBySpan = Tracer.attribute(spans, tasks)(_.jobGroup, _.jobStart)
      .map { case (id, ts) => id -> ts.map(_.cpuNs).sum }
    assert(cpuBySpan == Map(2 -> 12L, 3 -> 11L, 1 -> 13L)) // the task outside every span is dropped
    // the benchmark's own jobs (persist and count) go to no span
    val own = Tracer.attribute(spans, tasks :+ task(Some(Tracer.BenchGroup), 20, 19))(_.jobGroup, _.jobStart)
    assert(own.values.flatten.map(_.cpuNs).sum == 5 + 7 + 11 + 13)
  }

  test("the benchmark's own work runs under its group and restores the open span's") {
    val groups = scala.collection.mutable.ArrayBuffer.empty[Option[String]]
    val t = new Tracer(g => groups += g)
    t.span("operators", "x") { t.bench(()) }
    assert(groups.toSeq == Seq(Some(Tracer.group(1)), Some(Tracer.BenchGroup),
      Some(Tracer.group(1)), None))
  }
}
