package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class BenchLogicSpec extends AnyFunSuite {

  test("p90 is reportable only with ten samples beyond it") {
    assert(Stats.samplesFor(0.9) == 100)
    assert(Stats.beyond(100, 0.9) == 10)
    assert(Stats.beyond(99, 0.9) == 9)
    assert(Stats.samplesFor(0.5) == 20)
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 0.9) == 90.0)
    assert(xs.count(_ > Stats.percentile(xs, 0.9)) == Stats.MinTail)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
  }

  test("self time subtracts overlapping children once") {
    val parent = Span(0, "p", -1, 0, 100)
    val kids = Seq(Span(1, "a", 0, 10, 40), Span(2, "b", 0, 30, 60), Span(3, "c", 0, 90, 120))
    // children cover [10, 60) and [90, 100) of the parent: 60 ms
    assert(Trace.selfMs(parent, kids) == 40.0)
    assert(Trace.selfMs(parent, Nil) == 100.0)
    assert(Trace.unionMs(Seq((0.0, 10.0), (5.0, 8.0), (20.0, 25.0))) == 15.0)
  }

  private def job(id: Int, group: String, exec: Long, s: Double, e: Double, run: Double) =
    JobRec(id, group, exec, s, e, 1, 2, run, run / 2, 0, 100, 10)

  test("jobs are attributed to the span whose group they carry, then by execution") {
    val g = Trace.GroupPrefix
    val jobs = Seq(
      job(0, g + "1", 7, 10, 20, 20), job(1, g + "1", 7, 20, 30, 10),
      job(2, g + "1", 8, 40, 50, 40), job(3, g + "2", 9, 60, 70, 10),
      job(4, null, -1, 10, 90, 5), job(5, "someone-else", 3, 0, 5, 5))
    val by = Trace.attribute(jobs)
    assert(by.keySet == Set(1, 2))
    assert(by(1).map { case (e, js) => e -> js.map(_.id) } == Map(7L -> Seq(0, 1), 8L -> Seq(2)))
    assert(by(2).keySet == Set(9L))

    val spans = Seq(Span(1, "sources.x", 0, 5, 55), Span(2, "operators.y", 0, 55, 75),
      Span(0, "root", -1, 0, 80))
    val sum = Trace.summarize(spans, jobs, Map(7L -> 3.0, 8L -> 4.0, 9L -> 1.0))
    val x = sum("sources.x")
    assert(x("jobs") == 3 && x("tasks") == 6 && x("shuffle_bytes") == 300)
    assert(x("plan_ms") == 7.0)
    // task run 70 ms over 30 ms of job wall
    assert(x("parallelism") == 70.0 / 30.0)
    // any job covers span time, its own or not: only [5, 10) is uncovered
    assert(x("driver_ms") == 5.0)
    assert(sum("root")("self_ms") == 5.0 + 5.0)
    assert(sum("root")("jobs") == 0.0)
  }
}
