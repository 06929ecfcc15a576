package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own arithmetic: percentiles, driver time, job
  * attribution, the failed-operation share and top-k comparison. */
class ArithmeticSpec extends AnyFunSuite {

  test("percentile rule: the highest percentile with at least 10 samples beyond it") {
    assert(Stats.highestSupported(10).isEmpty)  // 5 beyond the median
    assert(Stats.highestSupported(19).isEmpty)  // 9 beyond the median
    assert(Stats.highestSupported(20).contains(50.0))
    assert(Stats.highestSupported(99).contains(50.0)) // 9 beyond p90
    assert(Stats.highestSupported(100).contains(90.0))
    assert(Stats.highestSupported(999).contains(90.0))
    assert(Stats.highestSupported(1000).contains(99.0))
    assert(Stats.highestSupported(10000).contains(99.9))
  }

  test("nearest-rank percentiles, medians and the stated sample count") {
    val xs = (1 to 100).map(_.toDouble).reverse
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.beyond(100, 90) == 10)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    val s = Stats.summarize(xs)
    assert(s == Stats.Summary(100, 50.5, Some(90.0), Some(90.0)))
    assert(s.describe("ms").contains("p90 90.000 ms") && s.describe("ms").contains("(n=100)"))
    assert(Stats.summarize(Seq(1.0, 2.0)).describe("ms").contains("no tail percentile"))
  }

  test("driver_ms is span wall minus the union of its (overlapping) job intervals") {
    val span = Span("s", 0, 100)
    val jobs = Seq(JobRec(1, 10, 30, Nil), JobRec(2, 20, 50, Nil), // overlap: [10, 50]
      JobRec(3, 60, 70, Nil), JobRec(4, 90, 120, Nil))               // clipped to [90, 100]
    assert(Attribution.unionLength(jobs.map(j => (j.startMs, j.endMs))) == 40 + 10 + 30)
    assert(Attribution.driverMs(span, jobs) == 100 - (40 + 10 + 10))
    assert(Attribution.driverMs(span, Nil) == 100)
    assert(Attribution.driverMs(span, Seq(JobRec(5, -5, 200, Nil))) == 0)
    assert(Attribution.unionLength(Seq((5L, 5L), (7L, 6L))) == 0)
  }

  test("jobs are attributed to the span open when they started") {
    val spans = IndexedSeq(Span("a", 0, 10), Span("b", 10, 20), Span("c", 25, 30))
    assert(Attribution.spanAt(5, spans).contains(0))
    assert(Attribution.spanAt(10, spans).contains(1)) // shared boundary: the later span
    assert(Attribution.spanAt(22, spans).isEmpty)     // between spans: no one's job
    assert(Attribution.spanAt(31, spans).isEmpty)

    val jobs = Seq(JobRec(1, 1, 4, Seq(1)), JobRec(2, 12, 18, Seq(2, 3)), JobRec(3, 22, 24, Seq(4)))
    val tasks = Seq(
      TaskRec(1, launchMs = 2, cpuNs = 1000000, shuffleWriteBytes = 5, ioBytes = 7, spillBytes = 0),
      TaskRec(2, launchMs = 14, cpuNs = 2000000, shuffleWriteBytes = 0, ioBytes = 1, spillBytes = 3),
      TaskRec(3, launchMs = 15, cpuNs = 3000000, shuffleWriteBytes = 1, ioBytes = 0, spillBytes = 0),
      TaskRec(4, launchMs = 23, cpuNs = 9000000, shuffleWriteBytes = 9, ioBytes = 9, spillBytes = 9))
    val submit = Map(1 -> 1L, 2 -> 12L, 3 -> 13L, 4 -> 22L)
    val agg = Attribution.aggregate(spans :+ Span("a", 40, 50), jobs, tasks, submit)
    assert(agg("a") == SpanCounters(calls = 2, jobs = 1, tasks = 1, wallMs = 20, driverMs = 17,
      schedWaitMs = 1, execCpuMs = 1.0, shuffleBytes = 5, ioBytes = 7, spillBytes = 0))
    assert(agg("b") == SpanCounters(calls = 1, jobs = 1, tasks = 2, wallMs = 10, driverMs = 4,
      schedWaitMs = 2 + 2, execCpuMs = 5.0, shuffleBytes = 1, ioBytes = 1, spillBytes = 3))
    assert(agg("c") == SpanCounters(calls = 1, wallMs = 5, driverMs = 5)) // job 3 started between spans
  }

  test("failed_ops_frac counts each operation that threw or answered wrong once") {
    val l = new Ledger
    val (a, ra) = l.attempt(1)
    val (b, rb) = l.attempt[Int](throw new IllegalStateException("boom"))
    val (c, _) = l.attempt(3)
    assert(ra.contains(1) && rb.isEmpty)
    assert(l.attempted == 3 && l.failed == 1)
    l.markWrong(b, "also wrong") // threw and wrong: still one failure
    l.markWrong(c, "wrong answer")
    assert(l.failed == 2)
    l.failCheck("density") // a check of no single op: one more op, failed
    assert(l.attempted == 4 && l.failed == 3)
    assert(l.failedFrac == 0.75)
    assert(l.messages.exists(_.contains("boom")))
    assert(Stats.failedFrac(10, 0) == 0.0)
    intercept[IllegalArgumentException](Stats.failedFrac(0, 0))
    intercept[IllegalArgumentException](l.markWrong(99, "no such op"))
    assert(a == 0)
  }

  test("rank-identical: scores up to re-association, the same docs in each tie") {
    val a = Seq(5L -> 12.666123927866728, 9L -> 8.25, 2L -> 8.25, 7L -> 6.0)
    assert(Stats.rankIdentical(a, a))
    // the same sum in another order: 2 ulps apart
    val reassoc = a.updated(0, 5L -> Math.nextDown(Math.nextDown(a.head._2)))
    assert(Stats.rankIdentical(a, reassoc))
    // tied docs in either order
    assert(Stats.rankIdentical(a, Seq(a(0), a(2), a(1), a(3))))
    // another doc at a rank, a score off by more than re-association, a
    // missing row, or a tie that holds other docs
    assert(!Stats.rankIdentical(a, a.updated(3, 8L -> 6.0)))
    assert(!Stats.rankIdentical(a, a.updated(3, 7L -> 6.0 * (1 + 1e-9))))
    assert(!Stats.rankIdentical(a, a.take(3)))
    assert(!Stats.rankIdentical(a, a.updated(2, 3L -> 8.25)))
  }

  test("per-layer names: 12 spans x 7 counters plus the storage, query and analysis metrics") {
    val names = BenchMain.perLayerNames.map(_._1)
    assert(names.distinct.size == names.size)
    assert(names.size == 12 * 7 + 14)
    assert(names.forall(_.matches("[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")))
  }

  test("the result line is one JSON object with plain decimal values") {
    val j = Json.result(true, 3, 0, Seq(("setup_s", 1.5e-7, "s"), ("query_ms", 12.0, "ms")))
    assert(j == """{"correct": true, "attempted": 3, "failed": 0, "metrics": """ +
      """{"setup_s": {"value": 0.00000015, "unit": "s"}, "query_ms": {"value": 12.0, "unit": "ms"}}}""")
    intercept[IllegalArgumentException](Json.num(Double.NaN))
  }
}

/** BENCHMARK.json at the repository root lists exactly the metrics the main
  * emits, with the same units. */
class BenchmarkJsonSpec extends AnyFunSuite {
  test("BENCHMARK.json names every emitted metric with its unit") {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("../BENCHMARK.json"))
    def listed(key: String): Seq[(String, String)] = {
      val it = root.get(key).elements()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(n => n.get("name").asText -> n.get("unit").asText).toSeq
    }
    assert(listed("end_to_end") == BenchMain.endToEnd)
    assert(listed("per_layer") == BenchMain.perLayerNames)
    val workloads = root.get("workloads").elements()
    assert(Iterator.continually(workloads).takeWhile(_.hasNext).map(_.next().get("name").asText).toSet ==
      BenchMain.sizes.keySet)
  }
}
