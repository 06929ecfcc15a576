package perfbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** One timed call into the engine: a named span on the client thread. */
final case class Span(name: String, startMs: Long, endMs: Long, nanos: Long = 0L) {
  def wallMs: Long = endMs - startMs
  def ms: Double = nanos / 1e6
}

/** A Spark job as the listener saw it, with the stages it ran. */
final case class JobRec(id: Int, startMs: Long, endMs: Long, stageIds: Seq[Int])

/** One finished task's counters. */
final case class TaskRec(stageId: Int, launchMs: Long, cpuNs: Long,
    shuffleWriteBytes: Long, ioBytes: Long, spillBytes: Long)

/** Per-span counters, summed over every occurrence of the span in a run. */
final case class SpanCounters(
    calls: Int = 0, jobs: Long = 0, tasks: Long = 0, wallMs: Long = 0,
    driverMs: Long = 0, schedWaitMs: Long = 0, execCpuMs: Double = 0,
    shuffleBytes: Long = 0, ioBytes: Long = 0, spillBytes: Long = 0) {
  def +(o: SpanCounters): SpanCounters = SpanCounters(
    calls + o.calls, jobs + o.jobs, tasks + o.tasks, wallMs + o.wallMs,
    driverMs + o.driverMs, schedWaitMs + o.schedWaitMs, execCpuMs + o.execCpuMs,
    shuffleBytes + o.shuffleBytes, ioBytes + o.ioBytes, spillBytes + o.spillBytes)
}

/** Attribution of Spark jobs to benchmark spans and the per-span arithmetic.
  *
  * Jobs are attributed by START TIME to the span open at that instant. This
  * is exact only because the benchmark has a single client thread: spans
  * never overlap, so at most one span is open when a job starts (jobs the
  * engine itself runs concurrently, such as the build's postings groups,
  * still start inside the one span that issued them). With several clients
  * the intervals would overlap and the attribution would be ambiguous. */
object Attribution {

  /** Index of the span open at `t`. Spans are sequential; on a shared
    * boundary millisecond the later-started span wins, since a span's first
    * job cannot precede its start. */
  def spanAt(t: Long, spans: IndexedSeq[Span]): Option[Int] = {
    var i = spans.size - 1
    while (i >= 0) {
      val s = spans(i)
      if (s.startMs <= t && t <= s.endMs) return Some(i)
      i -= 1
    }
    None
  }

  /** Total length covered by a set of possibly overlapping intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- intervals.filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Span wall time not covered by any of its jobs (clipped to the span):
    * planning, codegen, listing, manifest IO and collect handling. */
  def driverMs(span: Span, jobs: Seq[JobRec]): Long = {
    val clipped = jobs.map(j => (math.max(j.startMs, span.startMs), math.min(j.endMs, span.endMs)))
    math.max(0L, span.wallMs - unionLength(clipped))
  }

  /** Counters per span name from the raw spans, jobs, tasks and stage
    * submission times. */
  def aggregate(spans: IndexedSeq[Span], jobs: Seq[JobRec], tasks: Seq[TaskRec],
      stageSubmitMs: Map[Int, Long]): Map[String, SpanCounters] = {
    val jobsBySpan = jobs.groupBy(j => spanAt(j.startMs, spans))
    val tasksByStage = tasks.groupBy(_.stageId)
    spans.indices.map { i =>
      val s = spans(i)
      val js = jobsBySpan.getOrElse(Some(i), Nil)
      val ts = js.flatMap(_.stageIds).distinct.flatMap(tasksByStage.getOrElse(_, Nil))
      s.name -> SpanCounters(
        calls = 1,
        jobs = js.size,
        tasks = ts.size,
        wallMs = s.wallMs,
        driverMs = driverMs(s, js),
        schedWaitMs = ts.map(t => stageSubmitMs.get(t.stageId)
          .map(sub => math.max(0L, t.launchMs - sub)).getOrElse(0L)).sum,
        execCpuMs = ts.map(_.cpuNs).sum / 1e6,
        shuffleBytes = ts.map(_.shuffleWriteBytes).sum,
        ioBytes = ts.map(_.ioBytes).sum,
        spillBytes = ts.map(_.spillBytes).sum)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }
}

/** Collects jobs, stage submission times and task counters. Registered only
  * in the traced run. */
final class BenchListener extends SparkListener {
  private val jobStarts = mutable.Map.empty[Int, (Long, Seq[Int])]
  private val jobsDone = mutable.ArrayBuffer.empty[JobRec]
  private val stageSubmit = mutable.Map.empty[Int, Long]
  private val taskRecs = mutable.ArrayBuffer.empty[TaskRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts(e.jobId) = (e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { case (t0, stages) =>
      jobsDone += JobRec(e.jobId, t0, e.time, stages)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(stageSubmit(e.stageInfo.stageId) = _)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) taskRecs += TaskRec(
      e.stageId, e.taskInfo.launchTime, m.executorCpuTime,
      m.shuffleWriteMetrics.bytesWritten,
      m.inputMetrics.bytesRead + m.outputMetrics.bytesWritten,
      m.diskBytesSpilled)
  }

  def snapshot: (Seq[JobRec], Seq[TaskRec], Map[Int, Long]) = synchronized {
    (jobsDone.toList, taskRecs.toList, stageSubmit.toMap)
  }
}

/** Times named spans on the client thread. Every run records span walls
  * (the end-to-end latencies come from them); only the traced run attaches
  * the listener that the per-layer counters need. */
final class Tracer {
  private val spans = mutable.ArrayBuffer.empty[Span]

  def span[A](name: String)(body: => A): A = {
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try body
    finally spans += Span(name, t0, System.currentTimeMillis(), System.nanoTime() - n0)
  }

  def all: IndexedSeq[Span] = spans.toIndexedSeq

  /** Duration in ms of the span recorded last. */
  def lastMs: Double = spans.last.ms

  /** Durations in ms of every span called `name`, in call order. */
  def ms(name: String): Seq[Double] = spans.filter(_.name == name).map(_.ms).toSeq
}
