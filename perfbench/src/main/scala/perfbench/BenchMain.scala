package perfbench

import org.apache.spark.sql.SparkSession

import java.io.File

/** The repository's benchmark: one seeded workload per process.
  *
  * {{{
  * BenchMain --workload query|ingest --seed N --seconds S --trace 0|1 --work-dir DIR
  * }}}
  *
  * Prints human-readable lines, then one JSON object as the last line:
  * `{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
  * metrics are the end-to-end ones; with `--trace 1` the listener, WAND
  * counters and manifest read-back are attached and the metrics are the
  * per-layer ones. `perfbench/run.py` builds and launches this main. */
object BenchMain {

  /** Corpus and run sizes per workload, chosen so that one run, set-up
    * included, takes about a minute at local[4] (README.md, "Sizing"). */
  val sizes: Map[String, Sizes] = Map(
    "query"  -> Sizes(convs = 1000, batchQueries = 150),
    "ingest" -> Sizes(convs = 1000, deltas = 1, deltaConvs = 20, redelivered = 30))

  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "query_ms" -> "ms", "work_per_s" -> "1/s",
    "store_bytes_per_input_byte" -> "ratio", "live_heap_mb" -> "MB")

  /** The spans the benchmark times, by the engine module they call into. */
  val spans: Seq[String] = Seq(
    "serve.topk", "serve.count", "serve.fetch", "batch.cold_ranked",
    "batch.wand", "batch.exh", "ingest.query", // query
    "batch.open", "ingest.build", "ingest.reopen", // storage
    "ingest.add_batch", // streaming
    "ingest.ordinals") // index

  val counters: Seq[(String, String, SpanCounters => Double)] = Seq(
    ("jobs", "count", _.jobs.toDouble),
    ("tasks", "count", _.tasks.toDouble),
    ("driver_ms", "ms", _.driverMs.toDouble),
    ("sched_wait_ms", "ms", _.schedWaitMs.toDouble),
    ("exec_cpu_ms", "ms", _.execCpuMs),
    ("shuffle_bytes", "bytes", _.shuffleBytes.toDouble),
    ("io_bytes", "bytes", _.ioBytes.toDouble))

  /** Per-layer metrics that are not span counters, with units. */
  val otherLayers: Seq[(String, String)] =
    Seq("docs", "keymap", "raw", "stats", "dict", "postings", "blocks").map(s => s"storage.build.${s}_s" -> "s") ++
    Seq("storage.files_per_leaf.postings" -> "count", "storage.files_per_leaf.blocks" -> "count",
      "storage.pin_s" -> "s", "ingest.build.spill_bytes" -> "bytes",
      "query.wand.skip_rate.serve" -> "ratio",
      "query.wand.skip_rate.batch" -> "ratio", "analysis.turns_per_s" -> "1/s")

  def perLayerNames: Seq[(String, String)] =
    (for (s <- spans; (c, u, _) <- counters) yield s"$s.$c" -> u) ++ otherLayers

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, work: String)

  def parse(args: Seq[String]): Either[String, Args] = {
    val kv = args.grouped(2).collect { case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.get(k).toRight(s"missing --$k")
    for {
      w <- need("workload").filterOrElse(sizes.contains, s"unknown workload; one of ${sizes.keys.mkString(", ")}")
      seed <- need("seed").flatMap(s => s.toLongOption.toRight(s"bad --seed $s"))
      secs <- need("seconds").flatMap(s => s.toDoubleOption.filter(_ > 0).toRight(s"bad --seconds $s"))
      tr <- need("trace").filterOrElse(Set("0", "1"), "--trace is 0 or 1")
      work <- need("work-dir")
    } yield Args(w, seed, secs, tr == "1", work)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toIndexedSeq) match {
      case Right(a) => a
      case Left(err) =>
        System.err.println(s"perfbench: $err")
        sys.exit(2)
    }
    val t0 = System.nanoTime()
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder().appName("perfbench").master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(a.work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val c = new Ctx(spark, a.seed, a.work, a.trace)
    c.report += f"set-up session: ${Workloads.secs(t0)}%.3f s"
    val listener = if (a.trace) Some(new BenchListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    try {
      val setupEnd = run(c, a, t0)
      val metrics: Seq[(String, Double, String)] =
        if (!a.trace) endToEnd.map { case (n, u) =>
          (n, if (n == "setup_s") setupEnd else c.e2e(n), u)
        }
        else {
          org.apache.spark.BenchBus.drain(spark.sparkContext)
          val (jobs, tasks, submit) = listener.get.snapshot
          val agg = Attribution.aggregate(c.tracer.all, jobs, tasks, submit)
          c.layer("ingest.build.spill_bytes") = agg.get("ingest.build").map(_.spillBytes.toDouble).getOrElse(0.0)
          c.layer("analysis.turns_per_s") = analysisRate(c)
          // counters are per call of the span: a run fits a varying number
          // of calls, a per-call count does not depend on it
          val fromSpans = for (s <- spans; (cn, u, f) <- counters) yield {
            val v = agg.get(s).map(sc => f(sc) / sc.calls).getOrElse(0.0)
            (s"$s.$cn", v, u)
          }
          c.report ++= agg.toSeq.sortBy(_._1).map { case (n, sc) =>
            f"span $n: ${sc.calls} calls, ${sc.wallMs.toDouble / sc.calls}%.1f ms wall per call" }
          c.report ++= endToEnd.filter(_._1 != "setup_s").map { case (n, u) =>
            f"traced $n: ${c.e2e(n)}%.4f $u" }
          c.report += f"traced setup_s: $setupEnd%.4f s"
          fromSpans ++ otherLayers.map { case (n, u) => (n, c.layer.getOrElse(n, 0.0), u) }
        }
      c.setupTracer.all.foreach(sp => c.report += f"set-up ${sp.name}: ${sp.ms / 1000}%.3f s")
      c.report += f"checks and teardown: ${Workloads.secs(c.timingEnd)}%.3f s"
      c.report.foreach(println)
      c.ledger.messages.foreach(m => println(s"check: $m"))
      println(f"failed_ops_frac: ${c.ledger.failedFrac}%.4f ratio (${c.ledger.failed} of ${c.ledger.attempted} ops)")
      println(Json.result(c.ledger.failed == 0, c.ledger.attempted, c.ledger.failed, metrics))
    } finally spark.stop()
  }

  /** Runs the workload; returns set-up seconds (process start to timing). */
  private def run(c: Ctx, a: Args, t0: Long): Double = {
    val sz = sizes(a.workload)
    a.workload match {
      case "query"  => Workloads.query(c, sz, a.seconds)
      case "ingest" => Workloads.ingest(c, sz, a.seconds)
    }
    (c.timingStart - t0) / 1e9
  }

  /** `Analyzer.analyze` over a seeded sample of corpus texts, one driver
    * thread, repeated for at least half a second. */
  private def analysisRate(c: Ctx): Double = {
    val texts = c.sampleTexts(c.path("input"), 2000)
    texts.foreach(c.analyzer.analyze) // warm
    var n = 0L
    val n0 = System.nanoTime()
    while (Workloads.secs(n0) < 0.5) { texts.foreach(c.analyzer.analyze); n += texts.size }
    n / Workloads.secs(n0)
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) throw new IllegalArgumentException(s"metric value $v")
    else java.math.BigDecimal.valueOf(v).toPlainString

  def result(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}
