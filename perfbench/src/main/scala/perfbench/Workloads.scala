package perfbench

import graft.analysis.Analyzer
import graft.index.{BlockParams, Ids}
import graft.query.{And, Searcher, WandMetrics}
import graft.storage.{IndexManifest, ManifestIO, ParquetIndexStorage, StorageParams}
import graft.streaming.StreamingIndexer
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import java.io.File
import scala.collection.mutable

/** Corpus and run-length sizes of one workload. */
final case class Sizes(
    convs: Int,            // corpus conversations
    batchQueries: Int = 0, // queries in the batch set
    deltas: Int = 0,       // deltas per ingest cycle
    deltaConvs: Int = 0,   // new conversations per delta
    redelivered: Int = 0)  // re-delivered existing keys per delta

/** State shared by the workloads. Timed regions call only public
  * engine functions (ParquetIndexStorage, Searcher, StreamingIndexer, Ids,
  * Analyzer). */
final class Ctx(val spark: SparkSession, val seed: Long, val work: String,
    val traced: Boolean) {
  val analyzer: Analyzer = Analyzer.standard()
  val ledger = new Ledger
  val setupTracer = new Tracer
  val tracer = new Tracer
  /** Per-layer values that do not come from span counters. */
  val layer: mutable.Map[String, Double] = mutable.Map.empty
  /** End-to-end values, by metric name. */
  val e2e: mutable.Map[String, Double] = mutable.Map.empty
  /** nanoTime at which the timed phase began. */
  var timingStart: Long = 0L
  def startTiming(): Unit = timingStart = System.nanoTime()
  /** nanoTime at which the timed phase ended (answer checks follow). */
  var timingEnd: Long = 0L
  def endTiming(): Unit = timingEnd = System.nanoTime()
  /** Human-readable lines printed before the result. */
  val report: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  /** `Main build`'s defaults: 64 term buckets, 8 write groups, block size
    * 128, bucket span 65536, keymap on (conv_id, turn_idx). */
  val keyCols: Seq[String] = Seq("conv_id", "turn_idx")
  val params: StorageParams = StorageParams(termBuckets = 64, writeGroups = 8,
    blockParams = BlockParams(blockSize = 128, bucketSpan = 65536L), keyCols = keyCols)

  def path(name: String): String = new File(work, name).getAbsolutePath

  def wandMetrics(): Option[WandMetrics] = if (traced) Some(WandMetrics(spark)) else None

  /** Writes generated rows as the parquet input a `Main build` would read;
    * returns the input's text bytes. */
  def writeInput(df: DataFrame, p: String): Long = {
    df.write.mode("overwrite").parquet(p)
    spark.read.parquet(p).agg(coalesce(sum(octet_length(col("text"))), lit(0L)))
      .head().getLong(0)
  }

  /** Dense ordinals + persisted build, as `Main build` runs them. */
  def ordinals(input: String): (DataFrame, () => Unit) =
    Ids.withDenseOrdinalHandle(spark.read.parquet(input), "doc_ord", keyCols)

  def build(withOrd: DataFrame, cleanup: () => Unit, index: String): IndexManifest = {
    val mf = ParquetIndexStorage.build(withOrd, analyzer, index, params,
      sourceDesc = "perfbench", textCol = "text")
    cleanup()
    mf
  }

  def buildFrom(input: String, index: String): IndexManifest = {
    val (o, c) = ordinals(input)
    build(o, c, index)
  }

  def manifest(index: String): IndexManifest =
    ManifestIO.read(s"$index/manifest.json", classOf[IndexManifest]).get

  def strata(index: String, input: String): Gen.Strata = {
    val dict = ParquetIndexStorage.read(spark, index).index.termDict
      .select("term", "df").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    Gen.strata(dict, sampleTexts(input, 400), seed)
  }

  /** A deterministic sample of corpus texts: the first `n` turns in key order. */
  def sampleTexts(input: String, n: Int): Seq[String] =
    spark.read.parquet(input).orderBy("conv_id", "turn_idx").limit(n)
      .select("text").collect().map(_.getString(0)).toSeq

  /** Everything under a directory, in bytes. */
  def bytesUnder(p: String): Long = {
    def walk(f: File): Long = if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(walk).sum
                              else f.length
    walk(new File(p))
  }

  /** Mean parquet files per leaf directory of a table. */
  def filesPerLeaf(p: String): Double = {
    val leaves = mutable.ArrayBuffer.empty[Int]
    def walk(f: File): Unit = {
      val kids = Option(f.listFiles).toSeq.flatten
      val n = kids.count(k => k.isFile && k.getName.endsWith(".parquet"))
      if (n > 0) leaves += n
      kids.filter(_.isDirectory).foreach(walk)
    }
    walk(new File(p))
    if (leaves.isEmpty) 0.0 else leaves.sum.toDouble / leaves.size
  }

  /** Build-stage seconds read back from the manifest's stage markers. */
  def recordBuildLayers(index: String, inputBytes: Long): Unit = {
    val stages = manifest(index).stages
    def secs(p: String => Boolean) = stages.filter(s => p(s.stage)).map(_.durationMs)
    for (s <- Seq("docs", "keymap", "raw", "stats", "dict", "blocks"))
      layer(s"storage.build.${s}_s") = secs(_ == s).sum / 1000.0
    // the postings groups run concurrently: their stage is the longest group
    layer("storage.build.postings_s") = secs(_.startsWith("postings_g")).maxOption.getOrElse(0L) / 1000.0
    layer("storage.files_per_leaf.postings") = filesPerLeaf(s"$index/postings")
    layer("storage.files_per_leaf.blocks") = filesPerLeaf(s"$index/blocks")
    e2e("store_bytes_per_input_byte") = bytesUnder(index).toDouble / inputBytes
  }

  def keyed(rows: Array[Row]): Seq[(String, Int)] =
    rows.map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx"))).toSeq
}

object Workloads {

  def secs(n0: Long): Double = (System.nanoTime() - n0) / 1e9

  /** Runs `op` repeatedly until `seconds` have passed; at least once. */
  def loopFor(seconds: Double)(op: Int => Unit): Unit = {
    val n0 = System.nanoTime()
    var i = 0
    while (i == 0 || secs(n0) < seconds) { op(i); i += 1 }
  }

  /** Geometric mean of per-class medians: each query class weighs the same
    * however many samples of it fit in the run. */
  def classMedianGeomean(byClass: Map[String, Seq[Double]]): Double = {
    val ms = byClass.values.filter(_.nonEmpty).map(Stats.median).toSeq
    math.exp(ms.map(math.log).sum / ms.size)
  }

  def topk(df: DataFrame): Seq[(Long, Double)] =
    df.select("doc_ord", "score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  def batchRows(df: DataFrame): Map[Int, Seq[(Long, Double)]] =
    df.collect().groupBy(_.getAs[Int]("q_id")).map { case (q, rs) =>
      q -> rs.sortBy(_.getAs[Long]("rank")).map(r =>
        (r.getAs[Long]("doc_ord"), r.getAs[Double]("score"))).toSeq
    }

  def tokens(text: String): Array[String] = text.split(' ')

  def hasPhrase(text: String, phrase: String): Boolean =
    tokens(text).sliding(2).exists(_.mkString(" ") == phrase)

  // ------------------------------------------------------------------ query

  /** One closed-loop client reading two copies of one store: a pinned
    * serving shard (`Searcher.serving`) and an unpinned persisted store
    * (cold per-query WAND calls and query-set replays). The unpinned copy
    * lives at its own path so Spark's cache never substitutes the pins. */
  def query(c: Ctx, sz: Sizes, seconds: Double): Unit = {
    import c._
    val input = path("input"); val index = path("index"); val store = path("store")
    val inputBytes = setupTracer.span("setup.input")(writeInput(Gen.corpus(spark, seed, sz.convs), input))
    setupTracer.span("setup.build")(buildFrom(input, index))
    val s = setupTracer.span("setup.open") {
      recordBuildLayers(index, inputBytes)
      copyTree(index, store)
      Searcher(ParquetIndexStorage.read(spark, index), analyzer)
    }
    setupTracer.span("setup.pin")(s.serving(pinDocs = true, pinPostings = true))
    layer("storage.pin_s") = setupTracer.ms("setup.pin").head / 1000.0
    val st = setupTracer.span("setup.strata")(strata(index, input))
    val set = { val g = new Gen.Queries(st, seed + 3); (0 until sz.batchQueries).map(g.ranked) }
    def open(): Searcher = Searcher(ParquetIndexStorage.read(spark, store), analyzer)
    val wmServe = wandMetrics()
    val wmBatch = wandMetrics()

    // per round: the pinned mix three times (several queries of every class
    // in one run), then one unpinned session that replays the set twice;
    // every ranked class comes in both kinds (skip and dense)
    val serveMix = IndexedSeq("topk.skip", "topk.dense", "count.skip", "count.dense",
      "fetch.match", "fetch.phrase", "topk.skip", "topk.dense")
    val coldMix = IndexedSeq("wand.skip", "wand.dense")
    final case class Op(id: Int, kind: String, q: String, out: Any, ms: Double)
    def serveOp(tr: Tracer, g: Gen.Queries, kind: String, wm: Option[WandMetrics]): (String, Any) = kind match {
      case "topk.skip" | "topk.dense" =>
        val q = if (kind == "topk.skip") g.skip() else g.dense()
        (q, tr.span("serve.topk")(topk(s.bm25TopKWand(q, 10, wm))))
      case "count.skip" | "count.dense" =>
        val q = if (kind == "count.skip") g.hotRare() else g.dense()
        (q, tr.span("serve.count")(s.countMatches(q, And)))
      case "fetch.match" =>
        val q = g.selective()
        (q, tr.span("serve.fetch")(s.matchQuery(q, And).collect().map(_.getAs[String]("text")).toSeq))
      case _ =>
        val q = g.phrase()
        (q, tr.span("serve.fetch")(s.phraseQuery(q).collect().map(_.getAs[String]("text")).toSeq))
    }
    def coldOp(tr: Tracer, u: Searcher, q: String): Seq[Row] =
      tr.span("batch.cold_ranked")(u.bm25TopKWand(q, 10).collect().toSeq)
    type Replay = (Int, Map[Int, Seq[(Long, Double)]], Map[Int, Seq[(Long, Double)]])
    def round(tr: Tracer, lg: Ledger, g: Gen.Queries, mixes: Int, replaySet: Seq[String],
        passes: Int, wmS: Option[WandMetrics], wmB: Option[WandMetrics], ops: mutable.Buffer[Op],
        replays: mutable.Buffer[Replay]): Unit = {
      for (_ <- 0 until mixes; k <- serveMix) {
        val (id, res) = lg.attempt(serveOp(tr, g, k, wmS))
        res.foreach { case (q, out) => ops += Op(id, k, q, out, tr.lastMs) }
      }
      val (_, u) = lg.attempt(tr.span("batch.open")(open()))
      u.foreach { u =>
        for (k <- coldMix) {
          val q = if (k == "wand.skip") g.skip() else g.dense()
          val (id, res) = lg.attempt(coldOp(tr, u, q))
          res.foreach(out => ops += Op(id, k, q, out, tr.lastMs))
        }
        for (_ <- 0 until passes) {
          val (id, w) = lg.attempt(tr.span("batch.wand")(batchRows(u.bm25TopKBatchWand(replaySet, 10, wmB))))
          val (_, e) = lg.attempt(tr.span("batch.exh")(batchRows(u.bm25TopKBatch(replaySet, 10))))
          for (w <- w; e <- e) replays += ((id, w, e))
        }
      }
    }
    // warm-up: one untimed round (one mix, one replay of the set), so JIT,
    // codegen, the pins and the store's files settle; a first replay of
    // the set runs ~35% slower than the next
    setupTracer.span("setup.warmup")(round(new Tracer, new Ledger, new Gen.Queries(st, seed + 1), 1,
      set, 1, None, None, mutable.Buffer.empty, mutable.Buffer.empty))

    val g = new Gen.Queries(st, seed + 2)
    val ops = mutable.ArrayBuffer.empty[Op]
    val replays = mutable.ArrayBuffer.empty[Replay]
    startTiming()
    val t0 = System.nanoTime()
    loopFor(seconds)(_ => round(tracer, ledger, g, 3, set, 2, wmServe, wmBatch, ops, replays))
    val wall = secs(t0)
    endTiming()
    e2e("live_heap_mb") = Heap.liveMb()
    wmServe.foreach(m => layer("query.wand.skip_rate.serve") = m.skipRate)
    wmBatch.foreach(m => layer("query.wand.skip_rate.batch") = m.skipRate)

    // ---- answer checks, after timing
    val topks = ops.filter(_.kind.startsWith("topk"))
    val distinct = topks.map(_.q).distinct
    val exh = batchRows(s.bm25TopKBatch(distinct.toSeq, 10))
    val qIdx = distinct.zipWithIndex.toMap
    topks.foreach { o =>
      val want = exh.getOrElse(qIdx(o.q), Nil)
      if (!Stats.rankIdentical(o.out.asInstanceOf[Seq[(Long, Double)]], want))
        ledger.markWrong(o.id, s"WAND top-10 of '${o.q}' differs from exhaustive bm25TopKBatch: ${o.out} vs $want")
    }
    ops.filter(_.kind.startsWith("count")).foreach { o =>
      val want = s.matchQuery(o.q, And).count()
      if (o.out != want) ledger.markWrong(o.id, s"countMatches('${o.q}') = ${o.out}, matchQuery count $want")
    }
    // every fetch's expected row count, counted over the input text in one scan
    val fetches = ops.filter(_.kind.startsWith("fetch")).toIndexedSeq
    val t = col("t")
    val wants = spark.read.parquet(input).select(concat(lit(" "), col("text"), lit(" ")).as("t"))
      .select(fetches.map { o =>
        val hit = if (o.kind == "fetch.match") o.q.split(' ').map(w => t.contains(s" $w ")).reduce(_ && _)
                  else t.contains(s" ${o.q} ")
        sum(when(hit, 1L).otherwise(0L))
      }: _*).head()
    fetches.zipWithIndex.foreach { case (o, i) =>
      val texts = o.out.asInstanceOf[Seq[String]]
      val rowsOk =
        if (o.kind == "fetch.match") texts.forall(x => o.q.split(' ').forall(tokens(x).contains))
        else texts.forall(hasPhrase(_, o.q))
      val want = wants.getLong(i)
      if (!rowsOk || texts.size != want)
        ledger.markWrong(o.id, s"${o.kind} '${o.q}': ${texts.size} rows, the corpus has $want")
    }
    replays.foreach { case (id, w, e) =>
      val differs = (q: Int) => !Stats.rankIdentical(w.getOrElse(q, Nil), e.getOrElse(q, Nil))
      (w.keySet ++ e.keySet).toSeq.sorted.find(differs).foreach { q =>
        ledger.markWrong(id, s"batch WAND differs from batch exhaustive, first on '${set(q)}': " +
          s"WAND ${w.getOrElse(q, Nil)} vs exhaustive ${e.getOrElse(q, Nil)}")
      }
    }
    val u = open()
    def ranked(rs: Seq[Row]): Seq[(Long, Double)] = rs.map(r => (r.getAs[Long]("doc_ord"), r.getAs[Double]("score")))
    ops.filter(o => coldMix.contains(o.kind)).foreach { o =>
      val want = ranked(u.bm25TopK(o.q, 10).collect().toSeq)
      if (!Stats.rankIdentical(ranked(o.out.asInstanceOf[Seq[Row]]), want))
        ledger.markWrong(o.id, s"cold WAND top-10 of '${o.q}' differs from exhaustive bm25TopK")
    }

    val serveOps = ops.filter(o => serveMix.contains(o.kind))
    e2e("query_ms") = classMedianGeomean(serveOps.groupBy(_.kind).map { case (k, os) => k -> os.map(_.ms).toSeq })
    // the unpinned sessions: queries answered per second of query time (the
    // store open, one cold call per session, is reported apart below)
    val queryMs = Seq("batch.cold_ranked", "batch.wand", "batch.exh").flatMap(tracer.ms)
    val answered = ops.count(o => coldMix.contains(o.kind)) + 2 * set.size * replays.size
    e2e("work_per_s") = answered / (queryMs.sum / 1000.0)
    report += f"query: ${ledger.attempted} ops in $wall%.2f s, closed loop, 1 client; " +
      s"${tracer.ms("batch.wand").size} replays of ${set.size} queries per batch path"
    report += s"serve_topk_p50_ms: ${Stats.summarize(tracer.ms("serve.topk")).describe("ms")}"
    report += s"serve_count_p50_ms: ${Stats.summarize(tracer.ms("serve.count")).describe("ms")}"
    report += s"serve_fetch_p50_ms: ${Stats.summarize(tracer.ms("serve.fetch")).describe("ms")}"
    report += s"cold_ranked_p50_ms: ${Stats.summarize(tracer.ms("batch.cold_ranked")).describe("ms")}"
    report += s"batch_open_p50_ms: ${Stats.summarize(tracer.ms("batch.open")).describe("ms")}"
    report += s"batch replays, ms: WAND ${tracer.ms("batch.wand").map(_.round).mkString(" ")}; " +
      s"exhaustive ${tracer.ms("batch.exh").map(_.round).mkString(" ")}"
    report += f"batch_wand_qps: ${set.size / Stats.median(tracer.ms("batch.wand")) * 1000}%.2f queries/s"
    report += f"batch_exh_qps: ${set.size / Stats.median(tracer.ms("batch.exh")) * 1000}%.2f queries/s"
    s.unpin()
  }

  private def copyTree(from: String, to: String): Unit = {
    import java.nio.file.{Files, Path, Paths}
    val src = Paths.get(from)
    val walk = Files.walk(src)
    try walk.forEach { (p: Path) =>
      val dst = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
    } finally walk.close()
  }

  // ----------------------------------------------------------------- ingest

  /** Reads of the live view after each delta: its marker query, repeated. */
  val readsPerDelta = 7

  /** The write path as `Main build` and `Main delta` run it, in a process
    * that has run nothing before (no warm-up: each CLI call pays it too). */
  def ingest(c: Ctx, sz: Sizes, seconds: Double): Unit = {
    import c._
    val input = path("input")
    val inputBytes = setupTracer.span("setup.input")(writeInput(Gen.corpus(spark, seed, sz.convs), input))
    val keys = keyed(spark.read.parquet(input).select("conv_id", "turn_idx").collect()).toIndexedSeq
    val nTurns = keys.size.toLong
    val ds = Gen.deltas(seed, sz.convs, keys, sz.deltas, sz.deltaConvs, sz.redelivered)
    import spark.implicits._
    ds.zipWithIndex.foreach { case (d, i) => d.rows.toDF().write.mode("overwrite").parquet(path(s"delta$i")) }

    startTiming()
    var n = 0
    loopFor(seconds) { cyc =>
      val index = path(s"index$cyc")
      def verify(cond: => Boolean, why: String): Unit = if (!cond) ledger.failCheck(why)
      val (o, cl) = tracer.span("ingest.ordinals")(ordinals(input))
      val (_, built) = ledger.attempt(tracer.span("ingest.build")(build(o, cl, index)))
      verify(built.exists(_.numDocs == nTurns), s"build numDocs != $nTurns")
      var expect = nTurns
      // the deltas fold into one storage-attached StreamingIndexer whose
      // live view answers the read-after-write query; the storage flush is
      // not run (README.md: the time budget)
      val (_, si) = ledger.attempt(StreamingIndexer.overStorage(spark, index, analyzer, "text",
        flushThreshold = Long.MaxValue))
      si.foreach { si =>
        ds.zipWithIndex.foreach { case (d, i) =>
          ledger.attempt(tracer.span("ingest.add_batch")(si.addBatch(spark.read.parquet(path(s"delta$i")))))
          expect += d.freshTurns
          // the first read pays the live view's first-touch cost; the
          // following ones are what later readers of the view see
          for (_ <- 0 until readsPerDelta) {
            val (qid, got) = ledger.attempt {
              val s = tracer.span("ingest.reopen")(new Searcher(si.index, analyzer))
              tracer.span("ingest.query")(keyed(s.matchQuery(d.marker, And).select("conv_id", "turn_idx").collect()))
            }
            got.foreach { g =>
              if (g.toSet != d.rows.map(r => (r.conv_id, r.turn_idx)).toSet)
                ledger.markWrong(qid, s"query for delta $i's marker returned ${g.size} docs, want ${d.rows.size}")
            }
          }
          verify(si.index.numDocs == expect, s"numDocs after delta $i ${si.index.numDocs} != $expect")
        }
      }
      if (cyc == 0) recordBuildLayers(index, inputBytes)
      n += 1
    }
    endTiming()
    e2e("live_heap_mb") = Heap.liveMb()
    val writeS = Seq("ingest.ordinals", "ingest.build", "ingest.add_batch")
      .flatMap(tracer.ms).sum / 1000.0
    e2e("work_per_s") = n * (nTurns + ds.map(_.rows.size).sum) / writeS
    val reads = tracer.ms("ingest.reopen").zip(tracer.ms("ingest.query")).map { case (a, b) => a + b }
    val raw = reads.grouped(readsPerDelta).map(_.head).toSeq
    e2e("query_ms") = Stats.median(reads)
    val builds = tracer.ms("ingest.ordinals").zip(tracer.ms("ingest.build")).map { case (a, b) => a + b }
    val delta = tracer.ms("ingest.add_batch")
    report += s"ingest: $n cycles over $nTurns turns; ${ds.size} deltas of ${ds.head.rows.size} turns " +
      s"(${ds.head.freshTurns} new)"
    report += f"build_turns_per_s: ${nTurns / (Stats.median(builds) / 1000)}%.1f turns/s (n=${builds.size})"
    report += s"delta_add_p50_s: ${Stats.summarize(delta.map(_ / 1000)).describe("s")}"
    report += s"read_after_write_p50_ms: ${Stats.summarize(raw).describe("ms")} (first read after each delta)"
    report += s"live-view reads after a delta: ${Stats.summarize(reads).describe("ms")}"
  }
}

object Heap {
  /** Heap in use after full collections, in MB: the least of several
    * readings, spaced so Spark's cleaner thread can release what the
    * previous collection made unreachable. */
  def liveMb(): Double = {
    val rt = Runtime.getRuntime
    (0 until 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      (rt.totalMemory - rt.freeMemory) / (1024.0 * 1024.0)
    }.min
  }
}
