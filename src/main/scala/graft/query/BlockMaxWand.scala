package graft.query

import graft.index.{BlockParams, PostingBlockRow, PostingBlocks}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Distributed block-max WAND top-k (SURVEY.md §4.3 item 2).
  *
  * Work is partitioned over doc-range buckets (each bucket holds all query
  * terms' blocks for its doc range, co-located at build time): every bucket
  * runs an independent WAND with its own k-heap and emits at most k local
  * candidates; the global `orderBy(score desc, doc_ord asc).limit(k)` merge
  * then touches only `k × nBuckets` rows — no partition ever materializes
  * full posting intersections. Pruning uses per-term global upper bounds for
  * pivot selection and per-block maxima for skip decisions, both strict
  * (`< threshold`) and padded by 1 ulp-scale epsilon against float
  * re-association, so ties survive and the result is rank-identical to the
  * exhaustive BM25 plan — property-tested in BlockMaxWandSpec.
  */
/** Pruning-effectiveness counters (Spark accumulators, aggregated across
  * partitions): `blocksTotal` = blocks of the query terms that an exhaustive
  * scorer would decode; `blocksDecoded` = blocks WAND actually decoded.
  * skipRate = 1 - decoded/total is the demonstrated pruning win. */
final case class WandMetrics(
    blocksTotal: org.apache.spark.util.LongAccumulator,
    blocksDecoded: org.apache.spark.util.LongAccumulator
) {
  def skipRate: Double =
    if (blocksTotal.value == 0) 0.0
    else 1.0 - blocksDecoded.value.toDouble / blocksTotal.value.toDouble
}

object WandMetrics {
  def apply(spark: org.apache.spark.sql.SparkSession): WandMetrics =
    WandMetrics(
      spark.sparkContext.longAccumulator("wand.blocksTotal"),
      spark.sparkContext.longAccumulator("wand.blocksDecoded"))
}

object BlockMaxWand {

  /** Safety factor on upper bounds: bounds and scores are computed with
    * slightly different operation orders (bound: weight * max_q; score:
    * (weight * num) / den), so a bound can undershoot the true score by an
    * ulp. Inflating bounds keeps pruning lossless; it never affects scores. */
  private val UbPad = 1.0 + 1e-9

  private final case class Hit(doc: Long, score: Double)

  // dequeue() returns the WORST hit: lowest score, then largest doc —
  // mirror of the exhaustive plan's (score desc, doc_ord asc) ordering.
  private val worstFirst: Ordering[Hit] =
    Ordering.by[Hit, (Double, Long)](h => (-h.score, h.doc))

  /** Top-k over the block table.
    *
    * @param weights term_id -> idf weight (must be positive)
    * @param params  the BlockParams the blocks were built with
    * @param avgdl   average doc length the blocks were built with
    */
  def topK(
      blocks: Dataset[PostingBlockRow],
      weights: Map[Long, Double],
      k: Int,
      params: BlockParams,
      avgdl: Double,
      metrics: Option[WandMetrics] = None
  ): DataFrame = {
    val spark = blocks.sparkSession
    import spark.implicits._
    require(k > 0, "k must be positive")
    if (weights.isEmpty) return Seq.empty[(Long, Double)].toDF("doc_ord", "score")
    val ids = weights.keys.toSeq
    val bw = spark.sparkContext.broadcast((weights, params, avgdl))

    blocks
      .filter(col("term_id").isin(ids: _*))
      .groupByKey(_.bucket)
      .flatMapGroups { (_, rows) =>
        val (w, p, adl) = bw.value
        val cursors = rows.toVector.groupBy(_.term_id).iterator.map {
          case (tid, bs) => new Cursor(w(tid), bs.sortBy(_.min_doc), p, adl, metrics)
        }.toArray
        wand(cursors, k)
      }
      .toDF("doc_ord", "score")
      .orderBy(desc("score"), asc("doc_ord"))
      .limit(k)
  }

  /** Serving-mode single-query top-k: the same per-bucket WAND as [[topK]],
    * run inside `mapPartitions` over a block table that is hash-partitioned
    * by `bucket` (the serving pin repartitions once at pin time, so every
    * bucket's rows sit wholly in one cached partition), with the
    * ≤ k-per-bucket candidates merged on the driver. Per query this is ONE
    * shuffle-free job over the cached blocks plus a k×buckets-row collect —
    * versus [[topK]]'s groupByKey exchange + global sort-limit, whose
    * multi-stage scheduling dominates interactive latency. Rank-identical
    * to [[topK]]: same wand core, same (score desc, doc_ord asc) ordering.
    */
  def topKLocal(
      blocks: Dataset[PostingBlockRow],
      weights: Map[Long, Double],
      k: Int,
      params: BlockParams,
      avgdl: Double,
      metrics: Option[WandMetrics] = None
  ): Array[(Long, Double)] = {
    val spark = blocks.sparkSession
    import spark.implicits._
    require(k > 0, "k must be positive")
    if (weights.isEmpty) return Array.empty
    val ids = weights.keys.toSeq
    val bw = spark.sparkContext.broadcast((weights, params, avgdl))
    val cands = blocks
      .filter(col("term_id").isin(ids: _*))
      .mapPartitions { it =>
        val (w, p, adl) = bw.value
        it.toVector.groupBy(_.bucket).iterator.flatMap { case (_, rows) =>
          val cursors = rows.groupBy(_.term_id).iterator.map {
            case (tid, bs) => new Cursor(w(tid), bs.sortBy(_.min_doc), p, adl, metrics)
          }.toArray
          wand(cursors, k)
        }
      }
      .collect()
    cands.sortWith((a, b) => a._2 > b._2 || (a._2 == b._2 && a._1 < b._1)).take(k)
  }

  /** Serving-mode match COUNT over the bucket-pinned block table (the
    * `_count` / track_total_hits serving surface): per bucket, each term's
    * blocks decode to doc-ascending lists (blocks are doc-disjoint, so
    * concatenation in min_doc order is sorted) and a k-way sorted merge
    * counts the intersection (AND) or union (OR) — one shuffle-free job,
    * per-bucket partial counts summed on the driver. Count-identical to
    * `matchQuery(...).count()` (spec-asserted): same postings content, set
    * semantics independent of evaluation order. */
  def matchCountLocal(
      blocks: Dataset[PostingBlockRow],
      termIds: Seq[Long],
      requireAll: Boolean
  ): Long = {
    val spark = blocks.sparkSession
    import spark.implicits._
    if (termIds.isEmpty) return 0L
    val ids = termIds.distinct
    val need = ids.size
    blocks
      .filter(col("term_id").isin(ids: _*))
      .mapPartitions { it =>
        var count = 0L
        it.toVector.groupBy(_.bucket).iterator.foreach { case (_, rows) =>
          val lists: Array[Array[Long]] = rows.groupBy(_.term_id).valuesIterator.map { bs =>
            val sorted = bs.sortBy(_.min_doc)
            val total = sorted.iterator.map(_.n).sum
            val out = new Array[Long](total)
            var o = 0
            sorted.foreach { b =>
              val d = PostingBlocks.decodeDocs(b)
              System.arraycopy(d, 0, out, o, d.length); o += d.length
            }
            out
          }.toArray
          if (requireAll && lists.length < need) ()
          else if (lists.length == 1) count += lists(0).length
          else {
            // k-way sorted merge: count docs present in all lists (AND) or
            // in any list (OR)
            val idx = new Array[Int](lists.length)
            var live = true
            while (live) {
              var minDoc = Long.MaxValue
              var present = 0
              var i = 0
              while (i < lists.length) {
                if (idx(i) < lists(i).length) {
                  val d = lists(i)(idx(i))
                  if (d < minDoc) { minDoc = d; present = 1 }
                  else if (d == minDoc) present += 1
                }
                i += 1
              }
              if (minDoc == Long.MaxValue) live = false
              else {
                if (!requireAll || present == need) count += 1
                i = 0
                while (i < lists.length) {
                  if (idx(i) < lists(i).length && lists(i)(idx(i)) == minDoc) idx(i) += 1
                  i += 1
                }
              }
            }
          }
        }
        Iterator.single(count)
      }
      .collect().sum
  }

  /** Serving-mode matched-ORDINAL enumeration over the bucket-pinned block
    * table — the full-materialization sibling of [[matchCountLocal]]: the
    * same per-bucket k-way sorted merge, emitting the matching doc_ords
    * instead of counting them. One shuffle-free job; the driver concatenates
    * per-bucket results (buckets partition the ordinal space, so the global
    * set is the disjoint union). CALLER CONTRACT: only invoke when the
    * result size is provably bounded (AND: min term df; OR: Σ term df —
    * both known from the dictionary before any cluster work), so the
    * collect is broadcast-sized by construction. Set-identical to the
    * postings aggregation (same block content, same set semantics). */
  def matchOrdsLocal(
      blocks: Dataset[PostingBlockRow],
      termIds: Seq[Long],
      requireAll: Boolean
  ): Array[Long] = {
    val spark = blocks.sparkSession
    import spark.implicits._
    if (termIds.isEmpty) return Array.empty
    val ids = termIds.distinct
    val need = ids.size
    blocks
      .filter(col("term_id").isin(ids: _*))
      .mapPartitions { it =>
        val out = new scala.collection.mutable.ArrayBuilder.ofLong
        it.toVector.groupBy(_.bucket).iterator.foreach { case (_, rows) =>
          val lists: Array[Array[Long]] = rows.groupBy(_.term_id).valuesIterator.map { bs =>
            val sorted = bs.sortBy(_.min_doc)
            val total = sorted.iterator.map(_.n).sum
            val flat = new Array[Long](total)
            var o = 0
            sorted.foreach { b =>
              val d = PostingBlocks.decodeDocs(b)
              System.arraycopy(d, 0, flat, o, d.length); o += d.length
            }
            flat
          }.toArray
          if (requireAll && lists.length < need) ()
          else if (lists.length == 1) out ++= lists(0)
          else {
            val idx = new Array[Int](lists.length)
            var live = true
            while (live) {
              var minDoc = Long.MaxValue
              var present = 0
              var i = 0
              while (i < lists.length) {
                if (idx(i) < lists(i).length) {
                  val d = lists(i)(idx(i))
                  if (d < minDoc) { minDoc = d; present = 1 }
                  else if (d == minDoc) present += 1
                }
                i += 1
              }
              if (minDoc == Long.MaxValue) live = false
              else {
                if (!requireAll || present == need) out += minDoc
                i = 0
                while (i < lists.length) {
                  if (idx(i) < lists(i).length && lists(i)(idx(i)) == minDoc) idx(i) += 1
                  i += 1
                }
              }
            }
          }
        }
        Iterator.single(out.result())
      }
      .collect().flatten
  }

  /** BATCH top-k over the block table: evaluate a whole QUERY SET with one
    * plan — the realistic offline shape at 10^12 docs (per-query plans pay
    * fixed driver costs that do not shrink with cluster size).
    *
    * One pruned blocks scan for the UNION of all queries' terms, one
    * doc-bucket group pass; inside each bucket every query runs its own
    * cursor loop over fresh cursors sharing the bucket's (already
    * materialized) per-term block lists and keeps its own k-heap. A
    * (query, doc)'s postings all live in the doc's bucket, so its score is
    * complete inside one group: no scored (q_id, doc) row ever crosses an
    * exchange. The global merge ranks `≤ k × buckets` rows per query through
    * one window.
    *
    * `prune` selects the only difference between the two batch surfaces:
    * true runs block-max WAND (exactly [[topK]]'s skip logic, amortized
    * across the set); false pins the threshold at −∞, so every posting of
    * every query term is decoded and scored (the exhaustive batch). Both
    * modes visit cursors in the same order, sum a doc's term scores in the
    * same order and cut with the same (score desc, doc_ord asc) heap rule,
    * and WAND only skips docs that cannot enter the heap — so the two modes
    * return bit-identical rows. k ≤ 0 yields no rows.
    *
    * @param queries q_id -> (term_id -> idf weight)
    * @return (q_id, rank, doc_ord, score), rank 1-based per query
    */
  private[query] def topKBatch(
      blocks: Dataset[PostingBlockRow],
      queries: Map[Int, Map[Long, Double]],
      k: Int,
      params: BlockParams,
      avgdl: Double,
      prune: Boolean,
      metrics: Option[WandMetrics]
  ): DataFrame = {
    val spark = blocks.sparkSession
    import spark.implicits._
    val live = queries.filter(_._2.nonEmpty)
    if (k <= 0 || live.isEmpty)
      return Seq.empty[(Int, Long, Long, Double)].toDF("q_id", "rank", "doc_ord", "score")
    val ids = live.values.flatMap(_.keys).toSeq.distinct
    val bq = spark.sparkContext.broadcast((live, params, avgdl))

    val perBucket = blocks
      .filter(col("term_id").isin(ids: _*))
      .groupByKey(_.bucket)
      .flatMapGroups { (_, rows) =>
        val (qs, p, adl) = bq.value
        // materialize the bucket's block lists ONCE; every query's cursors
        // share them (sorted per term), so the per-bucket scan cost is paid
        // once for the whole query set
        val byTerm: Map[Long, Vector[PostingBlockRow]] =
          rows.toVector.groupBy(_.term_id).map { case (t, bs) => t -> bs.sortBy(_.min_doc) }
        qs.iterator.flatMap { case (qid, weights) =>
          val cursors = weights.iterator.flatMap { case (tid, w) =>
            byTerm.get(tid).map(bs => new Cursor(w, bs, p, adl, metrics))
          }.toArray
          if (cursors.isEmpty) Iterator.empty
          else wand(cursors, k, prune).map { case (d, s) => (qid, d, s) }
        }
      }
      .toDF("q_id", "doc_ord", "score")

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(desc("score"), asc("doc_ord"))
    perBucket.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("long").as("rank"), col("doc_ord"), col("score"))
  }

  /** Lazy-decoding cursor over one term's doc-ascending block list. */
  private final class Cursor(
      val weight: Double,
      blocks: Vector[PostingBlockRow],
      params: BlockParams,
      avgdl: Double,
      metrics: Option[WandMetrics] = None
  ) {
    private var bi = 0
    private var pi = 0
    private var docs: Array[Long] = null
    private var tfs: Array[Long] = null
    private var dls: Array[Long] = null

    // blocks must be doc-ascending AND range-disjoint (binary search + skip
    // logic assume it); a violated build (e.g. buildFromDocPartitioned on
    // partitions that were not doc-disjoint) must fail loudly, not mis-rank
    {
      var i = 1
      while (i < blocks.length) {
        require(blocks(i).min_doc > blocks(i - 1).max_doc,
          s"overlapping posting blocks for term: [${blocks(i - 1).min_doc},${blocks(i - 1).max_doc}] " +
            s"then [${blocks(i).min_doc},${blocks(i).max_doc}] — block build contract violated")
        i += 1
      }
    }

    metrics.foreach(_.blocksTotal.add(blocks.length))

    /** Avgdl-robust block bound: quotient is increasing in tf, decreasing
      * in dl, so quotient(max_tf, min_dl) >= every posting's quotient. */
    private def blockUb(b: PostingBlockRow): Double =
      PostingBlocks.quotient(b.max_tf, b.min_dl, avgdl, params)

    val globalUb: Double =
      weight * blocks.iterator.map(blockUb).max * UbPad

    decodeIfNeeded()

    private def decodeIfNeeded(): Unit =
      if (docs == null && bi < blocks.length) {
        val blk = blocks(bi)
        docs = PostingBlocks.decodeDocs(blk)
        tfs = PostingBlocks.decodeTfs(blk)
        dls = PostingBlocks.decodeDls(blk)
        metrics.foreach(_.blocksDecoded.add(1))
      }

    def exhausted: Boolean = bi >= blocks.length
    def curDoc: Long = if (exhausted) Long.MaxValue else docs(pi)

    /** Same operation order as the exhaustive Column expression
      * `w * (tf*(k1+1)) / (tf + k1*((1-b) + (b*dl)/avgdl))` so scores agree
      * with the oracle plan to the last ulp per term. */
    def curScore: Double = {
      val tf = tfs(pi).toDouble
      val dl = dls(pi).toDouble
      (weight * (tf * (params.k1 + 1))) /
        (tf + params.k1 * ((1 - params.b) + (params.b * dl) / avgdl))
    }

    def next(): Unit = {
      pi += 1
      if (pi >= blocks(bi).n) { bi += 1; pi = 0; docs = null; decodeIfNeeded() }
    }

    /** Move to the first posting with doc >= d; skips whole blocks without
      * decoding them. */
    def advanceTo(d: Long): Unit = {
      if (exhausted || curDoc >= d) return
      while (bi < blocks.length && blocks(bi).max_doc < d) { bi += 1; pi = 0; docs = null }
      if (bi >= blocks.length) { docs = null; return }
      decodeIfNeeded()
      var lo = pi
      var hi = blocks(bi).n - 1
      if (docs(lo) >= d) return
      while (lo < hi) {
        val mid = (lo + hi + 1) >>> 1
        if (docs(mid) < d) lo = mid else hi = mid - 1
      }
      pi = lo + 1
      if (pi >= blocks(bi).n) { bi += 1; pi = 0; docs = null; decodeIfNeeded() }
    }

    /** Block-max bound for docs >= d (0 if none); no decode, no mutation. */
    def shallowUb(d: Long): Double = {
      var i = bi
      while (i < blocks.length && blocks(i).max_doc < d) i += 1
      if (i >= blocks.length) 0.0 else weight * blockUb(blocks(i)) * UbPad
    }

    /** max_doc of the block shallowUb(d) refers to (MaxValue if none). */
    def shallowMaxDoc(d: Long): Long = {
      var i = bi
      while (i < blocks.length && blocks(i).max_doc < d) i += 1
      if (i >= blocks.length) Long.MaxValue else blocks(i).max_doc
    }
  }

  /** Per-bucket top-k for one query. `prune = false` keeps the threshold
    * at −∞: every pivot is the smallest current doc and is fully scored,
    * in the same cursor and summation order as the pruned run. */
  private def wand(cursors0: Array[Cursor], k: Int,
      prune: Boolean = true): Iterator[(Long, Double)] = {
    val heap = mutable.PriorityQueue.empty[Hit](worstFirst)
    val all = cursors0.filterNot(_.exhausted)
    if (all.isEmpty) return Iterator.empty

    def threshold: Double =
      if (!prune || heap.size < k) Double.NegativeInfinity else heap.head.score
    def qualifies(s: Double, d: Long): Boolean =
      heap.size < k || {
        val w = heap.head
        s > w.score || (s == w.score && d < w.doc)
      }

    var done = false
    while (!done) {
      val live = all.filterNot(_.exhausted).sortBy(_.curDoc)
      if (live.isEmpty) done = true
      else {
        // pivot: minimal prefix whose global-ub sum could reach threshold
        var acc = 0.0
        var p = -1
        var i = 0
        while (p < 0 && i < live.length) {
          acc += live(i).globalUb
          if (acc >= threshold) p = i
          i += 1
        }
        if (p < 0) done = true // total bound below threshold: nothing left can qualify
        else {
          val pivotDoc = live(p).curDoc
          while (p + 1 < live.length && live(p + 1).curDoc == pivotDoc) p += 1

          if (live(0).curDoc == pivotDoc) {
            val t = threshold
            var bm = 0.0
            var j = 0
            // no block-max sum needed while the threshold is −∞
            while (t > Double.NegativeInfinity && j <= p) {
              bm += live(j).shallowUb(pivotDoc); j += 1
            }
            if (bm >= t) {
              // fully score the pivot
              var s = 0.0
              var j2 = 0
              while (j2 <= p) {
                if (live(j2).curDoc == pivotDoc) { s += live(j2).curScore; live(j2).next() }
                j2 += 1
              }
              if (qualifies(s, pivotDoc)) {
                heap.enqueue(Hit(pivotDoc, s))
                if (heap.size > k) heap.dequeue()
              }
            } else {
              // block-max skip: past the current blocks, capped by the next
              // cursor's doc so no contribution is ever missed
              var d2 = Long.MaxValue
              var j3 = 0
              while (j3 <= p) {
                val m = live(j3).shallowMaxDoc(pivotDoc)
                if (m < d2) d2 = m
                j3 += 1
              }
              var target = if (d2 == Long.MaxValue) Long.MaxValue else d2 + 1
              if (p + 1 < live.length && live(p + 1).curDoc < target)
                target = live(p + 1).curDoc
              var j4 = 0
              while (j4 <= p) { live(j4).advanceTo(target); j4 += 1 }
            }
          } else {
            // move lagging cursors up to the pivot
            var j5 = 0
            while (j5 < live.length && live(j5).curDoc < pivotDoc) {
              live(j5).advanceTo(pivotDoc)
              j5 += 1
            }
          }
        }
      }
    }
    heap.dequeueAll.reverse.iterator.map((h: Hit) => (h.doc, h.score))
  }
}
