package graft.query

import graft.SparkSpec
import graft.analysis.Analyzer
import graft.fixtures.SyntheticTranscripts
import graft.index.{BlockParams, IndexBuilder}

/** WAND losslessness: block-max WAND top-k must be rank-identical to the
  * exhaustive BM25 plan. Scores from the two paths can differ by float
  * re-association on multi-term sums, so comparison is tier-wise: the
  * non-tie prefix must match exactly; within a tie tier (scores within
  * 1e-9 relative) membership must come from the exhaustive tier.
  */
class BlockMaxWandSpec extends SparkSpec {

  private val analyzer = Analyzer.standard()

  // small vocab → heavy ties; tiny blocks/buckets → many groups exercised
  private lazy val searcher = {
    val turns = SyntheticTranscripts.df(spark, SyntheticTranscripts.Params(
      seed = 7L, nConvs = 120, maxTurnsPerConv = 6, vocabSize = 40,
      minLen = 3, maxLen = 30, partitions = 4))
    val idx = IndexBuilder.buildFromTurns(turns, analyzer).cache()
    new Searcher(idx, analyzer, BlockParams(blockSize = 16, bucketSpan = 64))
  }

  private def collectPairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.select("doc_ord", "score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  private def tol(s: Double): Double = 1e-9 * math.max(1.0, math.abs(s))

  private def assertRankIdentical(fullSorted: Seq[(Long, Double)], got: Seq[(Long, Double)], k: Int): Unit = {
    assert(got.size == math.min(k, fullSorted.size), "result size")
    // scores non-increasing
    got.sliding(2).foreach {
      case Seq((_, a), (_, b)) => assert(a >= b - tol(a), "descending scores")
      case _ =>
    }
    var i = 0
    while (i < got.size) {
      val (gd, gs) = got(i)
      val (ed, es) = fullSorted(i)
      if (gd == ed && math.abs(gs - es) <= tol(es)) i += 1
      else {
        // tie tier: all full-list docs with score within tol of this tier
        val tierScore = es
        val tier = fullSorted.filter { case (_, s) => math.abs(s - tierScore) <= tol(tierScore) }
          .map(_._1).toSet
        var j = i
        while (j < got.size && math.abs(got(j)._2 - tierScore) <= tol(tierScore)) {
          assert(tier.contains(got(j)._1),
            s"doc ${got(j)._1} (score ${got(j)._2}) not in exhaustive tie tier $tierScore")
          j += 1
        }
        assert(j > i, s"mismatch outside tie tolerance at rank $i: got=($gd,$gs) want=($ed,$es)")
        i = j
      }
    }
  }

  private val queries = Seq(
    "t000000",                       // hottest zipf term, single
    "t000003 t000011",               // two mid terms
    "hot0 t000001 t000020",          // hot + mid + rare
    "planteda plantedb",             // planted bigram terms
    "t000000 zzz_unknown",           // unknown term mixed in
    "t000030"                        // rare tail term
  )

  for (q <- queries; k <- Seq(1, 5, 25)) {
    test(s"WAND == exhaustive: '$q' k=$k") {
      val full = collectPairs(searcher.bm25All(q))
      val wand = collectPairs(searcher.bm25TopKWand(q, k))
      assertRankIdentical(full, wand, k)
    }
  }

  test("WAND on all-unknown query returns empty") {
    assert(searcher.bm25TopKWand("zzz yyy", 10).count() == 0)
  }

  test("BATCH WAND == exhaustive, per query, tie-aware (one plan for the set)") {
    val kws = queries ++ Seq("", "zzz yyy")
    for (k <- Seq(1, 5, 25)) {
      val batch = searcher.bm25TopKBatchWand(kws, k).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .groupBy(_._1).view
        .mapValues(_.sortBy(_._2).map(t => (t._3, t._4)).toSeq).toMap
      kws.zipWithIndex.foreach { case (kw, qi) =>
        val full = collectPairs(searcher.bm25All(kw))
        assertRankIdentical(full, batch.getOrElse(qi, Seq.empty), k)
      }
    }
  }

  private def batchRows(df: org.apache.spark.sql.DataFrame): Seq[(Int, Long, Long, Double)] =
    df.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq.sortBy(t => (t._1, t._2))

  private def ofQuery(rows: Seq[(Int, Long, Long, Double)], qi: Int): Seq[(Long, Double)] =
    rows.filter(_._1 == qi).map(t => (t._3, t._4))

  test("BATCH WAND matches the exhaustive batch plan's ranks (tie-aware)") {
    // exact row equality between the two batch modes (one kernel); both
    // tie-aware rank-identical to the independent bm25All reference
    val kws = queries
    val k = 10
    val exh = batchRows(searcher.bm25TopKBatch(kws, k))
    val wnd = batchRows(searcher.bm25TopKBatchWand(kws, k))
    assert(wnd == exh)
    kws.indices.foreach { qi =>
      assertRankIdentical(collectPairs(searcher.bm25All(kws(qi))), ofQuery(exh, qi), k)
    }
  }

  test("batch k edges: k <= 0 yields the empty frame, k = 1 and Int.MaxValue rank-identical") {
    val kws = queries :+ ""
    val full = kws.map(kw => collectPairs(searcher.bm25All(kw)))
    for (k <- Seq(0, -1)) {
      for (df <- Seq(searcher.bm25TopKBatch(kws, k), searcher.bm25TopKBatchWand(kws, k))) {
        assert(df.columns.toSeq == Seq("q_id", "rank", "doc_ord", "score"))
        assert(df.collect().isEmpty, s"k=$k")
      }
    }
    for (k <- Seq(1, Int.MaxValue)) {
      val exh = batchRows(searcher.bm25TopKBatch(kws, k))
      assert(batchRows(searcher.bm25TopKBatchWand(kws, k)) == exh, s"k=$k")
      kws.indices.foreach(qi => assertRankIdentical(full(qi), ofQuery(exh, qi), k))
    }
  }

  test("block table respects bucket boundaries and block size") {
    import org.apache.spark.sql.functions._
    val bad = searcher.blocks
      .filter(col("n") > 16 ||
        floor(col("min_doc") / 64) =!= col("bucket") ||
        floor(col("max_doc") / 64) =!= col("bucket") ||
        col("min_doc") > col("max_doc"))
      .count()
    assert(bad == 0)
    assert(searcher.blocks.select("bucket").distinct().count() > 1)
  }

  test("blocks decode back to the postings table exactly") {
    import spark.implicits._
    val fromBlocks = searcher.blocks.flatMap { b =>
      val docs = graft.index.PostingBlocks.decodeDocs(b)
      val tfs = graft.index.PostingBlocks.decodeTfs(b)
      docs.indices.map(i => (b.term_id, docs(i), tfs(i)))
    }.toDF("term_id", "doc_ord", "tf")
    val orig = searcher.index.postings.selectExpr("term_id", "doc_ord", "cast(tf as long) tf")
    assert(fromBlocks.except(orig).count() == 0)
    assert(orig.except(fromBlocks).count() == 0)
  }

  test("no-exchange doc-partitioned blocks: WAND rank-identical to exhaustive") {
    // buildFromTurns yields doc-disjoint postings partitions by construction
    // (ordinal order == partition order; narrow transforms after) — the
    // contract buildFromDocPartitioned needs
    val bp = BlockParams(blockSize = 16, bucketSpan = 64)
    val blk = graft.index.PostingBlocks
      .buildFromDocPartitioned(searcher.index.postings, bp).cache()
    val s2 = new Searcher(searcher.index, analyzer, bp, Some(blk))
    for (q <- queries; k <- Seq(1, 5, 25)) {
      val full = collectPairs(searcher.bm25All(q))
      val wand = collectPairs(s2.bm25TopKWand(q, k))
      assertRankIdentical(full, wand, k)
    }
    blk.unpersist()
  }

  test("overlapping blocks for one term fail loudly (build-contract guard)") {
    import spark.implicits._
    import graft.index.{BlockCodec, PostingBlockRow}
    def blk(docs: Array[Long]): PostingBlockRow =
      PostingBlockRow(1L, 0L, docs.min, docs.max, docs.length, 1L, 10L,
        BlockCodec.packDeltas(docs),
        BlockCodec.packVarints(Array.fill(docs.length)(1L)),
        BlockCodec.packVarints(Array.fill(docs.length)(10L)))
    val overlapping = Seq(blk(Array(1L, 5L)), blk(Array(3L, 8L))).toDS()
    val ex = intercept[Exception] {
      BlockMaxWand.topK(overlapping, Map(1L -> 1.0), 5,
        BlockParams(blockSize = 16, bucketSpan = 64), 10.0).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("overlapping posting blocks")))
  }
}
