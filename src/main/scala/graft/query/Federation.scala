package graft.query

import graft.analysis.Analyzer
import graft.index.{BlockParams, TextIndex}
import graft.storage.PersistedIndex
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scatter-gather search over a set of INDEPENDENTLY built index slices —
  * the deployment shape a 10^12-turn corpus actually uses: one index per
  * time slice (day/month of transcripts) or shard, each built with zero
  * cross-slice shuffle (slice builds are embarrassingly parallel jobs),
  * retention = drop a slice, incremental ingest = build only the new slice.
  *
  * The catch every sharded engine handles (Elasticsearch DFS query phase,
  * Lucene's distributed IDF) is GLOBAL STATISTICS: BM25/TF-IDF need the
  * corpus-wide `N`, `avgdl`, and per-term `df`, not the slice-local ones —
  * otherwise the same document scores differently depending on which slice
  * it landed in. All three are exactly mergeable from per-slice metadata:
  * `N = Σ numDocs`, `avgdl = Σ totalTokens / Σ numDocs` (both carried by
  * [[TextIndex]] — no corpus scan), and `df(t) = Σ slice df(t)` (one
  * vocab-sized dictionary lookup per slice). Scoring then runs per slice
  * with the GLOBAL weights injected, making every federated result
  * RANK-IDENTICAL (scores float-exact) to a monolithic index over the
  * union corpus — pinned in FederationSpec and the `ft_federated` oracle.
  *
  * Scale shape per query: each slice contributes its own pruned postings
  * scan and doc-level aggregation (the same plan the monolithic Searcher
  * compiles, typically served from disjoint executors), top-k queries cut
  * to k rows INSIDE each slice (TakeOrderedAndProject), and the gather
  * phase merges ≤ slices·k rows — the union never re-sorts a corpus-sized
  * set. Block-max WAND stays lossless under federation because block
  * maxima are stored as `(max_tf, min_dl)` and the score bound is computed
  * at query time from the injected global idf/avgdl.
  *
  * Doc ordinals are slice-local, so federated results expose the caller's
  * stable key columns (`tieCols`, e.g. `doc_id` or `conv_id, turn_idx`)
  * instead of `doc_ord`; ties rank by `tieCols` ascending. The monolithic
  * tie-break (doc_ord asc) coincides with this whenever ordinals were
  * assigned in `tieCols` order — the builder's stable-ordering contract.
  *
  * NOT federated (deliberate): `contextWindows` — conversations sliced by
  * time can SPAN slices, so context fetch belongs on the docs store, which
  * federation does not own. Percolation is index-free and needs no
  * federation. Everything else on the [[Searcher]] surface federates.
  */
final class Federation private (
    val sliceSearchers: Seq[Searcher],
    tieCols: Seq[String],
    // keymap-pruned home-slice key resolution (persisted slices built with
    // a keymap): reads only the hashed key bucket per slice instead of
    // scanning docs — the web-scale [[locate]] path. None = generic
    // docs-filter probe.
    keyLookup: Option[Seq[Any] => Option[(Int, Long)]] = None
) {
  require(sliceSearchers.nonEmpty, "federation needs at least one slice")
  require(tieCols.nonEmpty, "federation needs at least one tie-break key column")

  private val analyzer: Analyzer = sliceSearchers.head.analyzer
  private def tieAsc = tieCols.map(asc)

  /** Per-slice resolved terms with the GLOBAL document frequency
    * substituted: slice-local term_id/bucket (postings pruning stays
    * slice-correct), df summed across every slice that knows the term.
    * Query order is preserved per slice; terms unknown to a slice are
    * absent from that slice's seq (they cannot match there). The per-slice
    * dictionary lookups are independent vocab-sized collects, so they run
    * CONCURRENTLY — at realistic slice counts (30 day-slices) serializing
    * them would stack scheduler latency ahead of any scoring work. */
  private def resolveGlobal(terms: Seq[String]): Seq[Seq[ResolvedTerm]] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val perSlice: Seq[Map[String, ResolvedTerm]] = Await.result(
      Future.sequence(sliceSearchers.map(s =>
        Future(s.resolve(terms).map(rt => rt.term -> rt).toMap))),
      Duration.Inf)
    val globalDf: Map[String, Long] = terms.distinct.map { t =>
      t -> perSlice.flatMap(_.get(t)).map(_.df).sum
    }.toMap
    // cf merges the same way df does (Σ slice cf); -1 (unknown in ANY
    // slice dictionary) poisons the sum to "unknown" rather than a lie
    val globalCf: Map[String, Long] = terms.distinct.map { t =>
      val cfs = perSlice.flatMap(_.get(t)).map(_.cf)
      t -> (if (cfs.exists(_ < 0)) -1L else cfs.sum)
    }.toMap
    perSlice.map { m =>
      terms.flatMap(t => m.get(t).map(rt =>
        rt.copy(df = globalDf(t), cf = globalCf(t))))
    }
  }

  /** Schema-only empty frame: docs columns minus the slice-local ordinal. */
  private def emptyDocs(withScore: Boolean): DataFrame = {
    val base = sliceSearchers.head.index.docs.limit(0).drop("doc_ord")
    if (withScore) base.withColumn("score", lit(0.0)) else base
  }

  private def unionAll(parts: Seq[DataFrame]): Option[DataFrame] =
    parts.reduceOption(_ unionByName _)

  /** Scored docs (docs columns + `score`) from one slice: the slice's
    * pruned-postings BM25 aggregation with global weights, joined to the
    * slice docs, ordinal dropped. */
  private def slicedScores(s: Searcher, rts: Seq[ResolvedTerm]): DataFrame =
    s.index.docs
      .join(s.scoredMatches(rts, s.bm25Expr).select("doc_ord", "score"), "doc_ord")
      .drop("doc_ord")

  /** All matched docs with GLOBAL-stats BM25 scores (no top-k) — the
    * federated twin of [[Searcher.bm25All]], float-exact to the monolithic
    * scores. (score desc, tieCols asc). */
  def bm25All(keyword: String): DataFrame = {
    val rtss = resolveGlobal(analyzer.terms(keyword).distinct)
    val parts = sliceSearchers.zip(rtss).collect {
      case (s, rts) if rts.nonEmpty => slicedScores(s, rts)
    }
    unionAll(parts) match {
      case None      => emptyDocs(withScore = true)
      case Some(all) => all.orderBy(desc("score") +: tieAsc: _*)
    }
  }

  /** Federated BM25 top-k: each slice cuts to its own k
    * (TakeOrderedAndProject inside the slice), the gather merges
    * ≤ slices·k rows — correct because a doc's global rank is never better
    * than its slice rank. Rank-identical to the monolithic top-k up to the
    * tie-break key (see class doc). */
  def bm25TopK(keyword: String, k: Int): DataFrame = {
    val rtss = resolveGlobal(analyzer.terms(keyword).distinct)
    val parts = sliceSearchers.zip(rtss).collect {
      case (s, rts) if rts.nonEmpty =>
        slicedScores(s, rts).orderBy(desc("score") +: tieAsc: _*).limit(k)
    }
    unionAll(parts) match {
      case None      => emptyDocs(withScore = true)
      case Some(all) => all.orderBy(desc("score") +: tieAsc: _*).limit(k)
    }
  }

  /** Federated block-max WAND top-k — rank-identical to [[bm25TopK]]:
    * per-slice WAND over the slice's block table with GLOBAL idf/avgdl
    * injected (bounds recomputed from the stored `(max_tf, min_dl)`, so
    * pruning stays lossless under federated stats), per-slice k cut,
    * ≤ slices·k gather. One shared `metrics` accumulates skip rates
    * across slices.
    *
    * Tie-break caveat: WAND's slice-internal k cut breaks exact-score ties
    * by `doc_ord`, so rank identity at a slice's k boundary additionally
    * requires ordinals assigned in `tieCols` order — true for every index
    * this library builds (the builder's stable-ordering contract), but not
    * enforceable here without a corpus scan. A hand-assembled [[TextIndex]]
    * with ordinals out of key order can keep a different member of an
    * exact-score tie straddling the boundary. */
  def bm25TopKWand(keyword: String, k: Int,
      metrics: Option[WandMetrics] = None): DataFrame = {
    val rtss = resolveGlobal(analyzer.terms(keyword).distinct)
    val parts = sliceSearchers.zip(rtss).collect {
      case (s, rts) if rts.nonEmpty =>
        val weights = rts.map(rt => rt.termId -> s.bm25Idf(rt.df)).toMap
        s.index.docs
          .join(BlockMaxWand.topK(s.blocks, weights, k, s.blockParams,
            s.index.avgDocLen, metrics), "doc_ord")
          .drop("doc_ord")
          .orderBy(desc("score") +: tieAsc: _*)
          .limit(k)
    }
    unionAll(parts) match {
      case None      => emptyDocs(withScore = true)
      case Some(all) => all.orderBy(desc("score") +: tieAsc: _*).limit(k)
    }
  }

  /** Federated batch BM25 top-k — the query-set-replay shape
    * ([[Searcher.bm25TopKBatch]]) across slices: each slice runs the
    * monolithic per-doc-bucket batch kernel on its global-stats view
    * (global idf/avgdl injected, one concurrent dictionary pass for all
    * slices), so every slice emits at most k rows per query with no
    * (q_id, doc) exchange; those rows fetch their `tieCols` and one gather
    * window ranks ≤ slices·queries·k rows. Returns
    * `(q_id, rank, tieCols…, score)` — ranks and scores identical to the
    * monolithic batch path. Each slice cuts exact-score ties by `doc_ord`,
    * so [[bm25TopKWand]]'s tie-break caveat applies. k ≤ 0 yields no rows. */
  def bm25TopKBatch(keywords: Seq[String], k: Int): DataFrame =
    batchTopK(keywords, k, prune = false, metrics = None)

  /** [[bm25TopKBatch]] with block-max WAND pruning turned on in the same
    * per-slice kernel (bounds recomputed from the injected global stats, so
    * pruning stays lossless); rows are bit-identical to [[bm25TopKBatch]]'s
    * (pinned in FederationSpec). One shared `metrics` accumulates skip
    * rates across slices. */
  def bm25TopKBatchWand(keywords: Seq[String], k: Int,
      metrics: Option[WandMetrics] = None): DataFrame =
    batchTopK(keywords, k, prune = true, metrics)

  private def batchTopK(keywords: Seq[String], k: Int, prune: Boolean,
      metrics: Option[WandMetrics]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("q_id")).orderBy(desc("score") +: tieAsc: _*)
    val parts = slicesWithGlobalStats(keywords.flatMap(analyzer.terms(_)).distinct)
      .map { s =>
        s.index.docs.select(col("doc_ord") +: tieCols.map(col): _*)
          .join(s.batchTopK(keywords, k, prune, metrics).drop("rank"), "doc_ord")
          .drop("doc_ord")
      }
    unionAll(parts).get
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id") +: col("rank").cast("long").as("rank") +:
        tieCols.map(col) :+ col("score"): _*)
  }

  // --------------------------- global-vocabulary dictionary expansion

  /** Expansion terms satisfying `pred` against the GLOBAL vocabulary —
    * the step where naive per-slice expansion diverges from a monolithic
    * index: the monolithic cap keeps the `maxExpansions` highest-GLOBAL-df
    * terms, and a term's global df can put it in the global top-M even when
    * it makes no slice's local top-M (df spread thinly across slices), or
    * when it is known to only one slice. The merge is one distributed plan
    * over the slices' vocab-sized dictionaries — union of per-slice
    * dictionary scans, `groupBy(term).agg(sum(df))`, global
    * (df desc, term asc) top-M cut — so only ≤ `maxExpansions` terms ever
    * reach the driver; no slice vocabulary is collected. Ordering matches
    * [[Searcher.expand]] exactly (Σ slice df == monolithic df), so the
    * surviving expansion set is identical to the monolithic one. */
  private def expandGlobal(pred: org.apache.spark.sql.Column,
      maxExpansions: Int): Seq[String] = {
    require(maxExpansions > 0, s"maxExpansions must be > 0, got $maxExpansions")
    val parts = sliceSearchers.map(
      _.index.termDict.filter(pred).select(col("term"), col("df")))
    unionAll(parts).get
      .groupBy(col("term")).agg(sum(col("df")).as("df"))
      .orderBy(desc("df"), asc("term"))
      .limit(maxExpansions)
      .select("term").collect().map(_.getString(0)).toSeq
  }

  /** OR-match of a pre-expanded global term set: slice-local term ids with
    * GLOBAL df/cf substituted (so `ranked` TF-IDF weights are float-exact
    * to the monolithic scores), per-slice pruned postings scan + doc agg,
    * gather ordered (score desc,)? tieCols asc. */
  private def matchExpandedGlobal(terms: Seq[String], ranked: Boolean): DataFrame = {
    if (terms.isEmpty) return emptyDocs(ranked)
    val rtss = resolveGlobal(terms)
    val parts = sliceSearchers.zip(rtss).collect {
      case (s, rts) if rts.nonEmpty => s.matchExpanded(rts, ranked).drop("doc_ord")
    }
    unionAll(parts) match {
      case None      => emptyDocs(ranked)
      case Some(all) =>
        if (ranked) all.orderBy(desc("score") +: tieAsc: _*)
        else all.orderBy(tieAsc: _*)
    }
  }

  /** Federated PrefixQuery — identical semantics to
    * [[Searcher.prefixQuery]] over the union corpus: global-vocabulary
    * expansion (see [[expandGlobal]]), then a per-slice OR match. */
  def prefixQuery(prefix: String, ranked: Boolean = false,
      maxExpansions: Int = 128): DataFrame = {
    if (prefix.isEmpty) return emptyDocs(ranked)
    matchExpandedGlobal(
      expandGlobal(col("term").startsWith(prefix), maxExpansions), ranked)
  }

  /** Federated FuzzyQuery — [[Searcher.fuzzyQuery]] over the union corpus:
    * the edit-distance expansion runs against the merged global vocabulary
    * with global-df cap ordering. */
  def fuzzyQuery(term: String, maxEdits: Int = 1, ranked: Boolean = false,
      maxExpansions: Int = 128): DataFrame =
    analyzer.terms(term).headOption match {
      case None    => emptyDocs(ranked)
      case Some(t) =>
        matchExpandedGlobal(
          expandGlobal(Searcher.fuzzyPred(t, maxEdits), maxExpansions), ranked)
    }

  /** Federated WildcardQuery (`*` any run, `?` one char, anchored). */
  def wildcardQuery(pattern: String, ranked: Boolean = false,
      maxExpansions: Int = 128): DataFrame = {
    if (pattern.isEmpty) return emptyDocs(ranked)
    matchExpandedGlobal(
      expandGlobal(col("term").rlike(Searcher.wildcardRegex(pattern)),
        maxExpansions), ranked)
  }

  /** Federated autocomplete — [[Searcher.suggest]] over the union corpus:
    * per-slice prefix scans merged with Σ df, global (df desc, term asc)
    * top-n. A slice-exclusive completion still surfaces, with its true
    * global frequency. */
  def suggest(prefix: String, n: Int = 10): DataFrame = {
    val parts = sliceSearchers.map(
      _.index.termDict.filter(col("term").startsWith(prefix))
        .select(col("term"), col("df")))
    unionAll(parts).get
      .groupBy(col("term")).agg(sum(col("df")).as("df"))
      .orderBy(desc("df"), asc("term"))
      .limit(n)
  }

  /** Federated spell correction — [[Searcher.didYouMean]] over the union
    * corpus: per-slice length-windowed dictionary scans merged with Σ df
    * (the edit distance is a pure function of the term, so the per-term
    * merge is exact), then ONE global (distance asc, df desc, term asc)
    * top-n. A slice-exclusive candidate still surfaces, ranked by its true
    * corpus-wide frequency — per-slice correction lists would diverge
    * whenever candidates' local df ordering differs from the global one. */
  def didYouMean(term: String, maxEdits: Int = 2, n: Int = 5): DataFrame = {
    val normed = analyzer.terms(term).headOption
    if (normed.isEmpty)
      return sliceSearchers.head.index.termDict
        .select(col("term"), col("df")).withColumn("distance", lit(0)).limit(0)
    val t = normed.get
    val parts = sliceSearchers.map(
      _.index.termDict
        .filter(length(col("term"))
          .between(t.length - maxEdits, t.length + maxEdits) &&
          col("term") =!= t)
        .select(col("term"), col("df")))
    unionAll(parts).get
      .groupBy(col("term")).agg(sum(col("df")).as("df"))
      .withColumn("distance", levenshtein(col("term"), lit(t)))
      .filter(col("distance") <= maxEdits)
      .select(col("term"), col("df"), col("distance"))
      .orderBy(asc("distance"), desc("df"), asc("term"))
      .limit(n)
  }

  /** Term vectors of one document addressed by its stable key — tf and
    * positions are properties of the document alone, so the home slice's
    * view IS the union-index view; only the home slice is read. */
  def termVectors(key: Seq[Any]): DataFrame =
    locate(key) match {
      case None           => sliceSearchers.head.termVectors(-1L).limit(0)
      case Some((i, ord)) => sliceSearchers(i).termVectors(ord)
    }

  /** Per-term BM25 explanation with FEDERATED statistics: idf weighs with
    * the merged global df (stats override), tf/dl come from the doc's home
    * slice — the contributions sum to exactly the doc's federated
    * [[bm25All]] score, the property the monolithic explain carries. */
  def explainScore(keyword: String, key: Seq[Any]): DataFrame =
    locate(key) match {
      case None => sliceSearchers.head.explainScore(keyword, -1L).limit(0)
      case Some((i, ord)) =>
        slicesWithGlobalStats(analyzer.terms(keyword).distinct)(i)
          .explainScore(keyword, ord)
    }

  /** Federated MatchAllQuery: every document of every slice, `tieCols`
    * order (the monolithic doc_ord order coincides under the builder's
    * stable-ordering contract). */
  def matchAll(): DataFrame =
    unionAll(sliceSearchers.map(_.matchAll().drop("doc_ord"))).get
      .orderBy(tieAsc: _*)

  /** Federated ranked MatchQuery (TF-IDF — the reference's sorter): each
    * slice scores with the merged global df injected into its tf-idf
    * weights (tf and doc length are doc-local), float-exact to monolithic.
    * AND with a term unknown to a slice short-circuits to empty THERE
    * (none of its docs can contain the term) — exactly the monolithic
    * per-document semantics. */
  def matchQueryRanked(keyword: String, logic: Logic): DataFrame = {
    val parts = slicesWithGlobalStats(analyzer.terms(keyword).distinct)
      .map(_.matchQueryRanked(keyword, logic).drop("doc_ord"))
    unionAll(parts).get.orderBy(desc("score") +: tieAsc: _*)
  }

  /** Federated LM-Dirichlet full ranking ([[lmDirichletTopK]] without the
    * k-cut): global cf through the stats override, global |C| already
    * injected into every slice — query-likelihood scores float-exact. */
  def lmDirichletAll(keyword: String, mu: Double = 2000.0): DataFrame = {
    val parts = slicesWithGlobalStats(analyzer.terms(keyword).distinct)
      .map(_.lmDirichletAll(keyword, mu).drop("doc_ord"))
    unionAll(parts).get.orderBy(desc("score") +: tieAsc: _*)
  }

  /** Federated RegexpQuery — [[Searcher.regexpQuery]] over the union
    * corpus: the raw-regex expansion runs against the merged global
    * vocabulary with global-df cap ordering, like wildcard/prefix/fuzzy. */
  def regexpQuery(regex: String, ranked: Boolean = false,
      maxExpansions: Int = 128): DataFrame = {
    if (regex.isEmpty) return emptyDocs(ranked)
    matchExpandedGlobal(
      expandGlobal(col("term").rlike("^(?:" + regex + ")$"), maxExpansions),
      ranked)
  }

  /** Federated TermRangeQuery: the lexicographic dictionary slice
    * [lo, hi] (open ends on null/empty) over the merged vocabulary. */
  def termRangeQuery(lo: String, hi: String, ranked: Boolean = false,
      maxExpansions: Int = 128): DataFrame = {
    val loP = Option(lo).filter(_.nonEmpty).map(col("term") >= _)
    val hiP = Option(hi).filter(_.nonEmpty).map(col("term") <= _)
    val pred = (loP.toSeq ++ hiP.toSeq).reduceOption(_ && _).getOrElse(lit(true))
    matchExpandedGlobal(expandGlobal(pred, maxExpansions), ranked)
  }

  /** Federated MatchQuery (AND/OR), unranked. Slice-local evaluation is
    * already globally correct: a term absent from a slice's dictionary is
    * absent from the slice's corpus, so AND yields nothing there and OR
    * drops the term — exactly the monolithic semantics. Results ordered by
    * `tieCols`. */
  def matchQuery(keyword: String, logic: Logic): DataFrame = {
    val parts = sliceSearchers.map(_.matchQuery(keyword, logic).drop("doc_ord"))
    unionAll(parts).get.orderBy(tieAsc: _*)
  }

  /** Federated total-hits count: Σ slice counts (disjoint corpora). */
  def countMatches(keyword: String, logic: Logic): Long =
    sliceSearchers.map(_.countMatches(keyword, logic)).sum

  /** Federated PhraseQuery: positional matching is per-doc, so slice
    * results union losslessly. `ranked` scores the matched docs with
    * TF-IDF over the phrase terms carrying the MERGED global df (the
    * stats-override views) — float-exact to monolithic. Ordered by
    * (score desc,)? `tieCols`. */
  def phraseQuery(phrase: String, ranked: Boolean = false, slop: Int = 0,
      inOrder: Boolean = false): DataFrame = {
    val slices =
      if (ranked) slicesWithGlobalStats(analyzer.terms(phrase).distinct)
      else sliceSearchers
    val parts = slices.map(
      _.phraseQuery(phrase, ranked, slop, inOrder).drop("doc_ord"))
    val all = unionAll(parts).get
    if (ranked) all.orderBy(desc("score") +: tieAsc: _*)
    else all.orderBy(tieAsc: _*)
  }

  /** Federated facet counts: per-slice facet aggregations re-aggregated —
    * the gather merges facet-sized partials, never doc rows. */
  def facetCounts(keyword: String, logic: Logic, facetCol: String): DataFrame = {
    val parts = sliceSearchers.map(_.facetCounts(keyword, logic, facetCol))
    unionAll(parts).get
      .groupBy(col(facetCol)).agg(sum("n_docs").as("n_docs"))
  }

  /** Federated boolean query tree — [[Searcher.boolQuery]] over the union
    * corpus. Leaf membership is a per-document decision, so slice results
    * union losslessly: a term or phrase slot unknown to a slice's
    * dictionary is absent from every document of that slice, which is
    * exactly the static fold the slice compiler applies. Fuzzy leaves
    * expand against each slice's own vocabulary — identical to monolithic
    * whenever the expansion fits `maxExpansions` (the usual case); a
    * super-cap expansion truncates per slice instead of globally. Ordered
    * by `tieCols`. */
  def boolQuery(q: BoolQuery): DataFrame = {
    val parts = sliceSearchers.map(_.boolQuery(q).drop("doc_ord"))
    unionAll(parts).get.orderBy(tieAsc: _*)
  }

  /** Federated ranked tree — [[Searcher.boolQueryRanked]] over the union
    * corpus: each slice compiles the SAME tree with the GLOBAL document
    * frequencies injected into its positive-leaf BM25 weights (slices
    * already carry the global N/avgdl), so scores are float-exact to a
    * monolithic index. Fuzzy leaves are refused in ranked mode — their
    * dictionary expansion (and the expansion's df weights) would derive
    * from each slice's local vocabulary; use [[fuzzyQuery]](ranked = true)
    * for federated fuzzy ranking. */
  def boolQueryRanked(q: BoolQuery): DataFrame = {
    def hasFuzzy(n: BoolQuery): Boolean = n match {
      case BAnd(cs)  => cs.exists(hasFuzzy)
      case BOr(cs)   => cs.exists(hasFuzzy)
      case BNot(c)   => hasFuzzy(c)
      case _: BFuzzy => true
      case _         => false
    }
    require(!hasFuzzy(q),
      "federated ranked trees do not support fuzzy leaves (per-slice " +
        "expansion would diverge); use fuzzyQuery(ranked = true) instead")
    def treeTerms(n: BoolQuery): Seq[String] = n match {
      case BAnd(cs)         => cs.flatMap(treeTerms)
      case BOr(cs)          => cs.flatMap(treeTerms)
      case BNot(c)          => treeTerms(c)
      case BTerm(kw, _, _)  => analyzer.terms(kw)
      case BPhrase(p, _, _) => analyzer.terms(p)
      case other => throw new IllegalArgumentException(s"not a leaf: $other")
    }
    val dfOverride = resolveGlobal(treeTerms(q).distinct)
      .flatten.map(rt => rt.term -> rt.df).toMap
    val parts = sliceSearchers.map(
      _.boolQueryRankedGlobal(q, dfOverride).drop("doc_ord"))
    unionAll(parts).get.orderBy(desc("score") +: tieAsc: _*)
  }

  /** Federated query string — [[Searcher.queryString]]: parsed ONCE on the
    * driver, then dispatched to the federated tree paths. */
  def queryString(s: String, ranked: Boolean = false): DataFrame = {
    val tree = QueryString.parse(s)
    if (ranked) boolQueryRanked(tree) else boolQuery(tree)
  }

  /** Federated significant_terms — [[Searcher.significantTerms]] over the
    * union corpus: per-slice `(term, df_in)` matched-set aggregations merge
    * by Σ (slices are disjoint, so df_in and n_matched sum losslessly), and
    * lift is recomputed from the MERGED global df and the global N —
    * float-exact to monolithic because the double divisions run on
    * identical integer inputs in the identical order. The gather merges
    * vocab-bounded partials, never doc rows; each slice keeps
    * significantTerms' documented matched-set-proportional scan cost. */
  def significantTerms(keyword: String, logic: Logic, topN: Int = 10,
      minDocCount: Long = 3): DataFrame = {
    val spark = sliceSearchers.head.index.termDict.sparkSession
    def empty = spark.emptyDataFrame
      .withColumn("term", lit("")).withColumn("df_in", lit(0L))
      .withColumn("df", lit(0L)).withColumn("lift", lit(0.0)).limit(0)
    val parts = sliceSearchers.flatMap(_.matchedDfIn(keyword, logic))
    val nMatched = parts.map(_._2).sum
    if (parts.isEmpty || nMatched == 0) return empty
    val dfIn = unionAll(parts.map(_._1)).get
      .groupBy(col("term")).agg(sum(col("df_in")).as("df_in"))
    val gdf = unionAll(sliceSearchers.map(
      _.index.termDict.select(col("term"), col("df")))).get
      .groupBy(col("term")).agg(sum(col("df")).as("df"))
    dfIn.join(gdf, "term")
      .filter(col("df_in") >= minDocCount)
      .withColumn("lift",
        (col("df_in").cast("double") / lit(nMatched.toDouble)) /
          (col("df").cast("double") / lit(numDocs.toDouble)))
      .select("term", "df_in", "df", "lift")
      .orderBy(desc("lift"), asc("term"))
      .limit(topN)
  }

  /** Federated minimum_should_match, unranked: the quota is decided per
    * document (distinct matched terms), so slice results union losslessly —
    * a slice resolving fewer than `minShouldMatch` of the query terms
    * short-circuits to empty there, which is exactly right (none of its
    * docs can contain terms absent from its whole corpus slice). For ranked
    * msm semantics compose [[bm25TopK]]-style global scoring. */
  def matchQueryMsm(keyword: String, minShouldMatch: Int): DataFrame = {
    val parts = sliceSearchers.map(
      _.matchQueryMsm(keyword, minShouldMatch).drop("doc_ord"))
    unionAll(parts).get.orderBy(tieAsc: _*)
  }

  /** Federated sort-by-field top-k: per-slice TakeOrdered k-cuts merge —
    * every global top-k row ranks ≤ k within its own slice — and the
    * gather re-sorts ≤ slices·k rows. Monolithic tie-break (doc_ord asc)
    * coincides with `tieCols` under the builder's stable-ordering
    * contract. */
  def matchTopKSortBy(keyword: String, logic: Logic, sortCol: String, k: Int,
      ascending: Boolean = true): DataFrame = {
    val key = if (ascending) asc(sortCol) else desc(sortCol)
    val parts = sliceSearchers.map(
      _.matchTopKSortBy(keyword, logic, sortCol, k, ascending).drop("doc_ord"))
    unionAll(parts).get.orderBy(key +: tieAsc: _*).limit(k)
  }

  /** Federated field collapsing with GLOBAL-stats scores: each slice scores
    * with the merged df ([[resolveGlobal]] — slice-local collapse scoring
    * would mis-rank), collapses to its slice-best doc per group, and cuts
    * to k. The cut is lossless: a global top-k group's best doc outranks
    * all but at most k-1 other groups ANYWHERE, so it survives its own
    * slice's collapsed top-k. The gather re-collapses groups spanning
    * slices over ≤ slices·k rows. */
  def bm25TopKCollapse(keyword: String, groupCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rtss = resolveGlobal(analyzer.terms(keyword).distinct)
    val parts = sliceSearchers.zip(rtss).collect {
      case (s, rts) if rts.nonEmpty =>
        val w = Window.partitionBy(col(groupCol))
          .orderBy(desc("score") +: tieAsc: _*)
        s.index.docs
          .join(s.scoredMatches(rts, s.bm25Expr).select("doc_ord", "score"),
            "doc_ord")
          .drop("doc_ord")
          .withColumn("grp_rank", row_number().over(w))
          .filter(col("grp_rank") === 1).drop("grp_rank")
          .orderBy(desc("score") +: tieAsc: _*).limit(k)
    }
    unionAll(parts) match {
      case None => emptyDocs(withScore = true).limit(0)
      case Some(all) =>
        val w2 = Window.partitionBy(col(groupCol))
          .orderBy(desc("score") +: tieAsc: _*)
        all.withColumn("grp_rank", row_number().over(w2))
          .filter(col("grp_rank") === 1).drop("grp_rank")
          .orderBy(desc("score") +: tieAsc: _*).limit(k)
    }
  }

  /** Federated hit-term highlighting: which query terms each matched doc
    * contains is a per-document read of the doc's OWN slice postings —
    * lossless union (a slice-unknown term is absent from its docs, so the
    * AND fold matches monolithic membership slice by slice). */
  def highlightTerms(keyword: String, logic: Logic): DataFrame = {
    val parts = sliceSearchers.map(
      _.highlightTerms(keyword, logic).drop("doc_ord"))
    unionAll(parts).get.orderBy(tieAsc: _*)
  }

  /** Federated snippets: first-hit windows are per-document (position from
    * the doc's own slice posting, text re-analyzed per row) — lossless
    * union. */
  def snippet(keyword: String, window: Int = 2): DataFrame = {
    val parts = sliceSearchers.map(_.snippet(keyword, window).drop("doc_ord"))
    unionAll(parts).get.orderBy(tieAsc: _*)
  }

  private def keyPredOf(key: Seq[Any]): Column =
    tieCols.zip(key).map { case (c, v) => col(c) === lit(v) }.reduce(_ && _)

  /** Home-slice lookup by stable key — the addressing step every
    * single-document federated read shares ([[moreLikeThis]],
    * [[termVectors]], [[explainScore]]): concurrent per-slice key probes;
    * at most one slice may hold the key (disjoint slice corpora). Returns
    * (slice index, slice-local ordinal). */
  private def locate(key: Seq[Any]): Option[(Int, Long)] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    require(key.size == tieCols.size,
      s"key needs one value per tie column $tieCols, got $key")
    if (keyLookup.isDefined) return keyLookup.get(key)
    val pred = keyPredOf(key)
    val located: Seq[(Int, Long)] = Await.result(
      Future.sequence(sliceSearchers.zipWithIndex.map { case (s, i) =>
        Future(s.index.docs.filter(pred).select(col("doc_ord"))
          .collect().toSeq.map(r => (i, r.getLong(0))))
      }), Duration.Inf).flatten
    require(located.size <= 1,
      s"tie key ${key.mkString(",")} matches ${located.size} documents — " +
        "a stable key must be unique across slices")
    located.headOption
  }

  /** Federated MoreLikeThis — [[Searcher.moreLikeThis]] over the union
    * corpus, the source document addressed by its stable tie key (`key`
    * aligns with `tieCols`; slice ordinals are local, so ordinals can't
    * address across slices). Three-step, float-exact to monolithic:
    * (1) locate the home slice by key ([[locate]]); (2) select the
    * `maxQueryTerms` most characteristic source terms by
    * tf · tf-idf-weight over the MERGED global df (ties term asc) — tf
    * comes from the home slice's d_group-pruned posting rows (a doc lives
    * in exactly one slice, so slice tf is union tf), df from
    * [[resolveGlobal]], and the weight formula runs on the injected global
    * N — identical selection to a monolithic union index; (3) the standard
    * federated ranked OR over the selected terms with global-df BM25
    * weights, source doc excluded by key. */
  def moreLikeThis(key: Seq[Any], maxQueryTerms: Int = 10,
      k: Int = 10): DataFrame = {
    def keyPred: Column = keyPredOf(key)
    val located = locate(key)
    if (located.isEmpty) return emptyDocs(withScore = true).limit(0)
    val (home, docOrd) = located.get
    val homeS = sliceSearchers(home)
    val srcTf: Map[String, Long] = homeS.termVectors(docOrd)
      .select(col("term"), col("tf")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    if (srcTf.isEmpty) return emptyDocs(withScore = true).limit(0)
    val rtss = resolveGlobal(srcTf.keys.toSeq.sorted)
    val globalDf: Map[String, Long] =
      rtss.flatten.map(rt => rt.term -> rt.df).toMap
    val top: Set[String] = srcTf.keys.toSeq
      .map(t => (t, srcTf(t) * homeS.tfIdfWeight(globalDf(t))))
      .sortBy { case (t, w) => (-w, t) }
      .take(maxQueryTerms).map(_._1).toSet
    val parts = sliceSearchers.zip(rtss).collect {
      case (s, rts) if rts.exists(rt => top(rt.term)) =>
        slicedScores(s, rts.filter(rt => top(rt.term))).filter(!keyPred)
    }
    unionAll(parts) match {
      case None      => emptyDocs(withScore = true).limit(0)
      case Some(all) => all.orderBy(desc("score") +: tieAsc: _*).limit(k)
    }
  }

  /** Federated match_phrase_prefix — [[Searcher.matchPhrasePrefix]] over
    * the union corpus: the final-slot expansion runs against the MERGED
    * global vocabulary with global-df cap ordering ([[expandGlobal]] — a
    * per-slice expansion would diverge exactly like prefix/fuzzy), then
    * each slice evaluates the positional plan with its own term ids
    * ([[Searcher.matchPhrasePrefixResolved]]): expansions unknown to a
    * slice are dropped there (absent from its whole corpus slice), a slice
    * missing any exact term contributes nothing — both exactly the
    * monolithic per-document semantics. `ranked` scores with TF-IDF over
    * the exact terms + expansions with the merged global df injected —
    * float-exact to monolithic. */
  def matchPhrasePrefix(phrase: String, slop: Int = 0,
      maxExpansions: Int = 128, ranked: Boolean = false): DataFrame = {
    require(maxExpansions > 0, s"maxExpansions must be > 0, got $maxExpansions")
    val qTerms = analyzer.terms(phrase)
    if (qTerms.isEmpty) return emptyDocs(ranked)
    val exact = qTerms.init
    val prefix = qTerms.last
    val expTerms = expandGlobal(col("term").startsWith(prefix), maxExpansions)
    if (expTerms.isEmpty) return emptyDocs(ranked)
    val rtss = resolveGlobal((exact ++ expTerms).distinct)
    val parts = sliceSearchers.zip(rtss).flatMap { case (s, rts) =>
      val byTerm = rts.map(rt => rt.term -> rt).toMap
      val exactInOrder = exact.map(byTerm.get)
      val expRts = expTerms.flatMap(byTerm.get)
      if (exactInOrder.exists(_.isEmpty) || expRts.isEmpty) None
      else Some(
        s.matchPhrasePrefixResolved(exactInOrder.flatten, expRts, slop, ranked)
          .drop("doc_ord"))
    }
    unionAll(parts) match {
      case None => emptyDocs(ranked)
      case Some(all) =>
        if (ranked) all.orderBy(desc("score") +: tieAsc: _*)
        else all.orderBy(tieAsc: _*)
    }
  }

  /** Federated rescore window — [[Searcher.bm25TopKRescore]] over the union
    * corpus: the window is a GLOBAL top-`windowSize`, so phase one runs the
    * standard scatter-gather cut (per-slice windowSize cut with global-df
    * scores, gather re-sorts ≤ slices·windowSize rows) in the SAME
    * quantized (score, tie-key) order the monolithic window boundary uses —
    * reduce-order float jitter can't flip window membership. Phase two
    * rescores each window doc on its HOME slice (slice provenance kept
    * through the gather): the phrase's positional evaluation and its BM25
    * rescore weights run per slice with the merged global df injected, with
    * work window-proportional via the same broadcast-ordinal semi-joins as
    * the monolithic path. Final scores `queryWeight · bm25 +
    * rescoreWeight · phraseBm25` merge across ≤ windowSize rows. */
  def bm25TopKRescore(keyword: String, rescorePhrase: String,
      windowSize: Int, k: Int, queryWeight: Double = 1.0,
      rescoreWeight: Double = 1.0, slop: Int = 0,
      inOrder: Boolean = false): DataFrame = {
    require(windowSize >= k,
      s"windowSize ($windowSize) must be >= k ($k): results come from the window")
    val spark = sliceSearchers.head.index.docs.sparkSession
    import spark.implicits._
    val kwTerms = analyzer.terms(keyword).distinct
    val phTerms = analyzer.terms(rescorePhrase).distinct
    val slices = slicesWithGlobalStats((kwTerms ++ phTerms).distinct)
    val scoreQ = round(col("score"), Searcher.PageGrain)
    val parts = slices.zipWithIndex.flatMap { case (s, i) =>
      val rts = s.resolve(kwTerms)
      if (rts.isEmpty) None
      else Some(
        s.index.docs.select(col("doc_ord") +: tieCols.map(col): _*)
          .join(s.scoredMatches(rts, s.bm25Expr).select("doc_ord", "score"),
            "doc_ord")
          .withColumn("_slice", lit(i))
          .orderBy(scoreQ.desc +: tieAsc: _*)
          .limit(windowSize))
    }
    if (parts.isEmpty) return emptyDocs(withScore = true).limit(0)
    val winRows = unionAll(parts).get
      .orderBy(scoreQ.desc +: tieAsc: _*)
      .limit(windowSize)
      .select(col("_slice"), col("doc_ord"), col("score"))
      .collect()
    if (winRows.isEmpty) return emptyDocs(withScore = true).limit(0)
    val parts2 = winRows.groupBy(_.getInt(0)).toSeq.map { case (i, rows) =>
      val s = slices(i)
      val win = rows.map(r => (r.getLong(1), r.getDouble(2))).toSeq
        .toDF("doc_ord", "score")
      val winOrds = win.select("doc_ord")
      val combined =
        s.phraseMatch(rescorePhrase, slop, inOrder, among = Some(winOrds)) match {
          case None => win.withColumn("score", col("score") * queryWeight)
          case Some((matched, prts)) =>
            val rescored = s.scoredMatches(prts, s.bm25Expr, among = Some(winOrds))
              .join(matched, Seq("doc_ord"), "left_semi")
              .select(col("doc_ord"), col("score").as("rescore"))
            win.join(rescored, Seq("doc_ord"), "left")
              .withColumn("score", col("score") * queryWeight +
                coalesce(col("rescore"), lit(0.0)) * rescoreWeight)
              .drop("rescore")
        }
      s.index.docs.join(combined.select("doc_ord", "score"), "doc_ord")
        .drop("doc_ord")
    }
    unionAll(parts2).get.orderBy(desc("score") +: tieAsc: _*).limit(k)
  }

  /** Slices re-viewed with the corpus-wide statistics substituted for the
    * given terms: every scoring surface on the returned searchers weighs
    * with global statistics while postings pruning and term ids stay
    * slice-local — the general federation hook behind dis_max / boosting /
    * function_score / grouped / LM / rescore / paging. The views carry the
    * FULL per-slice resolutions from [[resolveGlobal]]'s one concurrent
    * pass ([[Searcher.withPreResolved]]), so per-slice query compilation
    * runs ZERO further dictionary jobs for the covered terms — without
    * this, every slice re-resolved serially at plan build, stacking a
    * dictionary job per slice per query at realistic slice counts. */
  private def slicesWithGlobalStats(terms: Seq[String]): Seq[Searcher] = {
    val covered = terms.toSet
    sliceSearchers.zip(resolveGlobal(terms)).map { case (s, rts) =>
      s.withPreResolved(covered, rts.map(rt => rt.term -> rt).toMap)
    }
  }

  /** Federated dis_max: per-slice evaluation with global df weights, then
    * the standard top-k merge — a doc lives in exactly one slice, so its
    * combined clause score is complete there. */
  def disMaxTopK(clauses: Seq[String], k: Int,
      tieBreaker: Double = 0.0): DataFrame = {
    val parts = slicesWithGlobalStats(clauses.flatMap(analyzer.terms(_)).distinct)
      .map(_.disMaxTopK(clauses, k, tieBreaker).drop("doc_ord"))
    unionAll(parts).get.orderBy(desc("score") +: tieAsc: _*).limit(k)
  }

  /** Federated boosting query: positive BM25 with global weights, negative
    * demotion decided per document (slice-local membership is globally
    * correct) — demoted scores are final before each slice's k-cut. */
  def bm25TopKBoosting(positive: String, negative: String,
      negativeBoost: Double, k: Int, negLogic: Logic = Or): DataFrame = {
    val parts = slicesWithGlobalStats(analyzer.terms(positive).distinct)
      .map(_.bm25TopKBoosting(positive, negative, negativeBoost, k, negLogic)
        .drop("doc_ord"))
    unionAll(parts).get.orderBy(desc("score") +: tieAsc: _*).limit(k)
  }

  /** Federated function_score: the factor is a per-document docs-column
    * expression, so the multiplied scores are final per slice. */
  def bm25TopKFunctionScore(keyword: String, factor: Column, k: Int): DataFrame = {
    val parts = slicesWithGlobalStats(analyzer.terms(keyword).distinct)
      .map(_.bm25TopKFunctionScore(keyword, factor, k).drop("doc_ord"))
    unionAll(parts).get.orderBy(desc("score") +: tieAsc: _*).limit(k)
  }

  /** Federated LM-Dirichlet: collection statistics merge exactly like
    * BM25's — global cf via the stats override, global C (Σ tokens) already
    * injected into every slice — so query-likelihood scores are float-exact
    * to monolithic. */
  def lmDirichletTopK(keyword: String, k: Int, mu: Double = 2000.0): DataFrame = {
    val parts = slicesWithGlobalStats(analyzer.terms(keyword).distinct)
      .map(_.lmDirichletTopK(keyword, k, mu).drop("doc_ord"))
    unionAll(parts).get.orderBy(desc("score") +: tieAsc: _*).limit(k)
  }

  /** Federated filter context: the predicate restricts per-document rows
    * (slice-local is globally correct), scores stay global via the stats
    * override — standard top-k merge. */
  def bm25TopKFiltered(keyword: String, docFilter: Column, k: Int): DataFrame = {
    val parts = slicesWithGlobalStats(analyzer.terms(keyword).distinct)
      .map(_.bm25TopKFiltered(keyword, docFilter, k).drop("doc_ord"))
    unionAll(parts).get.orderBy(desc("score") +: tieAsc: _*).limit(k)
  }

  /** Federated cursor pagination (search_after): every slice pages in the
    * SAME quantized (score, stable-key) order the monolithic cursor uses —
    * slice ordinals are local, so the federated cursor is (score, tie-key
    * value) — and the gather re-sorts ≤ slices·k rows. Deep pages stay at
    * page-one cost per slice. Single-key federations only: the cursor
    * comparison is a one-column strict inequality. */
  def bm25TopKFirstPage(keyword: String, k: Int): DataFrame =
    pageFed(keyword, k, None)

  /** Page following the cursor `(afterScore, afterKey)` — take both from
    * the previous page's last row (`afterKey` = its tie-key value). */
  def bm25TopKAfter(keyword: String, k: Int, afterScore: Double,
      afterKey: Long): DataFrame =
    pageFed(keyword, k, Some((afterScore, afterKey)))

  private def pageFed(keyword: String, k: Int,
      cursor: Option[(Double, Long)]): DataFrame = {
    require(tieCols.size == 1,
      s"federated search_after needs a single stable key column, got $tieCols")
    val tieCol = tieCols.head
    val terms = analyzer.terms(keyword).distinct
    val slices = slicesWithGlobalStats(terms)
    val scoreQ = round(col("score"), Searcher.PageGrain)
    val parts = slices.map { s =>
      val rts = s.resolve(terms)
      if (rts.isEmpty) emptyDocs(withScore = true).limit(0)
      else {
        val scored0 = s.index.docs
          .join(s.scoredMatches(rts, s.bm25Expr).select("doc_ord", "score"),
            "doc_ord")
          .drop("doc_ord")
        val scored = cursor match {
          case None => scored0
          case Some((afterScore, afterKey)) =>
            val cursorQ = BigDecimal(afterScore)
              .setScale(Searcher.PageGrain, BigDecimal.RoundingMode.HALF_UP)
              .toDouble
            scored0.filter(scoreQ < cursorQ ||
              (scoreQ === cursorQ && col(tieCol) > afterKey))
        }
        scored.orderBy(scoreQ.desc, col(tieCol).asc).limit(k)
      }
    }
    unionAll(parts).get.orderBy(scoreQ.desc, col(tieCol).asc).limit(k)
  }

  /** Federated grouped relevance (has_child score modes): groups SPAN
    * slices, so no per-slice k-cut is sound for sum/avg — each slice
    * returns its group-sized partial aggregate (`sum`/`max`/`min` merge
    * losslessly; `avg` = Σ slice sums / Σ slice counts) and ONE
    * group-keyed merge ranks the re-aggregated groups. The gather is
    * group-bounded, never doc-bounded. */
  def bm25TopKGrouped(keyword: String, groupCol: String, k: Int,
      scoreMode: String = "max"): DataFrame = {
    require(Set("max", "sum", "avg", "min")(scoreMode),
      s"scoreMode must be one of max, sum, avg, min; got $scoreMode")
    val slices = slicesWithGlobalStats(analyzer.terms(keyword).distinct)
    val baseMode = if (scoreMode == "avg") "sum" else scoreMode
    val parts = slices.map(
      _.bm25TopKGrouped(keyword, groupCol, Int.MaxValue, baseMode))
    val agg: Column = scoreMode match {
      case "max" => max(col("score"))
      case "min" => min(col("score"))
      case _     => sum(col("score")) // sum, and avg's numerator
    }
    val merged = unionAll(parts).get
      .groupBy(col(groupCol))
      .agg(agg.as("_s"), sum(col("n_hits")).as("n_hits"))
    val scored =
      if (scoreMode == "avg")
        merged.withColumn("score", col("_s") / col("n_hits").cast("double"))
      else merged.withColumn("score", col("_s"))
    scored.select(col(groupCol), col("score"), col("n_hits"))
      .orderBy(desc("score"), asc(groupCol))
      .limit(k)
  }

  /** Federated stats facet: count/min/max/sum are lossless partial merges
    * over disjoint slices; avg is recomputed as Σsum / Σcount. The sum (and
    * hence avg) can differ from monolithic in the last ulp — double
    * summation order differs — which is the same caveat any two partition
    * layouts of one cluster carry. */
  def facetStats(keyword: String, logic: Logic, valueCol: String): DataFrame = {
    val parts = sliceSearchers.map(_.facetStats(keyword, logic, valueCol))
    unionAll(parts).get
      .agg(coalesce(sum(col("n_docs")), lit(0L)).as("n_docs"),
        min(col("vmin")).as("vmin"), max(col("vmax")).as("vmax"),
        sum(col("vsum")).as("vsum"))
      .withColumn("vavg",
        when(col("n_docs") === 0, lit(null).cast("double"))
          .otherwise(col("vsum") / col("n_docs").cast("double")))
  }

  /** Federated histogram facet: per-slice bucket partials re-aggregated —
    * the gather merges bucket-sized rows, never docs. */
  def facetHistogram(keyword: String, logic: Logic, valueCol: String,
      binWidth: Long): DataFrame = {
    val parts = sliceSearchers.map(
      _.facetHistogram(keyword, logic, valueCol, binWidth))
    unionAll(parts).get
      .groupBy(col("bucket")).agg(sum(col("n_docs")).as("n_docs"))
  }

  /** Federated date-histogram facet: the timestamp expression evaluates per
    * slice; calendar buckets merge by Σ. */
  def facetDateHistogram(keyword: String, logic: Logic, ts: Column,
      interval: String): DataFrame = {
    val parts = sliceSearchers.map(
      _.facetDateHistogram(keyword, logic, ts, interval))
    unionAll(parts).get
      .groupBy(col("bucket")).agg(sum(col("n_docs")).as("n_docs"))
  }

  /** Federated cardinality facet, exact: per-slice matched rows project to
    * the ONE facet column and a single distinct-count aggregation spans the
    * union — map-side partials dedupe per partition, so the gather carries
    * at most one row per distinct value per partition, never the matched
    * set. A value present in several slices counts once (cross-slice
    * partials cannot be summed — this is why counts don't merge). */
  def facetCardinality(keyword: String, logic: Logic, facetCol: String): DataFrame = {
    val parts = sliceSearchers.map(_.matchedValues(keyword, logic, facetCol))
    unionAll(parts).get.agg(count_distinct(col(facetCol)).as("n_distinct"))
  }

  /** Federated cardinality, HLL++ flavor: the same union, one
    * `approx_count_distinct` — sketch partials merge across union branches
    * exactly as across partitions, so the estimate is the same algorithm a
    * monolithic index runs (sketch-sized shuffle at any cardinality). */
  def facetCardinalityApprox(keyword: String, logic: Logic, facetCol: String,
      rsd: Double = 0.05): DataFrame = {
    val parts = sliceSearchers.map(_.matchedValues(keyword, logic, facetCol))
    unionAll(parts).get
      .agg(approx_count_distinct(col(facetCol), rsd).as("n_distinct"))
  }

  /** Federated percentiles facet, exact flavor: one `percentile`
    * interpolation over the UNION of per-slice matched values — exact
    * percentiles are order-insensitive, so the result is identical to
    * monolithic. One (fraction, value) row per requested fraction; empty
    * matched set yields (fraction, null) rows, the monolithic contract. */
  def facetPercentiles(keyword: String, logic: Logic, valueCol: String,
      fractions: Seq[Double]): DataFrame =
    percentileMerge(keyword, logic, valueCol, fractions,
      v => percentile(v, typedLit(fractions)))

  /** Federated percentiles, t-digest flavor: sketch partials merge across
    * the union branches — constant memory at web-scale matched sets. */
  def facetPercentilesApprox(keyword: String, logic: Logic, valueCol: String,
      fractions: Seq[Double], accuracy: Int = 10000): DataFrame =
    percentileMerge(keyword, logic, valueCol, fractions,
      v => percentile_approx(v, typedLit(fractions), lit(accuracy))
        .cast("array<double>"))

  private def percentileMerge(keyword: String, logic: Logic, valueCol: String,
      fractions: Seq[Double], agg: Column => Column): DataFrame = {
    require(fractions.nonEmpty, "at least one percentile fraction required")
    require(fractions.forall(f => f >= 0.0 && f <= 1.0),
      s"fractions must be in [0, 1], got $fractions")
    val slots = fractions.zipWithIndex.map { case (f, i) =>
      struct(lit(f).as("fraction"), lit(i + 1).as("_i"))
    }
    val parts = sliceSearchers.map(_.matchedValues(keyword, logic, valueCol))
    unionAll(parts).get
      .agg(agg(col(valueCol).cast("double")).as("_ps"))
      .select(explode(array(slots: _*)).as("_f"), col("_ps"))
      .select(col("_f.fraction").as("fraction"),
        element_at(col("_ps"), col("_f._i")).as("value"))
  }

  /** The stable key columns federated results are keyed by. */
  private[query] def tieColumns: Seq[String] = tieCols

  /** `(tieCols…, score)` of every doc matching any query term, GLOBAL
    * stats — the federated twin of [[Searcher.bm25Scores]]: the per-field
    * building block [[MultiField]] combines across field federations. No
    * top-k cut (the combiner aggregates across fields first). */
  private[query] def bm25ScoresByKey(keyword: String): DataFrame = {
    val rtss = resolveGlobal(analyzer.terms(keyword).distinct)
    val parts = sliceSearchers.zip(rtss).collect {
      case (s, rts) if rts.nonEmpty =>
        s.index.docs.select(col("doc_ord") +: tieCols.map(col): _*)
          .join(s.scoredMatches(rts, s.bm25Expr).select("doc_ord", "score"),
            "doc_ord")
          .drop("doc_ord")
    }
    unionAll(parts).getOrElse(
      emptyDocs(withScore = true).select(tieCols.map(col) :+ col("score"): _*))
  }

  /** Global corpus stats (what the slices' scoring runs on). */
  def numDocs: Long = sliceSearchers.head.index.numDocs
  def avgDocLen: Double = sliceSearchers.head.index.avgDocLen
}

object Federation {

  /** Federate in-memory/built [[TextIndex]] slices. One pass over slice
    * METADATA (numDocs, totalTokens — no corpus scan) computes the global
    * stats every slice's scoring then runs on. */
  def apply(slices: Seq[TextIndex], analyzer: Analyzer,
      blockParams: BlockParams = BlockParams(),
      tieCols: Seq[String] = Seq("doc_id")): Federation = {
    require(slices.nonEmpty, "federation needs at least one slice")
    val globalN = slices.map(_.numDocs).sum
    val totalTokens = slices.map(_.exactTotalTokens).sum
    val avgdl = if (globalN == 0) 0.0 else totalTokens.toDouble / globalN
    new Federation(
      slices.map(ix => new Searcher(
        ix.copy(numDocs = globalN, avgDocLen = avgdl, totalTokens = totalTokens),
        analyzer, blockParams, None, sortUnranked = false)),
      tieCols)
  }

  /** Federate persisted slices (each with its own WAND block table).
    * Scoring parameters must agree across slices — per-slice block maxima
    * are only comparable under one (k1, b) — and every slice must have been
    * built with the analyzer being queried with: a mixed-vocabulary
    * federation (one slice stemmed, another not) would silently drop the
    * differently-analyzed slices' matches and merge df over incomparable
    * term spaces. */
  def ofPersisted(slices: Seq[PersistedIndex], analyzer: Analyzer,
      tieCols: Seq[String] = Seq("doc_id"),
      paths: Seq[String] = Nil): Federation = {
    require(slices.nonEmpty, "federation needs at least one slice")
    require(paths.isEmpty || paths.size == slices.size,
      s"paths (${paths.size}) must align with slices (${slices.size})")
    val params = slices.map(p => (p.manifest.k1, p.manifest.b)).distinct
    require(params.size == 1,
      s"slices disagree on BM25 params (k1, b): $params — rebuild or rescore")
    val analyzers = slices.map(_.manifest.analyzer).distinct
    require(analyzers == Seq(analyzer.describe),
      s"analyzer mismatch: slices built with ${analyzers.mkString(" / ")}, " +
        s"querying with ${analyzer.describe} — federate only same-analyzer slices")
    val globalN = slices.map(_.index.numDocs).sum
    val totalTokens = slices.map(_.index.exactTotalTokens).sum
    val avgdl = if (globalN == 0) 0.0 else totalTokens.toDouble / globalN
    // Keymap-pruned key resolution: when slice paths are given and every
    // slice maintains a keymap over exactly `tieCols`, single-document
    // reads (moreLikeThis / termVectors / explainScore) locate the home
    // slice through `ParquetIndexStorage.lookupOrds` — reads ONLY the
    // hashed key bucket per slice, never the docs table. Probe values are
    // cast to the docs schema's key types so e.g. CLI string keys hash
    // into the same bucket the builder wrote.
    val keyLookup: Option[Seq[Any] => Option[(Int, Long)]] =
      if (paths.nonEmpty && slices.forall(_.manifest.keyCols == tieCols))
        Some { key =>
          import scala.concurrent.{Await, Future}
          import scala.concurrent.duration.Duration
          import scala.concurrent.ExecutionContext.Implicits.global
          val spark = slices.head.index.docs.sparkSession
          val hits: Seq[(Int, Long)] = Await.result(
            Future.sequence(paths.zipWithIndex.map { case (p, i) =>
              Future {
                val schema = slices(i).index.docs.schema
                val probe = spark.range(1).select(
                  tieCols.zip(key).map { case (c, v) =>
                    lit(v).cast(schema(c).dataType).as(c) }: _*)
                graft.storage.ParquetIndexStorage.lookupOrds(spark, p, probe)
                  .select("doc_ord").collect().toSeq
                  .map(r => (i, r.getLong(0)))
              }
            }), Duration.Inf).flatten
          require(hits.size <= 1,
            s"tie key ${key.mkString(",")} matches ${hits.size} documents — " +
              "a stable key must be unique across slices")
          hits.headOption
        }
      else None
    new Federation(
      slices.map { p =>
        new Searcher(
          p.index.copy(numDocs = globalN, avgDocLen = avgdl,
            totalTokens = totalTokens),
          analyzer,
          BlockParams(blockSize = p.manifest.blockSize,
            bucketSpan = p.manifest.bucketSpan,
            k1 = p.manifest.k1, b = p.manifest.b),
          Some(p.blocks), sortUnranked = false,
          dGroupSpan = p.manifest.dGroupSpan)
      },
      tieCols, keyLookup)
  }
}
