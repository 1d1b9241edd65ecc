package graft.query

import graft.analysis.Analyzer
import graft.index.{BlockParams, TextIndex}
import graft.storage.PersistedIndex
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
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
  * Every method is one of a few merge shapes (the local-top-k-then-global-
  * merge design of REPOSE), each written once as a private combinator:
  *  - [[gather]] / [[unionOrdered]] — union and order: per-slice
  *    [[Searcher]] results (on the [[slicesWithGlobalStats]] views when
  *    scores need global df), ordinal dropped, ordered
  *    `(score desc,)? tieCols asc`, optionally cut to k. Top-k queries cut
  *    to k rows INSIDE each slice, so the gather merges ≤ slices·k rows —
  *    correct because a doc's global rank is never better than its slice
  *    rank;
  *  - [[resum]] / [[mergedDict]] — re-aggregate partials: facet buckets and
  *    dictionary df summed per key, never doc rows;
  *  - [[locate]] — home slice by stable key, for single-document reads;
  *  - [[Federation.concurrently]] — the per-slice dictionary and key probes
  *    run concurrently (serializing them at realistic slice counts stacks
  *    scheduler latency ahead of any scoring work).
  * Block-max WAND stays lossless under federation because block maxima are
  * stored as `(max_tf, min_dl)` and the score bound is computed at query
  * time from the injected global idf/avgdl.
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
    // keymap-pruned home-slice key probe (persisted slices built with a
    // keymap): reads only the hashed key bucket per slice instead of
    // scanning docs — the web-scale [[locate]] path; returns every
    // (slice, ordinal) hit. None = generic docs-filter probe.
    keyLookup: Option[Seq[Any] => Seq[(Int, Long)]] = None
) extends QueryTarget {
  require(sliceSearchers.nonEmpty, "federation needs at least one slice")
  require(tieCols.nonEmpty, "federation needs at least one tie-break key column")

  private val analyzer: Analyzer = sliceSearchers.head.analyzer
  private def tieAsc = tieCols.map(asc)
  private def scoreOrder = desc("score") +: tieAsc
  private def termsOf(texts: String*): Seq[String] =
    texts.flatMap(analyzer.terms(_)).distinct

  /** Per-slice resolved terms with the GLOBAL document frequency
    * substituted: slice-local term_id/bucket (postings pruning stays
    * slice-correct), df summed across every slice that knows the term.
    * Query order is preserved per slice; terms unknown to a slice are
    * absent from that slice's seq (they cannot match there). The per-slice
    * lookups are independent vocab-sized collects and run concurrently. */
  private def resolveGlobal(terms: Seq[String]): Seq[Seq[ResolvedTerm]] = {
    val perSlice: Seq[Map[String, ResolvedTerm]] = Federation.concurrently(
      sliceSearchers)(_.resolve(terms).map(rt => rt.term -> rt).toMap)
    // (Σ df, Σ cf) per term; cf -1 (unknown in ANY slice dictionary)
    // poisons the sum to "unknown" rather than a lie
    val global: Map[String, (Long, Long)] = terms.distinct.map { t =>
      val rts = perSlice.flatMap(_.get(t))
      t -> ((rts.map(_.df).sum, if (rts.exists(_.cf < 0)) -1L else rts.map(_.cf).sum))
    }.toMap
    perSlice.map(m => terms.flatMap(t => m.get(t).map { rt =>
      val (df, cf) = global(t)
      rt.copy(df = df, cf = cf)
    }))
  }

  /** Slices re-viewed with the corpus-wide statistics substituted for the
    * given terms: every scoring surface on the returned searchers weighs
    * with global statistics while postings pruning and term ids stay
    * slice-local — the general federation hook behind dis_max / boosting /
    * function_score / grouped / LM / rescore / paging. The views carry the
    * FULL per-slice resolutions from [[resolveGlobal]]'s one concurrent
    * pass ([[Searcher.withPreResolved]]), so per-slice query compilation
    * runs ZERO further dictionary jobs for the covered terms. */
  private def slicesWithGlobalStats(terms: Seq[String]): Seq[Searcher] = {
    val covered = terms.toSet
    sliceSearchers.zip(resolveGlobal(terms)).map { case (s, rts) =>
      s.withPreResolved(covered, rts.map(rt => rt.term -> rt).toMap)
    }
  }

  /** Schema-only empty frame: docs columns minus the slice-local ordinal. */
  private def emptyDocs(withScore: Boolean): DataFrame = {
    val base = sliceSearchers.head.index.docs.limit(0).drop("doc_ord")
    if (withScore) base.withColumn("score", lit(0.0)) else base
  }

  // ------------------------------------------------- gather combinators

  private def union(parts: Seq[DataFrame]): DataFrame = parts.reduce(_ unionByName _)

  /** Union and order: per-slice frames ordered `(score desc,)? tieCols asc`
    * (or by `order` when given), cut to `k` when given; the schema-only
    * empty frame when no slice contributes. */
  private def unionOrdered(parts: Seq[DataFrame], ranked: Boolean,
      k: Option[Int] = None, order: Seq[Column] = Nil): DataFrame =
    parts.reduceOption(_ unionByName _) match {
      case None => emptyDocs(ranked)
      case Some(all) =>
        val by = if (order.nonEmpty) order else if (ranked) scoreOrder else tieAsc
        val sorted = all.orderBy(by: _*)
        k.fold(sorted)(sorted.limit)
    }

  /** [[unionOrdered]] over one [[Searcher]] call per slice — on the
    * global-stats views of `global`'s terms when given — ordinal dropped. */
  private def gather(ranked: Boolean, k: Option[Int] = None,
      global: Option[Seq[String]] = None, order: Seq[Column] = Nil)(
      call: Searcher => DataFrame): DataFrame =
    unionOrdered(global.fold(sliceSearchers)(slicesWithGlobalStats)
      .map(call(_).drop("doc_ord")), ranked, k, order)

  /** `f` on every slice that resolves at least one of its terms. */
  private def resolvedSlices(rtss: Seq[Seq[ResolvedTerm]])(
      f: (Searcher, Seq[ResolvedTerm]) => DataFrame): Seq[DataFrame] =
    sliceSearchers.zip(rtss).collect { case (s, rts) if rts.nonEmpty => f(s, rts) }

  /** Re-aggregate partials: per-slice partial sums of `value` merged per
    * `key` — the gather carries partial-sized rows, never docs. */
  private def resum(parts: Seq[DataFrame], key: String, value: String): DataFrame =
    union(parts).groupBy(col(key)).agg(sum(col(value)).as(value))

  /** The merged dictionary: `(term, Σ slice df)` of the terms matching
    * `pred` — one distributed plan over the vocab-sized dictionaries; no
    * slice vocabulary is collected. A slice-exclusive term keeps its true
    * global frequency. */
  private def mergedDict(pred: Column): DataFrame =
    resum(sliceSearchers.map(
      _.index.termDict.filter(pred).select(col("term"), col("df"))), "term", "df")

  /** Scored docs (docs columns + `score`) from one slice: the slice's
    * pruned-postings BM25 aggregation with global weights, joined to the
    * slice docs, ordinal dropped. */
  private def slicedScores(s: Searcher, rts: Seq[ResolvedTerm]): DataFrame =
    s.index.docs
      .join(s.scoredMatches(rts, s.bm25Expr).select("doc_ord", "score"), "doc_ord")
      .drop("doc_ord")

  private def cut(df: DataFrame, k: Int): DataFrame =
    df.orderBy(scoreOrder: _*).limit(k)

  // ------------------------------------------------------- BM25 ranking

  /** All matched docs with GLOBAL-stats BM25 scores (no top-k) — the
    * federated twin of [[Searcher.bm25All]], float-exact to the monolithic
    * scores. (score desc, tieCols asc). */
  def bm25All(keyword: String): DataFrame =
    unionOrdered(resolvedSlices(resolveGlobal(termsOf(keyword)))(slicedScores),
      ranked = true)

  /** Federated BM25 top-k: each slice cuts to its own k
    * (TakeOrderedAndProject inside the slice), the gather merges
    * ≤ slices·k rows. Rank-identical to the monolithic top-k up to the
    * tie-break key (see class doc). */
  def bm25TopK(keyword: String, k: Int): DataFrame =
    unionOrdered(resolvedSlices(resolveGlobal(termsOf(keyword)))(
      (s, rts) => cut(slicedScores(s, rts), k)), ranked = true, Some(k))

  /** Federated block-max WAND top-k — rank-identical to [[bm25TopK]]:
    * per-slice WAND over the slice's block table (persisted slices read
    * only the query terms' `t_bucket` leaves) with GLOBAL idf/avgdl
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
      metrics: Option[WandMetrics] = None): DataFrame =
    unionOrdered(resolvedSlices(resolveGlobal(termsOf(keyword))) { (s, rts) =>
      val weights = rts.map(rt => rt.termId -> s.bm25Idf(rt.df)).toMap
      cut(s.index.docs
        .join(BlockMaxWand.topK(s.blocksFor(rts), weights, k, s.blockParams,
          s.index.avgDocLen, metrics), "doc_ord")
        .drop("doc_ord"), k)
    }, ranked = true, Some(k))

  private def byQuery = Window.partitionBy(col("q_id")).orderBy(scoreOrder: _*)

  /** The batch merge: the set's `(q_id, term)` slots resolved once with
    * global df; `f` runs per slice on its `(q_id, term_id, global idf)`
    * slots and returns `(q_id, tieCols…, score)` rows already cut to k per
    * query; one window over ≤ slices·queries·k rows cuts to k per q_id,
    * projected to `(q_id, rank, tieCols…, score)`. */
  private def batchTopK(keywords: Seq[String], k: Int)(
      f: (Searcher, Seq[(Int, Long, Double)], Seq[ResolvedTerm]) => DataFrame): DataFrame = {
    val qTerms = keywords.zipWithIndex.flatMap {
      case (kw, qi) => analyzer.terms(kw).distinct.map(t => (qi, t))
    }
    val parts = resolvedSlices(resolveGlobal(qTerms.map(_._2).distinct)) { (s, rts) =>
      val byTerm = rts.map(rt => rt.term -> rt).toMap
      f(s, qTerms.flatMap { case (qi, t) =>
        byTerm.get(t).map(rt => (qi, rt.termId, s.bm25Idf(rt.df)))
      }, rts)
    }
    val keyThenScore = tieCols.map(col) :+ col("score")
    parts.reduceOption(_ unionByName _) match {
      case None =>
        emptyDocs(withScore = true)
          .select(lit(0).as("q_id") +: lit(0L).as("rank") +: keyThenScore: _*)
          .limit(0)
      case Some(all) =>
        all.withColumn("rank", row_number().over(byQuery))
          .filter(col("rank") <= k)
          .select(col("q_id") +: col("rank").cast("long").as("rank") +: keyThenScore: _*)
    }
  }

  /** Federated batch BM25 top-k — the query-set-replay shape
    * ([[Searcher.bm25TopKBatch]]) across slices: ONE slot broadcast + one
    * pruned postings scan + one (q_id, doc) aggregation per slice with
    * global idf weights, per-(slice, q_id) k cut, then one gather window
    * over ≤ slices·queries·k rows. Returns `(q_id, rank, tieCols…, score)`
    * — ranks and scores identical to the monolithic batch path. */
  def bm25TopKBatch(keywords: Seq[String], k: Int): DataFrame =
    batchTopK(keywords, k)((s, slots, rts) =>
      s.index.docs
        .join(s.batchScores(slots, rts), "doc_ord")
        .drop("doc_ord")
        .withColumn("rank", row_number().over(byQuery))
        .filter(col("rank") <= k)
        .drop("rank"))

  /** Federated batch BM25 top-k WITH block-max WAND pruning — the realistic
    * offline query-service shape across slices: per slice, ONE pruned
    * blocks scan for the union of the set's terms with every query's WAND
    * run per doc bucket ([[BlockMaxWand.topKBatch]], global idf/avgdl
    * injected — bounds stay lossless), per-slice per-query k already cut
    * by WAND's heaps, one gather window. Rank-identical to
    * [[bm25TopKBatch]] (pinned in FederationSpec). */
  def bm25TopKBatchWand(keywords: Seq[String], k: Int,
      metrics: Option[WandMetrics] = None): DataFrame =
    batchTopK(keywords, k) { (s, slots, rts) =>
      val queries: Map[Int, Map[Long, Double]] = slots.groupBy(_._1)
        .map { case (qi, rows) => qi -> rows.map(r => r._2 -> r._3).toMap }
      s.index.docs
        .join(BlockMaxWand.topKBatch(s.blocksFor(rts), queries, k, s.blockParams,
          s.index.avgDocLen, metrics).drop("rank"), "doc_ord")
        .drop("doc_ord")
    }

  // --------------------------- global-vocabulary dictionary expansion

  /** Expansion terms satisfying `pred` against the GLOBAL vocabulary —
    * the step where naive per-slice expansion diverges from a monolithic
    * index: the monolithic cap keeps the `maxExpansions` highest-GLOBAL-df
    * terms, and a term's global df can put it in the global top-M even when
    * it makes no slice's local top-M (df spread thinly across slices), or
    * when it is known to only one slice. The [[mergedDict]] is cut to the
    * global (df desc, term asc) top-M, so only ≤ `maxExpansions` terms ever
    * reach the driver. Ordering matches [[Searcher.expand]] exactly
    * (Σ slice df == monolithic df), so the surviving expansion set is
    * identical to the monolithic one. */
  private def expandGlobal(pred: Column, maxExpansions: Int): Seq[String] = {
    require(maxExpansions > 0, s"maxExpansions must be > 0, got $maxExpansions")
    mergedDict(pred)
      .orderBy(desc("df"), asc("term"))
      .limit(maxExpansions)
      .select("term").collect().map(_.getString(0)).toSeq
  }

  /** OR-match of a pre-expanded global term set: slice-local term ids with
    * GLOBAL df/cf substituted (so `ranked` TF-IDF weights are float-exact
    * to the monolithic scores), per-slice pruned postings scan + doc agg,
    * gather ordered (score desc,)? tieCols asc. */
  private def matchExpandedGlobal(pred: Column, maxExpansions: Int,
      ranked: Boolean): DataFrame = {
    val terms = expandGlobal(pred, maxExpansions)
    if (terms.isEmpty) return emptyDocs(ranked)
    unionOrdered(resolvedSlices(resolveGlobal(terms))(
      _.matchExpanded(_, ranked).drop("doc_ord")), ranked)
  }

  /** Federated PrefixQuery — identical semantics to
    * [[Searcher.prefixQuery]] over the union corpus: global-vocabulary
    * expansion (see [[expandGlobal]]), then a per-slice OR match. */
  def prefixQuery(prefix: String, ranked: Boolean = false,
      maxExpansions: Int = 128): DataFrame =
    if (prefix.isEmpty) emptyDocs(ranked)
    else matchExpandedGlobal(col("term").startsWith(prefix), maxExpansions, ranked)

  /** Federated FuzzyQuery — [[Searcher.fuzzyQuery]] over the union corpus:
    * the edit-distance expansion runs against the merged global vocabulary
    * with global-df cap ordering. */
  def fuzzyQuery(term: String, maxEdits: Int = 1, ranked: Boolean = false,
      maxExpansions: Int = 128): DataFrame =
    analyzer.terms(term).headOption match {
      case None    => emptyDocs(ranked)
      case Some(t) =>
        matchExpandedGlobal(Searcher.fuzzyPred(t, maxEdits), maxExpansions, ranked)
    }

  /** Federated WildcardQuery (`*` any run, `?` one char, anchored). */
  def wildcardQuery(pattern: String, ranked: Boolean = false,
      maxExpansions: Int = 128): DataFrame =
    if (pattern.isEmpty) emptyDocs(ranked)
    else matchExpandedGlobal(col("term").rlike(Searcher.wildcardRegex(pattern)),
      maxExpansions, ranked)

  /** Federated RegexpQuery — [[Searcher.regexpQuery]] over the union
    * corpus: the raw-regex expansion runs against the merged global
    * vocabulary with global-df cap ordering, like wildcard/prefix/fuzzy. */
  def regexpQuery(regex: String, ranked: Boolean = false,
      maxExpansions: Int = 128): DataFrame =
    if (regex.isEmpty) emptyDocs(ranked)
    else matchExpandedGlobal(col("term").rlike("^(?:" + regex + ")$"),
      maxExpansions, ranked)

  /** Federated TermRangeQuery: the lexicographic dictionary slice
    * [lo, hi] (open ends on null/empty) over the merged vocabulary. */
  def termRangeQuery(lo: String, hi: String, ranked: Boolean = false,
      maxExpansions: Int = 128): DataFrame = {
    val loP = Option(lo).filter(_.nonEmpty).map(col("term") >= _)
    val hiP = Option(hi).filter(_.nonEmpty).map(col("term") <= _)
    val pred = (loP.toSeq ++ hiP.toSeq).reduceOption(_ && _).getOrElse(lit(true))
    matchExpandedGlobal(pred, maxExpansions, ranked)
  }

  /** Federated autocomplete — [[Searcher.suggest]] over the union corpus:
    * the [[mergedDict]] of the prefix, global (df desc, term asc) top-n. */
  def suggest(prefix: String, n: Int = 10): DataFrame =
    mergedDict(col("term").startsWith(prefix))
      .orderBy(desc("df"), asc("term"))
      .limit(n)

  /** Federated spell correction — [[Searcher.didYouMean]] over the union
    * corpus: the length-windowed [[mergedDict]] (the edit distance is a
    * pure function of the term, so the per-term merge is exact), then ONE
    * global (distance asc, df desc, term asc) top-n. Per-slice correction
    * lists would diverge whenever candidates' local df ordering differs
    * from the global one. */
  def didYouMean(term: String, maxEdits: Int = 2, n: Int = 5): DataFrame =
    analyzer.terms(term).headOption match {
      case None =>
        sliceSearchers.head.index.termDict
          .select(col("term"), col("df")).withColumn("distance", lit(0)).limit(0)
      case Some(t) =>
        mergedDict(length(col("term"))
            .between(t.length - maxEdits, t.length + maxEdits) &&
            col("term") =!= t)
          .withColumn("distance", levenshtein(col("term"), lit(t)))
          .filter(col("distance") <= maxEdits)
          .select(col("term"), col("df"), col("distance"))
          .orderBy(asc("distance"), desc("df"), asc("term"))
          .limit(n)
    }

  // ------------------------------------------------ matching and ranking

  /** Federated MatchAllQuery: every document of every slice, `tieCols`
    * order (the monolithic doc_ord order coincides under the builder's
    * stable-ordering contract). */
  def matchAll(): DataFrame = gather(ranked = false)(_.matchAll())

  /** Federated MatchQuery (AND/OR), unranked. Slice-local evaluation is
    * already globally correct: a term absent from a slice's dictionary is
    * absent from the slice's corpus, so AND yields nothing there and OR
    * drops the term — exactly the monolithic semantics. Results ordered by
    * `tieCols`. */
  def matchQuery(keyword: String, logic: Logic): DataFrame =
    gather(ranked = false)(_.matchQuery(keyword, logic))

  /** Federated ranked MatchQuery (TF-IDF — the reference's sorter): each
    * slice scores with the merged global df injected into its tf-idf
    * weights (tf and doc length are doc-local), float-exact to monolithic.
    * AND with a term unknown to a slice short-circuits to empty THERE
    * (none of its docs can contain the term) — exactly the monolithic
    * per-document semantics. */
  def matchQueryRanked(keyword: String, logic: Logic): DataFrame =
    gather(ranked = true, global = Some(termsOf(keyword)))(
      _.matchQueryRanked(keyword, logic))

  /** Federated total-hits count: Σ slice counts (disjoint corpora). */
  def countMatches(keyword: String, logic: Logic): Long =
    sliceSearchers.map(_.countMatches(keyword, logic)).sum

  /** Federated minimum_should_match, unranked: the quota is decided per
    * document (distinct matched terms), so slice results union losslessly —
    * a slice resolving fewer than `minShouldMatch` of the query terms
    * short-circuits to empty there, which is exactly right (none of its
    * docs can contain terms absent from its whole corpus slice). For ranked
    * msm semantics compose [[bm25TopK]]-style global scoring. */
  def matchQueryMsm(keyword: String, minShouldMatch: Int): DataFrame =
    gather(ranked = false)(_.matchQueryMsm(keyword, minShouldMatch))

  /** Federated PhraseQuery: positional matching is per-doc, so slice
    * results union losslessly. `ranked` scores the matched docs with
    * TF-IDF over the phrase terms carrying the MERGED global df (the
    * stats-override views) — float-exact to monolithic. Ordered by
    * (score desc,)? `tieCols`. */
  def phraseQuery(phrase: String, ranked: Boolean = false, slop: Int = 0,
      inOrder: Boolean = false): DataFrame =
    gather(ranked, global = if (ranked) Some(termsOf(phrase)) else None)(
      _.phraseQuery(phrase, ranked, slop, inOrder))

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
    val expTerms = expandGlobal(col("term").startsWith(qTerms.last), maxExpansions)
    if (expTerms.isEmpty) return emptyDocs(ranked)
    val parts = sliceSearchers.zip(resolveGlobal((exact ++ expTerms).distinct))
      .flatMap { case (s, rts) =>
        val byTerm = rts.map(rt => rt.term -> rt).toMap
        val exactInOrder = exact.map(byTerm.get)
        val expRts = expTerms.flatMap(byTerm.get)
        if (exactInOrder.exists(_.isEmpty) || expRts.isEmpty) None
        else Some(
          s.matchPhrasePrefixResolved(exactInOrder.flatten, expRts, slop, ranked)
            .drop("doc_ord"))
      }
    unionOrdered(parts, ranked)
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
  def boolQuery(q: BoolQuery): DataFrame = gather(ranked = false)(_.boolQuery(q))

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
    gather(ranked = true)(_.boolQueryRankedGlobal(q, dfOverride))
  }

  /** Federated query string — [[Searcher.queryString]]: parsed ONCE on the
    * driver, then dispatched to the federated tree paths. */
  def queryString(s: String, ranked: Boolean = false): DataFrame = {
    val tree = QueryString.parse(s)
    if (ranked) boolQueryRanked(tree) else boolQuery(tree)
  }

  /** Federated LM-Dirichlet full ranking ([[lmDirichletTopK]] without the
    * k-cut): global cf through the stats override, global |C| already
    * injected into every slice — query-likelihood scores float-exact. */
  def lmDirichletAll(keyword: String, mu: Double = 2000.0): DataFrame =
    gather(ranked = true, global = Some(termsOf(keyword)))(
      _.lmDirichletAll(keyword, mu))

  /** Federated LM-Dirichlet: collection statistics merge exactly like
    * BM25's — global cf via the stats override, global C (Σ tokens) already
    * injected into every slice — so query-likelihood scores are float-exact
    * to monolithic. */
  def lmDirichletTopK(keyword: String, k: Int, mu: Double = 2000.0): DataFrame =
    gather(ranked = true, Some(k), Some(termsOf(keyword)))(
      _.lmDirichletTopK(keyword, k, mu))

  /** Federated dis_max: per-slice evaluation with global df weights, then
    * the standard top-k merge — a doc lives in exactly one slice, so its
    * combined clause score is complete there. */
  def disMaxTopK(clauses: Seq[String], k: Int,
      tieBreaker: Double = 0.0): DataFrame =
    gather(ranked = true, Some(k), Some(termsOf(clauses: _*)))(
      _.disMaxTopK(clauses, k, tieBreaker))

  /** Federated boosting query: positive BM25 with global weights, negative
    * demotion decided per document (slice-local membership is globally
    * correct) — demoted scores are final before each slice's k-cut. */
  def bm25TopKBoosting(positive: String, negative: String,
      negativeBoost: Double, k: Int, negLogic: Logic = Or): DataFrame =
    gather(ranked = true, Some(k), Some(termsOf(positive)))(
      _.bm25TopKBoosting(positive, negative, negativeBoost, k, negLogic))

  /** Federated function_score: the factor is a per-document docs-column
    * expression, so the multiplied scores are final per slice. */
  def bm25TopKFunctionScore(keyword: String, factor: Column, k: Int): DataFrame =
    gather(ranked = true, Some(k), Some(termsOf(keyword)))(
      _.bm25TopKFunctionScore(keyword, factor, k))

  /** Federated filter context: the predicate restricts per-document rows
    * (slice-local is globally correct), scores stay global via the stats
    * override — standard top-k merge. */
  def bm25TopKFiltered(keyword: String, docFilter: Column, k: Int): DataFrame =
    gather(ranked = true, Some(k), Some(termsOf(keyword)))(
      _.bm25TopKFiltered(keyword, docFilter, k))

  /** Federated sort-by-field top-k: per-slice TakeOrdered k-cuts merge —
    * every global top-k row ranks ≤ k within its own slice — and the
    * gather re-sorts ≤ slices·k rows. Monolithic tie-break (doc_ord asc)
    * coincides with `tieCols` under the builder's stable-ordering
    * contract. */
  def matchTopKSortBy(keyword: String, logic: Logic, sortCol: String, k: Int,
      ascending: Boolean = true): DataFrame = {
    val key = if (ascending) asc(sortCol) else desc(sortCol)
    gather(ranked = false, Some(k), order = key +: tieAsc)(
      _.matchTopKSortBy(keyword, logic, sortCol, k, ascending))
  }

  /** Federated field collapsing with GLOBAL-stats scores: each slice scores
    * with the merged df ([[resolveGlobal]] — slice-local collapse scoring
    * would mis-rank), collapses to its slice-best doc per group, and cuts
    * to k. The cut is lossless: a global top-k group's best doc outranks
    * all but at most k-1 other groups ANYWHERE, so it survives its own
    * slice's collapsed top-k. The gather re-collapses groups spanning
    * slices over ≤ slices·k rows. */
  def bm25TopKCollapse(keyword: String, groupCol: String, k: Int): DataFrame = {
    val best = Window.partitionBy(col(groupCol)).orderBy(scoreOrder: _*)
    def collapse(df: DataFrame): DataFrame =
      df.withColumn("grp_rank", row_number().over(best))
        .filter(col("grp_rank") === 1).drop("grp_rank")
    val parts = resolvedSlices(resolveGlobal(termsOf(keyword)))(
      (s, rts) => cut(collapse(slicedScores(s, rts)), k))
    unionOrdered(parts.reduceOption(_ unionByName _).map(collapse).toSeq,
      ranked = true, Some(k))
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
    val kwTerms = termsOf(keyword)
    val slices = slicesWithGlobalStats(termsOf(keyword, rescorePhrase))
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
    if (parts.isEmpty) return emptyDocs(withScore = true)
    val winRows = union(parts)
      .orderBy(scoreQ.desc +: tieAsc: _*)
      .limit(windowSize)
      .select(col("_slice"), col("doc_ord"), col("score"))
      .collect()
    if (winRows.isEmpty) return emptyDocs(withScore = true)
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
    unionOrdered(parts2, ranked = true, Some(k))
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
    val terms = termsOf(keyword)
    val scoreQ = round(col("score"), Searcher.PageGrain)
    val pageOrder = Seq(scoreQ.desc, col(tieCol).asc)
    val parts = slicesWithGlobalStats(terms).map { s =>
      val rts = s.resolve(terms)
      if (rts.isEmpty) emptyDocs(withScore = true)
      else {
        val scored0 = slicedScores(s, rts)
        val scored = cursor match {
          case None => scored0
          case Some((afterScore, afterKey)) =>
            val cursorQ = BigDecimal(afterScore)
              .setScale(Searcher.PageGrain, BigDecimal.RoundingMode.HALF_UP)
              .toDouble
            scored0.filter(scoreQ < cursorQ ||
              (scoreQ === cursorQ && col(tieCol) > afterKey))
        }
        scored.orderBy(pageOrder: _*).limit(k)
      }
    }
    unionOrdered(parts, ranked = true, Some(k), pageOrder)
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
    val baseMode = if (scoreMode == "avg") "sum" else scoreMode
    val parts = slicesWithGlobalStats(termsOf(keyword)).map(
      _.bm25TopKGrouped(keyword, groupCol, Int.MaxValue, baseMode))
    val agg: Column = scoreMode match {
      case "max" => max(col("score"))
      case "min" => min(col("score"))
      case _     => sum(col("score")) // sum, and avg's numerator
    }
    val merged = union(parts)
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

  // --------------------------------------------- per-document reads

  /** Federated hit-term highlighting: which query terms each matched doc
    * contains is a per-document read of the doc's OWN slice postings —
    * lossless union (a slice-unknown term is absent from its docs, so the
    * AND fold matches monolithic membership slice by slice). */
  def highlightTerms(keyword: String, logic: Logic): DataFrame =
    gather(ranked = false)(_.highlightTerms(keyword, logic))

  /** Federated snippets: first-hit windows are per-document (position from
    * the doc's own slice posting, text re-analyzed per row) — lossless
    * union. */
  def snippet(keyword: String, window: Int = 2): DataFrame =
    gather(ranked = false)(_.snippet(keyword, window))

  private def keyPredOf(key: Seq[Any]): Column =
    tieCols.zip(key).map { case (c, v) => col(c) === lit(v) }.reduce(_ && _)

  /** Home-slice lookup by stable key — the addressing step every
    * single-document federated read shares ([[moreLikeThis]],
    * [[termVectors]], [[explainScore]]): concurrent per-slice key probes;
    * at most one slice may hold the key (disjoint slice corpora). Returns
    * (slice index, slice-local ordinal). */
  private def locate(key: Seq[Any]): Option[(Int, Long)] = {
    require(key.size == tieCols.size,
      s"key needs one value per tie column $tieCols, got $key")
    val located = keyLookup.fold(
      Federation.concurrently(sliceSearchers.zipWithIndex) { case (s, i) =>
        s.index.docs.filter(keyPredOf(key)).select(col("doc_ord"))
          .collect().toSeq.map(r => (i, r.getLong(0)))
      }.flatten)(_(key))
    require(located.size <= 1,
      s"tie key ${key.mkString(",")} matches ${located.size} documents — " +
        "a stable key must be unique across slices")
    located.headOption
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
        slicesWithGlobalStats(termsOf(keyword))(i).explainScore(keyword, ord)
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
    require(k >= 0 && maxQueryTerms >= 0,
      s"k and maxQueryTerms must be >= 0, got k=$k, maxQueryTerms=$maxQueryTerms")
    val located = locate(key)
    if (located.isEmpty) return emptyDocs(withScore = true)
    val (home, docOrd) = located.get
    val homeS = sliceSearchers(home)
    val srcTf: Map[String, Long] = homeS.termVectors(docOrd)
      .select(col("term"), col("tf")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    if (srcTf.isEmpty) return emptyDocs(withScore = true)
    val rtss = resolveGlobal(srcTf.keys.toSeq.sorted)
    val globalDf: Map[String, Long] =
      rtss.flatten.map(rt => rt.term -> rt.df).toMap
    val top: Set[String] = srcTf.keys.toSeq
      .map(t => (t, srcTf(t) * homeS.tfIdfWeight(globalDf(t))))
      .sortBy { case (t, w) => (-w, t) }
      .take(maxQueryTerms).map(_._1).toSet
    unionOrdered(resolvedSlices(rtss.map(_.filter(rt => top(rt.term))))(
      slicedScores(_, _).filter(!keyPredOf(key))), ranked = true, Some(k))
  }

  // ------------------------------------------------------------- facets

  /** Federated facet counts: per-slice facet aggregations re-aggregated —
    * the gather merges facet-sized partials, never doc rows. */
  def facetCounts(keyword: String, logic: Logic, facetCol: String): DataFrame =
    resum(sliceSearchers.map(_.facetCounts(keyword, logic, facetCol)),
      facetCol, "n_docs")

  /** Federated histogram facet: per-slice bucket partials re-aggregated —
    * the gather merges bucket-sized rows, never docs. */
  def facetHistogram(keyword: String, logic: Logic, valueCol: String,
      binWidth: Long): DataFrame =
    resum(sliceSearchers.map(
      _.facetHistogram(keyword, logic, valueCol, binWidth)), "bucket", "n_docs")

  /** Federated date-histogram facet: the timestamp expression evaluates per
    * slice; calendar buckets merge by Σ. */
  def facetDateHistogram(keyword: String, logic: Logic, ts: Column,
      interval: String): DataFrame =
    resum(sliceSearchers.map(
      _.facetDateHistogram(keyword, logic, ts, interval)), "bucket", "n_docs")

  /** Federated stats facet: count/min/max/sum are lossless partial merges
    * over disjoint slices; avg is recomputed as Σsum / Σcount. The sum (and
    * hence avg) can differ from monolithic in the last ulp — double
    * summation order differs — which is the same caveat any two partition
    * layouts of one cluster carry. */
  def facetStats(keyword: String, logic: Logic, valueCol: String): DataFrame =
    union(sliceSearchers.map(_.facetStats(keyword, logic, valueCol)))
      .agg(coalesce(sum(col("n_docs")), lit(0L)).as("n_docs"),
        min(col("vmin")).as("vmin"), max(col("vmax")).as("vmax"),
        sum(col("vsum")).as("vsum"))
      .withColumn("vavg",
        when(col("n_docs") === 0, lit(null).cast("double"))
          .otherwise(col("vsum") / col("n_docs").cast("double")))

  /** The union of every slice's matched rows projected to `valueCol` — the
    * input of the value-merging facets below. */
  private def matchedValues(keyword: String, logic: Logic,
      valueCol: String): DataFrame =
    union(sliceSearchers.map(_.matchedValues(keyword, logic, valueCol)))

  /** Federated significant_terms — [[Searcher.significantTerms]] over the
    * union corpus: per-slice `(term, df_in)` matched-set aggregations merge
    * by Σ (slices are disjoint, so df_in and n_matched sum losslessly), and
    * lift is recomputed from the [[mergedDict]] df and the global N —
    * float-exact to monolithic because the double divisions run on
    * identical integer inputs in the identical order. The gather merges
    * vocab-bounded partials, never doc rows; each slice keeps
    * significantTerms' documented matched-set-proportional scan cost. */
  def significantTerms(keyword: String, logic: Logic, topN: Int = 10,
      minDocCount: Long = 3): DataFrame = {
    val parts = sliceSearchers.flatMap(_.matchedDfIn(keyword, logic))
    val nMatched = parts.map(_._2).sum
    if (parts.isEmpty || nMatched == 0)
      return sliceSearchers.head.index.termDict.sparkSession.emptyDataFrame
        .withColumn("term", lit("")).withColumn("df_in", lit(0L))
        .withColumn("df", lit(0L)).withColumn("lift", lit(0.0)).limit(0)
    resum(parts.map(_._1), "term", "df_in")
      .join(mergedDict(lit(true)), "term")
      .filter(col("df_in") >= minDocCount)
      .withColumn("lift",
        (col("df_in").cast("double") / lit(nMatched.toDouble)) /
          (col("df").cast("double") / lit(numDocs.toDouble)))
      .select("term", "df_in", "df", "lift")
      .orderBy(desc("lift"), asc("term"))
      .limit(topN)
  }

  /** Federated cardinality facet, exact: per-slice matched rows project to
    * the ONE facet column and a single distinct-count aggregation spans the
    * union — map-side partials dedupe per partition, so the gather carries
    * at most one row per distinct value per partition, never the matched
    * set. A value present in several slices counts once (cross-slice
    * partials cannot be summed — this is why counts don't merge). */
  def facetCardinality(keyword: String, logic: Logic, facetCol: String): DataFrame =
    matchedValues(keyword, logic, facetCol)
      .agg(count_distinct(col(facetCol)).as("n_distinct"))

  /** Federated cardinality, HLL++ flavor: the same union, one
    * `approx_count_distinct` — sketch partials merge across union branches
    * exactly as across partitions, so the estimate is the same algorithm a
    * monolithic index runs (sketch-sized shuffle at any cardinality). */
  def facetCardinalityApprox(keyword: String, logic: Logic, facetCol: String,
      rsd: Double = 0.05): DataFrame =
    matchedValues(keyword, logic, facetCol)
      .agg(approx_count_distinct(col(facetCol), rsd).as("n_distinct"))

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
    matchedValues(keyword, logic, valueCol)
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
  private[query] def bm25ScoresByKey(keyword: String): DataFrame =
    resolvedSlices(resolveGlobal(termsOf(keyword))) { (s, rts) =>
      s.index.docs.select(col("doc_ord") +: tieCols.map(col): _*)
        .join(s.scoredMatches(rts, s.bm25Expr).select("doc_ord", "score"),
          "doc_ord")
        .drop("doc_ord")
    }.reduceOption(_ unionByName _).getOrElse(
      emptyDocs(withScore = true).select(tieCols.map(col) :+ col("score"): _*))

  /** Global corpus stats (what the slices' scoring runs on). */
  def numDocs: Long = sliceSearchers.head.index.numDocs
  def avgDocLen: Double = sliceSearchers.head.index.avgDocLen
}

object Federation {

  /** `f` over every element concurrently, in order — the per-slice
    * dictionary lookups and key probes are independent small jobs. */
  private def concurrently[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.sequence(xs.map(x => Future(f(x)))), Duration.Inf)
  }

  /** The slices re-viewed with the corpus-wide statistics every slice's
    * scoring runs on — one pass over slice METADATA (numDocs, totalTokens —
    * no corpus scan): `N = Σ numDocs`, `avgdl = Σ totalTokens / N`. */
  private def withGlobalStats(slices: Seq[TextIndex]): Seq[TextIndex] = {
    val globalN = slices.map(_.numDocs).sum
    val totalTokens = slices.map(_.exactTotalTokens).sum
    val avgdl = if (globalN == 0) 0.0 else totalTokens.toDouble / globalN
    slices.map(_.copy(numDocs = globalN, avgDocLen = avgdl, totalTokens = totalTokens))
  }

  /** Federate in-memory/built [[TextIndex]] slices. */
  def apply(slices: Seq[TextIndex], analyzer: Analyzer,
      blockParams: BlockParams = BlockParams(),
      tieCols: Seq[String] = Seq("doc_id")): Federation =
    new Federation(withGlobalStats(slices).map(
      new Searcher(_, analyzer, blockParams, None, sortUnranked = false)), tieCols)

  /** Federate persisted slices (each with its own WAND block table, read
    * per query only at the query terms' `t_bucket` leaves). Scoring
    * parameters must agree across slices — per-slice block maxima are only
    * comparable under one (k1, b) — and every slice must have been built
    * with the analyzer being queried with: a mixed-vocabulary federation
    * (one slice stemmed, another not) would silently drop the
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
    // Keymap-pruned key resolution: when slice paths are given and every
    // slice maintains a keymap over exactly `tieCols`, single-document
    // reads (moreLikeThis / termVectors / explainScore) locate the home
    // slice through `ParquetIndexStorage.lookupOrds` — reads ONLY the
    // hashed key bucket per slice, never the docs table. Probe values are
    // cast to the docs schema's key types so e.g. CLI string keys hash
    // into the same bucket the builder wrote.
    val keyLookup: Option[Seq[Any] => Seq[(Int, Long)]] =
      if (paths.nonEmpty && slices.forall(_.manifest.keyCols == tieCols))
        Some { key =>
          val spark = slices.head.index.docs.sparkSession
          concurrently(paths.zipWithIndex) { case (p, i) =>
            val schema = slices(i).index.docs.schema
            val probe = spark.range(1).select(
              tieCols.zip(key).map { case (c, v) =>
                lit(v).cast(schema(c).dataType).as(c) }: _*)
            graft.storage.ParquetIndexStorage.lookupOrds(spark, p, probe)
              .select("doc_ord").collect().toSeq
              .map(r => (i, r.getLong(0)))
          }.flatten
        }
      else None
    val global = withGlobalStats(slices.map(_.index))
    new Federation(slices.zip(global).map { case (p, ix) =>
      Searcher(p.copy(index = ix), analyzer, sortUnranked = false)
    }, tieCols, keyLookup)
  }
}
