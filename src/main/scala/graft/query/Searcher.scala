package graft.query

import graft.analysis.Analyzer
import graft.index.{BlockParams, PostingBlockRow, PostingBlocks, TextIndex}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField}

sealed trait Logic
case object And extends Logic // `/root/reference/query.go:13-18` Logic=AND
case object Or extends Logic  //                                  Logic=OR

final case class ResolvedTerm(term: String, termId: Long, df: Long,
    bucket: Int = -1, cf: Long = -1L)

object Searcher {
  /** Decimal digits the `search_after` cursor comparison quantizes scores
    * to (see [[Searcher.bm25TopKAfter]]): coarse enough that reduce-order
    * float jitter (~1 ULP, ~1e-15 at BM25 magnitudes) never crosses a
    * bucket except when a true score sits on a rounding edge, fine enough
    * that genuinely distinct BM25 scores almost never share a bucket. */
  val PageGrain: Int = 9

  /** Conversation-context fetch — the serving step after retrieval on a
    * transcripts corpus (what a RAG pipeline feeds the model): for every
    * hit turn, the turns of the SAME conversation within ±`window` of it,
    * tagged `(hit_ord, offset)` (offset 0 = the hit itself; conversation
    * boundaries clamp naturally — missing neighbors are simply absent).
    *
    * `hits` carries `doc_ord` (any matched/ranked result — top-k-sized),
    * so the hit keys BROADCAST: one broadcast-hash-join pass over `docs`
    * (equi-key = the conversation column, the window bound as a residual
    * condition), no corpus shuffle, no self-join of the docs table.
    * Duplicate hit ordinals are deduped first (a doc reachable from two
    * queries should contribute one window). A hit appearing in another
    * hit's window yields one row per (hit, turn) pair — window overlap is
    * the caller's dedup decision, it is query-dependent. */
  def contextWindows(docs: DataFrame, hits: DataFrame, convCol: String,
      turnCol: String, window: Int): DataFrame = {
    require(window >= 0, s"window must be >= 0, got $window")
    val hitKeys = docs
      .join(broadcast(hits.select("doc_ord").distinct()), "doc_ord")
      .select(col("doc_ord").as("hit_ord"),
        col(convCol).as("_hconv"), col(turnCol).as("_hturn"))
    docs.join(broadcast(hitKeys),
        docs(convCol) === col("_hconv") &&
          abs(docs(turnCol) - col("_hturn")) <= window)
      .withColumn("offset", (docs(turnCol) - col("_hturn")).cast("int"))
      .drop("_hconv", "_hturn")
  }

  /** The disjunction-max aggregation expression shared by
    * [[Searcher.disMaxTopK]] and [[MultiField.bm25TopKBestFields]]:
    * `max + tieBreaker · (sum − max)` over the grouped per-clause /
    * per-field scores. */
  private[query] def disMaxCombine(score: Column, tieBreaker: Double): Column =
    max(score) + lit(tieBreaker) * (sum(score) - max(score))

  /** Upper bound on phrase slop (enforced by [[BPhrase]], `phraseQuery`,
    * and the query-string parser): positions are 32-bit ordinals, so an
    * unbounded slop would overflow `anchor + slop` and silently match
    * nothing; 1e6 is far past any real document's length. */
  val MaxSlop: Int = 1000000

  /** Dictionary predicate for a fuzzy expansion: the length-window
    * prefilter keeps the edit-distance evaluation off terms that cannot
    * qualify. Shared by the monolithic expansion ([[Searcher.fuzzyQuery]],
    * `BFuzzy` leaves) and the federated global-vocabulary expansion
    * ([[Federation.fuzzyQuery]]). */
  private[query] def fuzzyPred(term: String, maxEdits: Int): Column =
    length(col("term")).between(term.length - maxEdits, term.length + maxEdits) &&
      levenshtein(col("term"), lit(term)) <= maxEdits

  /** Anchored regex for a `*`/`?` wildcard pattern (all other characters
    * literal) — shared by the monolithic and federated wildcard queries. */
  private[query] def wildcardRegex(pattern: String): String =
    "^" + pattern.map {
      case '*' => ".*"
      case '?' => "."
      case c   => java.util.regex.Pattern.quote(c.toString)
    }.mkString + "$"

  /** Searcher over a persisted index: reuses its WAND block table and the
    * FULL block parameters — including the k1/b the block maxima were built
    * with (manifest formatVersion 2); scoring a reloaded index with default
    * params would make WAND's bounds silently lossy. */
  def apply(p: graft.storage.PersistedIndex, analyzer: Analyzer,
      sortUnranked: Boolean = true): Searcher =
    new Searcher(p.index, analyzer,
      BlockParams(blockSize = p.manifest.blockSize, bucketSpan = p.manifest.bucketSpan,
        k1 = p.manifest.k1, b = p.manifest.b),
      Some(p.blocks), sortUnranked, dGroupSpan = p.manifest.dGroupSpan,
      preBuiltBlocksByTerm = p.blocksByTerm)
}

/** Query planning for the inverted index.
  *
  * The keyword is analyzed on the driver with the same analyzer as the
  * documents (`/root/reference/query.go:29-33`), resolved against the term
  * dictionary, and compiled into one declarative DataFrame plan: a
  * partition-prunable postings scan, a single doc-level hash aggregation
  * (intersection/union + scoring in the same pass), and a top-k or
  * doc_ord-ascending sort. No per-term round-trips, no driver-side cursors.
  */
/** @param sortUnranked when true (default), matchAll and unranked match/
  *   phrase results are globally sorted ascending by doc_ord — the
  *   reference's and/orMatch contract (`searcher.go:112-139`). At corpus
  *   scale that is a full shuffle-sort of the matched set (for matchAll,
  *   of the whole corpus); pass false to get scan order when the caller
  *   re-sorts, top-k's, or writes the result anyway. */
final class Searcher(
    val index: TextIndex,
    val analyzer: Analyzer,
    val blockParams: BlockParams = BlockParams(),
    preBuiltBlocks: Option[Dataset[PostingBlockRow]] = None,
    val sortUnranked: Boolean = true,
    dGroupSpan: Long = -1L, // persisted postings doc-range partition span;
                            // lets single-doc lookups (moreLikeThis) prune on
                            // d_group. -1 = unknown (in-memory index)
    // the persisted block table WITH its (t_bucket, d_group) partition
    // columns (formatVersion 4): per-query WAND reads derive a pruned
    // Dataset from it instead of scanning the whole block store
    preBuiltBlocksByTerm: Option[DataFrame] = None,
    // per-term (df, cf) substituted into every dictionary resolution — the
    // federation hook (see withStatsOverride); empty = this index's own stats
    statsOverride: Map[String, (Long, Long)] = Map.empty,
    // fully pre-resolved dictionary entries for a COVERED term set — the
    // federation fast path (see withPreResolved): terms in the covered set
    // resolve from the map with ZERO dictionary jobs (absence from the map
    // = known-unknown to this slice); terms outside fall through to the
    // normal path. The federation resolves all slices CONCURRENTLY once
    // (resolveGlobal), so per-slice query compilation stops re-running a
    // serial dictionary job per slice.
    preResolved: Option[(Set[String], Map[String, ResolvedTerm])] = None
) extends QueryTarget {

  private val spark = index.docs.sparkSession
  import spark.implicits._

  /** BM25 parameters (standard Robertson defaults via BlockParams). */
  val k1: Double = blockParams.k1
  val b: Double = blockParams.b

  /** Block table for the WAND path: the persisted table when the index was
    * loaded from storage, otherwise built once on first use. */
  lazy val blocks: Dataset[PostingBlockRow] =
    preBuiltBlocks.getOrElse(PostingBlocks.build(index, blockParams).cache())

  @volatile private var blocksPinned = false
  /** Serving-mode block table, hash-repartitioned by doc bucket ONCE at pin
    * time so every bucket's rows sit wholly in one cached partition — the
    * precondition for the shuffle-free per-query [[BlockMaxWand.topKLocal]]
    * path (one job, no exchange, k×buckets-row collect). */
  @volatile private var servingByBucket: Option[Dataset[PostingBlockRow]] = None
  /** Serving-mode postings view, re-clustered (t_bucket, term_id) and
    * pinned — the term-major layout the per-query match/phrase probes
    * want, versus the doc-range-major parquet layout deltas want. */
  @volatile private var servingPostings: Option[DataFrame] = None
  @volatile private var postingsPinned = false

  /** The block table a single WAND query should scan: when the persisted
    * layout carries the (t_bucket, d_group) partition level and the blocks
    * are NOT pinned in memory (serving mode), directory-prune to the query
    * terms' buckets — a cold per-query read is then proportional to the
    * terms' block leaves, not the store (the unpruned read listed and
    * footer-scanned every leaf: measured 23.6 s vs 5.5 s exhaustive for 8
    * cold queries at 10^6 turns). Pinned or in-memory blocks scan the
    * cached table — the term_id filter inside BlockMaxWand prunes there. */
  private[query] def blocksFor(rts: Seq[ResolvedTerm]): Dataset[PostingBlockRow] =
    preBuiltBlocksByTerm match {
      case _ if servingByBucket.isDefined => servingByBucket.get
      case Some(raw) if !blocksPinned && rts.nonEmpty && rts.forall(_.bucket >= 0) =>
        raw.filter(col("t_bucket").isin(rts.map(_.bucket).distinct: _*) &&
            col("term_id").isin(rts.map(_.termId): _*))
          .select(col("term_id"), col("bucket").cast("long"), col("min_doc"),
            col("max_doc"), col("n"), col("max_tf"), col("min_dl"),
            col("docs"), col("tfs"), col("dls"))
          .as[PostingBlockRow]
      case _ => blocks
    }

  // --------------------------------------------------------- serving mode

  /** Full driver-resident dictionary (serving mode, vocab ≤ localDictMax):
    * resolve() is pure driver work, no Spark job per query. */
  @volatile private var fullLocalDict: Option[Map[String, ResolvedTerm]] = None
  /** Lazily-built driver dictionary for NON-serving sessions: the first
    * [[resolve]] attempts ONE bounded collect (limit(max+1) proves
    * completeness, exactly like IndexBuilder.localTermDict); when the
    * vocabulary fits, every later query resolves on the driver — removing
    * the per-query dictionary job that was a fixed ~15 ms + job-gap floor
    * on EVERY query surface (measured in bench/HeadlineProbe: 6 jobs per
    * match query, one of them the dictionary lookup). Web-scale
    * vocabularies exceed the bound: the attempt stops at max+1 rows
    * (limit pushdown — not a full scan), `autoDictTried` pins the outcome,
    * and per-query t_bucket-pruned lookups continue as before. Results are
    * identical either way — same columns, same rows. */
  @volatile private var autoDict: Option[Map[String, ResolvedTerm]] = None
  @volatile private var autoDictTried = false
  /** Miss-through resolve cache (serving mode, vocab > localDictMax):
    * bounded LRU of term -> Option[ResolvedTerm] (negative entries are safe —
    * a Searcher is a snapshot view of one committed index state). */
  @volatile private var resolveLru:
      Option[java.util.LinkedHashMap[String, Option[ResolvedTerm]]] = None

  /** Switch this searcher to SERVING mode — the deployment shape for
    * repeated interactive queries, removing the per-query driver floor that
    * otherwise dominates top-k latency (measured on the 135k-turn demo:
    * ~0.47 s/query of blocks-parquet re-read + ~0.04 s/query of dictionary
    * job, vs ~0.07 s/query once pinned):
    *
    *  - the WAND block table is pinned `MEMORY_AND_DISK` (a serving shard
    *    pins its block summaries — blocks are the compressed skip layer,
    *    orders of magnitude smaller than raw postings; DISK spill keeps the
    *    pin safe when a shard outgrows executor storage memory);
    *  - the term dictionary becomes driver-resident: one collect when the
    *    vocabulary fits `localDictMax`, otherwise a bounded miss-through
    *    LRU whose misses run t_bucket-PRUNED lookups (the bucket derives on
    *    the driver from the same xxhash64 the layout used) — never a full
    *    dictionary scan per query;
    *  - optionally the docs table is pinned for the final top-k fetch join
    *    (pin only when the shard's docs fit storage; at 10^12 docs leave it
    *    false and let the d_bucket layout serve the k-row fetch).
    *
    * Idempotent; returns this searcher. Pin lifetime = the index snapshot's:
    * call `unpin()` before dropping the searcher if the session lives on. */
  def serving(pinBlocks: Boolean = true, pinDocs: Boolean = true,
      localDictMax: Int = 1000000, pinPostings: Boolean = false): Searcher = {
    if (pinBlocks && servingByBucket.isEmpty) {
      // pin the blocks PRE-CLUSTERED by doc bucket: one shuffle at pin
      // time buys every subsequent per-query WAND a shuffle-free plan
      // (BlockMaxWand.topKLocal runs each bucket's heap inside its own
      // cached partition and collects only k rows per bucket)
      // term_id-sorted within each bucket partition: the cache's per-batch
      // min/max stats then PRUNE the per-query term filter to the touched
      // batches instead of decoding the whole pinned table per query
      val byBucket = blocks.repartition(col("bucket"))
        .sortWithinPartitions(col("bucket"), col("term_id"), col("min_doc"))
      byBucket.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      byBucket.count() // materialize now: first query should not pay the scan
      servingByBucket = Some(byBucket)
      blocksPinned = true
    }
    if (pinDocs) {
      index.docs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      index.docs.count()
    }
    if (pinPostings && servingPostings.isEmpty) {
      // the match/phrase/boolean surfaces read postings per query; a
      // serving shard that fits its postings slice in storage memory
      // removes that parquet re-read the same way the block pin does —
      // re-clustered by (t_bucket, term_id) at pin time so the cache's
      // per-batch stats prune each query's term probe to the touched
      // batches (the parquet layout is doc-range-major for delta locality;
      // serving reads are term-major, so the pin re-sorts once).
      // Off by default: at 10^12 docs postings dwarf the block summaries —
      // pin only when the shard's slice fits (the caller knows its shard).
      val byTerm =
        if (index.termBuckets > 0 && index.postings.columns.contains("t_bucket"))
          index.postings.repartition(col("t_bucket"))
            .sortWithinPartitions(col("t_bucket"), col("term_id"), col("doc_ord"))
        else index.postings
      byTerm.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      byTerm.count()
      servingPostings = Some(byTerm)
      postingsPinned = true
    }
    if (fullLocalDict.isEmpty && resolveLru.isEmpty) {
      // ONE bounded collect decides the shape AND loads the dictionary
      // (limit(max+1) proves completeness — the former separate count()
      // job is folded into the collect)
      fullLocalDict = collectLocalDict(localDictMax)
      if (fullLocalDict.isEmpty) {
        val cap = math.max(localDictMax, 1024)
        resolveLru = Some(new java.util.LinkedHashMap[String, Option[ResolvedTerm]](
            1024, 0.75f, /*accessOrder=*/ true) {
          override def removeEldestEntry(
              e: java.util.Map.Entry[String, Option[ResolvedTerm]]): Boolean =
            size() > cap
        })
      }
    }
    this
  }

  /** Release serving-mode pins (blocks/docs/postings + driver dictionary). */
  def unpin(): Unit = {
    blocksPinned = false
    servingByBucket.foreach(_.unpersist())
    servingByBucket = None
    blocks.unpersist()
    index.docs.unpersist()
    servingPostings.foreach(_.unpersist())
    servingPostings = None
    postingsPinned = false
    fullLocalDict = None
    resolveLru = None
  }

  // ---------------------------------------------------------------- helpers

  /** Term dictionary lookup. Unknown terms are silently dropped, like the
    * SQL IN lookup in `/root/reference/storage_rdb_Impl.go:134-149`.
    *
    * In [[serving]] mode this is driver-resident (full map) or LRU-cached
    * with t_bucket-pruned miss lookups; otherwise one vocab-pruned
    * dictionary job per call. */
  def resolve(terms: Seq[String]): Seq[ResolvedTerm] = {
    preResolved match {
      case Some((covered, byTerm)) if terms.forall(covered) =>
        return terms.flatMap(byTerm.get)
      case Some((covered, byTerm)) =>
        val restSet = terms.filterNot(covered).distinct
        val rest = resolveWithStats(restSet).map(rt => rt.term -> rt).toMap
        return terms.flatMap(t =>
          if (covered(t)) byTerm.get(t) else rest.get(t))
      case None =>
    }
    resolveWithStats(terms)
  }

  private def resolveWithStats(terms: Seq[String]): Seq[ResolvedTerm] = {
    val base = resolveOwnStats(terms)
    if (statsOverride.isEmpty) base
    else base.map(rt => statsOverride.get(rt.term).fold(rt) {
      case (d, c) => rt.copy(df = d, cf = c)
    })
  }

  /** A view of this slice whose term statistics (df, cf) are REPLACED for
    * the given terms — the federation hook: every scoring surface that
    * resolves through the dictionary (BM25, dis_max, boosting,
    * function_score, grouped relevance, LM-Dirichlet) then weighs with
    * corpus-wide statistics while term ids, postings pruning, and block
    * tables stay slice-local. Shares this instance's index and prebuilt
    * block tables; serving-mode pins are per-instance. */
  private[query] def withStatsOverride(m: Map[String, (Long, Long)]): Searcher =
    new Searcher(index, analyzer, blockParams, preBuiltBlocks, sortUnranked,
      dGroupSpan, preBuiltBlocksByTerm, m)

  /** [[withStatsOverride]] plus the full pre-resolved entries for the
    * covered terms: queries over the returned view compile with ZERO
    * dictionary jobs for those terms — the resolutions (slice-local ids,
    * global df/cf already substituted) come from the federation's one
    * concurrent resolveGlobal pass. */
  private[query] def withPreResolved(covered: Set[String],
      byTerm: Map[String, ResolvedTerm]): Searcher =
    new Searcher(index, analyzer, blockParams, preBuiltBlocks, sortUnranked,
      dGroupSpan, preBuiltBlocksByTerm,
      byTerm.map { case (t, rt) => t -> (rt.df, rt.cf) },
      Some((covered, byTerm)))

  private def resolveOwnStats(terms: Seq[String]): Seq[ResolvedTerm] = {
    fullLocalDict match {
      case Some(d) => return terms.flatMap(d.get)
      case None =>
    }
    resolveLru match {
      case Some(lru) =>
        val missing = lru.synchronized(terms.distinct.filterNot(lru.containsKey))
        if (missing.nonEmpty) {
          val found = resolveJob(missing).map(rt => rt.term -> rt).toMap
          lru.synchronized(missing.foreach(t => lru.put(t, found.get(t))))
        }
        return lru.synchronized(terms.flatMap(t => Option(lru.get(t)).flatten))
      case None =>
    }
    if (!autoDictTried) {
      autoDict = collectLocalDict(graft.index.IndexBuilder.SmallVocabMax)
      autoDictTried = true
    }
    autoDict match {
      case Some(d) => terms.flatMap(d.get)
      case None    => resolveJob(terms)
    }
  }

  /** One bounded whole-dictionary collect: Some(map) when the vocabulary
    * fits `max` (the limit(max+1) returning ≤ max rows proves the whole
    * vocabulary was returned), None otherwise. Shared by [[serving]]'s
    * opt-in pin and the lazy auto-dictionary above. */
  private def collectLocalDict(max: Int): Option[Map[String, ResolvedTerm]] = {
    val hasCf = index.termDict.columns.contains("cf")
    val hasBucket = index.termBuckets > 0
    val cols = Seq("term", "term_id", "df") ++
      (if (hasCf) Seq("cf") else Nil) ++
      (if (hasBucket) Seq("t_bucket") else Nil)
    val rows = index.termDict.select(cols.map(col): _*).limit(max + 1).collect()
    if (rows.length > max) return None
    Some(rows.map { r =>
      val cf = if (hasCf) r.getLong(3) else -1L
      val bucket = if (hasBucket) r.getInt(if (hasCf) 4 else 3) else -1
      r.getString(0) -> ResolvedTerm(r.getString(0), r.getLong(1),
        r.getLong(2), bucket, cf)
    }.toMap)
  }

  /** The Spark dictionary-lookup job behind [[resolve]]: t_bucket-pruned
    * when the dictionary carries the bucket column (the bucket is
    * re-derived on the driver from the layout's own xxhash64). */
  private def resolveJob(terms: Seq[String]): Seq[ResolvedTerm] = {
    if (terms.isEmpty) return Nil
    val hasBucket = index.termBuckets > 0
    val hasCf = index.termDict.columns.contains("cf") // every index this
      // library builds carries it; -1 marks a hand-assembled dict without
    val cols = Seq("term", "term_id", "df") ++
      (if (hasCf) Seq("cf") else Nil) ++
      (if (hasBucket) Seq("t_bucket") else Nil)
    // t_bucket pre-filter (derived on the driver from the layout's own
    // xxhash64): prunes dictionary row groups at web-scale vocabularies
    val base =
      if (hasBucket) {
        val n = index.termBuckets
        val bks = terms.distinct
          .map(t => ((graft.index.IndexBuilder.termHash(t) % n) + n) % n)
          .distinct.map(_.toInt)
        index.termDict.filter(col("t_bucket").isin(bks: _*))
      } else index.termDict
    val found = base
      .filter(col("term").isin(terms.distinct: _*))
      .select(cols.map(col): _*)
      .collect()
      .map { r =>
        val cf = if (hasCf) r.getLong(3) else -1L
        val bucket = if (hasBucket) r.getInt(if (hasCf) 4 else 3) else -1
        r.getString(0) -> ResolvedTerm(r.getString(0), r.getLong(1),
          r.getLong(2), bucket, cf)
      }
      .toMap
    terms.flatMap(found.get) // query order preserved (ORDER BY FIELD parity)
  }

  /** Postings scan restricted to the query terms — with t_bucket partition
    * pruning when the index is a persisted bucketed layout, so only the
    * touched term-bucket directories are read at all
    * (the Spark analogue of `GetInvertedIndexByTokenIDs`,
    * `/root/reference/storage_rdb_Impl.go:151-172`). */
  private def postingsFor(rts: Seq[ResolvedTerm]): DataFrame = {
    val src = servingPostings.getOrElse(index.postings)
    val byId = src.filter(col("term_id").isin(rts.map(_.termId): _*))
    if (index.termBuckets > 0)
      byId.filter(col("t_bucket").isin(rts.map(_.bucket).distinct: _*))
    else byId
  }

  private def emptyDocs(withScore: Boolean): DataFrame = {
    val base = index.docs.limit(0)
    if (withScore) base.withColumn("score", lit(0.0)) else base
  }

  /** TF-IDF weight of a term — exactly the reference formula
    * `idf = log2(N/(df+1)) + 1` (`/root/reference/sorter.go:34`). */
  def tfIdfWeight(df: Long): Double =
    math.log(index.numDocs.toDouble / (df + 1).toDouble) / math.log(2.0) + 1.0

  /** BM25 idf (Robertson/Lucene form, always positive). */
  def bm25Idf(df: Long): Double =
    math.log(1.0 + (index.numDocs - df + 0.5) / (df + 0.5))

  /** Per-doc aggregation over the postings of the resolved terms: number of
    * distinct query terms present + the requested score sum, in ONE pass.
    * Doc length comes from the denormalized `dl` on the posting rows (no
    * doc_stats join per query); legacy indexes without it fall back. */
  private[query] def scoredMatches(rts: Seq[ResolvedTerm], scoreExpr: Column,
      among: Option[DataFrame] = None): DataFrame =
    scoredMatchesWeighted(rts.map(_ -> 1.0), scoreExpr, among)

  /** Doc length for scoring: the denormalized `dl` on the posting rows when
    * present (no doc_stats join per query); legacy indexes fall back. */
  private def withTokenCount(base: DataFrame): DataFrame =
    if (base.columns.contains("dl")) base.withColumn("token_count", col("dl"))
    else base.join(index.docStats, "doc_ord")

  /** [[scoredMatches]] with a per-term query-time boost multiplying the
    * term's idf weight (both families) — Lucene boost semantics: a pure
    * scale on that term's contribution. `among` restricts the aggregation
    * to a (broadcast-sized) ordinal set with a semi-join BEFORE the
    * doc-level aggregation (the rescore-window contract). */
  private def scoredMatchesWeighted(rts: Seq[(ResolvedTerm, Double)],
      scoreExpr: Column, among: Option[DataFrame] = None): DataFrame = {
    val weights = rts.map { case (rt, boost) =>
      (rt.termId, tfIdfWeight(rt.df) * boost, bm25Idf(rt.df) * boost)
    }.toDF("term_id", "w_tfidf", "w_bm25")
    val base = withTokenCount(postingsFor(rts.map(_._1)))
    val restricted = among match {
      case Some(ords) => base.join(broadcast(ords.select("doc_ord")),
        Seq("doc_ord"), "left_semi")
      case None => base
    }
    restricted
      .join(broadcast(weights), "term_id")
      .groupBy(col("doc_ord"))
      .agg(count(lit(1)).as("nterms"), sum(scoreExpr).as("score"))
  }

  /** Ranked tail shared by the top-k variants: the k-cut happens on the
    * (doc_ord, score) pairs FIRST — TakeOrderedAndProject over the scored
    * aggregation — and only the k winners fetch their doc rows, via a
    * broadcast join into the docs scan (guide §8: decide with small rows,
    * move the payload once). The former shape joined the FULL docs table —
    * text payload included — to the whole matched set before the cut, so a
    * hot-term query shuffled every matched doc row through the ranking
    * exchange. Cut-before-fetch equals fetch-before-cut because scored
    * ordinals are unique (post-aggregation) and every one exists in docs
    * (postings reference only indexed docs — the storage invariant). The
    * trailing limit keeps the final k-row sort a TakeOrderedAndProject
    * (a bare orderBy adds a range-partitioner sampling job). */
  private def rankedTopK(scored: DataFrame, k: Int): DataFrame = {
    val topk = scored.select("doc_ord", "score")
      .orderBy(desc("score"), asc("doc_ord")).limit(k)
    index.docs.join(broadcast(topk), "doc_ord")
      .orderBy(desc("score"), asc("doc_ord")).limit(k)
  }

  /** [[rankedTopK]] with the page-cursor ordering — scores quantized to
    * [[Searcher.PageGrain]] digits, same cut-then-fetch shape. */
  private def rankedTopKPaged(scored: DataFrame, k: Int): DataFrame = {
    def ord = Seq(round(col("score"), Searcher.PageGrain).desc, col("doc_ord").asc)
    val topk = scored.select("doc_ord", "score").orderBy(ord: _*).limit(k)
    index.docs.join(broadcast(topk), "doc_ord").orderBy(ord: _*).limit(k)
  }

  private[query] def tfIdfExpr: Column =
    col("tf").cast("double") / col("token_count").cast("double") * col("w_tfidf")

  private[query] def bm25Expr: Column = {
    val norm = lit(k1) * (lit(1 - b) + lit(b) * col("token_count").cast("double") / lit(index.avgDocLen))
    col("w_bm25") * (col("tf").cast("double") * lit(k1 + 1)) / (col("tf").cast("double") + norm)
  }

  private def fetchDocs(matched: DataFrame, ranked: Boolean): DataFrame = {
    val joined = index.docs.join(matched.select("doc_ord", "score"), "doc_ord")
    if (ranked) joined.orderBy(desc("score"), asc("doc_ord"))
    else {
      val unranked = joined.drop("score")
      if (sortUnranked) unranked.orderBy(asc("doc_ord")) else unranked
    }
  }

  // ---------------------------------------------------------------- queries

  /** MatchAllQuery: every document, docID order
    * (`/root/reference/searcher.go:18-30`) — or scan order with
    * `sortUnranked=false` (a global sort of the corpus is a scale hazard;
    * the reference's own "order" is just MySQL PK scan order). */
  def matchAll(): DataFrame =
    if (sortUnranked) index.docs.orderBy(asc("doc_ord")) else index.docs

  /** MatchQuery (AND/OR), unranked: ascending doc_ord like the reference's
    * and/orMatch cursor walks (`/root/reference/searcher.go:112-139`).
    * AND with any unknown term short-circuits to empty on the driver
    * (`searcher.go:66-68`) — no cluster work is launched at all. */
  def matchQuery(keyword: String, logic: Logic): DataFrame =
    matchImpl(keyword, logic, ranked = false)

  /** MatchQuery with TF-IDF ranking, rank-identical to
    * `/root/reference/sorter.go:22-41` with the tie-break pinned to
    * ascending doc_ord (the reference's unstable sort leaves ties undefined). */
  def matchQueryRanked(keyword: String, logic: Logic): DataFrame =
    matchImpl(keyword, logic, ranked = true)

  private def matchImpl(keyword: String, logic: Logic, ranked: Boolean): DataFrame = {
    if (!ranked) servingMatchLocal(keyword, logic) match {
      case Some(df) => return df
      case None     =>
    }
    matchedAgg(keyword, logic, ranked) match {
      case None          => emptyDocs(ranked)
      case Some(matched) => fetchDocs(matched, ranked)
    }
  }

  /** Result-size bound above which the serving match fast path falls back
    * to the distributed aggregation plan: the block-local path collects the
    * matched DOC ROWS to the driver (LocalRelation result, like the serving
    * WAND fetch), so it only engages when the DICTIONARY proves the result
    * driver-sized (AND: min term df; OR: Σ term df). Conf-tunable
    * (`spark.graft.servingMatchMaxRows`) — a driver-memory question, not an
    * algorithm question. */
  private def servingMatchMaxRows: Long =
    spark.conf.getOption("spark.graft.servingMatchMaxRows")
      .map(_.toLong).getOrElse(50000L)

  /** Serving-mode fast path for UNRANKED matches (the full-materialization
    * surface VERDICT r5 flagged at a ~0.5 s multi-stage AQE floor): when the
    * blocks are bucket-pinned AND the dictionary's df bound proves the
    * matched set broadcast-sized, the matched ordinals come from ONE
    * shuffle-free job over the cached block table
    * ([[BlockMaxWand.matchOrdsLocal]] — per-bucket sorted merges, disjoint
    * union on the driver), and the returned frame is the docs table
    * (d_bucket-pruned) broadcast-joined to those ordinals — row-identical
    * to the aggregation plan (set semantics over the same postings content;
    * parity spec-asserted), two cached-scan jobs per count instead of the
    * five-job aggregation pipeline. Oversized matches (hot-term ORs — the
    * bound is Σ df) fall back to the distributed plan, which is the correct
    * shape for corpus-sized results. None = not serving / not bounded. */
  private def servingMatchLocal(keyword: String, logic: Logic): Option[DataFrame] =
    servingByBucket match {
      case Some(pinned) =>
        val qTerms = analyzer.terms(keyword).distinct
        if (qTerms.isEmpty) return Some(emptyDocs(withScore = false))
        val rts = resolve(qTerms)
        if (rts.isEmpty) return Some(emptyDocs(withScore = false))
        if (logic == And && rts.size != qTerms.size)
          return Some(emptyDocs(withScore = false))
        val bound =
          if (logic == And) rts.map(_.df).min else rts.map(_.df).sum
        if (bound > servingMatchMaxRows) return None
        val ords = BlockMaxWand.matchOrdsLocal(pinned, rts.map(_.termId), logic == And)
        Some(localDocsFetch(ords))
      case None => None
    }

  /** LocalRelation fetch shared by the serving match/phrase fast paths,
    * exactly like the serving WAND path: one d_bucket-pruned scan collects
    * the matched rows (driver-bounded by the caller's df bound),
    * driver-sorted by doc_ord. A lazy join+orderBy would pay a global-sort
    * sample+shuffle per action — the multi-stage floor these paths exist to
    * remove — and even a broadcast-join fetch costs an extra AQE stage job;
    * the isInCollection filter compiles to one InSet scan (one job). The
    * caller's count()/collect() on the returned frame costs zero jobs. */
  private def localDocsFetch(ords: Array[Long]): DataFrame = {
    if (ords.isEmpty) return emptyDocs(withScore = false)
    val span = blockParams.bucketSpan
    val docsSide =
      if (index.docs.columns.contains("d_bucket") && span > 0)
        index.docs.filter(col("d_bucket")
          .isin(ords.map(_ / span).distinct.toSeq: _*))
      else index.docs
    val cols = "doc_ord" +: docsSide.columns.filterNot(_ == "doc_ord").toSeq
    val fetchDf = docsSide.select(cols.map(col): _*)
      .filter(col("doc_ord").isInCollection(ords.toSeq))
    val rows = fetchDf.collect().sortBy(_.getLong(0))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), fetchDf.schema)
  }

  /** Serving-mode fast path for UNRANKED phrases — the phrase sibling of
    * [[servingMatchLocal]]: when the postings are pinned AND the
    * dictionary's Σ df bound proves the terms' posting rows driver-sized,
    * ONE cached-scan job collects (term_id, doc_ord, positions) for the
    * phrase terms, and [[Phrase.hit]] — the same predicate the distributed
    * plan's UDF applies — decides each doc on the driver; the result is
    * the same LocalRelation fetch as the match path (2 jobs/query total).
    * Hot-term phrases exceed the bound and keep the distributed plan,
    * which is the right shape for corpus-sized candidate sets. */
  private def servingPhraseLocal(phrase: String, slop: Int,
      inOrder: Boolean): Option[DataFrame] = {
    if (servingPostings.isEmpty) return None
    val qTerms = analyzer.terms(phrase) // NOT deduped: each ordinal matters
    if (qTerms.isEmpty) return Some(emptyDocs(withScore = false))
    val rts = resolve(qTerms.distinct)
    if (rts.size != qTerms.distinct.size) return Some(emptyDocs(withScore = false))
    if (rts.map(_.df).sum > servingMatchMaxRows) return None
    val slots: Seq[(Long, Int)] = {
      val byTerm = rts.map(rt => rt.term -> rt.termId).toMap
      qTerms.zipWithIndex.map { case (t, i) => (byTerm(t), i) }
    }
    // per doc: term_id -> positions (one posting row per (term, doc))
    val byDoc = postingsFor(rts)
      .select(col("term_id"), col("doc_ord"), col("positions"))
      .collect().groupMap(_.getLong(1))(r => r.getLong(0) -> r.getSeq[Int](2))
      .view.mapValues(_.toMap)
    // every distinct term present, and the per-slot shifted sets hit
    val ords = byDoc.collect { case (doc, m) if m.size == rts.size &&
        Phrase.hit(slots.map { case (tid, qp) => m(tid).map(_ - qp).toArray }.toArray,
          slop, inOrder) => doc }
    Some(localDocsFetch(ords.toArray))
  }

  /** Total-hits count (the ES `_count` API / `track_total_hits`): how many
    * docs match, WITHOUT fetching, joining, or sorting them — the matched
    * ordinal aggregation collapses straight into one count. The cheap
    * cardinality probe a caller runs before deciding to paginate, sample,
    * or facet a huge matched set. */
  def countMatches(keyword: String, logic: Logic): Long = {
    servingByBucket match {
      case Some(pinned) =>
        // serving fast path: one shuffle-free job over the bucket-pinned
        // blocks (per-bucket sorted-merge counts, summed on the driver) —
        // count-identical to the aggregation plan (spec-asserted)
        val qTerms = analyzer.terms(keyword).distinct
        if (qTerms.isEmpty) return 0L
        val rts = resolve(qTerms)
        if (logic == And && rts.size < qTerms.size) return 0L // unknown term
        if (rts.isEmpty) return 0L
        BlockMaxWand.matchCountLocal(pinned, rts.map(_.termId), logic == And)
      case None =>
        matchedAgg(keyword, logic, ranked = false) match {
          case None          => 0L
          case Some(matched) => matched.count()
        }
    }
  }

  /** OR match requiring at least `minShouldMatch` DISTINCT query terms per
    * doc — Elasticsearch `minimum_should_match` semantics (msm=1 ≡ plain OR,
    * msm = #distinct terms ≡ AND). Same one pruned postings scan + one
    * doc-level aggregation as [[matchQuery]]; the quota is a filter on the
    * distinct-term count that aggregation already computes. Unknown terms
    * can never match, so when fewer than `minShouldMatch` terms resolve the
    * query short-circuits to empty on the driver (no cluster work). Ranked
    * results score BM25 over the matched terms (tie-break doc_ord asc). */
  def matchQueryMsm(keyword: String, minShouldMatch: Int,
      ranked: Boolean = false): DataFrame = {
    require(minShouldMatch >= 1, s"minShouldMatch must be >= 1, got $minShouldMatch")
    val qTerms = analyzer.terms(keyword).distinct
    if (qTerms.isEmpty) return emptyDocs(ranked)
    val rts = resolve(qTerms)
    if (rts.size < minShouldMatch) return emptyDocs(ranked)
    val agg = scoredMatches(rts, if (ranked) bm25Expr else lit(0.0))
      .filter(col("nterms") >= lit(minShouldMatch))
    fetchDocs(agg, ranked)
  }

  /** The doc-level aggregation of [[matchQuery]] BEFORE the docs join:
    * (doc_ord, nterms, score) of every doc satisfying the logic — None when
    * the query is statically empty (no terms / AND with an unknown term).
    * Shared by facet counting, highlighting and the boolean-tree compiler,
    * which all consume the matched ordinal set, not the doc rows. */
  private[query] def matchedAgg(keyword: String, logic: Logic,
      ranked: Boolean): Option[DataFrame] = {
    val qTerms = analyzer.terms(keyword).distinct // IN-lookup set semantics
    if (qTerms.isEmpty) return None
    val rts = resolve(qTerms)
    if (rts.isEmpty) return None
    if (logic == And && rts.size != qTerms.size) return None
    val agg = scoredMatches(rts, if (ranked) tfIdfExpr else lit(0.0))
    Some(logic match {
      case And => agg.filter(col("nterms") === lit(rts.size))
      case Or  => agg
    })
  }

  // ------------------------------------ term-dictionary expansion queries

  /** Dictionary expansion: terms satisfying `pred`, deterministically capped
    * at `maxExpansions` keeping the HIGHEST-df terms (ties: term asc) — the
    * expansions that change the most results survive truncation, like
    * Lucene's MultiTermQuery rewrite. The dictionary scan is vocab-sized
    * (metadata scale, never corpus scale); the result drives the same
    * pruned postings scan as an ordinary OR query. */
  private def expand(pred: Column, maxExpansions: Int): Seq[ResolvedTerm] = {
    val hasBucket = index.termBuckets > 0
    val cols = if (hasBucket) Seq("term", "term_id", "df", "t_bucket")
               else Seq("term", "term_id", "df")
    index.termDict.filter(pred)
      .orderBy(desc("df"), asc("term"))
      .limit(maxExpansions)
      .select(cols.map(col): _*)
      .collect()
      .map(r => ResolvedTerm(r.getString(0), r.getLong(1), r.getLong(2),
        if (hasBucket) r.getInt(3) else -1))
      .toSeq
  }

  /** OR-match over a pre-resolved expansion set (unranked doc-order or
    * TF-IDF ranked like [[matchQueryRanked]]). */
  private[query] def matchExpanded(rts: Seq[ResolvedTerm], ranked: Boolean): DataFrame =
    if (rts.isEmpty) emptyDocs(ranked)
    else fetchDocs(scoredMatches(rts, if (ranked) tfIdfExpr else lit(0.0)), ranked)

  /** PrefixQuery: docs containing any dictionary term starting with `prefix`
    * (OR over the expansion, Lucene MultiTermQuery semantics). The prefix is
    * matched verbatim against POST-analysis dictionary terms — pass it in
    * analyzed form (e.g. lowercase for the standard analyzer). */
  def prefixQuery(prefix: String, ranked: Boolean = false,
      maxExpansions: Int = 128): DataFrame = {
    if (prefix.isEmpty) return emptyDocs(ranked)
    matchExpanded(expand(col("term").startsWith(prefix), maxExpansions), ranked)
  }

  /** WildcardQuery: `*` = any run, `?` = any single char, anchored at both
    * ends; all other characters literal. Compiled to one RLIKE scan of the
    * vocab-sized dictionary, then an ordinary OR match. */
  def wildcardQuery(pattern: String, ranked: Boolean = false,
      maxExpansions: Int = 128): DataFrame = {
    if (pattern.isEmpty) return emptyDocs(ranked)
    matchExpanded(
      expand(col("term").rlike(Searcher.wildcardRegex(pattern)), maxExpansions),
      ranked)
  }

  /** RegexpQuery: docs containing any dictionary term matching `regex`
    * (anchored at both ends, Java regex syntax — the raw-regex sibling of
    * [[wildcardQuery]]). */
  def regexpQuery(regex: String, ranked: Boolean = false,
      maxExpansions: Int = 128): DataFrame = {
    if (regex.isEmpty) return emptyDocs(ranked)
    matchExpanded(expand(col("term").rlike("^(?:" + regex + ")$"), maxExpansions), ranked)
  }

  /** TermRangeQuery: docs containing any dictionary term lexicographically
    * in [lo, hi] (inclusive bounds; null/empty bound = open end). */
  def termRangeQuery(lo: String, hi: String, ranked: Boolean = false,
      maxExpansions: Int = 128): DataFrame = {
    val loP = Option(lo).filter(_.nonEmpty).map(col("term") >= _)
    val hiP = Option(hi).filter(_.nonEmpty).map(col("term") <= _)
    val pred = (loP.toSeq ++ hiP.toSeq).reduceOption(_ && _).getOrElse(lit(true))
    matchExpanded(expand(pred, maxExpansions), ranked)
  }

  /** Autocomplete: the `n` highest-df dictionary terms starting with
    * `prefix` (ties term asc), with their document frequencies — a
    * vocab-sized dictionary scan, zero postings work. */
  def suggest(prefix: String, n: Int = 10): DataFrame =
    index.termDict.filter(col("term").startsWith(prefix))
      .select(col("term"), col("df"))
      .orderBy(desc("df"), asc("term"))
      .limit(n)

  /** Match-phrase-prefix (Elasticsearch `match_phrase_prefix` — the
    * query-as-you-type phrase): phrase matching where the LAST token is a
    * dictionary PREFIX — "spark jo" matches docs continuing with "join",
    * "jobs", … . The final token expands against the vocab-sized dictionary
    * exactly like [[prefixQuery]] (highest-df first, capped at
    * `maxExpansions` — Lucene MultiTermQuery truncation); every expansion
    * shares the FINAL phrase slot, so a doc matches when some expansion
    * completes the phrase within `slop` (the same unordered window
    * semantics as [[phraseQuery]]; slop 0 = exact adjacency).
    *
    * Work shape: one pruned postings scan for the exact terms plus the
    * expansion set, one (doc, slot) aggregation that UNIONS positions per
    * slot (the only change vs the single-term-per-slot phrase plan), one
    * doc-level [[Phrase.hit]]. `ranked` scores matched docs with TF-IDF over
    * the exact terms + expansions, like the ranked phrase path. */
  def matchPhrasePrefix(phrase: String, slop: Int = 0,
      maxExpansions: Int = 128, ranked: Boolean = false): DataFrame = {
    Phrase.requireSlop(slop)
    require(maxExpansions > 0, s"maxExpansions must be > 0, got $maxExpansions")
    val qTerms = analyzer.terms(phrase)
    if (qTerms.isEmpty) return emptyDocs(ranked)
    val exact = qTerms.init
    val prefix = qTerms.last
    val exactRts = resolve(exact.distinct).map(rt => rt.term -> rt).toMap
    if (exactRts.size != exact.distinct.size) return emptyDocs(ranked)
    matchPhrasePrefixResolved(exact.map(exactRts),
      expand(col("term").startsWith(prefix), maxExpansions), slop, ranked)
  }

  /** [[matchPhrasePrefix]] with the final-slot expansion already resolved —
    * the federation hook: the federated path expands against the MERGED
    * global vocabulary, re-resolves per slice (global df substituted, term
    * ids slice-local), and each slice runs this plan. `exactInOrder` carries
    * one resolved term per non-final phrase slot (duplicate tokens
    * repeated), `expRts` the final-slot expansion set. */
  private[query] def matchPhrasePrefixResolved(exactInOrder: Seq[ResolvedTerm],
      expRts: Seq[ResolvedTerm], slop: Int, ranked: Boolean): DataFrame = {
    Phrase.requireSlop(slop)
    if (expRts.isEmpty) return emptyDocs(ranked)

    val k = exactInOrder.size + 1
    val slots = exactInOrder.zipWithIndex.map { case (rt, i) => (rt.termId, i) } ++
      expRts.map(rt => (rt.termId, k - 1))
    val allRts = (exactInOrder ++ expRts).distinct

    // Per-slot position UNION: several expansions of the final slot can
    // appear in one doc; any of their positions may complete the phrase.
    val perSlot = postingsFor(allRts)
      .join(broadcast(slots.toDF("term_id", "q_pos")), "term_id")
      .groupBy(col("doc_ord"), col("q_pos"))
      .agg(array_distinct(flatten(collect_list(col("positions")))).as("positions"))
    val matched = phraseHits(perSlot, k, slop, inOrder = false)

    if (!ranked) fetchDocs(matched.withColumn("score", lit(0.0)), ranked = false)
    else fetchDocs(
      scoredMatches(allRts, tfIdfExpr)
        .join(matched.select("doc_ord"), "doc_ord", "left_semi"),
      ranked = true)
  }

  /** Did-you-mean spell correction: the dictionary terms within `maxEdits`
    * Levenshtein edits of `term`, ranked most-plausible first — distance
    * asc, then df desc, then term asc (closer corrections beat popular ones;
    * popularity breaks distance ties — the standard Lucene DirectSpellChecker
    * ordering). The exact term itself is excluded (distance 0 means nothing
    * to correct). A vocab-sized dictionary scan with the same length-window
    * prefilter as [[fuzzyQuery]]; zero postings work. */
  def didYouMean(term: String, maxEdits: Int = 2, n: Int = 5): DataFrame = {
    val normed = analyzer.terms(term).headOption // normalized like the dictionary
    if (normed.isEmpty)
      return index.termDict.select(col("term"), col("df"))
        .withColumn("distance", lit(0)).limit(0)
    val t = normed.get
    index.termDict
      .filter(length(col("term"))
        .between(t.length - maxEdits, t.length + maxEdits) &&
        col("term") =!= t)
      .withColumn("distance", levenshtein(col("term"), lit(t)))
      .filter(col("distance") <= maxEdits)
      .select(col("term"), col("df"), col("distance"))
      .orderBy(asc("distance"), desc("df"), asc("term"))
      .limit(n)
  }

  /** FuzzyQuery: docs containing any dictionary term within `maxEdits`
    * Levenshtein edits of `term` (exact term included at distance 0). The
    * length window prefilter keeps the edit-distance evaluation off terms
    * that cannot qualify. */
  def fuzzyQuery(term: String, maxEdits: Int = 1, ranked: Boolean = false,
      maxExpansions: Int = 128): DataFrame =
    // analyzer-normalize (first analyzed token) so the edit distance runs
    // against the same normalized space the dictionary holds
    analyzer.terms(term).headOption match {
      case None    => emptyDocs(ranked)
      case Some(t) =>
        matchExpanded(expand(Searcher.fuzzyPred(t, maxEdits), maxExpansions), ranked)
    }

  /** MoreLikeThis: docs similar to `docOrd`, BM25-ranked over the source
    * doc's `maxQueryTerms` most characteristic terms — highest tf·idf
    * (reference TF-IDF weight formula), ties broken term asc — with the
    * source doc excluded, Lucene MLT semantics. The term selection reads
    * ONLY the source doc's posting rows (d_group partition-pruned on the
    * persisted layout, never a corpus scan) plus a vocab-bounded dictionary
    * lookup; the search is the ordinary pruned BM25 OR plan. */
  def moreLikeThis(docOrd: Long, maxQueryTerms: Int = 10, k: Int = 10): DataFrame = {
    require(k >= 0 && maxQueryTerms >= 0,
      s"k and maxQueryTerms must be >= 0, got k=$k, maxQueryTerms=$maxQueryTerms")
    val src0 = index.postings.filter(col("doc_ord") === lit(docOrd))
    val src = if (dGroupSpan > 0 && index.postings.columns.contains("d_group"))
      src0.filter(col("d_group") === lit(docOrd / dGroupSpan)) else src0
    val tfById = src.select(col("term_id"), col("tf").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    if (tfById.isEmpty) return emptyDocs(withScore = true).limit(0)
    val hasBucket = index.termBuckets > 0
    val cols = if (hasBucket) Seq("term", "term_id", "df", "t_bucket")
               else Seq("term", "term_id", "df")
    val dict = index.termDict.filter(col("term_id").isin(tfById.keys.toSeq: _*))
      .select(cols.map(col): _*).collect()
      .map(r => ResolvedTerm(r.getString(0), r.getLong(1), r.getLong(2),
        if (hasBucket) r.getInt(3) else -1))
    val top = dict
      .map(rt => (rt, tfById(rt.termId) * tfIdfWeight(rt.df)))
      .sortBy { case (rt, w) => (-w, rt.term) }
      .take(maxQueryTerms).map(_._1).toSeq
    val scored = scoredMatches(top, bm25Expr)
      .filter(col("doc_ord") =!= lit(docOrd))
    fetchDocs(scored, ranked = true).limit(k)
  }

  /** Term vectors of one document (ES `_termvectors` shape): every indexed
    * term with its tf and 0-based positions in the analyzed stream, term
    * asc. Reads ONLY the doc's posting rows (d_group-pruned on the
    * persisted layout) + a vocab-sized dictionary join. Positions are
    * rendered as a comma-joined string for engine-portable output. */
  def termVectors(docOrd: Long): DataFrame = {
    val src0 = index.postings.filter(col("doc_ord") === lit(docOrd))
    val src = if (dGroupSpan > 0 && index.postings.columns.contains("d_group"))
      src0.filter(col("d_group") === lit(docOrd / dGroupSpan)) else src0
    src.join(index.termDict.select("term_id", "term"), "term_id")
      .select(col("term"), col("tf").cast("long").as("tf"),
        array_join(col("positions"), ",").as("positions"))
      .orderBy(asc("term"))
  }

  /** Score explanation (ES `_explain` shape): the per-term BM25 components
    * of `keyword` against one document — tf, df, idf, the saturated tf
    * factor, and each term's contribution, term asc. Sum of `contribution`
    * over the rows is exactly the doc's [[bm25All]] score. One single-doc
    * posting lookup; weights come from the driver-resolved dictionary. */
  def explainScore(keyword: String, docOrd: Long): DataFrame = {
    val rts = resolve(analyzer.terms(keyword).distinct)
    val empty = spark.emptyDataFrame
      .withColumn("term", lit("")).withColumn("tf", lit(0L))
      .withColumn("df", lit(0L)).withColumn("idf", lit(0.0))
      .withColumn("tf_factor", lit(0.0)).withColumn("contribution", lit(0.0))
      .limit(0)
    if (rts.isEmpty) return empty
    val src0 = index.postings
      .filter(col("doc_ord") === lit(docOrd))
      .filter(col("term_id").isin(rts.map(_.termId): _*))
    val src = if (dGroupSpan > 0 && index.postings.columns.contains("d_group"))
      src0.filter(col("d_group") === lit(docOrd / dGroupSpan)) else src0
    val withDl = withTokenCount(src)
    val weights = rts.map(rt => (rt.termId, rt.term, rt.df, bm25Idf(rt.df)))
      .toDF("term_id", "term", "df", "idf")
    val tfFactor = col("tf").cast("double") * lit(k1 + 1) /
      (col("tf").cast("double") + lit(k1) * (lit(1 - b) +
        lit(b) * col("token_count").cast("double") / lit(index.avgDocLen)))
    withDl.join(broadcast(weights), "term_id")
      .select(col("term"), col("tf").cast("long").as("tf"), col("df"),
        col("idf"), tfFactor.as("tf_factor"),
        (col("idf") * tfFactor).as("contribution"))
      .orderBy(asc("term"))
  }

  // ------------------------------------------- facets / highlight / snippet

  /** Facet counts over a match: number of matched docs per value of
    * `facetCol` (a docs-table column). One pruned postings scan + the
    * doc-level match aggregation + one facet-sized aggregation — the
    * matched ordinal set is semi-joined to docs, never sorted. */
  def facetCounts(keyword: String, logic: Logic, facetCol: String): DataFrame =
    matchedDocs(keyword, logic)
      .groupBy(col(facetCol)).agg(count(lit(1)).as("n_docs"))

  /** The matched docs frame for (keyword, logic) — the shared front half of
    * every matched-set facet/sort: one pruned postings scan + the doc-level
    * match aggregation, matched ordinals joined to docs (never sorted).
    * Statically-empty matches skip the join and return schema-only docs. */
  private def matchedDocs(keyword: String, logic: Logic): DataFrame =
    matchedAgg(keyword, logic, ranked = false) match {
      case None          => index.docs.limit(0)
      case Some(matched) => index.docs.join(matched.select("doc_ord"), "doc_ord")
    }

  /** Histogram facet over the matched set — Elasticsearch's histogram
    * aggregation: counts of docs per `binWidth`-wide bucket of the numeric
    * `valueCol` (bucket key = floor(value / binWidth) · binWidth). Same
    * shape as [[facetCounts]]: one pruned postings scan + matched-ordinal
    * join + bucket-count aggregation; never sorts the matched set. */
  def facetHistogram(keyword: String, logic: Logic, valueCol: String,
      binWidth: Long): DataFrame = {
    require(binWidth > 0, s"binWidth must be > 0, got $binWidth")
    val bucket = (floor(col(valueCol).cast("double") / binWidth) * binWidth)
      .cast("long").as("bucket")
    matchedDocs(keyword, logic).groupBy(bucket).agg(count(lit(1)).as("n_docs"))
  }

  /** Significant-terms facet (Elasticsearch `significant_terms`, lift
    * flavor): the terms most OVER-represented in the matched set relative to
    * the corpus — `lift = (df_in / n_matched) / (df / N)` — with at least
    * `minDocCount` matched occurrences, top `topN` by lift (ties: term asc).
    * Both ratios are exact integer divisions, so the facet is
    * engine-reproducible. Shape: the matched ordinals semi-join the postings
    * store (column-pruned to (term_id, doc_ord)) and aggregate to a
    * vocab-bounded frame, then join the broadcast dictionary. Unlike the
    * query paths this scan is NOT term-pruned — work is proportional to the
    * matched set's total postings; at 10^12 docs run it on a sampled
    * matched set (`Pipeline.sampleByHash` composes). */
  def significantTerms(keyword: String, logic: Logic, topN: Int = 10,
      minDocCount: Long = 3): DataFrame = {
    val empty = spark.emptyDataFrame
      .withColumn("term", lit("")).withColumn("df_in", lit(0L))
      .withColumn("df", lit(0L)).withColumn("lift", lit(0.0)).limit(0)
    matchedAgg(keyword, logic, ranked = false) match {
      case None => empty
      case Some(matched) =>
        val m = matched.select("doc_ord")
        val nMatched = broadcast(m.agg(count(lit(1)).as("n_matched")))
        val dfIn = index.postings.select("term_id", "doc_ord")
          .join(m, Seq("doc_ord"), "left_semi")
          .groupBy(col("term_id")).agg(count(lit(1)).as("df_in"))
        dfIn
          .join(index.termDict.select("term_id", "term", "df"), "term_id")
          .crossJoin(nMatched)
          .filter(col("df_in") >= minDocCount)
          .withColumn("lift",
            (col("df_in").cast("double") / col("n_matched").cast("double")) /
              (col("df").cast("double") / lit(index.numDocs.toDouble)))
          .select("term", "df_in", "df", "lift")
          .orderBy(desc("lift"), asc("term"))
          .limit(topN)
    }
  }

  /** Matched-set projection to one docs column — the slice-mergeable core
    * of the value facets (cardinality, percentiles): a federation unions
    * these single-column frames and runs ONE aggregation whose map-side
    * partials (distinct dedupe / HLL++ sketch / t-digest) merge across the
    * union branches exactly as they merge across partitions. */
  private[query] def matchedValues(keyword: String, logic: Logic,
      valueCol: String): DataFrame =
    matchedDocs(keyword, logic).select(col(valueCol))

  /** The slice-mergeable core of [[significantTerms]]: per-term matched-set
    * document frequencies `(term, df_in)` plus the matched-doc count. Both
    * SUM losslessly across disjoint corpus slices (a doc lives in exactly
    * one slice); lift needs the GLOBAL df/N, so a federation recomputes it
    * after the merge. None when the query is statically empty against this
    * index's vocabulary — the same gate [[significantTerms]] applies. */
  private[query] def matchedDfIn(keyword: String, logic: Logic): Option[(DataFrame, Long)] =
    matchedAgg(keyword, logic, ranked = false).map { matched =>
      val m = matched.select("doc_ord")
      val dfIn = index.postings.select("term_id", "doc_ord")
        .join(m, Seq("doc_ord"), "left_semi")
        .groupBy(col("term_id")).agg(count(lit(1)).as("df_in"))
        .join(index.termDict.select("term_id", "term"), "term_id")
        .select("term", "df_in")
      (dfIn, m.count())
    }

  /** Stats facet over the matched set — Elasticsearch's stats aggregation:
    * count / min / max / sum / avg of the numeric `valueCol` across matched
    * docs, in one facet-sized aggregation after the matched-ordinal join.
    * Empty matched set yields one all-null row (count 0), like SQL. */
  def facetStats(keyword: String, logic: Logic, valueCol: String): DataFrame = {
    val v = col(valueCol).cast("double")
    matchedDocs(keyword, logic)
      .agg(count(lit(1)).as("n_docs"), min(v).as("vmin"), max(v).as("vmax"),
        sum(v).as("vsum"), avg(v).as("vavg"))
  }

  /** Percentiles facet (Elasticsearch `percentiles` aggregation, exact
    * flavor): linear-interpolation percentiles of the numeric `valueCol`
    * over the matched set, one row `(fraction, value)` per requested
    * fraction (the SQL `percentile_cont` definition — position
    * `f·(n-1)` interpolated between neighbors, so it is
    * engine-reproducible). Exact percentiles sort the matched values inside
    * one aggregation buffer; at matched sets where that state is itself
    * web-scale use [[facetPercentilesApprox]]. */
  def facetPercentiles(keyword: String, logic: Logic, valueCol: String,
      fractions: Seq[Double]): DataFrame = {
    require(fractions.nonEmpty, "at least one percentile fraction required")
    require(fractions.forall(f => f >= 0.0 && f <= 1.0),
      s"fractions must be in [0, 1], got $fractions")
    percentileFacet(keyword, logic, valueCol, fractions,
      v => percentile(v, typedLit(fractions)))
  }

  /** [[facetPercentiles]] with the t-digest sketch (Spark
    * `percentile_approx` / Elasticsearch's actual `percentiles`
    * implementation): constant memory per partition and a sketch-sized
    * shuffle regardless of matched-set size — the 10^12-doc shape.
    * `accuracy` trades memory for error (Spark default 10000); closeness to
    * the exact facet is pinned in SearcherSpec. */
  def facetPercentilesApprox(keyword: String, logic: Logic, valueCol: String,
      fractions: Seq[Double], accuracy: Int = 10000): DataFrame = {
    require(fractions.nonEmpty, "at least one percentile fraction required")
    require(fractions.forall(f => f >= 0.0 && f <= 1.0),
      s"fractions must be in [0, 1], got $fractions")
    percentileFacet(keyword, logic, valueCol, fractions,
      v => percentile_approx(v, typedLit(fractions), lit(accuracy))
        .cast("array<double>"))
  }

  /** Shared shape of the two percentile facets: matched-ordinal join, ONE
    * aggregation producing the whole fraction array, then a fraction-sized
    * expansion back to rows. The expansion explodes the LITERAL fraction
    * list (not the aggregate array) so an empty matched set — where the
    * aggregate is a null array — still yields one (fraction, null) row per
    * REQUESTED fraction, the contract callers zip against. */
  private def percentileFacet(keyword: String, logic: Logic, valueCol: String,
      fractions: Seq[Double], agg: Column => Column): DataFrame = {
    val slots = fractions.zipWithIndex.map { case (f, i) =>
      struct(lit(f).as("fraction"), lit(i + 1).as("_i"))
    }
    matchedDocs(keyword, logic)
      .agg(agg(col(valueCol).cast("double")).as("_ps"))
      .select(explode(array(slots: _*)).as("_f"), col("_ps"))
      .select(col("_f.fraction").as("fraction"),
        element_at(col("_ps"), col("_f._i")).as("value"))
  }

  /** Cardinality facet (Elasticsearch `cardinality` aggregation, exact
    * flavor): the number of DISTINCT values of `facetCol` across the matched
    * set, one row `(n_distinct)`. Shape: matched-ordinal join projected to
    * the single facet column, then one distinct-count aggregation — the
    * partial aggregation dedupes map-side, so the shuffle carries at most
    * one row per distinct value per partition, never the matched set. For
    * sketch-sized memory at extreme cardinalities use
    * [[facetCardinalityApprox]]. */
  def facetCardinality(keyword: String, logic: Logic, facetCol: String): DataFrame =
    matchedDocs(keyword, logic)
      .agg(count_distinct(col(facetCol)).as("n_distinct"))

  /** [[facetCardinality]] with a HyperLogLog++ sketch (Elasticsearch's
    * actual `cardinality` implementation): constant memory per partition and
    * a sketch-sized shuffle regardless of cardinality — the right call when
    * the distinct count itself is web-scale (e.g. distinct conv_ids matched
    * across 10^12 turns, where exact distinct-count state is the bottleneck).
    * `rsd` is the target relative standard deviation (Spark default 0.05);
    * accuracy vs the exact count is pinned in SearcherSpec. */
  def facetCardinalityApprox(keyword: String, logic: Logic, facetCol: String,
      rsd: Double = 0.05): DataFrame =
    matchedDocs(keyword, logic)
      .agg(approx_count_distinct(col(facetCol), rsd).as("n_distinct"))

  /** Date-histogram facet (Elasticsearch `date_histogram` with a calendar
    * interval): doc counts per `date_trunc(interval)` bucket of the
    * timestamp expression `ts` (any Column over docs columns) across the
    * matched set — matches-over-time, the standard dashboard aggregation.
    * Same shape as [[facetCounts]]: one
    * pruned postings scan + matched-ordinal join + bucket-sized aggregation;
    * the corpus is never sorted. Calendar semantics (month/quarter/year
    * bucket edges) come from `date_trunc`, identical across engines for UTC
    * timestamps. */
  def facetDateHistogram(keyword: String, logic: Logic, ts: Column,
      interval: String): DataFrame = {
    val allowed = Set("hour", "day", "week", "month", "quarter", "year")
    require(allowed.contains(interval),
      s"interval must be one of ${allowed.toSeq.sorted.mkString(", ")}, got $interval")
    val bucket = date_trunc(interval, ts).as("bucket")
    matchedDocs(keyword, logic).groupBy(bucket).agg(count(lit(1)).as("n_docs"))
  }

  /** Sort-by-field top-k (Elasticsearch `sort` on a doc field instead of
    * `_score`): the first `k` matched docs ordered by the docs column
    * `sortCol` (ties: doc_ord asc) — "newest matching turns", "shortest
    * matching docs". The matched ordinals join the docs table and the plan
    * compiles to TakeOrderedAndProject (per-partition heaps + driver merge
    * of k rows), never a global sort of the matched set. */
  def matchTopKSortBy(keyword: String, logic: Logic, sortCol: String, k: Int,
      ascending: Boolean = true): DataFrame = {
    val key = if (ascending) asc(sortCol) else desc(sortCol)
    matchedDocs(keyword, logic).orderBy(key, asc("doc_ord")).limit(k)
  }

  /** Matched docs with the query terms each one actually contains
    * (`hit_terms`, space-joined in lexicographic order) — the "which terms
    * matched" half of result highlighting, computed from the INDEX postings
    * (no re-analysis of the corpus). */
  def highlightTerms(keyword: String, logic: Logic): DataFrame = {
    val qTerms = analyzer.terms(keyword).distinct
    val rts = resolve(qTerms)
    val empty = index.docs.limit(0).withColumn("hit_terms", lit(""))
    if (qTerms.isEmpty || rts.isEmpty) return empty
    if (logic == And && rts.size != qTerms.size) return empty
    val names = rts.map(rt => (rt.termId, rt.term)).toDF("term_id", "term")
    val agg = postingsFor(rts)
      .join(broadcast(names), "term_id")
      .groupBy(col("doc_ord"))
      .agg(count(lit(1)).as("nterms"),
        array_join(array_sort(collect_set(col("term"))), " ").as("hit_terms"))
    val matched = logic match {
      case And => agg.filter(col("nterms") === lit(rts.size))
      case Or  => agg
    }
    index.docs.join(matched.select("doc_ord", "hit_terms"), "doc_ord")
  }

  /** Snippet extraction: for every doc matching any query term, the window
    * of `window` analyzed tokens either side of the FIRST occurrence of the
    * earliest query term. The match position comes from the index (head of
    * the stored posting positions — ordinals in the analyzed stream); only
    * the matched rows' text is re-analyzed, a per-row native projection.
    * Windows clamp at document edges. */
  def snippet(keyword: String, window: Int = 2): DataFrame = {
    require(window >= 0, s"window must be >= 0, got $window")
    val qTerms = analyzer.terms(keyword).distinct
    val rts = resolve(qTerms)
    val empty = index.docs.limit(0)
      .withColumn("first_pos", lit(0L)).withColumn("snippet", lit(""))
    if (rts.isEmpty) return empty
    val firstPos = postingsFor(rts)
      .groupBy(col("doc_ord"))
      .agg(min(element_at(col("positions"), 1)).cast("long").as("first_pos"))
    val toks = analyzer.termsColumn(col("text"))
    // window is [p-w, p+w] with BOTH bounds clamped (slice clamps the end;
    // the long end is capped so the int length cannot overflow); positions
    // are 0-based ordinals, slice is 1-based
    val start0 = greatest(col("first_pos") - window, lit(0L))
    val len = least(col("first_pos") + window + 1, lit(Int.MaxValue.toLong)) - start0
    index.docs.join(firstPos, "doc_ord")
      .withColumn("snippet",
        array_join(slice(toks, (start0 + 1).cast("int"), len.cast("int")), " "))
  }

  /** PhraseQuery: all terms must resolve (`searcher.go:230-232`), docs must
    * contain every query position's term, and the position sets — each
    * shifted left by its query ordinal — must share a common element
    * (`searcher.go:277-314`). Single-term phrases degenerate to match-any
    * (`searcher_test.go:209-218`).
    *
    * `slop > 0` relaxes the phrase to window semantics: a doc matches iff
    * some choice of one shifted position per query slot spans at most `slop`
    * (max − min ≤ slop; slop=0 is the exact phrase). Unlike Lucene's sloppy
    * phrase, repeated-term slots may align to the SAME occurrence when the
    * window permits (window semantics, pinned in SearcherSpec).
    *
    * `inOrder = true` (Lucene `span_near(inOrder=true)`) additionally
    * requires the terms to occur in QUERY ORDER at strictly increasing text
    * positions with at most `slop` total gap: ∃ a non-decreasing chain of
    * shifted positions, one per slot, spanning ≤ slop. Repeated-term slots
    * then need DISTINCT occurrences. At slop 0 ordered ≡ unordered ≡ exact.
    *
    * All three are [[Phrase.hit]], applied as a UDF to the doc-level
    * `collect_list` of slot positions inside the one doc-level aggregation:
    * Spark's higher-order array functions are `CodegenFallback`
    * (interpreted), so Column folds over the same list would be no faster. */
  def phraseQuery(phrase: String, ranked: Boolean = false, slop: Int = 0,
      inOrder: Boolean = false): DataFrame = {
    Phrase.requireSlop(slop)
    if (!ranked) servingPhraseLocal(phrase, slop, inOrder) match {
      case Some(df) => return df
      case None     =>
    }
    phraseMatch(phrase, slop, inOrder, among = None) match {
      case None => emptyDocs(ranked)
      case Some((matched, rts)) =>
        if (!ranked) fetchDocs(matched.withColumn("score", lit(0.0)), ranked = false)
        else {
          // score the phrase-matched docs with TF-IDF over the phrase's terms
          val scored = scoredMatches(rts, tfIdfExpr)
            .join(matched.select("doc_ord"), "doc_ord", "left_semi")
          fetchDocs(scored, ranked = true)
        }
    }
  }

  /** The phrase-match core shared by [[phraseQuery]] and the rescore window
    * ([[bm25TopKRescore]]): matched ordinals (one column, `doc_ord`) plus
    * the resolved distinct terms, or None when the phrase is empty or any
    * term is unknown (phrase can't match — `searcher.go:230-232`). `among`
    * restricts evaluation to the given (broadcast-sized) ordinal set with a
    * semi-join BEFORE the doc-level aggregation, so the work is proportional
    * to the restriction — the rescore contract — not the phrase terms'
    * corpus-wide postings. */
  private[query] def phraseMatch(phrase: String, slop: Int, inOrder: Boolean,
      among: Option[DataFrame]): Option[(DataFrame, Seq[ResolvedTerm])] = {
    Phrase.requireSlop(slop)
    val qTerms = analyzer.terms(phrase) // NOT deduped: each ordinal matters
    if (qTerms.isEmpty) return None
    val rtsByTerm = resolve(qTerms.distinct).map(rt => rt.term -> rt).toMap
    if (rtsByTerm.size != qTerms.distinct.size) return None // some term unknown
    val slots = qTerms.zipWithIndex.map { case (t, i) => (rtsByTerm(t).termId, i) }
    val slotsDf = slots.toDF("term_id", "q_pos")
    val k = slots.size

    val base = postingsFor(rtsByTerm.values.toSeq)
    val restricted = among match {
      case Some(ords) => base.join(broadcast(ords.select("doc_ord")),
        Seq("doc_ord"), "left_semi")
      case None => base
    }
    val cand = restricted.join(broadcast(slotsDf), "term_id")
    Some((phraseHits(cand, k, slop, inOrder), rtsByTerm.values.toSeq))
  }

  /** The doc-level tail of every phrase plan: one group per doc of its
    * (doc_ord, q_pos, positions) slot rows, kept when all `k` slots are
    * present and [[Phrase.hit]] holds. Returns one column, `doc_ord`. */
  private def phraseHits(slotRows: DataFrame, k: Int, slop: Int,
      inOrder: Boolean): DataFrame =
    slotRows
      .groupBy(col("doc_ord"))
      .agg(count(lit(1)).as("nslots"),
        collect_list(struct(col("q_pos"), col("positions"))).as("pls"))
      .filter(col("nslots") === lit(k))
      .filter(Phrase.column(col("pls"), lit(slop), inOrder))
      .select("doc_ord")

  /** Exhaustive BM25 top-k (OR semantics over the query terms): the oracle
    * plan the block-max WAND path must be rank-identical to. Compiles to
    * TakeOrderedAndProject — per-partition heaps + driver merge, no global
    * sort. */
  def bm25TopK(keyword: String, k: Int): DataFrame =
    bm25TopKFiltered(keyword, lit(true), k) // Catalyst folds the true filter

  /** Field collapsing (Elasticsearch `collapse`): BM25 top-k with at most
    * ONE result per distinct value of the docs column `groupCol` — each
    * group represented by its best-scoring doc (ties: doc_ord asc), groups
    * ranked by that representative's score. For transcripts this is "top-k
    * CONVERSATIONS by their best-matching turn". One window over the
    * MATCHED set only (scored ordinals joined to their group key) — the
    * corpus is never grouped or sorted. */
  def bm25TopKCollapse(keyword: String, groupCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rts = resolve(analyzer.terms(keyword).distinct)
    if (rts.isEmpty) return emptyDocs(withScore = true).limit(0)
    val scored = scoredMatches(rts, bm25Expr).select("doc_ord", "score")
    val w = Window.partitionBy(col(groupCol)).orderBy(desc("score"), asc("doc_ord"))
    // the window needs only the group key, so it runs over the matched set
    // joined to docs projected to (doc_ord, groupCol) — the winners then
    // fetch their full doc rows through the shared cut-then-fetch tail
    // instead of dragging the docs payload through the window's exchange
    val winners = index.docs.select(col("doc_ord"), col(groupCol))
      .join(scored, "doc_ord")
      .withColumn("grp_rank", row_number().over(w))
      .filter(col("grp_rank") === 1)
      .select("doc_ord", "score")
    rankedTopK(winners, k)
  }

  /** Grouped relevance (Elasticsearch `has_child` score modes, over a
    * parent key column): top-k GROUPS ranked by an aggregate of their
    * members' BM25 scores — for transcripts, "top conversations by the
    * relevance of their turns". `scoreMode` is the ES has_child vocabulary:
    * `max` (best turn — the group-level analogue of [[bm25TopKCollapse]],
    * but returning the GROUP row, not the representative doc), `sum` (total
    * evidence — rewards conversations with many relevant turns), `avg`, and
    * `min`. Returns `(groupCol, score, n_hits)` where `n_hits` counts the
    * group's matched docs.
    *
    * Shape: the scored ordinals (one pruned postings scan + one doc-level
    * aggregation) join the docs table projected to the group key only, then
    * ONE group-sized hash aggregation and a TakeOrderedAndProject — the
    * corpus is never sorted, and the shuffle carries (group, partial-agg)
    * rows with map-side combine, so hot conversations don't skew. */
  def bm25TopKGrouped(keyword: String, groupCol: String, k: Int,
      scoreMode: String = "max"): DataFrame = {
    val modeAgg: Column => Column = scoreMode match {
      case "max" => max(_)
      case "sum" => sum(_)
      case "avg" => avg(_)
      case "min" => min(_)
      case other => throw new IllegalArgumentException(
        s"scoreMode must be one of max, sum, avg, min; got $other")
    }
    val rts = resolve(analyzer.terms(keyword).distinct)
    if (rts.isEmpty)
      return index.docs.limit(0).select(col(groupCol))
        .withColumn("score", lit(0.0)).withColumn("n_hits", lit(0L))
    val scored = scoredMatches(rts, bm25Expr).select("doc_ord", "score")
    index.docs.select(col("doc_ord"), col(groupCol))
      .join(scored, "doc_ord")
      .groupBy(col(groupCol))
      .agg(modeAgg(col("score")).as("score"), count(lit(1)).as("n_hits"))
      .orderBy(desc("score"), asc(groupCol))
      .limit(k)
  }

  /** Rescore window (the Elasticsearch `rescore` API): retrieve the top
    * `windowSize` docs by cheap BM25 over `keyword`, then re-rank ONLY that
    * window with a more expensive phrase query — final score
    * `queryWeight · bm25 + rescoreWeight · phraseBm25` for window docs
    * matching `rescorePhrase` (with optional `slop`/`inOrder` proximity),
    * `queryWeight · bm25` for the rest — and return the window's new top k.
    * The two-phase retrieve-then-rerank shape every large engine uses:
    * positional evaluation is too expensive for 10^12 candidate docs, so it
    * runs on a window-sized set.
    *
    * Scale shape: the window is ONE TakeOrderedAndProject over the scored
    * aggregation (k-row driver merge, no global sort); its ordinals are
    * broadcast and semi-join the phrase candidates and the rescore scoring
    * BEFORE their doc-level aggregations, so phase two's work is
    * window-proportional (plus the term-pruned postings scan), never
    * corpus-proportional. The window boundary uses the same quantized
    * (score, doc_ord) ordering as [[bm25TopKAfter]] — cluster reduce-order
    * float jitter can't flip which docs make the window; the final ranking
    * uses the exact combined score. */
  def bm25TopKRescore(keyword: String, rescorePhrase: String,
      windowSize: Int, k: Int, queryWeight: Double = 1.0,
      rescoreWeight: Double = 1.0, slop: Int = 0,
      inOrder: Boolean = false): DataFrame = {
    require(windowSize >= k,
      s"windowSize ($windowSize) must be >= k ($k): results come from the window")
    val rts = resolve(analyzer.terms(keyword).distinct)
    if (rts.isEmpty) return emptyDocs(withScore = true).limit(0)
    // Materialize the window ONCE (windowSize rows — driver-sized by the
    // same contract as a top-k result set) into a LocalRelation: the phrase
    // and rescore semi-joins broadcast it without recomputing the scored
    // aggregation per consumer.
    val winRows = scoredMatches(rts, bm25Expr).select(col("doc_ord"), col("score"))
      .orderBy(round(col("score"), Searcher.PageGrain).desc, col("doc_ord").asc)
      .limit(windowSize)
      .collect()
    if (winRows.isEmpty) return emptyDocs(withScore = true).limit(0)
    val win = winRows.map(r => (r.getLong(0), r.getDouble(1))).toSeq
      .toDF("doc_ord", "score")
    val winOrds = win.select("doc_ord")
    val combined = phraseMatch(rescorePhrase, slop, inOrder, among = Some(winOrds)) match {
      case None => // unknown/empty rescore phrase: nothing in the window matches it
        win.withColumn("score", col("score") * queryWeight)
      case Some((matched, prts)) =>
        val rescored = scoredMatches(prts, bm25Expr, among = Some(winOrds))
          .join(matched, Seq("doc_ord"), "left_semi")
          .select(col("doc_ord"), col("score").as("rescore"))
        win.join(rescored, Seq("doc_ord"), "left")
          .withColumn("score", col("score") * queryWeight +
            coalesce(col("rescore"), lit(0.0)) * rescoreWeight)
          .drop("rescore")
    }
    rankedTopK(combined, k)
  }

  /** Boosting query (Elasticsearch `boosting`): ranked by the positive
    * query's BM25, with docs ALSO matching the negative query demoted —
    * their score is multiplied by `negativeBoost` ∈ [0, 1) — instead of
    * excluded (the difference from NOT: "prefer spark docs, but bury the
    * deprecated ones" keeps them retrievable). The negative side is an
    * ordinary unranked match (`negLogic` AND/OR) whose matched ordinals
    * left-join the scored aggregation — one extra pruned postings scan,
    * both sides doc-keyed. Results (score desc, doc_ord asc), k rows. */
  def bm25TopKBoosting(positive: String, negative: String,
      negativeBoost: Double, k: Int, negLogic: Logic = Or): DataFrame = {
    require(negativeBoost >= 0.0 && negativeBoost < 1.0,
      s"negativeBoost must be in [0, 1) — 1 would be a no-op; got $negativeBoost")
    val rts = resolve(analyzer.terms(positive).distinct)
    if (rts.isEmpty) return emptyDocs(withScore = true).limit(0)
    val scored = scoredMatches(rts, bm25Expr).select("doc_ord", "score")
    val combined = matchedAgg(negative, negLogic, ranked = false) match {
      case None => scored // no resolvable negative: plain ranking
      case Some(neg) =>
        scored.join(neg.select(col("doc_ord"), lit(true).as("neg_hit")),
            Seq("doc_ord"), "left")
          .withColumn("score",
            when(col("neg_hit"), col("score") * lit(negativeBoost))
              .otherwise(col("score")))
          .drop("neg_hit")
    }
    rankedTopK(combined, k)
  }

  /** Cursor pagination (Elasticsearch `search_after`): the k results
    * strictly after the cursor `(afterScore, afterOrd)` — the last row of
    * the previous page — in (score desc, doc_ord asc) order. Page N costs
    * the same as page one: the cursor predicate filters INSIDE the scored
    * aggregation's output and the plan stays TakeOrderedAndProject over the
    * survivors, where an OFFSET plan must materialize, sort, and ship all
    * N·k preceding rows through the driver merge.
    *
    * The cursor boundary compares scores QUANTIZED to [[PageGrain]] decimal
    * digits: on a cluster the reduce-side merge of partial float sums is
    * fetch-order nondeterministic, so the page-2 run can recompute the
    * cursor doc's score a ULP off — an exact `===` would then silently drop
    * or duplicate boundary-tied docs. Quantizing makes ULP jitter harmless
    * unless a true score sits within a ULP of a rounding edge; the page
    * ordering uses the same quantized key, so pages stay mutually
    * consistent, and they match the exact [[bm25TopK]] ranking whenever no
    * two distinct scores share a 1e-9 bucket (pinned in SearcherSpec).
    * Take page ONE from [[bm25TopKFirstPage]] (same quantized ordering) so
    * the cursor partitions the ranking even inside a shared bucket. */
  def bm25TopKAfter(keyword: String, k: Int,
      afterScore: Double, afterOrd: Long): DataFrame =
    pageImpl(keyword, k, Some((afterScore, afterOrd)))

  /** Page ONE of the cursor-paginated ranking — the same quantized
    * (score, doc_ord) ordering [[bm25TopKAfter]] pages by, so a cursor
    * taken from its last row partitions the ranking exactly. Taking page
    * one from the exact-ordered [[bm25TopK]] instead can mis-partition
    * when two distinct scores share a quantization bucket (the exact order
    * and the quantized order disagree inside the bucket). */
  def bm25TopKFirstPage(keyword: String, k: Int): DataFrame =
    pageImpl(keyword, k, None)

  private def pageImpl(keyword: String, k: Int,
      cursor: Option[(Double, Long)]): DataFrame = {
    val rts = resolve(analyzer.terms(keyword).distinct)
    if (rts.isEmpty) return emptyDocs(withScore = true).limit(0)
    val scoreQ = round(col("score"), Searcher.PageGrain)
    val scored0 = scoredMatches(rts, bm25Expr)
    val scored = cursor match {
      case None => scored0
      case Some((afterScore, afterOrd)) =>
        val cursorQ = BigDecimal(afterScore)
          .setScale(Searcher.PageGrain, BigDecimal.RoundingMode.HALF_UP).toDouble
        scored0.filter(scoreQ < cursorQ ||
          (scoreQ === cursorQ && col("doc_ord") > afterOrd))
    }
    rankedTopKPaged(scored, k)
  }

  /** BM25 top-k in filter context (Elasticsearch `bool.filter`): `docFilter`
    * — any predicate over docs columns (role, ts range, lang …) — restricts
    * the RESULTS without touching the SCORES: df/avgdl stay corpus-global,
    * exactly ES filter semantics. The predicate lands on the docs side of
    * the score join, so at scale it pushes down to the docs column store
    * and shrinks the join input; the postings scan stays pruned to the
    * query terms as usual. */
  def bm25TopKFiltered(keyword: String, docFilter: Column, k: Int): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val rts = resolve(analyzer.terms(keyword).distinct)
    if (rts.isEmpty) return emptyDocs(withScore = true).limit(0)
    val scored = scoredMatches(rts, bm25Expr).select("doc_ord", "score")
    // a literal-true filter (the plain bm25TopK composition) needs no
    // eligibility semi-join at all; a real predicate restricts the scored
    // ordinals with a semi-join against the FILTERED docs projected to
    // doc_ord only, so the k-cut still happens before any payload moves
    val eligible = ColumnBridge.expression(docFilter) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(true, _) => scored
      case _ => scored.join(index.docs.filter(docFilter).select("doc_ord"),
        Seq("doc_ord"), "left_semi")
    }
    rankedTopK(eligible, k)
  }

  /** Function-score top-k (Elasticsearch `function_score` with multiply
    * boost mode): the BM25 score is multiplied by `factor` — any
    * deterministic Column over docs columns (field-value factors like
    * `log1p(n_chars)`, recency decay over a timestamp, static quality
    * priors). The factor applies to the FULL matched set before the top-k
    * (a re-ranking function, not a rescore window), evaluated per matched
    * row inside the same docs join the plain top-k already does — no extra
    * scan or shuffle. Non-positive factors are allowed (ES semantics: a
    * zero factor buries the doc). */
  def bm25TopKFunctionScore(keyword: String, factor: Column, k: Int): DataFrame = {
    val rts = resolve(analyzer.terms(keyword).distinct)
    if (rts.isEmpty) return emptyDocs(withScore = true).limit(0)
    index.docs
      .join(scoredMatches(rts, bm25Expr).select("doc_ord", "score"), "doc_ord")
      .withColumn("score", col("score") * factor.cast("double"))
      .orderBy(desc("score"), asc("doc_ord"))
      .limit(k)
  }

  /** Disjunction-max top-k (Elasticsearch `dis_max`): every clause keyword
    * is analyzed and BM25-scored independently (OR semantics within the
    * clause); a doc matching several clauses scores
    * `best + tieBreaker · (sum of the others)` — tieBreaker 0 is pure max
    * (the "best matching field/phrasing wins" semantics), 1 degenerates to
    * the flat OR sum. ONE postings scan for the union of all clause terms,
    * one (doc, clause) aggregation, one doc-level combine. */
  def disMaxTopK(clauses: Seq[String], k: Int,
      tieBreaker: Double = 0.0): DataFrame = {
    require(tieBreaker >= 0.0 && tieBreaker <= 1.0,
      s"tieBreaker must be in [0, 1], got $tieBreaker")
    val clauseTerms: Seq[(Int, String)] = clauses.zipWithIndex.flatMap {
      case (kw, ci) => analyzer.terms(kw).distinct.map(t => (ci, t))
    }
    val rts = resolve(clauseTerms.map(_._2).distinct) // ONE dictionary lookup
    val byTerm = rts.map(rt => rt.term -> rt).toMap
    val slots = clauseTerms.flatMap { case (ci, t) =>
      byTerm.get(t).map(rt => (ci, rt.termId, bm25Idf(rt.df)))
    }
    if (slots.isEmpty) return emptyDocs(withScore = true).limit(0)
    val slotsDf = slots.toDF("clause_id", "term_id", "w_bm25")
    val perClause = withTokenCount(postingsFor(rts)) // rts == clause-term union
      .join(broadcast(slotsDf), "term_id")
      .groupBy(col("doc_ord"), col("clause_id"))
      .agg(sum(bm25Expr).as("cscore"))
    val combined = perClause
      .groupBy(col("doc_ord"))
      .agg(Searcher.disMaxCombine(col("cscore"), tieBreaker).as("score"))
    rankedTopK(combined, k)
  }

  /** Block-max WAND BM25 top-k — rank-identical to `bm25TopK` (lossless
    * pruning; see BlockMaxWand). Returns (doc_ord, score) joined with docs.
    * Pass `metrics` to count decoded-vs-total blocks (the pruning win). */
  def bm25TopKWand(keyword: String, k: Int,
      metrics: Option[WandMetrics] = None): DataFrame = {
    val qTerms = analyzer.terms(keyword).distinct
    val rts = resolve(qTerms)
    if (rts.isEmpty) return emptyDocs(withScore = true).limit(0)
    val weights = rts.map(rt => rt.termId -> bm25Idf(rt.df)).toMap
    servingByBucket match {
      case Some(pinned) =>
        // serving fast path: one shuffle-free job over the bucket-pinned
        // blocks collects the k winners, then ONE filter-fetch of exactly
        // those docs (d_bucket-pruned when the layout carries it) — two
        // cached-scan jobs per query, no exchange anywhere. The returned
        // frame is a LocalRelation: the caller's collect costs zero jobs.
        val local = BlockMaxWand.topKLocal(pinned, weights, k, blockParams,
          index.avgDocLen, metrics)
        if (local.isEmpty) return emptyDocs(withScore = true).limit(0)
        val span = blockParams.bucketSpan
        val docsSide =
          if (index.docs.columns.contains("d_bucket") && span > 0)
            index.docs.filter(col("d_bucket")
              .isin(local.map(_._1 / span).distinct.toSeq: _*))
          else index.docs
        val cols = "doc_ord" +: docsSide.columns.filterNot(_ == "doc_ord").toSeq
        val fetchDf = docsSide.select(cols.map(col): _*)
          .filter(col("doc_ord").isin(local.map(_._1).toSeq: _*))
        val byOrd = fetchDf.collect().map(r => r.getLong(0) -> r).toMap
        val outRows: java.util.List[Row] = new java.util.ArrayList[Row]()
        local.foreach { case (ord, score) =>           // already (score desc,
          byOrd.get(ord).foreach { r =>                //  doc_ord asc)-sorted
            outRows.add(Row.fromSeq(r.toSeq :+ score))
          }
        }
        spark.createDataFrame(outRows,
          fetchDf.schema.add(StructField("score", DoubleType, nullable = false)))
      case None =>
        val top = BlockMaxWand.topK(blocksFor(rts), weights, k, blockParams,
          index.avgDocLen, metrics)
        // top is <= k rows (BlockMaxWand.topK ends in a limit): broadcast
        // the fetch and keep the k-row resort a TakeOrderedAndProject
        index.docs.join(broadcast(top), "doc_ord")
          .orderBy(desc("score"), asc("doc_ord")).limit(k)
    }
  }

  /** BATCH BM25 top-k: evaluate many queries in ONE DataFrame plan.
    *
    * Per-query plans pay fixed driver costs (analysis, DAGScheduler events,
    * result collection) that do not shrink with cluster size — measured at
    * ~3 queries/sec regardless of local[8] vs local[32]. Replaying a query
    * SET (the reference's own evaluation mode, and the realistic offline
    * shape at 10^12 docs) amortizes those costs: one broadcast of
    * (q_id, term_id, idf) slots, one pruned postings scan for the union of
    * all query terms, one (q_id, doc) aggregation, one per-query top-k
    * window. Returns (q_id, rank, doc_ord, score); AND-empty/unknown-term
    * queries simply yield no rows for their q_id (OR semantics per query).
    */
  def bm25TopKBatch(keywords: Seq[String], k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qTerms: Seq[(Int, String)] = keywords.zipWithIndex.flatMap {
      case (kw, qi) => analyzer.terms(kw).distinct.map(t => (qi, t))
    }
    val rts = resolve(qTerms.map(_._2).distinct) // ONE dictionary lookup
    val byTerm = rts.map(rt => rt.term -> rt).toMap
    val slots = qTerms.flatMap { case (qi, t) =>
      byTerm.get(t).map(rt => (qi, rt.termId, bm25Idf(rt.df)))
    }
    if (slots.isEmpty)
      return Seq.empty[(Int, Long, Long, Double)].toDF("q_id", "rank", "doc_ord", "score")
    // bounded per-partition top-k selection BEFORE the rank window: the
    // window otherwise shuffles every (q_id, doc) scored row a second time
    // and sorts each query's whole matched set on one reducer — the prune
    // caps the window's input at partitions x queries x k rows with
    // bit-identical survivors (graft.TopK scaladoc has the order proof)
    val scored = graft.TopK.prunePerKey(
      batchScores(slots, byTerm.values.toSeq), "q_id", "score", "doc_ord", k)
    val w = Window.partitionBy(col("q_id")).orderBy(desc("score"), asc("doc_ord"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("long").as("rank"), col("doc_ord"), col("score"))
  }

  /** BATCH BM25 top-k with block-max WAND pruning: the query-set-replay
    * shape of [[bm25TopKBatch]] combined with [[bm25TopKWand]]'s lossless
    * block skipping — ONE pruned blocks scan for the union of the set's
    * terms, every query's WAND run per doc bucket, one per-query top-k
    * window. Rank-identical to the exhaustive batch plan (same per-term
    * quotient arithmetic; parity pinned in SearcherSpec/BlockMaxWandSpec).
    * Returns (q_id, rank, doc_ord, score); unknown-term/empty queries yield
    * no rows for their q_id (OR semantics per query, like the batch path).
    */
  def bm25TopKBatchWand(keywords: Seq[String], k: Int,
      metrics: Option[WandMetrics] = None): DataFrame = {
    val qTerms: Seq[(Int, String)] = keywords.zipWithIndex.flatMap {
      case (kw, qi) => analyzer.terms(kw).distinct.map(t => (qi, t))
    }
    val rts = resolve(qTerms.map(_._2).distinct) // ONE dictionary lookup
    val byTerm = rts.map(rt => rt.term -> rt).toMap
    val queries: Map[Int, Map[Long, Double]] = qTerms
      .flatMap { case (qi, t) => byTerm.get(t).map(rt => (qi, rt.termId, bm25Idf(rt.df))) }
      .groupBy(_._1)
      .map { case (qi, rows) => qi -> rows.map(r => r._2 -> r._3).toMap }
    BlockMaxWand.topKBatch(blocksFor(rts), queries, k, blockParams,
      index.avgDocLen, metrics)
  }

  /** The batch scoring aggregation shared by [[bm25TopKBatch]] and the
    * federated batch path ([[Federation.bm25TopKBatch]], which injects
    * GLOBAL idf weights into the slots): one pruned postings scan for the
    * union of the slot terms, one (q_id, doc) aggregation. Returns
    * `(q_id, doc_ord, score)`. */
  private[query] def batchScores(slots: Seq[(Int, Long, Double)],
      rts: Seq[ResolvedTerm]): DataFrame = {
    val slotsDf = slots.toDF("q_id", "term_id", "w_bm25")
    withTokenCount(postingsFor(rts))
      .join(broadcast(slotsDf), "term_id")
      .groupBy(col("q_id"), col("doc_ord"))
      .agg(sum(bm25Expr).as("score"))
  }

  /** `(doc_ord, score)` of every doc matching any query term — the BM25
    * scoring aggregation alone, no docs join. The building block
    * [[MultiField]] combines across per-field indexes. */
  def bm25Scores(keyword: String): DataFrame = {
    val rts = resolve(analyzer.terms(keyword).distinct)
    if (rts.isEmpty)
      index.docs.select("doc_ord").limit(0).withColumn("score", lit(0.0))
    else scoredMatches(rts, bm25Expr).select("doc_ord", "score")
  }

  /** All matched docs with BM25 scores (no top-k) — used by oracles where a
    * stable full set beats a float-boundary-sensitive top-k. */
  def bm25All(keyword: String): DataFrame = {
    val qTerms = analyzer.terms(keyword).distinct
    val rts = resolve(qTerms)
    if (rts.isEmpty) return emptyDocs(withScore = true).limit(0)
    fetchDocs(scoredMatches(rts, bm25Expr), ranked = true)
  }

  /** [[Searcher.contextWindows]] over this index's docs table — the hits
    * frame is any of this searcher's matched/ranked results. */
  def contextWindows(hits: DataFrame, convCol: String, turnCol: String,
      window: Int): DataFrame =
    Searcher.contextWindows(index.docs, hits, convCol, turnCol, window)

  // ------------------------------------------- alternative similarity: LM

  /** All matched docs ranked by query likelihood with Dirichlet smoothing
    * (Zhai & Lafferty 2001 — Lucene's `LMDirichletSimilarity`, the standard
    * alternative to BM25):
    *
    *   score(d) = Σ_{t ∈ q∩d} ln(1 + tf_td / (μ·cf_t/|C|))
    *            + |q∩d| · ln(μ / (dl_d + μ))
    *
    * where cf_t is the term's collection frequency and |C| the corpus token
    * total — both already in the dictionary/stats (no extra corpus work),
    * so this compiles to the SAME one-pruned-scan one-doc-aggregation plan
    * as BM25 with a different score expression. OR semantics over the query
    * terms, like [[bm25All]]; per-term contributions positive, the
    * length-norm term negative (longer docs pay more), exactly the Lucene
    * per-term decomposition summed. μ defaults to Lucene's 2000. */
  def lmDirichletAll(keyword: String, mu: Double = 2000.0): DataFrame = {
    require(mu > 0, s"mu must be > 0, got $mu")
    val terms = analyzer.terms(keyword).distinct
    if (terms.isEmpty) return emptyDocs(withScore = true).limit(0)
    val rts = resolve(terms)
    if (rts.isEmpty) return emptyDocs(withScore = true).limit(0)
    require(rts.forall(_.cf >= 0),
      "LM-Dirichlet needs collection frequencies (cf) in the term dictionary")
    val totalC = index.exactTotalTokens.toDouble
    val weights = rts.map(rt => (rt.termId, mu * rt.cf / totalC))
      .toDF("term_id", "w_lm") // μ·p(t|C): the smoothing denominator
    val scored = withTokenCount(postingsFor(rts))
      .join(broadcast(weights), "term_id")
      .groupBy(col("doc_ord"))
      .agg((sum(log(lit(1.0) + col("tf").cast("double") / col("w_lm"))) +
        count(lit(1)).cast("double") *
          log(lit(mu) / (max(col("token_count")).cast("double") + lit(mu))))
        .as("score"))
    fetchDocs(scored, ranked = true)
  }

  /** LM-Dirichlet top-k — TakeOrderedAndProject over [[lmDirichletAll]]'s
    * aggregation, the same no-global-sort shape as [[bm25TopK]]. */
  def lmDirichletTopK(keyword: String, k: Int, mu: Double = 2000.0): DataFrame =
    lmDirichletAll(keyword, mu).limit(k)

  // ------------------------------------------------- boolean query trees

  /** Per-leaf compilation result: either statically false on the driver
    * (empty keyword / unknown term under AND-or-phrase semantics) or a live
    * leaf with its bitmask id, kind ('a'/'o'/'p'), posting slots
    * (term_id, q_pos) and required slot count. */
  private sealed trait LeafPlan
  private case object StaticFalse extends LeafPlan
  private final case class LiveLeaf(id: Int, kind: String,
      slots: Seq[(Long, Int)], req: Int, rts: Seq[ResolvedTerm],
      boost: Double = 1.0, slop: Int = 0) extends LeafPlan

  /** The tree with leaves replaced by their plans, so the boolean fold and
    * the Column fold walk identical structure. */
  private sealed trait PTree
  private final case class PLeaf(plan: LeafPlan) extends PTree
  private final case class PAnd(cs: Seq[PTree]) extends PTree
  private final case class POr(cs: Seq[PTree]) extends PTree
  private final case class PNot(c: PTree) extends PTree

  /** Evaluate a [[BoolQuery]] tree in ONE plan (unranked; doc_ord order per
    * `sortUnranked`):
    *
    *   1. every leaf keyword is analyzed on the driver and the UNION of all
    *      leaf terms resolved in one dictionary lookup;
    *   2. one postings scan, partition-pruned to those terms (positions are
    *      read only when a phrase leaf exists);
    *   3. one (doc_ord, leaf_id) aggregation decides each leaf: distinct
    *      matched slots for term leaves, slots + [[Phrase.hit]] at the
    *      leaf's slop for phrase leaves;
    *   4. one doc_ord aggregation folds leaf outcomes into a bitmask, and
    *      the tree — compiled to a codegen'd boolean expression over the
    *      mask — filters it.
    *
    * Statically-false leaves (unknown term under AND/phrase, empty keyword)
    * are folded on the driver and never scanned. If the tree is satisfiable
    * by a document containing NONE of its terms (e.g. `BNot(BTerm("x"))`),
    * the complement is added via one anti-join against the candidate set —
    * the unavoidable full-corpus branch of a pure negation; prefer anchoring
    * NOT under a positive AND branch at scale. At most 62 live leaves. */
  def boolQuery(q: BoolQuery): DataFrame =
    compileBool(q) match {
      case Left(false)     => emptyDocs(withScore = false)
      case Left(true)      => matchAll()
      case Right((ords, _)) =>
        val out = index.docs.join(ords, "doc_ord")
        if (sortUnranked) out.orderBy(asc("doc_ord")) else out
    }

  /** [[boolQuery]] with BM25 ranking: the tree FILTERS, the score is the
    * BM25 sum over the distinct terms of its POSITIVE leaves (those under an
    * even number of NOTs — negated clauses never score, Lucene MUST_NOT
    * semantics). A matched doc containing no positive term (reachable only
    * through negation) scores 0. Leaf `boost`s scale their terms' idf
    * weights; a term in several positive leaves takes the MAX boost (terms
    * score once — the distinct-term contract). One extra pruned postings
    * aggregation over the positive terms joined to the matched ordinal set. */
  def boolQueryRanked(q: BoolQuery): DataFrame =
    boolQueryRankedGlobal(q, Map.empty)

  /** [[boolQueryRanked]] with externally supplied per-term document
    * frequencies for the BM25 weights — the federation hook: a slice scores
    * with the corpus-wide df (and its injected global N/avgdl) while its
    * postings pruning stays slice-local. Terms absent from the override
    * keep this index's own df. */
  private[query] def boolQueryRankedGlobal(q: BoolQuery,
      dfOverride: Map[String, Long]): DataFrame =
    compileBool(q, dfOverride) match {
      case Left(false) => emptyDocs(withScore = true)
      case Left(true) =>
        index.docs.withColumn("score", lit(0.0)).orderBy(asc("doc_ord"))
      case Right((ords, posRts)) =>
        val scored =
          if (posRts.isEmpty) ords.withColumn("score", lit(0.0))
          else ords.join(
            scoredMatchesWeighted(posRts, bm25Expr).select("doc_ord", "score"),
            Seq("doc_ord"), "left")
            .select(col("doc_ord"), coalesce(col("score"), lit(0.0)).as("score"))
        fetchDocs(scored, ranked = true)
    }

  /** Parse a Lucene-lite query string ([[QueryString]] grammar: AND/OR/NOT,
    * `-term`, parentheses, `"quoted phrases"`, adjacency = AND) and run it
    * through [[boolQuery]] / [[boolQueryRanked]]. */
  def queryString(s: String, ranked: Boolean = false): DataFrame = {
    val tree = QueryString.parse(s)
    if (ranked) boolQueryRanked(tree) else boolQuery(tree)
  }

  /** Shared compiler: Left(constant) when the tree is decided on the driver
    * (true = every doc, false = none); otherwise the matched-ordinal frame
    * (single `doc_ord` column) plus the distinct resolved terms of POSITIVE
    * live leaves, each with its effective query-time boost (for scoring). */
  private def compileBool(
      q: BoolQuery,
      dfOverride: Map[String, Long] = Map.empty
  ): Either[Boolean, (DataFrame, Seq[(ResolvedTerm, Double)])] = {
    // ---- driver-side: analyze leaves, resolve the term union ONCE
    val leafBuf = scala.collection.mutable.ArrayBuffer.empty[(BoolQuery, Boolean)]
    def collectLeaves(n: BoolQuery, pos: Boolean): Unit = n match {
      case BAnd(cs) => cs.foreach(collectLeaves(_, pos))
      case BOr(cs)  => cs.foreach(collectLeaves(_, pos))
      case BNot(c)  => collectLeaves(c, !pos)
      case leaf     => leafBuf += ((leaf, pos))
    }
    collectLeaves(q, pos = true)
    val leafTerms: Seq[Seq[String]] = leafBuf.toSeq.map {
      case (BTerm(kw, _, _), _)  => analyzer.terms(kw).distinct
      case (BPhrase(p, _, _), _) => analyzer.terms(p) // ordinals matter: not deduped
      case (_: BFuzzy, _)        => Nil // expanded against the dictionary below
      case (other, _) => throw new IllegalArgumentException(s"not a leaf: $other")
    }
    val byTerm = resolve(leafTerms.flatten.distinct)
      .map(rt => rt.term ->
        dfOverride.get(rt.term).fold(rt)(d => rt.copy(df = d)))
      .toMap

    var nextId = 0
    val plans: Seq[(LeafPlan, Boolean)] = leafBuf.toSeq.zip(leafTerms).map {
      case ((BTerm(_, logic, boost), pos), ts) =>
        val known = ts.flatMap(byTerm.get)
        if (ts.isEmpty || known.isEmpty || (logic == And && known.size != ts.size))
          (StaticFalse, pos)
        else {
          val id = nextId; nextId += 1
          (LiveLeaf(id, if (logic == And) "a" else "o",
            known.map(rt => (rt.termId, 0)),
            req = if (logic == And) known.size else 1, rts = known,
            boost = boost), pos)
        }
      case ((BPhrase(_, boost, slop), pos), ts) =>
        if (ts.isEmpty || !ts.forall(byTerm.contains)) (StaticFalse, pos)
        else {
          val id = nextId; nextId += 1
          val slots = ts.zipWithIndex.map { case (t, i) => (byTerm(t).termId, i) }
          (LiveLeaf(id, "p", slots, req = slots.size,
            rts = ts.distinct.map(byTerm), boost = boost, slop = slop), pos)
        }
      case ((BFuzzy(term, maxEdits, boost, maxExp), pos), _) =>
        // analyzer-normalize like every other leaf (first analyzed token),
        // then one vocab-sized dictionary scan expands it; empty ⇒ false
        val known = analyzer.terms(term).headOption match {
          case None    => Seq.empty[ResolvedTerm]
          case Some(t) => expand(Searcher.fuzzyPred(t, maxEdits), maxExpansions = maxExp)
        }
        if (known.isEmpty) (StaticFalse, pos)
        else {
          val id = nextId; nextId += 1
          (LiveLeaf(id, "o", known.map(rt => (rt.termId, 0)),
            req = 1, rts = known, boost = boost), pos)
        }
      case ((other, _), _) =>
        throw new IllegalArgumentException(s"not a leaf: $other")
    }
    val live = plans.collect { case (l: LiveLeaf, _) => l }
    // per distinct positive term: the MAX boost over the positive leaves
    // containing it (terms stay distinct across leaves — the documented
    // scoring contract — so boosts combine by max, not sum; all-1.0 boosts
    // reproduce the unboosted ranking exactly)
    val positiveRts = plans
      .collect { case (l: LiveLeaf, true) => l.rts.map(_ -> l.boost) }.flatten
      .groupBy(_._1.termId).map(_._2.maxBy(_._2)).toSeq
    require(live.size <= 62, s"boolQuery supports at most 62 live leaves, got ${live.size}")

    // ---- annotate the tree so both folds walk identical structure
    def annotate(n: BoolQuery, it: Iterator[LeafPlan]): PTree = n match {
      case BAnd(cs) => PAnd(cs.map(annotate(_, it)))
      case BOr(cs)  => POr(cs.map(annotate(_, it)))
      case BNot(c)  => PNot(annotate(c, it))
      case _        => PLeaf(it.next())
    }
    val ptree = annotate(q, plans.iterator.map(_._1))

    def evalBool(t: PTree, leafVal: LiveLeaf => Boolean): Boolean = t match {
      case PLeaf(StaticFalse) => false
      case PLeaf(l: LiveLeaf) => leafVal(l)
      case PAnd(cs)           => cs.forall(evalBool(_, leafVal))
      case POr(cs)            => cs.exists(evalBool(_, leafVal))
      case PNot(c)            => !evalBool(c, leafVal)
    }
    // Does a doc containing NONE of the scanned terms satisfy the tree?
    val matchesAllFalse = evalBool(ptree, _ => false)

    if (live.isEmpty) // constant tree: no cluster work for the scan at all
      return Left(matchesAllFalse)

    // ---- one pruned scan + (doc, leaf) decision + doc bitmask
    val hasPhrase = live.exists(_.kind == "p")
    val slotsDf = live
      .flatMap(l => l.slots.map { case (tid, qp) => (tid, l.id, qp) })
      .toDF("term_id", "leaf_id", "q_pos")
    val metaDf = live.map(l => (l.id, l.kind, l.req.toLong, 1L << l.id, l.slop))
      .toDF("leaf_id", "kind", "req", "bit", "slop")
    val allRts = live.flatMap(_.rts).groupBy(_.termId).map(_._2.head).toSeq

    val baseCols =
      if (hasPhrase) Seq(col("doc_ord"), col("term_id"), col("positions"))
      else Seq(col("doc_ord"), col("term_id"))
    val cand = postingsFor(allRts).select(baseCols: _*)
      .join(broadcast(slotsDf), "term_id")

    val agg1 = {
      val g = cand.groupBy(col("doc_ord"), col("leaf_id"))
      if (hasPhrase)
        // Shifted position lists ride to the meta join, where each phrase
        // leaf's own slop decides it; term leaves ignore them.
        g.agg(count(lit(1)).as("nrows"),
          collect_list(struct(col("q_pos"), col("positions"))).as("pls"))
      else g.agg(count(lit(1)).as("nrows"))
    }

    // each phrase leaf is decided by its own slop column
    val phraseOk =
      if (!hasPhrase) lit(true)
      else Phrase.column(col("pls"), col("slop"), inOrder = false)
    val matchedCol =
      (col("kind") === "o") ||
      (col("kind") === "a" && col("nrows") === col("req")) ||
      (col("kind") === "p" && col("nrows") === col("req") && phraseOk)
    val mask = agg1.join(broadcast(metaDf), "leaf_id")
      .groupBy(col("doc_ord"))
      .agg(sum(when(matchedCol, col("bit")).otherwise(lit(0L))).as("mask"))

    def evalCol(t: PTree): Column = t match {
      case PLeaf(StaticFalse) => lit(false)
      case PLeaf(l: LiveLeaf) => col("mask").bitwiseAND(lit(1L << l.id)) =!= lit(0L)
      case PAnd(cs)           => cs.map(evalCol).reduce(_ && _)
      case POr(cs)            => cs.map(evalCol).reduce(_ || _)
      case PNot(c)            => !evalCol(c)
    }
    val matchedOrds = mask.filter(evalCol(ptree)).select("doc_ord")
    val ords =
      if (matchesAllFalse) // pure-negation branch: add the complement
        matchedOrds.union(index.docs.select("doc_ord")
          .join(mask.select("doc_ord"), Seq("doc_ord"), "left_anti"))
      else matchedOrds
    Right((ords, positiveRts))
  }
}
