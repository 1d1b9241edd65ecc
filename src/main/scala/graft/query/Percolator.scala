package graft.query

import graft.analysis.Analyzer
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Percolation — reverse search: a registered query SET is matched against
  * a flow of documents, emitting (doc, query) pairs. The forward engine
  * answers "which docs match this query"; a streaming ingest pipeline also
  * needs "which of my standing queries match this arriving doc" (alerting,
  * routing, saved searches). The reference has no equivalent — its queries
  * are one-shot against the stored index (`query.go:13-44`).
  *
  * Both shapes are stateless per document (queries are driver-held and
  * broadcast), so they distribute trivially and work identically in batch
  * and under Structured Streaming.
  */
object Percolator {

  /** A standing match query: analyzed with the same analyzer as the
    * documents; `logic` per [[Searcher.matchQuery]] (And = all terms,
    * Or = any term). A query whose keyword analyzes to no terms matches
    * nothing. */
  final case class StoredQuery(qId: Long, keyword: String, logic: Logic)

  /** Join-shaped percolation, for LARGE query sets: one broadcast of
    * (term → q_id) slots, one explode of each doc's distinct terms, one
    * (doc, query) aggregation. Scales in the number of stored queries
    * (thousands+) because the query set is data, not plan size. Contains a
    * streaming-stateful aggregation — under Structured Streaming run it via
    * `foreachBatch` (per-micro-batch semantics, no cross-batch state).
    *
    * Returns (doc_id, q_id), one row per matching pair.
    */
  def matches(docs: DataFrame, queries: Seq[StoredQuery], analyzer: Analyzer,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val slots = queries.flatMap { q =>
      val ts = analyzer.terms(q.keyword).distinct
      ts.map(t => (q.qId, t, ts.size.toLong, q.logic == And))
    }
    if (slots.isEmpty)
      return docs.sparkSession.emptyDataFrame
        .withColumn("doc_id", lit(0L)).withColumn("q_id", lit(0L)).limit(0)
    val slotsDf = slots.toDF("q_id", "term", "req", "is_and")
    // Par.fanOut before the analyze+explode: a single-file doc batch
    // otherwise analyzes and explodes every document on one core (guide
    // §2.5); the exchange moves raw doc rows, never the exploded terms
    graft.Par.fanOut(docs)
      .select(col(idCol).as("doc_id"),
        explode(array_distinct(analyzer.termsColumn(col(textCol)))).as("term"))
      .join(broadcast(slotsDf), "term")
      .groupBy(col("doc_id"), col("q_id"))
      .agg(count(lit(1)).as("n"), first(col("req")).as("req"),
        first(col("is_and")).as("is_and"))
      .filter(!col("is_and") || col("n") === col("req"))
      .select("doc_id", "q_id")
  }

  /** Tree percolation: standing [[BoolQuery]] trees (the FULL compound
    * surface — AND/OR/NOT over match and phrase leaves) evaluated against
    * each arriving doc as a pure column expression over its analyzed token
    * stream: term leaves via `array_contains`, phrase leaves via
    * [[Phrase.hit]] over the slot positions the token array itself yields
    * (a UDF: Spark's higher-order array functions are `CodegenFallback`, so
    * a Column scan of the tokens would be interpreted all the same). A null
    * or empty token array matches no phrase. Zero shuffle, zero state —
    * streamable in plain append mode like [[matchesStateless]]. Exactly
    * [[Searcher.boolQuery]] semantics per document (parity-tested),
    * including pure negation, with no index required. Plan size grows with
    * total leaf count; for thousands of FLAT queries prefer [[matches]].
    *
    * Returns (doc_id, q_id), one row per matching pair.
    */
  def matchesBool(docs: DataFrame, queries: Seq[(Long, BoolQuery)],
      analyzer: Analyzer, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val toks = analyzer.termsColumn(col(textCol))

    def compile(q: BoolQuery): Column = q match {
      case BTerm(kw, logic, _) => // boost only affects scoring; percolation is boolean
        val ts = analyzer.terms(kw).distinct
        if (ts.isEmpty) lit(false)
        else if (logic == And) ts.map(t => array_contains(toks, t)).reduce(_ && _)
        else arrays_overlap(toks, array(ts.map(lit): _*))
      case BPhrase(p, _, slop) => Phrase.tokensColumn(toks, analyzer.terms(p), slop)
      case BFuzzy(t0, maxEdits, _, _) => // against the DOC's own tokens — the
        // index-free analogue of the dictionary expansion (no truncation,
        // see BFuzzy scaladoc); term analyzer-normalized like the tree path
        analyzer.terms(t0).headOption match {
          case None => lit(false)
          case Some(t) => exists(toks, tok =>
            length(tok).between(t.length - maxEdits, t.length + maxEdits) &&
              levenshtein(tok, lit(t)) <= maxEdits)
        }
      case BAnd(cs)    => cs.map(compile).reduce(_ && _)
      case BOr(cs)     => cs.map(compile).reduce(_ || _)
      case BNot(c)     => !compile(c)
    }

    if (queries.isEmpty)
      return docs.sparkSession.emptyDataFrame
        .withColumn("doc_id", lit(0L)).withColumn("q_id", lit(0L)).limit(0)
    val perQuery = queries.map { case (qId, q) =>
      struct(lit(qId).as("q_id"), compile(q).as("m"))
    }
    docs
      .select(col(idCol).as("doc_id"),
        explode(filter(array(perQuery: _*), s => s.getField("m"))).as("s"))
      .select(col("doc_id"), col("s").getField("q_id").as("q_id"))
  }

  /** Column-compiled percolation, for MODERATE query sets: every query
    * becomes a boolean expression over the doc's analyzed token array
    * (array_contains / arrays_overlap — whole-stage codegen, zero shuffle,
    * zero state). Because it is a pure per-row projection it runs under
    * Structured Streaming in plain append mode — percolate-on-ingest.
    * Plan size grows with the query count; beyond a few hundred queries
    * switch to [[matches]].
    */
  def matchesStateless(docs: DataFrame, queries: Seq[StoredQuery],
      analyzer: Analyzer, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val toks = array_distinct(analyzer.termsColumn(col(textCol)))
    val perQuery: Seq[Column] = queries.map { q =>
      val ts = analyzer.terms(q.keyword).distinct
      val m =
        if (ts.isEmpty) lit(false)
        else if (q.logic == And) ts.map(t => array_contains(toks, t)).reduce(_ && _)
        else arrays_overlap(toks, array(ts.map(lit): _*))
      struct(lit(q.qId).as("q_id"), m.as("m"))
    }
    if (perQuery.isEmpty)
      return docs.sparkSession.emptyDataFrame
        .withColumn("doc_id", lit(0L)).withColumn("q_id", lit(0L)).limit(0)
    docs
      .select(col(idCol).as("doc_id"),
        explode(filter(array(perQuery: _*), s => s.getField("m"))).as("s"))
      .select(col("doc_id"), col("s").getField("q_id").as("q_id"))
  }
}
