package graft.query

import org.apache.spark.sql.DataFrame

/** The query surface a [[Searcher]] (one index) and a [[Federation]]
  * (independently built slices) share with identical signatures — what
  * `graft.Main`'s mode table runs against. Only the row identity differs:
  * a searcher's rows carry `doc_ord`, a federation's its stable key
  * columns. Defaults here only let callers omit arguments; each
  * implementation's own defaults are the ones that apply. */
trait QueryTarget {
  def matchAll(): DataFrame
  def matchQuery(keyword: String, logic: Logic): DataFrame
  def matchQueryRanked(keyword: String, logic: Logic): DataFrame
  def phraseQuery(phrase: String, ranked: Boolean = false, slop: Int = 0,
      inOrder: Boolean = false): DataFrame
  def matchPhrasePrefix(phrase: String, slop: Int = 0,
      maxExpansions: Int = 128, ranked: Boolean = false): DataFrame
  def prefixQuery(prefix: String, ranked: Boolean = false,
      maxExpansions: Int = 128): DataFrame
  def fuzzyQuery(term: String, maxEdits: Int = 1, ranked: Boolean = false,
      maxExpansions: Int = 128): DataFrame
  def wildcardQuery(pattern: String, ranked: Boolean = false,
      maxExpansions: Int = 128): DataFrame
  def regexpQuery(regex: String, ranked: Boolean = false,
      maxExpansions: Int = 128): DataFrame
  def termRangeQuery(lo: String, hi: String, ranked: Boolean = false,
      maxExpansions: Int = 128): DataFrame
  def queryString(s: String, ranked: Boolean = false): DataFrame
  def bm25TopK(keyword: String, k: Int): DataFrame
  def bm25TopKWand(keyword: String, k: Int,
      metrics: Option[WandMetrics] = None): DataFrame
  def bm25TopKCollapse(keyword: String, groupCol: String, k: Int): DataFrame
  def bm25TopKRescore(keyword: String, rescorePhrase: String,
      windowSize: Int, k: Int, queryWeight: Double = 1.0,
      rescoreWeight: Double = 1.0, slop: Int = 0,
      inOrder: Boolean = false): DataFrame
  def lmDirichletTopK(keyword: String, k: Int, mu: Double = 2000.0): DataFrame
  def bm25TopKBatch(keywords: Seq[String], k: Int): DataFrame
  def bm25TopKBatchWand(keywords: Seq[String], k: Int,
      metrics: Option[WandMetrics] = None): DataFrame
  def suggest(prefix: String, n: Int = 10): DataFrame
  def didYouMean(term: String, maxEdits: Int = 2, n: Int = 5): DataFrame
  def facetCounts(keyword: String, logic: Logic, facetCol: String): DataFrame
  def significantTerms(keyword: String, logic: Logic, topN: Int = 10,
      minDocCount: Long = 3): DataFrame
  def highlightTerms(keyword: String, logic: Logic): DataFrame
  def snippet(keyword: String, window: Int = 2): DataFrame
}
