package graft.query

/** Boolean query tree: arbitrary AND/OR/NOT composition over match and
  * phrase leaves — the compound-query surface the reference stops short of
  * (its `MatchQuery`/`PhraseQuery` are single-leaf only, `query.go:13-44`;
  * AND-of-OR / NOT have no equivalent there).
  *
  * Compiled by [[Searcher.boolQuery]] into ONE DataFrame plan: a single
  * postings scan pruned to the union of every leaf's terms, one
  * (doc, leaf) aggregation deciding each leaf, one doc-level bitmask
  * aggregation, and the tree itself evaluated as a codegen'd boolean
  * expression over the mask — never one scan per leaf.
  */
sealed trait BoolQuery {
  def &&(other: BoolQuery): BoolQuery = BAnd(Seq(this, other))
  def ||(other: BoolQuery): BoolQuery = BOr(Seq(this, other))
  def unary_! : BoolQuery = BNot(this)
}

/** Match leaf: the keyword is analyzed like [[Searcher.matchQuery]];
  * `logic` is the within-leaf combination of its terms (AND = all terms
  * present, OR = any). An AND leaf containing a term absent from the index
  * is statically false (the reference's AND short-circuit,
  * `searcher.go:66-68`); an OR leaf drops unknown terms. `boost` scales the
  * leaf's terms' BM25 contributions in [[Searcher.boolQueryRanked]]
  * (Lucene query-time boost; no effect on the unranked filter). */
final case class BTerm(keyword: String, logic: Logic = And,
    boost: Double = 1.0) extends BoolQuery {
  require(boost > 0, s"boost must be > 0, got $boost")
}

/** Phrase leaf: [[Searcher.phraseQuery]] semantics (every slot present,
  * shifted position sets intersect). Any unknown term makes it statically
  * false. `boost` scales its terms' scoring contributions like [[BTerm]];
  * `slop > 0` relaxes to the unordered window semantics of
  * `phraseQuery(slop)` (`"a b"~2` in the query-string syntax). */
final case class BPhrase(phrase: String, boost: Double = 1.0,
    slop: Int = 0) extends BoolQuery {
  require(boost > 0, s"boost must be > 0, got $boost")
  Phrase.requireSlop(slop)
}

/** Fuzzy leaf (`term~2` in the query-string syntax): matches docs containing
  * ANY dictionary term within `maxEdits` Levenshtein edits of `term`
  * (exact term included at distance 0) — [[Searcher.fuzzyQuery]]'s
  * expansion compiled as an OR leaf inside the tree. The term is
  * analyzer-normalized first (its FIRST analyzed token), like every other
  * leaf — `Rubi~1` matches under a lowercasing analyzer. An empty
  * expansion (or a term the analyzer drops entirely) is statically false.
  * `maxExpansions` truncates the expansion keeping the highest-df terms
  * (Lucene rewrite); the index-free [[Percolator]] evaluation has no
  * dictionary and therefore no truncation — a documented divergence that
  * only shows when a single document's tokens exceed the cap. */
final case class BFuzzy(term: String, maxEdits: Int = 1,
    boost: Double = 1.0, maxExpansions: Int = 128) extends BoolQuery {
  require(boost > 0, s"boost must be > 0, got $boost")
  require(maxEdits >= 1 && maxEdits <= 2,
    s"maxEdits must be 1 or 2, got $maxEdits")
  require(maxExpansions > 0, s"maxExpansions must be > 0, got $maxExpansions")
}

final case class BAnd(children: Seq[BoolQuery]) extends BoolQuery {
  require(children.nonEmpty, "BAnd requires at least one child")
}
final case class BOr(children: Seq[BoolQuery]) extends BoolQuery {
  require(children.nonEmpty, "BOr requires at least one child")
}

/** Negation. A branch that is satisfiable by a document containing NONE of
  * the tree's terms (e.g. a top-level NOT) makes the compiler add the
  * complement of the scanned candidate set — an unavoidable docs-table pass,
  * flagged in the scaladoc of [[Searcher.boolQuery]]. */
final case class BNot(child: BoolQuery) extends BoolQuery
