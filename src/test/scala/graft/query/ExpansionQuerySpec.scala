package graft.query

import graft.SparkSpec
import graft.analysis.Analyzer
import graft.index.IndexBuilder
import org.apache.spark.sql.DataFrame

/** Term-dictionary expansion queries (prefix / wildcard / fuzzy), facet
  * counts, hit-term highlighting and token-window snippets. */
class ExpansionQuerySpec extends SparkSpec {
  import spark.implicits._

  private val analyzer = Analyzer.standard()

  // 1 "ruby php js"   (src a)   2 "go ruby"    (src a)
  // 3 "ruby go php"   (src b)   4 "go php"     (src b)
  // 5 "rust go"       (src b)   6 "js js go"   (src c)
  private val docs = Seq(
    (0L, 1L, "ruby php js", "a"), (1L, 2L, "go ruby", "a"),
    (2L, 3L, "ruby go php", "b"), (3L, 4L, "go php", "b"),
    (4L, 5L, "rust go", "b"), (5L, 6L, "js js go", "c"))

  private lazy val searcher = {
    val df = docs.toDF("doc_ord", "doc_id", "text", "src")
    new Searcher(IndexBuilder.build(df, analyzer).cache(), analyzer)
  }

  private def ids(df: DataFrame): Seq[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSeq.sorted

  test("prefixQuery expands over the dictionary (OR semantics)") {
    // 'r' -> {ruby, rust} -> docs 1,2,3,5
    assert(ids(searcher.prefixQuery("r")) == Seq(1L, 2L, 3L, 5L))
    // 'ru' identical here; 'rub' -> ruby only
    assert(ids(searcher.prefixQuery("rub")) == ids(searcher.matchQuery("ruby", Or)))
    assert(ids(searcher.prefixQuery("zzz")).isEmpty)
    assert(ids(searcher.prefixQuery("")).isEmpty)
  }

  test("prefixQuery ranked == matchQueryRanked over the expansion set") {
    val exp = searcher.prefixQuery("r", ranked = true)
      .select("doc_id", "score").collect().map(r => (r.getLong(0), r.getDouble(1)))
    val ref = searcher.matchQueryRanked("ruby rust", Or)
      .select("doc_id", "score").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(exp.toSeq == ref.toSeq)
  }

  test("prefixQuery truncation keeps the highest-df expansions deterministically") {
    // df: go=5, php=3, ruby=3, js=2, rust=1 ; prefix '' not allowed, use
    // single-char prefixes against maxExpansions=1
    // 'r': ruby(df 3) beats rust(df 1)
    assert(ids(searcher.prefixQuery("r", maxExpansions = 1)) ==
      ids(searcher.matchQuery("ruby", Or)))
  }

  test("wildcardQuery * and ? translate to an anchored regex") {
    // '*s*' -> {js, rust}
    assert(ids(searcher.wildcardQuery("*s*")) == Seq(1L, 5L, 6L))
    // 'j?' -> {js}
    assert(ids(searcher.wildcardQuery("j?")) == ids(searcher.matchQuery("js", Or)))
    // regex metacharacters in the pattern are literal: 'j.' matches nothing
    assert(ids(searcher.wildcardQuery("j.")).isEmpty)
    // '?' alone: no single-letter terms
    assert(ids(searcher.wildcardQuery("?")).isEmpty)
  }

  test("fuzzyQuery matches within the edit budget, exact term included") {
    // rubi ~1 -> ruby
    assert(ids(searcher.fuzzyQuery("rubi", maxEdits = 1)) ==
      ids(searcher.matchQuery("ruby", Or)))
    // rast ~1 -> rust ; ~2 adds ruby? levenshtein(rast, ruby)=3 -> no
    assert(ids(searcher.fuzzyQuery("rast", maxEdits = 1)) ==
      ids(searcher.matchQuery("rust", Or)))
    // exact term at distance 0
    assert(ids(searcher.fuzzyQuery("go", maxEdits = 0)) ==
      ids(searcher.matchQuery("go", Or)))
    // budget 2 from 'rs': go? lev=2 ('rs'->'go' two subs). js lev 1 ; rust lev 2
    assert(ids(searcher.fuzzyQuery("js", maxEdits = 0)) ==
      ids(searcher.matchQuery("js", Or)))
    assert(ids(searcher.fuzzyQuery("zzzzzz", maxEdits = 1)).isEmpty)
  }

  test("regexpQuery and termRangeQuery expand like their predicate") {
    // dictionary: go js php ruby rust
    assert(ids(searcher.regexpQuery("r.+")) ==
      ids(searcher.matchQuery("ruby rust", Or)))
    assert(ids(searcher.regexpQuery("p..|go")) ==
      ids(searcher.matchQuery("php go", Or)))
    assert(searcher.regexpQuery("zz+").count() == 0)
    // range [p, r] inclusive: php; [p, ruby]: php ruby; open ends
    assert(ids(searcher.termRangeQuery("p", "r")) == ids(searcher.matchQuery("php", Or)))
    assert(ids(searcher.termRangeQuery("p", "ruby")) ==
      ids(searcher.matchQuery("php ruby", Or)))
    assert(ids(searcher.termRangeQuery("rust", null)) ==
      ids(searcher.matchQuery("rust", Or)))
    assert(ids(searcher.termRangeQuery(null, "go")) == ids(searcher.matchQuery("go", Or)))
  }

  test("facetCounts groups the matched set by a docs column") {
    // go (docs 2,3,4,5,6) by src -> a:1, b:3, c:1
    val f = searcher.facetCounts("go", Or, "src")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(f == Map("a" -> 1L, "b" -> 3L, "c" -> 1L))
    // AND with unknown term: statically empty, schema intact
    val e = searcher.facetCounts("go zzz", And, "src")
    assert(e.columns.toSeq == Seq("src", "n_docs") && e.count() == 0)
  }

  test("highlightTerms reports which query terms each matched doc contains") {
    val h = searcher.highlightTerms("ruby go zzz", Or)
      .select("doc_id", "hit_terms").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(h == Map(1L -> "ruby", 2L -> "go ruby", 3L -> "go ruby",
      4L -> "go", 5L -> "go", 6L -> "go"))
    // AND semantics: only docs with every term
    val hAnd = searcher.highlightTerms("ruby go", And)
      .select("doc_id", "hit_terms").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(hAnd == Map(2L -> "go ruby", 3L -> "go ruby"))
  }

  test("snippet extracts the token window around the first hit, clamped") {
    val sDocs = Seq(
      (0L, 1L, "alpha beta gamma delta epsilon zeta"),
      (1L, 2L, "delta at start"),
      (2L, 3L, "ends with delta"),
      (3L, 4L, "no hit here"))
      .toDF("doc_ord", "doc_id", "text")
    val s = new Searcher(IndexBuilder.build(sDocs, analyzer).cache(), analyzer)
    val sn = s.snippet("delta", window = 1)
      .select("doc_id", "snippet").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(sn == Map(
      1L -> "gamma delta epsilon",
      2L -> "delta at",      // clamped at doc start
      3L -> "with delta"))   // clamped at doc end; doc 4 unmatched
    // wider window clamps to the whole short doc
    val sn2 = s.snippet("start", window = 5)
      .select("doc_id", "snippet").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(sn2 == Map(2L -> "delta at start"))
    // multi-term: first occurrence of the EARLIEST term
    val sn3 = s.snippet("zeta beta", window = 1)
      .select("doc_id", "snippet").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(sn3 == Map(1L -> "alpha beta gamma"))
    // unknown-only query: empty with schema intact
    val e = s.snippet("zzz")
    assert(e.columns.contains("snippet") && e.count() == 0)
  }

  test("snippet/moreLikeThis reject bad arguments on the driver; a huge window clamps") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sDocs = Seq((0L, 1L, "alpha beta gamma delta epsilon zeta"), (1L, 2L, "delta at start"))
      .toDF("doc_ord", "doc_id", "text")
    val s = new Searcher(IndexBuilder.build(sDocs, analyzer).cache(), analyzer)
    s.snippet("delta").collect() // warm: the index is cached before counting
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Thread.sleep(300); jobs.set(0)
      intercept[IllegalArgumentException](s.snippet("delta", window = -1).collect())
      intercept[IllegalArgumentException](s.moreLikeThis(0L, k = -1).collect())
      intercept[IllegalArgumentException](s.moreLikeThis(0L, maxQueryTerms = -1).collect())
      Thread.sleep(500)
      assert(jobs.get() == 0, s"argument errors ran ${jobs.get()} Spark jobs first")
    } finally spark.sparkContext.removeSparkListener(listener)
    val whole = s.snippet("delta", window = Int.MaxValue)
      .select("doc_id", "snippet").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(whole == Map(1L -> "alpha beta gamma delta epsilon zeta", 2L -> "delta at start"))
  }

  test("didYouMean: corrections ranked by (distance, df desc, term)") {
    // vocab: ruby(df 3), php(3), js(2), go(4), rust(1)
    val dym = searcher.didYouMean("rubi", maxEdits = 2, n = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    assert(dym.toSeq == Seq(("ruby", 3L, 1), ("rust", 1L, 2)))
    // the exact term never suggests itself
    assert(!searcher.didYouMean("ruby", 2, 5).collect()
      .map(_.getString(0)).contains("ruby"))
    // nothing within budget / empty input -> empty
    assert(searcher.didYouMean("go", maxEdits = 1, n = 5).count() == 0)
    assert(searcher.didYouMean("", 2, 5).count() == 0)
  }

  // match_phrase_prefix corpus: "jo" expands to {join, joke}; jam does not
  // continue the phrase; docs 4/6 test slop windows; doc 8 repeated tokens.
  private lazy val pp = {
    val rows = Seq(
      (0L, 1L, "spark join table"), (1L, 2L, "spark joke here"),
      (2L, 3L, "spark jam"), (3L, 4L, "join spark"),
      (4L, 5L, "go spark"), (5L, 6L, "spark go join"),
      (6L, 7L, "joke"), (7L, 8L, "go go gone"))
    new Searcher(IndexBuilder.build(
      rows.toDF("doc_ord", "doc_id", "text"), analyzer).cache(), analyzer)
  }

  test("matchPhrasePrefix: last token expands, any expansion completes the phrase") {
    // "spark jo" -> spark followed by join|joke: docs 1, 2 (not 3: jam)
    assert(ids(pp.matchPhrasePrefix("spark jo")) == Seq(1L, 2L))
    // uniquely-expanding prefix ≡ the exact phrase
    assert(ids(pp.matchPhrasePrefix("spark joi")) == ids(pp.phraseQuery("spark join")))
    // single-token phrase ≡ prefixQuery's OR set
    assert(ids(pp.matchPhrasePrefix("jo")) == ids(pp.prefixQuery("jo")))
  }

  test("matchPhrasePrefix: slop widens the window with phraseQuery semantics") {
    // doc 6 "spark go join": gap of 1 between spark and join
    assert(ids(pp.matchPhrasePrefix("spark jo", slop = 1)) == Seq(1L, 2L, 6L))
    // unordered window at slop 2 also admits the reversal (doc 4), exactly
    // like phraseQuery's documented unordered slop semantics
    assert(ids(pp.matchPhrasePrefix("spark jo", slop = 2)) == Seq(1L, 2L, 4L, 6L))
  }

  test("matchPhrasePrefix: expansion truncation, repeated tokens, edge cases") {
    // maxExpansions=1 keeps the highest-df expansion: join (df 3) beats
    // joke (df 2) -> only the exact "spark join" doc survives
    assert(ids(pp.matchPhrasePrefix("spark jo", maxExpansions = 1)) == Seq(1L))
    // repeated exact tokens each occupy their own slot
    assert(ids(pp.matchPhrasePrefix("go go go")) == Seq(8L))
    // unknown exact term / unexpandable prefix / empty input -> empty
    assert(pp.matchPhrasePrefix("zzz jo").count() == 0)
    assert(pp.matchPhrasePrefix("spark zz").count() == 0)
    assert(pp.matchPhrasePrefix("").count() == 0)
    intercept[IllegalArgumentException] { pp.matchPhrasePrefix("spark jo", slop = -1) }
    intercept[IllegalArgumentException] { pp.matchPhrasePrefix("spark jo", maxExpansions = 0) }
  }

  test("matchPhrasePrefix ranked: TF-IDF over exact terms + expansions, desc order") {
    val rows = pp.matchPhrasePrefix("spark jo", ranked = true)
      .select("doc_id", "score").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.map(_._1).toSet == Set(1L, 2L))
    assert(rows.forall(_._2 > 0.0))
    assert(rows.map(_._2).toSeq == rows.map(_._2).toSeq.sortBy(-(_: Double)))
  }
}
