package graft.query

import graft.SparkSpec
import graft.analysis._
import graft.index.IndexBuilder
import org.apache.spark.sql.DataFrame

/** End-to-end golden ports of the reference query tests:
  * README.md:49-70 (Example1), searcher_test.go:37-292 (9 Match + 7 Phrase
  * cases over the aa/bb/cc corpus), sorter_test.go:11-73 (2 TF-IDF
  * rankings). Doc IDs here = reference docID (doc_ord + 1).
  */
class SearcherSpec extends SparkSpec {
  import spark.implicits._

  private def index(bodies: Seq[String], analyzer: Analyzer) = {
    val docs = bodies.zipWithIndex
      .map { case (b, i) => (i.toLong, (i + 1).toLong, b) }
      .toDF("doc_ord", "doc_id", "text")
    IndexBuilder.build(docs, analyzer).cache()
  }

  private def ids(df: DataFrame): Seq[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSeq

  // --- README Example1: 4-doc corpus, standard + lowercase ----------------
  private lazy val readme =
    new Searcher(
      index(Seq("Ruby PHP JS", "Go Ruby", "Ruby Go PHP", "Go PHP"),
        Analyzer.standard()),
      Analyzer.standard())

  test("README example1: MatchQuery(GO Ruby, OR, tfidf) ⇒ [2,3,4,1]") {
    assert(ids(readme.matchQueryRanked("GO Ruby", Or)) == Seq(2L, 3L, 4L, 1L))
  }
  test("README example1: PhraseQuery(go RUBY) ⇒ [2]") {
    assert(ids(readme.phraseQuery("go RUBY")) == Seq(2L))
  }
  test("MatchAll returns all docs in doc order") {
    assert(ids(readme.matchAll()) == Seq(1L, 2L, 3L, 4L))
  }

  // --- searcher_test.go corpus: aa bb cc / dd ee / ff aa bb ---------------
  private lazy val abc =
    new Searcher(
      index(Seq("aa bb cc", "dd ee", "ff aa bb"), Analyzer.standard()),
      Analyzer.standard())

  private val matchCases: Seq[(String, Logic, Seq[Long])] = Seq(
    ("dd", And, Seq(2L)),
    ("aa bb", And, Seq(1L, 3L)),
    ("aa dd", And, Seq()),
    ("", And, Seq()),
    ("test", And, Seq()),
    ("dd", Or, Seq(2L)),
    ("cc dd", Or, Seq(1L, 2L)),
    ("aa ff", Or, Seq(1L, 3L)),
    ("", Or, Seq()),
    ("test", Or, Seq())
  )
  matchCases.foreach { case (kw, logic, want) =>
    test(s"MatchQuery('$kw', $logic) ⇒ $want") {
      assert(ids(abc.matchQuery(kw, logic)) == want)
    }
  }

  private val phraseCases: Seq[(String, Seq[Long])] = Seq(
    ("aa bb", Seq(1L, 3L)),
    ("dd ee", Seq(2L)),
    ("ff aa bb", Seq(3L)),
    ("aa", Seq(1L, 3L)),
    ("ff", Seq(3L)),
    ("", Seq()),
    ("test", Seq())
  )
  phraseCases.foreach { case (kw, want) =>
    test(s"PhraseQuery('$kw') ⇒ $want") {
      assert(ids(abc.phraseQuery(kw)) == want)
    }
  }

  test("phrase hits are a subset of AND hits") {
    val and = ids(abc.matchQuery("aa bb", And)).toSet
    val ph = ids(abc.phraseQuery("aa bb")).toSet
    assert(ph.subsetOf(and))
  }

  // --- sorter_test.go: fruits corpus, full-width-space separated ----------
  private lazy val fruits =
    new Searcher(
      index(Seq("りんご　みかん", "りんご　りんご　みかん", "りんご　りんご　みかん　みかん　みかん"),
        Analyzer.standard()),
      Analyzer.standard())

  test("TF-IDF golden: りんご ⇒ [2,1,3]") {
    assert(ids(fruits.matchQueryRanked("りんご", Or)) == Seq(2L, 1L, 3L))
  }
  test("TF-IDF golden: みかん ⇒ [3,1,2]") {
    assert(ids(fruits.matchQueryRanked("みかん", Or)) == Seq(3L, 1L, 2L))
  }

  // --- indexer_test.go:63-116: repeated-term position assignment ----------
  test("positions are ordinals in the filtered stream: 'aa bb cc aa' ⇒ aa@[0,3]") {
    val idx = index(Seq("aa bb cc aa"), Analyzer.standard())
    val row = idx.postings
      .join(idx.termDict.where($"term" === "aa"), "term_id")
      .select("positions", "tf").head()
    assert(row.getSeq[Int](0) == Seq(0, 3))
    assert(row.getInt(1) == 2)
  }

  // --- BM25 sanity + duplicate-term AND set semantics ----------------------
  test("bm25TopK returns scored docs descending") {
    val top = readme.bm25TopK("GO Ruby", 10)
    val scores = top.select("score").collect().map(_.getDouble(0)).toSeq
    assert(scores == scores.sorted.reverse && scores.nonEmpty)
    assert(scores.forall(_ > 0))
  }
  test("bm25TopKBatch == per-query bm25TopK for every query in the set") {
    val kws = Seq("GO Ruby", "php", "ruby go php", "unknownterm", "")
    val batch = readme.bm25TopKBatch(kws, 3).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(t => (t._3, t._4)).toSeq).toMap
    kws.zipWithIndex.foreach { case (kw, qi) =>
      val want = readme.bm25TopK(kw, 3).select("doc_ord", "score").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val got = batch.getOrElse(qi, Seq.empty)
      assert(got.map(_._1) == want.map(_._1), s"query '$kw' docs: $got vs $want")
      got.zip(want).foreach { case ((_, gs), (_, ws)) =>
        assert(math.abs(gs - ws) < 1e-9, s"query '$kw' score $gs vs $ws")
      }
    }
  }

  test("bm25TopK cut-then-fetch: broadcast left to the planner, k-row cut only") {
    import org.apache.spark.sql.catalyst.optimizer.{BuildRight, BuildSide}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val words = Seq("go", "ruby", "php", "java", "rust", "scala")
    val s = new Searcher(index((0 until 40).map(i =>
      Seq.tabulate(3 + i % 5)(j => words((i * 7 + j * 3) % words.size)).mkString(" ")),
      Analyzer.standard()), Analyzer.standard())
    // build side of the fetch join (docs, with their text, on the left; the
    // cut on the right) in the pre-execution plan
    def fetchBuildSides(df: DataFrame): Seq[BuildSide] = {
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.inputPlan
        case p => p
      }
      plan.collect { case j: BroadcastHashJoinExec
        if j.left.output.exists(_.name == "text") => j.buildSide }
    }
    def ranking(df: DataFrame): Seq[(Long, Double)] =
      df.select("doc_id", "score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val all = s.bm25TopK("go ruby", Int.MaxValue)
    assert(ranking(all) == ranking(s.bm25All("go ruby")))
    assert(ranking(all).nonEmpty)
    assert(!fetchBuildSides(all).contains(BuildRight), "an unbounded cut must not be broadcast")
    assert(fetchBuildSides(s.bm25TopK("go ruby", 10)) == Seq(BuildRight),
      "a k-row cut is broadcast into the fetch")
  }

  test("AND with a duplicated query term uses set semantics (documented divergence)") {
    // reference would return empty because len(tokens) != len(terms)
    // (`searcher.go:66-68` after SQL IN dedup); we match on the term SET.
    assert(ids(abc.matchQuery("aa aa bb", And)) == Seq(1L, 3L))
  }

  // --- sloppy phrase (window semantics) ------------------------------------
  private lazy val sloppy =
    new Searcher(
      index(Seq(
        "aa cc",          // 1: exact adjacency
        "aa bb cc",       // 2: one gap
        "aa xx yy cc",    // 3: two gaps
        "cc aa",          // 4: reversed (spread 2 after ordinal shift)
        "bb"              // 5: repeated-term window probe
      ), Analyzer.standard()),
      Analyzer.standard())

  test("phraseQuery slop: widening windows admit gap, wider gap, then reversal") {
    assert(ids(sloppy.phraseQuery("aa cc")) == Seq(1L))
    assert(ids(sloppy.phraseQuery("aa cc", slop = 1)) == Seq(1L, 2L))
    assert(ids(sloppy.phraseQuery("aa cc", slop = 2)) == Seq(1L, 2L, 3L, 4L))
  }
  test("phraseQuery slop=0 ≡ exact phrase path on every golden case") {
    phraseCases.foreach { case (kw, want) =>
      assert(ids(abc.phraseQuery(kw, slop = 0)) == want, s"case '$kw'")
    }
  }
  test("phraseQuery slop: repeated-term slots may share an occurrence (documented)") {
    // window semantics, NOT Lucene's distinct-position sloppy phrase: one
    // 'bb' satisfies both slots of "bb bb" once the window is non-zero
    assert(ids(sloppy.phraseQuery("bb bb")) == Seq())
    assert(ids(sloppy.phraseQuery("bb bb", slop = 1)) == Seq(2L, 5L))
  }
  private lazy val orderedC =
    new Searcher(
      index(Seq(
        "aa cc",        // 1: in order, adjacent
        "cc aa",        // 2: reversed
        "aa xx cc",     // 3: in order, one gap
        "bb",           // 4: one bb occurrence
        "bb dd bb",     // 5: two bb occurrences
        "aa cc bb cc"   // 6: greedy-fold probe for 3 terms
      ), Analyzer.standard()),
      Analyzer.standard())

  test("phraseQuery inOrder: order is required, gaps still allowed") {
    assert(ids(orderedC.phraseQuery("aa cc", slop = 0, inOrder = true)) == Seq(1L, 6L))
    assert(ids(orderedC.phraseQuery("aa cc", slop = 1, inOrder = true)) == Seq(1L, 3L, 6L))
    // the reversed doc matches the unordered window but never the ordered one
    assert(ids(orderedC.phraseQuery("aa cc", slop = 2)).contains(2L))
    assert(!ids(orderedC.phraseQuery("aa cc", slop = 2, inOrder = true)).contains(2L))
  }

  test("phraseQuery inOrder: repeated-term slots need DISTINCT occurrences") {
    // unordered window lets one 'bb' satisfy both slots (docs 4, 5, 6 all
    // contain bb); ordered (strictly increasing positions) demands two
    // occurrences — only doc 5 has them
    assert(ids(orderedC.phraseQuery("bb bb", slop = 2)) == Seq(4L, 5L, 6L))
    assert(ids(orderedC.phraseQuery("bb bb", slop = 2, inOrder = true)) == Seq(5L))
  }

  test("phraseQuery inOrder: greedy chain fold honors the lower bound (3 terms)") {
    // doc 6 'aa cc bb cc': shifted sets aa={0}, bb={1}, cc={-1, 1}; a naive
    // global-min pick of cc's -1 would fail — the fold's prev lower bound
    // must select cc's 1
    assert(ids(orderedC.phraseQuery("aa bb cc", slop = 1, inOrder = true)) == Seq(6L))
    assert(ids(orderedC.phraseQuery("aa bb cc", slop = 0, inOrder = true)) == Seq())
  }

  test("phraseQuery slop ranked: scored like the exact ranked path") {
    val r = sloppy.phraseQuery("aa cc", ranked = true, slop = 1)
    assert(ids(r) == Seq(1L, 2L)) // shorter doc scores higher (tf/len)
    val scores = r.select("score").collect().map(_.getDouble(0))
    assert(scores.forall(_ > 0) && scores(0) > scores(1))
  }

  // --- minimum_should_match -------------------------------------------------
  test("countMatches == matchQuery cardinality, zero cluster work when static") {
    assert(abc.countMatches("aa bb", And) == ids(abc.matchQuery("aa bb", And)).size)
    assert(abc.countMatches("cc dd", Or) == ids(abc.matchQuery("cc dd", Or)).size)
    assert(abc.countMatches("", And) == 0L)
    assert(abc.countMatches("zz", Or) == 0L)
    assert(abc.countMatches("aa zz", And) == 0L) // unknown term short-circuit
  }

  test("matchQueryMsm: quota 1 ≡ OR, quota k ≡ AND, quota between filters") {
    assert(ids(abc.matchQueryMsm("aa bb dd", 1)) == ids(abc.matchQuery("aa bb dd", Or)))
    assert(ids(abc.matchQueryMsm("aa bb", 2)) == ids(abc.matchQuery("aa bb", And)))
    assert(ids(abc.matchQueryMsm("aa bb dd", 2)) == Seq(1L, 3L))
    assert(ids(abc.matchQueryMsm("aa bb dd", 3)) == Seq())
  }
  test("matchQueryMsm: unresolvable quota short-circuits to empty on the driver") {
    assert(ids(abc.matchQueryMsm("aa zz ww", 2)) == Seq())
    assert(ids(abc.matchQueryMsm("", 1)) == Seq())
  }
  test("matchQueryMsm ranked: BM25 over matched terms, desc") {
    val r = abc.matchQueryMsm("aa bb dd", 2, ranked = true)
    val rows = r.select("doc_id", "score").collect()
    assert(rows.map(_.getLong(0)).toSet == Set(1L, 3L))
    assert(rows.forall(_.getDouble(1) > 0))
  }

  // --- collapse / search_after / histogram facet ----------------------------
  private lazy val grouped = {
    val docs = Seq(
      (0L, 1L, "go ruby", "c1", 10L),
      (1L, 2L, "go go ruby", "c1", 20L),
      (2L, 3L, "go php", "c2", 30L),
      (3L, 4L, "ruby php", "c2", 44L),
      (4L, 5L, "java", "c3", 50L)
    ).toDF("doc_ord", "doc_id", "text", "conv", "len")
    new Searcher(IndexBuilder.build(docs, Analyzer.standard()).cache(),
      Analyzer.standard())
  }

  test("bm25TopKCollapse: one best-scoring doc per group, groups ranked by it") {
    val rows = grouped.bm25TopKCollapse("go ruby", "conv", 10)
      .select("doc_id", "conv").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.map(_._2).distinct.length == rows.length) // one per group
    assert(rows.map(_._2).toSet == Set("c1", "c2"))       // c3 never matches
    // within c1 the higher-scoring doc represents the group
    val full = grouped.bm25TopK("go ruby", 10).select("doc_id", "conv")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val bestPerGroup = full.groupBy(_._2).map { case (_, rs) => rs.head._1 }.toSet
    assert(rows.map(_._1).toSet == bestPerGroup)
    assert(ids(grouped.bm25TopKCollapse("go ruby", "conv", 1)).length == 1)
  }

  test("bm25TopKAfter: cursor pages partition the full ranking") {
    val full = grouped.bm25TopK("go ruby php", 10)
      .select("doc_id", "score", "doc_ord").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(full.length >= 4)
    val pageSize = 2
    // page 1 MUST come from the quantized-order variant (see scaladoc)
    val page1 = grouped.bm25TopKFirstPage("go ruby php", pageSize)
      .select("doc_id", "score", "doc_ord").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    // no shared 1e-9 buckets on this corpus: quantized page 1 == exact head
    assert(page1.map(_._1).toSeq == full.take(pageSize).map(_._1).toSeq)
    val cursor = page1.last
    val page2 = grouped.bm25TopKAfter("go ruby php", pageSize, cursor._2, cursor._3)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(page2 == full.slice(pageSize, 2 * pageSize).map(_._1).toSeq)
    // pages are disjoint and ordered
    assert(page1.map(_._1).toSet.intersect(page2.toSet).isEmpty)
  }

  test("bm25TopKAfter: a ULP-jittered cursor score yields the identical page") {
    // the quantized boundary (PageGrain digits) absorbs reduce-order float
    // jitter — an exact === would drop/duplicate boundary-tied docs when the
    // page-2 run recomputes the cursor score a ULP off
    val full = grouped.bm25TopKFirstPage("go ruby php", 10)
      .select("doc_id", "score", "doc_ord").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val cursor = full(1)
    def page(s: Double): Seq[Long] =
      grouped.bm25TopKAfter("go ruby php", 2, s, cursor._3)
        .select("doc_id").collect().map(_.getLong(0)).toSeq
    val exact = page(cursor._2)
    assert(exact == full.slice(2, 4).map(_._1).toSeq)
    assert(page(cursor._2 + 1e-12) == exact)
    assert(page(cursor._2 - 1e-12) == exact)
  }

  test("facetHistogram: matched docs bucketed by binWidth multiples") {
    val hist = grouped.facetHistogram("go ruby", Or, "len", 20L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // matched docs: 1(len10),2(20),3(30),4(44) → buckets 0,20,20,40
    assert(hist == Map(0L -> 1L, 20L -> 2L, 40L -> 1L))
    val none = grouped.facetHistogram("zz", Or, "len", 20L).collect()
    assert(none.isEmpty)
  }

  // --- dis_max / filter context / stats facet --------------------------------
  test("disMaxTopK: tie 0 is max of clause scores; tie 1 is the flat OR sum") {
    import org.apache.spark.sql.functions.col
    def scores(df: DataFrame): Map[Long, Double] =
      df.select("doc_id", "score").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toMap
    val go = scores(grouped.bm25All("go"))
    val ruby = scores(grouped.bm25All("ruby"))
    val both = go.keySet ++ ruby.keySet
    val dm0 = scores(grouped.disMaxTopK(Seq("go", "ruby"), 10, tieBreaker = 0.0))
    assert(dm0.keySet == both)
    dm0.foreach { case (id, s) =>
      val want = math.max(go.getOrElse(id, 0.0), ruby.getOrElse(id, 0.0))
      assert(math.abs(s - want) < 1e-9, s"doc $id: $s vs $want")
    }
    val dm1 = scores(grouped.disMaxTopK(Seq("go", "ruby"), 10, tieBreaker = 1.0))
    val flat = scores(grouped.bm25TopK("go ruby", 10))
    assert(dm1.keySet == flat.keySet)
    dm1.foreach { case (id, s) => assert(math.abs(s - flat(id)) < 1e-9) }
    val dm3 = scores(grouped.disMaxTopK(Seq("go", "ruby"), 10, tieBreaker = 0.3))
    dm3.foreach { case (id, s) =>
      val a = go.getOrElse(id, 0.0); val b = ruby.getOrElse(id, 0.0)
      val want = math.max(a, b) + 0.3 * math.min(a, b)
      assert(math.abs(s - want) < 1e-9, s"doc $id: $s vs $want")
    }
    assert(grouped.disMaxTopK(Seq("zzz", ""), 10).collect().isEmpty)
  }

  test("bm25TopKFiltered: filter context restricts results, never scores") {
    import org.apache.spark.sql.functions.col
    val all = grouped.bm25TopK("go ruby", 10).select("doc_id", "score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    val c2 = grouped.bm25TopKFiltered("go ruby", col("conv") === "c2", 10)
      .select("doc_id", "score").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(c2.map(_._1).toSet == Set(3L, 4L)) // only c2's matched docs
    c2.foreach { case (id, s) => assert(math.abs(s - all(id)) < 1e-12) } // df/avgdl corpus-global
    assert(grouped.bm25TopKFiltered("zzz", col("conv") === "c2", 10).collect().isEmpty)
  }

  test("bm25TopKFunctionScore: factor multiplies and re-ranks; zero buries") {
    import org.apache.spark.sql.functions.{col, lit, log1p}
    val base = grouped.bm25TopK("go ruby", 10).select("doc_id", "score")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val lens = Map(1L -> 10L, 2L -> 20L, 3L -> 30L, 4L -> 44L)
    val got = grouped.bm25TopKFunctionScore("go ruby", log1p(col("len")), 10)
      .select("doc_id", "score").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.map(_._1).toSet == base.keySet)
    got.foreach { case (id, s) =>
      val want = base(id) * math.log1p(lens(id).toDouble)
      assert(math.abs(s - want) < 1e-9, s"doc $id: $s vs $want")
    }
    // returned order follows the MODIFIED score
    val scores = got.map(_._2)
    assert(scores.toSeq == scores.sortBy(-_).toSeq)
    // constant factor 1 reproduces the plain ranking exactly
    val flat = grouped.bm25TopKFunctionScore("go ruby", lit(1.0), 10)
      .select("doc_id", "score").collect().map(r => (r.getLong(0), r.getDouble(1)))
    val plain = grouped.bm25TopK("go ruby", 10)
      .select("doc_id", "score").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(flat.toSeq == plain.toSeq)
  }

  test("facetStats: count/min/max/sum/avg over the matched set") {
    val r = grouped.facetStats("go ruby", Or, "len").collect().head
    // matched: docs 1(10), 2(20), 3(30), 4(44)
    assert(r.getLong(0) == 4L)
    assert(r.getDouble(1) == 10.0 && r.getDouble(2) == 44.0)
    assert(math.abs(r.getDouble(3) - 104.0) < 1e-12)
    assert(math.abs(r.getDouble(4) - 26.0) < 1e-12)
    val empty = grouped.facetStats("zzz", Or, "len").collect().head
    assert(empty.getLong(0) == 0L && empty.isNullAt(1))
  }

  test("contextWindows: ±w same-conversation turns, clamped at boundaries") {
    val docs = Seq(
      (0L, "c1", 0), (1L, "c1", 1), (2L, "c1", 2), (3L, "c1", 3),
      (4L, "c2", 0), (5L, "c2", 1)
    ).toDF("doc_ord", "conv", "turn")
    val hits = Seq(1L, 4L, 99L).toDF("doc_ord") // 99 unknown → dropped
    val got = Searcher.contextWindows(docs, hits, "conv", "turn", 1)
      .select("hit_ord", "doc_ord", "offset")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want = Set(
      (1L, 0L, -1), (1L, 1L, 0), (1L, 2L, 1), // full window inside c1
      (4L, 4L, 0), (4L, 5L, 1))               // clamped at c2's start
    assert(got == want)
    // duplicate hit ordinals contribute one window
    assert(Searcher.contextWindows(docs,
      Seq(1L, 1L).toDF("doc_ord"), "conv", "turn", 1).count() == 3L)
    // window 0 = the hits themselves
    val w0 = Searcher.contextWindows(docs, hits, "conv", "turn", 0)
      .select("doc_ord").collect().map(_.getLong(0)).toSet
    assert(w0 == Set(1L, 4L))
    intercept[IllegalArgumentException](
      Searcher.contextWindows(docs, hits, "conv", "turn", -1))
  }

  test("lmDirichletAll: query-likelihood Dirichlet scores match the closed form") {
    val mu = 100.0
    // corpus: C=10 tokens; cf(go)=4, cf(ruby)=3; dl: 2,3,2,2,1
    val tfs = Map(
      1L -> Map("go" -> 1, "ruby" -> 1), 2L -> Map("go" -> 2, "ruby" -> 1),
      3L -> Map("go" -> 1), 4L -> Map("ruby" -> 1))
    val dls = Map(1L -> 2.0, 2L -> 3.0, 3L -> 2.0, 4L -> 2.0)
    val cf = Map("go" -> 4.0, "ruby" -> 3.0)
    val want = tfs.map { case (id, m) =>
      id -> (m.map { case (t, tf) => math.log(1 + tf / (mu * cf(t) / 10.0)) }.sum
        + m.size * math.log(mu / (dls(id) + mu)))
    }
    val got = grouped.lmDirichletAll("go ruby", mu).select("doc_id", "score")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (id, s) => assert(math.abs(got(id) - s) < 1e-12, s"doc $id") }
    // rarer term outranks common at equal tf/dl: ruby (cf 3) vs go (cf 4)
    assert(got(4L) > got(3L))
    assert(grouped.lmDirichletAll("zzz").collect().isEmpty)
    assert(grouped.lmDirichletAll("").collect().isEmpty)
    val all = grouped.lmDirichletAll("go ruby", mu)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val top2 = grouped.lmDirichletTopK("go ruby", 2, mu)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(top2 == all.take(2))
    intercept[IllegalArgumentException](grouped.lmDirichletAll("go", mu = 0.0))
  }

  test("facetPercentiles: interpolated fractions over the matched set") {
    // matched values: [10, 20, 30, 44]; position f·(n-1) interpolation
    val got = grouped.facetPercentiles("go ruby", Or, "len",
      Seq(0.0, 0.25, 0.5, 0.75, 1.0))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    val want = Map(0.0 -> 10.0, 0.25 -> 17.5, 0.5 -> 25.0, 0.75 -> 33.5, 1.0 -> 44.0)
    assert(got.keySet == want.keySet)
    want.foreach { case (f, v) => assert(math.abs(got(f) - v) < 1e-9, s"f=$f") }
    // empty matched set: one (fraction, null) row per REQUESTED fraction —
    // callers zip results against their fraction list
    val empty = grouped.facetPercentiles("zzz", Or, "len", Seq(0.25, 0.5)).collect()
    assert(empty.length == 2 && empty.forall(_.isNullAt(1)))
    assert(empty.map(_.getDouble(0)).toSet == Set(0.25, 0.5))
    // t-digest twin stays within the value range and near exact at tiny n
    val approx = grouped.facetPercentilesApprox("go ruby", Or, "len", Seq(0.5))
      .collect().head.getDouble(1)
    assert(approx >= 10.0 && approx <= 44.0)
    intercept[IllegalArgumentException](
      grouped.facetPercentiles("go", Or, "len", Nil))
    intercept[IllegalArgumentException](
      grouped.facetPercentiles("go", Or, "len", Seq(1.5)))
  }

  test("significantTerms: lift ranks over-represented terms in the matched set") {
    // query 'go' (OR): matched docs 1,2,3 of 5; df_in/df: go 3/3, ruby 2/3, php 1/2
    val rows = grouped.significantTerms("go", Or, topN = 10, minDocCount = 1)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.map(_._1).toSeq == Seq("go", "ruby", "php"))
    val lifts = rows.map(_._4)
    assert(math.abs(lifts(0) - (3.0 / 3) / (3.0 / 5)) < 1e-12)
    assert(math.abs(lifts(1) - (2.0 / 3) / (3.0 / 5)) < 1e-12)
    assert(math.abs(lifts(2) - (1.0 / 3) / (2.0 / 5)) < 1e-12)
    // minDocCount gates the tail; unknown query yields the empty frame
    assert(grouped.significantTerms("go", Or, 10, minDocCount = 2)
      .collect().map(_.getString(0)).toSeq == Seq("go", "ruby"))
    assert(grouped.significantTerms("zzz", Or, 10, 1).collect().isEmpty)
  }

  test("bm25TopKGrouped: has_child score modes aggregate member scores per group") {
    val base = grouped.bm25All("go ruby").select("doc_id", "score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap // docs 1,2 (c1), 3,4 (c2)
    val convOf = Map(1L -> "c1", 2L -> "c1", 3L -> "c2", 4L -> "c2")
    val byConv = base.groupBy { case (id, _) => convOf(id) }
      .map { case (c, m) => c -> m.values.toSeq }
    def got(mode: String): Map[String, (Double, Long)] =
      grouped.bm25TopKGrouped("go ruby", "conv", 10, mode).collect()
        .map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val want: Map[String, Seq[Double] => Double] = Map(
      "sum" -> (_.sum), "max" -> (_.max), "min" -> (_.min),
      "avg" -> (s => s.sum / s.size))
    want.foreach { case (mode, f) =>
      val g = got(mode)
      assert(g.keySet == Set("c1", "c2"), s"mode $mode")
      g.foreach { case (c, (score, nHits)) =>
        assert(nHits == byConv(c).size)
        assert(math.abs(score - f(byConv(c))) < 1e-9, s"mode $mode group $c")
      }
    }
    // groups ranked by aggregated score; k cuts groups
    val order = grouped.bm25TopKGrouped("go ruby", "conv", 10, "sum")
      .collect().map(_.getDouble(1)).toSeq
    assert(order == order.sortBy(-_))
    assert(grouped.bm25TopKGrouped("go ruby", "conv", 1, "sum").count() == 1)
    // max mode's group score == the collapse representative's score
    val collapse = grouped.bm25TopKCollapse("go ruby", "conv", 10)
      .select("conv", "score").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toMap
    got("max").foreach { case (c, (s, _)) => assert(math.abs(s - collapse(c)) < 1e-9) }
    assert(grouped.bm25TopKGrouped("zzz", "conv", 10).collect().isEmpty)
    intercept[IllegalArgumentException] {
      grouped.bm25TopKGrouped("go", "conv", 10, "median")
    }
  }

  test("matchTopKSortBy: matched docs ordered by a doc field, k-cut") {
    // OR-matched: docs 1(10), 2(20), 3(30), 4(44)
    def got(k: Int, ascending: Boolean): Seq[Long] =
      grouped.matchTopKSortBy("go ruby", Or, "len", k, ascending)
        .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(got(2, ascending = true) == Seq(1L, 2L))
    assert(got(2, ascending = false) == Seq(4L, 3L))
    assert(got(10, ascending = true) == Seq(1L, 2L, 3L, 4L))
    // AND semantics and unknown terms behave like matchQuery
    assert(grouped.matchTopKSortBy("go ruby", And, "len", 10)
      .select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(grouped.matchTopKSortBy("zzz", Or, "len", 10).collect().isEmpty)
  }

  test("facetCardinality: distinct facet values over the matched set; approx agrees") {
    assert(grouped.facetCardinality("go ruby", Or, "conv")
      .collect().head.getLong(0) == 2L) // c1, c2 — c3 never matches
    assert(grouped.facetCardinality("java", Or, "conv")
      .collect().head.getLong(0) == 1L)
    assert(grouped.facetCardinality("zzz", Or, "conv")
      .collect().head.getLong(0) == 0L)
    // HLL++ is exact at tiny cardinalities; at scale rsd bounds the error
    assert(grouped.facetCardinalityApprox("go ruby", Or, "conv")
      .collect().head.getLong(0) == 2L)
  }

  test("facetDateHistogram: calendar buckets of a timestamp expression") {
    import org.apache.spark.sql.functions.{col, date_add, lit, to_date}
    // matched docs 1(10), 2(20), 3(30), 4(44): 2025-01-01 + len days →
    // Jan 11 / Jan 21 / Jan 31 / Feb 14 → month buckets Jan:3, Feb:1
    val ts = date_add(to_date(lit("2025-01-01")), col("len").cast("int"))
      .cast("timestamp")
    val got = grouped.facetDateHistogram("go ruby", Or, ts, "month")
      .collect().map(r => (r.getTimestamp(0).toString, r.getLong(1))).toMap
    assert(got == Map("2025-01-01 00:00:00.0" -> 3L, "2025-02-01 00:00:00.0" -> 1L))
    val byYear = grouped.facetDateHistogram("go ruby", Or, ts, "year").collect()
    assert(byYear.length == 1 && byYear.head.getLong(1) == 4L)
    assert(grouped.facetDateHistogram("zzz", Or, ts, "month").collect().isEmpty)
    intercept[IllegalArgumentException] {
      grouped.facetDateHistogram("go", Or, ts, "fortnight")
    }
  }

  test("bm25TopKRescore: phrase re-rank decomposes; window restricts; rw=0 ≡ plain") {
    def scores(df: DataFrame): Map[Long, Double] =
      df.select("doc_id", "score").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toMap
    val base = scores(grouped.bm25All("go ruby")) // docs 1,2,3,4
    // phrase "go ruby": adjacent in docs 1 ("go ruby") and 2 ("go go ruby");
    // rescore terms == (go, ruby), so the rescore score IS the base score
    val phraseDocs = Set(1L, 2L)
    val got = scores(grouped.bm25TopKRescore("go ruby", "go ruby",
      windowSize = 10, k = 10, queryWeight = 1.0, rescoreWeight = 0.5))
    assert(got.keySet == base.keySet)
    got.foreach { case (id, s) =>
      val want = if (phraseDocs(id)) base(id) * 1.5 else base(id)
      assert(math.abs(s - want) < 1e-9, s"doc $id: $s vs $want")
    }
    // rescoreWeight 0: plain BM25 ranking (scaled by queryWeight)
    val rw0 = scores(grouped.bm25TopKRescore("go ruby", "go ruby", 10, 10,
      queryWeight = 2.0, rescoreWeight = 0.0))
    rw0.foreach { case (id, s) => assert(math.abs(s - 2.0 * base(id)) < 1e-9) }
    // windowSize 1: only the top base doc is retrievable at all
    val win1 = grouped.bm25TopKRescore("go ruby", "go ruby", 1, 1)
    val topBase = base.toSeq.sortBy { case (id, s) => (-s, id) }.head._1
    assert(win1.select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(topBase))
    // unknown rescore phrase: nothing matches it, scores stay qw·base
    val unk = scores(grouped.bm25TopKRescore("go ruby", "zz xx", 10, 10))
    unk.foreach { case (id, s) => assert(math.abs(s - base(id)) < 1e-9) }
    // unknown keyword: empty; window must cover k
    assert(grouped.bm25TopKRescore("zzz", "go ruby", 10, 10).collect().isEmpty)
    intercept[IllegalArgumentException] {
      grouped.bm25TopKRescore("go", "go ruby", windowSize = 1, k = 5)
    }
  }

  test("bm25TopKBoosting: negative matches demoted multiplicatively, never dropped") {
    val base = grouped.bm25All("go ruby").select("doc_id", "score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap // docs 1,2,3,4
    // negative 'php' matches docs 3, 4
    val got = grouped.bm25TopKBoosting("go ruby", "php", 0.4, 10)
      .select("doc_id", "score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(got.keySet == base.keySet) // demoted, not excluded
    got.foreach { case (id, s) =>
      val want = if (id == 3L || id == 4L) base(id) * 0.4 else base(id)
      assert(math.abs(s - want) < 1e-12, s"doc $id")
    }
    // nb=0 buries but keeps; unknown negative ≡ plain; AND negative logic
    val zeroed = grouped.bm25TopKBoosting("go ruby", "php", 0.0, 10)
      .select("doc_id", "score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(zeroed(3L) == 0.0 && zeroed(4L) == 0.0 && zeroed.keySet == base.keySet)
    val unk = grouped.bm25TopKBoosting("go ruby", "zzz", 0.4, 10)
      .select("doc_id", "score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    unk.foreach { case (id, s) => assert(math.abs(s - base(id)) < 1e-12) }
    // negLogic=And: 'go php' AND matches only doc 3
    val andNeg = grouped.bm25TopKBoosting("go ruby", "go php", 0.5, 10, And)
      .select("doc_id", "score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(math.abs(andNeg(3L) - base(3L) * 0.5) < 1e-12)
    assert(math.abs(andNeg(4L) - base(4L)) < 1e-12)
    intercept[IllegalArgumentException] {
      grouped.bm25TopKBoosting("go", "php", 1.0, 10)
    }
    assert(grouped.bm25TopKBoosting("zzz", "php", 0.4, 10).collect().isEmpty)
  }

  test("Japanese corpus end-to-end: lattice morphology + kana readings") {
    // the reference's Japanese pipeline shape (morphological tokenizer +
    // reading-form filter) over the in-repo lattice analyzer: queries
    // written in surface forms match documents via shared readings
    val ja = Analyzer(Nil,
      MorphologicalTokenizer(LatticeMorphology.demo),
      Seq(KanaReadingformFilter()))
    val s = new Searcher(index(Seq(
      "東京都に住む", "京都の人", "形態素解析をします", "東京の天気"), ja), ja)
    assert(ids(s.matchQuery("東京都", And)) == Seq(1L))
    assert(ids(s.matchQuery("京都", And)) == Seq(2L))
    assert(ids(s.matchQuery("東京 天気", And)) == Seq(4L))
    assert(ids(s.matchQuery("解析", Or)) == Seq(3L))
    // phrase: readings must be positionally adjacent
    assert(ids(s.phraseQuery("形態素 解析")) == Seq(3L))
    assert(ids(s.phraseQuery("解析 形態素")) == Seq())
  }

  test("serving mode: full driver dictionary — resolve and results identical") {
    val s = new Searcher(
      index(Seq("Ruby PHP JS", "Go Ruby", "Ruby Go PHP", "Go PHP"),
        Analyzer.standard()),
      Analyzer.standard())
    val coldResolve = s.resolve(Seq("ruby", "go", "nope", "php"))
    val coldWand = s.bm25TopKWand("go ruby", 10)
      .select("doc_id", "score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val coldMatch = ids(s.matchQuery("go php", And))
    s.serving() // vocab (5 terms) <= localDictMax -> full driver map
    assert(s.resolve(Seq("ruby", "go", "nope", "php")) == coldResolve)
    assert(s.bm25TopKWand("go ruby", 10).select("doc_id", "score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq == coldWand)
    assert(ids(s.matchQuery("go php", And)) == coldMatch)
    s.serving() // idempotent
    assert(s.resolve(Seq("go")) == coldResolve.filter(_.term == "go"))
    s.unpin()
    assert(s.resolve(Seq("ruby", "go", "nope", "php")) == coldResolve)
  }

  test("serving mode: multi-bucket WAND fast path is rank-identical and runs ≤ 2 jobs/query") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    // 24 docs over 6 doc buckets (bucketSpan=4) so the serving path's
    // per-partition bucket heaps + driver merge actually merge, including
    // score ties (repeated identical docs)
    val bodies = (0 until 24).map { i =>
      val extra = if (i % 3 == 0) " go" else if (i % 3 == 1) " ruby go" else ""
      s"doc common$extra term$i"
    }
    val bp = graft.index.BlockParams(blockSize = 2, bucketSpan = 4)
    val s = new Searcher(index(bodies, Analyzer.standard()), Analyzer.standard(), bp)
    val queries = Seq("go ruby", "common term7", "go common", "nosuchterm", "term3")
    val cold = queries.map(q => s.bm25TopKWand(q, 5)
      .select("doc_id", "score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    val countCases = Seq(("go ruby", Or), ("go common", And), ("common term7", And),
      ("nosuchterm", Or), ("go nosuchterm", And), ("go go common", And))
    val coldCounts = countCases.map { case (kw, lg) => s.matchQuery(kw, lg).count() }
    s.serving()
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // warm one query first (first call may plan lazily), then count
      s.bm25TopKWand(queries.head, 5).collect()
      Thread.sleep(300); jobs.set(0)
      val served = queries.map(q => s.bm25TopKWand(q, 5)
        .select("doc_id", "score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
      assert(served == cold, "serving fast path must be bit-identical to the cold plan")
      Thread.sleep(500)
      val n = jobs.get()
      // 4 resolvable queries × (1 wand job + 1 fetch job); the unknown-term
      // query must run ZERO jobs (driver dictionary answers it)
      assert(n <= 8, s"serving ran $n jobs for ${queries.size} queries — " +
        "the shuffle-free 2-jobs-per-query contract regressed")
      val servedCounts = countCases.map { case (kw, lg) => s.countMatches(kw, lg) }
      assert(servedCounts == coldCounts,
        s"block-local countMatches $servedCounts != aggregation plan $coldCounts")
    } finally spark.sparkContext.removeSparkListener(listener)
    s.unpin()
  }

  test("randomized serving-vs-cold parity battery (topKLocal + matchCountLocal)") {
    // seeded random corpora × random block geometries: the serving fast
    // paths (bucket-local WAND, block-local counts) must be bit-identical
    // to the cold plans on every draw — small vocab forces score ties, so
    // the tie ordering is exercised, and tiny blockSize/bucketSpan force
    // multi-block, multi-bucket merges
    for (seed <- Seq(7L, 21L, 63L)) {
      val rnd = new scala.util.Random(seed)
      val vocab = Vector.tabulate(30)(i => s"w$i")
      val bodies = Vector.fill(40 + rnd.nextInt(40))(
        Vector.fill(3 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      val bp = graft.index.BlockParams(
        blockSize = 1 + rnd.nextInt(4), bucketSpan = 2 + rnd.nextInt(8))
      val s = new Searcher(index(bodies, Analyzer.standard()), Analyzer.standard(), bp)
      val queries = Vector.fill(8)(
        Vector.fill(1 + rnd.nextInt(3))(vocab(rnd.nextInt(vocab.size))).mkString(" ")) :+
        "w0 nosuchword" :+ "w1 w1 w2"
      def tops() = queries.map(q => s.bm25TopKWand(q, 5).select("doc_id", "score")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
      def counts(lg: Logic) = queries.map(q => s.matchQuery(q, lg).count())
      val (coldTop, coldAnd, coldOr) = (tops(), counts(And), counts(Or))
      s.serving()
      assert(tops() == coldTop, s"seed $seed: serving top-k diverged")
      assert(queries.map(q => s.countMatches(q, And)) == coldAnd, s"seed $seed AND counts")
      assert(queries.map(q => s.countMatches(q, Or)) == coldOr, s"seed $seed OR counts")
      s.unpin()
    }
  }

  test("serving mode: block-local unranked match is row-identical, ≤2 jobs, bounded") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    // multi-bucket corpus (bucketSpan=4) so the per-bucket sorted merges
    // actually merge across cached partitions
    val bodies = (0 until 24).map { i =>
      val extra = if (i % 3 == 0) " go" else if (i % 3 == 1) " ruby go" else ""
      s"doc common$extra term$i"
    }
    val bp = graft.index.BlockParams(blockSize = 2, bucketSpan = 4)
    val s = new Searcher(index(bodies, Analyzer.standard()), Analyzer.standard(), bp)
    val cases = Seq(("go ruby", Or), ("go common", And), ("common term7", And),
      ("nosuchterm", Or), ("go nosuchterm", And), ("go go common", And),
      ("common", Or))
    def rows() = cases.map { case (kw, lg) =>
      s.matchQuery(kw, lg).collect().map(_.toSeq).toSeq
    }
    val cold = rows()
    s.serving()
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      s.matchQuery(cases.head._1, cases.head._2).collect() // warm
      Thread.sleep(300); jobs.set(0)
      assert(rows() == cold,
        "serving block-local match must be row-identical to the aggregation plan")
      Thread.sleep(500)
      val n = jobs.get()
      // 5 live matches × (1 ords job + 1 fetch job); the two statically-empty
      // queries run zero jobs (driver dictionary + empty LocalRelation)
      assert(n <= 10, s"serving match ran $n jobs for ${cases.size} queries — " +
        "the 2-jobs-per-query contract regressed")
    } finally spark.sparkContext.removeSparkListener(listener)
    // bound guard: forcing the bound to 0 must fall back to the distributed
    // plan with identical rows
    spark.conf.set("spark.graft.servingMatchMaxRows", "0")
    try assert(rows() == cold, "over-bound fallback must stay row-identical")
    finally spark.conf.unset("spark.graft.servingMatchMaxRows")
    s.unpin()
    assert(rows() == cold, "post-unpin results must match the cold plan")
  }

  test("serving mode: block-local phrase is row-identical across slop/inOrder, ≤2 jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    // positions matter: adjacency, gaps, repeats, multi-bucket layout
    val bodies = Seq(
      "alpha beta gamma alpha beta", "beta alpha beta gamma", "gamma beta alpha",
      "alpha alpha beta", "alpha x y beta", "beta y x alpha", "alpha beta",
      "x alpha y beta z gamma", "beta beta alpha alpha", "gamma gamma gamma",
      "alpha z z z beta", "y alpha beta gamma y alpha")
    val bp = graft.index.BlockParams(blockSize = 2, bucketSpan = 4)
    val s = new Searcher(index(bodies, Analyzer.standard()), Analyzer.standard(), bp)
    val phrases = Seq("alpha beta", "beta alpha", "alpha beta gamma",
      "alpha alpha", "alpha", "alpha nosuch", "alpha alpha beta")
    val grid = for {
      p <- phrases; slop <- Seq(0, 1, 2, 5); ord <- Seq(false, true)
    } yield (p, slop, ord)
    def rows() = grid.map { case (p, slop, ord) =>
      s.phraseQuery(p, slop = slop, inOrder = ord).collect().map(_.toSeq).toSeq
    }
    val cold = rows()
    s.serving(pinPostings = true) // the bench serving shape
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      s.phraseQuery(phrases.head).collect() // warm
      Thread.sleep(300); jobs.set(0)
      assert(rows() == cold,
        "serving block-local phrase must be row-identical to the distributed plan")
      Thread.sleep(500)
      val n = jobs.get()
      // 48 live evaluations (6 resolvable phrases × 8 grid points) × ≤2 jobs;
      // the unknown-term phrase runs zero (driver dictionary answers it)
      assert(n <= 96, s"serving phrase ran $n jobs for ${grid.size} evaluations — " +
        "the 2-jobs-per-query contract regressed")
    } finally spark.sparkContext.removeSparkListener(listener)
    // bound guard: forcing the bound to 0 must fall back, rows identical
    spark.conf.set("spark.graft.servingMatchMaxRows", "0")
    try assert(rows() == cold, "over-bound fallback must stay row-identical")
    finally spark.conf.unset("spark.graft.servingMatchMaxRows")
    s.unpin()
    assert(rows() == cold, "post-unpin results must match the cold plan")
  }

  test("serving mode: LRU miss-through path (vocab > localDictMax) parity") {
    val s = new Searcher(
      index(Seq("Ruby PHP JS", "Go Ruby", "Ruby Go PHP", "Go PHP"),
        Analyzer.standard()),
      Analyzer.standard())
    val coldResolve = s.resolve(Seq("ruby", "go", "nope", "php", "js"))
    s.serving(pinBlocks = false, pinDocs = false, localDictMax = 1)
    // first call misses everything, second serves from the LRU; both match
    assert(s.resolve(Seq("ruby", "go", "nope", "php", "js")) == coldResolve)
    assert(s.resolve(Seq("ruby", "go", "nope", "php", "js")) == coldResolve)
    // unknown-term negative entries cached without poisoning known terms
    assert(s.resolve(Seq("nope")).isEmpty)
    assert(s.resolve(Seq("js")).map(_.term) == Seq("js"))
    s.unpin()
  }
}
