package graft.query

import graft.SparkSpec
import graft.analysis.Analyzer
import graft.index.{BlockParams, IndexBuilder}
import graft.storage.{ParquetIndexStorage, StorageParams}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, timestamp_seconds}

/** Federation == monolithic: every federated query over independently
  * built slices must be rank-identical (scores float-exact) to the same
  * query against ONE index over the union corpus — the global-statistics
  * contract (N, avgdl, df merged across slices). The corpus is built so
  * slice-local stats are WRONG answers: doc lengths differ across slices
  * (slice avgdl ≠ global avgdl) and some terms live in one slice only
  * (slice df ≠ global df), so any stats leak fails the float comparison.
  */
class FederationSpec extends SparkSpec {
  import spark.implicits._

  private val analyzer = Analyzer.standard()

  // Deterministic skewed corpus: 30 docs, lengths 1..8 tokens, the word
  // pool weighted so df varies; "zz" appears ONLY in slice-0 docs and
  // "qq" ONLY in slice-2 docs (doc_id % 3 slicing below).
  private val pool =
    Vector("go", "ruby", "php", "java", "spark", "join", "table", "scan")
  private lazy val corpus: Seq[(Long, Long, String)] =
    (0 until 30).map { i =>
      val len = 1 + (i * 7 + 3) % 8
      val words = (0 until len).map(j => pool((i * 5 + j * 11 + i * j) % pool.size))
      val extra =
        if (i % 3 == 0 && i % 2 == 0) Seq("zz")
        else if (i % 3 == 2 && i % 5 == 0) Seq("qq")
        else Nil
      (i.toLong, (i + 1).toLong, (words ++ extra).mkString(" "))
    }

  private def df(rows: Seq[(Long, Long, String)]): DataFrame =
    rows.toDF("doc_ord", "doc_id", "text")

  private lazy val mono =
    new Searcher(IndexBuilder.build(df(corpus), analyzer).cache(), analyzer)

  // Three slices split by doc_id % 3, each REBUILT standalone: fresh dense
  // slice-local ordinals, slice-local dictionary/df/avgdl.
  private def sliceRows(r: Int): Seq[(Long, Long, String)] =
    corpus.filter(_._2 % 3 == r).zipWithIndex
      .map { case ((_, id, text), ord) => (ord.toLong, id, text) }

  private lazy val fed = Federation(
    (0 until 3).map(r => IndexBuilder.build(df(sliceRows(r)), analyzer).cache()),
    analyzer)

  // Small corpus with a GROUP column whose groups span slices (doc_id % 3
  // slicing): used by the collapse and grouped-relevance federation tests.
  private lazy val grpRows = Seq(
    (0L, 0L, "g0", "spark spark spark"),     // slice 0: global best of g0
    (1L, 1L, "g0", "spark pad pad pad pad"), // slice 1: weaker g0 doc
    (2L, 2L, "g1", "spark pad"),             // slice 2
    (3L, 3L, "g1", "spark spark pad"),       // slice 0: g1's global best
    (4L, 4L, "g2", "pad pad"))               // never matches
  private def dfg(rs: Seq[(Long, Long, String, String)]): DataFrame = {
    import spark.implicits._
    rs.toDF("doc_ord", "doc_id", "grp", "text")
  }
  private lazy val monoG =
    new Searcher(IndexBuilder.build(dfg(grpRows), analyzer).cache(), analyzer)
  private lazy val fedG = Federation(
    (0 until 3).map { r =>
      val s = grpRows.filter(_._2 % 3 == r).zipWithIndex
        .map { case ((_, id, g, t), ord) => (ord.toLong, id, g, t) }
      IndexBuilder.build(dfg(s), analyzer).cache()
    }, analyzer)

  private def scoresOf(res: DataFrame): Map[Long, Double] =
    res.select("doc_id", "score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap

  private def rankedIds(res: DataFrame): Seq[Long] =
    res.select("doc_id").collect().map(_.getLong(0)).toSeq

  private def idSet(res: DataFrame): Set[Long] =
    res.select("doc_id").collect().map(_.getLong(0)).toSet

  test("global stats: federation N/avgdl == monolithic") {
    assert(fed.numDocs == mono.index.numDocs)
    assert(math.abs(fed.avgDocLen - mono.index.avgDocLen) < 1e-12)
  }

  test("bm25All: federated scores are float-exact vs monolithic, ranks identical") {
    for (q <- Seq("go ruby", "spark join table", "zz", "qq go", "scan")) {
      val m = scoresOf(mono.bm25All(q))
      val f = scoresOf(fed.bm25All(q))
      assert(f.keySet == m.keySet, s"matched set for '$q'")
      f.foreach { case (id, s) =>
        assert(math.abs(s - m(id)) < 1e-12, s"score of doc $id for '$q'")
      }
      assert(rankedIds(fed.bm25All(q)) == rankedIds(mono.bm25All(q)),
        s"rank order for '$q'") // mono tie-break doc_ord tracks doc_id here
    }
  }

  test("bm25TopK: scatter-gather k-cut == monolithic top-k") {
    for (q <- Seq("go ruby", "zz go", "spark join"); k <- Seq(1, 3, 7)) {
      val m = mono.bm25TopK(q, k)
      val f = fed.bm25TopK(q, k)
      assert(rankedIds(f) == rankedIds(m), s"'$q' k=$k")
      val (ms, fs) = (scoresOf(m), scoresOf(f))
      fs.foreach { case (id, s) => assert(math.abs(s - ms(id)) < 1e-12) }
    }
  }

  test("bm25TopKWand: per-slice pruning with global weights stays lossless") {
    val metrics = Some(WandMetrics(spark))
    for (q <- Seq("go ruby", "spark join table", "qq")) {
      val f = fed.bm25TopKWand(q, 5, metrics)
      val e = fed.bm25TopK(q, 5)
      assert(rankedIds(f) == rankedIds(e), s"'$q'")
      val (es, fs) = (scoresOf(e), scoresOf(f))
      fs.foreach { case (id, s) => assert(math.abs(s - es(id)) < 1e-9) }
    }
    assert(metrics.get.blocksTotal.value > 0) // WAND actually ran per slice
  }

  test("bm25TopKBatch: federated == monolithic (q_id, rank, doc, score)") {
    val queries = Seq("go ruby", "spark join", "zz", "", "nosuchterm", "qq scan")
    val k = 4
    val m = mono.bm25TopKBatch(queries, k).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2) + 1, r.getDouble(3))) // ord→id
      .sortBy(t => (t._1, t._2))
    val f = fed.bm25TopKBatch(queries, k).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    assert(f.length == m.length)
    f.zip(m).foreach { case ((fq, fr, fid, fs), (mq, mr, mid, ms)) =>
      assert(fq == mq && fr == mr && fid == mid, s"row ($fq,$fr)")
      assert(math.abs(fs - ms) < 1e-12)
    }
  }

  test("bm25TopKBatchWand: federated batch pruning rank-identical to batch") {
    val queries = Seq("go ruby", "spark join", "zz", "qq scan", "nosuch")
    val metrics = Some(WandMetrics(spark))
    def rows(df: DataFrame): Seq[(Int, Long, Long, Double)] =
      df.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._2))
    val exh = rows(fed.bm25TopKBatch(queries, 3))
    val wand = rows(fed.bm25TopKBatchWand(queries, 3, metrics))
    assert(wand.length == exh.length)
    wand.zip(exh).foreach { case ((wq, wr, wid, ws), (eq, er, eid, es)) =>
      assert(wq == eq && wr == er && wid == eid, s"row ($wq,$wr)")
      assert(math.abs(ws - es) < 1e-9)
    }
    assert(metrics.get.blocksTotal.value > 0)
  }

  test("matchQuery / countMatches: AND and OR sets == monolithic") {
    for ((q, logic) <- Seq(("go ruby", And), ("go ruby", Or), ("zz", And),
        ("zz qq", Or), ("zz qq", And), ("nosuch", Or), ("", And))) {
      assert(idSet(fed.matchQuery(q, logic)) ==
        idSet(mono.matchQuery(q, logic)), s"'$q' $logic")
      assert(fed.countMatches(q, logic) == mono.countMatches(q, logic))
    }
    // federated unranked output is ordered by the tie key
    val ids = rankedIds(fed.matchQuery("go", Or))
    assert(ids == ids.sorted)
  }

  test("phraseQuery: positional matching unions losslessly across slices") {
    for ((p, slop) <- Seq(("go ruby", 0), ("go ruby", 2), ("spark join", 0),
        ("ruby go", 1), ("nosuch phrase", 0))) {
      assert(idSet(fed.phraseQuery(p, slop = slop)) ==
        idSet(mono.phraseQuery(p, slop = slop)), s"'$p' slop=$slop")
    }
    // ranked phrase: TF-IDF with the merged global df — float-exact
    for (p <- Seq("go ruby", "spark join")) {
      val m = scoresOf(mono.phraseQuery(p, ranked = true))
      val f = scoresOf(fed.phraseQuery(p, ranked = true))
      assert(f.keySet == m.keySet, s"ranked phrase set '$p'")
      f.foreach { case (id, s) =>
        assert(math.abs(s - m(id)) < 1e-12, s"ranked phrase doc $id '$p'") }
    }
  }

  test("facetCounts: per-slice facet partials re-aggregate to monolithic counts") {
    // facet by text length parity via a derived docs column is not available;
    // use doc parity through a docs column: rebuild with a facet column
    val facetRows = corpus.map { case (ord, id, text) =>
      (ord, id, text, if (id % 2 == 0) "even" else "odd")
    }
    val monoF = new Searcher(IndexBuilder.build(
      facetRows.toDF("doc_ord", "doc_id", "text", "par"), analyzer).cache(), analyzer)
    val slices = (0 until 3).map { r =>
      val rows = facetRows.filter(_._2 % 3 == r).zipWithIndex
        .map { case ((_, id, text, par), ord) => (ord.toLong, id, text, par) }
      IndexBuilder.build(rows.toDF("doc_ord", "doc_id", "text", "par"), analyzer).cache()
    }
    val fedF = Federation(slices, analyzer)
    def counts(res: DataFrame): Map[String, Long] =
      res.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(counts(fedF.facetCounts("go ruby", Or, "par")) ==
      counts(monoF.facetCounts("go ruby", Or, "par")))
  }

  test("single-slice federation ≡ monolithic searcher") {
    val one = Federation(Seq(IndexBuilder.build(df(corpus), analyzer).cache()), analyzer)
    val q = "go ruby spark"
    assert(scoresOf(one.bm25All(q)) == scoresOf(mono.bm25All(q)))
    assert(idSet(one.matchQuery(q, And)) == idSet(mono.matchQuery(q, And)))
  }

  test("persisted slices federate through ofPersisted with WAND parity") {
    val dirs = (0 until 3).map { r =>
      val path = java.nio.file.Files.createTempDirectory("graft_fedslice_").toString + "/idx"
      ParquetIndexStorage.build(df(sliceRows(r)), analyzer, path,
        StorageParams(termBuckets = 4, writeGroups = 2,
          blockParams = BlockParams(blockSize = 8, bucketSpan = 16)),
        sourceDesc = s"fed spec slice $r")
      path
    }
    val pfed = Federation.ofPersisted(
      dirs.map(ParquetIndexStorage.read(spark, _)), analyzer)
    for (q <- Seq("go ruby", "zz qq go", "spark join table")) {
      val m = scoresOf(mono.bm25All(q))
      val f = scoresOf(pfed.bm25All(q))
      assert(f.keySet == m.keySet, s"'$q'")
      f.foreach { case (id, s) => assert(math.abs(s - m(id)) < 1e-12) }
      assert(rankedIds(pfed.bm25TopKWand(q, 5)) ==
        rankedIds(mono.bm25TopK(q, 5)), s"WAND '$q'")
    }
  }

  test("persisted keymapped slices with paths: keymap-pruned locate serves" +
      " mlt/termVectors/explain identically") {
    // keymap over doc_id == the federation tie key → lookupOrds path active
    val dirs = (0 until 3).map { r =>
      val path = java.nio.file.Files.createTempDirectory("graft_fedkm_").toString + "/idx"
      ParquetIndexStorage.build(df(sliceRows(r)), analyzer, path,
        StorageParams(termBuckets = 4, writeGroups = 2, keyCols = Seq("doc_id"),
          keyBuckets = 4, blockParams = BlockParams(blockSize = 8, bucketSpan = 16)),
        sourceDesc = "fed keymap spec")
      path
    }
    val pfed = Federation.ofPersisted(
      dirs.map(ParquetIndexStorage.read(spark, _)), analyzer, paths = dirs)
    for (o <- Seq(6L, 7L, 24L)) {
      assert(pfed.termVectors(Seq(o + 1)).collect().map(_.getString(0)).toSeq ==
        mono.termVectors(o).collect().map(_.getString(0)).toSeq,
        s"keymap termVectors ord $o")
      val m = scoresOf(mono.moreLikeThis(o, maxQueryTerms = 4, k = 20))
      val f = scoresOf(pfed.moreLikeThis(Seq(o + 1), maxQueryTerms = 4, k = 20))
      assert(f.keySet == m.keySet, s"keymap mlt set ord $o")
      f.foreach { case (id, s) => assert(math.abs(s - m(id)) < 1e-12) }
    }
    assert(pfed.termVectors(Seq(999L)).count() == 0) // unknown key → empty
    // a STRING key value still hashes into the right bucket (cast to the
    // docs schema type before the keymap probe — the CLI path)
    assert(pfed.termVectors(Seq("7")).collect().map(_.getString(0)).toSeq ==
      mono.termVectors(6L).collect().map(_.getString(0)).toSeq)
  }

  test("randomized corpora: federated == monolithic across the scoring" +
      " surface for seeded random slicings") {
    // three seeded random corpora × random slice counts: any slice-local
    // stats leak in ANY op shows up as a float mismatch somewhere in the
    // battery — the parity claim beyond handpicked fixtures
    val vocab = Vector("go", "ruby", "php", "java", "spark", "join", "table",
      "scan", "merge", "sort", "hash", "window", "batch", "stream", "row")
    for (seed <- Seq(1, 2, 3)) {
      val rnd = new scala.util.Random(seed)
      val n = 20 + rnd.nextInt(30)
      val rows = (0 until n).map { i =>
        val len = 1 + rnd.nextInt(10)
        (i.toLong, i.toLong,
          Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val nSlices = 2 + rnd.nextInt(3)
      val monoR = new Searcher(IndexBuilder.build(df(rows), analyzer).cache(),
        analyzer)
      val fedR = Federation(
        (0 until nSlices).map { r =>
          val s = rows.filter(_._2 % nSlices == r).zipWithIndex
            .map { case ((_, id, text), ord) => (ord.toLong, id, text) }
          IndexBuilder.build(df(s), analyzer).cache()
        }, analyzer)
      val queries = Seq.fill(4)(
        Seq.fill(1 + rnd.nextInt(3))(vocab(rnd.nextInt(vocab.size)))
          .mkString(" "))
      for (q <- queries) {
        val m = scoresOf(monoR.bm25All(q)); val f = scoresOf(fedR.bm25All(q))
        assert(f.keySet == m.keySet, s"seed $seed bm25 set '$q'")
        f.foreach { case (id, s) =>
          assert(math.abs(s - m(id)) < 1e-12, s"seed $seed bm25 doc $id '$q'") }
        val mt = scoresOf(monoR.matchQueryRanked(q, Or))
        val ft = scoresOf(fedR.matchQueryRanked(q, Or))
        assert(ft.keySet == mt.keySet, s"seed $seed tfidf set '$q'")
        ft.foreach { case (id, s) =>
          assert(math.abs(s - mt(id)) < 1e-12, s"seed $seed tfidf doc $id") }
        assert(idSet(fedR.matchQuery(q, And)) == idSet(monoR.matchQuery(q, And)),
          s"seed $seed AND '$q'")
        assert(rankedIds(fedR.bm25TopK(q, 5)) == rankedIds(monoR.bm25TopK(q, 5)),
          s"seed $seed topk '$q'")
      }
      // one dictionary-expansion + one aggregation op per corpus
      val p = vocab(rnd.nextInt(vocab.size)).take(1)
      assert(idSet(fedR.prefixQuery(p)) == idSet(monoR.prefixQuery(p)),
        s"seed $seed prefix '$p'")
      val st = monoR.facetStats(queries.head, Or, "doc_id").collect().head
      val sf = fedR.facetStats(queries.head, Or, "doc_id").collect().head
      assert(sf.getLong(0) == st.getLong(0), s"seed $seed stats n")
    }
  }

  test("stats-override compilation runs ONE dictionary job per slice, not two") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    // the withPreResolved fast path: resolveGlobal's concurrent pass (one
    // job per slice) is the ONLY dictionary work — per-slice query
    // compilation must trigger zero further jobs before the action
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    fed.numDocs // force lazy federation init outside the counted region
    spark.sparkContext.addSparkListener(listener)
    try {
      Thread.sleep(300); jobs.set(0)
      val df = fed.disMaxTopK(Seq("spark join", "go ruby"), 5) // no action
      var prev = -1; var stable = 0
      while (stable < 3) {
        Thread.sleep(150)
        val cur = jobs.get()
        if (cur == prev) stable += 1 else { stable = 0; prev = cur }
      }
      val duringBuild = jobs.get()
      assert(duringBuild <= 3, // == slice count: resolveGlobal only
        s"plan build launched $duringBuild jobs for 3 slices — per-slice " +
          "re-resolution is back")
      df.collect() // the plan still answers correctly
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("keymap locate INPUT BYTES: probe buckets only, docs table never read") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    import org.apache.spark.sql.functions.{hash => sqlHash, pmod, lit => sqlLit}
    import graft.fixtures.SyntheticTranscripts
    // a corpus big enough that the docs table dwarfs one keymap bucket:
    // the same single-doc read through both locate paths must return the
    // same rows while the keymap path reads a fraction of the bytes
    val turns = SyntheticTranscripts.df(spark, SyntheticTranscripts.Params(
      seed = 11L, nConvs = 3000, maxTurnsPerConv = 5, vocabSize = 60,
      minLen = 20, maxLen = 50, partitions = 4))
    val dirs = (0 until 2).map { r =>
      val path = java.nio.file.Files.createTempDirectory("graft_fedbytes_").toString + "/idx"
      val slice = turns.filter(pmod(sqlHash(col("conv_id")), sqlLit(2)) === r)
      ParquetIndexStorage.build(
        IndexBuilder.buildFromTurns(slice, analyzer).docs, analyzer, path,
        // small dGroupSpan: the shared single-doc postings read prunes to
        // one doc-range leaf, so the bytes delta isolates the LOCATE step
        StorageParams(termBuckets = 4, writeGroups = 2,
          keyCols = Seq("conv_id", "turn_idx"), keyBuckets = 64,
          dGroupSpan = 256,
          blockParams = BlockParams(blockSize = 32, bucketSpan = 256)),
        sourceDesc = s"fed bytes slice $r")
      path
    }
    val slices = dirs.map(ParquetIndexStorage.read(spark, _))
    val tie = Seq("conv_id", "turn_idx")
    val fedKm = Federation.ofPersisted(slices, analyzer, tie, paths = dirs)
    val fedScan = Federation.ofPersisted(slices, analyzer, tie)
    val key: Seq[Any] = {
      val r = slices.head.index.docs.select("conv_id", "turn_idx").head
      Seq(r.get(0), r.get(1))
    }
    val counter = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) counter.addAndGet(m.inputMetrics.bytesRead)
      }
    }
    def measure(body: => Unit): Long = {
      spark.sparkContext.addSparkListener(listener)
      try {
        Thread.sleep(300); counter.set(0)
        body
        var prev = -1L; var stable = 0
        while (stable < 3) {
          Thread.sleep(200)
          val cur = counter.get()
          if (cur == prev) stable += 1 else { stable = 0; prev = cur }
        }
        counter.get()
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    def rows(res: DataFrame) = res.collect().map(_.toSeq).toSeq
    assert(rows(fedKm.termVectors(key)) == rows(fedScan.termVectors(key)))
    val km = measure(fedKm.termVectors(key).collect())
    val scan = measure(fedScan.termVectors(key).collect())
    assert(km > 0 && km * 2 < scan,
      s"keymap locate read $km bytes vs docs-scan probe $scan — expected " +
        "the bucket-pruned path to read well under half")
  }

  test("mismatched persisted BM25 params are refused") {
    def writeSlice(r: Int, k1: Double): graft.storage.PersistedIndex = {
      val path = java.nio.file.Files.createTempDirectory("graft_fedbad_").toString + "/idx"
      ParquetIndexStorage.build(df(sliceRows(r)), analyzer, path,
        StorageParams(termBuckets = 2, writeGroups = 1,
          blockParams = BlockParams(blockSize = 8, bucketSpan = 16, k1 = k1)),
        sourceDesc = "fed spec bad")
      ParquetIndexStorage.read(spark, path)
    }
    val e = intercept[IllegalArgumentException] {
      Federation.ofPersisted(Seq(writeSlice(0, 1.2), writeSlice(1, 0.9)), analyzer)
    }
    assert(e.getMessage.contains("k1"))
  }

  test("querying persisted slices with a different analyzer is refused") {
    val path = java.nio.file.Files.createTempDirectory("graft_fedana_").toString + "/idx"
    ParquetIndexStorage.build(df(sliceRows(0)), analyzer, path,
      StorageParams(termBuckets = 2, writeGroups = 1,
        blockParams = BlockParams(blockSize = 8, bucketSpan = 16)),
      sourceDesc = "fed spec analyzer")
    val stemmed = Analyzer.standard(stem = true) // different vocabulary
    assume(stemmed.describe != analyzer.describe)
    val e = intercept[IllegalArgumentException] {
      Federation.ofPersisted(
        Seq(ParquetIndexStorage.read(spark, path)), stemmed)
    }
    assert(e.getMessage.contains("analyzer mismatch"))
  }

  test("unknown and empty keywords yield empty results with the docs schema") {
    assert(fed.bm25All("nosuchterm").collect().isEmpty)
    assert(fed.bm25TopK("", 5).collect().isEmpty)
    assert(fed.bm25TopKWand("nosuchterm", 5).collect().isEmpty)
    assert(fed.bm25TopKBatch(Seq("nosuchterm", ""), 5).collect().isEmpty)
    val cols = fed.bm25All("nosuchterm").columns.toSeq
    assert(cols.contains("doc_id") && cols.contains("score") && !cols.contains("doc_ord"))
  }

  test("fuzzyQuery: global-vocabulary expansion == monolithic, slice-exclusive" +
      " terms included (ranked scores float-exact)") {
    // fuzzy 'qq' maxEdits=2 expands to {go, qq, zz}: 'zz' lives ONLY in
    // slice 0 and 'qq' ONLY in slice 2 — a per-slice expansion would drop
    // them from the other slices' plans and a slice-local df would mis-rank
    assert(idSet(fed.fuzzyQuery("qq", maxEdits = 2)) ==
      idSet(mono.fuzzyQuery("qq", maxEdits = 2)))
    val m = scoresOf(mono.fuzzyQuery("qq", maxEdits = 2, ranked = true))
    val f = scoresOf(fed.fuzzyQuery("qq", maxEdits = 2, ranked = true))
    assert(f.keySet == m.keySet)
    f.foreach { case (id, s) => assert(math.abs(s - m(id)) < 1e-12, s"doc $id") }
    assert(fed.fuzzyQuery("", maxEdits = 1).collect().isEmpty)
  }

  test("prefix / wildcard / suggest: federated == monolithic") {
    for (p <- Seq("j", "s", "z", "nomatch")) {
      assert(idSet(fed.prefixQuery(p)) == idSet(mono.prefixQuery(p)), s"prefix '$p'")
    }
    for (w <- Seq("j*", "*a*", "??", "q?")) {
      assert(idSet(fed.wildcardQuery(w)) == idSet(mono.wildcardQuery(w)), s"wc '$w'")
    }
    def sug(res: DataFrame): Seq[(String, Long)] =
      res.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    for (p <- Seq("j", "s", "q", "")) {
      assert(sug(fed.suggest(p, 5)) == sug(mono.suggest(p, 5)), s"suggest '$p'")
    }
  }

  test("sortBy / collapse / highlight / snippet: federated == monolithic") {
    def ids(df: DataFrame) = df.select("doc_id").collect().map(_.getLong(0)).toSeq
    for (a <- Seq(true, false))
      assert(ids(fed.matchTopKSortBy("spark", Or, "doc_id", 5, a)) ==
        ids(mono.matchTopKSortBy("spark", Or, "doc_id", 5, a)), s"asc=$a")
    def hl(df: DataFrame) = df.select("doc_id", "hit_terms").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    for (lg <- Seq(Or, And))
      assert(hl(fed.highlightTerms("spark go", lg)) ==
        hl(mono.highlightTerms("spark go", lg)), s"$lg")
    def sn(df: DataFrame) = df.select("doc_id", "first_pos", "snippet").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(sn(fed.snippet("spark go", 2)) == sn(mono.snippet("spark go", 2)))
    // collapse on a group column that SPANS slices: the GLOBAL best doc per
    // group must represent it, scored with global stats — a slice-local
    // collapse would both mis-pick and mis-score
    def coll(df: DataFrame) = df.select("doc_id", "grp", "score").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    val mc = coll(monoG.bm25TopKCollapse("spark", "grp", 3))
    val fc = coll(fedG.bm25TopKCollapse("spark", "grp", 3))
    assert(fc.map(t => (t._1, t._2)) == mc.map(t => (t._1, t._2)), s"fed=$fc mono=$mc")
    fc.zip(mc).foreach { case (f, m) =>
      assert(math.abs(f._3 - m._3) < 1e-12, s"doc ${f._1}")
    }
    assert(fedG.bm25TopKCollapse("nosuchterm", "grp", 3).collect().isEmpty)
  }

  test("dis_max / boosting / function_score / LM / grouped: federated ==" +
      " monolithic through the stats-override hook") {
    def cmp(f: DataFrame, m: DataFrame, label: String): Unit = {
      val (fm, mm) = (scoresOf(f), scoresOf(m))
      assert(fm.keySet == mm.keySet, s"$label: fed=$fm mono=$mm")
      fm.foreach { case (id, s) =>
        assert(math.abs(s - mm(id)) < 1e-12, s"$label doc $id") }
    }
    cmp(fed.disMaxTopK(Seq("spark join", "go ruby"), 10, 0.3),
      mono.disMaxTopK(Seq("spark join", "go ruby"), 10, 0.3), "dismax")
    cmp(fed.disMaxTopK(Seq("zz", "qq"), 10, 0.0), // slice-exclusive clauses
      mono.disMaxTopK(Seq("zz", "qq"), 10, 0.0), "dismax-exclusive")
    cmp(fed.bm25TopKBoosting("spark", "ruby", 0.5, 10),
      mono.bm25TopKBoosting("spark", "ruby", 0.5, 10), "boosting")
    val factor = col("doc_id").cast("double") * 0.1 + 1.0
    cmp(fed.bm25TopKFunctionScore("spark", factor, 10),
      mono.bm25TopKFunctionScore("spark", factor, 10), "funcscore")
    cmp(fed.lmDirichletTopK("spark go", 10),
      mono.lmDirichletTopK("spark go", 10), "lm") // needs global cf AND C
    // grouped relevance: groups span slices — sum/avg partials must merge
    def gm(df: DataFrame) = df.collect()
      .map(r => (r.getString(0), (r.getDouble(1), r.getLong(2)))).toMap
    for (m <- Seq("max", "sum", "avg", "min")) {
      val fm = gm(fedG.bm25TopKGrouped("spark", "grp", 10, m))
      val mm = gm(monoG.bm25TopKGrouped("spark", "grp", 10, m))
      assert(fm.keySet == mm.keySet, s"mode $m")
      fm.foreach { case (g, (s, n)) =>
        assert(n == mm(g)._2, s"mode $m n_hits $g")
        assert(math.abs(s - mm(g)._1) < 1e-9, s"mode $m score $g")
      }
    }
    // max-mode merge is exact (max of slice maxima): full rank parity
    assert(fedG.bm25TopKGrouped("spark", "grp", 10, "max")
      .select("grp").collect().map(_.getString(0)).toSeq ==
      monoG.bm25TopKGrouped("spark", "grp", 10, "max")
        .select("grp").collect().map(_.getString(0)).toSeq)
    intercept[IllegalArgumentException](
      fed.bm25TopKGrouped("spark", "grp", 10, "nope"))
  }

  test("filtered + search_after: federated == monolithic; pages partition" +
      " the ranking at page-one cost per slice") {
    val flt = col("doc_id") % 2 === 0
    val mf = scoresOf(mono.bm25TopKFiltered("spark", flt, 10))
    val ff = scoresOf(fed.bm25TopKFiltered("spark", flt, 10))
    assert(ff.keySet == mf.keySet)
    ff.foreach { case (id, s) => assert(math.abs(s - mf(id)) < 1e-12, s"doc $id") }
    // page walk: federated (score, doc_id) cursor vs monolithic
    // (score, doc_ord) cursor — same order under the stable-key contract
    def fedWalk(q: String, k: Int): Seq[(Long, Double)] = {
      var out = Vector.empty[(Long, Double)]
      var page = fed.bm25TopKFirstPage(q, k).select("doc_id", "score")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      while (page.nonEmpty) {
        out ++= page
        val last = page.last
        page = fed.bm25TopKAfter(q, k, last._2, last._1)
          .select("doc_id", "score").collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      }
      out
    }
    def monoWalk(q: String, k: Int): Seq[(Long, Double)] = {
      var out = Vector.empty[(Long, Double)]
      var page = mono.bm25TopKFirstPage(q, k)
        .select("doc_ord", "doc_id", "score").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      while (page.nonEmpty) {
        out ++= page.map(t => (t._2, t._3))
        val last = page.last
        page = mono.bm25TopKAfter(q, k, last._3, last._1)
          .select("doc_ord", "doc_id", "score").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      }
      out
    }
    for (q <- Seq("go ruby", "spark join")) {
      val fw = fedWalk(q, 4)
      val mw = monoWalk(q, 4)
      assert(fw.map(_._1) == mw.map(_._1), s"'$q' fed=$fw mono=$mw")
      fw.zip(mw).foreach { case (a, b) => assert(math.abs(a._2 - b._2) < 1e-12) }
      assert(fw.map(_._1).distinct.size == fw.size, s"'$q' page overlap")
    }
  }

  test("facet family + msm: federated == monolithic (bucket/stats partials" +
      " merge; distinct and sketch aggregations span the union)") {
    for (m <- 1 to 3)
      assert(idSet(fed.matchQueryMsm("spark join go", m)) ==
        idSet(mono.matchQueryMsm("spark join go", m)), s"msm $m")
    // stats: count/min/max lossless; sum/avg to summation-order tolerance
    val ms = mono.facetStats("spark", Or, "doc_id").head
    val fs = fed.facetStats("spark", Or, "doc_id").head
    assert(fs.getLong(0) == ms.getLong(0))
    assert(fs.getDouble(1) == ms.getDouble(1) && fs.getDouble(2) == ms.getDouble(2))
    assert(math.abs(fs.getDouble(3) - ms.getDouble(3)) < 1e-9)
    assert(math.abs(fs.getDouble(4) - ms.getDouble(4)) < 1e-9)
    def hist(df: DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hist(fed.facetHistogram("spark", Or, "doc_id", 7L)) ==
      hist(mono.facetHistogram("spark", Or, "doc_id", 7L)))
    val ts = timestamp_seconds(col("doc_id") * 3000000L) // spans months
    def dhist(df: DataFrame): Map[java.sql.Timestamp, Long] =
      df.collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    assert(dhist(fed.facetDateHistogram("spark", Or, ts, "month")) ==
      dhist(mono.facetDateHistogram("spark", Or, ts, "month")))
    // cardinality: a text value matched in SEVERAL slices must count once
    assert(fed.facetCardinality("spark join", Or, "text").head.getLong(0) ==
      mono.facetCardinality("spark join", Or, "text").head.getLong(0))
    assert(fed.facetCardinalityApprox("spark join", Or, "text").head.getLong(0) ==
      mono.facetCardinalityApprox("spark join", Or, "text").head.getLong(0))
    // exact percentiles: identical interpolation over the same multiset
    val fr = Seq(0.0, 0.5, 0.9, 1.0)
    def pct(df: DataFrame): Seq[(Double, Any)] =
      df.collect().map(r => (r.getDouble(0), r.get(1))).toSeq
    assert(pct(fed.facetPercentiles("spark", Or, "doc_id", fr)) ==
      pct(mono.facetPercentiles("spark", Or, "doc_id", fr)))
    val fa = pct(fed.facetPercentilesApprox("spark", Or, "doc_id", fr))
      .map(_._2.asInstanceOf[Double])
    val ex = pct(mono.facetPercentiles("spark", Or, "doc_id", fr))
      .map(_._2.asInstanceOf[Double])
    // the sketch returns a nearby DATA VALUE, not an interpolation, and the
    // matched ids are sparse over ~30 — hold it to a fifth of that span
    fa.zip(ex).foreach { case (a, e) => assert(math.abs(a - e) <= 6.0, s"$a vs $e") }
    // empty matched set: stats row count 0, (fraction, null) percentiles
    assert(fed.facetStats("nosuchterm", Or, "doc_id").head.getLong(0) == 0L)
    assert(pct(fed.facetPercentiles("nosuchterm", Or, "doc_id", fr))
      .forall(_._2 == null))
  }

  test("boolean trees + query strings: federated == monolithic (unranked" +
      " union; ranked float-exact with global df; ranked fuzzy leaf refused)") {
    val trees = Seq(
      (BTerm("spark") && BTerm("join")) || (BTerm("go") && !BTerm("ruby")),
      !BTerm("zz"),                          // pure negation: complement branch
      BPhrase("spark join") && !BTerm("qq"), // phrase leaf + slice-exclusive NOT
      BTerm("zz") || BTerm("qq"))            // slice-exclusive leaves both ways
    for (t <- trees)
      assert(idSet(fed.boolQuery(t)) == idSet(mono.boolQuery(t)), s"tree $t")
    // ranked: boosted tree with a slice-exclusive positive leaf — per-slice
    // df would mis-weight 'zz'; the injected global df must make scores
    // float-exact to the monolithic compiler
    val rt = (BTerm("spark", boost = 2.0) && BTerm("join")) ||
      BTerm("zz") || (BTerm("go") && !BTerm("ruby"))
    val m = scoresOf(mono.boolQueryRanked(rt))
    val f = scoresOf(fed.boolQueryRanked(rt))
    assert(f.keySet == m.keySet)
    f.foreach { case (id, s) => assert(math.abs(s - m(id)) < 1e-12, s"doc $id") }
    // query string end-to-end through the federated parser dispatch
    assert(idSet(fed.queryString("spark AND join OR (go AND NOT ruby)")) ==
      idSet(mono.queryString("spark AND join OR (go AND NOT ruby)")))
    val fr = scoresOf(fed.queryString("spark^2 join -ruby", ranked = true))
    val mr = scoresOf(mono.queryString("spark^2 join -ruby", ranked = true))
    assert(fr.keySet == mr.keySet)
    fr.foreach { case (id, s) => assert(math.abs(s - mr(id)) < 1e-12, s"doc $id") }
    // unranked fuzzy leaves union per slice; ranked mode refuses them loudly
    assert(idSet(fed.boolQuery(BFuzzy("spork", 1) && BTerm("join"))) ==
      idSet(mono.boolQuery(BFuzzy("spork", 1) && BTerm("join"))))
    val e = intercept[IllegalArgumentException](
      fed.boolQueryRanked(BFuzzy("spork", 1)))
    assert(e.getMessage.contains("fuzzy"))
  }

  test("significantTerms: federated == monolithic (merged df_in/n_matched," +
      " lift float-exact from global df/N)") {
    def sig(res: DataFrame): Seq[(String, Long, Long, Double)] =
      res.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    // OR with a slice-exclusive term ('zz' lives only in slice 0) and an AND
    // whose matched set spans slices; minDocCount 1 keeps rare terms visible
    for ((q, lg) <- Seq(("spark zz", Or), ("spark join", And), ("go", Or))) {
      val m = sig(mono.significantTerms(q, lg, topN = 20, minDocCount = 1))
      val f = sig(fed.significantTerms(q, lg, topN = 20, minDocCount = 1))
      assert(f.map(t => (t._1, t._2, t._3)) == m.map(t => (t._1, t._2, t._3)),
        s"'$q': fed=$f mono=$m")
      f.zip(m).foreach { case (a, b) =>
        assert(java.lang.Double.compare(a._4, b._4) == 0, s"'$q' lift ${a._1}")
      }
    }
    // statically-empty query and AND with an unknown term: empty, same shape
    assert(fed.significantTerms("nosuchterm", Or).collect().isEmpty)
    assert(fed.significantTerms("spark nosuchterm", And).collect().isEmpty)
    assert(fed.significantTerms("nosuchterm", Or).columns.toSeq ==
      mono.significantTerms("nosuchterm", Or).columns.toSeq)
  }

  test("didYouMean: federated == monolithic (merged global df ranks the" +
      " corrections; slice-exclusive candidates included)") {
    def dym(res: DataFrame): Seq[(String, Long, Int)] =
      res.collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
    // 'qq' corrects to slice-exclusive 'zz' among others — a per-slice list
    // would miss it or rank it by a slice-local df
    for (t <- Seq("sprak", "scam", "qq", "")) {
      assert(dym(fed.didYouMean(t, maxEdits = 2, n = 5)) ==
        dym(mono.didYouMean(t, maxEdits = 2, n = 5)), s"dym '$t'")
    }
  }

  test("maxExpansions cap keeps the GLOBAL top-df expansion, not a slice-local one") {
    // 'aa': df 1 in EACH slice (global df 3). 'ab': df 2, both docs in
    // slice 0. Slice-0's local df order is ab(2) > aa(1); globally
    // aa(3) > ab(2). A per-slice cap at 1 would keep 'ab' — the global
    // merge must keep 'aa' exactly like the monolithic index.
    val rows = Seq(
      (0L, 0L, "aa pad0"), (1L, 1L, "aa pad1"), (2L, 2L, "aa pad2"),
      (3L, 3L, "ab pad3"), (4L, 6L, "ab pad4"))
    val monoC = new Searcher(
      IndexBuilder.build(rows.toDF("doc_ord", "doc_id", "text"), analyzer).cache(),
      analyzer)
    val slices = (0 until 3).map { r =>
      val s = rows.filter(_._2 % 3 == r).zipWithIndex
        .map { case ((_, id, text), ord) => (ord.toLong, id, text) }
      IndexBuilder.build(s.toDF("doc_ord", "doc_id", "text"), analyzer).cache()
    }
    val fedC = Federation(slices, analyzer)
    val m = idSet(monoC.prefixQuery("a", maxExpansions = 1))
    assert(m == Set(0L, 1L, 2L)) // the monolithic cap keeps 'aa'
    assert(idSet(fedC.prefixQuery("a", maxExpansions = 1)) == m)
  }

  test("moreLikeThis: federated (key-addressed) == monolithic (ordinal-" +
      "addressed); slice tf + merged global df select the same terms") {
    // docOrd o ↔ doc_id o+1 in this corpus; docs 6 and 24 carry the
    // slice-0-exclusive 'zz', where slice-local df would mis-weight
    for (o <- Seq(6L, 7L, 24L); q <- Seq(3, 5)) {
      val m = mono.moreLikeThis(o, maxQueryTerms = q, k = 30)
      val f = fed.moreLikeThis(Seq(o + 1), maxQueryTerms = q, k = 30)
      assert(rankedIds(f) == rankedIds(m), s"mlt of ord $o q=$q")
      val (ms, fs) = (scoresOf(m), scoresOf(f))
      fs.foreach { case (id, s) =>
        assert(math.abs(s - ms(id)) < 1e-12, s"mlt score doc $id ord $o")
      }
    }
    assert(fed.moreLikeThis(Seq(999L)).count() == 0) // unknown key
    intercept[IllegalArgumentException](fed.moreLikeThis(Seq(7L), k = -1))
  }

  test("matchPhrasePrefix: federated == monolithic (global-vocabulary " +
      "expansion, per-slice positional plans)") {
    for (p <- Seq("spark jo", "go r", "table s", "ruby p")) {
      assert(idSet(fed.matchPhrasePrefix(p)) == idSet(mono.matchPhrasePrefix(p)),
        s"phrase-prefix '$p'")
      val m = scoresOf(mono.matchPhrasePrefix(p, ranked = true))
      val f = scoresOf(fed.matchPhrasePrefix(p, ranked = true))
      assert(f.keySet == m.keySet, s"ranked phrase-prefix set '$p'")
      f.foreach { case (id, s) =>
        assert(math.abs(s - m(id)) < 1e-12, s"ranked phrase-prefix doc $id '$p'")
      }
      assert(idSet(fed.matchPhrasePrefix(p, slop = 2)) ==
        idSet(mono.matchPhrasePrefix(p, slop = 2)), s"sloppy '$p'")
    }
    assert(fed.matchPhrasePrefix("xx nosuch").count() == 0)
  }

  test("matchPhrasePrefix cap keeps the GLOBAL top-df expansion") {
    // same df trap as the prefixQuery cap test, one position later: 'aa'
    // df 1 per slice (global 3), 'ab' df 2 all in slice 0 — a slice-local
    // cap at 1 would expand to 'ab' there and match docs 3/6
    val rows = Seq(
      (0L, 0L, "x aa pad0"), (1L, 1L, "x aa pad1"), (2L, 2L, "x aa pad2"),
      (3L, 3L, "x ab pad3"), (4L, 6L, "x ab pad4"))
    val monoC = new Searcher(
      IndexBuilder.build(rows.toDF("doc_ord", "doc_id", "text"), analyzer).cache(),
      analyzer)
    val slices = (0 until 3).map { r =>
      val s = rows.filter(_._2 % 3 == r).zipWithIndex
        .map { case ((_, id, text), ord) => (ord.toLong, id, text) }
      IndexBuilder.build(s.toDF("doc_ord", "doc_id", "text"), analyzer).cache()
    }
    val fedC = Federation(slices, analyzer)
    val m = idSet(monoC.matchPhrasePrefix("x a", maxExpansions = 1))
    assert(m == Set(0L, 1L, 2L))
    assert(idSet(fedC.matchPhrasePrefix("x a", maxExpansions = 1)) == m)
  }

  test("bm25TopKRescore: federated == monolithic (global window boundary, " +
      "home-slice phrase rescore with merged df)") {
    // full window (no boundary) and a tight window that exercises the
    // quantized global cut across slices
    for ((w, k) <- Seq((1000, 1000), (6, 4), (3, 3))) {
      val m = mono.bm25TopKRescore("spark join", "join table", w, k,
        queryWeight = 1.0, rescoreWeight = 0.7)
      val f = fed.bm25TopKRescore("spark join", "join table", w, k,
        queryWeight = 1.0, rescoreWeight = 0.7)
      assert(rankedIds(f) == rankedIds(m), s"rescore w=$w k=$k")
      val (ms, fs) = (scoresOf(m), scoresOf(f))
      fs.foreach { case (id, s) =>
        assert(math.abs(s - ms(id)) < 1e-12, s"rescore score doc $id w=$w")
      }
    }
    // sloppy + ordered rescore phrases
    for ((slop, ord) <- Seq((2, false), (2, true))) {
      val m = mono.bm25TopKRescore("go ruby", "java scan", 1000, 1000,
        rescoreWeight = 0.5, slop = slop, inOrder = ord)
      val f = fed.bm25TopKRescore("go ruby", "java scan", 1000, 1000,
        rescoreWeight = 0.5, slop = slop, inOrder = ord)
      assert(rankedIds(f) == rankedIds(m), s"rescore slop=$slop inOrder=$ord")
    }
    // rescore phrase that matches nowhere (terms live in different slices):
    // every slice's phraseMatch is None/unmatched — scores stay base · qw
    val m0 = mono.bm25TopKRescore("spark join", "zz qq", 1000, 1000,
      queryWeight = 0.9, rescoreWeight = 0.7)
    val f0 = fed.bm25TopKRescore("spark join", "zz qq", 1000, 1000,
      queryWeight = 0.9, rescoreWeight = 0.7)
    assert(rankedIds(f0) == rankedIds(m0))
    val (m0s, f0s) = (scoresOf(m0), scoresOf(f0))
    f0s.foreach { case (id, s) => assert(math.abs(s - m0s(id)) < 1e-12) }
  }

  test("matchAll / ranked match / LM-all / regexp / termRange: federated ==" +
      " monolithic") {
    assert(rankedIds(fed.matchAll()) == rankedIds(mono.matchAll()))
    for (q <- Seq("go ruby", "spark join", "zz go"); lg <- Seq(And, Or)) {
      val m = scoresOf(mono.matchQueryRanked(q, lg))
      val f = scoresOf(fed.matchQueryRanked(q, lg))
      assert(f.keySet == m.keySet, s"ranked match set '$q' $lg")
      f.foreach { case (id, s) =>
        assert(math.abs(s - m(id)) < 1e-12, s"tfidf score doc $id '$q' $lg")
      }
      assert(rankedIds(fed.matchQueryRanked(q, lg)) ==
        rankedIds(mono.matchQueryRanked(q, lg)), s"rank order '$q' $lg")
    }
    for (q <- Seq("go ruby", "qq go")) {
      val m = scoresOf(mono.lmDirichletAll(q))
      val f = scoresOf(fed.lmDirichletAll(q))
      assert(f.keySet == m.keySet, s"lm set '$q'")
      f.foreach { case (id, s) =>
        assert(math.abs(s - m(id)) < 1e-12, s"lm score doc $id '$q'")
      }
    }
    assert(idSet(fed.regexpQuery("g.|ru.y")) == idSet(mono.regexpQuery("g.|ru.y")))
    assert(idSet(fed.termRangeQuery("p", "s")) == idSet(mono.termRangeQuery("p", "s")))
    // ranked expansion variants carry the merged global df in the weights
    val mR = scoresOf(mono.termRangeQuery("p", "s", ranked = true))
    val fR = scoresOf(fed.termRangeQuery("p", "s", ranked = true))
    assert(fR.keySet == mR.keySet)
    fR.foreach { case (id, s) => assert(math.abs(s - mR(id)) < 1e-12) }
  }

  test("termVectors / explainScore: key-addressed == ordinal-addressed" +
      " monolithic (explain idf from the merged global df)") {
    def tv(res: DataFrame): Seq[(String, Long, String)] =
      res.collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    for (o <- Seq(6L, 7L, 24L)) { // 6/24 carry slice-0-exclusive 'zz'
      assert(tv(fed.termVectors(Seq(o + 1))) == tv(mono.termVectors(o)),
        s"termVectors of ord $o")
    }
    def ex(res: DataFrame): Seq[(String, Long, Long, Double, Double, Double)] =
      res.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSeq
    for (o <- Seq(6L, 7L)) {
      val m = ex(mono.explainScore("go ruby zz", o))
      val f = ex(fed.explainScore("go ruby zz", Seq(o + 1)))
      assert(f.map(t => (t._1, t._2, t._3)) == m.map(t => (t._1, t._2, t._3)),
        s"explain term/tf/df rows ord $o") // df here is the MERGED global df
      f.zip(m).foreach { case (a, b) =>
        assert(math.abs(a._4 - b._4) < 1e-12 && math.abs(a._5 - b._5) < 1e-12 &&
          math.abs(a._6 - b._6) < 1e-12, s"explain floats ord $o")
      }
    }
    assert(fed.termVectors(Seq(999L)).count() == 0)
    assert(fed.explainScore("go", Seq(999L)).count() == 0)
  }
}
