package graft.query

import graft.{Compilations, SparkSpec}
import graft.analysis.Analyzer
import graft.index.{BlockParams, IndexBuilder}
import graft.storage.{ParquetIndexStorage, StorageParams}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec

/** A query's term and ordinal sets are data, not code: after one warm-up
  * query, a same-shape query over disjoint terms compiles no new classes,
  * cold (parquet) and serving (pinned), while the cold scans keep their
  * parquet `term_id` pushdown and `t_bucket` partition pruning. */
class CodegenStabilitySpec extends SparkSpec {
  import spark.implicits._

  private val analyzer = Analyzer.standard()

  // 128 docs over 8 doc buckets (bucketSpan 16) and 4 term buckets. Term
  // family n (p_n, q_n, r_n) has the same dfs and positions for every n;
  // families n < 16 hit doc buckets {0, 2, 4, 6}, families n + 16 hit
  // {1, 3, 5, 7}. A query over family n and one over n + 16 then differ
  // only in their term, ordinal and bucket sets.
  private lazy val path: String = {
    val p = java.nio.file.Files.createTempDirectory("graft_codegen_").toString + "/idx"
    val docs = (0 until 128).map { i =>
      (i.toLong, 1000L + i, (i / 4).toLong,
        s"b${i / 16} p${i % 32} q${i % 32} r${(i + 1) % 32} s${i % 5}")
    }.toDF("doc_ord", "doc_id", "conv_id", "text")
    ParquetIndexStorage.build(docs, analyzer, p, StorageParams(termBuckets = 4,
      writeGroups = 2, blockParams = BlockParams(blockSize = 4, bucketSpan = 16)),
      sourceDesc = "codegen stability")
    p
  }
  private def searcher(): Searcher = Searcher(ParquetIndexStorage.read(spark, path), analyzer)

  // each surface takes fresh families: compiled classes are JVM-wide, so
  // a surface must not reuse another's term set
  private val families = Iterator.range(0, 16)

  /** Compilations of `run(n + 16)` after `run(n)` warmed the shape. */
  private def secondQuery(run: Int => Any): Long = {
    val n = families.next()
    run(n)
    Compilations.count(run(n + 16))
  }

  // Leaves sharing a term (p, q) give the slot table a repeated term_id,
  // so its broadcast hash join takes the non-unique-key code path: a bool
  // query whose leaves share a term and one whose leaves do not are two
  // shapes, each compiled once. This tree shares terms for every n.
  private def boolTree(n: Int): BoolQuery =
    BTerm(s"p$n") && (BTerm(s"q$n r$n", Or) || BPhrase(s"p$n q$n"))

  test("cold surfaces: a same-shape query over new terms compiles nothing") {
    val s = searcher()
    val surfaces: Seq[(String, Int => Any)] = Seq(
      "bm25TopK" -> (n => s.bm25TopK(s"p$n r$n", 5).collect()),
      "bm25TopKWand" -> (n => s.bm25TopKWand(s"p$n r$n", 5).collect()),
      "matchQuery And" -> (n => s.matchQuery(s"p$n q$n", And).collect()),
      "matchQuery Or" -> (n => s.matchQuery(s"p$n r$n", Or).collect()),
      "phraseQuery" -> (n => s.phraseQuery(s"p$n q$n").collect()),
      "boolQuery" -> (n => s.boolQuery(boolTree(n)).collect()),
      "bm25TopKCollapse" -> (n => s.bm25TopKCollapse(s"p$n r$n", "conv_id", 5).collect()),
      "countMatches" -> (n => s.countMatches(s"p$n q$n", And)))
    val compiles = surfaces.map { case (name, run) => name -> secondQuery(run) }
    assert(compiles.forall(_._2 == 0), s"new compilations per surface: $compiles")
  }

  for (pinPostings <- Seq(false, true))
    test(s"serving surfaces (pinPostings = $pinPostings) compile nothing per query") {
      val s = searcher().serving(pinPostings = pinPostings)
      try {
        val surfaces: Seq[(String, Int => Any)] = Seq(
          "bm25TopKWand" -> (n => s.bm25TopKWand(s"p$n r$n", 5).collect()),
          "countMatches" -> (n => s.countMatches(s"p$n r$n", Or)),
          "matchQuery" -> (n => s.matchQuery(s"p$n q$n", And).limit(20).collect()),
          "phraseQuery" -> (n => s.phraseQuery(s"p$n q$n").collect()))
        val compiles = surfaces.map { case (name, run) => name -> secondQuery(run) }
        assert(compiles.forall(_._2 == 0), s"new compilations per surface: $compiles")
      } finally s.unpin()
    }

  test("serving results equal cold ones for term sets of 1 to 6 terms") {
    // 1..6 terms give the set classes Set1..Set4 and HashSet, and the
    // weight maps' key sets; each reaches the pinned plans as one InSet
    val queries = (1 to 6).flatMap { m =>
      Seq((0 until m).map(j => s"p${(3 * j + m) % 32}").mkString(" "),
        (0 until m).map(j => if (j % 2 == 0) s"p${m + j}" else s"q${m + j - 1}").mkString(" "))
    }
    def answers(s: Searcher): Seq[Any] = queries.flatMap { q =>
      Seq(s.bm25TopKWand(q, 5).select("doc_id", "score").collect().toSeq,
        s.countMatches(q, Or), s.countMatches(q, And),
        s.matchQuery(q, Or).select("doc_id").collect().toSeq,
        s.matchQuery(q, And).select("doc_id").collect().toSeq)
    }
    val cold = answers(searcher())
    val s = searcher().serving(pinPostings = true)
    try assert(answers(s) == cold)
    finally s.unpin()
  }

  test("dictionary-miss resolution finds known terms through the term set") {
    val terms = Seq("p3", "nope", "q7", "b2", "s4", "p3")
    val cold = searcher().resolve(terms)
    assert(cold.map(_.term) == Seq("p3", "q7", "b2", "s4", "p3"))
    val s = searcher().serving(pinBlocks = false, pinDocs = false, localDictMax = 4)
    try {
      assert(s.resolve(terms) == cold) // every term misses the LRU
      assert(s.resolve(terms) == cold) // every term hits it
      // a miss over new terms compiles nothing once its t_bucket set was
      // seen: the term list is data. The bucket list still compiles once
      // per new bucket set — term_dict is not partitioned by t_bucket, so
      // that int list reaches generated code
      val fresh = (16 until 32).map(n => s"q$n")
        .groupBy(t => ((IndexBuilder.termHash(t) % 4) + 4) % 4).values.find(_.size >= 2).get
      s.resolve(Seq(fresh(0)))
      assert(Compilations.count(
        assert(s.resolve(Seq(fresh(1))).map(_.term) == Seq(fresh(1)))) == 0)
      assert(s.bm25TopKWand("p3 q7", 5).select("doc_id").collect().toSeq ==
        searcher().bm25TopKWand("p3 q7", 5).select("doc_id").collect().toSeq)
    } finally s.unpin()
  }

  /** Every scan of `table` in the plan: (term_id pushed to parquet,
    * t_bucket among the partition filters). */
  private def scans(df: DataFrame, table: String): Seq[(Boolean, Boolean)] =
    df.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.getName == table) =>
        (f.metadata.get("PushedFilters").exists(_.contains("In(term_id,")),
          f.partitionFilters.exists(_.references.exists(_.name == "t_bucket")))
    }

  test("cold postings and blocks scans keep term_id pushdown and t_bucket pruning") {
    val s = searcher()
    assert(scans(s.bm25TopK("p0 r0", 5), "postings") == Seq((true, true)))
    assert(scans(s.matchQuery("p0 q0", And), "postings") == Seq((true, true)))
    assert(scans(s.bm25TopKWand("p0 r0", 5), "blocks") == Seq((true, true)))
  }
}
