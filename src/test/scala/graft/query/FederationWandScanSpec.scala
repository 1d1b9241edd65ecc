package graft.query

import graft.SparkSpec
import graft.analysis.Analyzer
import graft.index.{BlockParams, IndexBuilder}
import graft.storage.{ParquetIndexStorage, StorageParams}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec

/** A cold federated WAND query reads only the query terms' `t_bucket`
  * leaves of every slice's block store — the same pruned read the
  * monolithic persisted searcher plans — not the whole store. */
class FederationWandScanSpec extends SparkSpec {
  import spark.implicits._

  private val analyzer = Analyzer.standard()
  private val params = StorageParams(termBuckets = 4, writeGroups = 2,
    blockParams = BlockParams(blockSize = 8, bucketSpan = 16))

  private def persisted(texts: Seq[String], idBase: Long): String = {
    val path = java.nio.file.Files.createTempDirectory("graft_fedwand_").toString + "/idx"
    val docs = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, idBase + i, t) }.toDF("doc_ord", "doc_id", "text")
    ParquetIndexStorage.build(docs, analyzer, path, params, sourceDesc = "fed wand scan")
    path
  }

  /** Every blocks-table scan of the plan, with whether it prunes on t_bucket. */
  private def blockScans(df: DataFrame): Seq[Boolean] =
    df.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.getName == "blocks") =>
        f.partitionFilters.exists(_.references.exists(_.name == "t_bucket"))
    }

  test("each slice's WAND block scan carries the t_bucket partition filter") {
    val texts = Seq("spark join table", "broadcast join wins", "shuffle partitions",
      "spark shuffle join", "sort merge join", "table scan spark", "go ruby php")
    val (a, b) = texts.splitAt(4)
    val slices = Seq(persisted(a, 0L), persisted(b, 100L))
    val fed = Federation.ofPersisted(slices.map(ParquetIndexStorage.read(spark, _)), analyzer)
    val mono = Searcher(ParquetIndexStorage.read(spark, persisted(texts, 0L)), analyzer)
    assert(blockScans(mono.bm25TopKWand("spark join", 3)) == Seq(true))
    assert(blockScans(fed.bm25TopKWand("spark join", 3)) == Seq(true, true))
    assert(blockScans(fed.bm25TopKBatchWand(Seq("spark join", "table"), 3)) ==
      Seq(true, true))
    // and the pruned read ranks exactly like the in-memory slices
    val mem = Federation(Seq(a, b).zip(Seq(0L, 100L)).map { case (ts, base) =>
      IndexBuilder.build(ts.zipWithIndex.map { case (t, i) => (i.toLong, base + i, t) }
        .toDF("doc_ord", "doc_id", "text"), analyzer)
    }, analyzer)
    def ranked(df: DataFrame) =
      df.select("doc_id", "score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val got = ranked(fed.bm25TopKWand("spark join", 5))
    val want = ranked(mem.bm25TopK("spark join", 5))
    assert(got.map(_._1) == want.map(_._1), s"$got vs $want")
    got.zip(want).foreach { case (g, w) => assert(math.abs(g._2 - w._2) < 1e-9) }
  }
}
