package graft.query

import graft.{Compilations, SparkSpec}
import graft.analysis.Analyzer
import graft.index.BlockParams
import graft.storage.{ParquetIndexStorage, StorageParams}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.PinnedTable
import org.apache.spark.storage.StorageLevel.MEMORY_ONLY

/** A pinned table read by a key set skips the cached batches whose min/max
  * stats hold none of the keys, with the keys as data: the rows are those
  * of a plain filter, the batches read are only those that may hold a
  * key, and a new key set compiles nothing. */
class PinnedTableSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val batchConf = "spark.sql.inMemoryColumnarStorage.batchSize"

  /** `body` with cached batches of `rows` rows, for the pins it makes. */
  private def withBatchSize[A](rows: Int)(body: => A): A = {
    val before = spark.conf.getOption(batchConf)
    spark.conf.set(batchConf, rows.toString)
    try body
    finally before.fold(spark.conf.unset(batchConf))(spark.conf.set(batchConf, _))
  }

  test("rowsIn returns the key rows and reads only the batches that may hold them") {
    // ids 0..999 ascending in one partition: batches of 10 cover 0-9, 10-19, ...
    val df = spark.range(0, 1000, 1, 1).select(col("id"), (col("id") * 2).as("twice"))
    val pinned = withBatchSize(10)(PinnedTable(df, MEMORY_ONLY))
    try {
      def read(keys: Seq[Long]): (Set[(Long, Long)], Long) = {
        val got = pinned.rowsIn("id", keys)
        val rows = got.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val scanned = collect(got.queryExecution.executedPlan) {
          case s: InMemoryTableScanExec => s.metrics("numOutputRows").value
        }.sum
        (rows, scanned)
      }
      assert(read(Seq(5L, 500L, 501L, 5000L)) ==
        (Set((5L, 10L), (500L, 1000L), (501L, 1002L)), 20L))
      assert(read(Seq(-1L, 1000L)) == (Set.empty, 0L))
      assert(read(Seq(999L)) == (Set((999L, 1998L)), 10L))
      assert(Compilations.count(read(Seq(17L, 423L, 424L, 770L))) == 0)
    } finally pinned.df.unpersist()
  }

  test("a searcher whose pins span many cached batches answers like the cold one") {
    val analyzer = Analyzer.standard()
    val path = java.nio.file.Files.createTempDirectory("graft_pinned_").toString + "/idx"
    val docs = (0 until 96).map { i =>
      (i.toLong, 5000L + i, s"w${i % 13} w${i % 7} v${i % 5} w${(i + 1) % 13}")
    }.toDF("doc_ord", "doc_id", "text")
    ParquetIndexStorage.build(docs, analyzer, path, StorageParams(termBuckets = 4, writeGroups = 2,
      blockParams = BlockParams(blockSize = 4, bucketSpan = 32)), sourceDesc = "pinned batches")
    def searcher() = Searcher(ParquetIndexStorage.read(spark, path), analyzer)
    val queries = Seq("w0", "w3 w5", "w1 v2", "w12 w6 v4", "w2 w3 w4 w5 v0 v1")
    def answers(s: Searcher): Seq[Any] = queries.flatMap { q =>
      Seq(s.bm25TopKWand(q, 7).select("doc_id", "score").collect().toSeq,
        s.countMatches(q, Or), s.countMatches(q, And),
        s.matchQuery(q, Or).select("doc_id").collect().toSeq.sortBy(_.getLong(0)),
        s.matchQuery(q, And).select("doc_id").collect().toSeq.sortBy(_.getLong(0)),
        s.phraseQuery(q).select("doc_id").collect().toSeq.sortBy(_.getLong(0)))
    }
    val cold = answers(searcher())
    // batches of 4 rows: every pin (blocks, docs, postings) spans many
    val s = withBatchSize(4)(searcher().serving(pinPostings = true))
    try assert(answers(s) == cold)
    finally s.unpin()
  }
}
