package graft.query

import graft.SparkSpec
import graft.analysis.Analyzer
import graft.index.IndexBuilder
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

/** k = 0 on every WAND top-k entry point — single, batch and federated —
  * answers like the exhaustive plan it is rank-identical to: an empty
  * frame of the same columns, with no Spark job. Negative k is rejected
  * on the driver. */
class WandZeroKSpec extends SparkSpec {
  import spark.implicits._

  private val analyzer = Analyzer.standard()
  private val texts = Seq("spark join table", "broadcast join wins",
    "spark shuffle join", "table scan spark")

  private def index(ts: Seq[String], idBase: Long) =
    IndexBuilder.build(ts.zipWithIndex.map { case (t, i) => (i.toLong, idBase + i, t) }
      .toDF("doc_ord", "doc_id", "text"), analyzer)

  /** Spark jobs started while `body` runs. */
  private def jobs(body: => Any): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try { body; Thread.sleep(300); n.get() }
    finally spark.sparkContext.removeSparkListener(listener)
  }

  private def columns(df: DataFrame) = df.schema.fields.map(f => (f.name, f.dataType)).toSeq

  test("k = 0: each WAND entry point returns the exhaustive empty frame, running no job") {
    val s = new Searcher(index(texts, 0L), analyzer)
    val fed = Federation(Seq(index(texts.take(2), 0L), index(texts.drop(2), 100L)), analyzer)
    val qs = Seq("spark join", "table")
    val cases: Seq[(String, DataFrame, () => DataFrame)] = Seq(
      ("single", s.bm25TopK("spark join", 0), () => s.bm25TopKWand("spark join", 0)),
      ("batch", s.bm25TopKBatch(qs, 0), () => s.bm25TopKBatchWand(qs, 0)),
      ("federated", fed.bm25TopK("spark join", 0), () => fed.bm25TopKWand("spark join", 0)),
      ("federated batch", fed.bm25TopKBatch(qs, 0), () => fed.bm25TopKBatchWand(qs, 0)))
    for ((name, exhaustive, wand) <- cases) {
      var got: DataFrame = null
      val n = jobs { got = wand(); assert(got.collect().isEmpty, name) }
      assert(n == 0, s"$name: $n Spark jobs for k = 0")
      assert(exhaustive.collect().isEmpty, name)
      assert(columns(got) == columns(exhaustive), name)
    }
  }

  test("negative k is rejected on the driver by every WAND entry point") {
    val s = new Searcher(index(texts, 0L), analyzer)
    val fed = Federation(Seq(index(texts.take(2), 0L), index(texts.drop(2), 100L)), analyzer)
    intercept[IllegalArgumentException](s.bm25TopKWand("spark", -1))
    intercept[IllegalArgumentException](s.bm25TopKBatchWand(Seq("spark"), -1))
    intercept[IllegalArgumentException](fed.bm25TopKWand("spark", -1))
    intercept[IllegalArgumentException](fed.bm25TopKBatchWand(Seq("spark"), -1))
  }
}
