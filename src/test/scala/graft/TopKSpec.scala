package graft

import graft.analysis.Analyzer
import graft.index.IndexBuilder
import graft.ops.Similarity
import graft.query.Searcher
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [[TopK.prunePerKey]] is a pre-selection feeding an exact rank window —
  * its whole contract is that (prune then window) emits bit-identical rows
  * to (window alone). The fixtures stress the edge cases the scaladoc's
  * order proof depends on: score ties broken by the tie column, -0.0 vs
  * 0.0 equality, null scores ranking last, keys with fewer than k rows,
  * and rows for one key spread across many input partitions. Inputs the
  * heap cannot hold — a non-long id column, `k = Int.MaxValue` — still rank
  * exactly through the public top-k APIs. */
class TopKSpec extends SparkSpec {
  import spark.implicits._

  private def ranked(df: org.apache.spark.sql.DataFrame, k: Int) = {
    val w = Window.partitionBy(col("q")).orderBy(desc("score"), asc("id"))
    df.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy("q", "rank")
      .collect().toSeq
  }

  private lazy val base = Seq(
    // key 1: plain distinct scores, more rows than k
    (1, 10L, 5.0), (1, 11L, 7.0), (1, 12L, 3.0), (1, 13L, 9.0), (1, 14L, 1.0),
    // key 2: a tie contested exactly at the k boundary (tie col decides)
    (2, 20L, 4.0), (2, 21L, 4.0), (2, 22L, 4.0), (2, 23L, 8.0),
    // key 3: fewer rows than k
    (3, 30L, 2.0),
    // key 4: -0.0 vs 0.0 must compare equal (tie col decides)
    (4, 41L, 0.0), (4, 40L, -0.0), (4, 42L, -1.0)
  ).toDF("q", "id", "score")
    // spread every key across partitions so per-partition heaps genuinely merge
    .repartition(6, col("id"))

  test("prune-then-window equals window alone (ties, -0.0, short keys)") {
    for (k <- Seq(1, 2, 3, 10)) {
      val exact = ranked(base, k)
      val pruned = ranked(TopK.prunePerKey(base, "q", "score", "id", k), k)
      assert(pruned == exact, s"k=$k")
    }
  }

  test("null scores rank last, like the window's desc_nulls_last") {
    val withNulls = base.unionByName(
      Seq((2, 24L), (3, 31L), (3, 32L)).toDF("q", "id")
        .withColumn("score", lit(null).cast("double")))
      .repartition(5, col("id"))
    for (k <- Seq(1, 2, 4)) {
      val exact = ranked(withNulls, k)
      val pruned = ranked(TopK.prunePerKey(withNulls, "q", "score", "id", k), k)
      assert(pruned == exact, s"k=$k")
    }
  }

  test("prune keeps at most k rows per key per partition") {
    val kept = TopK.prunePerKey(base, "q", "score", "id", 2)
    val perKey = kept.groupBy("q").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    // 6 input partitions but each key's rows were hashed to arbitrary ones;
    // the hard bound is min(rows, partitions_holding_key x k) and the
    // global result after the window is exact (asserted above) — here just
    // pin that the prune dropped SOMETHING for the oversubscribed keys
    assert(perKey(1) <= 4 * 2 && perKey(1) >= 2)
    assert(kept.count() <= base.count())
  }

  private lazy val emb = {
    val rnd = new scala.util.Random(7)
    (0 until 24).map(i => (i.toLong, Seq.fill(6)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
  }

  test("bruteForceTopK with a string or int vec_id == the plain rank window") {
    for (idType <- Seq("string", "int")) {
      val corpus = emb.withColumn("vec_id", col("vec_id").cast(idType))
      val queries = corpus.filter(col("vec_id").cast("long") < 3L)
      val w = Window.partitionBy(col("q_id")).orderBy(desc("cosine"), asc("id"))
      val want = corpus.select(col("vec_id").as("id"), col("embedding").as("v"))
        .join(queries.select(col("vec_id").as("q_id"), col("embedding").as("q_v")),
          col("id") =!= col("q_id"))
        .select(col("q_id"), col("id"),
          round(Similarity.cosine(col("v"), col("q_v")), 6).as("cosine"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("q_id"), col("rank").cast("long").as("rank"), col("id"), col("cosine"))
        .collect().toSet
      val got = Similarity.bruteForceTopK(corpus, queries, 5).collect().toSet
      assert(want.size == 15, s"$idType: $want")
      assert(got == want, s"$idType vec_id")
    }
  }

  test("bm25TopKBatch(k = Int.MaxValue) == the uncut ranking") {
    val docs = Seq("a b c", "a b", "b c d", "a", "c d e a", "e", "b b a")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_ord", "text")
    val s = new Searcher(IndexBuilder.build(docs, Analyzer.standard()).cache(),
      Analyzer.standard())
    val kws = Seq("a b", "c e", "zzz")
    val got = s.bm25TopKBatch(kws, Int.MaxValue).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    kws.zipWithIndex.foreach { case (kw, qi) =>
      val ranked = got.filter(_._1 == qi).sortBy(_._2).toSeq
      val want = s.bm25All(kw).select("doc_ord", "score").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(ranked.map(_._2) == (1L to want.size.toLong), s"'$kw' ranks $ranked")
      assert(ranked.map(_._3) == want.map(_._1), s"'$kw': $ranked vs $want")
      ranked.zip(want).foreach { case (g, w) => assert(math.abs(g._4 - w._2) < 1e-9) }
    }
  }
}
