package graft.query

import graft.index.{BlockParams, PostingBlockRow, PostingBlocks}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge.inSet

import scala.collection.mutable

/** Pruning-effectiveness counters (Spark accumulators, aggregated across
  * partitions): `blocksTotal` = blocks of the query terms that an exhaustive
  * scorer would decode; `blocksDecoded` = blocks WAND actually decoded.
  * skipRate = 1 - decoded/total is the demonstrated pruning win. */
final case class WandMetrics(
    blocksTotal: org.apache.spark.util.LongAccumulator,
    blocksDecoded: org.apache.spark.util.LongAccumulator
) {
  def skipRate: Double =
    if (blocksTotal.value == 0) 0.0
    else 1.0 - blocksDecoded.value.toDouble / blocksTotal.value.toDouble
}

object WandMetrics {
  def apply(spark: org.apache.spark.sql.SparkSession): WandMetrics =
    WandMetrics(
      spark.sparkContext.longAccumulator("wand.blocksTotal"),
      spark.sparkContext.longAccumulator("wand.blocksDecoded"))
}

/** Distributed block-max WAND top-k (SURVEY.md §4.3 item 2).
  *
  * Work is partitioned over doc-range buckets (each bucket holds all query
  * terms' blocks for its doc range, co-located at build time), and one
  * per-bucket harness serves every entry point: a bucket's rows grouped per
  * term (term_id order, blocks in doc order) feed either the WAND kernel —
  * one cursor per term, its own k-heap, at most k local candidates — or one
  * k-way sorted merge of the decoded doc lists (AND/OR match count and
  * ordinals). The drivers differ only in how rows reach a bucket and how
  * candidates merge: [[topK]] exchanges by bucket, then `orderBy(score
  * desc, doc_ord asc).limit(k)` over `k × nBuckets` rows; [[topKLocal]] and
  * the match kernels run shuffle-free over the bucket-pinned serving table
  * and merge on the driver; [[topKBatch]] ranks per query through one
  * window. Pruning uses per-term global upper bounds for pivot selection
  * and per-block maxima for skip decisions, both strict (`< threshold`) and
  * padded by 1 ulp-scale epsilon against float re-association, so ties
  * survive and the result is rank-identical to the exhaustive BM25 plan —
  * property-tested in BlockMaxWandSpec.
  */
object BlockMaxWand {

  /** Safety factor on upper bounds: bounds and scores are computed with
    * slightly different operation orders (bound: weight * max_q; score:
    * (weight * num) / den), so a bound can undershoot the true score by an
    * ulp. Inflating bounds keeps pruning lossless; it never affects scores. */
  private val UbPad = 1.0 + 1e-9

  private final case class Hit(doc: Long, score: Double)

  // dequeue() returns the WORST hit: lowest score, then largest doc —
  // mirror of the exhaustive plan's (score desc, doc_ord asc) ordering.
  private val worstFirst: Ordering[Hit] =
    Ordering.by[Hit, (Double, Long)](h => (-h.score, h.doc))

  /** Top-k over the block table: the per-bucket kernel after a
    * `groupByKey(bucket)` exchange, then the global sort-limit merge.
    *
    * @param weights term_id -> idf weight (must be positive)
    * @param params  the BlockParams the blocks were built with
    * @param avgdl   average doc length the blocks were built with
    */
  def topK(
      blocks: Dataset[PostingBlockRow],
      weights: Map[Long, Double],
      k: Int,
      params: BlockParams,
      avgdl: Double,
      metrics: Option[WandMetrics] = None
  ): DataFrame = {
    val spark = blocks.sparkSession
    import spark.implicits._
    require(k > 0, "k must be positive")
    if (weights.isEmpty) return Seq.empty[(Long, Double)].toDF("doc_ord", "score")
    val bw = spark.sparkContext.broadcast((weights, params, avgdl))
    blocks.filter(inSet(col("term_id"), weights.keys))
      .groupByKey(_.bucket)
      .flatMapGroups { (_, rows) =>
        val (w, p, adl) = bw.value
        bucketTopK(termBlocks(rows), w, k, p, adl, metrics)
      }
      .toDF("doc_ord", "score")
      .orderBy(desc("score"), asc("doc_ord"))
      .limit(k)
  }

  /** Serving-mode single-query top-k: the same per-bucket kernel as
    * [[topK]], run inside `mapPartitions` over a block table that is
    * hash-partitioned by `bucket` (the serving pin repartitions once at pin
    * time, so every bucket's rows sit wholly in one cached partition), with
    * the ≤ k-per-bucket candidates merged on the driver. Per query this is
    * ONE shuffle-free job over the cached blocks plus a k×buckets-row
    * collect — versus [[topK]]'s groupByKey exchange + global sort-limit,
    * whose multi-stage scheduling dominates interactive latency.
    * Rank-identical to [[topK]]: same kernel, same (score desc, doc_ord asc)
    * ordering.
    */
  def topKLocal(
      blocks: Dataset[PostingBlockRow],
      weights: Map[Long, Double],
      k: Int,
      params: BlockParams,
      avgdl: Double,
      metrics: Option[WandMetrics] = None
  ): Array[(Long, Double)] = {
    val spark = blocks.sparkSession
    import spark.implicits._
    require(k > 0, "k must be positive")
    if (weights.isEmpty) return Array.empty
    val bw = spark.sparkContext.broadcast((weights, params, avgdl))
    blocks.filter(inSet(col("term_id"), weights.keys))
      .mapPartitions { it =>
        val (w, p, adl) = bw.value
        buckets(it).flatMap(bucketTopK(_, w, k, p, adl, metrics))
      }
      .collect()
      .sortWith((a, b) => a._2 > b._2 || (a._2 == b._2 && a._1 < b._1)).take(k)
  }

  /** Serving-mode match COUNT over the bucket-pinned block table (the
    * `_count` / track_total_hits serving surface): per bucket, [[merge]]
    * counts the intersection (AND) or union (OR) of the terms' doc lists —
    * one shuffle-free job, per-bucket partial counts summed on the driver.
    * Count-identical to `matchQuery(...).count()` (spec-asserted): same
    * postings content, set semantics independent of evaluation order. */
  private[query] def matchCountLocal(
      blocks: Dataset[PostingBlockRow],
      termIds: Seq[Long],
      requireAll: Boolean
  ): Long = {
    val spark = blocks.sparkSession
    import spark.implicits._
    if (termIds.isEmpty) return 0L
    val ids = termIds.distinct
    val need = ids.size
    mergeLocal(blocks, ids)(_.map(countMerged(_, requireAll, need)).sum).sum
  }

  /** Serving-mode matched-ORDINAL enumeration over the bucket-pinned block
    * table — the full-materialization sibling of [[matchCountLocal]]: the
    * same per-bucket [[merge]], emitting the matching doc_ords instead of
    * counting them. One shuffle-free job; the driver concatenates
    * per-bucket results (buckets partition the ordinal space, so the global
    * set is the disjoint union). CALLER CONTRACT: only invoke when the
    * result size is provably bounded (AND: min term df; OR: Σ term df —
    * both known from the dictionary before any cluster work), so the
    * collect is broadcast-sized by construction. Set-identical to the
    * postings aggregation (same block content, same set semantics). */
  private[query] def matchOrdsLocal(
      blocks: Dataset[PostingBlockRow],
      termIds: Seq[Long],
      requireAll: Boolean
  ): Array[Long] = {
    val spark = blocks.sparkSession
    import spark.implicits._
    if (termIds.isEmpty) return Array.empty
    val ids = termIds.distinct
    val need = ids.size
    mergeLocal(blocks, ids)(_.flatMap(ordsMerged(_, requireAll, need)).toArray).flatten
  }

  /** BATCH top-k over the block table: evaluate a whole QUERY SET with one
    * plan — the realistic offline shape at 10^12 docs (per-query plans pay
    * fixed driver costs that do not shrink with cluster size; exhaustive
    * batch scoring decodes every posting of every query term).
    *
    * One pruned blocks scan for the UNION of all queries' terms, one
    * doc-bucket group pass; inside each bucket the bucket's per-term block
    * lists are grouped ONCE and every query runs [[topK]]'s per-bucket
    * kernel over fresh cursors on its own terms, so the block-max skip
    * logic — and its rank-identity-to-exhaustive guarantee — is exactly
    * [[topK]]'s, amortized across the set. The global merge ranks
    * `≤ k × buckets` rows per query through one window.
    *
    * @param queries q_id -> (term_id -> idf weight)
    * @return (q_id, rank, doc_ord, score), rank 1-based per query
    */
  def topKBatch(
      blocks: Dataset[PostingBlockRow],
      queries: Map[Int, Map[Long, Double]],
      k: Int,
      params: BlockParams,
      avgdl: Double,
      metrics: Option[WandMetrics] = None
  ): DataFrame = {
    val spark = blocks.sparkSession
    import spark.implicits._
    require(k > 0, "k must be positive")
    val live = queries.filter(_._2.nonEmpty)
    if (live.isEmpty)
      return Seq.empty[(Int, Long, Long, Double)].toDF("q_id", "rank", "doc_ord", "score")
    val bq = spark.sparkContext.broadcast((live, params, avgdl))

    val perBucket = blocks.filter(inSet(col("term_id"), live.values.flatMap(_.keys)))
      .groupByKey(_.bucket)
      .flatMapGroups { (_, rows) =>
        val (qs, p, adl) = bq.value
        val tb = termBlocks(rows)
        qs.iterator.flatMap { case (qid, weights) =>
          bucketTopK(tb, weights, k, p, adl, metrics).map { case (d, s) => (qid, d, s) }
        }
      }
      .toDF("q_id", "doc_ord", "score")

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(desc("score"), asc("doc_ord"))
    perBucket.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("long").as("rank"), col("doc_ord"), col("score"))
  }

  // ------------------------------------------------ the per-bucket harness

  /** One bucket's blocks, one entry per term in term_id order, each term's
    * blocks in min_doc order (blocks are doc-disjoint, so that is doc
    * order). */
  private type TermBlocks = Array[(Long, Vector[PostingBlockRow])]

  private def termBlocks(rows: Iterator[PostingBlockRow]): TermBlocks =
    rows.toVector.groupBy(_.term_id).toArray.sortBy(_._1)
      .map { case (tid, bs) => tid -> bs.sortBy(_.min_doc) }

  /** A partition's rows split per bucket — the shape of the bucket-pinned
    * serving table, where each bucket sits wholly in one partition. */
  private def buckets(rows: Iterator[PostingBlockRow]): Iterator[TermBlocks] =
    rows.toVector.groupBy(_.bucket).valuesIterator.map(bs => termBlocks(bs.iterator))

  /** The per-bucket top-k kernel: one cursor per weighted term, built in
    * term_id order so every entry point sums a doc's score in the same
    * order, then [[wand]]. */
  private def bucketTopK(tb: TermBlocks, weights: Map[Long, Double], k: Int,
      params: BlockParams, avgdl: Double,
      metrics: Option[WandMetrics]): Iterator[(Long, Double)] =
    wand(tb.collect { case (tid, bs) if weights.contains(tid) =>
      new Cursor(weights(tid), bs, params, avgdl, metrics)
    }, k)

  /** The shuffle-free match driver: per partition of the bucket-pinned
    * table, every bucket's terms decoded to doc-ascending ordinal lists
    * (each term's blocks concatenated), `perPartition` folds them, and the
    * driver collects one result per partition. */
  private def mergeLocal[A: Encoder](blocks: Dataset[PostingBlockRow], termIds: Seq[Long])(
      perPartition: Iterator[Array[Array[Long]]] => A): Array[A] =
    blocks.filter(inSet(col("term_id"), termIds))
      .mapPartitions { it =>
        Iterator.single(perPartition(buckets(it).map(_.map { case (_, bs) =>
          Array.concat(bs.map(PostingBlocks.decodeDocs): _*)
        })))
      }
      .collect()

  /** k-way sorted merge over doc-ascending ordinal lists (one per term
    * present in the bucket): calls `emit` on every doc present in all
    * `need` terms' lists (AND) or in any list (OR), in doc order. */
  private def merge(lists: Array[Array[Long]], requireAll: Boolean, need: Int)(
      emit: Long => Unit): Unit = {
    if (requireAll && lists.length < need) return
    val idx = new Array[Int](lists.length)
    var live = true
    while (live) {
      var minDoc = Long.MaxValue
      var present = 0
      var i = 0
      while (i < lists.length) {
        if (idx(i) < lists(i).length) {
          val d = lists(i)(idx(i))
          if (d < minDoc) { minDoc = d; present = 1 }
          else if (d == minDoc) present += 1
        }
        i += 1
      }
      if (minDoc == Long.MaxValue) live = false
      else {
        if (!requireAll || present == need) emit(minDoc)
        i = 0
        while (i < lists.length) {
          if (idx(i) < lists(i).length && lists(i)(idx(i)) == minDoc) idx(i) += 1
          i += 1
        }
      }
    }
  }

  /** Docs matched in one bucket, counted without materializing them. */
  private[query] def countMerged(lists: Array[Array[Long]], requireAll: Boolean,
      need: Int): Long = {
    var n = 0L
    merge(lists, requireAll, need)(_ => n += 1)
    n
  }

  /** Docs matched in one bucket, doc-ascending. */
  private[query] def ordsMerged(lists: Array[Array[Long]], requireAll: Boolean,
      need: Int): Array[Long] = {
    val out = new mutable.ArrayBuilder.ofLong
    merge(lists, requireAll, need)(out += _)
    out.result()
  }

  /** Lazy-decoding cursor over one term's doc-ascending block list. */
  private final class Cursor(
      val weight: Double,
      blocks: Vector[PostingBlockRow],
      params: BlockParams,
      avgdl: Double,
      metrics: Option[WandMetrics] = None
  ) {
    private var bi = 0
    private var pi = 0
    private var docs: Array[Long] = null
    private var tfs: Array[Long] = null
    private var dls: Array[Long] = null

    // blocks must be doc-ascending AND range-disjoint (binary search + skip
    // logic assume it); a violated build (e.g. buildFromDocPartitioned on
    // partitions that were not doc-disjoint) must fail loudly, not mis-rank
    for (i <- 1 until blocks.length)
      require(blocks(i).min_doc > blocks(i - 1).max_doc,
        s"overlapping posting blocks for term: [${blocks(i - 1).min_doc},${blocks(i - 1).max_doc}] " +
          s"then [${blocks(i).min_doc},${blocks(i).max_doc}] — block build contract violated")

    metrics.foreach(_.blocksTotal.add(blocks.length))

    /** Avgdl-robust block bound: quotient is increasing in tf, decreasing
      * in dl, so quotient(max_tf, min_dl) >= every posting's quotient. */
    private def blockUb(b: PostingBlockRow): Double =
      PostingBlocks.quotient(b.max_tf, b.min_dl, avgdl, params)

    val globalUb: Double =
      weight * blocks.iterator.map(blockUb).max * UbPad

    decodeIfNeeded()

    private def decodeIfNeeded(): Unit =
      if (docs == null && bi < blocks.length) {
        val blk = blocks(bi)
        docs = PostingBlocks.decodeDocs(blk)
        tfs = PostingBlocks.decodeTfs(blk)
        dls = PostingBlocks.decodeDls(blk)
        metrics.foreach(_.blocksDecoded.add(1))
      }

    def exhausted: Boolean = bi >= blocks.length
    def curDoc: Long = if (exhausted) Long.MaxValue else docs(pi)

    /** Same operation order as the exhaustive Column expression
      * `w * (tf*(k1+1)) / (tf + k1*((1-b) + (b*dl)/avgdl))` so scores agree
      * with the oracle plan to the last ulp per term. */
    def curScore: Double = {
      val tf = tfs(pi).toDouble
      val dl = dls(pi).toDouble
      (weight * (tf * (params.k1 + 1))) /
        (tf + params.k1 * ((1 - params.b) + (params.b * dl) / avgdl))
    }

    def next(): Unit = {
      pi += 1
      if (pi >= blocks(bi).n) { bi += 1; pi = 0; docs = null; decodeIfNeeded() }
    }

    /** Move to the first posting with doc >= d; skips whole blocks without
      * decoding them. */
    def advanceTo(d: Long): Unit = {
      if (exhausted || curDoc >= d) return
      while (bi < blocks.length && blocks(bi).max_doc < d) { bi += 1; pi = 0; docs = null }
      if (bi >= blocks.length) { docs = null; return }
      decodeIfNeeded()
      var lo = pi
      var hi = blocks(bi).n - 1
      if (docs(lo) >= d) return
      while (lo < hi) {
        val mid = (lo + hi + 1) >>> 1
        if (docs(mid) < d) lo = mid else hi = mid - 1
      }
      pi = lo + 1
      if (pi >= blocks(bi).n) { bi += 1; pi = 0; docs = null; decodeIfNeeded() }
    }

    /** Block-max bound for docs >= d (0 if none); no decode, no mutation. */
    def shallowUb(d: Long): Double = {
      var i = bi
      while (i < blocks.length && blocks(i).max_doc < d) i += 1
      if (i >= blocks.length) 0.0 else weight * blockUb(blocks(i)) * UbPad
    }

    /** max_doc of the block shallowUb(d) refers to (MaxValue if none). */
    def shallowMaxDoc(d: Long): Long = {
      var i = bi
      while (i < blocks.length && blocks(i).max_doc < d) i += 1
      if (i >= blocks.length) Long.MaxValue else blocks(i).max_doc
    }
  }

  private def wand(cursors0: Array[Cursor], k: Int): Iterator[(Long, Double)] = {
    val heap = mutable.PriorityQueue.empty[Hit](worstFirst)
    val all = cursors0.filterNot(_.exhausted)
    if (all.isEmpty) return Iterator.empty

    def threshold: Double = if (heap.size < k) Double.NegativeInfinity else heap.head.score
    def qualifies(s: Double, d: Long): Boolean =
      heap.size < k || {
        val w = heap.head
        s > w.score || (s == w.score && d < w.doc)
      }

    var done = false
    while (!done) {
      val live = all.filterNot(_.exhausted).sortBy(_.curDoc)
      if (live.isEmpty) done = true
      else {
        // pivot: minimal prefix whose global-ub sum could reach threshold
        var acc = 0.0
        var p = -1
        var i = 0
        while (p < 0 && i < live.length) {
          acc += live(i).globalUb
          if (acc >= threshold) p = i
          i += 1
        }
        if (p < 0) done = true // total bound below threshold: nothing left can qualify
        else {
          val pivotDoc = live(p).curDoc
          while (p + 1 < live.length && live(p + 1).curDoc == pivotDoc) p += 1

          if (live(0).curDoc == pivotDoc) {
            var bm = 0.0
            var j = 0
            while (j <= p) { bm += live(j).shallowUb(pivotDoc); j += 1 }
            if (bm >= threshold) {
              // fully score the pivot
              var s = 0.0
              var j2 = 0
              while (j2 <= p) {
                if (live(j2).curDoc == pivotDoc) { s += live(j2).curScore; live(j2).next() }
                j2 += 1
              }
              if (qualifies(s, pivotDoc)) {
                heap.enqueue(Hit(pivotDoc, s))
                if (heap.size > k) heap.dequeue()
              }
            } else {
              // block-max skip: past the current blocks, capped by the next
              // cursor's doc so no contribution is ever missed
              var d2 = Long.MaxValue
              var j3 = 0
              while (j3 <= p) {
                val m = live(j3).shallowMaxDoc(pivotDoc)
                if (m < d2) d2 = m
                j3 += 1
              }
              var target = if (d2 == Long.MaxValue) Long.MaxValue else d2 + 1
              if (p + 1 < live.length && live(p + 1).curDoc < target)
                target = live(p + 1).curDoc
              var j4 = 0
              while (j4 <= p) { live(j4).advanceTo(target); j4 += 1 }
            }
          } else {
            // move lagging cursors up to the pivot
            var j5 = 0
            while (j5 < live.length && live(j5).curDoc < pivotDoc) {
              live(j5).advanceTo(pivotDoc)
              j5 += 1
            }
          }
        }
      }
    }
    heap.dequeueAll.reverse.iterator.map((h: Hit) => (h.doc, h.score))
  }
}
