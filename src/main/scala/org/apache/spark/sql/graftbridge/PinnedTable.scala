package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, classic}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.columnar.{CachedBatch, SimpleMetricsCachedBatch}
import org.apache.spark.sql.execution.columnar.{CachedRDDBuilder, InMemoryRelation}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** A table persisted once and then read per query by a set of long keys
  * (the serving pins: blocks and postings by `term_id`, docs by
  * `doc_ord`).
  *
  * Spark skips a cached batch by its min/max stats only for a literal `In`
  * list, whose values are inlined into generated code, so each new key set
  * compiles fresh classes; the reference-held [[ColumnBridge.inSet]]
  * compiles nothing per query but decodes every cached batch. [[rowsIn]]
  * does both: it skips the batches whose stats for the key column hold
  * none of the keys, checked on the executors against the keys as data,
  * and filters the rows left with `inSet`. The frame it returns plans the
  * same in-memory scan as `df` does, so a new key set compiles nothing.
  */
final class PinnedTable private (val df: DataFrame, rel: InMemoryRelation) {

  /** The pinned rows whose long column `c` is one of `keys`: the same
    * cached scan as `df`'s, with Spark's column pruning and statistics,
    * over the batches that may hold a key. */
  def rowsIn(c: String, keys: Iterable[Long]): DataFrame = {
    val pin = rel.cacheBuilder
    val row = ColumnBridge.inSet(col(c), keys)
    // unpersisted under us: asking the builder for its batches would
    // rebuild the cache outside the cache manager
    if (!pin.isCachedColumnBuffersLoaded) return df.filter(row)
    val ordinal = rel.output.indexWhere(_.name == c)
    val sorted = keys.toArray.distinct.sorted
    val batches = pin.cachedColumnBuffers.mapPartitions(
      _.filter(PinnedTable.mayHold(_, ordinal, sorted)), preservesPartitioning = true)
    // fresh attributes, as the cache manager gives each read of `df`; no
    // declared ordering (the pin's may name the attributes of the plan it
    // was cached from), while the rows keep their cached order
    val narrowed = InMemoryRelation(rel.output.map(_.newInstance()),
      new PinnedTable.Narrowed(pin, batches), Nil, rel.statsOfPlanToCache)
    classic.Dataset.ofRows(df.sparkSession.asInstanceOf[classic.SparkSession], narrowed)
      .filter(row)
  }
}

object PinnedTable {
  /** Persist `df` at `level`, materialize it with one job, and hold its
    * cached representation. */
  def apply(df: DataFrame, level: StorageLevel): PinnedTable = {
    df.persist(level)
    df.count()
    val cached = df.sparkSession.asInstanceOf[classic.SparkSession]
      .sharedState.cacheManager.lookupCachedData(df.asInstanceOf[classic.Dataset[_]])
      .getOrElse(sys.error("persisted frame missing from the cache manager"))
    new PinnedTable(df, cached.cachedRepresentation)
  }

  /** `pin`'s cache, read as `batches`, a subset of its loaded batches;
    * the size and row statistics are the whole pin's, as on `df`. */
  private final class Narrowed(pin: CachedRDDBuilder, batches: RDD[CachedBatch])
      extends CachedRDDBuilder(pin.serializer, pin.storageLevel, pin.cachedPlan,
        pin.tableName, pin.logicalPlan) {
    sizeInBytesStats.add(pin.sizeInBytesStats.value)
    rowCountStats.add(pin.rowCountStats.value)
    override def cachedColumnBuffers: RDD[CachedBatch] = batches
    override def isCachedColumnBuffersLoaded: Boolean = true
  }

  /** Whether `batch` may hold one of the ascending `keys` in its long
    * column `ordinal`. The default serializer's stats row carries five
    * fields per column, lower bound first, then upper bound (a batch with
    * no values in the column has lower > upper and is skipped); a batch of
    * another serializer is kept. */
  private def mayHold(batch: CachedBatch, ordinal: Int, keys: Array[Long]): Boolean = batch match {
    case b: SimpleMetricsCachedBatch =>
      val lo = b.stats.getLong(5 * ordinal)
      val hi = b.stats.getLong(5 * ordinal + 1)
      val at = java.util.Arrays.binarySearch(keys, lo)
      val first = if (at >= 0) at else -at - 1 // first key >= lo
      first < keys.length && keys(first) <= hi
    case _ => true
  }
}
