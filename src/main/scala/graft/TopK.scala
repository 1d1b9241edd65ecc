package graft

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Per-partition bounded top-k pre-selection for "rank window then keep
  * rank <= k" plans (guide §2.3 "shuffle fewer bytes", §2.4: the window's
  * own exchange is the one being starved here).
  *
  * A per-key top-k expressed as `row_number().over(partitionBy(key)
  * .orderBy(score desc, tie asc)) <= k` shuffles EVERY scored row to the
  * key's partition and sorts the key's whole matched set — at corpus scale
  * that is the dominant exchange of the plan, and each key's matched set
  * lands on ONE reducer (the skew shape of §2.5). But top-k is a selection:
  * a row outside its partition's per-key top-k can never be in the global
  * per-key top-k. So each upstream partition first reduces its rows to at
  * most `keys x k` survivors with a bounded heap, and only those cross the
  * exchange; the unchanged final window re-ranks the survivors and produces
  * bit-identical rows (same values, same (score desc, tie asc) total order
  * -- ties are broken by the unique `tie` column, and score comparison
  * mirrors Spark's sort semantics: -0.0 == 0.0, NaN greater than any other
  * value, nulls last under desc).
  *
  * Heap state per task is `distinct keys x k` rows — the callers' key sets
  * are driver-held query batches (hundreds), so the bound is a few thousand
  * rows regardless of corpus size. The row-at-a-time closure is justified
  * per guide §1.2: it replaces a corpus-scale exchange + per-key full sort
  * with one streaming pass of O(log k) comparisons per row.
  */
object TopK {

  /** `df` reduced to at most k rows per `keyCol` value PER PARTITION, by
    * (`scoreCol` desc, `tieCol` asc) — a superset of the global per-key
    * top-k, to be fed to the exact final rank window. `tieCol` must be
    * unique within a key (it is the rank tie-break). Schema unchanged.
    * The heap compares a double score and a long tie; other column types
    * are checked here on the driver and get `df` back unpruned (the final
    * window then ranks every row, as without the prune). */
  private[graft] def prunePerKey(df: DataFrame, keyCol: String,
      scoreCol: String, tieCol: String, k: Int): DataFrame = {
    if (k <= 0) return df.limit(0)
    val schema = df.schema
    if (schema(scoreCol).dataType != DoubleType || schema(tieCol).dataType != LongType)
      return df
    val ki = schema.fieldIndex(keyCol)
    val si = schema.fieldIndex(scoreCol)
    val ti = schema.fieldIndex(tieCol)
    df.mapPartitions { rows =>
      // heap head = the worst kept row (the cutoff); comparator orders
      // "worse" as least, matching (score desc_nulls_last, tie asc)
      final case class Kept(noScore: Boolean, score: Double, tie: Long, row: Row)
      val worstFirst = new java.util.Comparator[Kept] {
        def compare(a: Kept, b: Kept): Int = {
          if (a.noScore != b.noScore) return if (a.noScore) -1 else 1
          if (!a.noScore) {
            val c = java.lang.Double.compare(a.score, b.score)
            if (c != 0) return c
          }
          java.lang.Long.compare(b.tie, a.tie)
        }
      }
      val heaps = new java.util.HashMap[Any, java.util.PriorityQueue[Kept]]()
      rows.foreach { r =>
        val kept = Kept(r.isNullAt(si),
          // + 0.0 collapses -0.0 to 0.0, mirroring Spark's sort equality
          if (r.isNullAt(si)) 0.0 else r.getDouble(si) + 0.0,
          r.getLong(ti), r)
        val heap = heaps.computeIfAbsent(r.get(ki),
          // grows on demand: k may be Int.MaxValue ("no cut")
          _ => new java.util.PriorityQueue[Kept](math.min(k, 1024) + 1, worstFirst))
        if (heap.size < k) heap.offer(kept)
        else if (worstFirst.compare(kept, heap.peek) > 0) {
          heap.poll(); heap.offer(kept)
        }
      }
      val out = new scala.collection.mutable.ArrayBuffer[Row]()
      heaps.values.forEach(h => h.forEach(kv => out += kv.row))
      out.iterator
    }(Encoders.row(schema))
  }
}
