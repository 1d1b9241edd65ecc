package graft.query

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions.{lit, typedLit, udf}

/** The one phrase predicate behind [[Searcher.phraseQuery]] (distributed
  * and serving), [[Searcher.matchPhrasePrefix]], [[BPhrase]] leaves and
  * [[Percolator.matchesBool]]. A phrase is decided over its slots' SHIFTED
  * position sets: slot i's text positions minus its query ordinal i
  * (`searcher.go:277-314`). The plans apply it as a UDF because Spark's
  * higher-order array functions are `CodegenFallback` (interpreted per
  * row): Column folds would be no faster and restate the rule. */
private[query] object Phrase {

  def requireSlop(slop: Int): Unit =
    require(slop >= 0 && slop <= Searcher.MaxSlop,
      s"slop must be in [0, ${Searcher.MaxSlop}], got $slop")

  /** Is there one pick per slot of `rels` (shifted sets, slots in q_pos
    * order) spanning max − min ≤ `slop`? slop 0 is the exact phrase.
    * Unordered, repeated-term slots may pick the SAME occurrence;
    * `inOrder` also requires non-decreasing picks in slot order (strictly
    * increasing text positions), found greedily: the smallest feasible
    * pick never hurts a later slot. No slots or an empty slot: false. */
  def hit(rels: Array[Array[Int]], slop: Int, inOrder: Boolean): Boolean = {
    requireSlop(slop)
    if (rels.isEmpty || rels.exists(_.isEmpty)) return false
    val sorted = rels.map(_.sorted)
    // a = the window's minimum: slot 0's pick in order, any pick otherwise
    val anchors = if (inOrder) sorted(0).iterator else sorted.iterator.flatten
    anchors.exists { a =>
      var prev = a.toLong
      sorted.forall { r =>
        prev = ceiling(r, if (inOrder) prev else a)
        prev <= a.toLong + slop
      }
    }
  }

  /** Smallest member of sorted `r` that is ≥ `x`; Long.MaxValue if none. */
  private def ceiling(r: Array[Int], x: Long): Long = {
    val j = java.util.Arrays.binarySearch(r, x.toInt)
    val at = if (j >= 0) j else -j - 1
    if (at < r.length) r(at) else Long.MaxValue
  }

  /** The slot sets of a doc's `collect_list(struct(q_pos, positions))`
    * (one entry per slot, any order): shifted, in q_pos order. */
  def plsSlots(pls: Seq[Row]): Array[Array[Int]] =
    pls.sortBy(_.getInt(0)).map { r =>
      r.getSeq[Int](1).iterator.map(_ - r.getInt(0)).toArray
    }.toArray

  private val plsHit = udf((pls: Seq[Row], slop: Int, inOrder: Boolean) =>
    pls != null && hit(plsSlots(pls), slop, inOrder))

  /** [[hit]] over a doc's `collect_list(struct(q_pos, positions))`. */
  def column(pls: Column, slop: Column, inOrder: Boolean): Column =
    plsHit(pls, slop, lit(inOrder))

  /** A phrase's slot sets over one document's analyzed token array: slot i
    * holds the positions of `terms(i)`, shifted by −i. */
  def tokenSlots(toks: Seq[String], terms: Seq[String]): Array[Array[Int]] = {
    val slots = Array.fill(terms.size)(Array.newBuilder[Int])
    val slotsOf = terms.indices.groupBy(terms)
    toks.iterator.zipWithIndex.foreach { case (t, p) =>
      slotsOf.get(t).foreach(_.foreach(i => slots(i) += p - i))
    }
    slots.map(_.result())
  }

  private val tokensHit = udf((toks: Seq[String], terms: Seq[String], slop: Int) =>
    toks != null && hit(tokenSlots(toks, terms), slop, inOrder = false))

  /** The unordered phrase `terms` within `slop` over an analyzed token
    * array column; a null or empty array never hits. */
  def tokensColumn(toks: Column, terms: Seq[String], slop: Int): Column =
    tokensHit(toks, typedLit(terms), lit(slop))
}
