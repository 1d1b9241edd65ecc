package graft.query

import org.apache.spark.sql.Row
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** `Phrase.hit` against its definition, by brute-force enumeration of one
  * pick per slot — no SparkSession: the predicate every phrase surface
  * shares is checked on its own, and the Spark specs pin the plans. */
class PhraseSpec extends AnyFunSuite {

  private val slops = Seq(0, 1, 2, 5, Searcher.MaxSlop)

  /** Raw text positions 0..15 per slot, k in 1..4; a slot may repeat an
    * earlier slot's set (a repeated query term) or be empty (term absent). */
  private val raw: Gen[Seq[Seq[Int]]] = for {
    k <- Gen.choose(1, 4)
    sets <- Gen.listOfN(k, Gen.choose(0, 5).flatMap(Gen.listOfN(_, Gen.choose(0, 15))))
    reps <- Gen.listOfN(k, Gen.choose(0, 3))
  } yield sets.indices.map(i => if (i > 0 && reps(i) == 0) sets(reps(i - 1) % i) else sets(i))

  private def cases(n: Int): Seq[Seq[Seq[Int]]] =
    (0 until n).flatMap(i => raw(Gen.Parameters.default, Seed(7L + i)))

  /** Shifted sets: slot i's positions minus its query ordinal i. */
  private def shifted(r: Seq[Seq[Int]]): Array[Array[Int]] =
    r.zipWithIndex.map { case (ps, i) => ps.map(_ - i).toArray }.toArray

  /** Minimum span max − min over every choice of one pick per slot, and
    * over the choices whose picks are non-decreasing in slot order. */
  private def minSpans(rels: Array[Array[Int]]): (Long, Long) = {
    var unordered = Long.MaxValue
    var ordered = Long.MaxValue
    def go(i: Int, picks: List[Int]): Unit =
      if (i == rels.length) {
        val ps = picks.reverse
        val span = ps.max.toLong - ps.min
        unordered = unordered min span
        if (ps.zip(ps.tail).forall { case (a, b) => a <= b }) ordered = ordered min span
      } else rels(i).foreach(p => go(i + 1, p :: picks))
    go(0, Nil)
    (unordered, ordered)
  }

  test("hit == brute-force enumeration: k 1-4, slops 0..MaxSlop, both orders") {
    var hits = 0
    cases(3000).foreach { r =>
      val rels = shifted(r)
      val (unordered, ordered) = minSpans(rels)
      for (slop <- slops) {
        assert(Phrase.hit(rels, slop, inOrder = false) == unordered <= slop, s"$r ~$slop")
        assert(Phrase.hit(rels, slop, inOrder = true) == ordered <= slop, s"$r ~$slop in order")
        if (ordered <= slop) hits += 1
      }
    }
    assert(hits > 1000, s"too few ordered hits ($hits) to exercise the predicate")
  }

  test("unordered hit ignores slot order; element order never matters") {
    cases(500).foreach { r =>
      val rels = shifted(r)
      val rev = rels.reverse.map(_.reverse)
      for (slop <- slops) {
        assert(Phrase.hit(rev, slop, inOrder = false) == Phrase.hit(rels, slop, inOrder = false))
        assert(Phrase.hit(rels.map(_.reverse), slop, inOrder = true) ==
          Phrase.hit(rels, slop, inOrder = true))
      }
    }
  }

  test("collect_list rows in scrambled order decide like q_pos order") {
    cases(500).foreach { r =>
      val rows = r.zipWithIndex.map { case (ps, i) => Row(i, ps) }
      val rels = Phrase.plsSlots(rows.reverse)
      assert(rels.map(_.toSeq).toSeq == shifted(r).map(_.toSeq).toSeq)
      for (slop <- slops; ord <- Seq(false, true))
        assert(Phrase.hit(rels, slop, ord) == Phrase.hit(shifted(r), slop, ord))
    }
  }

  test("tokenSlots: slot i holds the positions of term i, shifted by -i") {
    val toks = Seq("a", "b", "a", "c", "b", "a")
    val slots = Phrase.tokenSlots(toks, Seq("a", "b", "a")).map(_.toSeq).toSeq
    assert(slots == Seq(Seq(0, 2, 5), Seq(0, 3), Seq(-2, 0, 3)))
    assert(Phrase.hit(Phrase.tokenSlots(toks, Seq("a", "b", "a")), 0, inOrder = false))
    assert(!Phrase.hit(Phrase.tokenSlots(toks, Seq("c", "a", "b")), 0, inOrder = false))
    assert(!Phrase.hit(Phrase.tokenSlots(Nil, Seq("a")), 5, inOrder = false))
    assert(!Phrase.hit(Phrase.tokenSlots(toks, Nil), 5, inOrder = false))
  }

  test("slop outside [0, MaxSlop] is rejected") {
    val rels = Array(Array(0), Array(0))
    assert(Phrase.hit(rels, Searcher.MaxSlop, inOrder = true))
    intercept[IllegalArgumentException](Phrase.hit(rels, -1, inOrder = false))
    intercept[IllegalArgumentException](Phrase.hit(rels, Searcher.MaxSlop + 1, inOrder = false))
  }
}
