package graft.query

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The one k-way sorted merge behind the serving match count and ordinal
  * kernels, against brute-force set algebra — no SparkSession: the Spark
  * specs pin the plans, this pins the merge. */
class SortedMergeSpec extends AnyFunSuite {

  /** 1-5 doc-ascending lists of 0-50 distinct docs drawn from 0..79, so
    * docs repeat across lists. */
  private val lists: Gen[Array[Array[Long]]] = for {
    n <- Gen.choose(1, 5)
    ls <- Gen.listOfN(n, Gen.choose(0, 50).flatMap(Gen.listOfN(_, Gen.choose(0L, 79L))))
  } yield ls.map(_.distinct.sorted.toArray).toArray

  private def cases(n: Int): Seq[Array[Array[Long]]] =
    (0 until n).flatMap(i => lists(Gen.Parameters.default, Seed(11L + i)))

  test("merge == brute-force intersection (AND) and union (OR); count == ords length") {
    var nonEmptyAnd = 0
    cases(2000).foreach { ls =>
      val sets = ls.map(_.toSet)
      val and = sets.reduce(_ intersect _).toSeq.sorted
      val or = sets.reduce(_ union _).toSeq.sorted
      for ((requireAll, want) <- Seq(true -> and, false -> or)) {
        val got = BlockMaxWand.ordsMerged(ls, requireAll, ls.length)
        val what = s"${ls.map(_.mkString("[", ",", "]")).mkString(" ")} all=$requireAll"
        assert(got.toSeq == want, what)
        assert(BlockMaxWand.countMerged(ls, requireAll, ls.length) == got.length, what)
      }
      if (and.nonEmpty) nonEmptyAnd += 1
    }
    assert(nonEmptyAnd > 200, s"too few non-empty intersections ($nonEmptyAnd)")
  }

  test("AND over a bucket missing a query term matches nothing; OR ignores the gap") {
    cases(200).foreach { ls =>
      val need = ls.length + 1
      assert(BlockMaxWand.ordsMerged(ls, requireAll = true, need).isEmpty)
      assert(BlockMaxWand.countMerged(ls, requireAll = true, need) == 0L)
      assert(BlockMaxWand.ordsMerged(ls, requireAll = false, need).toSeq ==
        ls.flatten.distinct.sorted.toSeq)
    }
  }
}
