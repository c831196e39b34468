package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.SetSimJoin

class SetSimJoinSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  type Pair = (Long, Long, Long, Long, Long)

  /** Every pair sharing a token with Jaccard ≥ 1/2, by brute force. */
  private def brute(docs: Seq[(Long, Set[String])]): Set[Pair] =
    (for {
      (a, i) <- docs.zipWithIndex
      b <- docs.drop(i + 1)
      (x, y) = if (a._1 < b._1) (a, b) else (b, a)
      inter = (x._2 & y._2).size.toLong
      if inter > 0 && 3 * inter >= x._2.size + y._2.size
    } yield (x._1, y._1, inter, x._2.size.toLong, y._2.size.toLong)).toSet

  /** Run the operator, check it against brute force (which also fixes
    * `doc_a < doc_b`) and that it emits no pair twice; returns the pairs. */
  private def check(docs: Seq[(Long, Set[String])]): Seq[Pair] = {
    val rows = docs.flatMap { case (d, ts) => ts.toSeq.map(t => (d, t)) }
    val got = SetSimJoin.jaccardHalf(rows.toDF("doc_id", "tok")).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.size == got.distinct.size, s"duplicate pairs: ${got.diff(got.distinct)}")
    val want = brute(docs)
    assert(got.toSet == want, s"missing ${want -- got} extra ${got.toSet -- want}")
    got
  }

  private def doc(id: Long, toks: String*): (Long, Set[String]) = id -> toks.toSet

  test("empty and single-token docs") {
    // doc 5 has no tokens, so it has no input rows at all
    val docs = Seq(doc(1, "a"), doc(2, "a"), doc(3, "b"), doc(4, "a", "b"), doc(5))
    assert(check(docs).toSet == Set((1L, 2L, 1L, 1L, 1L), (1L, 4L, 1L, 1L, 2L),
      (2L, 4L, 1L, 1L, 2L), (3L, 4L, 1L, 1L, 2L)))
  }

  test("identical docs pair once each, over every shared prefix token") {
    val toks = (0 until 10).map(i => s"t$i")
    val docs = (1L to 6L).map(d => doc(d, toks: _*)) :+ doc(7, "t0", "x")
    assert(check(docs).count(p => p._3 == 10) == 15)
  }

  test("size pairs on and one below the length filter 2*min = max") {
    val big = (0 until 8).map(i => s"t$i")
    val docs = Seq(
      doc(1, big.take(4): _*), doc(2, big: _*),                 // 4 ⊂ 8: J = 1/2, kept
      doc(3, big.take(4).map("u" + _): _*),
      doc(4, big.map("u" + _) :+ "u9": _*),                     // 4 ⊂ 9: J = 4/9, dropped
      doc(5, big.take(3).map("v" + _): _*),
      doc(6, (big.take(3) ++ big.take(3).map("w" + _)).map("v" + _): _*)) // 3 ⊂ 6: kept
    assert(check(docs).map(p => (p._1, p._2)).toSet == Set((1L, 2L), (5L, 6L)))
  }

  test("df ties are broken by token") {
    // a ring: every token lies in exactly three docs, so all dfs tie
    val n = 12
    val docs = (0 until n).map(d => doc(d, s"r$d", s"r${(d + 1) % n}", s"r${(d + 2) % n}"))
    check(docs)
    // and equal sets of tied tokens
    check(Seq(doc(1, "p", "q"), doc(2, "p", "q"), doc(3, "q", "r"), doc(4, "r", "p")))
  }

  test("one hot token in every doc's prefix") {
    // two-token docs keep both tokens in the prefix, so "hot" heads
    // one group holding every doc
    check((0 until 40).map(d => doc(d, "hot", s"x${d % 7}")))
  }

  test("pairs sharing only tokens outside both prefixes never pair") {
    // "c" is the most frequent token, so it is last in every prefix order
    // and outside each 4-token doc's 3-token prefix
    val docs = Seq(doc(1, "a1", "a2", "a3", "c"), doc(2, "b1", "b2", "b3", "c"),
      doc(3, "d1", "d2", "d3", "c"), doc(4, "e1", "e2", "e3", "c"))
    assert(check(docs).isEmpty)
  }

  test("seeded random corpora with planted near-duplicates match brute force") {
    for (seed <- 1L to 5L) {
      val rng = new scala.util.Random(seed)
      def draw(): String = s"w${(math.pow(rng.nextDouble(), 3) * 60).toInt}"
      val orig = (0 until 60).map(d => d.toLong -> Set.fill(1 + rng.nextInt(20))(draw()))
      val copies = (0 until 30).map { i =>
        val (_, ts) = orig(rng.nextInt(orig.size))
        (100L + i) -> ts.map(t => if (rng.nextDouble() < 0.2) draw() else t)
      }
      assert(check(orig ++ copies).nonEmpty, s"seed $seed")
    }
  }
}
