package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.SetSimJoin

class SetSimJoinSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  type Pair = (Long, Long, Long, Long, Long)

  /** The thresholds p/q every case runs at: q194's 1/2, two stricter
    * ones, and q40's rational just under the least ratio that rounds
    * (6 decimals) to 0.5. */
  private val Taus = Seq((1L, 2L), (7L, 10L), (19L, 20L), (49999L, 100000L))

  /** Every pair sharing a token with Jaccard ≥ p/q, by brute force,
    * decided in integers as `q·|x ∩ y| ≥ p·|x ∪ y|`. */
  private def brute(docs: Seq[(Long, Set[String])], p: Long, q: Long): Set[Pair] =
    (for {
      (a, i) <- docs.zipWithIndex
      b <- docs.drop(i + 1)
      (x, y) = if (a._1 < b._1) (a, b) else (b, a)
      inter = (x._2 & y._2).size.toLong
      if inter > 0 && q * inter >= p * (x._2 | y._2).size
    } yield (x._1, y._1, inter, x._2.size.toLong, y._2.size.toLong)).toSet

  /** Run the operator at p/q, check it against brute force (which also
    * fixes `doc_a < doc_b`) and that it emits no pair twice; returns the
    * pairs. */
  private def check(docs: Seq[(Long, Set[String])], p: Long, q: Long): Seq[Pair] = {
    val rows = docs.flatMap { case (d, ts) => ts.toSeq.map(t => (d, t)) }
    val got = SetSimJoin.jaccard(rows.toDF("doc_id", "tok"), p, q).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.size == got.distinct.size, s"$p/$q duplicate pairs: ${got.diff(got.distinct)}")
    val want = brute(docs, p, q)
    assert(got.toSet == want, s"$p/$q missing ${want -- got} extra ${got.toSet -- want}")
    got
  }

  /** [[check]] at every threshold of [[Taus]]. */
  private def checkAll(docs: Seq[(Long, Set[String])]): Unit =
    Taus.foreach { case (p, q) => check(docs, p, q) }

  private def doc(id: Long, toks: String*): (Long, Set[String]) = id -> toks.toSet

  private def toks(prefix: String, n: Long): Seq[String] = (0L until n).map(i => s"$prefix$i")

  test("empty and single-token docs") {
    // doc 5 has no tokens, so it has no input rows at all
    val docs = Seq(doc(1, "a"), doc(2, "a"), doc(3, "b"), doc(4, "a", "b"), doc(5))
    assert(check(docs, 1, 2).toSet == Set((1L, 2L, 1L, 1L, 1L), (1L, 4L, 1L, 1L, 2L),
      (2L, 4L, 1L, 1L, 2L), (3L, 4L, 1L, 1L, 2L)))
    checkAll(docs)
  }

  test("identical docs pair once each, over every shared prefix token") {
    val ts = toks("t", 10)
    val docs = (1L to 6L).map(d => doc(d, ts: _*)) :+ doc(7, "t0", "x")
    Taus.foreach { case (p, q) => assert(check(docs, p, q).count(_._3 == 10) == 15) }
  }

  test("size pairs on and one below the length filter 2*min = max") {
    val big = toks("t", 8)
    val docs = Seq(
      doc(1, big.take(4): _*), doc(2, big: _*),                 // 4 ⊂ 8: J = 1/2, kept
      doc(3, big.take(4).map("u" + _): _*),
      doc(4, big.map("u" + _) :+ "u9": _*),                     // 4 ⊂ 9: J = 4/9, dropped
      doc(5, big.take(3).map("v" + _): _*),
      doc(6, (big.take(3) ++ big.take(3).map("w" + _)).map("v" + _): _*)) // 3 ⊂ 6: kept
    assert(check(docs, 1, 2).map(p => (p._1, p._2)).toSet == Set((1L, 2L), (5L, 6L)))
    checkAll(docs)
  }

  test("pairs exactly on each threshold are kept, pairs just below it dropped") {
    for ((p, q) <- Taus.init) {
      // a subset pair p ⊂ q sits on the length-filter edge q·min = p·max
      // (J = p/q, kept); p ⊂ q+1 falls just outside it. Two overlapping
      // sets sharing 2p of 2q tokens have J = p/q exactly (kept); one
      // more token on one side makes it 2p/(2q+1) (dropped).
      val docs = Seq(
        doc(1, toks("a", p): _*), doc(2, toks("a", q): _*),
        doc(3, toks("b", p): _*), doc(4, toks("b", q + 1): _*),
        doc(5, toks("c", 2 * p) ++ toks("cx", q - p): _*),
        doc(6, toks("c", 2 * p) ++ toks("cy", q - p): _*),
        doc(7, toks("d", 2 * p) ++ toks("dx", q - p): _*),
        doc(8, toks("d", 2 * p) ++ toks("dy", q - p + 1): _*))
      assert(check(docs, p, q).map(r => (r._1, r._2)).toSet == Set((1L, 2L), (5L, 6L)),
        s"$p/$q")
    }
    // q40's rational is left out: a pair exactly on 49999/100000 needs a
    // 100,000-token union, and each of its ~37,500 prefix postings would
    // carry its whole set
  }

  test("df ties are broken by token") {
    // a ring: every token lies in exactly three docs, so all dfs tie
    val n = 12
    checkAll((0 until n).map(d => doc(d, s"r$d", s"r${(d + 1) % n}", s"r${(d + 2) % n}")))
    // and equal sets of tied tokens
    checkAll(Seq(doc(1, "p", "q"), doc(2, "p", "q"), doc(3, "q", "r"), doc(4, "r", "p")))
  }

  test("one hot token in every doc's prefix") {
    // at 1/2 two-token docs keep both tokens in the prefix, so "hot"
    // heads one group holding every doc
    checkAll((0 until 40).map(d => doc(d, "hot", s"x${d % 7}")))
  }

  test("a hot token over the block size is walked in blocks") {
    // at 1/2, 600 docs hold "hot" in their prefix: its df of 600 gives
    // its group three blocks
    checkAll((0 until 600).map(d => doc(d, "hot", s"x${d % 13}")))
  }

  test("pairs sharing only tokens outside both prefixes never pair") {
    // "c" is the most frequent token, so it is last in every prefix order
    // and outside each 4-token doc's 3-token prefix
    val docs = Seq(doc(1, "a1", "a2", "a3", "c"), doc(2, "b1", "b2", "b3", "c"),
      doc(3, "d1", "d2", "d3", "c"), doc(4, "e1", "e2", "e3", "c"))
    assert(check(docs, 1, 2).isEmpty)
    checkAll(docs)
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
      val docs = orig ++ copies
      assert(check(docs, 1, 2).nonEmpty, s"seed $seed")
      Taus.tail.foreach { case (p, q) => check(docs, p, q) }
    }
  }

  test("a threshold outside (0, 1) is refused") {
    val tok = Seq((1L, "a")).toDF("doc_id", "tok")
    for ((p, q) <- Seq((0L, 2L), (2L, 2L), (3L, 2L)))
      intercept[IllegalArgumentException](SetSimJoin.jaccard(tok, p, q))
  }
}
