package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.GroupPairs

class GroupPairsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Key k holds `sizes(k)` members with distinct seeded ids (negative
    * ones too, so blocks come from a true `pmod`) and a small payload.
    * A size of 0 is a key with no rows at all. */
  private def groups(sizes: Seq[Int], seed: Long): Seq[(Int, Long, Long)] = {
    val rng = new scala.util.Random(seed)
    sizes.zipWithIndex.flatMap { case (g, k) =>
      Iterator.continually(rng.nextInt(200000).toLong - 50000).distinct.take(g)
        .map(id => (k, id, rng.nextInt(100).toLong)).toSeq
    }
  }

  /** Every unordered pair of each group, as `(key, lower id, higher id)`. */
  private def brute(rows: Seq[(Int, Long, Long)]): Seq[(Int, Long, Long)] =
    rows.groupBy(_._1).toSeq.flatMap { case (k, ms) =>
      val ids = ms.map(_._2).sorted
      for (i <- ids.indices; j <- (i + 1) until ids.length) yield (k, ids(i), ids(j))
    }.sorted

  private def checkPairs(got: Seq[(Int, Long, Long)], want: Seq[(Int, Long, Long)]): Unit = {
    assert(got.forall(p => p._2 < p._3), "a pair came with the higher id first")
    assert(got.size == got.distinct.size, s"duplicate pairs: ${got.diff(got.distinct).take(5)}")
    assert(got.sorted == want, s"missing ${want.diff(got.sorted).take(5)} " +
      s"extra ${got.sorted.diff(want).take(5)}")
  }

  private val Sizes = Seq(0, 1, 2, 256, 257, 600)

  test("every pair of every group exactly once, lower id first") {
    val rows = groups(Sizes, 7)
    val got = GroupPairs(rows.toDS())(c => c.pairs((a, _, b, _) => Some((c.key, a, b))))
      .collect().toSeq
    checkPairs(got, brute(rows))
  }

  test("a group over the block size is walked as B(B+1)/2 cells") {
    val rows = groups(Sizes, 11)
    val cells = GroupPairs(rows.toDS())(c => Iterator(c.key)).collect().toSeq
      .groupBy(identity).map { case (k, cs) => k -> cs.size }
    def nCells(g: Int): Int = { val b = (g + GroupPairs.BlockSize - 1) / GroupPairs.BlockSize; b * (b + 1) / 2 }
    val want = Sizes.zipWithIndex.filter(_._1 > 0).map { case (g, k) => k -> nCells(g) }.toMap
    assert(cells == want)
    assert(want(5) == 6 && want(4) == 3 && want(3) == 1)
  }

  test("a per-cell fold matches brute force (best partner per higher id)") {
    // q101's shape: each cell folds, for every higher id, its best
    // (score desc, lower id asc) partner and emits one row per higher
    // id; the best over all cells must be the brute-force best
    val rows = groups(Sizes, 21)
    def score(x: Long, y: Long): Long = (x * 31 + y * 17) % 13
    val folded = GroupPairs(rows.toDS()) { c =>
      val best = scala.collection.mutable.HashMap.empty[Long, (Long, Long)]
      c.foreachPair { (a, x, b, y) =>
        val sc = score(x, y)
        val cur = best.getOrElse(b, (-1L, Long.MaxValue))
        if (sc > cur._1 || (sc == cur._1 && a < cur._2)) best(b) = (sc, a)
      }
      best.iterator.map { case (b, (sc, a)) => (c.key, b, sc, a) }
    }.collect().toSeq
    val got = folded.groupBy(r => (r._1, r._2)).map { case (kb, rs) =>
      kb -> rs.map(r => (r._3, r._4)).reduce((p, q) =>
        if (p._1 > q._1 || (p._1 == q._1 && p._2 < q._2)) p else q)
    }
    val pay = rows.map(r => (r._1, r._2) -> r._3).toMap
    val want = brute(rows).groupBy(p => (p._1, p._3)).map { case (kb, ps) =>
      kb -> ps.map(p => (score(pay((p._1, p._2)), pay((p._1, p._3))), p._2))
        .reduce((p, q) => if (p._1 > q._1 || (p._1 == q._1 && p._2 < q._2)) p else q)
    }
    assert(got == want)
  }

  test("a single constant-key group (the all-pairs shape)") {
    val rows = groups(Seq(600), 3)
    val ds = rows.toDF("k", "id", "p").select(lit(0), col("id"), col("p"))
      .as[(Int, Long, Long)]
    val got = GroupPairs(ds)(c => c.pairs((a, _, b, _) => Some((c.key, a, b))))
      .collect().toSeq
    checkPairs(got, brute(rows))
  }

  /** `(key, id, payload, bound)` rows: key k holds the ids of `groups(k)`
    * and carries its bound on every row. */
  private def boundedRows(groups: Seq[(Seq[Long], Long)]): Seq[(Int, Long, Long, Long)] =
    groups.zipWithIndex.flatMap { case ((ids, bound), k) => ids.map(id => (k, id, id % 7, bound)) }

  test("bounded: every pair exactly once, lower id first, whatever the bound") {
    val rng = new scala.util.Random(5)
    def ids(g: Int): Seq[Long] =
      Iterator.continually(rng.nextInt(200000).toLong - 50000).distinct.take(g).toSeq
    val rows = boundedRows(Seq(
      ids(5) -> 1000L,    // far above: B = 4 for five members
      ids(2) -> 10000L,   // B = 40, most blocks empty
      ids(256) -> 256L,   // B = 1
      ids(256) -> 257L,   // B = 2 for a group that would fit one block
      ids(257) -> 257L,   // B = 2
      ids(1) -> 300L))    // one member, no pair
    val got = GroupPairs.bounded(rows.toDS())(c => c.pairs((a, _, b, _) => Some((c.key, a, b))))
      .collect().toSeq
    checkPairs(got, brute(rows.map(r => (r._1, r._2, r._3))))
  }

  test("bounded: a group's bound sets its B(B+1)/2 cells") {
    // consecutive ids fill every block, so every cell has members
    val groups = Seq(40 -> 1000L, 256 -> 256L, 256 -> 257L, 600 -> 600L, 100 -> 2560L)
    val rows = boundedRows(groups.map { case (g, b) => (0L until g).toSeq -> b })
    val cells = GroupPairs.bounded(rows.toDS())(c => Iterator(c.key)).collect().toSeq
      .groupBy(identity).map { case (k, cs) => k -> cs.size }
    assert(cells == Map(0 -> 10, 1 -> 1, 2 -> 3, 3 -> 6, 4 -> 55))
  }
}
