package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact set-similarity self-join by prefix filtering (PPJoin, Xiao et
  * al. 2008; the one-exchange MapReduce shape of Vernica et al., SIGMOD
  * 2010).
  */
object SetSimJoin {

  /** Every pair of documents whose distinct-token sets reach Jaccard
    * ≥ 1/2, found without all-pairs work and without missing a pair.
    *
    * Input: distinct `(doc_id, tok)` rows (`doc_id` integral, `tok` any
    * orderable type). Output: `(doc_a, doc_b, inter, sa, sb)`, all long,
    * one row per qualifying pair with `doc_a < doc_b`, `inter` the size
    * of the two sets' intersection and `sa`/`sb` their sizes. Two
    * documents that share no token never pair, so a pair always has
    * `inter ≥ 1`.
    *
    * The algorithm:
    *   1. An exact dense int dictionary ranks tokens by ascending
    *      document frequency, ties by token (`zipWithIndex` over one
    *      global sort, so ids are injective and ascending id IS the
    *      prefix order). The ranked rows are one token-keyed aggregate
    *      that also collects each token's postings, so numbering a token
    *      numbers its postings too and nothing joins back to the input.
    *      The eager `localCheckpoint` pins the sampled range boundaries,
    *      so a task retry can never re-derive a different id assignment.
    *   2. Each document becomes one sorted `Array[Int]` set. Its PREFIX
    *      is the first `sz − ⌈sz/2⌉ + 1` ids. If two sets reach
    *      Jaccard ≥ 1/2, the smallest id they share lies in both
    *      prefixes: the `o ≥ |x ∪ y|/2 ≥ ⌈|x|/2⌉` shared ids all sit at
    *      or after it in `x`, so at most `|x| − ⌈|x|/2⌉` ids precede it
    *      (and likewise in `y`).
    *   3. Every prefix id becomes one posting that carries the whole
    *      set, and ONE exchange groups the postings by id: hash
    *      partitions at `defaultParallelism` (an explicit count, else
    *      AQE squeezes this KB-sized exchange onto one task of CPU-bound
    *      verification), sorted by `(tid, doc_id)` within each.
    *   4. One pass walks each id group. A pair is a candidate when
    *      `2·min ≥ max` in size (Jaccard is at most min/max). It is
    *      emitted only from the group of the smallest id the two sets
    *      share, which is in both prefixes by step 2 — so every pair is
    *      emitted exactly once and no `distinct` is needed. A two-pointer
    *      intersection checks that rule and counts `inter`, and the
    *      threshold is decided in integers (`3·inter ≥ sa + sb`), so no
    *      float sits on the keep/drop boundary.
    *
    * Cost: pairs are produced lazily, one group at a time, so a task
    * holds one id group, never its partition's output. A group of g
    * postings costs O(g²) pair checks, the same as a self-join keyed by
    * prefix token. Prefixes hold each document's rarest tokens, so a
    * frequent token heads a large group only when many documents are
    * made mostly of frequent tokens (short or boilerplate documents).
    * A token's postings travel as one array row, so the most frequent
    * token's document count (one long each) bounds the largest row.
    */
  def jaccardHalf(tokens: DataFrame): DataFrame = {
    val s = tokens.sparkSession
    import s.implicits._
    val postings = tokens
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("dfc"), collect_list(col("doc_id").cast("long")).as("docs"))
      .orderBy(col("dfc"), col("tok")).select(col("docs")).rdd.zipWithIndex
      .flatMap { case (r, i) =>
        if (i > Int.MaxValue.toLong) throw new IllegalStateException(
          s"token dictionary exceeds Int range ($i) — widen ids to long")
        r.getSeq[Long](0).map(d => (d, i.toInt))
      }
      .toDF("doc_id", "tid")
      .localCheckpoint(true)
    postings
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("tid"))).as("st"))
      .select(col("doc_id"), col("st"),
        explode(expr("slice(st, 1, size(st) - (size(st) + 1) div 2 + 1)")).as("tid"))
      .repartition(s.sparkContext.defaultParallelism, col("tid"))
      .sortWithinPartitions(col("tid"), col("doc_id"))
      .as[(Long, Array[Int], Int)]
      .mapPartitions(part => pairs(part.buffered))
      .toDF("doc_a", "doc_b", "inter", "sa", "sb")
  }

  /** The kernel over one partition of `(doc_id, set, tid)` postings
    * sorted by `(tid, doc_id)`: one id group at a time, each group's
    * pairs as a lazy iterator. */
  private def pairs(in: BufferedIterator[(Long, Array[Int], Int)])
      : Iterator[(Long, Long, Long, Long, Long)] =
    new Iterator[(Int, Array[(Long, Array[Int])])] {
      def hasNext: Boolean = in.hasNext
      def next(): (Int, Array[(Long, Array[Int])]) = {
        val tid = in.head._3
        val g = Array.newBuilder[(Long, Array[Int])]
        while (in.hasNext && in.head._3 == tid) {
          val (d, st, _) = in.next()
          g += ((d, st))
        }
        (tid, g.result())
      }
    }.flatMap { case (tid, g) =>
      g.indices.iterator.flatMap(i =>
        (i + 1 until g.length).iterator.flatMap(j => verify(tid, g(i), g(j))))
    }

  /** The pair `(a, b)` (`a`'s id below `b`'s) from the group of `tid`:
    * `Some` iff the sizes pass the length filter, `tid` is the smallest
    * id the sets share, and their Jaccard is ≥ 1/2. */
  private def verify(tid: Int, a: (Long, Array[Int]), b: (Long, Array[Int]))
      : Option[(Long, Long, Long, Long, Long)] = {
    val (x, y) = (a._2, b._2)
    if (2 * math.min(x.length, y.length) < math.max(x.length, y.length)) None
    else {
      var i = 0; var j = 0; var inter = 0
      var first = true
      while (i < x.length && j < y.length) {
        if (x(i) < y(j)) i += 1
        else if (x(i) > y(j)) j += 1
        else {
          if (first && x(i) != tid) return None
          first = false
          inter += 1; i += 1; j += 1
        }
      }
      if (3L * inter >= x.length + y.length)
        Some((a._1, b._1, inter.toLong, x.length.toLong, y.length.toLong))
      else None
    }
  }
}
