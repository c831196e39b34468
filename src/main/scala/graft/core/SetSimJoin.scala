package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact set-similarity self-join by prefix filtering (PPJoin, Xiao et
  * al. 2008; the one-exchange MapReduce shape of Vernica et al., SIGMOD
  * 2010).
  */
object SetSimJoin {

  /** Every pair of documents whose distinct-token sets reach Jaccard
    * ≥ p/q (0 < p < q ≤ Int.MaxValue), found without all-pairs work and
    * without missing a pair.
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
    *      document frequency `dfc`, ties by token (`zipWithIndex` over one
    *      global sort, so ids are injective and ascending id IS the
    *      prefix order). The ranked rows are one token-keyed aggregate
    *      that also collects each token's postings, so numbering a token
    *      numbers its postings too and nothing joins back to the input.
    *      The eager `localCheckpoint` pins the sampled range boundaries,
    *      so a task retry can never re-derive a different id assignment.
    *   2. Each document becomes one sorted `Array[Int]` set. Its PREFIX
    *      is the first `sz − ⌈p·sz/q⌉ + 1` ids. If two sets reach
    *      Jaccard ≥ p/q, the smallest id they share lies in both
    *      prefixes: the `o ≥ p·|x ∪ y|/q ≥ ⌈p·|x|/q⌉` shared ids all sit
    *      at or after it in `x`, so at most `|x| − ⌈p·|x|/q⌉` ids precede
    *      it (and likewise in `y`).
    *   3. Every prefix id of `dfc > 1` (a token of one document pairs
    *      with nothing) posts the whole set, and [[GroupPairs.bounded]]
    *      walks each id's postings in one exchange keyed by id, a hot
    *      group over blocks, with `dfc` as its size bound: no count runs.
    *   4. A pair is a candidate when `q·min ≥ p·max` in size (Jaccard is
    *      at most min/max). It is emitted only from the group of the
    *      smallest id the two sets share, which is in both prefixes by
    *      step 2 — so every pair is emitted exactly once and no
    *      `distinct` is needed. A two-pointer intersection checks that
    *      rule and counts `inter`, and the threshold is decided in
    *      longs (`(p+q)·inter ≥ p·(sa+sb)`), so no float sits on the
    *      keep/drop boundary.
    *
    * Cost: a group of g postings costs O(g²) pair checks, the same as a
    * self-join keyed by prefix token. Prefixes hold each document's
    * rarest tokens, so a frequent token heads a large group only when
    * many documents are made mostly of frequent tokens (short or
    * boilerplate documents). A token's postings travel as one array row,
    * so the most frequent token's document count (one long each) bounds
    * the largest row.
    */
  def jaccard(tokens: DataFrame, p: Long, q: Long): DataFrame = {
    require(0 < p && p < q && q <= Int.MaxValue, s"Jaccard threshold $p/$q not in (0, 1)")
    val s = tokens.sparkSession
    import s.implicits._
    val postings = tokens
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("dfc"), collect_list(col("doc_id").cast("long")).as("docs"))
      .orderBy(col("dfc"), col("tok")).select(col("docs"), col("dfc")).rdd.zipWithIndex
      .flatMap { case (r, i) =>
        if (i > Int.MaxValue.toLong) throw new IllegalStateException(
          s"token dictionary exceeds Int range ($i) — widen ids to long")
        r.getSeq[Long](0).map(d => (d, i.toInt, r.getLong(1)))
      }
      .toDF("doc_id", "tid", "dfc")
      .localCheckpoint(true)
    val sets = postings.as[(Long, Int, Long)].groupByKey(_._1).flatMapGroups { (doc, ps) =>
      val td = ps.map(r => (r._2, r._3)).toArray.sortBy(_._1)
      val st = td.map(_._1)
      td.iterator.take(st.length - ((p * st.length + q - 1) / q).toInt + 1)
        .collect { case (tid, dfc) if dfc > 1 => (tid, doc, st, dfc) }
    }
    GroupPairs.bounded(sets)(c => c.pairs(verify(c.key, p, q, _, _, _, _)))
      .toDF("doc_a", "doc_b", "inter", "sa", "sb")
  }

  /** The pair `(a, b)` (`a < b`) of sets `x`, `y` from the group of
    * `tid`: `Some` iff the sizes pass the length filter, `tid` is the
    * smallest id the sets share, and their Jaccard is ≥ p/q. */
  private def verify(tid: Int, p: Long, q: Long, a: Long, x: Array[Int], b: Long, y: Array[Int])
      : Option[(Long, Long, Long, Long, Long)] =
    if (q * math.min(x.length, y.length) < p * math.max(x.length, y.length)) None
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
      if ((p + q) * inter >= p * (x.length.toLong + y.length))
        Some((a, b, inter.toLong, x.length.toLong, y.length.toLong))
      else None
    }
}
