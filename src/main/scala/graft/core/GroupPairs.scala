package graft.core

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._

/** All pairs within a group, each exactly once: the walk under every
  * pair kernel of the engine (prefix-token similarity join, LSH band
  * buckets, within-cluster and all-vs-all cosine).
  *
  * Input: rows `(key, id, payload)`. A group is the rows of one key; ids
  * are distinct within a group. The caller's function sees the group one
  * [[GroupPairs.Cell]] at a time and returns that cell's output, and the
  * operator emits it lazily, so a task holds one cell, never its
  * partition's output.
  *
  * The plan:
  *   1. Each row carries its group's size bound, the same on every row
  *      of the key ([[bounded]]; [[apply]] counts the groups), and the
  *      group has `B = ⌈bound / BlockSize⌉` blocks, at least 1. A bound
  *      over the group's size only adds cells.
  *   2. A member goes to block `b = pmod(id, B)` and is copied to its
  *      `B` cells `(min(b, j), max(b, j))`, `j = 0 … B−1`. In a cell
  *      `(ba, bb)` with `ba < bb`, the members of block `ba` are its left
  *      side and those of block `bb` its right side.
  *   3. One exchange: hash partitions on `(key, ba, bb)` at
  *      `defaultParallelism` (an explicit count, or AQE squeezes this
  *      small exchange onto a few tasks of CPU-bound pair work), sorted
  *      within partitions so each cell's left members come first.
  *   4. One `mapPartitions` pass cuts each partition into cells. A
  *      same-block cell `(b, b)` yields its upper triangle, a cross-block
  *      cell yields left × right, and the caller always gets the pair
  *      with the lower id first.
  *
  * Exactly once, for any B ≥ 1: take two members x, y of one group, in
  * blocks bx, by.
  *   - `bx = by = b`: both are in the cells `(min(b, j), max(b, j))` for
  *     every j. For j = b that is the same-block cell `(b, b)`, where the
  *     upper triangle yields the pair once. For j ≠ b both sit on the
  *     same side of a cross-block cell, which pairs only left with right.
  *   - `bx ≠ by`: the only cell holding both is `(min(bx, by),
  *     max(bx, by))`, which x reaches with j = by and y with j = bx.
  *     There they sit on opposite sides, so left × right yields it once.
  *
  * Why 256 members a block: a cell then holds at most about 512 members,
  * so its state stays small and its ~65k pair checks make a task-sized
  * unit of work that spreads a hot group over `B(B+1)/2` cells. The price
  * is `B` copies of each hot member, `g·B ≈ g²/256` rows against the
  * `g²/2` pair checks they serve, under 1% of the walk's work. Smaller
  * blocks buy parallelism no host here can use and multiply the copies;
  * larger ones leave a hot group on too few tasks.
  */
object GroupPairs {

  val BlockSize = 256

  /** One cell of a group: `key`, and the members `ids(i)`/`pays(i)`.
    * A same-block cell pairs all its members; a cross-block cell pairs
    * members `[0, split)` with members `[split, n)`. */
  final class Cell[K, P] private[core] (val key: K, ids: Array[Long],
      pays: ArrayBuffer[P], split: Int, same: Boolean) {

    /** Every pair of the cell through `f(a, x, b, y)`, `a < b` the two
      * ids and `x`, `y` their payloads, lazily. */
    def pairs[O](f: (Long, P, Long, P) => Option[O]): Iterator[O] =
      Iterator.range(0, lefts).flatMap(i =>
        Iterator.range(if (same) i + 1 else split, ids.length).flatMap(j => pair(i, j, f)))

    /** Every pair of the cell through `f(a, x, b, y)`, `a < b`, at once:
      * the shape of a per-cell fold. */
    def foreachPair(f: (Long, P, Long, P) => Unit): Unit = {
      var i = 0
      while (i < lefts) {
        var j = if (same) i + 1 else split
        while (j < ids.length) { pair(i, j, f); j += 1 }
        i += 1
      }
    }

    private def lefts: Int = if (same) ids.length else split

    private def pair[O](i: Int, j: Int, f: (Long, P, Long, P) => O): O =
      if (ids(i) < ids(j)) f(ids(i), pays(i), ids(j), pays(j))
      else f(ids(j), pays(j), ids(i), pays(i))
  }

  /** Run `f` over every cell of every group of `rows` and emit what it
    * returns. One aggregate counts the groups; those of more than
    * [[BlockSize]] members (under 1/256 of the rows) join back by
    * broadcast with their count as the bound, the others' bound is 1. */
  def apply[K: Encoder, P: Encoder, O: Encoder](rows: Dataset[(K, Long, P)])
      (f: Cell[K, P] => Iterator[O]): Dataset[O] = {
    val m = rows.toDF("key", "id", "payload")
    val hot = m.groupBy(col("key")).agg(count(lit(1)).as("g")).filter(col("g") > BlockSize)
    bounded(m.join(broadcast(hot), Seq("key"), "left").na.fill(1L, Seq("g"))
      .toDF("_1", "_2", "_3", "_4").as(Encoders.tuple(implicitly[Encoder[K]], Encoders.scalaLong,
        implicitly[Encoder[P]], Encoders.scalaLong)))(f)
  }

  /** Run `f` over every cell of every group of `rows`, `(key, id,
    * payload, bound)` rows whose `bound` is the same on every row of a
    * key and at least its member count, and emit what it returns. */
  def bounded[K, P, O: Encoder](rows: Dataset[(K, Long, P, Long)])
      (f: Cell[K, P] => Iterator[O]): Dataset[O] = {
    val m = rows.toDF("key", "id", "payload", "bound")
    val nb = greatest(ceil(col("bound") / BlockSize), lit(1L)).cast("int")
    m.select(col("*"), pmod(col("id"), nb.cast("long")).cast("int").as("blk"),
        explode(sequence(lit(0), nb - 1)).as("j"))
      .select(col("key"), col("id"), col("payload"), col("bound"),
        least(col("blk"), col("j")).as("ba"), greatest(col("blk"), col("j")).as("bb"),
        (col("blk") > col("j")).as("right"))
      .repartition(m.sparkSession.sparkContext.defaultParallelism,
        col("key"), col("ba"), col("bb"))
      .sortWithinPartitions(col("key"), col("ba"), col("bb"), col("right"), col("id"))
      .select(struct(col("key").as("_1"), col("id").as("_2"), col("payload").as("_3"),
        col("bound").as("_4")).as("_1"),
        col("ba").as("_2"), col("bb").as("_3"), col("right").as("_4"))
      .as(Encoders.tuple(rows.encoder, Encoders.scalaInt, Encoders.scalaInt,
        Encoders.scalaBoolean))
      .mapPartitions(part => cells(part.buffered).flatMap(f))
  }

  /** A partition sorted by `(key, ba, bb, right, id)`, cut into cells. */
  private def cells[K, P](in: BufferedIterator[((K, Long, P, Long), Int, Int, Boolean)])
      : Iterator[Cell[K, P]] =
    new Iterator[Cell[K, P]] {
      def hasNext: Boolean = in.hasNext
      def next(): Cell[K, P] = {
        val ((key, _, _, _), ba, bb, _) = in.head
        val ids = Array.newBuilder[Long]
        val pays = ArrayBuffer.empty[P]
        var n = 0; var split = -1
        while (in.hasNext && in.head._2 == ba && in.head._3 == bb && in.head._1._1 == key) {
          val ((_, id, p, _), _, _, right) = in.next()
          if (right && split < 0) split = n
          ids += id; pays += p; n += 1
        }
        new Cell(key, ids.result(), pays, if (split < 0) n else split, ba == bb)
      }
    }
}
