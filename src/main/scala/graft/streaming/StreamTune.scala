package graft.streaming

import org.apache.spark.sql.SparkSession

/** Scale-adaptive parallelism for the streaming gates (optimization
  * guide §2: derive partitioning from input size instead of inheriting a
  * constant tuned for either local mode or the cluster).
  *
  * Structured Streaming has no AQE: every stateful operator plans
  * `spark.sql.shuffle.partitions` state stores PER MICRO-BATCH, and each
  * store pays a per-batch commit (delta file create + close + fsync on
  * the checkpoint filesystem) regardless of how many rows it holds. At
  * gate scale (KB–MB per batch) a 32-partition session therefore spends
  * its streaming wall-clock almost entirely on empty-store commits —
  * measured round 13 via executor thread dumps: 32 tasks × 4 join-state
  * stores parked in ChecksumCancellableFSDataOutputStream.close, with
  * q134 at 8.9 s wall falling to 2.5 s under 4 state partitions + no
  * checksum files, identical results.
  *
  * The honest production form is not "few partitions" but partitions
  * PROPORTIONAL TO STREAM VOLUME, capped by the session's parallelism:
  * a TB-per-batch ingest on a cluster keeps the session fan-out, the
  * KB-per-batch gate keeps a handful. This helper derives the count
  * from the source's on-disk bytes (the same one-listing cost the file
  * source itself pays per trigger poll) with a fixed per-partition
  * target, sets `spark.sql.shuffle.partitions` for the duration of one
  * gate's streaming run, and restores the session value afterwards —
  * the batch tail (sink read + sort) runs under the session's own
  * setting, and the count is pinned into the query's checkpoint by the
  * engine itself (OffsetSeqMetadata), so restarts stay consistent.
  */
object StreamTune {

  /** Target source bytes per streaming shuffle/state partition. 16 MB
    * keeps per-batch state tasks meaningfully loaded (a state store
    * commit costs ~ms of checkpoint I/O, so sub-MB partitions are pure
    * overhead) while fanning out to the session cap well before a
    * single task's working set could matter. */
  private val BytesPerPartition = 16L << 20

  /** Floor for CPU-BEARING stateful operators (session-window merges):
    * the r13 volume-derived count serialized q106/q119's per-batch
    * session merging onto 1–2 tasks (q106 regressed 0.80×). Measured
    * sweep at sf0.1 (r14): 1 part 2.05 s, 2 parts 1.69 s, 8 parts
    * 1.47 s, 32 parts 1.61 s — merge CPU fans out usefully to ~8 before
    * per-partition commit overhead wins again. The floor is INERT at
    * volume (the byte-derived count already exceeds it) and inert for
    * commit-dominated gates (they don't opt in). */
  private val MinCpuPartitions = 8

  /** Sum of regular-file bytes under `path` (file or directory,
    * recursive) on the session's Hadoop filesystem. */
  private def bytesUnder(s: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L
    else {
      val it = fs.listFiles(p, true)
      var sum = 0L
      while (it.hasNext) { val st = it.next(); if (st.isFile) sum += st.getLen }
      sum
    }
  }

  /** Shuffle/state partition count for a streaming run over `srcBytes`
    * of input: ceil(bytes / target) clamped to [1, session shuffle
    * partitions]. */
  private def streamPartitions(s: SparkSession, srcBytes: Long): Int = {
    val session = math.max(1, s.sessionState.conf.numShufflePartitions)
    math.max(1, math.min(session,
      ((srcBytes + BytesPerPartition - 1) / BytesPerPartition).toInt))
  }

  /** Run `body` (a streaming start + awaitTermination) with
    * `spark.sql.shuffle.partitions` derived from the bytes under
    * `srcPath`; always restores the session value. The engine reads the
    * conf once at query start, so the window only needs to cover
    * `.start()`.
    *
    * CONCURRENCY CONTRACT (review note r13): this mutates a
    * session-global conf with no reentrancy guard — callers run gates
    * SEQUENTIALLY on the session (Bench/Verify do). Concurrent or nested
    * gate execution would race the set/restore; run such gates on
    * `SparkSession.cloneSession()` instead so the override stays
    * session-local. */
  def withAdaptiveStreamShuffle[T](s: SparkSession, srcPath: String,
      cpuBound: Boolean = false)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val old = s.conf.get(key)
    val base = streamPartitions(s, bytesUnder(s, srcPath))
    // never exceed the session fan-out: the floor spreads CPU, it does
    // not override the cluster's own parallelism cap
    val n = if (!cpuBound) base else math.max(base,
      math.min(MinCpuPartitions, math.max(1, s.sessionState.conf.numShufflePartitions)))
    s.conf.set(key, n.toString)
    try body finally s.conf.set(key, old)
  }
}
