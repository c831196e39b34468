package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Incremental mode for the event pipeline (SURVEY.md §2.10): the
  * reference's batch-only status-change / resample computations expressed
  * as Structured Streaming, for inputs that arrive file-by-file (e.g. per
  * report step). Batch and stream share the same transform code — the
  * DataFrame API is the common surface.
  */
object EventStreams {

  /** The events table schema has shipped with ts as TIMESTAMP(NANOS)
    * (surfaced as long under spark.sql.legacy.parquet.nanosAsLong), as
    * TIMESTAMP(MICROS, NTZ), and as plain TIMESTAMP. The streaming file
    * source needs an explicit schema, so probe the footer with a one-file
    * batch read, then normalize ts through the SAME helper the batch
    * loader uses ([[graft.sources.Tables.normalizeEventTs]]) — one place
    * to update when the generator's timestamp type changes again.
    */
  def readEvents(spark: SparkSession, dir: String,
      sourceOptions: Map[String, String] = Map.empty): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // scope to the events table: a bare directory read would pull every
    // table in the sf dir through name-based column matching (their rows
    // surface as all-null events). When events.parquet is itself a
    // DIRECTORY of part files (a distributed writer's layout — any
    // df.write output), stream from that
    // directory directly: its part files are already exactly the events
    // table, and the single-file glob below would match none of them.
    // Otherwise the scoping is a file-name glob filter — exactly
    // `events.parquet` (the testdata layout) or numbered per-arrival
    // files `events_<digits>….parquet` (the report-step convention); a
    // broader events* would silently union any future events_foo.parquet
    // dump into the stream.
    // sourceOptions: extra FILE-SOURCE options (e.g. maxFilesPerTrigger
    // for incremental multi-batch runs).
    // directory detection goes through the Hadoop FileSystem of the
    // path (not java.io.File) so hdfs://, s3a:// and file: URIs — the
    // storage distributed writers actually target — take the directory
    // branch too, and a layout mixing BOTH conventions fails loudly
    // instead of silently dropping the per-arrival files.
    val hPath = new org.apache.hadoop.fs.Path(dir)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tablePath = new org.apache.hadoop.fs.Path(hPath, "events.parquet")
    val tableIsDir = fs.exists(tablePath) && fs.getFileStatus(tablePath).isDirectory
    if (tableIsDir) {
      val arrivals = fs.globStatus(new org.apache.hadoop.fs.Path(hPath, "events_*.parquet"))
      require(arrivals == null || arrivals.isEmpty,
        s"$dir mixes a directory-shaped events.parquet with per-arrival " +
          "events_NNNN.parquet files; a single stream source cannot union " +
          "both layouts - consolidate to one convention")
    }
    val (srcDir, glob) =
      if (tableIsDir) (tablePath.toString, None)
      else (dir, Some("{events,events_[0-9]*}.parquet"))
    val batchReader = spark.read
    val raw = glob.fold(batchReader)(g => batchReader.option("pathGlobFilter", g))
      .parquet(srcDir).schema
    val streamReader = spark.readStream.schema(raw)
    graft.sources.Tables.normalizeEventTs(
      glob.fold(streamReader)(g => streamReader.option("pathGlobFilter", g))
        .options(sourceOptions)
        .parquet(srcDir))
  }

  /** The q58/q116 daily activity aggregate: event-time tumbling
    * 1-day window, count + EXACT-LONG value sum (association-order-free,
    * hence bit-equal between batch and any micro-batch accumulation) —
    * ONE definition so the streaming gates can't drift apart.
    */
  def dailyActivityExact(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        (sum(round(col("value") * 10000.0).cast("long")) / 10000.0).as("total_value"))

  /** Watermarked tumbling-window aggregate — the streaming form of the
    * monthly resample (here: minutes for test latency).
    */
  def windowedActivity(events: DataFrame, window: String, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))

  /** Streaming exact dedup — the incremental form of q24's hash-groupBy
    * dedup: keeps the first event per `event_id` and drops replays arriving
    * within the watermark. State is bounded by the watermark horizon (keys
    * older than it are evicted), which is what makes exact dedup viable on
    * an unbounded stream — the batch variant's full-table groupBy becomes a
    * sliding state window. At 100 TB/day the state size is
    * (keys per watermark window), not (all keys ever).
    */
  def dedupedEvents(events: DataFrame, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  case class Doc(doc_id: Long, text: String)
  case class DocDedup(doc_id: Long, canonical_id: Long, is_dup: Boolean)

  /** Streaming MinHash-signature dedup — the incremental member of the
    * q26/q39 dedup family: each arriving document maps to its 32-slot
    * MinHash signature with the SAME portable hash family as the batch
    * queries, computed as a stateless per-document projection
    * (`array_min ∘ transform` over the token array — per-doc bounded
    * work; the batch pipeline's hash-aggregate shape would be a second
    * stateful operator, which streaming queries cannot chain before
    * mapGroupsWithState). One stateful stage keyed by the signature keeps
    * the first-seen doc id: identical signatures (all 32 slots equal —
    * content-identical or extremely near) collapse to the first arrival.
    *
    * State is one long per DISTINCT signature — the irreducible state of
    * any streaming dedup (the distinct-content set); at corpus scale it
    * lives in the RocksDB state store, and a TTL policy can bound it when
    * late duplicates stop mattering.
    */
  /** The per-document 32-slot MinHash signature kernel shared by
    * [[signatureDeduped]] and [[signatureDedupedTtl]]: ONE pass per
    * document — hash each distinct token once, fold the 32 slot-mins in
    * a tight loop. The earlier 32-column projection re-evaluated
    * strHash(token) once PER SLOT (CollapseProject inlines shared
    * aliases), a measured 3x on the gate corpus. Values are
    * bit-identical to the expression form: hashString IS the codegen
    * kernel and mixLong is mix's scalar twin. Empty string = token-less
    * document (no content to deduplicate — dropped on BOTH sides; the
    * oracle's char-unnest naturally drops them). */
  private[graft] def sigOf(text: String): String = {
    import graft.functions.{PortableHash, PortableStringHash}
    // SQL-trim semantics (strip ' ' only — Java String.trim strips
    // all chars <= U+0020 and would diverge from the oracle's trim);
    // null text folds to the empty token set
    val raw = if (text == null) "" else text
    var lo = 0
    var hi = raw.length
    while (lo < hi && raw.charAt(lo) == ' ') lo += 1
    while (hi > lo && raw.charAt(hi - 1) == ' ') hi -= 1
    val toks = raw.substring(lo, hi).split("\\s+").filter(_.nonEmpty).distinct
    val mins = Array.fill(32)(Long.MaxValue)
    toks.foreach { t =>
      val h = PortableStringHash.hashString(t)
      var k = 0
      while (k < 32) {
        val m = PortableHash.mixLong(h, k)
        if (m < mins(k)) mins(k) = m
        k += 1
      }
    }
    if (toks.isEmpty) "" else mins.mkString("_")
  }

  def signatureDeduped(docs: DataFrame): Dataset[DocDedup] = {
    import docs.sparkSession.implicits._
    val keyed = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) => (id, sigOf(text)) }
      .filter(_._2.nonEmpty)
    keyed.groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: String, rows: Iterator[(Long, String)], state: GroupState[Long]) => {
          // deterministic within a micro-batch: process by ascending id
          val ids = rows.map(_._1).toSeq.sorted
          var canon = state.getOption.getOrElse(Long.MaxValue)
          val out = ids.map { id =>
            val c = math.min(canon, id)
            canon = c
            DocDedup(id, c, c < id)
          }
          state.update(canon)
          out.iterator
        })
  }

  /** TTL'd streaming signature dedup — [[signatureDeduped]] with BOUNDED
    * state: the production form for an unbounded ingest stream, where a
    * signature's canonical is only remembered for `ttlMs` of event time
    * past its LAST occurrence. Semantics (exact, batching-independent):
    * per signature, a canonical CHAIN extends while consecutive
    * occurrences are ≤ ttlMs apart and RESETS on a larger gap — the
    * gaps-and-islands rule, enforced INLINE by comparing each arrival's
    * event time against the stored last-seen time. The
    * `EventTimeTimeout` callback exists purely to BOUND STATE: once the
    * watermark passes last-seen + ttl the key can never extend its
    * chain again (any later arrival resets inline anyway), so the state
    * row is removed. State = O(signatures live within one TTL horizon),
    * not O(all signatures ever) — what makes the operator viable on an
    * unbounded stream, and what NoTimeout q70 cannot claim.
    *
    * Input contract: `docs` carries (doc_id, ts, text) with doc_id
    * ascending in event time (the per-shard ordered-arrival contract
    * packedSpans documents). The watermark is declared HERE, after the
    * stateless signature projection — a typed map erases an upstream
    * watermark tag, and EventTimeTimeout requires the tag on the
    * stateful operator's direct input.
    */
  def signatureDedupedTtl(docs: DataFrame, ttlMs: Long,
      watermarkDelay: String): Dataset[DocDedup] = {
    import docs.sparkSession.implicits._
    val keyed = docs.select(col("doc_id"), col("ts"), col("text"))
      .as[(Long, Timestamp, String)]
      .map { case (id, ts, text) => (id, ts, sigOf(text)) }
      .filter(_._3.nonEmpty)
      .toDF("doc_id", "ts", "sig")
      .withWatermark("ts", watermarkDelay)
      .as[(Long, Timestamp, String)]
    keyed.groupByKey(_._3)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (_: String, rows: Iterator[(Long, Timestamp, String)],
            state: GroupState[(Long, Long)]) => {
          if (state.hasTimedOut) {
            // watermark passed last-seen + ttl: the chain is dead (any
            // later arrival would reset inline), drop the state row
            state.remove()
            Iterator.empty
          } else {
            // deterministic within a micro-batch: ascending doc_id is
            // ascending event time under the input contract
            val sorted = rows.map(r => (r._1, r._2.getTime)).toSeq.sorted
            var cur = state.getOption // (canonical_id, last_seen_ms)
            val out = sorted.map { case (id, tms) =>
              cur = cur match {
                case Some((c, last)) if tms - last <= ttlMs => Some((c, tms))
                case _ => Some((id, tms)) // gap > ttl (or first): new chain
              }
              DocDedup(id, cur.get._1, cur.get._1 < id)
            }
            val (c, last) = cur.get
            state.update((c, last))
            // must be strictly past the current watermark or the engine
            // rejects it; the max() only matters for a key whose ttl
            // horizon already passed within this same batch
            state.setTimeoutTimestamp(
              math.max(last + ttlMs, state.getCurrentWatermarkMs() + 1))
            out.iterator
          }
        })
  }

  /** Streaming documents reader: explicit schema from a one-file batch
    * probe, scoped to the documents file, with the SAME type pinning as
    * the batch `Tables.documents` loader — shared insurance against the
    * batch/streaming drift that silently dropped queries in r7.
    */
  def readDocuments(spark: SparkSession, dir: String,
      sourceOptions: Map[String, String] = Map.empty): DataFrame = {
    // same layout handling as readEvents: a directory-shaped
    // documents.parquet (distributed-writer output) is streamed
    // directly; the single-file testdata layout goes through the
    // scoping glob (which also admits numbered
    // per-arrival files documents_NNNN.parquet — the incremental
    // multi-batch staging q163 uses with maxFilesPerTrigger)
    val hPath = new org.apache.hadoop.fs.Path(dir)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tablePath = new org.apache.hadoop.fs.Path(hPath, "documents.parquet")
    val tableIsDir = fs.exists(tablePath) && fs.getFileStatus(tablePath).isDirectory
    val (srcDir, glob) =
      if (tableIsDir) (tablePath.toString, None)
      else (dir, Some("{documents,documents_[0-9]*}.parquet"))
    val batchReader = spark.read
    val raw = glob.fold(batchReader)(g => batchReader.option("pathGlobFilter", g))
      .parquet(srcDir).schema
    val streamReader = spark.readStream.schema(raw)
    graft.sources.Tables.pinDocumentTypes(
      glob.fold(streamReader)(g => streamReader.option("pathGlobFilter", g))
        .options(sourceOptions)
        .parquet(srcDir))
  }

  case class PackSpan(source: String, pack_id: Long, doc_id: Long, n_tok: Long,
      tok_in_pack: Long, is_head: Boolean)

  /** STREAMING sequence packing — the incremental form of the q77 batch
    * layout: documents arrive per source, the per-source state carries
    * the running token offset, and each document emits its (pack, token
    * span) rows as it arrives. One flatMapGroupsWithState stage keyed by
    * source; tokens are counted by the SAME Column kernel as the batch
    * query (a stateless projection ahead of the stateful stage), so
    * stream and batch agree token-for-token.
    *
    * Determinism contract: within a micro-batch the group sorts by
    * doc_id, so a single AvailableNow batch reproduces the batch layout
    * exactly (the gate form). Across batches the layout follows ARRIVAL
    * order — the production form requires per-shard ordered arrival
    * (e.g. per-report-step files ascending by id), the same contract a
    * batch backfill has, verified multi-batch in StreamingSpec.
    */
  def packedSpans(docs: DataFrame, packB: Long): Dataset[PackSpan] = {
    import docs.sparkSession.implicits._
    val typed = docs.select(col("source"), col("doc_id"),
        graft.functions.TextFunctions.tokenCount(col("text")).as("n_tok"))
      .as[(String, Long, Long)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (src: String, rows: Iterator[(String, Long, Long)], state: GroupState[Long]) => {
          var off = state.getOption.getOrElse(0L)
          val out = rows.toSeq.sortBy(_._2).flatMap { case (_, id, n) =>
            val start = off; val end = off + n; off = end
            (start / packB to (end - 1) / packB).map { p =>
              PackSpan(src, p, id, n,
                math.min(end, (p + 1) * packB) - math.max(start, p * packB),
                p == start / packB)
            }
          }
          state.update(off)
          out.iterator
        })
  }

  case class Ev(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)
}
