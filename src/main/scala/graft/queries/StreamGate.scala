package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming under the oracle gate (SURVEY.md §2.10).
  *
  * The streaming extension previously rested on ScalaTest alone; q58 runs
  * the ACTUAL streaming engine — file source, event-time tumbling window,
  * stateful aggregation, memory sink — to completion over the static
  * events table with `Trigger.AvailableNow`, and the DuckDB oracle replays
  * the same aggregate as a batch GROUP BY. A hash match proves the
  * streaming pipeline computes exactly the batch answer (the
  * batch/stream-parity contract the DataFrame API promises; reference
  * summary-style aggregations run incrementally over per-report-step
  * files the same way).
  */
object StreamGate {

  /** Start a gate's streaming query and drain it to completion under
    * scale-adaptive shuffle/state partitions derived from the source's
    * bytes ([[graft.streaming.StreamTune.withAdaptiveStreamShuffle]] —
    * guide §2: partitioning from input size, not the session constant;
    * a KB-per-batch gate run otherwise pays 32 empty state-store
    * commits per stateful operator per micro-batch). Returns the
    * finished query for gates that read progress counters. */
  private def runAdaptive(s: SparkSession, src: String,
      cpuBound: Boolean = false)(
      start: => org.apache.spark.sql.streaming.StreamingQuery)
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.StreamTune.withAdaptiveStreamShuffle(s, src, cpuBound) {
      val q = start
      q.awaitTermination()
      q
    }

  /** q58: event-time tumbling 1-day window aggregation executed BY THE
    * STREAMING ENGINE (readStream → watermark → window groupBy →
    * memory sink, one AvailableNow run). Float totals use the exact-long
    * trick (Σ round(value·10⁴) as BIGINT, divided once at the end) so the
    * result is association-order-free — identical no matter how many
    * micro-batches the state accumulated over, and identical to the
    * oracle's batch sum.
    *
    * Mode honesty: this HARNESS run uses complete output mode because a
    * finite replay must surface every window's final value in one
    * readable table — and in complete mode the watermark does NOT evict
    * state (Spark retains all windows, fine for a bounded gate input).
    * The production form of the same upstream plan is APPEND mode, where
    * the 2-hour watermark closes windows, evicts their state (state =
    * O(open windows × types)) and emits each window once to a files/
    * kafka sink; append can't serve the gate because the final windows
    * only emit after the watermark passes them, which a finite replay's
    * last batch never triggers.
    */
  def q58StreamWindow(s: SparkSession, dir: String): DataFrame = {
    val events = graft.streaming.EventStreams.readEvents(s, dir)
    val agg = graft.streaming.EventStreams.dailyActivityExact(
      events.withWatermark("ts", "2 hours"))
    val sink = "q58_sink"
    s.catalog.dropTempView(sink) // rerun hygiene (Bench sweeps 3×)
    runAdaptive(s, s"$dir/events.parquet")(agg.writeStream
      .format("memory").queryName(sink)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start())
    s.table(sink)
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))
      .orderBy(col("window_start"), col("event_type"))
  }

  /** Stage `dir`'s events plus watermark-advancing SENTINEL events
    * (4 days past the corpus max ts, their own per-arrival file) into a
    * reusable temp directory — the finite-replay scaffolding the
    * append-mode gates (q116 tumbling windows, q119 session windows,
    * q139 outer join) share. ONE sentinel row PER EVENT TYPE: a query
    * that filters the stream by type (q139's two join sides) computes
    * its watermark from the filtered rows only, and the global
    * watermark is the MIN across sides — a single-type sentinel would
    * leave the other side's watermark at its last real event and hold
    * the final outer rows forever. For the type-agnostic gates the
    * extra rows are one more excluded window/session. Returns the
    * staged directory and the REAL max ts (the boundary the callers
    * filter sentinel-derived output against).
    */
  private def stageWithSentinel(s: SparkSession, dir: String): (String, java.sql.Timestamp) = {
    val events = graft.sources.Tables.events(s, dir)
    val h = events.agg(count(lit(1)), max(col("ts"))).head()
    val nEvents = h.getLong(0)
    val mts = h.getTimestamp(1)
    // cache key = dir identity (md5 — the path sanitizer of an earlier
    // revision could collide distinct dirs) + a content fingerprint
    // (row count + max ts), so regenerated testdata or rebuilt ×N
    // replicas at the same path can never be served stale staging
    val dirTag = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    // v3: per-type sentinels (a content change the name must reflect —
    // the fingerprint fields alone would serve v2 staging stale)
    val tmp = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft-gate",
      s"append-v3-$dirTag-$nEvents-${mts.getTime}")
    if (!java.nio.file.Files.isDirectory(tmp)) {
      // stage the FINAL layout in a per-process scratch dir, then
      // publish with one ATOMIC directory rename: concurrent JVMs
      // (sbt test + driver Verify) either win the rename or discard
      // their scratch and use the winner's — no interleaved file sets.
      // (Row content is identical either way; only part-file
      // partitioning differs between JVMs, which the aggregate gates
      // are insensitive to.)
      java.nio.file.Files.createDirectories(tmp.getParent)
      val scratch = tmp.resolveSibling(
        s"${tmp.getFileName}-scratch-${java.util.UUID.randomUUID()}")
      events.write.mode("overwrite").parquet(s"$scratch/real")
      val sentinelTs = new java.sql.Timestamp(mts.getTime + 4L * 86400 * 1000)
      // one arbitrary row per event type, in a single pass
      events.dropDuplicates("event_type")
        .withColumn("ts", lit(sentinelTs))
        .coalesce(1).write.mode("overwrite").parquet(s"$scratch/sentinel")
      def parts(sub: String) = new java.io.File(s"$scratch/$sub").listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      // the sentinel file sorts LAST so a maxFilesPerTrigger run would
      // also see it last; a single AvailableNow batch needs no ordering
      val all = parts("real") ++ parts("sentinel")
      all.zipWithIndex.foreach { case (f, i) =>
        java.nio.file.Files.move(f.toPath,
          scratch.resolve(f"events_$i%04d.parquet"))
      }
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$scratch/real"))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$scratch/sentinel"))
      try java.nio.file.Files.move(scratch, tmp,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        case _: java.nio.file.FileAlreadyExistsException |
             _: java.nio.file.DirectoryNotEmptyException |
             _: java.nio.file.AccessDeniedException =>
          // another JVM published first — its staging carries the same
          // rows (same source, same sentinel formula); use it
          org.apache.commons.io.FileUtils.deleteDirectory(scratch.toFile)
      }
    }
    (tmp.toString, mts)
  }

  /** q116: the PRODUCTION APPEND form of q58 on the gate — the same
    * readStream → 2-hour watermark → tumbling-day-window plan, but
    * append output mode: a window emits EXACTLY ONCE after the
    * watermark passes its end, and its state is evicted (state =
    * O(open windows × types), the unbounded-stream contract q58's
    * mode-honesty note describes but complete mode cannot exercise).
    *
    * A finite replay's last batch never advances the watermark past
    * the final windows, so the harness stages the events table plus a
    * terminal SENTINEL arrival — one event 4 days past the corpus max
    * ts, in its own per-arrival file. After the data batches the
    * watermark is sentinel−2h > every real window end, and the
    * engine's no-data micro-batch (on by default) flushes every real
    * window to the sink. The sentinel's own window stays open forever
    * and is never emitted in append mode — it is also filtered
    * defensively (window_start ≤ real max ts). The oracle is q58's
    * verbatim, so a hash match proves append+watermark emits exactly
    * the batch answer, once per window — batch/stream parity for the
    * mode production actually runs.
    */
  def q116StreamWindowAppend(s: SparkSession, dir: String): DataFrame = {
    val (tmp, maxTs) = stageWithSentinel(s, dir)
    val sink = "q116_sink"
    s.catalog.dropTempView(sink)
    runAdaptive(s, tmp.toString)(graft.streaming.EventStreams.dailyActivityExact(
      graft.streaming.EventStreams.readEvents(s, tmp.toString)
        .withWatermark("ts", "2 hours"))
      .writeStream.format("memory").queryName(sink)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start())
    s.table(sink)
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))
      .filter(col("window_start") <= lit(maxTs))
      .orderBy(col("window_start"), col("event_type"))
  }

  private[graft] val DedupN = 5000
  private[graft] val DedupCopies = 4

  /** q69: STREAMING EXACT DEDUP on the gate — the incremental form of
    * q24. [[DedupCopies]] identical per-arrival files (at-least-once
    * replays, byte-identical rows) stream through
    * `dropDuplicatesWithinWatermark("event_id")` (append mode: each
    * first-seen id emits immediately, replays die against the id state),
    * and the surviving rows batch-aggregate to the daily activity shape.
    * The oracle replays ONE copy of the closed form — so the hash only
    * matches if the streaming dedup removed every duplicate and nothing
    * else. Replayed rows are byte-identical by construction, which is
    * what makes "keep the first arrival" deterministic under any
    * batching.
    */
  def q69StreamDedup(s: SparkSession, dir: String): DataFrame = {
    // the formula version rides in the dir name (v1-N-copies): changing
    // the closed form changes the path, so the exists() reuse guard can
    // never serve stale data from an older formula
    val tmp = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft-gate", s"q69-v1-$DedupN-$DedupCopies")
    java.nio.file.Files.createDirectories(tmp)
    if (!java.nio.file.Files.exists(tmp.resolve(f"events_${DedupCopies - 1}%04d.parquet"))) {
      val types = Seq("view", "click", "purchase", "signup", "error")
      val one = s.range(0, DedupN).select(
        col("id").as("event_id"),
        timestamp_seconds(lit(1704067200L) + pmod(col("id") * 7919L, lit(30L * 86400)))
          .as("ts"),
        pmod(col("id"), lit(100L)).as("user_id"),
        element_at(typedLit(types), (pmod(col("id"), lit(5L)) + 1).cast("int"))
          .as("event_type"),
        (pmod(col("id"), lit(10000L)).cast("double") / 100.0).as("value"),
        lit("{}").as("props"))
      // ONE write, then byte-level copies: the replay files are
      // byte-identical BY CONSTRUCTION (not by parquet write
      // determinism), and a per-process scratch dir keeps concurrent
      // JVMs (sbt test + driver Verify) from clobbering each other
      val scratch = s"$tmp/_scratch-${java.util.UUID.randomUUID()}"
      one.coalesce(1).write.mode("overwrite").parquet(scratch)
      val part = new java.io.File(scratch).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      (0 until DedupCopies).foreach { c =>
        java.nio.file.Files.copy(part.toPath,
          tmp.resolve(f"events_$c%04d.parquet"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
      part.getParentFile.listFiles().foreach(_.delete())
      new java.io.File(scratch).delete()
    }
    val sink = "q69_sink"
    s.catalog.dropTempView(sink)
    runAdaptive(s, tmp.toString)(graft.streaming.EventStreams
      .dedupedEvents(graft.streaming.EventStreams.readEvents(s, tmp.toString), "2 hours")
      .writeStream.format("memory").queryName(sink)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start())
    graft.streaming.EventStreams.dailyActivityExact(s.table(sink))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))
      .orderBy(col("window_start"), col("event_type"))
  }

  /** q70: the MinHash-SIGNATURE streaming dedup
    * ([[graft.streaming.EventStreams.signatureDeduped]] — stateless
    * 32-slot signature projection + ONE flatMapGroupsWithState stage
    * keyed by signature) on the gate. One AvailableNow batch over the
    * documents file keeps the result closed-form: within a batch ids
    * process in ascending order, so every row's canonical is the GLOBAL
    * min doc_id of its signature group — which is exactly what the
    * DuckDB oracle replays by grouping the same 32 slot-min columns
    * (same portable hash family as q26/q39). A hash match proves the
    * stateful streaming operator computed the batch signature-grouping
    * semantics.
    *
    * PRODUCTION TWIN: [[q163StreamTtlDedup]] — the same operator run
    * genuinely multi-batch with TTL state eviction (this gate pins the
    * closed-form global-min layout; q163 pins cross-batch state carry
    * and bounded state). Between them the single-batch shape here is a
    * layout contract, not a caveat.
    */
  def q70StreamSigDedup(s: SparkSession, dir: String): DataFrame = {
    val stream = graft.streaming.EventStreams.readDocuments(s, dir)
      .select(col("doc_id"), col("text"))
    val sink = "q70_sink"
    s.catalog.dropTempView(sink)
    runAdaptive(s, s"$dir/documents.parquet")(
      graft.streaming.EventStreams.signatureDeduped(stream)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start())
    s.table(sink)
      .select(col("doc_id"), col("canonical_id"), col("is_dup"))
      .orderBy(col("doc_id"))
  }

  /** The shared q70/q163 oracle prefix: per-doc 32-slot MinHash
    * signature CTEs (32 slots matching signatureDeduped's hardcoded
    * width). Returns (CTE block ending at `sig(doc_id, m0..m31)`, the
    * comma-joined key column list). */
  private def sigCtePrefix: (String, String) = {
    import graft.functions.PortableHash.mixSql
    val hashCtes = graft.functions.PortableStringHash.strHashCtes(
      "otoks", Seq("doc_id"), "tok", "ohash", "v")
    val minCols = (0 until 32).map(k => s"min(${mixSql("v", k)}) AS m$k")
      .mkString(",\n                  ")
    val keys = (0 until 32).map("m" + _).mkString(", ")
    (s"""WITH otoks AS (SELECT doc_id,
                  unnest(list_distinct(string_split_regex(trim(text), '\\s+'))) AS tok
                  FROM documents),
       $hashCtes,
       vals AS (SELECT doc_id, v FROM ohash),
       sig AS (SELECT doc_id, $minCols
               FROM vals GROUP BY doc_id)""", keys)
  }

  private def streamSigDedupSql: String = {
    val (prefix, keys) = sigCtePrefix
    s"""$prefix,
       canon AS (SELECT $keys, min(doc_id) AS canonical_id
                 FROM sig GROUP BY $keys)
       SELECT sig.doc_id, c.canonical_id, sig.doc_id > c.canonical_id AS is_dup
       FROM sig JOIN canon c USING ($keys)
       ORDER BY doc_id"""
  }

  // gaps-and-islands replay of the TTL chain rule: within a signature,
  // the canonical chain breaks when the doc_id gap exceeds TtlDocs
  // (event time is doc_id·60 s, TTL is TtlDocs·60 s — the same rule in
  // both clocks); each island's canonical is its min doc_id
  private def streamTtlDedupSql: String = {
    val (prefix, keys) = sigCtePrefix
    s"""$prefix,
       brk AS (SELECT doc_id, $keys,
                      CASE WHEN lag(doc_id) OVER w IS NULL
                                OR doc_id - lag(doc_id) OVER w > $TtlDocs
                           THEN 1 ELSE 0 END AS b
               FROM sig WINDOW w AS (PARTITION BY $keys ORDER BY doc_id)),
       isl AS (SELECT doc_id, $keys,
                      sum(b) OVER (PARTITION BY $keys ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) AS island
               FROM brk)
       SELECT doc_id,
              min(doc_id) OVER (PARTITION BY $keys, island) AS canonical_id,
              doc_id > min(doc_id) OVER (PARTITION BY $keys, island) AS is_dup
       FROM isl ORDER BY doc_id"""
  }

  // q163 clock: event time = TtlEpochSec + doc_id · TtlStepSec, TTL =
  // TtlDocs · TtlStepSec — so the TTL horizon is exactly a doc_id-gap
  // rule and the oracle replays it without timestamps
  private val TtlDocs = 64L
  private val TtlStepSec = 60L
  private val TtlEpochSec = 1704067200L
  private val TtlFiles = 8

  /** Stage `dir`'s documents as [[TtlFiles]] per-arrival files covering
    * ascending doc_id ranges, file mtimes strictly increasing — so a
    * `maxFilesPerTrigger=1` run replays them oldest-first, one
    * micro-batch per file (the ordered per-shard arrival contract
    * packedSpans documents). Same atomic-publish idiom as
    * [[stageWithSentinel]]. */
  /** Fingerprint of the SOURCE parquet bytes (name:size:mtime per file,
    * md5'd) — folded into the staging cache tag so a regenerated fixture
    * with the same row count/max id but different content can never
    * serve stale staged arrival files (it re-stages instead). Pure
    * filesystem metadata: no extra data scan per run. */
  private def docsFingerprint(dir: String): String = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(dir, "documents.parquet")
    val files: Seq[java.nio.file.Path] =
      if (java.nio.file.Files.isDirectory(p)) {
        val s = java.nio.file.Files.list(p)
        try s.iterator().asScala.toVector.filter(java.nio.file.Files.isRegularFile(_))
        finally s.close()
      } else if (java.nio.file.Files.exists(p)) Seq(p)
      else Nil
    val sig = files.sortBy(_.toString).map { f =>
      s"${f.getFileName}:${java.nio.file.Files.size(f)}:" +
        java.nio.file.Files.getLastModifiedTime(f).toMillis
    }.mkString("|")
    java.security.MessageDigest.getInstance("MD5")
      .digest(sig.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
  }

  /** In-process memo of (dir|source fingerprint) → staged arrival path:
    * the staging cache itself is keyed by the corpus fingerprint (pure
    * file metadata, recomputed on EVERY call so a regenerated fixture
    * still re-stages), but deriving the cache tag also costs a Spark
    * count/max job — pure overhead on the 11 of 12 gate invocations per
    * bench run that hit the already-staged directory. Only the tag
    * derivation is memoized, never any query result. */
  private val stagedArrivalMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def stageDocArrivals(s: SparkSession, dir: String): String = {
    val fp = docsFingerprint(dir)
    val memoKey = s"$dir|$fp"
    val memoHit = stagedArrivalMemo.get(memoKey)
    if (memoHit != null &&
        java.nio.file.Files.isDirectory(java.nio.file.Paths.get(memoHit)))
      return memoHit
    val docs = graft.sources.Tables.documents(s, dir)
    val h = docs.agg(count(lit(1)), max(col("doc_id"))).head()
    val (nDocs, maxId) = (h.getLong(0), h.getLong(1))
    val dirTag = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    val tmp = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft-gate",
      s"docarr-v2-$dirTag-$fp-$nDocs-$maxId")
    if (!java.nio.file.Files.isDirectory(tmp)) {
      java.nio.file.Files.createDirectories(tmp.getParent)
      // the fingerprint in the tag means a REGENERATED fixture stages
      // fresh — so stale same-source stagings (old fingerprints, and
      // any v1-era dirs) must be swept or /tmp grows by one corpus
      // copy per regeneration
      import scala.jdk.CollectionConverters._
      val stale = java.nio.file.Files.list(tmp.getParent)
      try stale.iterator().asScala
        .filter { p =>
          val n = p.getFileName.toString
          n != tmp.getFileName.toString &&
            !n.contains("-scratch-") && // another JVM's in-flight staging
            (n.startsWith(s"docarr-v2-$dirTag-") || n.startsWith(s"docarr-v1-$dirTag-"))
        }
        .foreach(p => org.apache.commons.io.FileUtils.deleteDirectory(p.toFile))
      finally stale.close()
      val scratch = tmp.resolveSibling(
        s"${tmp.getFileName}-scratch-${java.util.UUID.randomUUID()}")
      java.nio.file.Files.createDirectories(scratch)
      val step = maxId / TtlFiles + 1
      (0 until TtlFiles).foreach { f =>
        val part = s"$scratch/part$f"
        docs.filter(col("doc_id") >= f * step && col("doc_id") < (f + 1) * step)
          .coalesce(1).write.mode("overwrite").parquet(part)
        val file = new java.io.File(part).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = scratch.resolve(f"documents_$f%04d.parquet")
        java.nio.file.Files.move(file.toPath, dst)
        // strictly increasing mtimes = deterministic arrival order
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(1700000000000L + f * 1000L))
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(part))
      }
      try java.nio.file.Files.move(scratch, tmp,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        case _: java.nio.file.FileAlreadyExistsException |
             _: java.nio.file.DirectoryNotEmptyException |
             _: java.nio.file.AccessDeniedException =>
          org.apache.commons.io.FileUtils.deleteDirectory(scratch.toFile)
      }
    }
    stagedArrivalMemo.put(memoKey, tmp.toString)
    tmp.toString
  }

  /** The q163 run, exposing the engine evidence the spec pins: returns
    * (result, micro-batch count, max state-store rows across batches). */
  private[graft] def sigDedupTtlRun(s: SparkSession, dir: String): (DataFrame, Long, Long) = {
    val staged = stageDocArrivals(s, dir)
    val stream = graft.streaming.EventStreams
      .readDocuments(s, staged, Map("maxFilesPerTrigger" -> "1"))
      .withColumn("ts",
        timestamp_seconds(lit(TtlEpochSec) + col("doc_id") * TtlStepSec))
      .select(col("doc_id"), col("ts"), col("text"))
    val sink = "q163_sink"
    s.catalog.dropTempView(sink)
    val q = runAdaptive(s, staged)(graft.streaming.EventStreams
      .signatureDedupedTtl(stream, TtlDocs * TtlStepSec * 1000L, "5 minutes")
      .writeStream.format("memory").queryName(sink)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start())
    val batches = q.lastProgress.batchId + 1
    val maxState = q.recentProgress
      .flatMap(_.stateOperators.map(_.numRowsTotal)).max
    (s.table(sink)
      .select(col("doc_id"), col("canonical_id"), col("is_dup"))
      .orderBy(col("doc_id")), batches, maxState)
  }

  /** q163: TTL-BOUNDED STREAMING SIGNATURE DEDUP — q70's
    * flatMapGroupsWithState dedup promoted to the production form the
    * q116/q119 scaffolding proved for windows/sessions: a MULTI-BATCH
    * run ([[TtlFiles]] per-arrival files, one micro-batch each) with
    * EVENT-TIME STATE EVICTION. Each signature's canonical chain is
    * remembered for [[TtlDocs]]·[[TtlStepSec]] of event time past its
    * last occurrence and RESETS on a larger gap (enforced inline, so
    * the result is exact under any batching); the EventTimeTimeout
    * callback removes dead chains from the state store once the
    * watermark passes their horizon — state = O(signatures per TTL
    * horizon), the bound q70's NoTimeout form cannot claim. The DuckDB
    * oracle replays the chain rule as per-signature gaps-and-islands
    * over doc_id — the hash only matches if cross-batch state carry,
    * inline TTL resets, and eviction-then-reappear all agree with the
    * closed form.
    */
  def q163StreamTtlDedup(s: SparkSession, dir: String): DataFrame =
    sigDedupTtlRun(s, dir)._1

  /** q82: STREAMING SEQUENCE PACKING on the gate — the incremental form
    * of q77 ([[graft.streaming.EventStreams.packedSpans]]: stateless
    * token-count projection + one flatMapGroupsWithState stage keyed by
    * source carrying the running token offset). One AvailableNow batch
    * over the documents file keeps the layout closed-form (within a
    * batch each source group sorts by doc_id), so the oracle IS q77's —
    * the hash only matches if the stateful streaming operator packed
    * exactly like the batch window-cumsum plan.
    *
    * PRODUCTION TWIN: [[q166StreamPackInc]] — the same operator run
    * genuinely multi-batch with cross-batch offset carry (this gate
    * pins the layout law; q166 pins the incremental state). The
    * single-batch shape here is a layout contract, not a caveat.
    */
  def q82StreamPack(s: SparkSession, dir: String): DataFrame = {
    val stream = graft.streaming.EventStreams.readDocuments(s, dir)
      .select(col("source"), col("doc_id"), col("text"))
    val sink = "q82_sink"
    s.catalog.dropTempView(sink)
    runAdaptive(s, s"$dir/documents.parquet")(
      graft.streaming.EventStreams.packedSpans(stream, 1024L)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start())
    s.table(sink)
      .select(col("source"), col("pack_id"), col("doc_id"), col("n_tok"),
        col("tok_in_pack"), col("is_head"))
      .orderBy(col("source"), col("pack_id"), col("doc_id"))
  }

  /** q166: INCREMENTAL STREAMING SEQUENCE PACKING — q82 promoted to a
    * genuine MULTI-BATCH run (the q163 staging: [[TtlFiles]] doc_id-
    * ordered arrival files, one micro-batch each), closing the
    * single-batch caveat for the running-offset state family. The
    * per-source token offset CARRIES ACROSS micro-batches in the
    * flatMapGroupsWithState state, and because arrivals are doc_id-
    * ascending (the per-shard ordered-arrival contract), the
    * incremental layout equals the batch q77 layout exactly — the
    * oracle is q77's verbatim, so the hash only matches if cross-batch
    * offset carry is exact. The spec additionally pins batches > 1.
    */
  def q166StreamPackInc(s: SparkSession, dir: String): DataFrame =
    streamPackIncRun(s, dir)._1

  private[graft] def streamPackIncRun(s: SparkSession, dir: String): (DataFrame, Long) = {
    val staged = stageDocArrivals(s, dir)
    val stream = graft.streaming.EventStreams
      .readDocuments(s, staged, Map("maxFilesPerTrigger" -> "1"))
      .select(col("source"), col("doc_id"), col("text"))
    val sink = "q166_sink"
    s.catalog.dropTempView(sink)
    val q = runAdaptive(s, staged)(
      graft.streaming.EventStreams.packedSpans(stream, 1024L)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start())
    val batches = q.lastProgress.batchId + 1
    (s.table(sink)
      .select(col("source"), col("pack_id"), col("doc_id"), col("n_tok"),
        col("tok_in_pack"), col("is_head"))
      .orderBy(col("source"), col("pack_id"), col("doc_id")), batches)
  }

  /** q175: CHECKPOINT RECOVERY of the stateful TTL dedup — the one
    * production streaming property q163 left unexercised: kill the
    * query mid-stream and PROVE the restart resumes from the state
    * store, not from scratch. The pipeline is q163's exactly
    * (signatureDedupedTtl over [[TtlFiles]] doc_id-ordered arrival
    * files, one micro-batch each, checkpointed parquet sink); here run
    * 1 sees only the first half of the arrival files, STOPS, the rest
    * land, and run 2 restarts from the SAME checkpoint. The oracle is
    * q163's closed form over the full corpus — the hash can only match
    * if (a) the file-source log resumes without reprocessing run 1's
    * files (a reprocess would double-emit into the append sink), and
    * (b) every signature chain OPEN at the kill point continues from
    * restored state (a cold restart would mint fresh canonical ids for
    * run-2 arrivals of live chains). The companion spec additionally
    * pins the batch accounting of both runs.
    */
  def q175StreamCkptRecovery(s: SparkSession, dir: String): DataFrame =
    sigDedupCkptRun(s, dir)._1

  /** The q175 run, exposing (result, run-1 batches, cumulative batches
    * after run 2) — batch ids CONTINUE across the restart, so run 2
    * processing exactly the second half shows up as cumulative = 2×. */
  private[graft] def sigDedupCkptRun(s: SparkSession, dir: String): (DataFrame, Long, Long) = {
    val staged = stageDocArrivals(s, dir)
    val arrivals = new java.io.File(staged).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val dirTag = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    // fresh per-run root (the q147 convention): the checkpoint is the
    // recovery mechanism WITHIN this gate's two runs, not across
    // logically distinct gate invocations
    val root = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft-gate", "q175",
      s"$dirTag-${ProcessHandle.current().pid()}").toString
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    val src = s"$root/arrivals"
    val out = s"$root/dedup"
    val cp = s"$root/checkpoint"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
    def land(fs: Array[java.io.File]): Unit = fs.foreach { f =>
      // COPY_ATTRIBUTES keeps the staged strictly-increasing mtimes =
      // deterministic arrival order under maxFilesPerTrigger=1
      java.nio.file.Files.copy(f.toPath,
        java.nio.file.Paths.get(src, f.getName),
        java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    }
    def runOnce(): Long = {
      val stream = graft.streaming.EventStreams
        .readDocuments(s, src, Map("maxFilesPerTrigger" -> "1"))
        .withColumn("ts",
          timestamp_seconds(lit(TtlEpochSec) + col("doc_id") * TtlStepSec))
        .select(col("doc_id"), col("ts"), col("text"))
      val q = runAdaptive(s, src)(graft.streaming.EventStreams
        .signatureDedupedTtl(stream, TtlDocs * TtlStepSec * 1000L, "5 minutes")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", cp)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start())
      q.lastProgress.batchId + 1
    }
    val half = arrivals.length / 2
    land(arrivals.take(half))
    val b1 = runOnce() // run 1: first half, then the engine STOPS
    land(arrivals.drop(half))
    val b2 = runOnce() // run 2: SAME checkpoint, only the new files
    (s.read.parquet(out)
      .select(col("doc_id"), col("canonical_id"), col("is_dup"))
      .orderBy(col("doc_id")), b1, b2)
  }

  /** q92: the STREAMING quality-filter cascade — q80's exact Column
    * tree ([[Curation.qualityCascade]], stateless) executed by the
    * streaming engine over the documents file source in APPEND mode
    * (the production form: a stateless projection needs no state store,
    * no watermark, emits every row once). The oracle is q80's verbatim:
    * the hash only matches if per-micro-batch execution of the cascade
    * is byte-identical to the batch plan — the filter-at-ingest shape a
    * 100 TB pipeline runs on arriving shards.
    */
  def q92StreamQuality(s: SparkSession, dir: String): DataFrame = {
    val stream = graft.streaming.EventStreams.readDocuments(s, dir)
      .select(col("doc_id"), col("text"))
    val sink = "q92_sink"
    s.catalog.dropTempView(sink)
    val q = Curation.qualityCascade(stream)
      .writeStream.format("memory").queryName(sink)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table(sink).orderBy(col("doc_id"))
  }

  /** Streaming ingest dedup against the historical corpus (q102): q99's
    * bloom-prefiltered exact dedup executed by the STREAMING engine —
    * dedup-at-ingest for arriving shards. The bloom probe is a pure
    * stateless projection (the packed filter ships as a literal, the
    * broadcast an ingest pipeline distributes to stream workers); the
    * exact verification is a stream-STATIC left join against the
    * historical md5 set with `bloom_hit` in the join condition, so
    * non-survivors never probe the static hash relation — the one-pass
    * streamable formulation of q99's survivor semi-join (no state
    * store, no watermark; the static side is batch). Hash-matches q99's
    * oracle verbatim: the batch and streaming runs must agree row for
    * row, cross-engine.
    */
  def q102StreamBloomDedup(s: SparkSession, dir: String): DataFrame = {
    val stream = graft.streaming.EventStreams.readDocuments(s, dir)
      .select(col("doc_id"), col("text"))
    val (hist, probed) = DedupSim.bloomParts(s, dir, stream)
    val histD = hist.distinct().withColumnRenamed("th", "th_h")
      .withColumn("dup", lit(true))
    val sink = "q102_sink"
    s.catalog.dropTempView(sink)
    val out = probed
      .join(broadcast(histD), col("th") === col("th_h") && col("bloom_hit"), "left")
      .select(col("new_id"), col("src_id"), col("bloom_hit"),
        coalesce(col("dup"), lit(false)).as("is_dup"),
        (!coalesce(col("dup"), lit(false))).as("kept"))
    val q = out.writeStream.format("memory").queryName(sink)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table(sink).orderBy(col("new_id"))
  }

  /** q106: SESSION WINDOWS executed by the streaming engine — the last
    * stateful streaming shape the family lacked (q58 tumbling windows,
    * q69/q70 dedup state, q82 running offsets; sessions are the only
    * MERGING state: two open sessions fuse when a late event bridges
    * them). `session_window(ts, 30 min)` + watermark, per-user count /
    * exact-long value sum, one AvailableNow run in complete mode (the
    * engine rejects update mode for session aggregations, and append
    * only emits a session after the watermark passes it — which a
    * finite replay's last batch never triggers; complete surfaces
    * every fully-merged session, q58's mode-honesty note verbatim:
    * production uses append + watermark eviction on an unbounded
    * stream).
    *
    * Boundary honesty: Spark merges an event into a session while
    * `ts < session_end = last_ts + gap`, so a gap of EXACTLY 30 min
    * starts a NEW session — the oracle replays `diff >= gap → new`
    * gaps-and-islands. The batch q16 sessionizer keeps `diff == gap`
    * in-session (`gap > gapSeconds → new`); same convention difference
    * as pandas' closed-interval resample vs Spark windows, documented
    * here because the two operators are otherwise interchangeable.
    */
  def q106StreamSessions(s: SparkSession, dir: String): DataFrame = {
    val events = graft.streaming.EventStreams.readEvents(s, dir)
      .withWatermark("ts", "2 hours")
    val agg = events
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        (sum(round(col("value") * 10000.0).cast("long")) / 10000.0).as("total_value"))
    val sink = "q106_sink"
    s.catalog.dropTempView(sink)
    // cpuBound: session-window MERGING is per-batch CPU, not commit
    // overhead — the r14 partition sweep (see StreamTune) reverses the
    // r13 regression here (2.05 -> 1.47 s at the 8-partition floor)
    runAdaptive(s, s"$dir/events.parquet", cpuBound = true)(
      agg.writeStream.format("memory").queryName(sink)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start())
    s.table(sink)
      .select(col("user_id"),
        col("sw.start").as("session_start"), col("sw.end").as("session_end"),
        col("n_events"), col("total_value"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** q119: the PRODUCTION APPEND form of q106 — session windows with
    * watermark EVICTION on the gate. A session emits exactly once,
    * after the 2-hour watermark passes its end (state = open sessions
    * only, the unbounded-stream contract complete mode cannot
    * exercise; update mode the engine rejects outright for session
    * aggregations). Same sentinel scaffolding as q116: one event 4
    * days past max ts advances the watermark past every real
    * session's end, the no-data micro-batch flushes them, and the
    * sentinel's own session (a singleton 4 days out, mergeable with
    * nothing) stays open and unemitted — filtered defensively too.
    * Oracle is q106's verbatim gaps-and-islands replay.
    */
  def q119StreamSessionsAppend(s: SparkSession, dir: String): DataFrame = {
    val (tmp, maxTs) = stageWithSentinel(s, dir)
    val sink = "q119_sink"
    s.catalog.dropTempView(sink)
    // cpuBound floor: same session-window merge CPU as q106 (measured
    // 2.75 -> 2.12 s at the 8-partition floor, r14)
    runAdaptive(s, tmp, cpuBound = true)(graft.streaming.EventStreams.readEvents(s, tmp)
      .withWatermark("ts", "2 hours")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        (sum(round(col("value") * 10000.0).cast("long")) / 10000.0).as("total_value"))
      .writeStream.format("memory").queryName(sink)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start())
    s.table(sink)
      .select(col("user_id"),
        col("sw.start").as("session_start"), col("sw.end").as("session_end"),
        col("n_events"), col("total_value"))
      .filter(col("session_start") <= lit(maxTs))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** Streaming incremental NEAR-DUP probe (q112): q101 executed at
    * ingest — arriving documents probe the historical corpus's MinHash
    * band index as they stream in. The q101 pipeline splits cleanly
    * into the streaming-legal shape: (1) a STATELESS typed projection
    * computes each arriving doc's full band signature in one pass
    * ([[DedupSim.bandVectorOf]], bit-identical to the batch
    * signatures); (2) a stream-STATIC equi-join on the bucket key
    * probes the persisted index (the static side is exactly what a
    * q39 batch run materializes — an ingest pipeline broadcasts it to
    * stream workers); (3) ONE streaming aggregation folds the best
    * candidate per new doc — max(struct(shared, -match_id)) replays
    * the (n_buckets desc, match_id asc) rule, and a pair surfacing in
    * several buckets is harmless under max. Exact-Jaccard
    * verification runs batch on the sink (one pair per new doc),
    * through the SAME tail as q101 — the oracle is q101's verbatim,
    * so the hash proves batch/stream agreement cross-engine.
    * Single-batch layout contract = q70/q82's (production multi-batch
    * state carry is pinned by their twins q163/q166; the streaming
    * aggregation here is the same state machinery).
    */
  /** q188: STREAMING CDC INGEST DEDUP — q187's landmark-chunk probe run
    * by the streaming engine (the q112 discipline applied to the chunk
    * axis): the arriving shard chunks STREAM-SIDE (cdcChunks is pure
    * narrow projection — stream-legal), left-joins the STATIC history
    * chunk index (stream-static join, stateless), and aggregates per
    * (doc, chunk-hash) in update mode; the per-document rollup runs
    * batch-side over the sink. Contract difference from q187, by
    * design: a stateless streaming probe dedups each document against
    * HISTORY and against ITSELF — the cross-document intra-shard layer
    * needs corpus state and is q187's batch job (same split as
    * q101/q112). A chunk type absent from history counts fresh once
    * per document that carries it.
    *
    * Scale shape: the history index prunes to its 16-byte hash column
    * before the join; the shard's chunk rows repartition off the single
    * arrival file so the probe parallelizes; state is per-(doc, hash)
    * within the running aggregate — bounded by the shard, evicted with
    * the query.
    */
  def q188StreamCdcIngest(s: SparkSession, dir: String): DataFrame = {
    val hist = graft.sources.Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
    val histH = TextAnalytics.chunkHashIndex(hist)
    // spread the shard BEFORE the CDC chunk kernel (q112's discipline:
    // one arrival file = one input task; explicit parallelism because
    // runAdaptive's volume-derived shuffle partitions size the state
    // stores, not this CPU-spreading exchange)
    val stream = DedupSim.newShardOf(
      graft.streaming.EventStreams.readDocuments(s, dir)
        .select(col("doc_id"), col("text")))
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
    val ch = TextAnalytics.chunkHashFrame(stream)
    val perHash = ch.join(histH, Seq("h"), "left")
      .groupBy(col("doc_id"), col("h"))
      .agg(count(lit(1)).as("cnt"), min(col("clen")).as("clen"),
        max(coalesce(col("in_hist"), lit(false))).as("in_hist"))
    val sink = "q188_sink"
    s.catalog.dropTempView(sink)
    runAdaptive(s, s"$dir/documents.parquet")(
      perHash.writeStream.format("memory").queryName(sink)
        .outputMode("update")
        .trigger(Trigger.AvailableNow())
        .start())
    s.table(sink)
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_chunks"),
        sum(when(col("in_hist"), col("cnt")).otherwise(0L)).as("n_hist_dup"),
        sum(when(!col("in_hist"), col("cnt") - 1).otherwise(0L)).as("n_self_dup"),
        sum(col("cnt") * col("clen")).as("n_chars_total"),
        sum(when(col("in_hist"), 0L).otherwise(col("clen"))).as("n_chars_fresh"))
      .withColumn("fresh_bp", expr("(n_chars_fresh * 10000) div n_chars_total"))
      .orderBy(col("doc_id"))
  }

  /** q209: STREAMING DECONTAMINATION AT INGEST — q207's exact-substring
    * benchmark-leakage rule executed by the streaming engine as train
    * documents arrive (the q112/q188 "probe a static reference
    * in-stream" discipline applied to the suffix axis). The identity
    * that makes an EXACT stateless streaming form possible: a train
    * position is covered by an eval-matching duplicated run of length
    * ≥ SufL iff it is covered by an eval-matching window of length
    * EXACTLY SufL — every L-subwindow of a verbatim run is itself
    * verbatim, and the union of a run's L-subwindows reconstructs the
    * run — so the suffix ORDER is not needed in-stream; the static
    * side reduces to the benchmark corpus's distinct L-token-hash
    * window set.
    *
    * Shape: the static side windows the eval slice (doc_id ≡ 3 mod 11,
    * [[TextAnalytics.suffixWindows]]); arriving train docs window
    * identically (pure narrow projection — stream-legal), LEFT SEMI
    * join the static set, and matched positions land in the sink;
    * the per-doc span union + count report runs batch-side over the
    * sink through q205's shared tail. Gated against the q207 ORACLE
    * VERBATIM ([[TextAnalytics.decontamOracleSql]]): the batch
    * suffix-order route and this streaming fixed-window route must
    * hash-match the same DuckDB replay — each cross-validates the
    * other.
    *
    * Scale shape (the production story): benchmarks are MBs against
    * TBs of train, so the eval window frame broadcasts and the
    * in-stream work is a stateless broadcast semi-join per micro-batch
    * — no state store, trivial checkpoint recovery (the q175/q202
    * machinery carries over unchanged); sink volume is bounded by the
    * contaminated-position count. The window expansion multiplies the
    * stream by ~n_tokens rows per doc BEFORE the semi-join drops
    * non-matches, which is the same per-token linear cost the batch
    * suffix sort pays — but here it never shuffles: generator → join →
    * sink is one pipelined stage per micro-batch.
    */
  def q209StreamDecontam(s: SparkSession, dir: String): DataFrame = {
    val isEval = col("doc_id") % TextAnalytics.DecontamMod === TextAnalytics.DecontamRes
    val batch = graft.sources.Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val evalWins = TextAnalytics.suffixWindows(batch.where(isEval))
      .select(col("wkey")).distinct()
    val stream = graft.streaming.EventStreams.readDocuments(s, dir)
      .select(col("doc_id"), col("text"))
      .where(!isEval)
    // spread the probe off the single arrival file before the window
    // expansion (the q112/q188 lesson — doc_id keying parallelizes even
    // a contamination-heavy batch, since positions belong to many docs)
    // (explicit parallelism: runAdaptive's volume-derived shuffle
    // partitions size state stores, not this CPU-spreading exchange)
    val matched = TextAnalytics.suffixWindows(
        stream.repartition(s.sparkContext.defaultParallelism, col("doc_id")))
      .join(evalWins, Seq("wkey"), "left_semi")
      .select(col("doc_id"), col("pos"),
        (col("pos") + TextAnalytics.SufL).as("e"))
    // union spans PER MICRO-BATCH, before anything leaves the executors:
    // a document's window rows are a projection of its single source
    // row, so they land in one batch and the per-batch union is
    // complete per doc. The sink therefore holds SPANS (which collapse
    // toward one row per doc as contamination grows — an
    // all-contaminated corpus sinks ~n_docs rows), never raw matched
    // positions (which grow toward corpus token count on the same
    // adversary — a driver-heap hazard under a memory sink, and wasted
    // I/O under any sink; review finding). Distributed file sink, no
    // state store.
    val spanDir = java.nio.file.Files.createTempDirectory("graft-q209-spans")
    spanDir.toFile.deleteOnExit()
    val cp = java.nio.file.Files.createTempDirectory("graft-q209-cp")
    cp.toFile.deleteOnExit()
    runAdaptive(s, s"$dir/documents.parquet")(matched.writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          _: Long) =>
        TextAnalytics.spanUnion(b).select(col("doc_id"), col("s"), col("e"))
          .write.mode("append").parquet(spanDir.toString)
      }
      .option("checkpointLocation", cp.toString)
      .trigger(Trigger.AvailableNow())
      .start())
    // explicit schema: a zero-contamination run appends no files and the
    // read must yield an empty frame, not an inference error
    val spans = s.read.schema("doc_id LONG, s LONG, e LONG")
      .parquet(spanDir.toString)
    val perDoc = TextAnalytics.suffixToks(batch.where(!isEval))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
    // spanUnionReport re-unions, which is idempotent on the already-
    // disjoint per-doc spans — the one shared copy of the report tail
    val report = TextAnalytics.spanUnionReport(perDoc,
      spans.select(col("doc_id"), col("s").as("pos"), col("e")),
      "n_contam", "n_spans", "n_clean", "contam_bp")
    // the report is doc-count-sized: materialize it, then release the
    // span files (the suffix family's localCheckpoint + cleanup
    // discipline applied to the sink artifacts)
    val out = report.localCheckpoint(true)
    def rmTree(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverseIterator
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
    }
    rmTree(spanDir); rmTree(cp)
    out
  }

  def q112StreamNearDup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // spread the arriving shard across tasks BEFORE the signature
    // kernel: the shard is one file (one input task), and both the
    // 32-slot MinHash flatMap and the broadcast-join candidate mass
    // (dominated by mega buckets) would otherwise funnel through it
    // (measured single-core). One stateless shuffle of the SHARD's doc
    // rows (shard-sized, not corpus-sized); keying by doc_id spreads
    // even a single mega bucket, since its candidates belong to many
    // new docs. Explicit numPartitions: the gate runs under
    // runAdaptive's volume-derived shuffle partitions, which size the
    // STATE stores — this exchange exists to spread CPU, so it takes
    // the machine parallelism instead.
    val stream = DedupSim.newShardOf(
      graft.streaming.EventStreams.readDocuments(s, dir)
        .select(col("doc_id"), col("text")))
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
    val streamBands = stream.as[(Long, String)]
      .flatMap { case (id, text) =>
        val bv = DedupSim.bandVectorOf(text)
        bv.indices.map(b => (id, b.toLong, bv(b), bv.toSeq))
      }.toDF("new_id", "band_idx", "band_hash", "bvec_new")
    val hist = DedupSim.histBandRows(s, dir)
      .select(col("doc_id").as("match_id"), col("band_idx"), col("band_hash"),
        col("bvec").as("bvec_hist"))
    // shared-band count as 8 codegen'd element comparisons — the
    // zip_with/filter HOF formulation runs interpreted per candidate
    // row and was measured 3x slower on the dense-candidate corpus
    val shared = (0 until DedupSim.LshBands)
      .map(b => when(col("bvec_new")(b) === col("bvec_hist")(b), 1L).otherwise(0L))
      .reduce(_ + _)
    val cand = streamBands.join(hist, Seq("band_idx", "band_hash"))
      .withColumn("shared", shared)
    val agg = cand.groupBy(col("new_id"))
      .agg(max(struct(col("shared").as("sh"), (-col("match_id")).as("neg"))).as("best"))
    val sink = "q112_sink"
    s.catalog.dropTempView(sink)
    runAdaptive(s, s"$dir/documents.parquet")(
      agg.writeStream.format("memory").queryName(sink)
        .outputMode("update")
        .trigger(Trigger.AvailableNow())
        .start())
    val best = s.table(sink).select(
      (-col("best.neg")).as("match_id"), col("new_id"), col("best.sh").as("n_buckets"))
    DedupSim.incProbeTail(s, dir, best)
  }

  /** q134: STREAM-STREAM INTERVAL JOIN on the gate — the attribution
    * join (every click within 1 hour after a view by the same user)
    * run by the streaming engine itself: two readStreams over the same
    * event source, per-side event-time watermarks, inner equi-join with
    * a time-range predicate. The range bound + watermarks are what let
    * the engine EVICT join state (a view older than watermark−1h can
    * never match again) — the unbounded-stream contract this gate
    * exercises; without them state grows with the stream.
    *
    * Inner-join matches emit as they form (append mode holds back
    * nothing for inner joins), so a finite AvailableNow replay needs no
    * sentinel. The oracle is the batch self-join verbatim — a hash
    * match proves the streaming join emits exactly the batch pair set,
    * with lags as exact microsecond BIGINTs.
    *
    * Scale shape: both sides shuffle once on user_id (the equality
    * key); state per key is bounded by the 1-hour range × arrival rate
    * after watermark eviction. The batch twin of this plan is q130's
    * first-stage join; this is its continuous form.
    */
  def q134StreamIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val views = graft.streaming.EventStreams.readEvents(s, dir)
      .filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", "2 hours")
    val clicks = graft.streaming.EventStreams.readEvents(s, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    val joined = views.join(clicks,
      expr("""user_id = c_user AND
              click_ts > view_ts AND
              click_ts <= view_ts + interval 1 hour"""))
    val sink = "q134_sink"
    s.catalog.dropTempView(sink)
    runAdaptive(s, s"$dir/events.parquet")(
      joined.writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start())
    s.table(sink)
      .select(col("user_id"), col("view_id"), col("click_id"),
        col("view_ts"), col("click_ts"),
        (unix_micros(col("click_ts")) - unix_micros(col("view_ts"))).as("lag_us"))
      .orderBy(col("view_id"), col("click_id"))
  }

  /** q139: stream-stream LEFT OUTER interval join — q134's attribution
    * join in the mode that exercises the engine's OTHER emission path:
    * an unmatched view can only emit its null row after the watermark
    * proves no qualifying click can still arrive (view_ts + 1h <
    * watermark), so outer results are watermark-HELD, not immediate.
    * A finite replay's last batch never advances the watermark past
    * the final views — the q116 sentinel scaffolding (one arrival 4
    * days out) closes every real view's window, and the no-data batch
    * flushes the held null rows. Sentinel-derived views are filtered
    * (view_ts ≤ real max ts); a sentinel click matches nothing (no
    * view within an hour of it).
    *
    * The oracle is the batch LEFT JOIN verbatim — the hash proves the
    * engine emits each matched pair once AND each unmatched view
    * exactly once with nulls, the full outer contract. State shape is
    * q134's (user-keyed, range-bounded, watermark-evicted).
    */
  def q139StreamOuterJoin(s: SparkSession, dir: String): DataFrame = {
    val (tmp, maxTs) = stageWithSentinel(s, dir)
    val views = graft.streaming.EventStreams.readEvents(s, tmp)
      .filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", "2 hours")
    val clicks = graft.streaming.EventStreams.readEvents(s, tmp)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    val joined = views.join(clicks,
      expr("""user_id = c_user AND
              click_ts > view_ts AND
              click_ts <= view_ts + interval 1 hour"""),
      "leftOuter")
    val sink = "q139_sink"
    s.catalog.dropTempView(sink)
    runAdaptive(s, tmp)(
      joined.writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start())
    s.table(sink)
      .filter(col("view_ts") <= lit(maxTs))
      .select(col("user_id"), col("view_id"), col("click_id"),
        col("view_ts"), col("click_ts"),
        (unix_micros(col("click_ts")) - unix_micros(col("view_ts"))).as("lag_us"),
        col("click_id").isNotNull.as("converted"))
      .orderBy(col("view_id"), col("click_id"))
  }

  /** q147: STREAMING PARTITIONED FILE SINK — q140's curated-corpus
    * export produced by the streaming engine's checkpointed parquet
    * sink: documents stream through the (stateless, codegen) Gopher
    * cascade, passing rows land in a Hive-partitioned parquet corpus
    * via the file sink's write-ahead commit log (the exactly-once
    * mechanism a continuous ingest relies on), and the gate reads the
    * corpus back through partition discovery. Oracle = q140's
    * verbatim — the streaming sink must produce exactly the batch
    * export.
    *
    * Fresh sink+checkpoint dirs per run: the commit log is the
    * idempotence mechanism ACROSS restarts of one stream, not across
    * logically distinct runs.
    *
    * The `observe` node between the cascade and `filter(pass)` is an
    * OPTIMIZER BARRIER (plus free per-batch row observability): without
    * it, filter pushdown substitutes the six-rule conjunction — both
    * trigram HOF chains included — into a Filter below the projection,
    * re-evaluating the heavy expressions many times per row (q140's
    * measured 15 s pathology; a stream cannot use q140's persist
    * barrier). PushPredicateThroughNonJoin does not cross
    * CollectMetrics, so the cascade is computed once in its own
    * codegen'd projection and the filter reads the `pass` column —
    * measured round 13: the scored noop falls 13.4 s → 0.9 s, the gate
    * 12.4 s → ~3 s.
    */
  def q147StreamExport(s: SparkSession, dir: String): DataFrame = {
    val dirTag = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    val root = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft-gate", "q147",
      s"$dirTag-${ProcessHandle.current().pid()}").toString
    val out = s"$root/corpus"
    val cp = s"$root/checkpoint"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    val scored = TextAnalytics.gopherRulesOf(
        graft.streaming.EventStreams.readDocuments(s, dir)
          .select(col("doc_id"), col("text"), col("source")),
        keep = Seq("source"))
      .observe("q147_scored", count(lit(1)).as("n_scored"))
      .filter(col("pass"))
      .select(col("doc_id"), col("n_words"), col("g3_distinct"), col("source"))
    val q = scored.writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", cp)
      .partitionBy("source")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.schema(scored.schema).parquet(out)
      .select(col("doc_id"), col("n_words"), col("g3_distinct"), col("source"))
      .orderBy(col("doc_id"))
  }

  /** q158 image key space: 61 (prime, ≤ the fixture's 64 content
    * classes) so arrivals mix genuine dups (key seen in the historical
    * shard) with novel images. Historical index = docs 0..31 (an
    * earlier ingest shard). */
  private val WHashKeys = 61L
  private val WHashHistN = 32L

  /** The shared q158 decode kernel: image keyed `id % 61`, PNG/BMP
    * round trip alternating on `(id / 61) % 2` via the ONE
    * [[Media.roundTripImage]] codec helper (the q125/q153 path —
    * index and probe cannot drift from the batch gates). */
  private def wHashOf(id: Long): Long =
    graft.multimodal.Multimodal.hadamardHash(Media.roundTripImage(id, WHashKeys))

  /** q158: STREAMING IMAGE-HASH INGEST DEDUP — the multimodal member of
    * the ingest-dedup family (q102 exact text by md5, q112 near-dup
    * text by MinHash; this is the IMAGE axis): arriving documents'
    * images are decoded and wHash-fingerprinted (q153's
    * Walsh–Hadamard hash through the real PNG/BMP codecs) INSIDE the
    * streaming engine as a stateless mapPartitions kernel, then
    * stream-static left-joined against the historical hash
    * index — dup-at-ingest for a scraped image corpus, where the same
    * photo arrives re-encoded under a different container. No state
    * store, no watermark; the static side is the persisted index an
    * earlier q153 run materialized.
    *
    * Scale shape: decode cost rides the stream partition (one codec
    * context per executor thread); the index is hash+src_id only
    * (bytes never join). The static side is NOT broadcast-hinted: the
    * historical wHash index grows with every image ever ingested —
    * unbounded in the production framing — so the join must be free to
    * shuffle on `whash` (q112's stream-static discipline,
    * [[q112StreamNearDup]]); the micro-batch planner/AQE may still pick
    * broadcast while the index is small. The stream side is
    * repartitioned on the join key AFTER decode, so the probe spreads
    * off the arriving file's few input tasks at hash-row (not image-
    * byte) width.
    */
  def q158StreamImageDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hist = graft.sources.Tables.documents(s, dir)
      .filter(col("doc_id") < WHashHistN)
      .select(col("doc_id")).as[Long]
      .mapPartitions(it => it.map(id => (id, wHashOf(id))))
      .toDF("h_id", "whash")
      .groupBy(col("whash")).agg(min(col("h_id")).as("src_id"))
    // spread the DECODE off the single arrival file first (the
    // q112/q188 lesson), then key the probe by the join column; both
    // take the machine parallelism explicitly — runAdaptive's
    // volume-derived shuffle partitions size state stores, not these
    // CPU-spreading exchanges
    val stream = graft.streaming.EventStreams.readDocuments(s, dir)
      .filter(col("doc_id") >= WHashHistN)
      .select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism, col("doc_id")).as[Long]
      .mapPartitions(it => it.map(id => (id, wHashOf(id))))
      .toDF("new_id", "whash")
      .repartition(s.sparkContext.defaultParallelism, col("whash"))
    val sink = "q158_sink"
    s.catalog.dropTempView(sink)
    val out = stream.join(hist, Seq("whash"), "left")
      .select(col("new_id"), col("whash"),
        col("src_id").isNotNull.as("is_dup"), col("src_id"))
    runAdaptive(s, s"$dir/documents.parquet")(
      out.writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start())
    s.table(sink).orderBy(col("new_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q158_stream_image_dedup" -> (q158StreamImageDedup _),
    "q147_stream_export" -> (q147StreamExport _),
    "q139_stream_outer_join" -> (q139StreamOuterJoin _),
    "q134_stream_interval_join" -> (q134StreamIntervalJoin _),
    "q112_stream_neardup" -> (q112StreamNearDup _),
    "q188_stream_cdc_ingest" -> (q188StreamCdcIngest _),
    "q209_stream_decontam" -> (q209StreamDecontam _),
    "q106_stream_sessions" -> (q106StreamSessions _),
    "q119_stream_sessions_append" -> (q119StreamSessionsAppend _),
    "q58_stream_window" -> (q58StreamWindow _),
    "q116_stream_window_append" -> (q116StreamWindowAppend _),
    "q92_stream_quality" -> (q92StreamQuality _),
    "q102_stream_bloom" -> (q102StreamBloomDedup _),
    "q69_stream_dedup" -> (q69StreamDedup _),
    "q70_stream_sig_dedup" -> (q70StreamSigDedup _),
    "q163_stream_ttl_dedup" -> (q163StreamTtlDedup _),
    "q175_stream_ckpt_recovery" -> (q175StreamCkptRecovery _),
    "q82_stream_pack" -> (q82StreamPack _),
    "q166_stream_pack_inc" -> (q166StreamPackInc _),
  )

  // gaps-and-islands replay of Spark's session merge rule: an event
  // at exactly session_end (diff == gap) opens a NEW session; shared by
  // q106 (complete mode) and q119 (append mode) — identical expected frame
  private val sessionsSql: String =
      """WITH g AS (SELECT user_id, ts, value,
                CASE WHEN lag(ts) OVER w IS NULL
                          OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                     THEN 1 ELSE 0 END AS new_s
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         isl AS (SELECT user_id, ts, value,
                 sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS island
                 FROM g)
         SELECT user_id,
                min(ts) AS session_start,
                max(ts) + INTERVAL 30 MINUTE AS session_end,
                count(*) AS n_events,
                CAST(sum(CAST(round(value * 10000.0) AS BIGINT)) AS DOUBLE) / 10000.0
                  AS total_value
         FROM isl GROUP BY user_id, island
         ORDER BY user_id, session_start"""

  val oracleSql: Map[String, String] = Map(
    // q209 gates against the q207 oracle VERBATIM — the streaming
    // fixed-window route must reproduce the batch suffix-order route's
    // report exactly (the L-subwindow identity, stated at the query)
    "q209_stream_decontam" -> TextAnalytics.decontamOracleSql,
    // the q153 wHash replay over the 61-key space; historical index =
    // docs 0..31, arrivals left-join it by hash
    "q158_stream_image_dedup" ->
      s"""WITH docs AS (SELECT doc_id, doc_id % $WHashKeys AS gid FROM documents),
        |${Media.whashCtes},
        |dh AS (SELECT d.doc_id, h.whash FROM docs d JOIN hashes h USING (gid)),
        |hist AS (SELECT whash, min(doc_id) AS src_id FROM dh
        |         WHERE doc_id < $WHashHistN GROUP BY 1)
        |SELECT dh.doc_id AS new_id, dh.whash,
        |       hist.src_id IS NOT NULL AS is_dup, hist.src_id
        |FROM dh LEFT JOIN hist USING (whash)
        |WHERE dh.doc_id >= $WHashHistN ORDER BY new_id""".stripMargin,
    // the streaming file sink must produce exactly the batch export
    "q147_stream_export" -> Curation.oracleSql("q140_partitioned_export"),
    // the batch self-join verbatim: the streaming join must emit
    // exactly this pair set, once each
    "q134_stream_interval_join" ->
      """SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
                v.ts AS view_ts, c.ts AS click_ts,
                epoch_us(c.ts) - epoch_us(v.ts) AS lag_us
         FROM events v JOIN events c
           ON c.user_id = v.user_id
          AND v.event_type = 'view' AND c.event_type = 'click'
          AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 1 HOUR
         ORDER BY view_id, click_id""",
    // the batch LEFT JOIN verbatim: matched pairs once each, plus one
    // null row per unmatched view
    "q139_stream_outer_join" ->
      """SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
                v.ts AS view_ts, c.ts AS click_ts,
                epoch_us(c.ts) - epoch_us(v.ts) AS lag_us,
                (c.event_id IS NOT NULL) AS converted
         FROM events v LEFT JOIN events c
           ON c.user_id = v.user_id
          AND c.event_type = 'click'
          AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 1 HOUR
         WHERE v.event_type = 'view'
         ORDER BY view_id, click_id""",
    "q106_stream_sessions" -> sessionsSql,
    "q119_stream_sessions_append" -> sessionsSql,
    "q58_stream_window" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start, event_type,
         count(*) AS n_events,
         CAST(sum(CAST(round(value * 10000.0) AS BIGINT)) AS DOUBLE) / 10000.0 AS total_value
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    // append mode must emit exactly the batch answer (sentinel window
    // excluded by construction): q58's oracle verbatim
    "q116_stream_window_append" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start, event_type,
         count(*) AS n_events,
         CAST(sum(CAST(round(value * 10000.0) AS BIGINT)) AS DOUBLE) / 10000.0 AS total_value
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    // ONE copy of the closed form — the hash only matches when the
    // streaming dedup dropped every replayed duplicate and nothing else
    "q69_stream_dedup" ->
      s"""WITH e AS (SELECT unnest(range($DedupN)) AS i),
         ev AS (SELECT i,
                  TIMESTAMP '2024-01-01 00:00:00'
                    + ((i * 7919) % ${30L * 86400}) * INTERVAL 1 SECOND AS ts,
                  (['view', 'click', 'purchase', 'signup', 'error'])[CAST(i % 5 AS INT) + 1]
                    AS event_type,
                  CAST(i % 10000 AS DOUBLE) / 100.0 AS value
                FROM e)
         SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start, event_type,
                count(*) AS n_events,
                CAST(sum(CAST(round(value * 10000.0) AS BIGINT)) AS DOUBLE) / 10000.0
                  AS total_value
         FROM ev GROUP BY 1, 2 ORDER BY 1, 2""",
    "q70_stream_sig_dedup" -> streamSigDedupSql,
    "q163_stream_ttl_dedup" -> streamTtlDedupSql,
    // recovery must reproduce the uninterrupted run exactly: q163's
    // closed form verbatim — double-emits or cold-restarted chains
    // cannot hash-match it
    "q175_stream_ckpt_recovery" -> streamTtlDedupSql,
    // the streaming packer must reproduce the batch layout EXACTLY —
    // same oracle as q77, verbatim
    "q82_stream_pack" -> Chunking.oracleSql("q77_pack"),
    "q166_stream_pack_inc" -> Chunking.oracleSql("q77_pack"),
    // the streaming cascade must reproduce the batch verdicts EXACTLY —
    // same oracle as q80, verbatim
    "q92_stream_quality" -> Curation.oracleSql("q80_quality_gate"),
    "q102_stream_bloom" -> DedupSim.bloomDedupOracle,
    // the streaming probe must reproduce the batch probe EXACTLY -
    // q101's oracle verbatim
    "q112_stream_neardup" -> DedupSim.incNearDupOracle,
    // q188: the shared chunk CTEs over both corpora; per-doc rollup with
    // history-dup / self-dup split (no cross-doc intra-shard layer — the
    // stateless-probe contract, see the query scaladoc)
    "q188_stream_cdc_ingest" ->
      s"""WITH hd AS (SELECT doc_id, text FROM documents),
        |nd AS (SELECT doc_id + ${DedupSim.NearDupOffset} AS doc_id,
        |              CASE WHEN doc_id % 3 = 0 THEN 'update: ' || text
        |                   ELSE 'zz' || doc_id || 'a zz' || doc_id || 'b zz' || doc_id || 'c'
        |              END AS text
        |       FROM documents),
        |${TextAnalytics.cdcChunkCtes("hd", "h")},
        |${TextAnalytics.cdcChunkCtes("nd", "n")},
        |hh AS (SELECT DISTINCT md5(chunk) AS h FROM hck),
        |nper AS (SELECT doc_id, md5(chunk) AS h, CAST(count(*) AS BIGINT) AS cnt,
        |              CAST(min(clen) AS BIGINT) AS clen
        |       FROM nck GROUP BY 1, 2),
        |fl AS (SELECT nper.doc_id, nper.cnt, nper.clen, hh.h IS NOT NULL AS in_hist
        |       FROM nper LEFT JOIN hh USING (h))
        |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_chunks,
        |       CAST(sum(CASE WHEN in_hist THEN cnt ELSE 0 END) AS BIGINT) AS n_hist_dup,
        |       CAST(sum(CASE WHEN NOT in_hist THEN cnt - 1 ELSE 0 END) AS BIGINT)
        |         AS n_self_dup,
        |       CAST(sum(cnt * clen) AS BIGINT) AS n_chars_total,
        |       CAST(sum(CASE WHEN in_hist THEN 0 ELSE clen END) AS BIGINT)
        |         AS n_chars_fresh,
        |       CAST(sum(CASE WHEN in_hist THEN 0 ELSE clen END) * 10000
        |            // sum(cnt * clen) AS BIGINT) AS fresh_bp
        |FROM fl GROUP BY 1 ORDER BY doc_id""".stripMargin,
  )
}
