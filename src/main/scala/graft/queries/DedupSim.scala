package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{GroupPairs, Ops, SetSimJoin}
import graft.functions.TextFunctions._
import graft.sources.Tables

/** Deduplication + similarity-search queries: exact dedup, token-set
  * Jaccard near-dup, MinHash+LSH candidates, SimHash, brute-force cosine
  * top-k, and an LSH-bucketed ANN variant (the scale path).
  *
  * Scale notes per query are in each scaladoc — the all-pairs variants are
  * the correctness baselines; the banded/bucketed versions are what runs
  * at 100 TB.
  */
object DedupSim {

  private val MinhashK = 32
  private[queries] val LshBands = 8
  private val SimhashSeed = 100 // seed base for the 64 SimHash bit planes
  private val SimhashMaxHamming = 8 // near-dup threshold for q37
  private val AnnPlanes = 12
  private val AnnSeed = 200 // seed base for the ANN hyperplane signs

  /** Exact dedup by content hash (hash-groupBy; one shuffle on md5(text)). */
  def q24ExactDedup(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(md5(col("text").cast("binary")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keep_id"))

  private val BloomBits = 32768L

  /** Id offset of the synthetic "newly arriving shard" shared by the two
    * day-2 incremental queries (q99 exact, q101 near-dup): new_id =
    * doc_id + NearDupOffset, so src ids and new ids never collide.
    * 2^61 so the hist-below/new-above ORDER invariant the q101 boundary
    * kernel rides on survives any realistic id space — the ×10
    * ScaleStress replica shifts ids by 10⁹, which overran the old 10⁶
    * offset and silently misclassified replica hist docs as new.
    */
  private[graft] val NearDupOffset = 1L << 61

  /** Incremental bloom-prefiltered dedup (q99): dedup a NEWLY ARRIVING
    * shard against a historical corpus without shuffling the whole
    * shard — the day-2 shape of exact dedup (q24 is the day-1 batch).
    * The new shard is a closed-form re-ingest of the corpus: every
    * doc_id%3==0 document returns verbatim (a re-crawl duplicate),
    * the rest return with a revision marker (genuinely new content);
    * dedup is content-driven via md5, never id-driven.
    *
    * Pipeline: (1) build a [[BloomBits]]-bit k=2 bloom filter over the
    * historical md5 set — two portable salted hashes per key, bit
    * positions aggregated DISTRIBUTED and collected bounded by the
    * filter size (≤ BloomBits rows), never the corpus; (2) probe the
    * packed filter as a literal long-array in a codegen'd projection
    * over the new shard (shiftright + mask — no UDF, no shuffle);
    * (3) only bloom survivors join the historical hash set for exact
    * verification (left-semi). No false negatives by construction, so
    * the exact join sees every true duplicate; false positives are
    * culled by the join. `bloom_hit` is emitted so FP auditing is a
    * projection — and the oracle replays the bloom as a set-membership
    * check on the same bit positions, putting the filter itself on the
    * hash gate.
    *
    * Scale: the filter is sized to the HISTORICAL cardinality (~10 bits
    * per key at 1% FP); up to ~10⁹ keys that is a ~1 GB broadcast and
    * the new-shard side never shuffles for the non-dup majority. Beyond
    * that, production shards the filter by key range or falls back to
    * the plain shuffled anti-join — the join tail here is exactly that
    * fallback, so the operator degrades, not breaks.
    */
  def q99BloomDedup(s: SparkSession, dir: String): DataFrame = {
    val (hist, probed) = bloomParts(s, dir, Tables.documents(s, dir))
    val dupIds = probed.filter(col("bloom_hit"))
      .join(hist.distinct(), Seq("th"), "left_semi")
      .select(col("new_id"), lit(true).as("dup"))
    probed.join(dupIds, Seq("new_id"), "left")
      .select(col("new_id"), col("src_id"), col("bloom_hit"),
        coalesce(col("dup"), lit(false)).as("is_dup"),
        (!coalesce(col("dup"), lit(false))).as("kept"))
      .orderBy(col("new_id"))
  }

  /** q99's shared machinery over any `(doc_id, text)` frame — batch
    * (q99) or streaming (q102): the historical md5 set read from `dir`,
    * and the new-shard construction + packed-bloom probe applied to
    * `docs` as pure stateless projections. The bloom is built from the
    * BATCH historical side regardless (it is the persisted index an
    * ingest pipeline ships to its stream workers as a broadcast).
    */
  private[queries] def bloomParts(s: SparkSession, dir: String,
      docs: DataFrame): (DataFrame, DataFrame) = {
    import graft.functions.PortableStringHash.strHash
    val hist = Tables.documents(s, dir)
      .select(md5(col("text").cast("binary")).as("th"))
    val newShard = docs.select(
      (col("doc_id") + lit(NearDupOffset)).as("new_id"),
      col("doc_id").as("src_id"),
      md5(when(col("doc_id") % 3 === 0, col("text"))
        .otherwise(concat(col("text"), lit(" [rev2]"))).cast("binary")).as("th"))
    def bloomPos(salt: String, th: Column) =
      pmod(strHash(concat(lit(salt), th)), lit(BloomBits))
    val setBits = hist
      .select(explode(array(
        bloomPos("bloom1|", col("th")), bloomPos("bloom2|", col("th")))).as("bit"))
      .distinct() // bounded by BloomBits, never the corpus
      .collect().map(_.getLong(0))
    val words = new Array[Long]((BloomBits / 64).toInt)
    setBits.foreach { b => words((b / 64).toInt) |= (1L << (b % 64).toInt) }
    val probed = newShard
      .withColumn("h1", bloomPos("bloom1|", col("th")))
      .withColumn("h2", bloomPos("bloom2|", col("th")))
      .withColumn("bits", typedlit(words.toSeq))
      .withColumn("bloom_hit", expr(
        "(shiftright(element_at(bits, CAST(h1 div 64 AS INT) + 1), CAST(h1 % 64 AS INT)) & 1) = 1 AND " +
        "(shiftright(element_at(bits, CAST(h2 div 64 AS INT) + 1), CAST(h2 % 64 AS INT)) & 1) = 1"))
    (hist, probed)
  }

  /** The q99 oracle, shared verbatim with the q102 streaming twin: both
    * runs must hash-match the same relational statement.
    */
  private[queries] def bloomDedupOracle: String = bloomDedupSql

  /** Driver-side token dictionary for bounded vocabularies. Every
    * portable-hash text query keys on the alphabetical token→index map;
    * recomputing it per query costs a distinct-shuffle, a global window
    * and a dimension join. When the vocabulary is small (categorical
    * corpora, ≤ [[TokenDict.MaxSize]] distinct tokens) the dictionary is
    * collected ONCE per corpus path and memoized; queries then map tokens
    * through a literal map lookup — a narrow codegen'd projection with no
    * exchange. An open vocabulary (collect overflows) memoizes `None` and
    * callers keep the distributed dimension-join path, so the fast path
    * never changes results, only the plan. Index order is UTF-8-binary
    * ascending — exactly `row_number() OVER (ORDER BY tok) - 1` in both
    * Spark and DuckDB, so oracle parity is unaffected.
    */
  private[queries] object TokenDict {
    val MaxSize = 4096
    // one entry per corpus path, tagged with the fingerprint it was built
    // against — superseded fingerprints are replaced, never accumulated
    private val memo = new java.util.concurrent.ConcurrentHashMap[
      String, (String, Option[Map[String, Long]])]()
    private val utf8Order: Ordering[String] = (a: String, b: String) =>
      java.util.Arrays.compareUnsigned(
        a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    /** Fingerprint of the source file tree (name, length, mtime of every
      * LEAF file, at any depth — directories are only traversal, since a
      * directory's own mtime does not change when a part file is
      * overwritten in place), so rewriting a corpus within one JVM
      * invalidates the cached dictionary — a stale literal map would
      * silently null out unseen tokens' bits. The FULL fingerprint string
      * is the cache tag (no lossy 32-bit hash that a same-length,
      * same-mtime-granularity rewrite could collide with).
      */
    private def fingerprint(dir: String): String = {
      def walk(f: java.io.File): Seq[String] = {
        val kids = f.listFiles()
        if (kids == null) Seq(s"${f.getPath}:${f.length}:${f.lastModified}")
        else kids.sortBy(_.getName).toSeq.flatMap(walk)
      }
      walk(new java.io.File(dir)).mkString("|")
    }
    def apply(s: SparkSession, dir: String): Option[Map[String, Long]] = {
      val fp = fingerprint(dir)
      memo.compute(dir, (_, cached) => {
        if (cached != null && cached._1 == fp) cached
        else {
          val toks = Tables.documents(s, dir)
            .select(explode(array_distinct(tokens(col("text")))).as("tok"))
            .distinct().limit(MaxSize + 1).collect().map(_.getString(0))
          val dict = if (toks.length > MaxSize) None
            else Some(toks.sorted(utf8Order).zipWithIndex
              .map { case (t, i) => t -> i.toLong }.toMap)
          (fp, dict)
        }
      })._2
    }
  }

  /** One 64-bit token-presence mask per doc over the [[docTokenBits]]
    * dictionary view — the O(1) popcount-Jaccard operand (q25, q91,
    * q103). INVARIANT: the dictionary must fit in 64 bits; `shiftleft`
    * wraps mod 64 beyond that and the popcount Jaccard silently
    * degrades. [[TokenDict]] bounds this corpus's vocabulary; an
    * open-vocabulary caller must use the postings-intersection path
    * instead (see q91's scaladoc for the measured trade).
    */
  private def docTokenMasks(s: SparkSession, dir: String): DataFrame =
    docTokenBits(s, dir)
      .groupBy(col("doc_id"))
      .agg(expr("bit_or(shiftleft(1L, cast(bit AS int)))").as("mask"))

  /** Token-set Jaccard near-dup. This corpus has a tiny vocabulary
    * (≤64 distinct tokens), so each document's distinct-token set packs
    * into one 64-bit mask (vocabulary index built at runtime, bit_or
    * aggregate) and Jaccard becomes codegen'd integer bit math:
    * popcount(a&b)/popcount(a|b). The pair space is walked over *distinct
    * masks* (deduped set shapes), then expanded back to qualifying doc
    * pairs — interpreted array ops never run per pair. For open
    * vocabularies the MinHash path (q26) is the scale route, and
    * [[graft.core.SetSimJoin.jaccard]] the exact-threshold route (here
    * slower: it walks documents, not distinct masks).
    */
  def q25Jaccard(s: SparkSession, dir: String): DataFrame = {
    val masks = docTokenMasks(s, dir)
    val dm = masks.select(col("mask")).distinct()
      .withColumn("pc", bit_count(col("mask")).cast("long"))
    val inter = bit_count(col("mask_a").bitwiseAND(col("mask_b"))).cast("double")
    val union = bit_count(col("mask_a").bitwiseOR(col("mask_b"))).cast("double")
    // Length (popcount) filter from the set-similarity-join literature:
    // jaccard >= t forces min(|a|,|b|) >= t * max(|a|,|b|), so each mask
    // only meets masks whose popcount lies in [t*|a|, |a|/t]. Expanding
    // that (slack of 1 each side — the exact filter below decides) into an
    // equi-join key replaces the all-pairs cross join with a hash join
    // whose output is the compatible band only (5.8x fewer pairs here; the
    // gap widens with vocabulary size).
    val maskPairs = dm.select(col("mask").as("mask_a"), col("pc").as("pc_a"))
      .withColumn("pc", explode(sequence(
        ceil(col("pc_a") * 0.95).cast("long") - 1,
        floor(col("pc_a") / 0.95).cast("long") + 1)))
      .join(broadcast(dm.select(col("mask").as("mask_b"), col("pc"))), Seq("pc"))
      .withColumn("jaccard", inter / union)
      .filter(col("jaccard") >= 0.95)
      .select(col("mask_a"), col("mask_b"), col("jaccard"))
    masks.select(col("doc_id").as("doc_a"), col("mask").as("mask_a"))
      .join(broadcast(maskPairs), Seq("mask_a"))
      .join(masks.select(col("doc_id").as("doc_b"), col("mask").as("mask_b")), Seq("mask_b"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Long-format (doc_id, bit) token-index view: distinct tokens exploded
    * and mapped to their dictionary index. The shape every portable-hash
    * text query builds on — downstream work is plain codegen'd hash
    * aggregation, never interpreted per-row higher-order folds.
    *
    * Bounded vocabularies resolve through the memoized [[TokenDict]]
    * literal-map lookup (no exchange at all before the consumer's own
    * aggregate); open vocabularies fall back to the distributed
    * distinct + window + broadcast-dimension join.
    */
  private def docTokenBits(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("tok"))
    TokenDict(s, dir) match {
      case Some(m) =>
        toks.select(col("doc_id"), element_at(typedlit(m), col("tok")).as("bit"))
      case None =>
        val vocab = toks.select(col("tok")).distinct()
          .withColumn("bit", row_number().over(Window.orderBy(col("tok"))).cast("long") - 1)
        toks.join(broadcast(vocab), Seq("tok")).select(col("doc_id"), col("bit"))
    }
  }

  /** SQL text of the same long-format view for the DuckDB oracle. */
  private val docTokenBitsSql =
    """toks AS (SELECT doc_id, unnest(list_distinct(string_split_regex(trim(text), '\s+'))) AS tok
                FROM documents),
       vocab AS (SELECT tok, CAST(row_number() OVER (ORDER BY tok) AS BIGINT) - 1 AS bit
                 FROM (SELECT DISTINCT tok FROM toks)),
       t AS (SELECT doc_id, bit FROM toks JOIN vocab USING (tok))"""

  private val BandWeights = Seq(31L, 37L, 41L, 43L)

  /** MinHash + LSH dedup clustering: k=32 permutations of the vocabulary
    * via [[graft.functions.PortableHash]] (min over each doc's token ids),
    * 8 bands of 4 rows hashed by a weighted sum, cluster id = min doc_id
    * over all docs sharing any band bucket (one agglomeration hop).
    * Output is LINEAR in the corpus — the dedup semantic ("which docs
    * collapse together") without materializing the quadratic near-dup pair
    * set, which on a high-similarity corpus is O(n²) no matter how good
    * the index is.
    *
    * All 32 slot minimums come out of ONE codegen'd hash aggregate over
    * the long (doc_id, bit) format — no interpreted array folds — and the
    * deterministic integer permutation family makes the whole pipeline
    * expressible in DuckDB SQL, so this is a full hash-checked oracle
    * query, not a rows-only one.
    */
  def q26MinhashLsh(s: SparkSession, dir: String): DataFrame =
    minhashLshCluster(docTokenBits(s, dir).select(col("doc_id"), col("bit").as("v")))

  /** Open-vocabulary MinHash+LSH dedup clustering: identical banding and
    * agglomeration to q26, but the permutation inputs are
    * [[graft.functions.PortableStringHash]] values of the token strings —
    * NO dictionary build, no distinct-shuffle over the vocabulary, no
    * vocabulary-size bound. This is the 100 TB text-dedup shape: one
    * narrow codegen'd projection per token, then the signature aggregate.
    * The string hash is engine-portable, so the DuckDB oracle replays it
    * exactly (char-unnest + precomputed powers).
    */
  def q39MinhashOpenVocab(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.PortableStringHash.strHash
    val hashed = Tables.documents(s, dir)
      .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("tok"))
      // an empty/whitespace-only document tokenizes to [""] on both
      // engines; the oracle's char-unnest produces no hash row for it, so
      // drop it here too — an empty token carries no content anyway
      .filter(length(col("tok")) > 0)
      .select(col("doc_id"), strHash(col("tok")).as("v"))
    minhashLshCluster(hashed)
  }

  private val VerifyThreshold = 0.7

  /** Incremental near-dup probe (q101): detect near-duplicates of a
    * NEWLY ARRIVING shard against the historical corpus's MinHash band
    * index — the day-2 near-dup companion of q99's exact dedup (a
    * re-crawl with small edits defeats md5; MinHash catches it). The
    * new shard is a closed-form re-ingest: every doc_id%3==0 document
    * returns with an 'update:' token prepended (a near-dup that is NOT
    * an exact dup), the rest are closed-form fresh content with a
    * disjoint token vocabulary. Band signatures for both sides come
    * from ONE union'd plan, so the historical side is exactly the index
    * a q26/q39 run would have persisted.
    *
    * Pipeline: signatures → the [[bandBest]] kernel with the
    * id-boundary restriction (only hist×new candidates are even
    * considered, and each cell folds the per-new-doc BEST in place —
    * neither the historical corpus's own near-dup density nor the
    * hist×new candidate mass ever reaches a shuffle) → best candidate
    * per new doc by band count (two-phase top-k window over the
    * task-local maxima) → exact token-set Jaccard of the best pair
    * only (one row per new doc). Emits every new doc with match id,
    * band count, verified jaccard and the near-dup verdict.
    */
  /** The q101/q112 closed-form "newly arriving shard" over any
    * `(doc_id, text)` frame: every doc_id%3==0 document returns with an
    * 'update:' prefix (a near-dup that is NOT an exact dup), the rest
    * are fresh content with a disjoint token vocabulary. SHARED by the
    * batch probe (q101) and the streaming probe (q112) so the two
    * engines ingest byte-identical shards.
    */
  private[queries] def newShardOf(docs: DataFrame): DataFrame = {
    val newText = when(col("doc_id") % 3 === 0, concat(lit("update: "), col("text")))
      .otherwise(concat(lit("zz"), col("doc_id"), lit("a zz"),
        col("doc_id"), lit("b zz"), col("doc_id"), lit("c")))
    docs.select((col("doc_id") + NearDupOffset).as("doc_id"), newText.as("text"))
  }

  /** Open-vocab band-signature vectors of a `(doc_id, text)` frame —
    * tokenize, hash, [[minhashBandVecs]]. The historical band INDEX the
    * incremental probes (q101 batch, q112 streaming) run against.
    */
  private[queries] def bandVecsOf(docs: DataFrame): DataFrame = {
    import graft.functions.PortableStringHash.strHash
    // measured WITHOUT Tables.spreadDocs: the q101/q112 consumers run
    // the signature aggregate over a 2-partition union and the spread's
    // exchange + extra planning cost more than the kernel saves here
    // (A/B r13: q101 4.6 s -> 5.4 s with the spread) — q91's heavier
    // single-scan path keeps it
    minhashBandVecs(docs
      .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("tok"))
      .filter(length(col("tok")) > 0)
      .select(col("doc_id"), strHash(col("tok")).as("v")))
  }

  /** The incremental-probe verification tail over a best-candidate frame
    * `(match_id, new_id, n_buckets)`: exact token-set Jaccard of the one
    * best pair per new doc, then the complete new-shard census (LEFT
    * join — unmatched fresh docs emit -1/0/0.0/false). SHARED by q101
    * and q112 so the batch and streaming probes produce the identical
    * contract and hash against the identical oracle.
    */
  private[queries] def incProbeTail(s: SparkSession, dir: String,
      best: DataFrame): DataFrame = {
    val hist = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val nw = newShardOf(hist)
    val all = hist.unionByName(nw)
    val tsets = all.select(col("doc_id"), array_distinct(tokens(col("text"))).as("ts"))
    val inter = size(array_intersect(col("ts_b"), col("ts_a"))).cast("double")
    val verified = best
      .join(tsets.select(col("doc_id").as("match_id"), col("ts").as("ts_a")), Seq("match_id"))
      .join(tsets.select(col("doc_id").as("new_id"), col("ts").as("ts_b")), Seq("new_id"))
      .withColumn("jaccard", round(inter /
        ((size(col("ts_a")) + size(col("ts_b"))).cast("double") - inter), 6))
    nw.select(col("doc_id").as("new_id"))
      .join(verified.select(col("new_id"), col("match_id"), col("n_buckets"),
        col("jaccard")), Seq("new_id"), "left")
      .select(col("new_id"),
        coalesce(col("match_id"), lit(-1L)).as("match_id"),
        coalesce(col("n_buckets"), lit(0L)).as("n_buckets"),
        coalesce(col("jaccard"), lit(0.0)).as("jaccard"),
        (coalesce(col("jaccard"), lit(0.0)) >= VerifyThreshold).as("is_near_dup"))
      .orderBy(col("new_id"))
  }

  def q101IncNearDup(s: SparkSession, dir: String): DataFrame = {
    val hist = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val bvecs = bandVecsOf(hist.unionByName(newShardOf(hist)))
    val cand = bandBest(bvecs, NearDupOffset)
    val wTop = Window.partitionBy(col("doc_b")).orderBy(col("n_buckets").desc, col("doc_a"))
    val best = cand.withColumn("rn", row_number().over(wTop)).filter(col("rn") === 1)
      .select(col("doc_a").as("match_id"), col("doc_b").as("new_id"), col("n_buckets"))
    incProbeTail(s, dir, best)
  }

  /** The historical band INDEX as long rows, each still carrying the
    * full signature — what q112's stream-static join probes.
    */
  private[queries] def histBandRows(s: SparkSession, dir: String): DataFrame =
    bandVecsOf(Tables.documents(s, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("bvec"),
        posexplode(col("bvec")).as(Seq("bi", "band_hash")))
      .select(col("doc_id"), col("bvec"),
        col("bi").cast("long").as("band_idx"), col("band_hash"))

  /** Scalar twin of [[bandVecsOf]] for the STREAMING probe's stateless
    * per-document projection: bit-identical band hashes
    * (`hashString` IS the codegen kernel, `mixLong` is mix's scalar
    * twin, and the band fold repeats [[minhashBandVecs]]'s arithmetic
    * term for term — products first, one trailing mod). Empty token
    * sets return an empty vector (the batch side's length filter drops
    * them before the signature aggregate the same way).
    */
  private[queries] def bandVectorOf(text: String): Array[Long] = {
    import graft.functions.{PortableHash, PortableStringHash}
    val raw = if (text == null) "" else text
    // SQL-trim semantics: strip ' ' only (Java trim strips <= U+0020)
    var lo = 0
    var hi = raw.length
    while (lo < hi && raw.charAt(lo) == ' ') lo += 1
    while (hi > lo && raw.charAt(hi - 1) == ' ') hi -= 1
    val toks = raw.substring(lo, hi).split("\\s+").filter(_.nonEmpty).distinct
    if (toks.isEmpty) return Array.empty
    val mins = Array.fill(MinhashK)(Long.MaxValue)
    toks.foreach { t =>
      val h = PortableStringHash.hashString(t)
      var k = 0
      while (k < MinhashK) {
        val m = PortableHash.mixLong(h, k)
        if (m < mins(k)) mins(k) = m
        k += 1
      }
    }
    val r = MinhashK / LshBands
    Array.tabulate(LshBands) { b =>
      var acc = 0L
      BandWeights.zipWithIndex.foreach { case (w, i) => acc += mins(b * r + i) * w }
      (acc + b) % PortableHash.P
    }
  }

  /** q101's oracle SQL, shared verbatim by the streaming probe (q112) —
    * the batch and streaming runs must agree row for row, cross-engine.
    */
  private[queries] def incNearDupOracle: String = incNearDupSql

  private val SplitOffset = 1L << 61 // above any doc id (see NearDupOffset)

  /** Train/eval split-leakage audit (q103): assign every document a
    * deterministic hash-based train/val/test split (80/10/10 — the
    * standard reproducible split: retries and backfills re-derive the
    * same assignment, no RNG state), then find near-duplicate pairs
    * that STRADDLE the train/eval boundary — the reason
    * dedup-before-split discipline exists: an eval document with a
    * near-dup in train is a leaked label, and every serious pipeline
    * audits for it after the split is drawn.
    *
    * Pipeline: open-vocab MinHash band signatures over BOTH sides in
    * one plan; eval docs are keyed above [[SplitOffset]] so the
    * [[bandPairs]] kernel's id-boundary restriction emits ONLY
    * train×eval candidates — train's own near-dup mass (the bulk of
    * the corpus's pair density) never reaches a shuffle, exactly the
    * q101 incremental shape with the boundary drawn by the split hash
    * instead of arrival time. Candidates verify with the O(1) q25/q91
    * mask-popcount Jaccard, and each eval doc reports its candidate
    * count, verified-leak count and worst Jaccard (LEFT join: clean
    * eval docs emit zeros, so the audit is a complete eval census).
    */
  def q103SplitLeakage(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.PortableStringHash.strHash
    val split = Tables.documents(s, dir)
      .select(col("doc_id"),
        pmod(strHash(concat(lit("split:v1|"), col("doc_id").cast("string"))),
          lit(10L)).as("b10"))
      .select(col("doc_id"),
        when(col("b10") < 8, lit("train"))
          .when(col("b10") === 8, lit("val"))
          .otherwise(lit("test")).as("split"))
    // the split key is a PURE FUNCTION of doc_id — recompute it inline
    // as a narrow projection on the token stream rather than joining
    // the corpus-wide (doc_id, v) rows against the split frame (that
    // join is a corpus-sized exchange; the split frame is still used
    // for the final eval census below, where it is census-sized)
    val isTrain =
      pmod(strHash(concat(lit("split:v1|"), col("doc_id").cast("string"))), lit(10L)) < 8
    val skeyed = Tables.documents(s, dir)
      .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("tok"))
      .filter(length(col("tok")) > 0)
      .select(when(isTrain, col("doc_id"))
        .otherwise(col("doc_id") + SplitOffset).as("doc_id"),
        strHash(col("tok")).as("v"))
    val cand = bandPairs(minhashBandVecs(skeyed), Some(SplitOffset))
    val masks = docTokenMasks(s, dir)
    val scored = cand
      .select(col("doc_a").as("train_id"),
        (col("doc_b") - SplitOffset).as("eval_id"), col("n_buckets"))
      .join(broadcast(masks.select(col("doc_id").as("train_id"), col("mask").as("mask_a"))),
        Seq("train_id"))
      .join(broadcast(masks.select(col("doc_id").as("eval_id"), col("mask").as("mask_b"))),
        Seq("eval_id"))
      .withColumn("jaccard",
        round(bit_count(col("mask_a").bitwiseAND(col("mask_b"))).cast("double")
          / bit_count(col("mask_a").bitwiseOR(col("mask_b"))).cast("double"), 6))
    val perEval = scored.groupBy(col("eval_id"))
      .agg(count(lit(1)).as("n_cand"),
        count(when(col("jaccard") >= VerifyThreshold, 1)).as("n_leaks"),
        max(col("jaccard")).as("max_jaccard"))
    split.filter(col("split") =!= "train")
      .join(perEval.withColumnRenamed("eval_id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("split"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("n_leaks"), lit(0L)).as("n_leaks"),
        (coalesce(col("n_leaks"), lit(0L)) > 0).as("leaked"),
        coalesce(col("max_jaccard"), lit(0.0)).as("max_jaccard"))
      .orderBy(col("doc_id"))
  }

  /** The LSH bucket members of a `(doc_id, bvec)` band-signature frame
    * for [[GroupPairs]]: one row per doc per band, keyed by the bucket
    * `(band_idx, band_hash)` and carrying the doc's whole vector. */
  private def bucketMembers(bvecs: DataFrame): Dataset[((Int, Long), Long, Array[Long])] = {
    val s = bvecs.sparkSession
    import s.implicits._
    bvecs.select(col("doc_id"), col("bvec"), posexplode(col("bvec")).as(Seq("bi", "band_hash")))
      .select(struct(col("bi").as("_1"), col("band_hash").as("_2")).as("_1"),
        col("doc_id").as("_2"), col("bvec").as("_3"))
      .as[((Int, Long), Long, Array[Long])]
  }

  /** Candidate pairs `(doc_a, doc_b, n_buckets)` of a `(doc_id, bvec)`
    * band-signature frame, `doc_a < doc_b`, each pair EXACTLY ONCE: a
    * pair is emitted only from the bucket of the smallest band the two
    * vectors share, and `n_buckets` = |shared bands| is 8 integer
    * compares, so no pair aggregate follows (the emit-per-shared-band +
    * groupBy(pair) shape shuffled 22M pair rows into a 7.7M-group
    * aggregate at sf0.1, over half of q91's wall time).
    * `crossBound`: when Some(off), only pairs straddling the id boundary
    * (doc_a < off <= doc_b) are emitted — the cross-split shape (q103);
    * q91 passes None (all pairs).
    */
  private def bandPairs(bvecs: DataFrame, crossBound: Option[Long]): DataFrame = {
    val s = bvecs.sparkSession
    import s.implicits._
    val bound = crossBound.getOrElse(-1L)
    GroupPairs(bucketMembers(bvecs)) { c =>
      val band = c.key._1
      c.pairs { (a, x, b, y) =>
        if (bound >= 0 && !(a < bound && b >= bound)) None
        else {
          var shared = 0; var minShared = -1; var i = 0
          while (i < x.length) {
            if (x(i) == y(i)) { shared += 1; if (minShared < 0) minShared = i }
            i += 1
          }
          if (minShared == band) Some((a, b, shared.toLong)) else None
        }
      }
    }.toDF("doc_a", "doc_b", "n_buckets")
  }

  /** Cross-boundary BEST-match kernel: per cell, fold the best
    * `(shared_bands desc, doc_a asc)` historical candidate (`doc_a <
    * bound`) of every new doc (`doc_b >= bound`) and emit ONE row per new
    * doc per cell — never the pair set. On a near-dup-dense corpus the
    * incremental probe's candidate mass is quadratic-ish (an update of
    * doc X co-buckets with every near-dup of X), but only the best
    * candidate survives the q101 window anyway; folding it in the cell
    * cuts emission from O(co-bucket pairs) to O(cells × cell size). A
    * pair's shared-band count is the same wherever it is evaluated, so
    * duplicates across buckets are harmless under the downstream max —
    * the exactly-once min-band rule [[bandPairs]] needs is unnecessary
    * here (q101 measured 5.5 s → 3.3 s at sf0.1).
    */
  private def bandBest(bvecs: DataFrame, bound: Long): DataFrame = {
    val s = bvecs.sparkSession
    import s.implicits._
    GroupPairs(bucketMembers(bvecs)) { c =>
      // doc_b -> (shared, doc_a)
      val best = scala.collection.mutable.HashMap.empty[Long, (Long, Long)]
      c.foreachPair { (a, x, b, y) =>
        if (a < bound && b >= bound) {
          var shared = 0L; var i = 0
          while (i < x.length) { if (x(i) == y(i)) shared += 1; i += 1 }
          val cur = best.getOrElse(b, (0L, Long.MaxValue))
          if (shared > cur._1 || (shared == cur._1 && a < cur._2)) best(b) = (shared, a)
        }
      }
      best.iterator.map { case (db, (sh, da)) => (da, db, sh) }
    }.toDF("doc_a", "doc_b", "n_buckets")
  }

  /** Two-stage near-dup pipeline (q91): LSH candidate generation +
    * EXACT Jaccard verification — the canonical production MinHash
    * dedup shape (q26/q39 stop at bucket clustering, which admits the
    * LSH false-positive rate; real corpus-dedup runs verify candidates
    * before dropping documents). Stage 1 self-joins the open-vocabulary
    * band table (q39's dictionary-free signatures) on the bucket key —
    * candidate pairs are LINEAR in bucket co-membership, never
    * all-pairs, and the band count per pair rides along as the
    * candidate strength. Stage 2 computes the TRUE token-set Jaccard of
    * each candidate pair only and keeps pairs at or above
    * [[VerifyThreshold]] (filtered on the 6-decimal rounded value so
    * the cutoff is engine-portable).
    *
    * Scale: verification is O(1) per candidate (64-bit mask popcounts,
    * two broadcast-sized joins on the pair's ids), so stage 2 costs one
    * pass over the candidate set. The candidate set itself is
    * proportional to the near-dup density the LSH surfaced — on THIS
    * deliberately near-dup-dense corpus that is ~n²/5 pairs (the
    * postings-join verification alternative measured 65 s at sf0.1
    * against ~2 s for the mask kernel); a pathological bucket
    * (boilerplate collision) inflates stage 1 the same way, the
    * production guard being the q40 stop-shingle/df cap discipline, and
    * the q41 component path is the linear alternative when pair output
    * itself is the problem.
    */
  def q91LshVerify(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.PortableStringHash.strHash
    val toks = Tables.spreadDocs(Tables.documents(s, dir))
      .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("tok"))
      .filter(length(col("tok")) > 0)
    val bvecs = minhashBandVecs(toks.select(col("doc_id"), strHash(col("tok")).as("v")))
    val cand = bandPairs(bvecs, None)
    // exact verification as an O(1)-per-pair popcount over the q25
    // bitmask view (dictionary-bounded corpus: one 64-bit mask per doc;
    // an open vocabulary falls back to the postings-intersection join,
    // whose cost is Σ_pairs |tokens| — measured 30× slower HERE because
    // this corpus is near-dup-dense: millions of candidates at ×10,
    // each O(|doc|) under postings but O(1) under masks)
    val masks = docTokenMasks(s, dir)
    val verified = cand
      // one mask row per doc — broadcast both sides so the multi-million
      // pair frame never shuffles for the verification lookups
      .join(broadcast(masks.select(col("doc_id").as("doc_a"), col("mask").as("mask_a"))),
        Seq("doc_a"))
      .join(broadcast(masks.select(col("doc_id").as("doc_b"), col("mask").as("mask_b"))),
        Seq("doc_b"))
      .withColumn("jaccard",
        round(bit_count(col("mask_a").bitwiseAND(col("mask_b"))).cast("double")
          / bit_count(col("mask_a").bitwiseOR(col("mask_b"))).cast("double"), 6))
      .filter(col("jaccard") >= VerifyThreshold)
      .select(col("doc_a"), col("doc_b"), col("n_buckets"), col("jaccard"))
    Ops.sortAfterHeavyStage(verified, "doc_a", "doc_b")
  }

  /** MinHash band memberships of (doc_id, v): k slot minimums in one
    * codegen'd hash aggregate, then the banded hashes stacked long —
    * `(doc_id, band_idx, band_hash)`, the bipartite doc↔bucket graph
    * every LSH consumer (bucket clustering, connected components) builds
    * on.
    */
  private def minhashBands(vals: DataFrame): DataFrame =
    minhashBandVecs(vals)
      .select(col("doc_id"), posexplode(col("bvec")).as(Seq("bi", "band_hash")))
      .select(col("doc_id"), col("bi").cast("long").as("band_idx"), col("band_hash"))

  /** One row per doc with the [[LshBands]] band hashes as an ARRAY —
    * the wide form [[minhashBands]] stacks long, kept separate so
    * kernels (q91) can carry a doc's whole signature into a task.
    */
  private def minhashBandVecs(vals: DataFrame): DataFrame = {
    import graft.functions.PortableHash.mix
    val r = MinhashK / LshBands
    val sig = vals.groupBy(col("doc_id"))
      .agg(min(mix(col("v"), 0)).as("m0"),
        (1 until MinhashK).map(k => min(mix(col("v"), k)).as(s"m$k")): _*)
    val bandCols = (0 until LshBands).map { b =>
      (BandWeights.zipWithIndex.map { case (w, i) => col(s"m${b * r + i}") * lit(w) }
        .reduce(_ + _) + lit(b.toLong)) % lit(graft.functions.PortableHash.P)
    }
    sig.select(col("doc_id"), array(bandCols: _*).as("bvec"))
  }

  /** Shared MinHash+LSH tail over (doc_id, v) — `v` any value already in
    * the portable-hash domain [0, P): banded bucket stats as window
    * aggregates over the band exchange, linear cluster output.
    */
  private def minhashLshCluster(vals: DataFrame): DataFrame = {
    val bands = minhashBands(vals)
    // bucket representative + size as WINDOW aggregates over the band
    // shuffle: one exchange on the bucket key serves both, where an
    // agg + self-join would materialize the band table twice (cache or
    // recompute) and add a join exchange. Same key, same skew behavior —
    // a giant bucket is a giant hash-agg group either way.
    val wb = Window.partitionBy(col("band_idx"), col("band_hash"))
    bands
      .withColumn("bucket_min", min(col("doc_id")).over(wb))
      .withColumn("bucket_size", count(lit(1)).over(wb))
      .groupBy(col("doc_id"))
      .agg(min(col("bucket_min")).as("cluster_id"), max(col("bucket_size")).as("max_bucket"))
      .withColumn("is_dup", col("cluster_id") < col("doc_id"))
      .orderBy(col("doc_id"))
  }

  /** Transitive dedup components over the open-vocab MinHash buckets —
    * the CLOSURE q26/q39 deliberately stop short of: their cluster id is
    * one agglomeration hop (min doc over SHARED buckets), so a chain
    * A~B~C where A and C share no bucket stays two clusters. This query
    * converges the full connected component: `component_id` = min doc_id
    * reachable through any chain of bucket co-memberships.
    *
    * Algorithm: min-label propagation over the BIPARTITE doc↔bucket
    * graph — alternate "bucket label = min member label" / "doc label =
    * min over its buckets' labels" until a fixpoint. The doc↔doc edge
    * set is never materialized (a k-member bucket contributes k bipartite
    * edges, not k²), each iteration is two hash aggregates + two joins on
    * the bucket/doc keys, and labels are checkpointed per iteration —
    * the standard large-graph CC shape (Hash-to-Min family), linear in
    * memberships per iteration, O(component diameter) iterations.
    * Deterministic (min is order-free) → DuckDB oracle replays the
    * closure with a recursive CTE.
    */
  def q41DedupComponents(s: SparkSession, dir: String): DataFrame =
    docComponents(s, dir).orderBy(col("doc_id"))

  /** Unsorted component labels for the document corpus — shared by q41
    * (which only adds the presentation sort) and q56 (which composes
    * further joins on top; a mid-plan sort would be a wasted range
    * exchange there).
    */
  private def docComponents(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.PortableStringHash.strHash
    // no Tables.spreadDocs here: A/B-measured flat-to-worse (the family's
    // per-iteration fixed costs dominate, not the hash kernel)
    val hashed = Tables.documents(s, dir)
      .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("tok"))
      .filter(length(col("tok")) > 0)
      .select(col("doc_id"), strHash(col("tok")).as("v"))
    connectedComponents(minhashBands(hashed)
      .select(col("doc_id"), struct(col("band_idx"), col("band_hash")).as("bucket")))
  }

  /** Dedup MATERIALIZATION (q56): the step after component labeling that
    * actually produces the cleaned corpus — one surviving document per
    * q41 component (the canonical min-id member), carrying `n_merged` =
    * how many near-duplicates folded into it. Shape at 100 TB: the
    * labels frame is doc-count-sized and already clustered by doc_id
    * from the final propagation round; the component-size aggregate is
    * map-side-combinable (one long count per component), and the
    * survivors join back to `documents` is a doc_id equi-join that AQE
    * can plan as shuffle-hash — no all-pairs structure anywhere, linear
    * in corpus size. Survivor selection (`component_id == doc_id`) is a
    * filter, not another aggregate: canonical-by-min is already encoded
    * in the labels by construction.
    */
  def q56DedupMaterialize(s: SparkSession, dir: String): DataFrame = {
    val comp = docComponents(s, dir)
    val sizes = comp.groupBy(col("component_id")).agg(count(lit(1)).as("n_merged"))
    val keep = comp.filter(!col("is_dup"))
      .join(sizes, Seq("component_id"))
      .select(col("doc_id"), col("n_merged"))
    Tables.documents(s, dir)
      .join(keep, Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"), col("n_merged"))
      .orderBy(col("doc_id"))
  }

  /** Per-source near-dup rate report (q113): the q41 component labels
    * rolled up per source — how much of each feed is near-duplicate
    * mass, and how many distinct components it contributes to. The
    * per-feed health dashboard a corpus assembly watches alongside
    * q109's distribution drift (a feed whose dup_rate jumps is
    * re-serving old content; q107 is the exact-fingerprint view, this
    * is the transitive NEAR-dup view).
    *
    * Scale shape: the component labeling is q41's (bipartite min-label
    * propagation, linear per round); the rollup is one doc-keyed join
    * to attach `source` and one source-keyed aggregate. dup_rate is
    * fixed to 6 decimals over exact longs, engine-portable.
    */
  def q113SourceDedupRate(s: SparkSession, dir: String): DataFrame = {
    val comp = docComponents(s, dir)
    Tables.documents(s, dir).select(col("doc_id"), col("source"))
      .join(comp, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("is_dup"), 1)).as("n_dups"),
        countDistinct(col("component_id")).as("n_components"))
      .withColumn("dup_rate",
        round(col("n_dups").cast("double") / col("n_docs").cast("double"), 6))
      .orderBy(col("source"))
  }

  private val SplitSeed = 17

  /** LEAKAGE-SAFE train/val/test split (q131): the assignment step the
    * q61/q103 leakage AUDITS exist to check — instead of splitting by
    * document hash (which strands near-duplicates across splits, the
    * exact contamination q103 hunts), assign the whole q41 near-dup
    * COMPONENT to one split by hashing its canonical label: every
    * member inherits the component's draw, so no near-dup pair can
    * cross a split boundary BY CONSTRUCTION. 80/10/10 via basis-point
    * buckets of the mix-spread component id (deterministic — retries,
    * backfills and incremental reruns re-derive identical splits, the
    * q55 reproducibility argument applied to the split axis).
    *
    * Scale shape: component labels are q41's bipartite min-label
    * propagation (linear per round); the split draw is one codegen'd
    * projection over the doc-count-sized labels frame, and the only
    * addition to q41's plan is the doc_id-keyed join attaching
    * `source` — nothing here grows with corpus size beyond the labels
    * themselves.
    *
    * Note on the synthetic corpus: its dup density collapses the q41
    * closure to a handful of mega-components at small SF, so whole
    * splits can be empty there (3 components → 51% chance all land in
    * train). The mechanism is component-count-agnostic — real corpora
    * have fine-grained components and the 80/10/10 shape emerges from
    * the bucket uniformity the spec replays.
    */
  def q131LeakageSafeSplit(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.PortableHash
    // LEFT join + doc_id fallback: a token-less document never enters
    // the band graph, so it has no q41 label — it is its own singleton
    // component (consistent with q41's min-reachable-doc_id labeling)
    // rather than silently dropped from every split
    val comp = docComponents(s, dir).select(col("doc_id"), col("component_id"))
    Tables.documents(s, dir).select(col("doc_id"), col("source"))
      .join(comp, Seq("doc_id"), "left")
      .withColumn("component_id", coalesce(col("component_id"), col("doc_id")))
      .withColumn("bucket_bp",
        pmod(PortableHash.mix(col("component_id"), SplitSeed), lit(10000L)))
      .withColumn("split",
        when(col("bucket_bp") < 8000, lit("train"))
          .when(col("bucket_bp") < 9000, lit("val"))
          .otherwise(lit("test")))
      .select(col("doc_id"), col("source"), col("component_id"),
        col("bucket_bp"), col("split"))
      .orderBy(col("doc_id"))
  }

  private[graft] val ShardArrivalW = 128L

  /** Dedup-rate trend over ingest shards (q118): the monitoring query a
    * recrawl pipeline actually alarms on — per (source, arrival-shard)
    * the count and rate of documents that near-duplicate ANYTHING that
    * arrived earlier, plus the cumulative rate per source over the
    * shard sequence (the rising-trend signal). Arrival order is doc_id;
    * a shard is [[ShardArrivalW]] consecutive ids. "Duplicates
    * something earlier" is the q26/q39 LSH-candidate flag — an earlier
    * (smaller-id) document sharing a MinHash band bucket — i.e. the
    * incremental-ingest verdict q101 folds per shard, composed with
    * q113's per-source report axis.
    *
    * Scale shape: one signature aggregate (linear in corpus tokens),
    * ONE bucket-key window exchange (shared by representative+flag,
    * same plan as q39), a doc-keyed join, and a source×shard aggregate
    * whose output is the report itself; the cumulative ratio is a
    * per-source running sum over report rows (bounded by
    * sources × shards, never corpus-sized). Rates publish as exact
    * FIXED-POINT integers (`⌊rate·10⁶⌋` — the q65 contract): with
    * [[ShardArrivalW]] = 128 a full shard's rate is odd/128, a binary-
    * exact value whose 7th decimal digit is exactly 5 — the precise
    * decimal-rounding half-way case whose engine/build dependence the
    * q65 forensics established; floor has no half-way mode.
    */
  def q118ShardDedupTrend(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.PortableStringHash.strHash
    val hashed = Tables.documents(s, dir)
      .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("tok"))
      .filter(length(col("tok")) > 0)
      .select(col("doc_id"), strHash(col("tok")).as("v"))
    val flags = minhashLshCluster(hashed).select(col("doc_id"), col("is_dup"))
    val w = Window.partitionBy(col("source")).orderBy(col("shard_seq"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, dir).select(col("doc_id"), col("source"))
      .join(flags, Seq("doc_id"))
      .withColumn("shard_seq", expr(s"doc_id div $ShardArrivalW"))
      .groupBy(col("source"), col("shard_seq"))
      .agg(count(lit(1)).as("n_docs"), count(when(col("is_dup"), 1)).as("n_dups"))
      .withColumn("dup_rate_fp",
        floor(col("n_dups").cast("double") / col("n_docs").cast("double") * 1e6)
          .cast("long"))
      .withColumn("cum_dup_rate_fp",
        floor(sum(col("n_dups")).over(w).cast("double")
          / sum(col("n_docs")).over(w).cast("double") * 1e6).cast("long"))
      .orderBy(col("source"), col("shard_seq"))
  }

  /** Min-label propagation to a fixpoint over a bipartite membership
    * frame `(doc_id, bucket)` → `(doc_id, component_id, is_dup)`.
    * Round 0 is folded into initialization: `round(identity)` is just
    * bucket-min → doc-min over the membership itself, so the identity
    * frame, its distinct shuffle and its checkpoint never materialize.
    * Each loop iteration then runs ONE propagation round + convergence
    * count — propagation is monotone (labels only decrease), so a round
    * with zero decreases IS the fixpoint, and shallow corpora (dup
    * pairs / star clusters — the typical LSH shape) exit after a single
    * cheap iteration. From the third iteration on, each iteration ends
    * with a POINTER-JUMP (`label := label(label)` — every label is
    * itself a doc_id, so the lookup is a self-join), which doubles the
    * propagation distance per iteration: convergence is O(log diameter)
    * and the 25-iteration cap covers any diameter up to ~2²³; deep
    * chains pay the extra self-join, shallow ones never reach it.
    * Exceeding the cap fails loudly rather than returning a
    * silently-unconverged labeling.
    */
  private[graft] def connectedComponents(membershipRaw: DataFrame): DataFrame = {
    val membership = membershipRaw.localCheckpoint(true) // per-iteration join input
    // round 0: label(v) = min doc_id over v's buckets' members (== one
    // round over identity labels, without building the identity frame)
    val bucketMin0 = membership.groupBy(col("bucket")).agg(min(col("doc_id")).as("blabel"))
    var labels = membership.join(bucketMin0, Seq("bucket"))
      .groupBy(col("doc_id")).agg(min(col("blabel")).as("label"))
      .localCheckpoint(true)
    // each round carries the PREVIOUS label alongside the propagated one,
    // so the convergence check needs no re-join against the old frame
    def round(l: DataFrame): DataFrame = {
      val bucketMin = membership.join(l, Seq("doc_id"))
        .groupBy(col("bucket")).agg(min(col("label")).as("blabel"))
      val docMin = membership.join(bucketMin, Seq("bucket"))
        .groupBy(col("doc_id")).agg(min(col("blabel")).as("nlabel"))
      l.join(docMin, Seq("doc_id"), "left")
        .select(col("doc_id"), col("label").as("old_label"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
    }
    def jump(l: DataFrame): DataFrame =
      l.join(l.select(col("doc_id").as("jid"), col("label").as("jlabel")),
          col("label") === col("jid"), "left")
        .select(col("doc_id"), col("old_label"),
          coalesce(col("jlabel"), col("label")).as("label"))
    val MaxIter = 25
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < MaxIter) {
      val propagated = round(labels)
      // engage the jump only from the 4th round: typical LSH corpora
      // settle in ≤3 single rounds (the last being the zero-change
      // confirmation), so the self-join would land exactly on the
      // cheapest, final iteration; deep chains still get distance
      // doubling one round later
      val stepped = if (iter >= 3) jump(propagated) else propagated
      // fuse the convergence count into the checkpoint job: an observe()
      // metric rides the rows the eager localCheckpoint materializes
      // anyway (Dataset.localCheckpoint is a tracked action, so the
      // Observation is fulfilled), replacing the separate filter+count
      // job per iteration — labels are monotone non-increasing, so
      // "any label < old_label" IS the old strict-decrease count
      val obs = org.apache.spark.sql.Observation(s"cc_changed_$iter")
      val next = stepped
        .observe(obs, sum(when(col("label") < col("old_label"), 1L)
          .otherwise(0L)).as("changed"))
        .select(col("doc_id"), col("label"))
        .localCheckpoint(true)
      // empty frame: sum over no rows is null, read as 0 = converged
      changed = graft.core.Fixpoint.observedLong(obs, "changed", "connectedComponents", iter)
      labels = next
      iter += 1
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $MaxIter pointer-jumped iterations " +
          s"($changed labels still changing) — component diameter beyond 2^$MaxIter?")
    labels
      .select(col("doc_id"), col("label").as("component_id"),
        (col("label") < col("doc_id")).as("is_dup"))
  }

  /** q41 oracle: the same closure as unrolled POINTER-JUMPING rounds —
    * each round propagates the min label through the buckets, then jumps
    * `label := label(label)`, so convergence distance DOUBLES per round:
    * [[CcOracleRounds]] rounds cover any component diameter up to
    * 2^rounds, far beyond any oracle-scale corpus, with every round a
    * plain join+aggregate CTE (no recursive transitive pair set, which
    * is Σ component² rows and blows up on a dup-heavy corpus).
    */
  private val CcOracleRounds = 16

  /** The shared CTE chain ending in `l$CcOracleRounds(doc_id, label)` —
    * the q41 oracle selects it directly; the q56 oracle composes the
    * survivor join + component-size count on top.
    */
  private def dedupComponentsCtes: String = {
    val hashCtes = graft.functions.PortableStringHash.strHashCtes(
      "otoks", Seq("doc_id"), "tok", "ohash", "v")
    val rounds = (1 to CcOracleRounds).map { i =>
      val prev = s"l${i - 1}"
      s"""bm$i AS (SELECT m.band_idx, m.band_hash, min(l.label) AS blabel
               FROM bands m JOIN $prev l USING (doc_id) GROUP BY 1, 2),
       dm$i AS (SELECT m.doc_id, min(b.blabel) AS nlabel
               FROM bands m JOIN bm$i b USING (band_idx, band_hash) GROUP BY 1),
       lp$i AS MATERIALIZED (SELECT l.doc_id, least(l.label, coalesce(d.nlabel, l.label)) AS label
               FROM $prev l LEFT JOIN dm$i d USING (doc_id)),
       l$i AS MATERIALIZED (SELECT a.doc_id, b.label FROM lp$i a JOIN lp$i b ON b.doc_id = a.label)"""
    }.mkString(",\n       ")
    s"""otoks AS (SELECT doc_id,
                    unnest(list_distinct(string_split_regex(trim(text), '\\s+'))) AS tok
                    FROM documents),
       $hashCtes,
       vals AS (SELECT doc_id, v FROM ohash),
       ${minhashBandsSql},
       l0 AS (SELECT DISTINCT doc_id, doc_id AS label FROM bands),
       $rounds"""
  }

  private def dedupComponentsSql: String =
    s"""WITH ${dedupComponentsCtes}
       SELECT doc_id, label AS component_id, label < doc_id AS is_dup
       FROM l$CcOracleRounds ORDER BY doc_id"""

  private def sourceDedupRateSql: String =
    s"""WITH ${dedupComponentsCtes},
       comp AS (SELECT doc_id, label AS component_id, label < doc_id AS is_dup
                FROM l$CcOracleRounds),
       j AS (SELECT d.source, c.component_id, c.is_dup
             FROM documents d JOIN comp c USING (doc_id))
       SELECT source,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(count(CASE WHEN is_dup THEN 1 END) AS BIGINT) AS n_dups,
              CAST(count(DISTINCT component_id) AS BIGINT) AS n_components,
              round(CAST(count(CASE WHEN is_dup THEN 1 END) AS DOUBLE)
                    / CAST(count(*) AS DOUBLE), 6) AS dup_rate
       FROM j GROUP BY 1 ORDER BY 1"""

  private def dedupMaterializeSql: String =
    s"""WITH ${dedupComponentsCtes},
       comp AS (SELECT doc_id, label AS component_id FROM l$CcOracleRounds),
       sizes AS (SELECT component_id, count(*) AS n_merged FROM comp GROUP BY 1)
       SELECT d.doc_id, d.source, d.lang, d.n_chars, s.n_merged
       FROM documents d
       JOIN comp c ON c.doc_id = d.doc_id AND c.component_id = d.doc_id
       JOIN sizes s ON s.component_id = c.component_id
       ORDER BY d.doc_id"""

  private def leakageSafeSplitSql: String =
    s"""WITH ${dedupComponentsCtes},
       comp AS (SELECT doc_id, label FROM l$CcOracleRounds),
       a AS (SELECT d.doc_id, d.source,
                    coalesce(c.label, d.doc_id) AS component_id,
                    ${graft.functions.PortableHash.mixSql(
                      "coalesce(c.label, d.doc_id)", SplitSeed)} % 10000 AS bucket_bp
             FROM documents d LEFT JOIN comp c USING (doc_id))
       SELECT doc_id, source, component_id,
              CAST(bucket_bp AS BIGINT) AS bucket_bp,
              CASE WHEN bucket_bp < 8000 THEN 'train'
                   WHEN bucket_bp < 9000 THEN 'val'
                   ELSE 'test' END AS split
       FROM a ORDER BY doc_id"""

  private val NgramN = 3
  private val NgramThreshold = 0.5
  // stop-shingle cap: shingles present in more than max(Floor, corpus/Frac)
  // documents are dropped from the postings before the join — the head
  // of the df distribution is the skew killer (a shingle with df=d can
  // head a d-member prefix group). NOT a lossless filter: similarity is then
  // measured over the capped shingle space, so pairs alike only through
  // corpus-wide boilerplate intentionally stop qualifying (see the
  // ngramJaccard scaladoc; the oracle applies the same cap).
  private val NgramDfCapFloor = 100.0
  private val NgramDfCapFrac = 50.0 // cap = max(floor, n_docs / 50) = 2%

  /** N-gram (shingle) Jaccard near-dup — the ORDER-SENSITIVE companion to
    * q25's token-set Jaccard: 3-token shingles built directly from the
    * token ARRAY in one narrow projection (transform over an index
    * sequence — no per-doc window shuffle+sort, no separate distinct
    * exchange; array_distinct dedupes in place), then an EXACT
    * set-similarity join over the capped shingle sets (prefix filtering
    * by [[graft.core.SetSimJoin.jaccard]] just under 0.5, then the same
    * 6-decimal rounded filter at 0.5 as the oracle), which walks only the
    * pairs sharing a prefix shingle, not every co-occurring pair —
    * the standard exact path when the shingle space is open (no bitmask)
    * and candidates must not be missed (no MinHash approximation).
    *
    * Stop-shingles (df above [[NgramDfCapFloor]]/[[NgramDfCapFrac]]) are
    * dropped before the join and the drop COUNT IS LOGGED — never a
    * silent truncation. The cap CHANGES THE METRIC, deliberately: Jaccard
    * is over the capped shingle space (sizes post-cap), so a pair whose
    * similarity rests ONLY on corpus-wide boilerplate does not qualify —
    * the dedup-pipeline semantics (content-bearing similarity), not a
    * lossless candidate filter. Exactness holds WITHIN that metric (no
    * candidate sharing a sub-cap shingle is missed), and the DuckDB
    * oracle applies the identical cap, so the semantics stay
    * engine-exact. Pure integer counts + one rounded division → full
    * DuckDB oracle.
    */
  def q40NgramJaccard(s: SparkSession, dir: String): DataFrame =
    ngramJaccard(Tables.documents(s, dir))

  /** q40 core over any (doc_id, text) frame — split out so the df cap is
    * testable on a synthetic hot-shingle corpus.
    */
  private[graft] def ngramJaccard(docs: DataFrame): DataFrame = {
    val shingleArr = expr(
      s"transform(sequence(0, size(t) - $NgramN), i -> " +
        (0 until NgramN).map(k => s"t[i + $k]").mkString("concat_ws(' ', ", ", ", "))"))
    // The postings feed the df-cap aggregate (plus its logged count) and
    // the join: materialize them ONCE (executor-local blocks, spillable)
    // instead of re-deriving the scan+explode per consumer.
    val sh = docs
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"),
        explode(array_distinct(when(size(col("t")) >= NgramN, shingleArr)
          .otherwise(array().cast("array<string>")))).as("shingle"))
      .localCheckpoint(true)
    // The stop set is driver-bounded BY CONSTRUCTION, not by luck: with
    // cap >= n_docs/Frac, at most Σdf/cap <= Frac · (avg shingles per doc)
    // shingles can exceed it — a few thousand entries regardless of corpus
    // row count — so collecting it is safe at any scale, gives the logged
    // drop count for free, and lets the empty (common) case skip the
    // anti-join entirely.
    val capDf = docs.agg(
      greatest(lit(NgramDfCapFloor), count(lit(1)) / lit(NgramDfCapFrac)).as("cap"))
    val stop = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(capDf))
      .filter(col("df") > col("cap"))
      .select(col("shingle"))
      .collect().map(_.getString(0))
    if (stop.nonEmpty)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"q40: dropped ${stop.length} stop-shingles above the df cap " +
          s"(max($NgramDfCapFloor, n_docs/$NgramDfCapFrac))")
    val kept =
      if (stop.isEmpty) sh
      else sh.filter(!col("shingle").isInCollection(stop))
    // 49999/100000 is under 0.4999995, the least ratio that rounds to 0.5
    val pairs = SetSimJoin.jaccard(kept.select(col("doc_id"), col("shingle").as("tok")), 49999, 100000)
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("sa") + col("sb") - col("inter")), 6))
      .filter(col("jaccard") >= NgramThreshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    Ops.sortAfterHeavyStage(pairs, "doc_a", "doc_b")
  }

  /** q40 oracle: identical capped shingle postings join in DuckDB — the
    * stop-shingle CTEs mirror the Spark cap, sizes are post-cap, and the
    * WHERE filters on the SAME rounded value Spark filters on (an
    * unrounded filter would diverge for ratios in [t - 5e-7, t)).
    */
  private def ngramJaccardSql: String =
    s"""WITH toks AS (
         SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok,
                generate_subscripts(string_split_regex(trim(text), '\\s+'), 1) AS pos
         FROM documents),
       sh AS (
         SELECT DISTINCT doc_id,
                tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS shingle
         FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
         QUALIFY lead(tok, 2) OVER w IS NOT NULL),
       cap AS (SELECT greatest($NgramDfCapFloor, count(*) / $NgramDfCapFrac) AS cap
               FROM documents),
       stop AS (SELECT shingle FROM (SELECT shingle, count(*) AS df FROM sh GROUP BY 1), cap
                WHERE df > cap),
       kept AS (SELECT * FROM sh WHERE shingle NOT IN (SELECT shingle FROM stop)),
       sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY 1),
       inter AS (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
         FROM kept a JOIN kept b USING (shingle)
         WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
       SELECT doc_a, doc_b,
              round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
       FROM inter JOIN sizes sa ON sa.doc_id = doc_a
                  JOIN sizes sb ON sb.doc_id = doc_b
       WHERE round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= $NgramThreshold
       ORDER BY doc_a, doc_b"""

  /** SimHash per document: 64 bit-votes, each bit's ±1 sign drawn from the
    * portable hash of the token's dictionary index, votes summed in one
    * codegen'd 64-column hash aggregate over the long (doc_id, bit)
    * format, then folded into a single 64-bit fingerprint (bit 63 enters
    * as Long.MinValue so the fold never overflows ANSI arithmetic).
    * Deterministic integer math end-to-end → full DuckDB oracle.
    */
  private def simhashFingerprints(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.PortableHash.sign
    val votes = docTokenBits(s, dir).groupBy(col("doc_id"))
      .agg(sum(sign(col("bit"), SimhashSeed)).as("v0"),
        (1 until 64).map(b => sum(sign(col("bit"), SimhashSeed + b)).as(s"v$b")): _*)
    val fp = (0 until 63).map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _) + when(col("v63") > 0, lit(Long.MinValue)).otherwise(lit(0L))
    votes.select(col("doc_id"), fp.as("simhash"))
  }

  def q27Simhash(s: SparkSession, dir: String): DataFrame =
    simhashFingerprints(s, dir).orderBy(col("doc_id"))

  /** Pigeonhole band layout for the q37 hamming join: `SimhashMaxHamming
    * + 1` contiguous (offset, width) slices covering all 64 bits. Two
    * fingerprints within `SimhashMaxHamming` differing bits cannot differ
    * in every one of the `SimhashMaxHamming + 1` bands, so at least one
    * band matches EXACTLY — banding is a lossless candidate filter for
    * the hamming threshold.
    */
  private val SimhashBandSlices: Seq[(Int, Int)] = {
    val nb = SimhashMaxHamming + 1
    val base = 64 / nb
    val widths = Seq.fill(64 % nb)(base + 1) ++ Seq.fill(nb - 64 % nb)(base)
    widths.scanLeft(0)(_ + _).zip(widths)
  }

  /** SimHash near-dup decision table: pairs of DISTINCT fingerprints
    * within `SimhashMaxHamming` bits, each annotated with its duplicate
    * group's size and representative doc. On a dup-heavy corpus the doc
    * pair list is inherently quadratic (one 100-doc identical cluster
    * alone is ~5000 pairs; measured 35k+ pairs at sf0.1 even at
    * hamming=0), so — same principle as q26's cluster output — the query
    * emits the LINEAR fingerprint-level merge decisions; expanding any
    * decision to doc pairs is a downstream join the caller opts into.
    *
    * The pair walk is a pigeonhole-band EQUI-join ([[SimhashBandSlices]]):
    * each fingerprint explodes into 9 (band_idx, band_bits) keys, pairs
    * join on an exact band match, the hamming post-filter decides, and a
    * `distinct` folds pairs found via several bands. No cross join
    * anywhere — on a mostly-unique corpus the candidate set is the
    * per-band hash-bucket collisions, not O(n²), and the shuffle key is
    * the band. Arithmetic-shift + mask band extraction is identical in
    * Spark and DuckDB → still a full hash-checked oracle.
    */
  def q37SimhashNearDup(s: SparkSession, dir: String): DataFrame = {
    val groups = simhashFingerprints(s, dir)
      .groupBy(col("simhash"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("rep_doc"))
    val bandArr = array(SimhashBandSlices.map { case (off, w) =>
      shiftright(col("simhash"), off).bitwiseAND(lit((1L << w) - 1))
    }: _*)
    // both join sides read `banded`; materialize it once (linear in the
    // distinct-fingerprint count, spillable executor blocks) so the
    // 64-column vote aggregate doesn't run twice
    val banded = groups.select(col("simhash"), col("n_docs"), col("rep_doc"),
      posexplode(bandArr).as(Seq("band_idx", "band_bits")))
      .localCheckpoint(true)
    val a = banded.select(col("band_idx"), col("band_bits"), col("simhash").as("fp_a"),
      col("n_docs").as("docs_a"), col("rep_doc").as("rep_a"))
    val b = banded.select(col("band_idx"), col("band_bits"), col("simhash").as("fp_b"),
      col("n_docs").as("docs_b"), col("rep_doc").as("rep_b"))
    a.join(b, Seq("band_idx", "band_bits"))
      .filter(col("rep_a") < col("rep_b"))
      .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast("long"))
      .filter(col("hamming") <= SimhashMaxHamming)
      .select(col("rep_a"), col("rep_b"), col("hamming"),
        col("docs_a"), col("docs_b"))
      .distinct()
      .orderBy(col("rep_a"), col("rep_b"))
  }

  /** Brute-force cosine top-k: each query vector (vec_id < 10) against the
    * full embedding table. Embeddings are L2-normalized, so cosine == dot.
    * The broadcast side is the small query set — the big side streams.
    */
  /** Long-format (vec_id, dim, x) view of the embedding table — the shape
    * for heavy vector math: per-pair dot products become codegen'd
    * equi-joins + hash aggregates instead of interpreted per-row
    * higher-order array folds (~50x faster at 500x500x64).
    */
  private def embLong(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .withColumn("x", col("x").cast("double"))

  def q28CosineTopK(s: SparkSession, dir: String): DataFrame = {
    val e = embLong(s, dir)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("dim"), col("x").as("qx"))
    val scored = e.join(broadcast(q), Seq("dim"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(round(sum(col("qx") * col("x")), 6).as("score"))
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("rn"), col("vec_id").as("neighbor_id"), col("score"))
      .orderBy(col("qid"), col("rn"))
  }

  /** The dot product of two embeddings, summed in double in dimension
    * order — the one cosine both pair kernels (q29, q96) use. */
  private def dot(x: Array[Float], y: Array[Float]): Double = {
    var d = 0.0; var i = 0
    while (i < x.length) { d += x(i).toDouble * y(i).toDouble; i += 1 }
    d
  }

  /** Embedding-cosine near-dup (q29): every pair with dot >= 0.4
    * (threshold fits this corpus's similarity distribution), by brute
    * force — the all-pairs baseline; the LSH-bucketed variant is q30.
    * Every vector is one member of a single constant-key group, so
    * [[GroupPairs]] splits the all-pairs triangle into blocks of
    * [[GroupPairs.BlockSize]] vectors and spreads its cells over tasks,
    * each running a tight primitive-array dot loop. No vector reaches
    * the driver; the data movement is each vector copied to its block's
    * B cells (block-nested-loop replication). When n² itself is the
    * problem, q30's LSH bucketing is the scale path.
    */
  def q29CosineNearDup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val vecs = Tables.embeddings(s, dir)
      .select(lit(0), col("vec_id"), col("embedding")).as[(Int, Long, Array[Float])]
    val scored = GroupPairs(vecs)(_.pairs { (a, x, b, y) =>
      val d = dot(x, y)
      if (d >= 0.4) Some((a, b, d)) else None
    }).toDF("id_a", "id_b", "score_raw")
    val labels = Tables.embeddings(s, dir).select(col("vec_id"), col("label"))
    scored
      .join(broadcast(labels.select(col("vec_id").as("id_a"), col("label").as("label_a"))), Seq("id_a"))
      .join(broadcast(labels.select(col("vec_id").as("id_b"), col("label").as("label_b"))), Seq("id_b"))
      .select(col("id_a"), col("id_b"), round(col("score_raw"), 6).as("score"),
        (col("label_a") === col("label_b")).as("same_label"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Random-hyperplane LSH ANN (the scale path for q28/q29): 12 fixed
    * pseudo-hyperplanes whose ±1 components come from the portable hash of
    * the dimension index; a vector's bucket is the 12-bit sign pattern of
    * its hyperplane dots. Candidates only join within a bucket — at 100 TB
    * the bucket id is the shuffle key and each bucket's pair space is tiny.
    *
    * The hyperplane dots are computed over QUANTIZED components
    * (round(x·1e6) as long) so the sums are exact integers: the bucket is
    * order-independent and identical across engines, where a float sum
    * near zero could flip a sign bit between Spark and DuckDB. That makes
    * this a full hash-checked oracle query. The 12 sums come out of ONE
    * codegen'd hash aggregate over the long (vec_id, dim, xq) format.
    */
  def q30AnnLsh(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.PortableHash.sign
    val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val long = e.select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        round(col("x").cast("double") * 1e6).cast("long").as("xq"))
    val sums = long.groupBy(col("vec_id"))
      .agg(sum(col("xq") * sign(col("dim"), AnnSeed)).as("s0"),
        (1 until AnnPlanes).map(p => sum(col("xq") * sign(col("dim"), AnnSeed + p)).as(s"s$p")): _*)
    val bucket = sums.select(col("vec_id"),
      (0 until AnnPlanes).map(p => when(col(s"s$p") > 0, lit(1L << p)).otherwise(lit(0L)))
        .reduce(_ + _).as("bucket"))
    val be = e.join(bucket, Seq("vec_id"))
    val a = be.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"), col("bucket"))
    val b = be.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"), col("bucket"))
    a.join(b, Seq("bucket")).filter(col("id_a") < col("id_b"))
      .withColumn("score",
        round(graft.functions.VectorExpressions.dot_native(col("emb_a"), col("emb_b")), 6))
      .select(col("bucket"), col("id_a"), col("id_b"), col("score"))
      .orderBy(col("bucket"), col("id_a"), col("id_b"))
  }

  private val IvfLists = 16
  private val IvfProbes = 2

  /** IVF (inverted-file) ANN — the coarse-quantizer scale path next to
    * q30's LSH: vectors are assigned to the nearest of `IvfLists` centroid
    * lists; a query exhaustively searches only its `IvfProbes` nearest
    * lists. At 100 TB the list id is the partition key: assignment is one
    * map-side pass, and a query touches nprobe/nlists of the data.
    *
    * Centroids here are the `IvfLists` lowest-id vectors — a deterministic
    * stand-in for the offline k-means training step (which at scale runs
    * on a sample, not in the query path). Dots are rounded to 6 decimals
    * before every argmax/top-k (ties broken by id) so list assignment and
    * ranking are reproducible across engines → full DuckDB oracle.
    *
    * All dot products are long-format equi-join + hash aggregate
    * (codegen'd); the interpreted higher-order-fold shape never appears.
    */
  def q36AnnIvf(s: SparkSession, dir: String): DataFrame = {
    // The long-format table feeds centroid extraction and scoring; the
    // all-vector assignment runs as the array-form kernel instead. At
    // corpus scale, materialize the long table once (checkpoint to
    // parquet) before the multi-consumer lineage; at bench scale the
    // recompute is cheaper than cache churn (measured: an eager
    // localCheckpoint here is a wash at x10 rows and ~1s WORSE at sf0.1).
    val e = embLong(s, dir) // (vec_id, dim, x)
    val cents = e.filter(col("vec_id") < IvfLists)
      .select(col("vec_id").as("cid"), col("dim"), col("x").as("cx"))
    ivfSearch(s, Tables.embeddings(s, dir), e, cents)
  }

  /** Spark `round(_, 6)` exactly (Catalyst Round = BigDecimal HALF_UP) —
    * the kernel-side twin of the declarative rounding, so kernel dots and
    * join+agg dots are bit-identical.
    */
  private def round6(d: Double): Double =
    BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Collect a (cid, dim, cx) centroid frame into dense driver arrays —
    * bounded by the quantizer shape (nlists × ndims ≤ 2048 values), never
    * the corpus.
    */
  private def collectCentroids(cents: DataFrame): Array[(Long, Array[Double])] = {
    val rows = cents.select(col("cid").cast("long"), col("dim").cast("int"),
      col("cx").cast("double")).collect()
    rows.groupBy(_.getLong(0)).toArray.sortBy(_._1).map { case (cid, rs) =>
      val a = new Array[Double](rs.map(_.getInt(1)).max + 1)
      rs.foreach(r => a(r.getInt(1)) = r.getDouble(2))
      (cid, a)
    }
  }

  /** Nearest-centroid assignment as a partition-batched primitive kernel
    * over the ARRAY form: one register dot loop per (vector, centroid)
    * instead of the dim-key equi-join, which fans every long row out
    * nlists× before re-aggregating — at ×10 bench scale that join shape
    * materializes a 102M-row hash agg PER PASS (measured 4.8× wall at 10×
    * rows); the kernel does the same n·k·d FLOPs with no intermediate
    * rows at all. Rounding and tie-break replicate the declarative argmax
    * exactly: round(dot, 6) HALF_UP, highest dot wins, lowest cid on ties.
    */
  private def nearestCentroid(raw: DataFrame,
      bc: org.apache.spark.broadcast.Broadcast[Array[(Long, Array[Double])]]): DataFrame = {
    val s = raw.sparkSession
    import s.implicits._
    raw.select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      .mapPartitions { it =>
        val cents = bc.value
        it.map { case (id, emb) =>
          val x = emb.toArray
          var bestCid = Long.MaxValue
          var best = Double.NegativeInfinity
          cents.foreach { case (cid, c) =>
            var d = 0.0; var i = 0
            while (i < c.length) { d += x(i) * c(i); i += 1 }
            val r = round6(d)
            if (r > best || (r == best && cid < bestCid)) { best = r; bestCid = cid }
          }
          (id, bestCid)
        }
      }.toDF("vec_id", "list_id")
  }

  /** IVF probe + score tail shared by q36/q38: nearest-centroid
    * assignment for every vector, probe-list selection for the queries,
    * candidate expansion and exact scoring within the probed lists.
    * `cents` is (cid, dim, cx) — the broadcastable coarse quantizer.
    */
  private def ivfSearch(s: SparkSession, raw: DataFrame, e: DataFrame,
      cents: DataFrame): DataFrame = {
    import s.implicits._
    // nearest-centroid assignment for every vector via the array-form
    // kernel (no dim-join fanout); the probe lists need the FULL ranked
    // cdot table but only for the 10 query vectors — a second tiny kernel
    val bc = s.sparkContext.broadcast(collectCentroids(cents))
    val assign = nearestCentroid(raw, bc)
    val probeCdots = raw.filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      .mapPartitions { it =>
        val cs = bc.value
        it.flatMap { case (id, emb) =>
          val x = emb.toArray
          cs.iterator.map { case (cid, c) =>
            var d = 0.0; var i = 0
            while (i < c.length) { d += x(i) * c(i); i += 1 }
            (id, cid, round6(d))
          }
        }
      }.toDF("vec_id", "cid", "cdot")
    val byDot = Window.partitionBy(col("vec_id")).orderBy(col("cdot").desc, col("cid"))
    val probes = probeCdots
      .withColumn("crank", row_number().over(byDot))
      .filter(col("crank") <= IvfProbes)
      .select(col("vec_id").as("qid"), col("cid").as("list_id"))
    // candidates = vectors in any probed list; score with the query.
    // cands is nprobe/nlists of the id space — broadcast it so the wide
    // long-format table never shuffles for the candidate restriction.
    val cands = probes.join(assign, Seq("list_id"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"))
    val q = e.select(col("vec_id").as("qid"), col("dim"), col("x").as("qx"))
      .filter(col("qid") < 10)
    val scored = e.join(broadcast(cands), Seq("vec_id"))
      .join(broadcast(q), Seq("qid", "dim"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(round(sum(col("qx") * col("x")), 6).as("score"))
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("rn"), col("vec_id").as("neighbor_id"), col("score"))
      .orderBy(col("qid"), col("rn"))
  }

  private val KmeansIters = 2

  /** Distributed Lloyd iterations for the IVF coarse quantizer (the
    * offline training step q36 stubs with seed vectors): assignment is
    * the array-form [[nearestCentroid]] kernel (same rounded-argmax
    * semantics as the declarative form, none of the dim-join fanout);
    * the update step averages member vectors per (list, dim). Determinism
    * across engines: components are quantized to integers (`round(x*1e6)`)
    * before the mean, so the sum is exact integer arithmetic and the
    * final division produces bit-identical doubles in Spark and DuckDB —
    * a float sum's order-dependent ulp drift never reaches the
    * centroids. Lists that lose every member simply drop out (nlists
    * shrinks), identically on both engines.
    *
    * At scale: each iteration is one kernel pass over the array table
    * plus one join + hash aggregate over the long format (assign is one
    * row per VECTOR — AQE broadcasts it at small scale; at 100 TB it
    * must not be one). The per-iteration centroid collect is bounded by
    * the quantizer shape (nlists × ndims), never the corpus; k-means
    * over 100 TB runs on a sample upstream, but nothing here caps the
    * input size.
    */
  private def kmeansCentroids(s: SparkSession, raw: DataFrame, e: DataFrame,
      iters: Int): DataFrame = {
    var cents = e.filter(col("vec_id") < IvfLists)
      .select(col("vec_id").as("cid"), col("dim"), col("x").as("cx"))
    for (_ <- 1 to iters) {
      val bc = s.sparkContext.broadcast(collectCentroids(cents))
      val assign = nearestCentroid(raw, bc).withColumnRenamed("list_id", "cid")
      cents = e.join(assign, Seq("vec_id"))
        .groupBy(col("cid"), col("dim"))
        .agg((sum(round(col("x") * 1e6).cast("long")).cast("double")
          / (count(lit(1)) * lit(1e6))).as("cx"))
        // materialize each iteration's centroids (≤ nlists·ndims rows —
        // bounded by the quantizer shape, never the corpus) so the next
        // iteration's collect and the search tail replay a 1k-row local
        // scan instead of re-running every Lloyd iteration per consumer
        .localCheckpoint(true)
    }
    cents
  }

  /** IVF ANN with a REAL k-means coarse quantizer: [[KmeansIters]] Lloyd
    * iterations refine the seed centroids before the q36 probe/score
    * pipeline runs against them. Fully deterministic (quantized centroid
    * means, rounded dots, id tiebreaks) → full DuckDB oracle with the
    * iterations unrolled as CTEs.
    *
    * (An eager localCheckpoint of the long-format table here was measured
    * a wash at ×10 rows and ~1s worse at sf0.1 — the cost was never the
    * posexplode re-derivation but the dim-join fanout, which the
    * [[nearestCentroid]] kernel removed; see its scaladoc.)
    */
  def q38AnnIvfKmeans(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.embeddings(s, dir)
    val e = embLong(s, dir)
    ivfSearch(s, raw, e, kmeansCentroids(s, raw, e, KmeansIters))
  }

  private val SemDedupTau = 0.4

  /** SemDeDup (q96): SEMANTIC dedup over the embedding space — cluster
    * first, then pairwise-prune only within clusters (the SemDeDup
    * pipeline shape, Abbas et al. 2023, arXiv:2303.09540). Stage 1 is
    * the q38 coarse quantizer ([[KmeansIters]] deterministic Lloyd
    * iterations, quantized-integer centroid means); stage 2 computes
    * exact cosine ONLY within each cluster ([[clusterPairs]]) and drops
    * every vector that has an earlier (lower-id) in-cluster neighbor
    * with sim >= [[SemDedupTau]] — keep-one-representative with a
    * deterministic representative (min id).
    *
    * Scale shape: clustering bounds the quadratic — pairwise work is
    * Σ|cluster|², never n² — and no task ever holds a whole cluster:
    * K-means routinely produces one mega-cluster on real data, and
    * [[GroupPairs]] walks it as many bounded cells. Emits every vector
    * with its cluster, earlier-neighbor count, max similarity and kept
    * flag, so the dedup itself is a `kept` filter downstream.
    */
  /** Within-cluster cosine pairs over `(list_id, vec_id, embedding)`
    * members: `(id_a, id_b, sim)` with id_a < id_b, sim the dot rounded
    * to 6 decimals and ≥ [[SemDedupTau]], each pair evaluated once.
    */
  private[graft] def clusterPairs(members: DataFrame): DataFrame = {
    val s = members.sparkSession
    import s.implicits._
    GroupPairs(members.select(col("list_id").cast("long"), col("vec_id"), col("embedding"))
      .as[(Long, Long, Array[Float])])(_.pairs { (a, x, b, y) =>
      val r = round6(dot(x, y))
      if (r >= SemDedupTau) Some((a, b, r)) else None
    }).toDF("id_a", "id_b", "sim")
  }

  def q96SemDedup(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.embeddings(s, dir)
    val e = embLong(s, dir)
    val cents = kmeansCentroids(s, raw, e, KmeansIters)
    val bc = s.sparkContext.broadcast(collectCentroids(cents))
    val assign = nearestCentroid(raw, bc)
    val pairs = clusterPairs(raw.join(assign, Seq("vec_id"))
      .select(col("list_id"), col("vec_id"), col("embedding")))
    val dups = pairs.groupBy(col("id_b").as("vec_id"))
      .agg(count(lit(1)).as("n_dups_earlier"), max(col("sim")).as("max_sim_earlier"))
    assign.join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("list_id"),
        coalesce(col("n_dups_earlier"), lit(0L)).as("n_dups_earlier"),
        coalesce(col("max_sim_earlier"), lit(0.0)).as("max_sim_earlier"),
        col("n_dups_earlier").isNull.as("kept"))
      .orderBy(col("vec_id"))
  }

  /** q36 oracle: the same IVF pipeline in DuckDB SQL. */
  private def annIvfSql: String =
    s"""WITH raw AS (SELECT vec_id, unnest(embedding) AS x,
                            generate_subscripts(embedding, 1) AS i FROM embeddings),
       e AS (SELECT vec_id, CAST(x AS DOUBLE) AS x, CAST(i AS BIGINT) - 1 AS dim FROM raw),
       cents AS (SELECT vec_id AS cid, dim, x AS cx FROM e WHERE vec_id < $IvfLists),
       cdots AS (SELECT e.vec_id, c.cid, round(sum(e.x * c.cx), 6) AS cdot
                 FROM e JOIN cents c USING (dim) GROUP BY 1, 2),
       ranked AS (SELECT vec_id, cid,
                         row_number() OVER (PARTITION BY vec_id
                                            ORDER BY cdot DESC, cid) AS crank
                  FROM cdots),
       assign AS (SELECT vec_id, cid AS list_id FROM ranked WHERE crank = 1),
       probes AS (SELECT vec_id AS qid, cid AS list_id FROM ranked
                  WHERE vec_id < 10 AND crank <= $IvfProbes),
       cands AS (SELECT p.qid, a.vec_id FROM probes p JOIN assign a USING (list_id)
                 WHERE a.vec_id <> p.qid),
       scored AS (SELECT c.qid, c.vec_id,
                         round(sum(q.x * v.x), 6) AS score
                  FROM cands c
                  JOIN e v ON v.vec_id = c.vec_id
                  JOIN e q ON q.vec_id = c.qid AND q.dim = v.dim
                  GROUP BY 1, 2),
       topk AS (SELECT qid, vec_id, score,
                       CAST(row_number() OVER (PARTITION BY qid
                                               ORDER BY score DESC, vec_id) AS BIGINT) AS rn
                FROM scored)
       SELECT qid, rn, vec_id AS neighbor_id, score FROM topk WHERE rn <= 5
       ORDER BY qid, rn"""

  /** CTE chain shared by the q38 and q96 oracles: long-format `e`, the
    * [[KmeansIters]] unrolled Lloyd iterations, and the final
    * nearest-centroid assignment. Defines `raw`, `e`, `cents0..N`,
    * `cdots`, `ranked` (full centroid ranking per vector — q38's probe
    * CTE reads it) and `assign(vec_id, list_id)`.
    */
  private def kmeansAssignCtes: String = {
    val init =
      s"cents0 AS (SELECT vec_id AS cid, dim, x AS cx FROM e WHERE vec_id < $IvfLists)"
    val iters = (1 to KmeansIters).map { k =>
      s"""kcd$k AS (SELECT e.vec_id, c.cid, round(sum(e.x * c.cx), 6) AS cdot
                 FROM e JOIN cents${k - 1} c USING (dim) GROUP BY 1, 2),
       kas$k AS (SELECT vec_id, cid FROM
                   (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                           ORDER BY cdot DESC, cid) AS rn FROM kcd$k)
                 WHERE rn = 1),
       cents$k AS (SELECT a.cid, e.dim,
                          CAST(CAST(sum(CAST(round(e.x * 1e6) AS BIGINT)) AS BIGINT) AS DOUBLE)
                          / (count(*) * 1e6) AS cx
                   FROM e JOIN kas$k a USING (vec_id) GROUP BY 1, 2)"""
    }.mkString(",\n       ")
    s"""raw AS (SELECT vec_id, unnest(embedding) AS x,
                            generate_subscripts(embedding, 1) AS i FROM embeddings),
       e AS (SELECT vec_id, CAST(x AS DOUBLE) AS x, CAST(i AS BIGINT) - 1 AS dim FROM raw),
       $init,
       $iters,
       cdots AS (SELECT e.vec_id, c.cid, round(sum(e.x * c.cx), 6) AS cdot
                 FROM e JOIN cents$KmeansIters c USING (dim) GROUP BY 1, 2),
       ranked AS (SELECT vec_id, cid,
                         row_number() OVER (PARTITION BY vec_id
                                            ORDER BY cdot DESC, cid) AS crank
                  FROM cdots),
       assign AS (SELECT vec_id, cid AS list_id FROM ranked WHERE crank = 1)"""
  }

  /** q38 oracle: the same probe/score pipeline as q36's, but over
    * centroids refined by [[KmeansIters]] unrolled Lloyd-iteration CTEs.
    */
  private def annIvfKmeansSql: String = {
    s"""WITH $kmeansAssignCtes,
       probes AS (SELECT vec_id AS qid, cid AS list_id FROM ranked
                  WHERE vec_id < 10 AND crank <= $IvfProbes),
       cands AS (SELECT p.qid, a.vec_id FROM probes p JOIN assign a USING (list_id)
                 WHERE a.vec_id <> p.qid),
       scored AS (SELECT c.qid, c.vec_id,
                         round(sum(q.x * v.x), 6) AS score
                  FROM cands c
                  JOIN e v ON v.vec_id = c.vec_id
                  JOIN e q ON q.vec_id = c.qid AND q.dim = v.dim
                  GROUP BY 1, 2),
       topk AS (SELECT qid, vec_id, score,
                       CAST(row_number() OVER (PARTITION BY qid
                                               ORDER BY score DESC, vec_id) AS BIGINT) AS rn
                FROM scored)
       SELECT qid, rn, vec_id AS neighbor_id, score FROM topk WHERE rn <= 5
       ORDER BY qid, rn"""
  }

  /** q101 oracle: the union'd band chain, bucket equi-join restricted to
    * hist×new pairs, best-candidate window, exact Jaccard of the best
    * pair (q25's list_intersect formulation).
    */
  /** q103 oracle: split hash + the q39 band chain over split-keyed ids,
    * boundary-restricted band self-join for candidates, token-set
    * Jaccard verification, eval-census LEFT join.
    */
  private def splitLeakageSql: String = {
    val spCtes = graft.functions.PortableStringHash.strHashCtes(
      "sp0", Seq("doc_id"), "tok", "sph", "h")
    val hashCtes = graft.functions.PortableStringHash.strHashCtes(
      "otoks", Seq("doc_id"), "tok", "ohash", "v")
    s"""WITH sp0 AS (SELECT doc_id, 'split:v1|' || CAST(doc_id AS VARCHAR) AS tok
       |            FROM documents),
       |$spCtes,
       |split AS (SELECT doc_id,
       |                 CASE WHEN h % 10 < 8 THEN 'train'
       |                      WHEN h % 10 = 8 THEN 'val'
       |                      ELSE 'test' END AS split
       |          FROM sph),
       |otoks AS (SELECT doc_id,
       |          unnest(list_distinct(string_split_regex(trim(text), '\\s+'))) AS tok
       |          FROM documents),
       |$hashCtes,
       |vals AS (SELECT CASE WHEN s.split = 'train' THEN o.doc_id
       |                     ELSE o.doc_id + $SplitOffset END AS doc_id, o.v
       |         FROM ohash o JOIN split s USING (doc_id)),
       |${minhashBandsSql},
       |cand AS (SELECT a.doc_id AS train_id, b.doc_id - $SplitOffset AS eval_id,
       |                CAST(count(*) AS BIGINT) AS n_buckets
       |         FROM bands a JOIN bands b USING (band_idx, band_hash)
       |         WHERE a.doc_id < $SplitOffset AND b.doc_id >= $SplitOffset
       |         GROUP BY 1, 2),
       |tsets AS (SELECT doc_id,
       |                 list_distinct(string_split_regex(trim(text), '\\s+')) AS toks
       |          FROM documents),
       |scored AS (SELECT c.eval_id,
       |                  round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
       |                        / (CAST(len(a.toks) + len(b.toks) AS DOUBLE)
       |                           - CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)),
       |                        6) AS jaccard
       |           FROM cand c JOIN tsets a ON a.doc_id = c.train_id
       |                       JOIN tsets b ON b.doc_id = c.eval_id),
       |ag AS (SELECT eval_id, CAST(count(*) AS BIGINT) AS n_cand,
       |              CAST(count(CASE WHEN jaccard >= $VerifyThreshold THEN 1 END)
       |                   AS BIGINT) AS n_leaks,
       |              max(jaccard) AS max_jaccard
       |       FROM scored GROUP BY 1)
       |SELECT s.doc_id, s.split,
       |       coalesce(ag.n_cand, 0) AS n_cand,
       |       coalesce(ag.n_leaks, 0) AS n_leaks,
       |       coalesce(ag.n_leaks, 0) > 0 AS leaked,
       |       coalesce(ag.max_jaccard, 0.0) AS max_jaccard
       |FROM split s LEFT JOIN ag ON ag.eval_id = s.doc_id
       |WHERE s.split <> 'train'
       |ORDER BY s.doc_id""".stripMargin
  }

  private def incNearDupSql: String = {
    val hashCtes = graft.functions.PortableStringHash.strHashCtes(
      "utoks", Seq("doc_id"), "tok", "uhash", "v")
    s"""WITH uni AS (
         SELECT doc_id, text FROM documents
         UNION ALL
         SELECT doc_id + $NearDupOffset AS doc_id, ntext AS text FROM (
           SELECT doc_id,
                  CASE WHEN doc_id % 3 = 0 THEN 'update: ' || text
                       ELSE 'zz' || doc_id || 'a zz' || doc_id || 'b zz' || doc_id || 'c'
                  END AS ntext
           FROM documents)),
       utoks AS (SELECT doc_id,
                 unnest(list_distinct(string_split_regex(trim(text), '\\s+'))) AS tok
                 FROM uni),
       $hashCtes,
       vals AS (SELECT doc_id, v FROM uhash),
       ${minhashBandsSql},
       cand AS (SELECT a.doc_id AS match_id, b.doc_id AS new_id,
                       CAST(count(*) AS BIGINT) AS n_buckets
                FROM bands a JOIN bands b USING (band_idx, band_hash)
                WHERE a.doc_id < $NearDupOffset AND b.doc_id >= $NearDupOffset
                GROUP BY 1, 2),
       best AS (SELECT match_id, new_id, n_buckets FROM (
                  SELECT match_id, new_id, n_buckets,
                         row_number() OVER (PARTITION BY new_id
                           ORDER BY n_buckets DESC, match_id) AS rn
                  FROM cand) WHERE rn = 1),
       t AS (SELECT doc_id,
                    list_distinct(string_split_regex(trim(text), '\\s+')) AS ts
             FROM uni),
       v AS (SELECT b.new_id, b.match_id, b.n_buckets,
                    round(CAST(len(list_intersect(ta.ts, tb.ts)) AS DOUBLE)
                          / (CAST(len(ta.ts) + len(tb.ts) AS DOUBLE)
                             - CAST(len(list_intersect(ta.ts, tb.ts)) AS DOUBLE)),
                          6) AS jaccard
             FROM best b JOIN t ta ON ta.doc_id = b.match_id
                         JOIN t tb ON tb.doc_id = b.new_id)
       SELECT n.doc_id AS new_id,
              coalesce(v.match_id, -1) AS match_id,
              coalesce(v.n_buckets, 0) AS n_buckets,
              coalesce(v.jaccard, 0.0) AS jaccard,
              coalesce(v.jaccard, 0.0) >= $VerifyThreshold AS is_near_dup
       FROM (SELECT doc_id FROM uni WHERE doc_id >= $NearDupOffset) n
       LEFT JOIN v ON v.new_id = n.doc_id
       ORDER BY new_id"""
  }

  /** q99 oracle: the bloom replayed as SET-MEMBERSHIP over the same bit
    * positions (a bloom filter IS the set of its set bits — packing is
    * representation, not semantics), plus the exact md5 dedup join.
    */
  private def bloomDedupSql: String = {
    import graft.functions.PortableStringHash
    s"""WITH hist AS (SELECT DISTINCT md5(text) AS th FROM documents),
       hsalt AS (SELECT th, 1 AS salt, 'bloom1|' || th AS tok FROM hist
                 UNION ALL SELECT th, 2, 'bloom2|' || th FROM hist),
       ${PortableStringHash.strHashCtes("hsalt", Seq("th", "salt"), "tok", "hb", "h")},
       bitset AS (SELECT DISTINCT h % $BloomBits AS bit FROM hb),
       n AS (SELECT doc_id + $NearDupOffset AS new_id, doc_id AS src_id,
                    md5(CASE WHEN doc_id % 3 = 0 THEN text
                             ELSE text || ' [rev2]' END) AS th
             FROM documents),
       nsalt AS (SELECT new_id, 1 AS salt, 'bloom1|' || th AS tok FROM n
                 UNION ALL SELECT new_id, 2, 'bloom2|' || th FROM n),
       ${PortableStringHash.strHashCtes("nsalt", Seq("new_id", "salt"), "tok", "nh", "h")},
       nbloom AS (SELECT nh.new_id, bool_and(bs.bit IS NOT NULL) AS bloom_hit
                  FROM nh LEFT JOIN bitset bs ON bs.bit = nh.h % $BloomBits
                  GROUP BY 1),
       d AS (SELECT DISTINCT n.new_id FROM n JOIN hist USING (th))
       SELECT n.new_id, n.src_id, b.bloom_hit,
              d.new_id IS NOT NULL AS is_dup,
              d.new_id IS NULL AS kept
       FROM n JOIN nbloom b USING (new_id) LEFT JOIN d USING (new_id)
       ORDER BY n.new_id"""
  }

  /** q96 oracle: the shared k-means-assignment CTE prefix + within-
    * cluster pairwise dots + the earlier-neighbor dedup rule, replayed
    * relationally (cluster self-join on list equality, id_a < id_b).
    */
  private def semDedupSql: String =
    s"""WITH $kmeansAssignCtes,
       pairs AS (SELECT e1.vec_id AS id_a, e2.vec_id AS id_b,
                        round(sum(e1.x * e2.x), 6) AS sim
                 FROM assign a1
                 JOIN assign a2 ON a2.list_id = a1.list_id
                                AND a2.vec_id > a1.vec_id
                 JOIN e e1 ON e1.vec_id = a1.vec_id
                 JOIN e e2 ON e2.vec_id = a2.vec_id AND e2.dim = e1.dim
                 GROUP BY 1, 2
                 HAVING round(sum(e1.x * e2.x), 6) >= $SemDedupTau),
       dups AS (SELECT id_b AS vec_id, CAST(count(*) AS BIGINT) AS n_dups_earlier,
                       max(sim) AS max_sim_earlier
                FROM pairs GROUP BY 1)
       SELECT a.vec_id, a.list_id,
              coalesce(d.n_dups_earlier, 0) AS n_dups_earlier,
              coalesce(d.max_sim_earlier, 0.0) AS max_sim_earlier,
              d.n_dups_earlier IS NULL AS kept
       FROM assign a LEFT JOIN dups d USING (vec_id)
       ORDER BY a.vec_id"""

  /** INT8-quantized ANN (q65): the memory-bound 100 TB variant of q28 —
    * embeddings symmetric-quantize to int8 per vector
    * (scale = 127/max|x|, q = ⌊x·scale + ½⌋ — round-half-up spelled as
    * floor, because native float→int rounding modes differ across
    * engines while floor does not), neighbor
    * scoring runs on EXACT integer dot products (4× smaller vectors,
    * SIMD-able int math — the standard scalar-quantization ANN storage
    * trick). Ranking uses the DEQUANTIZED score dot_q/(scale_a·scale_b) —
    * per-vector scales make raw integer dots incomparable across
    * neighbors — but stays bit-reproducible: the dot is an exact BIGINT
    * and dequantization is ONE IEEE division of exact operands, so the
    * ordering (ties broken by id) is identical on every engine — a
    * guarantee float accumulation order can't give.
    *
    * The HASHED output carries no IEEE-rounded column: the score is
    * published as exact fixed-point `score_fp = ⌊score_raw·10⁶⌋` (a
    * BIGINT — IEEE ÷ and × of exact operands are correctly-rounded and
    * thus engine-identical, and floor has no half-way mode), because
    * decimal `round(double, 6)` half-way behavior is an engine/build
    * detail (round-half-even vs half-away) that a gate contract must
    * not depend on. `dot_q` is likewise pinned to BIGINT on the oracle
    * side — DuckDB widens sum(BIGINT) to HUGEINT, a representation the
    * hasher may render differently.
    */
  def q65QuantAnn(s: SparkSession, dir: String): DataFrame = {
    // all-zero vectors are excluded EXPLICITLY on both sides: 127/0 is
    // +Inf and 0·Inf is NaN, which Spark's non-ANSI cast nulls while
    // DuckDB's cast throws — an engine-asymmetric failure with no
    // meaningful quantization anyway (a zero vector has no direction)
    val e = Tables.embeddings(s, dir)
      .withColumn("mx", array_max(transform(col("embedding"), x => abs(x.cast("double")))))
      .filter(col("mx") > 0)
      .withColumn("scale", lit(127.0) / col("mx"))
      .select(col("vec_id"), col("scale"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("dim"), col("scale"),
        floor(col("x").cast("double") * col("scale") + lit(0.5)).cast("long").as("qx"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("dim"), col("qx").as("qqx"),
        col("scale").as("qscale"))
    val scored = e.join(broadcast(q), Seq("dim"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("qqx") * col("qx")).as("dot_q"),
        max(col("qscale") * col("scale")).as("ss")) // constant per group
      .withColumn("score_raw", col("dot_q").cast("double") / col("ss"))
    val w = Window.partitionBy(col("qid")).orderBy(col("score_raw").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("qid"), col("rn"), col("vec_id").as("neighbor_id"), col("dot_q"),
        floor(col("score_raw") * lit(1e6)).cast("long").as("score_fp"))
      .orderBy(col("qid"), col("rn"))
  }

  private val ContDfCap = 32
  private val ContMinBp = 7000L

  /** q159: CONTAINMENT DEDUP — the ASYMMETRIC overlap metric
    * C(A→B) = |A∩B|/|A| in exact basis points, per document pair: a
    * short document quoted wholesale inside a long one has high
    * containment but LOW Jaccard (the union is dominated by the long
    * side), so q25/q40's symmetric metrics structurally miss it — this
    * is the quote/subset-expansion signal a curation pipeline needs
    * next to them (set-similarity-join literature calls it the overlap
    * /containment join).
    *
    * Scale shape: open-vocabulary postings (q40's discipline, not
    * q25's 64-bit masks — containment targets size-skewed pairs, which
    * a bounded dictionary misrepresents): per-doc DISTINCT token
    * hashes, df-capped to 2..[[ContDfCap]] docs (a stopword can never
    * fan out quadratically), ONE postings self-join counting shared
    * tokens, sizes joined back, both directions published as exact
    * integer divisions. Pairs survive when either direction ≥
    * [[ContMinBp]] bp. The metric space is the CAPPED token set on
    * both numerator and denominator — internally consistent, and the
    * cap is the same production guard q40 documents.
    */
  def q159Containment(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.PortableStringHash.strHash
    val post = Tables.documents(s, dir)
      .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("tok"))
      .select(col("doc_id"), strHash(col("tok")).as("h"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfc = post.groupBy(col("h")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2 && col("nd") <= ContDfCap)
      .select(col("h"))
    val kept = post.join(dfc, Seq("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = kept.as("a")
      .join(kept.as("b"), col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")), Seq("doc_b"))
      .withColumn("cont_a_bp", expr("(n_shared * 10000) div n_a"))
      .withColumn("cont_b_bp", expr("(n_shared * 10000) div n_b"))
      .filter(greatest(col("cont_a_bp"), col("cont_b_bp")) >= ContMinBp)
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("n_a"), col("n_b"),
        col("cont_a_bp"), col("cont_b_bp"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** q160: QUALITY-CANONICAL DEDUP REPRESENTATIVE — the selection step
    * after component labeling done the way a production curation run
    * does it: keep each near-dup cluster's HIGHEST-QUALITY member, not
    * its lowest id (q56's min-id rule is the simple policy; real
    * pipelines keep the cleanest copy — the same document scraped from
    * a boilerplate-heavy mirror should lose to its clean original).
    * Composes q41's transitive components with q57's quality score and
    * reports, per component, the chosen representative next to the
    * naive min-id choice and whether the policy actually changed the
    * outcome.
    *
    * Scale shape: the argmax is a STRUCT-MAX AGGREGATE
    * (max(struct(quality, −doc_id))) — partial-aggregated map-side, so
    * a mega-component never forces a per-group sort (the q96 lesson:
    * no window over organic group sizes); ties break to the lowest id
    * deterministically through the negated field. Component labels
    * come from the checkpointed bipartite propagation (q41), quality
    * is the shared rounded formula (q57) — both already gate-proven.
    */
  def q160BestRep(s: SparkSession, dir: String): DataFrame = {
    val comp = docComponents(s, dir).select(col("doc_id"), col("component_id"))
    val q = Tables.documents(s, dir)
      .select(col("doc_id"), qualityScore(col("text")).as("quality"))
    comp.join(q, Seq("doc_id"))
      .groupBy(col("component_id"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("quality"), (-col("doc_id")).as("nid"))).as("best"),
        min(struct(col("doc_id"), col("quality"))).as("naive"))
      .select(col("component_id"), col("n_members"),
        (-col("best.nid")).as("rep_id"), col("best.quality").as("rep_quality"),
        col("naive.doc_id").as("naive_id"), col("naive.quality").as("naive_quality"),
        (-col("best.nid") =!= col("naive.doc_id")).as("improved"))
      .orderBy(col("component_id"))
  }

  /** q194: EXACT τ-JACCARD SIMILARITY JOIN via PREFIX FILTERING — the
    * database-literature discipline (PPJoin, Xiao et al. 2008) that
    * fills the gap between this file's two existing similarity joins:
    * q25 is exact but needs a bounded dictionary (64-bit masks), and
    * q26/q39's LSH is open-vocabulary but PROBABILISTIC (a pair can be
    * missed). Prefix filtering is open-vocab, subquadratic AND
    * recall-1.0 by theorem: order every document's distinct tokens by
    * ascending global document frequency (rarest first, ties by token),
    * keep each document's first |x| − ⌈τ|x|⌉ + 1 tokens as its PREFIX,
    * and two documents can reach Jaccard ≥ τ ONLY if their prefixes
    * share a token — in fact the rarest token they share lies in both
    * prefixes.
    *
    * Kernel ([[graft.core.SetSimJoin.jaccard]] at 1/2): an exact int
    * dictionary in (df, token) order, one sorted int set per doc, and
    * one posting per prefix token carrying the whole set. ONE exchange
    * groups the postings by token; one pass per token group applies the
    * length filter (2·min ≥ max), intersects the two sorted sets with
    * two pointers and keeps 3·|∩| ≥ |a|+|b| in integers.
    * Exactly-once rule: a pair is emitted only from the group of the
    * first (rarest) token the two sets share, so no `distinct` and no
    * join back to the sets runs.
    *
    * Scale shape: a token group of g postings costs O(g²) pair checks —
    * the same as a self-join keyed by prefix token. A hot token is
    * by construction a HIGH-df token, which prefixes exclude unless the
    * document is mostly such tokens. The final sort goes through
    * [[graft.core.Ops.sortAfterHeavyStage]], so the range sample reads
    * shuffle output instead of running the kernel a second time.
    * Nothing is all-pairs, nothing is probabilistic.
    */
  def q194PpjoinExact(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("tok"))
      .filter(length(col("tok")) > 0)
    val pairs = SetSimJoin.jaccard(tok, 1, 2)
      .withColumn("jaccard", round(col("inter").cast("double")
        / (col("sa") + col("sb") - col("inter")).cast("double"), 6))
    Ops.sortAfterHeavyStage(pairs, "doc_a", "doc_b")
  }

  private val FalseMergeFp = 500000L // edit-sim < 0.5 => suspicious merge

  /** q195: EDIT-DISTANCE VERIFICATION OF LSH CLUSTERS — the character-
    * level second opinion a production dedup runs before DELETING
    * documents: MinHash/LSH agglomeration (q39's open-vocab clustering,
    * reused verbatim) works on token SETS, so a doc that shares
    * vocabulary but not phrasing can false-merge; per cluster member,
    * the exact Levenshtein distance to the cluster representative
    * (both engines' native levenshtein — standard unit-cost DP, exact
    * integers) and the normalized edit similarity as a fixed point flag
    * merges where the byte-level evidence is weak
    * (< [[FalseMergeFp]]). This is the q91 verify stage's complement:
    * q91 re-checks the SET metric exactly, q195 checks a DIFFERENT
    * metric space entirely — set-identical docs with reordered
    * sentences surface here and nowhere else.
    *
    * Scale shape: pairs are member→representative, so the pair count is
    * LINEAR in documents (≤ one per member, never quadratic); each pair
    * costs O(len²) character DP — bounded by document length, the
    * production reason edit verification runs after clustering, never
    * before. One join for each side's text, both keyed by id.
    *
    * Fixture honesty: this corpus's planted near-dups share tokens with
    * RANDOMIZED word order, so every LSH merge here is character-weak
    * (measured max edit-sim 0.395 at sf0.01) and the verifier flags all
    * of them — which is the operator's point made loudly: set-similar
    * is not phrasing-similar. The spec pins that verdict plus an exact
    * scalar-DP replay of the distances.
    */
  def q195EditVerify(s: SparkSession, dir: String): DataFrame = {
    val txt = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val verified = q39MinhashOpenVocab(s, dir)
      .select(col("doc_id"), col("cluster_id"))
      .filter(col("cluster_id") < col("doc_id"))
      .join(txt, Seq("doc_id"))
      .join(txt.select(col("doc_id").as("cluster_id"),
        col("text").as("rep_text")), Seq("cluster_id"))
      // explicit fan-out: AQE coalesces these few pairs onto one task,
      // and each costs an O(len²) edit-distance DP. Keyed on both ids:
      // the pairs already arrive hash-partitioned by doc_id, so a doc_id
      // repartition (here or in the sort helper) is dropped as redundant
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"), col("cluster_id"))
      .withColumn("edit_dist", levenshtein(col("text"), col("rep_text")).cast("long"))
      .withColumn("max_len",
        greatest(length(col("text")), length(col("rep_text"))).cast("long"))
      .withColumn("edit_sim_fp",
        expr("((max_len - edit_dist) * 1000000) div max_len"))
      .withColumn("false_merge", col("edit_sim_fp") < FalseMergeFp)
      .select(col("doc_id"), col("cluster_id"), col("edit_dist"),
        col("max_len"), col("edit_sim_fp"), col("false_merge"))
    Ops.sortAfterHeavyStage(verified, "doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q194_ppjoin_exact" -> (q194PpjoinExact _),
    "q195_edit_verify" -> (q195EditVerify _),
    "q159_containment" -> (q159Containment _),
    "q160_best_rep" -> (q160BestRep _),
    "q65_quant_ann" -> (q65QuantAnn _),
    "q36_ann_ivf" -> (q36AnnIvf _),
    "q38_ann_ivf_kmeans" -> (q38AnnIvfKmeans _),
    "q96_semdedup" -> (q96SemDedup _),
    "q37_simhash_neardup" -> (q37SimhashNearDup _),
    "q24_exact_dedup" -> (q24ExactDedup _),
    "q99_bloom_dedup" -> (q99BloomDedup _),
    "q101_inc_neardup" -> (q101IncNearDup _),
    "q103_split_leakage" -> (q103SplitLeakage _),
    "q113_source_dedup_rate" -> (q113SourceDedupRate _),
    "q118_shard_dedup_trend" -> (q118ShardDedupTrend _),
    "q25_jaccard" -> (q25Jaccard _),
    "q40_ngram_jaccard" -> (q40NgramJaccard _),
    "q26_minhash_lsh" -> (q26MinhashLsh _),
    "q39_minhash_openvocab" -> (q39MinhashOpenVocab _),
    "q91_lsh_verify" -> (q91LshVerify _),
    "q41_dedup_components" -> (q41DedupComponents _),
    "q131_leakage_safe_split" -> (q131LeakageSafeSplit _),
    "q56_dedup_materialize" -> (q56DedupMaterialize _),
    "q27_simhash" -> (q27Simhash _),
    "q28_cosine_topk" -> (q28CosineTopK _),
    "q29_cosine_neardup" -> (q29CosineNearDup _),
    "q30_ann_lsh" -> (q30AnnLsh _),
  )

  /** MinHash+LSH oracle tail over a CTE chain that must define
    * `vals(doc_id, v)` — the same banding/bucketing as
    * [[minhashLshCluster]], generated from the same seeds/weights.
    */
  /** The sig→wide→bands CTE chain over a `vals(doc_id, v)` CTE — shared
    * by the LSH cluster oracle and the connected-components oracle.
    */
  private def minhashBandsSql: String = {
    import graft.functions.PortableHash.{mixSql, P}
    val r = MinhashK / LshBands
    val minCols = (0 until MinhashK)
      .map(k => s"min(${mixSql("v", k)}) AS m$k").mkString(",\n             ")
    val bandExprs = (0 until LshBands).map { b =>
      val terms = BandWeights.zipWithIndex
        .map { case (w, i) => s"m${b * r + i} * $w" }.mkString(" + ")
      s"(($terms + $b) % $P) AS b$b"
    }.mkString(",\n             ")
    val bandCase = (0 until LshBands).map(b => s"WHEN $b THEN b$b").mkString(" ")
    // MATERIALIZED: bands is referenced from several consumers per
    // oracle; without it DuckDB inlines the whole chain per reference
    // (exponentially in the unrolled-rounds oracle)
    s"""sig AS (SELECT doc_id, $minCols FROM vals GROUP BY doc_id),
       wide AS (SELECT doc_id, $bandExprs FROM sig),
       bands AS MATERIALIZED (SELECT doc_id, u.band_idx, CASE u.band_idx $bandCase END AS band_hash
                 FROM wide CROSS JOIN (SELECT unnest(range($LshBands)) AS band_idx) u)"""
  }

  private def minhashLshTailSql(prefixCtes: String): String = {
    s"""WITH $prefixCtes,
       ${minhashBandsSql},
       bucket AS (SELECT band_idx, band_hash, min(doc_id) AS bucket_min,
                         count(*) AS bucket_size
                  FROM bands GROUP BY 1, 2)
       SELECT b.doc_id, min(u.bucket_min) AS cluster_id, max(u.bucket_size) AS max_bucket,
              min(u.bucket_min) < b.doc_id AS is_dup
       FROM bands b JOIN bucket u USING (band_idx, band_hash)
       GROUP BY b.doc_id ORDER BY doc_id"""
  }

  /** q26 oracle: dictionary-index MinHash over the long token-bit view. */
  private def minhashLshSql: String =
    minhashLshTailSql(
      s"""$docTokenBitsSql,
       vals AS (SELECT doc_id, bit AS v FROM t)""")

  /** q39 oracle: dictionary-free MinHash over portable string hashes. */
  private def minhashOpenVocabSql: String = {
    val hashCtes = graft.functions.PortableStringHash.strHashCtes(
      "otoks", Seq("doc_id"), "tok", "ohash", "v")
    minhashLshTailSql(
      s"""otoks AS (SELECT doc_id,
                    unnest(list_distinct(string_split_regex(trim(text), '\\s+'))) AS tok
                    FROM documents),
       $hashCtes,
       vals AS (SELECT doc_id, v FROM ohash)""")
  }

  /** q118 oracle: the q39 open-vocab band chain, per-doc earlier-arrival
    * flag, then the source×shard report with a windowed cumulative.
    */
  private def shardDedupTrendSql: String = {
    val hashCtes = graft.functions.PortableStringHash.strHashCtes(
      "otoks", Seq("doc_id"), "tok", "ohash", "v")
    s"""WITH otoks AS (SELECT doc_id,
                    unnest(list_distinct(string_split_regex(trim(text), '\\s+'))) AS tok
                    FROM documents),
       $hashCtes,
       vals AS (SELECT doc_id, v FROM ohash),
       ${minhashBandsSql},
       bucket AS (SELECT band_idx, band_hash, min(doc_id) AS bucket_min
                  FROM bands GROUP BY 1, 2),
       flags AS (SELECT b.doc_id, min(u.bucket_min) < b.doc_id AS is_dup
                 FROM bands b JOIN bucket u USING (band_idx, band_hash)
                 GROUP BY b.doc_id),
       shards AS (SELECT d.source, d.doc_id // $ShardArrivalW AS shard_seq, f.is_dup
                  FROM documents d JOIN flags f USING (doc_id)),
       agg AS (SELECT source, shard_seq,
                      CAST(count(*) AS BIGINT) AS n_docs,
                      CAST(count(*) FILTER (WHERE is_dup) AS BIGINT) AS n_dups
               FROM shards GROUP BY 1, 2)
       SELECT source, shard_seq, n_docs, n_dups,
              CAST(floor(CAST(n_dups AS DOUBLE) / CAST(n_docs AS DOUBLE) * 1e6)
                   AS BIGINT) AS dup_rate_fp,
              CAST(floor(CAST(sum(n_dups) OVER w AS DOUBLE)
                    / CAST(sum(n_docs) OVER w AS DOUBLE) * 1e6)
                   AS BIGINT) AS cum_dup_rate_fp
       FROM agg
       WINDOW w AS (PARTITION BY source ORDER BY shard_seq ROWS UNBOUNDED PRECEDING)
       ORDER BY source, shard_seq"""
  }

  /** q91 oracle: the q39 band chain, bucket-key self-join for candidate
    * pairs, then the exact token-set Jaccard of candidates only.
    */
  private def lshVerifySql: String = {
    val hashCtes = graft.functions.PortableStringHash.strHashCtes(
      "otoks", Seq("doc_id"), "tok", "ohash", "v")
    s"""WITH otoks AS (SELECT doc_id,
       |              unnest(list_distinct(string_split_regex(trim(text), '\\s+'))) AS tok
       |              FROM documents),
       |$hashCtes,
       |vals AS (SELECT doc_id, v FROM ohash),
       |${minhashBandsSql},
       |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_buckets
       |         FROM bands a JOIN bands b
       |           ON b.band_idx = a.band_idx AND b.band_hash = a.band_hash
       |          AND a.doc_id < b.doc_id
       |         GROUP BY 1, 2),
       |tsets AS (SELECT doc_id,
       |                 list_distinct(string_split_regex(trim(text), '\\s+')) AS toks
       |          FROM documents),
       |scored AS (SELECT c.doc_a, c.doc_b, c.n_buckets,
       |                  round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
       |                        / CAST(len(a.toks) + len(b.toks)
       |                               - len(list_intersect(a.toks, b.toks)) AS DOUBLE),
       |                        6) AS jaccard
       |           FROM cand c
       |           JOIN tsets a ON a.doc_id = c.doc_a
       |           JOIN tsets b ON b.doc_id = c.doc_b)
       |SELECT doc_a, doc_b, n_buckets, jaccard FROM scored
       |WHERE jaccard >= $VerifyThreshold
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** q27 oracle: 64 portable-hash bit votes + fingerprint fold in DuckDB. */
  private def simhashSql: String = {
    import graft.functions.PortableHash.signSql
    val voteCols = (0 until 64)
      .map(b => s"CAST(sum(${signSql("bit", SimhashSeed + b)}) AS BIGINT) AS v$b")
      .mkString(",\n             ")
    val fpTerms = (0 until 63)
      .map(b => s"CASE WHEN v$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END")
      .mkString(" + ") +
      " + CASE WHEN v63 > 0 THEN (-9223372036854775807 - 1) ELSE CAST(0 AS BIGINT) END"
    s"""WITH $docTokenBitsSql,
       votes AS (SELECT doc_id, $voteCols FROM t GROUP BY doc_id)
       SELECT doc_id, $fpTerms AS simhash FROM votes ORDER BY doc_id"""
  }

  /** q37 oracle: same pigeonhole-band equi-join in DuckDB (arithmetic
    * `>>` + mask extracts identical band bits to Spark's shiftright).
    */
  private def simhashNearDupSql: String = {
    import graft.functions.PortableHash.signSql
    val voteCols = (0 until 64)
      .map(b => s"CAST(sum(${signSql("bit", SimhashSeed + b)}) AS BIGINT) AS v$b")
      .mkString(",\n             ")
    val fpTerms = (0 until 63)
      .map(b => s"CASE WHEN v$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END")
      .mkString(" + ") +
      " + CASE WHEN v63 > 0 THEN (-9223372036854775807 - 1) ELSE CAST(0 AS BIGINT) END"
    val bandCase = SimhashBandSlices.zipWithIndex.map { case ((off, w), i) =>
      s"WHEN $i THEN (simhash >> $off) & ${(1L << w) - 1}"
    }.mkString(" ")
    s"""WITH $docTokenBitsSql,
       votes AS (SELECT doc_id, $voteCols FROM t GROUP BY doc_id),
       fps AS (SELECT doc_id, $fpTerms AS simhash FROM votes),
       groups AS (SELECT simhash, count(*) AS n_docs, min(doc_id) AS rep_doc
                  FROM fps GROUP BY simhash),
       banded AS (SELECT simhash, n_docs, rep_doc, u.band_idx,
                         CASE u.band_idx $bandCase END AS band_bits
                  FROM groups CROSS JOIN
                       (SELECT unnest(range(${SimhashBandSlices.size})) AS band_idx) u)
       SELECT DISTINCT a.rep_doc AS rep_a, b.rep_doc AS rep_b,
              CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming,
              a.n_docs AS docs_a, b.n_docs AS docs_b
       FROM banded a JOIN banded b USING (band_idx, band_bits)
       WHERE bit_count(xor(a.simhash, b.simhash)) <= $SimhashMaxHamming
         AND a.rep_doc < b.rep_doc
       ORDER BY rep_a, rep_b"""
  }

  /** q30 oracle: quantized hyperplane buckets + in-bucket pair scores. */
  private def annLshSql: String = {
    import graft.functions.PortableHash.signSql
    val sumCols = (0 until AnnPlanes)
      .map(p => s"CAST(sum(xq * ${signSql("dim", AnnSeed + p)}) AS BIGINT) AS s$p")
      .mkString(",\n             ")
    val bucketTerms = (0 until AnnPlanes)
      .map(p => s"CASE WHEN s$p > 0 THEN CAST(${1L << p} AS BIGINT) ELSE 0 END")
      .mkString(" + ")
    s"""WITH raw AS (SELECT vec_id, unnest(embedding) AS x,
                            generate_subscripts(embedding, 1) AS i FROM embeddings),
       e AS (SELECT vec_id, CAST(x AS DOUBLE) AS xd,
                    CAST(i AS BIGINT) - 1 AS dim,
                    CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT) AS xq FROM raw),
       s AS (SELECT vec_id, $sumCols FROM e GROUP BY vec_id),
       b AS (SELECT vec_id, $bucketTerms AS bucket FROM s),
       p AS (SELECT a.vec_id AS id_a, b2.vec_id AS id_b, a.bucket
             FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
       SELECT p.bucket, p.id_a, p.id_b, round(sum(ea.xd * eb.xd), 6) AS score
       FROM p JOIN e ea ON ea.vec_id = p.id_a
              JOIN e eb ON eb.vec_id = p.id_b AND eb.dim = ea.dim
       GROUP BY 1, 2, 3 ORDER BY bucket, id_a, id_b"""
  }

  val oracleSql: Map[String, String] = Map(
    // q195: the q39 band chain to clusters, then both texts joined and
    // both engines' native levenshtein (standard unit-cost DP, exact)
    "q195_edit_verify" -> {
      val hashCtes = graft.functions.PortableStringHash.strHashCtes(
        "otoks", Seq("doc_id"), "tok", "ohash", "v")
      s"""WITH otoks AS (SELECT doc_id,
        |              unnest(list_distinct(string_split_regex(trim(text), '\\s+'))) AS tok
        |              FROM documents),
        |$hashCtes,
        |vals AS (SELECT doc_id, v FROM ohash),
        |$minhashBandsSql,
        |bucket AS (SELECT band_idx, band_hash, min(doc_id) AS bucket_min
        |           FROM bands GROUP BY 1, 2),
        |cl AS (SELECT b.doc_id, min(u.bucket_min) AS cluster_id
        |       FROM bands b JOIN bucket u USING (band_idx, band_hash)
        |       GROUP BY 1),
        |m AS (SELECT doc_id, cluster_id FROM cl WHERE cluster_id < doc_id)
        |SELECT m.doc_id, m.cluster_id,
        |       CAST(levenshtein(t.text, r.text) AS BIGINT) AS edit_dist,
        |       CAST(greatest(len(t.text), len(r.text)) AS BIGINT) AS max_len,
        |       CAST((greatest(len(t.text), len(r.text))
        |             - levenshtein(t.text, r.text)) * 1000000
        |            // greatest(len(t.text), len(r.text)) AS BIGINT) AS edit_sim_fp,
        |       (greatest(len(t.text), len(r.text))
        |        - levenshtein(t.text, r.text)) * 1000000
        |       // greatest(len(t.text), len(r.text)) < $FalseMergeFp AS false_merge
        |FROM m JOIN documents t ON t.doc_id = m.doc_id
        |       JOIN documents r ON r.doc_id = m.cluster_id
        |ORDER BY m.doc_id""".stripMargin
    },
    // q194: BRUTE-FORCE τ-join as the oracle — the prefix filter's
    // recall-1.0 theorem means the engine's pruned candidate set must
    // hash-equal the unpruned all-pairs answer; integer threshold
    // (3·inter >= sa+sb ⟺ jaccard >= 1/2)
    "q194_ppjoin_exact" ->
      """WITH t AS (SELECT DISTINCT doc_id, tok FROM (
        |            SELECT doc_id,
        |                   unnest(string_split_regex(trim(text), '\s+')) AS tok
        |            FROM documents) WHERE len(tok) > 0),
        |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS s FROM t GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |                 CAST(count(*) AS BIGINT) AS inter
        |          FROM t a JOIN t b ON b.tok = a.tok AND b.doc_id > a.doc_id
        |          GROUP BY 1, 2)
        |SELECT p.doc_a, p.doc_b, p.inter, sa.s AS sa, sb.s AS sb,
        |       round(CAST(p.inter AS DOUBLE) / (sa.s + sb.s - p.inter), 6)
        |         AS jaccard
        |FROM pairs p
        |JOIN sz sa ON sa.doc_id = p.doc_a
        |JOIN sz sb ON sb.doc_id = p.doc_b
        |WHERE 3 * p.inter >= sa.s + sb.s
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q36_ann_ivf" -> annIvfSql,
    "q160_best_rep" ->
      s"""WITH ${dedupComponentsCtes},
          comp AS (SELECT doc_id, label AS component_id FROM l$CcOracleRounds),
          q AS (SELECT doc_id, ${TextAnalytics.qualitySql("text")} AS quality
                FROM (SELECT doc_id, text,
                             string_split_regex(trim(text), '\\s+') AS toks
                      FROM documents)),
          j AS (SELECT c.component_id, q.doc_id, q.quality
                FROM comp c JOIN q USING (doc_id)),
          r AS (SELECT component_id, doc_id, quality,
                       row_number() OVER (PARTITION BY component_id
                                          ORDER BY quality DESC, doc_id) AS rk,
                       row_number() OVER (PARTITION BY component_id
                                          ORDER BY doc_id) AS rn,
                       count(*) OVER (PARTITION BY component_id) AS n_members
                FROM j)
          SELECT b.component_id, CAST(b.n_members AS BIGINT) AS n_members,
                 b.doc_id AS rep_id, b.quality AS rep_quality,
                 c.doc_id AS naive_id, c.quality AS naive_quality,
                 b.doc_id <> c.doc_id AS improved
          FROM (SELECT * FROM r WHERE rk = 1) b
          JOIN (SELECT * FROM r WHERE rn = 1) c USING (component_id)
          ORDER BY component_id""",
    "q159_containment" ->
      s"""WITH raw AS (
            SELECT DISTINCT doc_id, tok FROM (
              SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
              FROM documents)),
          ${graft.functions.PortableStringHash.strHashCtes(
            "raw", Seq("doc_id"), "tok", "th", "h")},
          post AS (SELECT DISTINCT doc_id, h FROM th),
          dfc AS (SELECT h FROM post GROUP BY h
                  HAVING count(*) >= 2 AND count(*) <= $ContDfCap),
          kept AS (SELECT p.doc_id, p.h FROM post p JOIN dfc USING (h)),
          sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM kept GROUP BY 1),
          inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                           CAST(count(*) AS BIGINT) AS n_shared
                    FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
                    GROUP BY 1, 2)
          SELECT i.doc_a, i.doc_b, i.n_shared, sa.n AS n_a, sb.n AS n_b,
                 (i.n_shared * 10000) // sa.n AS cont_a_bp,
                 (i.n_shared * 10000) // sb.n AS cont_b_bp
          FROM inter i
          JOIN sz sa ON sa.doc_id = i.doc_a
          JOIN sz sb ON sb.doc_id = i.doc_b
          WHERE greatest((i.n_shared * 10000) // sa.n,
                         (i.n_shared * 10000) // sb.n) >= $ContMinBp
          ORDER BY doc_a, doc_b""",
    "q38_ann_ivf_kmeans" -> annIvfKmeansSql,
    "q96_semdedup" -> semDedupSql,
    "q99_bloom_dedup" -> bloomDedupSql,
    "q101_inc_neardup" -> incNearDupSql,
    "q103_split_leakage" -> splitLeakageSql,
    "q37_simhash_neardup" -> simhashNearDupSql,
    "q26_minhash_lsh" -> minhashLshSql,
    "q39_minhash_openvocab" -> minhashOpenVocabSql,
    "q91_lsh_verify" -> lshVerifySql,
    "q41_dedup_components" -> dedupComponentsSql,
    "q131_leakage_safe_split" -> leakageSafeSplitSql,
    "q56_dedup_materialize" -> dedupMaterializeSql,
    "q113_source_dedup_rate" -> sourceDedupRateSql,
    "q118_shard_dedup_trend" -> shardDedupTrendSql,
    "q40_ngram_jaccard" -> ngramJaccardSql,
    "q27_simhash" -> simhashSql,
    "q30_ann_lsh" -> annLshSql,
    "q24_exact_dedup" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
         FROM documents GROUP BY 1 ORDER BY keep_id""",
    "q25_jaccard" ->
      """WITH t AS (SELECT doc_id, list_distinct(string_split_regex(trim(text), '\s+')) AS toks
                    FROM documents)
         SELECT doc_a, doc_b, round(jaccard, 6) AS jaccard FROM (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                  / (CAST(len(a.toks) + len(b.toks) AS DOUBLE)
                     - CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)) AS jaccard
           FROM t a JOIN t b ON a.doc_id < b.doc_id)
         WHERE jaccard >= 0.95 ORDER BY doc_a, doc_b""",
    "q28_cosine_topk" ->
      """WITH e AS (SELECT vec_id, unnest(embedding) AS x,
                           generate_subscripts(embedding, 1) AS i FROM embeddings),
         d AS (SELECT q.vec_id AS qid, b.vec_id AS nid,
                      round(sum(CAST(q.x AS DOUBLE) * CAST(b.x AS DOUBLE)), 6) AS score
               FROM (SELECT * FROM e WHERE vec_id < 10) q
               JOIN e b USING (i)
               WHERE b.vec_id <> q.vec_id GROUP BY 1, 2),
         r AS (SELECT *, CAST(row_number() OVER (PARTITION BY qid
                    ORDER BY score DESC, nid) AS BIGINT) AS rn FROM d)
         SELECT qid, rn, nid AS neighbor_id, score FROM r WHERE rn <= 5
         ORDER BY qid, rn""",
    "q65_quant_ann" ->
      """WITH e0 AS (SELECT vec_id, unnest(embedding) AS x,
                            generate_subscripts(embedding, 1) AS i FROM embeddings),
         sc AS (SELECT vec_id, 127.0 / max(abs(CAST(x AS DOUBLE))) AS scale
                FROM e0 GROUP BY 1
                HAVING max(abs(CAST(x AS DOUBLE))) > 0),
         qv AS (SELECT e0.vec_id, i, scale,
                       CAST(floor(CAST(x AS DOUBLE) * scale + 0.5) AS BIGINT) AS qx
                FROM e0 JOIN sc USING (vec_id)),
         d AS (SELECT q.vec_id AS qid, b.vec_id AS nid,
                      sum(q.qx * b.qx) AS dot_q,
                      CAST(sum(q.qx * b.qx) AS DOUBLE) / max(q.scale * b.scale) AS score_raw
               FROM (SELECT * FROM qv WHERE vec_id < 10) q
               JOIN qv b USING (i)
               WHERE b.vec_id <> q.vec_id GROUP BY 1, 2),
         r AS (SELECT *, CAST(row_number() OVER (PARTITION BY qid
                    ORDER BY score_raw DESC, nid) AS BIGINT) AS rn FROM d)
         SELECT qid, rn, nid AS neighbor_id, CAST(dot_q AS BIGINT) AS dot_q,
                CAST(floor(score_raw * 1e6) AS BIGINT) AS score_fp
         FROM r WHERE rn <= 3 ORDER BY qid, rn""",
    "q29_cosine_neardup" ->
      """WITH e AS (SELECT vec_id, label, unnest(embedding) AS x,
                           generate_subscripts(embedding, 1) AS i FROM embeddings),
         d AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                      any_value(a.label) = any_value(b.label) AS same_label,
                      sum(CAST(a.x AS DOUBLE) * CAST(b.x AS DOUBLE)) AS score_raw
               FROM e a JOIN e b USING (i)
               WHERE a.vec_id < b.vec_id GROUP BY 1, 2)
         SELECT id_a, id_b, round(score_raw, 6) AS score, same_label
         FROM d WHERE score_raw >= 0.4 ORDER BY id_a, id_b""",
  )
}
