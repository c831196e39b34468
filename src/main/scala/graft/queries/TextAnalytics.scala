package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.sources.Tables

/** Text-analysis queries over the documents table: token counting,
  * language-ID heuristic, quality scoring, rolling-hash fingerprinting.
  * Every formula is mirrored exactly in the DuckDB oracle SQL.
  */
object TextAnalytics {

  /** GPT-2-style pretokenizer shape (space-prefixed letter runs, digit
    * runs, punctuation runs) restricted to the regex subset Java and RE2
    * evaluate identically: no lookahead, no unicode property classes,
    * same alternation order (both engines are leftmost-first here).
    */
  private val BpeRe = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"

  def q20Tokens(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        tokenCount(col("text")).as("n_tokens"),
        regexp_count(col("text"), lit(BpeRe)).cast("long").as("n_bpe_tokens"),
        length(col("text")).cast("long").as("n_chars_actual"),
        round(avgWordLen(col("text")), 6).as("avg_word_len"))
      .orderBy(col("doc_id"))

  def q21LangId(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        langId(col("text")).as("lang_pred"))
      .withColumn("is_match", col("lang") === col("lang_pred"))
      .orderBy(col("doc_id"))

  /** q145: LANGUAGE-ID CONFUSION MATRIX — the classifier-evaluation
    * report run before trusting q21's predictions for routing: per
    * (true lang, predicted lang) cell count with both marginals, and
    * exact basis-point recall/precision on the diagonal. Everything
    * integer (no float in the hashed output).
    *
    * Scale shape: one (lang, lang_pred)-keyed count (languages are a
    * handful, partial map-side), two marginal aggregates over the same
    * scan, both BROADCAST back onto the cell frame — output is
    * languages², independent of corpus size.
    */
  def q145LangConfusion(s: SparkSession, dir: String): DataFrame = {
    val pred = Tables.documents(s, dir)
      .select(col("lang"), langId(col("text")).as("lang_pred"))
    val cells = pred.groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
    val trueTot = pred.groupBy(col("lang")).agg(count(lit(1)).as("n_true"))
    val predTot = pred.groupBy(col("lang_pred")).agg(count(lit(1)).as("n_pred"))
    cells
      .join(broadcast(trueTot), Seq("lang"))
      .join(broadcast(predTot), Seq("lang_pred"))
      .withColumn("recall_bp",
        when(col("lang") === col("lang_pred"), expr("(n * 10000) div n_true")))
      .withColumn("precision_bp",
        when(col("lang") === col("lang_pred"), expr("(n * 10000) div n_pred")))
      .select(col("lang"), col("lang_pred"), col("n"), col("n_true"),
        col("n_pred"), col("recall_bp"), col("precision_bp"))
      .orderBy(col("lang"), col("lang_pred"))
  }

  def q22Quality(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        round(stopwordRatio(col("text")), 6).as("stop_ratio"),
        round(punctRatio(col("text")), 6).as("punct_ratio"),
        qualityScore(col("text")).as("quality"))
      .orderBy(col("doc_id"))

  def q23Fingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id"))

  /** Within-document repetition signals — the Gopher-rule style
    * repetitive-content filters a pretraining pipeline applies before
    * dedup: the duplicate 3-gram fraction (1 − distinct/total) and the
    * most-frequent 2-gram's share of all 2-grams. Everything is a NARROW
    * per-document projection over the token array (transform +
    * array_distinct + filter counts — no explode, no shuffle; the
    * per-doc HOF work is bounded by document length squared, fine for
    * natural documents and embarrassingly parallel at corpus scale).
    */
  def q42Repetition(s: SparkSession, dir: String): DataFrame = {
    def grams(n: Int) = when(size(col("t")) >= n,
      expr(s"transform(sequence(0, size(t) - $n), i -> " +
        (0 until n).map(k => s"t[i + $k]").mkString("concat_ws(' ', ", ", ", "))")))
      .otherwise(array().cast("array<string>"))
    // top-2gram count = longest equal run in the SORTED gram list: the
    // transform(array_distinct)/filter formulation re-scans the gram
    // list once per distinct gram (O(n²) interpreted HOF per doc); the
    // sorted max-run aggregate is one O(n log n) sort + one linear fold
    val maxRun = expr(
      "aggregate(sequence(1, size(sg2) - 1), named_struct('run', 1, 'best', 1), " +
        "(a, i) -> named_struct(" +
        "'run', IF(sg2[i] = sg2[i-1], a.run + 1, 1), " +
        "'best', GREATEST(a.best, IF(sg2[i] = sg2[i-1], a.run + 1, 1))), " +
        "a -> a.best)")
    Tables.documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"), grams(3).as("g3"), grams(2).as("g2"))
      .withColumn("sg2", sort_array(col("g2")))
      .select(
        col("doc_id"),
        when(size(col("g3")) > 0,
          round(lit(1.0) -
            size(array_distinct(col("g3"))).cast("double") / size(col("g3")), 6))
          .otherwise(lit(0.0)).as("dup_3gram_frac"),
        when(size(col("g2")) >= 2,
          round(maxRun.cast("double") / size(col("g2")), 6))
          .when(size(col("g2")) === 1, lit(1.0))
          .otherwise(lit(0.0)).as("top_2gram_frac"))
      .orderBy(col("doc_id"))
  }

  /** Gopher-style rule cascade (q127) — the document-level heuristic
    * filter bundle of Rae et al. 2021 (Gopher, arXiv:2112.11446 §A1.1),
    * the standard pre-dedup gate of CC-scale pipelines (reused by
    * RefinedWeb/FineWeb): word-count bounds, mean-word-length bounds,
    * symbol-to-word ratio, alphabetic-word fraction, stop-word floor,
    * and the duplicate-3-gram ceiling (q42's signal as a hard rule).
    *
    * Exactness: every ratio threshold is CROSS-MULTIPLIED into an
    * integer comparison (mean word length in [3,10] ⟺ 3·n_words ≤
    * word_chars ≤ 10·n_words; symbol ratio < 0.1 ⟺ 10·n_sym < n_words;
    * alpha fraction ≥ 0.8 ⟺ 5·n_alpha ≥ 4·n_words; dup-3-gram ≤ 0.3 ⟺
    * 10·(total−distinct) ≤ 3·total) — no division anywhere, so the gate
    * hashes pure BIGINTs and booleans. The raw counts are emitted so
    * the hash checks the measurement, not just the verdicts.
    *
    * Scale: one narrow codegen'd projection per document — no explode,
    * no exchange except the output sort; the plan is scan→project at
    * any corpus size (the 3-gram distinct count is a per-doc HOF over
    * the token array, bounded by document length).
    */
  def q127GopherRules(s: SparkSession, dir: String): DataFrame =
    gopherRulesOf(Tables.documents(s, dir)).orderBy(col("doc_id"))

  /** The Gopher cascade over any (doc_id, text, ...) frame — batch or
    * STREAMING (pure stateless codegen projection); extra columns in
    * `keep` pass through. Shared by q127 and the streaming export
    * gate q147. */
  private[graft] def gopherRulesOf(docs: DataFrame,
      keep: Seq[String] = Nil): DataFrame = {
    val g3 = when(size(col("t")) >= 3,
      expr("transform(sequence(0, size(t) - 3), i -> " +
        "concat_ws(' ', t[i], t[i + 1], t[i + 2]))"))
      .otherwise(array().cast("array<string>"))
    docs
      .select((Seq(col("doc_id"), col("text"), tokens(col("text")).as("t")) ++
        keep.map(col)): _*)
      .select((Seq(col("doc_id"),
        size(col("t")).cast("long").as("n_words"),
        length(regexp_replace(col("text"), "\\s+", "")).cast("long").as("word_chars"),
        expr("size(filter(t, x -> x rlike '^[A-Za-z]+$'))").cast("long").as("n_alpha"),
        countIn(col("t"), EnStop).as("n_stop"),
        (length(col("text")) - length(regexp_replace(col("text"), "#", "")) +
          regexp_count(col("text"), lit("\\.\\.\\."))).cast("long").as("n_sym"),
        size(g3).cast("long").as("g3_total"),
        size(array_distinct(g3)).cast("long").as("g3_distinct")) ++
        keep.map(col)): _*)
      .withColumn("r_wordcount", col("n_words") >= 50 && col("n_words") <= 100000L)
      .withColumn("r_meanlen",
        lit(3) * col("n_words") <= col("word_chars") &&
          col("word_chars") <= lit(10) * col("n_words"))
      .withColumn("r_symbol", lit(10) * col("n_sym") < col("n_words"))
      .withColumn("r_alpha", lit(5) * col("n_alpha") >= lit(4) * col("n_words"))
      .withColumn("r_stop", col("n_stop") >= 2)
      .withColumn("r_dup3",
        lit(10) * (col("g3_total") - col("g3_distinct")) <= lit(3) * col("g3_total"))
      .withColumn("pass",
        col("r_wordcount") && col("r_meanlen") && col("r_symbol") &&
          col("r_alpha") && col("r_stop") && col("r_dup3"))
  }

  /** Deterministic mixture sampling (q55): reproducible per-source
    * sub-sampling for a training-data mix — keep a document iff the
    * portable hash of a salted doc key lands under its source's rate in
    * basis points. rate(srcN) = 2000 + 1500·(N mod 4) bp (20/35/50/65%),
    * a closed form over the source ordinal so any source count works.
    * ZERO shuffles: one narrow codegen'd filter over the scan — the
    * 100 TB plan is scan→filter→project with no exchange at all.
    * Reproducibility comes from the hash, not an RNG seed: retries and
    * backfills re-derive the same sample, and re-salting ("mix:v2|")
    * re-draws it deterministically. The sample composition is auditable
    * per row via the emitted bucket.
    */
  def q55SampleMixture(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.PortableStringHash.strHash
    val srcNum = regexp_extract(col("source"), "([0-9]+)$", 1).cast("long")
    val rateBp = lit(2000L) + lit(1500L) * pmod(srcNum, lit(4L))
    Tables.documents(s, dir)
      .withColumn("bucket_bp",
        pmod(strHash(concat(lit("mix:v1|"), col("doc_id").cast("string"))), lit(10000L)))
      .filter(col("bucket_bp") < rateBp)
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"), col("bucket_bp"))
      .orderBy(col("doc_id"))
  }

  /** Per-source quality top-k (q57): the CURATION shape — keep the K
    * best documents of each source by q22's quality score, ties broken
    * by doc_id so selection is fully deterministic. Declarative
    * row_number-over-window + rank filter is the scale-correct
    * formulation on Spark ≥3.5: the optimizer inserts a
    * WindowGroupLimit(Partial) BELOW the exchange, so every input
    * partition forwards at most K rows per source before the shuffle —
    * the classic two-phase top-k without hand-written partial
    * aggregation, and the per-source skew a plain window would suffer
    * at 100 TB (one task per source) never materializes. Verified in
    * PLANS.md via explain.
    */
  def q57QualityTopK(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(col("quality").desc, col("doc_id").asc)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), qualityScore(col("text")).as("quality"))
      .withColumn("rank_in_source", row_number().over(w))
      .filter(col("rank_in_source") <= 10)
      .orderBy(col("doc_id"))
  }

  private val DecontamN = 8
  private val DecontamBenchMod = 50

  /** Benchmark DECONTAMINATION (q61): flag training documents sharing any
    * [[DecontamN]]-token shingle with a held-out benchmark set (here:
    * every [[DecontamBenchMod]]-th document stands in for the eval
    * suite) — the n-gram-overlap scrub every serious pretraining corpus
    * runs before training (the reason test-set leakage audits exist).
    *
    * Scale shape: shingles are hashed to fixed-width BIGINTs with the
    * portable hash (no string shuffle), and the BENCHMARK side — always
    * tiny relative to the corpus: eval suites are millions of n-grams,
    * the corpus is trillions — is distinct-ed and BROADCAST, so the
    * corpus-side scan is one pass with a map-side semi-join probe: zero
    * shuffles of corpus-sized data, no join skew (a hot shingle only
    * fans out on the probe side, which aggregates map-side per doc).
    * Emits every training doc (LEFT join), hit count + flag, so the
    * clean/contaminated split is a filter downstream.
    */
  /** Distinct [[DecontamN]]-token shingle hashes per document, with
    * `extra` columns carried through: the BIGINT fold shared by q61 and
    * q183 so the shingle definition can never drift between them (the
    * cdcChunkCtes convention). Shingle hash = polynomial fold of the
    * PER-TOKEN hashes (base 131 mod P), NOT strHash of the joined
    * string: strHash caps at MaxChars=64 codepoints, and an 8-token
    * shingle routinely exceeds that — two distinct 8-grams sharing a
    * 64-char prefix would silently collide on BOTH engines
    * (review-found). Token hashes are < P < 2^31, so acc·131 + h <
    * 2^39 never overflows a long; the oracle replays the identical
    * fold over lead() windows ([[shingleCtes]]).
    */
  private def shingleFrame(docs: DataFrame, extra: String*): DataFrame = {
    import graft.functions.PortableStringHash.{strHash, P}
    val fold = (1 until DecontamN)
      .foldLeft("ha[i]")((acc, k) => s"(($acc * 131 + ha[i + $k]) % $P)")
    val shingleHashes = expr(s"transform(sequence(0, size(ha) - $DecontamN), i -> $fold)")
    val keep = col("doc_id") +: extra.map(col)
    docs
      .select(keep :+ transform(tokens(col("text")), t => strHash(t)).as("ha"): _*)
      .select(keep :+
        explode(array_distinct(when(size(col("ha")) >= DecontamN, shingleHashes)
          .otherwise(array().cast("array<bigint>")))).as("h"): _*)
  }

  /** The oracle twin of [[shingleFrame]]: CTEs `toks`, `th` (+`th_chars`)
    * and `shh(doc_id, hsh)` over relation `src(doc_id, text, …)`. */
  private def shingleCtes(src: String): String =
    s"""toks AS (
          SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok,
                 generate_subscripts(string_split_regex(trim(text), '\\s+'), 1) AS pos
          FROM $src),
          ${graft.functions.PortableStringHash.strHashCtes(
            "toks", Seq("doc_id", "pos"), "tok", "th", "h")},
          shh AS (
            SELECT DISTINCT doc_id,
                   ${(1 until DecontamN).foldLeft("h")((acc, k) =>
                     s"(($acc * 131 + lead(h, $k) OVER w) % ${graft.functions.PortableStringHash.P})")} AS hsh
            FROM th WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
            QUALIFY lead(h, ${DecontamN - 1}) OVER w IS NOT NULL)"""

  def q61Decontaminate(s: SparkSession, dir: String): DataFrame = {
    val sh = shingleFrame(Tables.documents(s, dir))
    val isBench = col("doc_id") % DecontamBenchMod === 0
    val bench = sh.filter(isBench).select(col("h")).distinct()
    val hits = sh.filter(!isBench)
      .join(broadcast(bench), Seq("h"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("h")).as("n_hits"))
    Tables.documents(s, dir)
      .filter(!isBench)
      .select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
      .orderBy(col("doc_id"))
  }

  private val ContamDfCap = 50 // a shingle in more docs is template boilerplate

  /** q183: CROSS-SOURCE CONTAMINATION MATRIX — q61's n-gram overlap
    * generalized from one train/test split to the full source×source
    * grid: for every ordered source pair (a, b), how many of a's
    * documents share at least one [[DecontamN]]-token shingle with ANY
    * document of b (exact basis points of a's corpus). This is the
    * audit a mixture designer runs BEFORE q55/q170 assign per-source
    * sampling weights — two "independent" sources that are actually
    * mirrors would otherwise silently double their effective epochs.
    *
    * Scale shape: shingles are q61's BIGINT fold (no string shuffle);
    * the per-shingle pivot aggregates to (df, source set) — the set is
    * bounded by the source CATALOG (hundreds in production, never
    * millions), and the [[ContamDfCap]] df cap stops a boilerplate
    * shingle from fanning out; the explode back is ≤ |sources| per
    * posting; the (doc, source_b) distinct and the final (a, b) count
    * are bounded by docs×sources. The doc×doc pair space is never
    * materialized — no quadratic term in documents anywhere.
    */
  def q183SourceContamination(s: SparkSession, dir: String): DataFrame = {
    val sh = shingleFrame(Tables.documents(s, dir), "source")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pivot = sh.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("df"), collect_set(col("source")).as("srcs"))
      .filter(col("df") <= ContamDfCap && size(col("srcs")) >= 2)
      .select(col("h"), col("srcs"))
    val hits = sh.join(pivot, Seq("h"))
      .select(col("source").as("source_a"), col("doc_id"),
        explode(col("srcs")).as("source_b"))
      .filter(col("source_a") =!= col("source_b"))
      .distinct()
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_docs_hit"))
    val tot = Tables.documents(s, dir)
      .groupBy(col("source")).agg(count(lit(1)).as("n"))
    // the full (catalog × catalog) grid so zero-contamination pairs are
    // visible rows, not absences — the frame a mixture review reads
    val pairs = tot.select(col("source").as("source_a"), col("n").as("n_docs_a"))
      .crossJoin(broadcast(tot.select(col("source").as("source_b"))))
      .filter(col("source_a") =!= col("source_b"))
    pairs.join(hits, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"),
        coalesce(col("n_docs_hit"), lit(0L)).as("n_docs_hit"), col("n_docs_a"),
        expr("(coalesce(n_docs_hit, 0) * 10000) div n_docs_a").as("hit_bp"))
      .orderBy(col("source_a"), col("source_b"))
  }

  private val LmHeadT = -3.39
  private val LmTailT = -3.42

  // q169 constants: absolute discount D = 0.75 (exactly 3/4 in binary,
  // so both engines' doubles agree bit-for-bit), ×10⁹ fixed point, and
  // the head/middle/tail cutoffs on the average per-bigram NLL in fp
  // units (ln-space: head < 3.40 nats ~ the corpus median, dominated by
  // target-language docs; tail >= 3.47 nats ~ the q90 percentile) —
  // apply-time constants, the CCNet deployment convention
  private val KnPplHeadT = 3400000000L
  private val KnPplTailT = 3470000000L

  /** q169: KNESER–NEY PERPLEXITY FILTER — CCNet's actual deployment
    * shape (Wenzek et al. 2020, arXiv:1911.00359): an interpolated
    * Kneser–Ney bigram LM (Kneser & Ney 1995) is TRAINED ON THE TARGET
    * SLICE (`lang = 'en'`, the reference-corpus side CCNet trains on
    * Wikipedia) and then scores EVERY document — the train/apply split
    * q97's self-trained add-one scorer deliberately folds away, plus
    * the smoothing a real filter uses: absolute discounting (D = 3/4)
    * with continuation-probability backoff built from q155's type
    * statistics, p(w2|w1) = max(c12−D,0)/c1 + (D·N1+(w1•)/c1)·p_cont(w2)
    * with add-one on p_cont so unseen continuations stay scoreable, and
    * pure continuation backoff for unknown contexts.
    *
    * Determinism contract: every count is a BIGINT; the per-bigram
    * probability is ONE shared expression over exact integer ratios
    * (identical operation order in both engines), fixed-pointed ONCE
    * per corpus bigram TYPE as the POSITIVE nll ⌊−ln(p)·10⁹+½⌋ (q121's
    * floor discipline; positive, so half-up agrees cross-engine); doc
    * scores are exact BIGINT sums, and the average is a positive
    * integer division (negative-division truncation semantics differ
    * between engines, so nothing negative is ever divided).
    *
    * Scale shape: train statistics are vocabulary-scale type tables
    * (map-side-combined hash aggregates of the target slice); the nll
    * table is computed once per CORPUS bigram type (Zipf-collapsed,
    * never per token) and the occurrence stream joins it on (w1, w2) —
    * one token-level linear shuffle, the q97/q104 class; the per-doc
    * fold keys on doc_id. No quadratic anywhere; thresholds are apply-
    * time constants exactly as CCNet ships its percentile cutoffs.
    */
  def q169KnPerplexity(s: SparkSession, dir: String): DataFrame = {
    val bgExpr = expr("transform(sequence(0, size(toks) - 2), " +
      "i -> struct(toks[i] AS w1, toks[i + 1] AS w2))")
    val emptyBg = array().cast("array<struct<w1:string,w2:string>>")
    val train = Tables.documents(s, dir).filter(col("lang") === "en")
      .select(tokens(col("text")).as("toks"))
    val trBig = train
      .select(explode(when(size(col("toks")) >= 2, bgExpr).otherwise(emptyBg)).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    // the model's type tables: bigram counts, left-context totals and
    // right-diversity, continuation counts, and the (types, vocab) pair
    // sizing the add-one continuation floor. bi feeds three aggregates
    // and the type join — one persist barrier, q149's discipline
    val bi = trBig.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val lhs = bi.groupBy(col("w1"))
      .agg(sum(col("c2")).as("c1"), count(lit(1)).as("n_right"))
    val cont = bi.groupBy(col("w2")).agg(count(lit(1)).as("n_left"))
    val tot = bi.agg(count(lit(1)).as("bt")).crossJoin(
      train.select(explode(col("toks")).as("w")).distinct()
        .agg(count(lit(1)).as("vt")))
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("toks"))
    val docBig = docs
      .select(col("doc_id"),
        explode(when(size(col("toks")) >= 2, bgExpr).otherwise(emptyBg)).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    // ONE shared probability expression — identical text in the oracle
    val pSql =
      """CASE WHEN c1 IS NOT NULL THEN
           greatest(CAST(coalesce(c2, 0) AS DOUBLE) - 0.75, 0.0) / CAST(c1 AS DOUBLE)
           + (0.75 * CAST(n_right AS DOUBLE) / CAST(c1 AS DOUBLE))
             * ((CAST(coalesce(n_left, 0) AS DOUBLE) + 1.0)
                / (CAST(bt AS DOUBLE) + CAST(vt AS DOUBLE) + 1.0))
         ELSE (CAST(coalesce(n_left, 0) AS DOUBLE) + 1.0)
              / (CAST(bt AS DOUBLE) + CAST(vt AS DOUBLE) + 1.0) END"""
    val typeNll = docBig.select(col("w1"), col("w2")).distinct()
      .join(bi, Seq("w1", "w2"), "left")
      .join(lhs, Seq("w1"), "left")
      .join(cont, Seq("w2"), "left")
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"),
        floor(expr(s"-ln($pSql)") * lit(1e9) + lit(0.5)).cast("long").as("nfp"))
    val sc = docBig.join(typeNll, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("nfp")).as("nll_fp"))
    docs.select(col("doc_id"), col("lang"))
      .join(sc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("nll_fp"), lit(0L)).as("nll_fp"),
        when(col("n_bigrams").isNull, lit(0L))
          .otherwise(expr("nll_fp div n_bigrams")).as("avg_nll_fp"))
      .withColumn("bucket",
        when(col("n_bigrams") === 0, lit("empty"))
          .when(col("avg_nll_fp") < KnPplHeadT, lit("head"))
          .when(col("avg_nll_fp") < KnPplTailT, lit("middle"))
          .otherwise(lit("tail")))
      .orderBy(col("doc_id"))
  }

  /** N-gram language-model quality scoring (q97): the CCNet-style
    * perplexity filter (Wenzek et al. 2020, arXiv:1911.00359) — score
    * every document by the average add-one-smoothed bigram
    * log-probability ln((c(w1,w2)+1)/(c(w1)+V)) under a count LM, then
    * bucket into head/middle/tail on fixed thresholds. The LM here is
    * self-trained on the corpus in the same plan (CCNet trains on a
    * reference corpus upstream — same join shape, the count tables just
    * arrive as a side input); the thresholds are constants at apply
    * time, exactly how CCNet deploys its corpus-percentile cutoffs.
    * Buckets compare the ROUNDED score on both engines so the bucket is
    * a pure function of the gated value.
    *
    * Scale shape: three LINEAR shuffles — unigram counts and bigram
    * counts are vocabulary-keyed hash aggregates (map-side partial
    * combine), and the per-doc re-aggregation is keyed on doc_id. The
    * count-table joins are equi-joins AQE broadcasts at small scale; at
    * 100 TB the bigram join shuffles on (w1, w2) — still linear in
    * corpus tokens, no quadratic anywhere. V is a 1-row broadcast.
    */
  def q97LmScore(s: SparkSession, dir: String): DataFrame = {
    val t = Tables.documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    val big = t.select(col("doc_id"),
      explode(when(size(col("toks")) >= 2,
        expr("transform(sequence(0, size(toks) - 2), " +
          "i -> struct(toks[i] AS w1, toks[i + 1] AS w2))"))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val uni = t.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val vsz = uni.agg(count(lit(1)).as("vsz"))
    val bi = big.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val scored = big
      .join(bi, Seq("w1", "w2"))
      .join(uni.withColumnRenamed("w", "w1"), Seq("w1"))
      .crossJoin(broadcast(vsz))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log((col("c2") + lit(1.0)) / (col("c1") + col("vsz")))), 6)
          .as("avg_logprob"))
    Tables.documents(s, dir).select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("avg_logprob"), lit(0.0)).as("avg_logprob"),
        when(col("n_bigrams").isNull, lit("empty"))
          .when(col("avg_logprob") > LmHeadT, lit("head"))
          .when(col("avg_logprob") > LmTailT, lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
      .orderBy(col("doc_id"))
  }

  private val KnTopK = 32

  /** q155: KNESER–NEY CONTINUATION STATISTICS — the type-count
    * statistics KN smoothing is built from (Kneser & Ney 1995; the
    * standard n-gram LM smoothing): per word, the number of DISTINCT
    * left contexts (N1+(•w) — how many different words precede it) and
    * distinct right continuations (N1+(w•)), plus the continuation
    * probability N1+(•w)/|bigram types| in exact basis points. The KN
    * insight is exactly this type-vs-token distinction: "francisco" is
    * frequent (high c1) but continues only "san" (n_left = 1), so its
    * continuation probability is tiny — the statistic q97's
    * token-count LM cannot express. Published for the top-[[KnTopK]]
    * words by (count DESC, word ASC).
    *
    * Scale shape: one bigram TYPE aggregate (Zipf-collapsed before any
    * downstream step — the q97 discipline); both continuation counts
    * are plain `count(*)` re-aggregations OVER THE TYPE TABLE (never
    * countDistinct over the corpus); the top-k is a
    * TakeOrderedAndProject over the unigram aggregate; joins at the
    * end are k-row broadcasts. All counts BIGINT, the probability an
    * exact integer division — no float anywhere.
    */
  def q155KnContinuation(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = Tables.documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    val big = t.select(
      explode(when(size(col("toks")) >= 2,
        expr("transform(sequence(0, size(toks) - 2), " +
          "i -> struct(toks[i] AS w1, toks[i + 1] AS w2))"))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val bi = big.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nLeft = bi.groupBy(col("w2").as("w")).agg(count(lit(1)).as("n_left"))
    val nRight = bi.groupBy(col("w1").as("w")).agg(count(lit(1)).as("n_right"))
    val btot = bi.agg(count(lit(1)).as("b"))
    val uni = t.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val top = uni.orderBy(col("c1").desc, col("w").asc).limit(KnTopK)
      .withColumn("rank", row_number().over(Window.orderBy(col("c1").desc, col("w").asc)))
    broadcast(top)
      .join(nLeft, Seq("w"), "left")
      .join(nRight, Seq("w"), "left")
      .crossJoin(broadcast(btot))
      .select(col("rank"), col("w"), col("c1"),
        coalesce(col("n_left"), lit(0L)).as("n_left"),
        coalesce(col("n_right"), lit(0L)).as("n_right"),
        expr("(coalesce(n_left, 0) * 10000) div b").as("pcont_bp"))
      .orderBy(col("rank"))
  }

  private val SpanW = 12

  /** Duplicate-span detection (q98): substring-level exact dedup — every
    * maximal token span whose [[SpanW]]-token shingles each occur at
    * least twice in the corpus (cross-doc or within-doc). This is the
    * "Deduplicating Training Data Makes Language Models Better"
    * substring-dedup shape (Lee et al. 2022, arXiv:2107.06499)
    * reformulated at shingle granularity: their suffix array finds
    * duplicated substrings ≥50 tokens; hashing every W-token window and
    * keeping windows whose hash repeats finds the same spans with only
    * scans, one hash aggregate and one window — the
    * distributed-friendly formulation. Adjacent/overlapping duplicated
    * windows (gap ≤ W) merge into one span via gaps-and-islands.
    *
    * Scale shape: shingle hashes are fixed-width BIGINTs (q61's
    * token-hash polynomial fold — no string shuffle); the occurrence
    * count is ONE linear hash aggregate keyed on the hash; the join
    * back is an equi-join on the same key (only duplicated positions
    * survive — output-sized, typically a tiny fraction of the corpus);
    * the island window partitions by doc_id. Nothing quadratic, no
    * driver state. Emits (doc, span) rows so the removal/clipping
    * policy stays a downstream choice, exactly like the paper's
    * pipeline.
    */
  def q98DupSpans(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.PortableStringHash.{strHash, P}
    import org.apache.spark.sql.expressions.Window
    val fold = (1 until SpanW)
      .foldLeft("ha[i]")((acc, k) => s"(($acc * 131 + ha[i + $k]) % $P)")
    val shingleHashes = expr(s"transform(sequence(0, size(ha) - $SpanW), i -> $fold)")
    val sh = Tables.documents(s, dir)
      .select(col("doc_id"), transform(tokens(col("text")), t => strHash(t)).as("ha"))
      .select(col("doc_id"),
        posexplode(when(size(col("ha")) >= SpanW, shingleHashes)
          .otherwise(array().cast("array<bigint>"))).as(Seq("pos", "h")))
    val dupH = sh.groupBy(col("h")).agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= 2)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    sh.join(dupH, Seq("h"))
      .withColumn("new_span",
        when(col("pos") - lag(col("pos"), 1).over(w) <= SpanW, lit(0)).otherwise(lit(1)))
      .withColumn("island", sum(col("new_span")).over(w))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).cast("long").as("start_tok"),
        (max(col("pos")) + lit(SpanW - 1)).cast("long").as("end_tok"),
        count(lit(1)).as("n_dup_shingles"),
        max(col("n_occ")).as("max_occ"))
      .drop("island")
      .orderBy(col("doc_id"), col("start_tok"))
  }

  private[graft] val SufL = 12 // min duplicate length (tokens) to report
  private[graft] val SufK = 48 // suffix comparison cap (tokens)

  /** q203: SUFFIX-GRANULAR EXACT SUBSTRING DEDUP — the maximal-repeat
    * extraction q98 approximates at shingle granularity, done EXACTLY:
    * every maximal duplicated token sequence of length ≥ [[SufL]],
    * corpus-wide, with its exact length, occurrence count and example
    * documents. This is the Lee et al. 2022 (arXiv:2107.06499)
    * suffix-array discipline re-expressed relationally:
    *
    *  1. one row per token position carrying its CAPPED suffix — the
    *     next [[SufK]] token hashes as a fixed-bound array (capping is
    *     LOSSLESS for detection: a duplicate's suffix is a duplicate,
    *     so `m(i+1) ≥ m(i) − 1` and coverage/maximality up to length K
    *     are preserved exactly; lengths ≥ K report as K — a documented
    *     truncation, like MaxChars in the portable hash);
    *  2. ONE total-order sort of the suffixes (arrays compare
    *     lexicographically in both engines) and the classic suffix-array
    *     lemma: a suffix's longest match with ANY other suffix is
    *     attained at an ADJACENT suffix in sorted order — so one
    *     window pass (lag/lead + zip_with first-mismatch) yields every
    *     position's neighbor LCPs;
    *  3. LCP-INTERVAL enumeration: for each candidate length v, islands
    *     of consecutive ranks with lcp ≥ v are exactly the lcp-tree
    *     nodes; emitting an island only when min(lcp) = v dedupes each
    *     interval to its true length. An interval [l−1..r] is a
    *     RIGHT-maximal repeat by construction (some adjacent pair
    *     differs at token v+1); the LEFT-maximality filter keeps
    *     intervals whose occurrences carry ≥2 distinct preceding tokens
    *     (doc starts get per-doc sentinels — they can never extend
    *     left). Output = the maximal repeats of Gusfield ch. 7, sized
    *     ≤ n by the suffix-tree internal-node bound — never all-pairs.
    *
    * Scale shape: suffix rows are K-bounded (K·n elements total); the
    * sort is range-partitioned with per-partition adjacency windows and
    * a numPartitions-sized seam fix-up (the standard distributed-SA
    * formulation, Flick & Aluru SC'15); the lcp-interval islands pass
    * follows the SAME discipline — gaps-and-islands per
    * (range-partition, v) plus a numPartitions-bounded boundary-island
    * chain, so no task ever holds a candidate length's full duplicated
    * tail; the v-expansion multiplies only the DUPLICATED tail (lcp ≥ L
    * rows) by ≤ K−L+1; interval occurrence expansion is output-sized.
    * Everything downstream is equi-joins and map-side aggregates on
    * integer keys.
    */
  def q203SuffixRepeats(s: SparkSession, dir: String): DataFrame =
    suffixRepeats(Tables.documents(s, dir).select(col("doc_id"), col("text")))

  /** The q203 kernel over any `(doc_id, text)` frame — factored out so
    * the spec can drive it with planted corpora and pin the
    * maximal-repeat properties (exact length, occurrence count,
    * left/right maximality, cap truncation) directly. */
  private[graft] def suffixRepeats(input: DataFrame): DataFrame = {
    import graft.functions.PortableStringHash.P
    val (docs, occ, cleanup) = suffixOcc(input)
    val reps = occ.groupBy(col("v"), col("lo"), col("hi"))
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("prevh")).as("n_left"),
        min(col("doc_id")).as("example_doc_min"),
        max(col("doc_id")).as("example_doc_max"),
        min(struct(col("doc_id"), col("pos"))).as("rep"))
      .filter(col("n_left") >= 2) // left-maximality
    // the representative occurrence names the substring: polynomial fold
    // of its first v token hashes (q98's fold, shared with the oracle)
    val out = reps
      .join(docs.select(col("doc_id").as("rep_doc"), col("ha")),
        col("rep.doc_id") === col("rep_doc"))
      .select(
        expr(s"aggregate(slice(ha, CAST(rep.pos + 1 AS INT), CAST(v AS INT)), " +
          s"0L, (acc, x) -> (acc * 131 + x) % $P)").as("sub_hash"),
        col("v").as("length"), col("n_occ"),
        col("example_doc_min"), col("example_doc_max"))
      .orderBy(col("length"), col("sub_hash"), col("example_doc_min"),
        col("example_doc_max"), col("n_occ"))
    // materialize once (the result is output-bounded — <= n intervals by
    // the suffix-tree node bound), then release the cached inputs — the
    // K*n suffix cache must not accumulate across repeated kernel
    // invocations in a long-lived session (the q184 localCheckpoint +
    // unpersist discipline; review finding)
    val materialized = out.localCheckpoint(true)
    cleanup()
    materialized
  }

  /** The suffix family's tokenized-doc frame `(doc_id, toks)` — the ONE
    * copy of the family's tokenization contract, shared by [[suffixOcc]]
    * (which hashes it) and [[suffixScrub]] (which reconstructs from the
    * raw tokens), so the two sides can never disagree on positions.
    *
    * Two rules, both forced by oracle parity:
    *
    *  - COMPACTION: `split(trim(text), "\s+")` keeps a leading/trailing
    *    '' ghost when the text has edge whitespace other than the spaces
    *    trim() strips (tabs, newlines — both Spark's and DuckDB's trim
    *    are space-only). The oracle's char-CTE hashing drops exactly
    *    those ghost tokens from `hal` (an empty string explodes to zero
    *    char rows), so the engine must drop them too or every position,
    *    n_tokens and span coordinate shifts by the ghost count (review
    *    finding — latent until a fixture carries edge tab/newline text).
    *  - ZERO-CONTENT docs (NULL, empty, whitespace-only) have an EMPTY
    *    compacted list and are dropped entirely: no suffixes, no per-doc
    *    report row, matching the oracle where such a doc never reaches
    *    `hal` (NULL splits to NULL; ghost-only lists hash to nothing).
    */
  private[graft] def suffixToks(input: DataFrame): DataFrame =
    input.select(col("doc_id"),
        filter(tokens(col("text")), t => length(t) > 0).as("toks"))
      .where(size(col("toks")) > 0)

  /** [[suffixToks]] with the tokens hashed: `(doc_id, ha)` — the ONE
    * hashed-token projection the whole suffix family reads
    * ([[suffixOcc]] and [[suffixWindows]]), so the hashing contract
    * cannot drift between the suffix-order and fixed-window routes. */
  private def hashedDocs(input: DataFrame): DataFrame = {
    import graft.functions.PortableStringHash.strHash
    // ha is array<INT>: hashes are mod 2^31-1 so the narrowing is
    // lossless, and casting ONCE PER TOKEN here (instead of once per
    // suffix-slice element in the explode) removes K interpreted casts
    // per position — measured as the dominant ×100 stage. Consumers
    // mixing ha with long arithmetic (the sub_hash fold, the prevh
    // sentinel CASE) coerce int→bigint implicitly, same values.
    suffixToks(input)
      .select(col("doc_id"),
        transform(col("toks"), t => strHash(t).cast("int")).as("ha"))
  }

  /** [[SufL]]-token hash windows of a `(doc_id, text)` frame: one row
    * per start position, `(doc_id, pos, wkey)` with `wkey` = the SufL
    * token hashes from `pos` — the fixed-window complement of the
    * suffix machinery. ONE copy shared by q209's static (eval) and
    * streaming (train) sides, so both window the corpus identically;
    * narrow projections only, hence stream-legal. */
  private[graft] def suffixWindows(input: DataFrame): DataFrame =
    hashedDocs(input)
      .select(col("doc_id"),
        posexplode(when(size(col("ha")) >= SufL, expr(
          s"transform(sequence(0, size(ha) - $SufL), i -> slice(ha, i + 1, $SufL))"))
          .otherwise(array().cast("array<array<int>>"))).as(Seq("pos", "wkey")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("wkey"))

  /** Target suffix rows per range partition: one partition is one
    * window task's sort buffer, and its rows carry four capped-key
    * hash arrays (~2 KB each), so 200k rows holds peak task memory
    * near the measured ~540 MB regardless of corpus size. */
  private[graft] val SuffixRowsPerPartition = 200000L

  /** Session conf capping the suffix order's range-partition fan-out.
    * The default (4096) saturates at ~0.8B suffix rows (cap ×
    * [[SuffixRowsPerPartition]]) — right for the single-JVM harness;
    * a cluster deployment running corpora past that raises it so the
    * sort keeps fanning out instead of fattening each task. */
  private[graft] val SuffixMaxPartitionsKey = "graft.suffix.maxPartitions"

  /** Range-partition count for the distributed suffix order: suffix
    * volume over [[SuffixRowsPerPartition]], floored at the session
    * shuffle parallelism (small corpora keep the session's fan-out),
    * capped at [[SuffixMaxPartitionsKey]]. Misconfiguration fails
    * loudly — a silent fallback would quietly reshape every suffix
    * plan. */
  private[graft] def suffixPartitions(s: SparkSession, nTok: Long): Int = {
    val raw = s.conf.get(SuffixMaxPartitionsKey, "4096")
    val cap = try raw.toInt catch {
      case e: NumberFormatException => throw new IllegalArgumentException(
        s"$SuffixMaxPartitionsKey: expected a positive integer, got '$raw'", e)
    }
    require(cap > 0, s"$SuffixMaxPartitionsKey: expected a positive integer, got '$raw'")
    math.max(
      math.max(1, s.sessionState.conf.numShufflePartitions),
      math.min(cap, (nTok / SuffixRowsPerPartition + 1).toInt))
  }

  /** One hashed-doc row as the suffix flatMap reads it (named fields so
    * the encoder binds by column name; primitive Array[Int] avoids
    * per-element boxing). */
  private[graft] case class HaRow(doc_id: Long, ha: Array[Int])

  /** One suffix-table row as the adjacency pass reads it (primitive
    * Array[Int] key: the tuple encoder would box every element). */
  private[graft] case class SufRow(doc_id: Long, pos: Long, prevh: Long, key: Array[Int])

  /** One adjacency-pass output row: local rank plus the three neighbor
    * LCPs, with -1 marking a value that crosses the partition boundary
    * and is resolved from the broadcast seam frame (lcp unknown for the
    * partition's first row, plcp for its first two, nlcp for its last). */
  private[graft] case class AdjRow(pid: Int, lrank: Long, doc_id: Long, pos: Long,
    prevh: Long, lcp: Long, plcp: Long, nlcp: Long)

  /** One per-partition seam summary: boundary keys, row count, and the
    * last row's OWN lcp (-1 for 1-row partitions, whose predecessor is
    * in the previous partition and resolves in the seam frame). */
  private[graft] case class SeamRow(pid: Int, cnt: Long, first_key: Array[Int],
    last_key: Array[Int], last_lcp: Long)

  /** First-mismatch LCP over primitive int arrays — the tight-loop twin
    * of the Column-level lcpOf (which must build a zipped boolean array
    * per comparison); early exit at the first differing token. */
  private def lcpInts(a: Array[Int], b: Array[Int]): Long = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n && a(i) == b(i)) i += 1
    i.toLong
  }

  /** The shared suffix-order pipeline: hashed docs + the lcp-interval
    * OCCURRENCE frame `(v, lo, hi, rank, doc_id, pos, prevh)` — one row
    * per (right-maximal interval, member suffix) — plus a cleanup that
    * releases the three persisted intermediates. q203 aggregates it to
    * maximal repeats; q205 turns it into the removal pass. */
  private def suffixOcc(input: DataFrame)
      : (DataFrame, DataFrame, () => Unit) = {
    import org.apache.spark.sql.expressions.Window
    // spread the hashed docs BEFORE the suffix explode: a single-file
    // corpus scans as ONE partition, which would compute and
    // shuffle-serialize the whole K×n suffix frame from one task
    // (guide §2.5, unsplittable input — Tables.spreadDocs, no-op for
    // multi-file production corpora).
    val docs = Tables.spreadDocs(hashedDocs(input))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // one row per position: capped suffix + left-extension witness
    // (pos 0 gets the per-doc negative sentinel: a doc-start occurrence
    // is always left-diverse against any other occurrence).
    // `key` is array<INT>: [[hashedDocs]] narrows the hashes once per
    // token (lossless — mod 2^31-1 — and elementwise order-preserving),
    // halving the bytes the range exchange and per-partition sort carry
    // and sparing K interpreted casts per position here. A typed-flatMap
    // form of this explode was tried and REVERTED: it cut this stage's
    // CPU 3× but regressed the downstream sort+adjacency stage ~8× with
    // heavy GC at ×100 (object-churned shuffle rows sort far worse than
    // the HOF-built columnar ones) — net 2–4× slower end-to-end.
    val s = input.sparkSession
    import s.implicits._
    val suf = docs
      .select(col("doc_id"),
        posexplode(when(size(col("ha")) > 0, expr(
          s"""transform(sequence(0, size(ha) - 1), p -> named_struct(
             |  'key', slice(ha, p + 1, $SufK),
             |  'prevh', CASE WHEN doc_id < 0 THEN raise_error(
             |                  'suffixOcc: doc_id must be non-negative — the pos-0 sentinel -doc_id-1 must stay negative (outside token-hash space) or left-diversity false-merges')
             |                WHEN p = 0 THEN -doc_id - 1
             |                ELSE element_at(ha, p) END))""".stripMargin))
          .otherwise(array().cast(
            "array<struct<key:array<int>,prevh:bigint>>"))).as(Seq("pos", "sx")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("sx.key").as("key"), col("sx.prevh").as("prevh"))
    // the total suffix order, DISTRIBUTED: range-partition by the
    // suffix key (range partitions are globally ordered), sort within
    // each partition, then ONE TYPED PASS per partition computes every
    // row's local rank and neighbor LCPs (lcp/plcp/nlcp) with a
    // primitive first-mismatch loop; the numPartitions−1 seam values
    // resolve from a broadcast-tiny per-partition summary frame. Global
    // rank = the partition's cumulative offset + the local rank — the
    // distributed-SA adjacency formulation (Flick & Aluru SC'15's
    // shape). Ties (equal capped suffixes) break by (doc, pos) for
    // determinism, but every downstream quantity is tie-invariant.
    //
    // Why mapPartitions and not window lag/lead + a zip_with LCP (the
    // pre-r13 form): no Catalyst expression computes first-mismatch
    // with early exit — zip_with materializes a zipped boolean array
    // per comparison and the window buffered FOUR 48-wide key arrays
    // per row (key/pkey/ppkey/nkey). Measured r13 (sf0.1, 32 cores):
    // the adjacency stages alone cost ~30 s of executor CPU; the typed
    // pass replaces them with one streamed iterator per partition, and
    // ALSO pre-drops interior rows outside the duplicated tail (both
    // neighbor LCPs known < L) so the seam join input is tail-sized,
    // not corpus-sized.
    def lcpOf(a: Column, b: Column): Column = {
      // first mismatch over the zipped arrays; zip_with pads the shorter
      // side with null -> false, so a strict-prefix pair yields min(len)
      val firstFalse = array_position(
        zip_with(a, b, (x, y) => coalesce(x === y, lit(false))), lit(false))
      when(b.isNull, lit(0L)).otherwise(
        when(firstFalse === 0, least(size(a), size(b)).cast("long"))
          .otherwise(firstFalse - 1))
    }
    // partition count scales with the SUFFIX VOLUME, not the session
    // default — see [[suffixPartitions]]. The count costs one agg over
    // the already-persisted docs frame.
    val nTok = docs.agg(sum(size(col("ha")))).head() match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0)
    }
    val nPart = suffixPartitions(s, nTok)
    // the sorted suffix table, persisted ONCE; both the adjacency pass
    // and the seam-summary pass stream its cached partitions in order
    val sorted = suf
      .repartitionByRange(nPart, col("key"), col("doc_id"), col("pos"))
      .sortWithinPartitions(col("key"), col("doc_id"), col("pos"))
      .select(col("doc_id"), col("pos"), col("prevh"), col("key"))
      .as[SufRow]
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val minKeep = SufL // pre-drop threshold, fixed into the closure
    // pass A — per-row adjacency: emit row i when row i+1 is read (its
    // nlcp is then known); -1 marks boundary-unknowns the seam join
    // fills. Rows whose BOTH neighbor LCPs are known < L can never
    // reach the duplicated tail and are dropped here.
    val adj = sorted.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      new Iterator[AdjRow] {
        private var lrank = 0L          // rows read so far
        private var prevKey: Array[Int] = null // key of the last row read
        private var lcpPrev = -1L       // lcp of row lrank-1
        private var lcpCur = -1L        // lcp of row lrank
        private var held: SufRow = null // row lrank, awaiting its nlcp
        private var out: AdjRow = null
        private def emit(r: SufRow, rank: Long, lcp: Long, plcp: Long,
            nlcp: Long): Unit =
          if (lcp == -1L || lcp >= minKeep || nlcp == -1L || nlcp >= minKeep)
            out = AdjRow(pid, rank, r.doc_id, r.pos, r.prevh, lcp, plcp, nlcp)
        private def advance(): Unit = {
          while (out == null && (it.hasNext || held != null)) {
            if (it.hasNext) {
              val cur = it.next()
              val curLcp = if (lrank == 0L) -1L else lcpInts(cur.key, prevKey)
              if (held != null)
                emit(held, lrank, lcpCur, if (lrank <= 2L) -1L else lcpPrev,
                  curLcp)
              held = cur; prevKey = cur.key
              lcpPrev = lcpCur; lcpCur = curLcp; lrank += 1L
            } else { // end of partition: the held row's nlcp is a seam value
              emit(held, lrank, lcpCur, if (lrank <= 2L) -1L else lcpPrev, -1L)
              held = null
            }
          }
        }
        override def hasNext: Boolean = { advance(); out != null }
        override def next(): AdjRow = {
          advance(); val r = out; out = null; r
        }
      }
    }
    // pass B — one summary row per NON-EMPTY partition: boundary keys,
    // count, and the last row's own lcp (resolvable in-partition only
    // when the partition has ≥ 2 rows)
    val seamsRaw = sorted.mapPartitions { it =>
      if (!it.hasNext) Iterator.empty
      else {
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val first = it.next()
        var cnt = 1L
        var lastKey = first.key
        var lastLcp = -1L
        while (it.hasNext) {
          val cur = it.next()
          lastLcp = lcpInts(cur.key, lastKey)
          lastKey = cur.key
          cnt += 1L
        }
        Iterator.single(SeamRow(pid, cnt, first.key, lastKey, lastLcp))
      }
    }.toDF()
    // seam frame: lag/lead over pid order chain non-empty partitions
    // (empty range partitions simply have no row), exactly the pre-r13
    // seam discipline; three projections so no window expression ever
    // nests inside another window's argument. lcp_first(p) is the
    // first row's lcp (vs the previous partition's last key) — it is
    // also row 2's plcp, and lead(lcp_first) is the previous
    // partition's last-row nlcp.
    val wSeam = Window.orderBy(col("pid"))
    val seams1 = seamsRaw.select(col("pid"), col("cnt"),
      col("first_key"), col("last_key"), col("last_lcp"),
      lag(col("last_key"), 1).over(wSeam).as("prev_last_key"),
      coalesce(sum(col("cnt")).over(
        wSeam.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("off"))
    val seams2 = seams1.select(col("pid"), col("cnt"), col("off"),
      lcpOf(col("first_key"), col("prev_last_key")).as("lcp_first"),
      // a 1-row partition's last row IS its first row: its lcp crosses
      // the boundary and equals lcp_first
      when(col("last_lcp") >= 0, col("last_lcp"))
        .otherwise(lcpOf(col("last_key"), col("prev_last_key")))
        .as("own_last_lcp"))
    val seams = seams2.select(col("pid"), col("cnt"), col("off"), col("lcp_first"),
      lag(col("own_last_lcp"), 1).over(wSeam).as("prev_last_lcp"),
      lead(col("lcp_first"), 1).over(wSeam).as("nlcp_last"))
    val ranked = adj.toDF()
      .join(broadcast(seams), Seq("pid"))
      .select(col("pid"), col("doc_id"), col("pos"), col("prevh"),
        (col("off") + col("lrank")).as("rank"),
        when(col("lrank") === 1, col("lcp_first")).otherwise(col("lcp")).as("lcp"),
        // plcp = the PREVIOUS rank's lcp: for the partition's first row
        // it is the previous partition's last-row lcp; for the second
        // row it is the first row's own lcp (= lcp_first); further in,
        // it came out of the adjacency pass
        when(col("lrank") === 1, coalesce(col("prev_last_lcp"), lit(0L)))
          .when(col("lrank") === 2, col("lcp_first"))
          .otherwise(col("plcp")).as("plcp"),
        when(col("lrank") === col("cnt"), coalesce(col("nlcp_last"), lit(0L)))
          .otherwise(col("nlcp")).as("nlcp"))
      // keep the duplicated tail only: members (lcp >= L) plus each
      // group's FIRST suffix (its successor has lcp >= L) — everything
      // an interval's occurrence expansion can touch
      .filter(col("lcp") >= SufL || col("nlcp") >= SufL)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // lcp-interval enumeration from BOUNDARY EVENTS — never a window
    // over the v-expanded tail. A v-island is a maximal run of ranks
    // with lcp >= v; rank r STARTS one exactly for v in (plcp, lcp]
    // (member, predecessor not) and ENDS one for v in (nlcp, lcp]
    // (member, successor not). Within a v, islands are disjoint and
    // ordered, so events alternate s1<=e1<s2<=e2... and the k-th start
    // pairs with the k-th end.
    //
    // r13 form: the pairing runs as ONE typed pass over the tail — a
    // (K−L+1)-slot pending array per partition stashes each v's open
    // start and every end event closes it in place, so the (v, island)
    // levels never materialize as a DataFrame (the pre-r13 plan
    // exploded them — measured 23× the island count at sf0.1 — then
    // paired via two windows + a broadcast-offset frame + an equi-join,
    // ~4 s of the kernel). Because lcp/plcp/nlcp are GLOBAL
    // (seam-resolved) values, a start event exists exactly at an
    // island's true global start: the only cross-partition cases are an
    // end whose start lives in an earlier partition (≤ K−L+1 dangling
    // ends per partition) and an unclosed pending array at partition
    // end (≤ K−L+1 dangling starts) — a broadcast-tiny frame pairs the
    // k-th dangling start with the k-th dangling end per v (the same
    // alternation argument, applied to the seam residue).
    //
    // The min-lcp dedup rides the same pass: island (v, lo, hi) has
    // true value v iff the identical range is not also a (v+1)-island;
    // (v+1, lo, hi) exists iff v+1 closed at the same end rank with the
    // same pending lo, which is locally visible at emission — the
    // pre-r13 output-sized self anti-join folds into one comparison.
    //
    // Emission tuples: typ 0 = island(v, lo, hi); typ 1 = dangling
    // start (v, lo, -1); typ 2 = dangling end (v, -1, hi).
    val minV = SufL
    val ev = ranked
      .select(col("rank"), col("lcp"), col("plcp"), col("nlcp"))
      .as[(Long, Long, Long, Long)]
      .mapPartitions { it =>
        val pend = Array.fill[Long](SufK + 2)(-1L) // pending lo per v
        // INCREMENTAL emission (review note r13): events stream out as
        // each input row is processed — the staging deque never holds
        // more than one row's events (≤ K−L+1) plus the partition-end
        // danglings, so an adversarial all-duplicate partition cannot
        // re-introduce a rows×(K−L+1) on-heap cliff the way a
        // whole-partition ArrayBuffer did. Emission order is unchanged.
        new Iterator[(Int, Long, Long, Long)] {
          private val buf =
            scala.collection.mutable.ArrayDeque[(Int, Long, Long, Long)]()
          private var tailDone = false
          private def refill(): Unit = {
            while (buf.isEmpty && it.hasNext) {
              val (rank, lcp, plcp, nlcp) = it.next()
              // starts: v in (max(plcp, L-1), lcp]
              var v = math.max(plcp, minV - 1L) + 1L
              while (v <= lcp) { pend(v.toInt) = rank - 1L; v += 1L }
              // ends: v in (max(nlcp, L-1), lcp], walked top-down with the
              // (v+1) close's lo REMEMBERED across iterations (its pend slot
              // is already cleared by the time v is examined). If a level's
              // start lives in an earlier partition (pend empty), every
              // lower level's start is at least as far left, so the rest of
              // the group dangles too — the local (v) vs cross-seam (v+1)
              // identical-range case is impossible, keeping the two dedup
              // scopes (here and pairedTrue below) disjoint and exhaustive.
              val vlo = math.max(nlcp, minV - 1L) + 1L
              v = lcp
              var loAbove = Long.MinValue // no (v+1) close in this group yet
              while (v >= vlo) {
                val lo = pend(v.toInt)
                if (lo < 0L) { // start in an earlier partition: dangling end
                  buf += ((2, v, -1L, rank))
                } else {
                  // true value iff no (v+1)-island with the identical range
                  if (lo != loAbove) buf += ((0, v, lo, rank))
                  pend(v.toInt) = -1L
                }
                loAbove = lo
                v -= 1L
              }
            }
            if (buf.isEmpty && !it.hasNext && !tailDone) {
              tailDone = true
              // partition end: surviving pends are dangling starts
              var v = minV
              while (v <= SufK) {
                if (pend(v) >= 0L) buf += ((1, v.toLong, pend(v), -1L))
                v += 1
              }
            }
          }
          override def hasNext: Boolean = { refill(); buf.nonEmpty }
          override def next(): (Int, Long, Long, Long) = {
            refill(); buf.removeHead()
          }
        }
      }
      .toDF("typ", "v", "lo", "hi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // cross-partition islands: k-th dangling start ↔ k-th dangling end
    // per v (alternation), then the same (v+1)-identical-range dedup on
    // the paired set (local/cross ranges can never coincide: equal
    // (lo, hi) forces equal start partitions)
    val wv = Window.partitionBy(col("v"))
    val ds = ev.filter(col("typ") === 1)
      .select(col("v"), col("lo"),
        row_number().over(wv.orderBy(col("lo"))).as("rn"))
    val de = ev.filter(col("typ") === 2)
      .select(col("v"), col("hi"),
        row_number().over(wv.orderBy(col("hi"))).as("rn"))
    val paired = ds.join(de, Seq("v", "rn")).select(col("v"), col("lo"), col("hi"))
    val pairedTrue = paired.join(
      paired.select((col("v") - 1).as("v"), col("lo"), col("hi")),
      Seq("v", "lo", "hi"), "left_anti")
    val islands = ev.filter(col("typ") === 0)
      .select(col("v"), col("lo"), col("hi"))
      .unionByName(pairedTrue)
    // occurrences: ranks lo..hi, equi-joined back (output-sized)
    val occ = islands
      .select(col("v"), col("lo"), col("hi"),
        explode(expr("sequence(lo, hi)")).as("rank"))
      .join(ranked.select(col("rank"), col("doc_id"), col("pos"), col("prevh")),
        Seq("rank"))
    (docs, occ,
      () => { docs.unpersist(false); sorted.unpersist(false)
        ranked.unpersist(false); ev.unpersist(false) })
  }

  /** q205: SUFFIX-CLIP DEDUP — the REMOVAL pass Lee et al. 2022 run
    * after extraction: every duplicate family keeps its FIRST occurrence
    * (min (doc_id, pos)) and the other occurrences' token ranges are
    * clipped; per document the clipped ranges union into spans and the
    * report carries exact before/removed/kept counts. Built on q203's
    * interval-occurrence frame with the left-diversity filter
    * deliberately OFF: the interior suffixes of a duplicate longer than
    * the [[SufK]] cap all share their left token (non-left-diverse),
    * but their capped intervals are exactly what chains coverage past
    * the truncation — a 100-token duplicate's second copy is fully
    * covered by the per-position capped intervals (the `m(i+1) ≥
    * m(i)−1` lemma), so coverage is EXACT despite the cap.
    *
    * Scale shape: first-occurrence per interval is one map-side
    * aggregate on the occurrence frame (output-sized); coverage union
    * is the gaps-and-islands running max per doc (one window keyed by
    * doc); the final rollup joins back to per-doc token counts. The
    * survivor policy (min doc_id, pos) is deterministic and documented;
    * removal is reported as counts + spans so the clipping itself stays
    * a downstream `slice` choice, exactly like q98.
    */
  def q205SuffixClip(s: SparkSession, dir: String): DataFrame =
    suffixClip(Tables.documents(s, dir).select(col("doc_id"), col("text")))

  /** Union `covered` (doc_id, pos, e) token runs into disjoint per-doc
    * spans (doc_id, s, e) — running-max gaps-and-islands, ONE copy
    * shared by the count reports (q205/q207) and the text
    * materialization (q208). */
  private[graft] def spanUnion(covered: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wd = Window.partitionBy(col("doc_id")).orderBy(col("pos"), col("e"))
    covered
      .withColumn("maxe",
        max(col("e")).over(wd.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("news",
        when(col("maxe").isNull || col("pos") > col("maxe"), 1).otherwise(0))
      .withColumn("g", sum(col("news")).over(wd))
      .groupBy(col("doc_id"), col("g"))
      .agg(min(col("pos")).as("s"), max(col("e")).as("e"))
  }

  /** The first-occurrence-survivor covered set over an interval
    * occurrence frame: every non-first occurrence's token run — shared
    * by q205 (the count report) and q208 (the cleaned-text
    * materialization), so the survivor policy lives in one place. */
  private def clipCovered(occ: DataFrame): DataFrame = {
    val firsts = occ.groupBy(col("v"), col("lo"), col("hi"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("f"))
    occ
      .join(firsts, Seq("v", "lo", "hi"))
      .where(!(col("doc_id") === col("f.doc_id") && col("pos") === col("f.pos")))
      .select(col("doc_id"), col("pos"), (col("pos") + col("v")).as("e"))
  }

  /** The shared removal-report tail of q205/q207: [[spanUnion]] the
    * covered runs, then report exact counts against `perDoc`
    * (doc_id, n_tokens) — ONE copy, parameterized only by the report's
    * column names, so a fix to the report (coalesce defaults, the
    * n_tokens = 0 guard) can never reach one consumer and not the other.
    */
  private[graft] def spanUnionReport(perDoc: DataFrame, covered: DataFrame,
      nRemoved: String, nSpans: String, nKept: String, bp: String): DataFrame = {
    val spans = spanUnion(covered)
    val agg = spans.groupBy(col("doc_id"))
      .agg(sum(col("e") - col("s")).as(nRemoved),
        count(lit(1)).as(nSpans))
    perDoc
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col(nRemoved), lit(0L)).as(nRemoved),
        coalesce(col(nSpans), lit(0L)).as(nSpans),
        (col("n_tokens") - coalesce(col(nRemoved), lit(0L))).as(nKept),
        expr(s"CASE WHEN n_tokens = 0 THEN 0 " +
          s"ELSE (coalesce($nRemoved, 0) * 10000) div n_tokens END").as(bp))
      .orderBy(col("doc_id"))
  }

  private[graft] def suffixClip(input: DataFrame): DataFrame = {
    val (docs, occ0, cleanup) = suffixOcc(input)
    // the survivor via groupBy-min + join back against a PERSISTED occ —
    // not a per-interval window min: a window puts every occurrence of
    // one interval in one task, and a boilerplate phrase duplicated
    // across half the corpus (the q24 mega-key adversary applied to the
    // interval key) makes that task corpus-sized. The groupBy's partial
    // aggregation absorbs the hot key map-side, and the join's residual
    // skew is AQE-splittable (the build side carries ONE row per
    // interval) — a window partition never is. The persist keeps the occ
    // subtree single-evaluation (the concern that originally argued for
    // the window).
    val occ = occ0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = spanUnionReport(
      docs.select(col("doc_id"), size(col("ha")).cast("long").as("n_tokens")),
      clipCovered(occ), "n_removed", "n_spans", "n_kept", "removed_bp")
    val materialized = out.localCheckpoint(true)
    occ.unpersist(false)
    cleanup()
    materialized
  }

  /** q208: SUFFIX-SCRUB MATERIALIZATION — the cleaned corpus q205 only
    * REPORTS: per document, the text that remains after the clipped
    * spans are actually removed (the kept tokens re-joined). This is
    * the Lee et al. pipeline's deliverable artifact — extract (q203),
    * decide (q205), and here EMIT the deduplicated training corpus —
    * completing the family the same way q56 materializes q41's
    * component labels into a surviving corpus.
    *
    * Spans are per-doc few (bounded by n_tokens / SufL), so they gather
    * into ONE array column per doc and the removal is a codegen'd array
    * lambda over the token list — no per-token explode, no extra
    * shuffle beyond the span aggregate's doc-keyed exchange. The output
    * normalizes whitespace (tokens re-joined with single spaces) — the
    * tokenizer's contract, stated so downstream counts use n_tokens,
    * not character math on the original text.
    */
  def q208SuffixScrub(s: SparkSession, dir: String): DataFrame =
    suffixScrub(Tables.documents(s, dir).select(col("doc_id"), col("text")))

  /** The q208 kernel over any `(doc_id, text)` frame — factored out like
    * [[suffixClip]] so the spec can pin exact scrubbed text on planted
    * corpora. */
  private[graft] def suffixScrub(input: DataFrame): DataFrame = {
    val (docs, occ0, cleanup) = suffixOcc(input)
    val occ = occ0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val spansAgg = spanUnion(clipCovered(occ))
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("s"), col("e"))).as("spans"))
    // the same tokenized frame the occurrence side hashed ([[suffixToks]]
    // — one copy of the compaction + zero-content contract), so span
    // coordinates and the raw tokens reconstructed here can never drift
    val out = suffixToks(input)
      .join(spansAgg, Seq("doc_id"), "left")
      // complement-slice reconstruction, O(kept + spans) per doc: spans
      // are disjoint and non-adjacent (spanUnion merges touching runs),
      // so sorted span boundaries define the kept gaps and ONE flatten
      // concatenates their slices — a per-token exists() over the span
      // array would be O(n_tokens x n_spans), hidden-quadratic on a doc
      // built from many short duplicated phrases (review finding)
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
        expr("""CASE WHEN spans IS NULL THEN toks ELSE
          flatten(zip_with(
            concat(array(0L), transform(sort_array(spans), sp -> sp.e)),
            concat(transform(sort_array(spans), sp -> sp.s),
                   array(CAST(size(toks) AS BIGINT))),
            (a, b) -> slice(toks, CAST(a + 1 AS INT),
                            CAST(greatest(b - a, 0L) AS INT))))
        END""").as("kept"))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - size(col("kept"))).as("n_removed"),
        array_join(col("kept"), " ").as("kept_text"))
      .orderBy(col("doc_id"))
    val materialized = out.localCheckpoint(true)
    occ.unpersist(false)
    cleanup()
    materialized
  }

  /** Eval-slice rule for q207: documents with doc_id ≡ [[DecontamRes]]
    * (mod [[DecontamMod]]) stand in for the held-out benchmark corpus —
    * deterministic, so the oracle replays the same split. */
  private[graft] val DecontamMod = 11L
  private[graft] val DecontamRes = 3L

  /** q207: EXACT SUBSTRING DECONTAMINATION — the cross-corpus form of
    * the q203/q205 suffix discipline: every TRAIN-document token run of
    * length ≥ [[SufL]] that appears VERBATIM anywhere in the EVAL
    * (benchmark) corpus, unioned into per-doc contaminated spans with
    * exact counts. This is the benchmark-leakage scrub the n-gram
    * auditors (q61/q103/q183) approximate at shingle granularity, done
    * exactly: the GPT-3/PaLM-style "N-token verbatim overlap" rule with
    * the overlap length measured precisely instead of sampled at a
    * fixed shingle width.
    *
    * Mechanism: ONE suffix order over the combined corpus (the q203
    * kernel — train/eval membership plays no role until after the
    * lcp-interval occurrence frame exists); an interval is CONTAMINATING
    * iff its occurrence set touches an eval document; the train-side
    * occurrences of those intervals clip exactly like q205 (coverage
    * chains past the [[SufK]] cap by the same m(i+1) ≥ m(i)−1 lemma, so
    * a 500-token verbatim benchmark quote is covered end-to-end despite
    * the 48-token suffix cap). Left-diversity is OFF for the same reason
    * as q205: the interior capped intervals ARE the chain.
    *
    * Scale shape: everything up to `occ` is q203's (range-partitioned
    * suffix sort, seam frames, event-based islands — no single-task
    * stage); the eval-interval frame is island-count-bounded and
    * DISTINCT-deduped (map-side combinable); the semi-join marking
    * train occurrences is AQE-broadcastable when the benchmark footprint
    * is small (the production case: benchmarks are MBs against TBs of
    * train) and skew-splittable when it is not; the span union is
    * q205's per-doc gaps-and-islands. Output = one row per train doc.
    */
  def q207DecontamClip(s: SparkSession, dir: String): DataFrame =
    decontamClip(Tables.documents(s, dir).select(col("doc_id"), col("text")),
      col("doc_id") % DecontamMod === DecontamRes)

  /** The q207 kernel over any `(doc_id, text)` frame with an eval-slice
    * predicate on doc_id — factored out so the spec can plant verbatim
    * cross-corpus quotes and pin exact coverage, cap chaining, and the
    * no-train-train-false-positive property directly. */
  private[graft] def decontamClip(input: DataFrame, isEval: Column): DataFrame = {
    val (docs, occ0, cleanup) = suffixOcc(input)
    val occ = occ0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // contaminating intervals: occurrence set touches an eval doc. The
    // DISTINCT is interval-key-bounded (≤ island count) and its partial
    // aggregation absorbs a mega-family's eval occurrences map-side.
    val evalIv = occ.where(isEval).select(col("v"), col("lo"), col("hi")).distinct()
    // train occurrences of contaminating intervals → covered token runs.
    // Semi-join, not inner: membership is the question, and the build
    // side carries ONE row per interval (AQE broadcasts it when small,
    // splits residual skew when not — a window by interval never could).
    val covered = occ.where(!isEval)
      .join(evalIv, Seq("v", "lo", "hi"), "left_semi")
      .select(col("doc_id"), col("pos"), (col("pos") + col("v")).as("e"))
    // per-doc interval union + report: q205's shared tail
    val out = spanUnionReport(
      docs.where(!isEval)
        .select(col("doc_id"), size(col("ha")).cast("long").as("n_tokens")),
      covered, "n_contam", "n_spans", "n_clean", "contam_bp")
    val materialized = out.localCheckpoint(true)
    occ.unpersist(false)
    cleanup()
    materialized
  }

  private val WinK = 5
  private val WinW = 4
  /** Position-field width for the packed (hash, position) selection key:
    * key = h·2^21 + (2^21−1−pos). h < P < 2^31 keeps the product under
    * 2^52 (exact BIGINT both engines); documents are capped at 2^21
    * shingle positions — a fingerprint contract, enforced identically
    * on both sides. */
  private val WinM = 1L << 21
  private val WinDfCap = 32
  private val WinMinShared = 2

  /** Winnowing fingerprints (q150): the MOSS local fingerprinting
    * algorithm (Schleimer, Wilkerson & Aiken, SIGMOD 2003) — hash every
    * [[WinK]]-token shingle, slide a [[WinW]]-window over the hash
    * sequence, select each window's minimum (rightmost on ties), and
    * report document pairs sharing ≥ [[WinMinShared]] selected
    * fingerprints. The winnowing theorem guarantees any shared token
    * run of length ≥ w + k − 1 (here 8 tokens) produces a shared
    * fingerprint, while storing only ~2/(w+1) of all shingles — the
    * position-aware, guarantee-bearing companion to q26/q40's MinHash
    * (which sketches global set overlap and can miss short local
    * matches).
    *
    * The rightmost-minimum tie rule is one integer: minimizing
    * key = h·M + (M−1−pos) minimizes h first and maximizes pos on ties,
    * so both engines' plain `min` window aggregate IS the paper's
    * selection rule — no struct comparison, no float.
    *
    * Scale shape: shingle hashes are the q61/q98 token-hash polynomial
    * fold (fixed-width BIGINTs fused into the scan, no string shuffle);
    * selection is ONE per-doc window pass; the fingerprint set is
    * ~2/(w+1) of shingle volume, de-duplicated per doc; the pair join
    * runs only over fingerprints shared by 2..[[WinDfCap]] documents
    * (the q40 stop-shingle discipline — a boilerplate fingerprint in
    * half the corpus can never fan out quadratically). Output is
    * match-pair-sized, the report MOSS itself emits.
    */
  def q150Winnow(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.PortableStringHash.{strHash, P}
    import org.apache.spark.sql.expressions.Window
    val fold = (1 until WinK)
      .foldLeft("ha[i]")((acc, k) => s"(($acc * 131 + ha[i + $k]) % $P)")
    val shingleHashes = expr(s"transform(sequence(0, size(ha) - $WinK), i -> $fold)")
    // spread the shingle-hash fold (guide §2.5): the single-file gate
    // corpus is one scan partition, so the K-term polynomial fold over
    // every token ran single-core ahead of the per-doc window exchange
    // (StageProfile r14: 1-task 0.5 s stage); no-op on multi-file corpora
    val sh = Tables.spreadDocs(Tables.documents(s, dir))
      .select(col("doc_id"), transform(tokens(col("text")), t => strHash(t)).as("ha"))
      .select(col("doc_id"),
        posexplode(when(size(col("ha")) >= WinK, shingleHashes)
          .otherwise(array().cast("array<bigint>"))).as(Seq("pos", "h")))
      .filter(col("pos") < WinM)
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val sel = sh
      .withColumn("key", col("h") * lit(WinM) + (lit(WinM - 1) - col("pos")))
      .withColumn("winmin", min(col("key")).over(wOrd.rowsBetween(0, WinW - 1)))
      // a window START is valid only if w shingles exist from it on
      .withColumn("wend", lead(col("pos"), WinW - 1).over(wOrd))
      .filter(col("wend").isNotNull)
    // barrier: fp feeds FOUR consumers (both pair-join sides, both size
    // frames, the df cap) — without it each lineage re-runs the corpus
    // scan + shingle fold + selection window (the q140 lesson)
    val fp = sel.select(col("doc_id"), expr(s"winmin div $WinM").as("h")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfc = fp.groupBy(col("h")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2 && col("n_docs") <= WinDfCap)
      .select(col("h"))
    val kept = fp.join(dfc, Seq("h"))
    val pairs = kept.as("a")
      .join(kept.as("b"), col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= WinMinShared)
    val sizes = fp.groupBy(col("doc_id")).agg(count(lit(1)).as("nfp"))
    pairs
      .join(sizes.select(col("doc_id").as("doc_a"), col("nfp").as("n_a")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("nfp").as("n_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("n_a"), col("n_b"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val EmailRe = "[a-z0-9]+@[a-z0-9]+[.][a-z]+"
  private val IpRe = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"
  private val PhoneRe = "555-[0-9]{4}"

  /** The shared email→IP→phone redaction chain (q64 standalone scrub and
    * q67's pipeline stage 1 — ONE set of patterns, Spark + oracle). */
  private def redact(c: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(c,
      EmailRe, "<EMAIL>"), IpRe, "<IP>"), PhoneRe, "<PHONE>")

  private def redactSql(textExpr: String): String =
    s"regexp_replace(regexp_replace(regexp_replace($textExpr, " +
      s"'$EmailRe', '<EMAIL>', 'g'), '$IpRe', '<IP>', 'g'), '$PhoneRe', '<PHONE>', 'g')"

  /** PII scrubbing (q64): detect + redact emails / IPv4s / phone-shaped
    * numbers — the redaction pass every pretraining corpus runs before
    * the quality filters. The corpus text carries no PII by construction,
    * so (q43/q46-style) each doc is prefixed with a CLOSED-FORM header
    * whose PII density varies per doc_id (the phone only matches when
    * doc_id%1000 has three digits), and the query reports what the
    * REGEXES found and what survived redaction; the oracle replays the
    * same construction + regexes in DuckDB. Patterns use only literal
    * character classes so Java-regex and RE2 semantics coincide.
    *
    * Scale shape: scan → codegen'd regexp project → done. ZERO
    * exchanges, no UDF, embarrassingly parallel — string kernels stay
    * inside whole-stage codegen.
    */
  def q64PiiScrub(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .withColumn("pii_text", concat(
        lit("Contact u"), col("doc_id"), lit("@mail"), col("doc_id") % 7,
        lit(".com or "), col("doc_id") % 250, lit("."), (col("doc_id") * 3) % 250,
        lit("."), (col("doc_id") * 7) % 250, lit("."), col("doc_id") % 100,
        lit(" phone 555-0"), col("doc_id") % 1000, lit(" "), col("text")))
      .select(col("doc_id"),
        expr(s"size(regexp_extract_all(pii_text, '$EmailRe', 0))").as("n_emails"),
        expr(s"size(regexp_extract_all(pii_text, '$IpRe', 0))").as("n_ips"),
        expr(s"size(regexp_extract_all(pii_text, '$PhoneRe', 0))").as("n_phones"),
        length(redact(col("pii_text"))).as("redacted_len"))
      .orderBy(col("doc_id"))
  }

  /** The COMPOSED curation pipeline (q67): PII-redact → exact-dedup →
    * deterministic mixture sample → per-source quality top-k, all in ONE
    * declarative plan — the shape an actual 100 TB training-data
    * curation run has, demonstrating the stages (q64/q24/q55/q57)
    * compose without materialization boundaries. Catalyst sees the whole
    * tree: the redaction projection fuses into the scan, dedup is one
    * shuffle on the 16-byte md5, the sample filter is codegen'd with no
    * exchange, and the top-k plans as the two-phase WindowGroupLimit.
    * Quality scores and dedup hashes are computed over the REDACTED
    * text — order matters and the oracle replays the same order.
    */
  def q67CurationPipeline(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.PortableStringHash.strHash
    import org.apache.spark.sql.expressions.Window
    val red = Tables.documents(s, dir)
      .withColumn("rtext", redact(col("text")))
    val keep = red
      .groupBy(md5(col("rtext").cast("binary")).as("th"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .drop("th")
    val srcNum = regexp_extract(col("source"), "([0-9]+)$", 1).cast("long")
    val rateBp = lit(2000L) + lit(1500L) * pmod(srcNum, lit(4L))
    val sampled = red.join(keep, Seq("doc_id"))
      .filter(pmod(strHash(concat(lit("cur:v1|"), col("doc_id").cast("string"))),
        lit(10000L)) < rateBp)
    val w = Window.partitionBy(col("source"))
      .orderBy(col("quality").desc, col("doc_id").asc)
    sampled
      .select(col("doc_id"), col("source"), col("n_copies"),
        qualityScore(col("rtext")).as("quality"))
      .withColumn("rank_in_source", row_number().over(w))
      .filter(col("rank_in_source") <= 5)
      .orderBy(col("doc_id"))
  }

  private val TfidfK = 3

  /** TF-IDF keyword extraction (q104): the top-[[TfidfK]] terms of every
    * document by tf·ln(N/df) — the classic salience score a corpus
    * profiler / keyword indexer computes, and the standard weighting for
    * sparse retrieval over a pretraining corpus. Ties break by term asc
    * so selection is fully deterministic.
    *
    * Scale shape: term frequencies are ONE linear hash aggregate keyed
    * (doc_id, term) with map-side combine; document frequencies reuse
    * that frame (count per term — vocabulary-sized output); N is a
    * 1-row broadcast and the df join is vocabulary-keyed (AQE
    * broadcasts it at any realistic vocabulary size). The per-doc top-k
    * plans as the two-phase WindowGroupLimit (q57's shape): every input
    * partition forwards at most K rows per doc before the exchange.
    * Nothing quadratic, no driver state.
    */
  def q104Tfidf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = Tables.documents(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term").asc)
    tf.join(df, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TfidfK)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("score"), col("rank"))
      .orderBy(col("doc_id"), col("rank"))
  }

  private val Bm25K = 5 // neighbors returned per query document
  private val Bm25ProbeTerms = 16 // rarest query terms probed (impact pruning)

  /** q196: BM25 RETRIEVAL — the lexical ranked-retrieval scorer (the
    * Lucene/Elasticsearch default) next to q104's raw TF-IDF: every
    * held-out benchmark document (q61's eval stand-in, doc_id %
    * [[DecontamBenchMod]] = 0) retrieves its top-[[Bm25K]] corpus
    * documents by Σ_{t∈q∩d} idf(t)·tf(k₁+1)/(tf + k₁(1−b+b·len/avglen))
    * — the retrieval-side mate of the n-gram decontamination scrub
    * (q61 asks "does the eval leak into training", q196 asks "WHICH
    * training docs would a retriever surface for it"). Constants are
    * dyadic (k₁ = 1.25 — in the standard 1.2–2.0 band — and b = 0.75),
    * idf is the Lucene ln((N−df+½)/(df+½)+1) form, and the whole
    * per-posting score fixed-points ONCE per (term, doc) posting with
    * the identical IEEE operation sequence on both engines (the q169
    * discipline; Spark needs D-suffixed literals — bare 0.5 parses as
    * DECIMAL and was measured drifting 2·10⁻⁸ through scale-limited
    * decimal arithmetic), so per-pair scores are BIGINT sums and the
    * top-k can never flip on float noise.
    *
    * Scale shape: postings (tf), df, and doc lengths are the three
    * token-linear aggregates every search index builds; the probe joins
    * QUERY terms (tiny side — eval suites) against postings keyed by
    * term; the (query, doc) sum is map-side combinable; top-k is the
    * q57 WindowGroupLimit shape (partial limit below the exchange).
    */
  def q196Bm25Retrieval(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val isBench = col("doc_id") % DecontamBenchMod === 0
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .filter(length(col("term")) > 0)
    val corpus = toks.filter(!isBench)
    val tf = corpus.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val dl = corpus.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val tot = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sumlen"))
    // impact pruning (the WAND family's static variant): probe only
    // each query's [[Bm25ProbeTerms]] RAREST terms — rare terms carry
    // the idf mass, and a stopword-dense query would otherwise drag
    // corpus-sized posting lists into the probe (measured 82× at ×10 on
    // this 31-word-vocabulary fixture, where EVERY term posts ~N)
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("df").asc, col("term").asc)
    val qterms = toks.filter(isBench)
      .select(col("doc_id").as("qid"), col("term")).distinct()
      .join(dfT, Seq("term"))
      .withColumn("qrank", row_number().over(wq))
      .filter(col("qrank") <= Bm25ProbeTerms)
      // df rides along from the ranking join — rejoining dfT on the
      // probe side would spend a second term-keyed shuffle (review)
      .select(col("qid"), col("term"), col("df"))
    // the probe join's cost is |q∩d| SCORED PAIRS (36M at sf0.1), not
    // the inputs' bytes: the planner BROADCASTS the postings and runs
    // the scoring chain on qterms' partitioning, which AQE coalesces to
    // ONE task by its KB-scale bytes — 2.8 s of scoring CPU on one core
    // (StageProfile r14, the q101-kernel pathology). Spread qterms
    // explicitly — conditional on the under-parallel single-file gate
    // corpus (the spreadDocs precondition), so a production run whose
    // query suite already fans out pays no extra exchange. qid is
    // fine-grained enough (one task per query upper bound).
    // key on (qid, term), not qid: qterms' window already hash-partitions
    // on qid, so a qid-keyed repartition is satisfied by the EXISTING
    // exchange and AQE then coalesces that one to a single partition —
    // the different key forces a real exchange with a user-pinned count
    val docsScan = Tables.documents(s, dir)
    val qtermsSpread =
      if (docsScan.inputFiles.length * 2 <= s.sparkContext.defaultParallelism)
        qterms.repartition(s.sparkContext.defaultParallelism,
          col("qid"), col("term"))
      else qterms
    val scored = qtermsSpread
      .join(tf, Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(tot))
      // D-suffixed literals: Spark parses bare 0.5/1.0 as DECIMAL and
      // drags the whole chain through scale-limited decimal arithmetic
      // (measured 2e-8 relative drift vs IEEE); DuckDB promotes to
      // DOUBLE, so the engine must force doubles to run the SAME
      // operation sequence the oracle runs
      .withColumn("score_fp", expr(
        "CAST(floor(ln((CAST(n_docs - df AS DOUBLE) + 0.5D) / (CAST(df AS DOUBLE) + 0.5D) + 1.0D)" +
          " * (CAST(tf AS DOUBLE) * 2.25D) / (CAST(tf AS DOUBLE)" +
          "    + 1.25D * (0.25D + 0.75D * CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE)" +
          "               / CAST(sumlen AS DOUBLE)))" +
          " * 1000000000.0D + 0.5D) AS BIGINT)"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("score_fp")).as("score_fp"),
        count(lit(1)).as("n_shared_terms"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score_fp").desc, col("doc_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= Bm25K)
      .select(col("qid"), col("rank"), col("doc_id").as("hit_id"),
        col("score_fp"), col("n_shared_terms"))
      .orderBy(col("qid"), col("rank"))
  }

  private val LineTok = 8 // tokens per pseudo-line (the corpus has no \n)
  private val LineDupK = 3 // a chunk seen >= K times corpus-wide is boilerplate

  /** Line-level boilerplate removal (q105): the RefinedWeb/CCNet line
    * dedup stage — hash every line of every document, count occurrences
    * CORPUS-WIDE, strike lines that repeat at least [[LineDupK]] times
    * (nav bars, cookie banners, licence footers), and REASSEMBLE each
    * document from its surviving lines in order. The corpus text is
    * single-line by construction, so "lines" are consecutive
    * [[LineTok]]-token chunks — the same granularity trade the
    * paragraph/line dedup literature makes, with the splitter swapped.
    *
    * Scale shape: chunking is a narrow per-doc projection; the
    * occurrence count is ONE linear hash aggregate keyed on the 16-byte
    * md5 (map-side combine; no string shuffle — the chunk text shuffles
    * only inside the per-doc reassembly, partitioned by doc_id); the
    * count join back is an equi-join on the same key; reassembly is a
    * doc_id-keyed aggregate whose state is one document's own chunks.
    * Nothing quadratic, no driver state, no UDF.
    */
  def q105LineDedup(s: SparkSession, dir: String): DataFrame = {
    val chunks = Tables.documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, (size(t) - 1) div $LineTok), " +
          s"i -> concat_ws(' ', slice(t, i * $LineTok + 1, $LineTok)))"))
        .as(Seq("pos", "chunk")))
    val counts = chunks
      .groupBy(md5(col("chunk").cast("binary")).as("h"))
      .agg(count(lit(1)).as("n_occ"))
    chunks
      .join(counts, md5(col("chunk").cast("binary")) === col("h"))
      .withColumn("removed", col("n_occ") >= LineDupK)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        count(when(col("removed"), 1)).as("n_removed"),
        concat_ws(" ", transform(
          sort_array(collect_list(when(!col("removed"),
            struct(col("pos"), col("chunk"))))),
          x => x("chunk"))).as("clean_text"))
      .select(col("doc_id"), col("n_chunks"), col("n_removed"),
        length(col("clean_text")).cast("long").as("clean_len"),
        md5(col("clean_text").cast("binary")).as("clean_fp"))
      .orderBy(col("doc_id"))
  }

  private val CdcW = 8   // landmark window width (chars)
  private val CdcD = 64L // landmark divisor — expected chunk ≈ 64 chars

  /** q181: CONTENT-DEFINED CHUNK DEDUP — the LBFS/rsync/FastCDC landmark
    * discipline that q105's fixed-width chunks structurally lack: a
    * one-character insertion shifts every fixed boundary after it, so
    * fixed chunks of a shifted copy never re-align, while LANDMARK
    * boundaries (cut after every [[CdcW]]-char window whose portable
    * hash ≡ 0 mod [[CdcD]]) depend only on local content and
    * re-synchronize right after the edit — shifted near-copies still
    * dedup chunk-for-chunk. This is the storage-dedup primitive
    * (Muthitacharoen et al., LBFS, SOSP'01) applied to corpus bytes;
    * pure landmark rule, no min/max chunk clamp (documented trade: a
    * clamp makes boundary selection sequential per document, breaking
    * both the per-position parallelism and the SQL oracle's closed
    * form — the divisor alone already bounds the EXPECTED chunk size).
    *
    * Scale shape: per-position window hashing is a NARROW per-document
    * projection (O(len·W) codegen'd work via transform over the char
    * positions — [[graft.functions.PortableStringHash]] is a native
    * Expression, so the whole boundary scan stays in whole-stage
    * codegen); chunking is per-row array slicing; the first-occurrence
    * dedup is ONE md5-keyed aggregate (map-side combined) plus an
    * equi-join back on the same key, exactly q24's shuffle budget; the
    * per-doc rollup re-keys by doc_id. Nothing quadratic, no UDF, no
    * driver state.
    */
  /** The landmark chunker: `(doc_id, text)` → `(doc_id, ord, chunk)`.
    * Factored out so the spec can drive it with hand-built shifted
    * copies and pin the re-synchronization property directly.
    */
  private[graft] def cdcChunks(docs: DataFrame): DataFrame = {
    import graft.functions.PortableStringHash.strHash
    // boundary END positions: the window starting at i (1-based) covers
    // chars [i, i+W-1]; cut AFTER char i+W-1 when its hash lands on the
    // divisor. The document end is always a boundary; array_distinct
    // merges a landmark that falls exactly on the end (a zero-length
    // tail chunk must not exist — the oracle's char grouping cannot
    // produce one). Empty-doc contract: a zero-length document has NO
    // chunks (filtered here) — the oracles' char-explode produces no
    // rows for it, so emitting an (ord 0, clen 0) chunk would both
    // mismatch the oracle row count and make dup_bp divide by zero.
    val ends = docs
      .where(length(col("text")) > 0)
      .withColumn("len", length(col("text")).cast("long"))
      .withColumn("ends", array_distinct(concat(
        when(col("len") >= CdcW,
          filter(
            transform(sequence(lit(1L), col("len") - lit((CdcW - 1).toLong)),
              i => when(strHash(col("text").substr(i.cast("int"), lit(CdcW))) % CdcD === 0,
                i + lit((CdcW - 1).toLong))),
            e => e.isNotNull))
          .otherwise(array().cast("array<bigint>")),
        array(col("len")))))
    ends.select(col("doc_id"),
      explode(expr(
        """transform(ends, (e, i) -> named_struct(
          |  'ord', CAST(i AS BIGINT),
          |  'chunk', substring(text,
          |     CAST((CASE WHEN i = 0 THEN 0 ELSE element_at(ends, i) END) + 1 AS INT),
          |     CAST(e - (CASE WHEN i = 0 THEN 0 ELSE element_at(ends, i) END) AS INT))))"""
          .stripMargin)).as("c"))
      .select(col("doc_id"), col("c.ord").as("ord"), col("c.chunk").as("chunk"))
  }

  def q181CdcDedup(s: SparkSession, dir: String): DataFrame = {
    // persist: two consumers (the first-occurrence aggregate and the
    // join side) would otherwise each re-run the char-level boundary
    // scan — the dominant cost (measured 2x at sf0.1)
    val withH =
      chunkHashFrame(Tables.documents(s, dir).select(col("doc_id"), col("text")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // first occurrence corpus-wide in (doc_id, ord) order — a struct-min
    // aggregate (map-side partial), never a per-hash sort
    val first = withH.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("ord"))).as("f"))
    withH.join(first, Seq("h"))
      .withColumn("dup",
        !(col("doc_id") === col("f.doc_id") && col("ord") === col("f.ord")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        count(when(col("dup"), 1)).as("n_dup_chunks"),
        sum(col("clen")).as("n_chars_total"),
        coalesce(sum(when(col("dup"), col("clen"))), lit(0L)).as("n_chars_dup"))
      .withColumn("dup_bp", expr("(n_chars_dup * 10000) div n_chars_total"))
      .orderBy(col("doc_id"))
  }

  /** q187: INCREMENTAL CDC INGEST DEDUP — q181's landmark chunks run in
    * the q101/q112 ingest shape: a NEW shard (q101's derived shard —
    * every third history doc re-arrives as a PREFIX-SHIFTED copy,
    * "update: " + text, the rest fresh) dedups against the HISTORY's
    * chunk index plus first-occurrence within the shard. The shifted
    * copies are the point: fixed-width chunking finds ~nothing reusable
    * in them, landmark chunking recovers almost every byte (only the
    * chunk the edit lives in is new) — this is the rsync/restic ingest
    * economics question "how many bytes of this shard are actually
    * new", answered exactly.
    *
    * Scale shape: both chunkings are the q181 narrow projections; the
    * history index is corpus-scale so the membership probe is a proper
    * md5-keyed EQUI-JOIN (never a broadcast — the q158 lesson), sharing
    * its key with the intra-shard struct-min aggregate; the per-doc
    * rollup re-keys by doc_id. The history side prunes to ONE column
    * (the 16-byte hash) before the shuffle.
    */
  /** Hashed chunk frame `(doc_id, ord, h, clen)` of `(doc_id, text)`
    * docs — ONE definition shared by q187 and q188 (the cdcChunkCtes
    * convention on the engine side): the hash keying and length rule
    * can never drift between the batch job and its streaming twin,
    * whose spec pins exact agreement. */
  private[queries] def chunkHashFrame(docs: DataFrame): DataFrame =
    // the rolling-hash chunker is per-doc CPU: spread an under-parallel
    // batch scan first (no-op for streaming and multi-file inputs)
    cdcChunks(Tables.spreadDocs(docs))
      .withColumn("h", md5(col("chunk").cast("binary")))
      .withColumn("clen", length(col("chunk")).cast("long"))
      .drop("chunk")

  /** The distinct history chunk-hash index, pruned to the hash column
    * (+ the join marker) BEFORE any shuffle — shared by q187/q188. */
  private[queries] def chunkHashIndex(docs: DataFrame): DataFrame =
    chunkHashFrame(docs).select(col("h")).distinct()
      .withColumn("in_hist", lit(true))

  def q187CdcIncremental(s: SparkSession, dir: String): DataFrame = {
    val hist = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val histH = chunkHashIndex(hist)
    val ch = chunkHashFrame(DedupSim.newShardOf(hist))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val first = ch.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("ord"))).as("f"))
    ch.join(histH, Seq("h"), "left")
      .join(first, Seq("h"))
      .withColumn("dup_hist", coalesce(col("in_hist"), lit(false)))
      .withColumn("dup_intra", !col("dup_hist") &&
        !(col("doc_id") === col("f.doc_id") && col("ord") === col("f.ord")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        count(when(col("dup_hist"), 1)).as("n_hist_dup"),
        count(when(col("dup_intra"), 1)).as("n_intra_dup"),
        sum(col("clen")).as("n_chars_total"),
        coalesce(sum(when(!col("dup_hist") && !col("dup_intra"), col("clen"))),
          lit(0L)).as("n_chars_fresh"))
      .withColumn("fresh_bp", expr("(n_chars_fresh * 10000) div n_chars_total"))
      .orderBy(col("doc_id"))
  }

  /** q192: NAIVE-BAYES TARGET CLASSIFIER — the trained discriminative
    * filter next to q169's perplexity filter (the two standard
    * pretraining quality gates: CCNet scores with a target LM, the
    * GPT-3/fastText lineage scores with a classifier). Train: positive
    * class = target-language documents, negative = the rest; add-one
    * smoothed multinomial NB over word counts. Apply: every document's
    * log-likelihood-ratio sum, published EXACTLY — the per-word LLR is
    * fixed-pointed (×10⁹, half-up) ONCE per vocabulary TYPE with
    * byte-identical expression text on both engines (the q169
    * discipline), so doc scores are BIGINT sums of shared constants,
    * never a float accumulation. No OOV case exists by construction:
    * training covers the full corpus vocabulary, and smoothing keeps
    * every ratio finite.
    *
    * Scale shape: ONE token-linear class-count aggregate (map-side
    * combined, keyed by word); totals broadcast; the apply join re-keys
    * token occurrences by word (Zipf-collapsed: one LLR row per TYPE);
    * the doc rollup re-keys by doc_id. At 100 TB the word keys would
    * ride [[graft.functions.PortableStringHash]] instead of strings —
    * the gate keeps strings for oracle transparency, the shape is
    * identical.
    *
    * Fixture honesty: on this synthetic corpus the lang label is NOT
    * text-derivable (every doc draws from one shared vocabulary —
    * q145's confusion matrix shows even the stopword heuristic
    * predicts 'en' for everything), so no classifier separates it and
    * the spec pins the trained mechanism (exact scalar replay,
    * evidence-sign monotonicity), not accuracy. On a real corpus this
    * operator IS the fastText-style quality/language gate.
    */
  def q192NbQuality(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("tok"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cls = toks.groupBy(col("tok"))
      .agg(count(when(col("lang") === "en", 1)).as("cpos"),
        count(when(col("lang") =!= "en", 1)).as("cneg"))
    val tot = cls.agg(sum(col("cpos")).as("npos"), sum(col("cneg")).as("nneg"),
      count(lit(1)).as("v"))
    // the same DOUBLE operand sequence as the oracle, fixed-pointed once
    // per word type. D-suffixed literals + explicit DOUBLE casts (the
    // q196 discipline): a bare `(cpos + 1.0) / (npos + v)` is
    // scale-limited DECIMAL division in Spark (rounded BEFORE ln) while
    // DuckDB casts decimal division to DOUBLE — a measured 2e-8 drift
    // class that can flip floor(x+0.5) at a half-boundary. Residual
    // cross-engine risk: ln() itself is ~1-ulp libm accuracy, not
    // correctly rounded — identical OPERANDS, not a bit-identity
    // guarantee; a flip needs the fixed point within ~1e-7 of an
    // integer boundary AND a 1-ulp log divergence on that operand.
    val llr = cls.crossJoin(broadcast(tot))
      .withColumn("llr_fp", expr(
        "CAST(floor((ln((CAST(cpos AS DOUBLE) + 1.0D) / CAST(npos + v AS DOUBLE))" +
          " - ln((CAST(cneg AS DOUBLE) + 1.0D) / CAST(nneg + v AS DOUBLE)))" +
          " * 1000000000.0D + 0.5D) AS BIGINT)"))
      .select(col("tok"), col("llr_fp"))
    toks.join(llr, Seq("tok"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_toks"), sum(col("llr_fp")).as("score_fp"))
      .withColumn("predicted_target", col("score_fp") > 0)
      .withColumn("is_target", col("lang") === "en")
      .select(col("doc_id"), col("lang"), col("n_toks"), col("score_fp"),
        col("predicted_target"), col("is_target"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q104_tfidf" -> (q104Tfidf _),
    "q192_nb_quality" -> (q192NbQuality _),
    "q105_line_dedup" -> (q105LineDedup _),
    "q181_cdc_dedup" -> (q181CdcDedup _),
    "q187_cdc_incremental" -> (q187CdcIncremental _),
    "q127_gopher_rules" -> (q127GopherRules _),
    "q20_tokens" -> (q20Tokens _),
    "q21_langid" -> (q21LangId _),
    "q145_lang_confusion" -> (q145LangConfusion _),
    "q22_quality" -> (q22Quality _),
    "q23_fingerprint" -> (q23Fingerprint _),
    "q42_repetition" -> (q42Repetition _),
    "q55_sample_mixture" -> (q55SampleMixture _),
    "q57_quality_topk" -> (q57QualityTopK _),
    "q61_decontaminate" -> (q61Decontaminate _),
    "q183_source_contamination" -> (q183SourceContamination _),
    "q196_bm25_retrieval" -> (q196Bm25Retrieval _),
    "q64_pii_scrub" -> (q64PiiScrub _),
    "q67_curation_pipeline" -> (q67CurationPipeline _),
    "q97_lm_score" -> (q97LmScore _),
    "q98_dup_spans" -> (q98DupSpans _),
    "q203_suffix_repeats" -> (q203SuffixRepeats _),
    "q205_suffix_clip" -> (q205SuffixClip _),
    "q207_decontam_clip" -> (q207DecontamClip _),
    "q208_suffix_scrub" -> (q208SuffixScrub _),
    "q150_winnow" -> (q150Winnow _),
    "q155_kn_continuation" -> (q155KnContinuation _),
    "q169_kn_perplexity" -> (q169KnPerplexity _),
  )

  private val enList = sqlList(EnStop)
  private val deList = sqlList(DeStop)
  private val esList = sqlList(EsStop)
  private val frList = sqlList(FrStop)

  /** The qualityScore formula as oracle SQL over a relation exposing
    * `toks` (whitespace-split token list) and the text column `textCol`
    * — ONE definition for the q57 and q67 oracles (the Spark side has
    * the single `qualityScore` helper; this is its SQL twin, same
    * pattern as PortableStringHash.strHashCtes). */
  private[queries] def qualitySql(textCol: String): String =
    s"""round(0.5 * least(1.0, CAST(len(toks) AS DOUBLE) / 100.0)
                      + 0.3 * (CAST(len(list_filter(toks, x -> list_contains($enList, x))) AS DOUBLE)
                               / CAST(len(toks) AS DOUBLE))
                      + 0.2 * (1.0 - CAST(length($textCol) - length(regexp_replace($textCol, '[.,!?;:]', '', 'g')) AS DOUBLE)
                                     / CAST(length($textCol) AS DOUBLE)), 6)"""


  /** The shared suffix-pipeline CTE prefix (through the lcp-interval
    * occurrence relation `occ`) — ONE definition for the q203 and q205
    * oracles, mirroring the engine's shared [[suffixOcc]]. Also exposes
    * `hal` (per-doc hash lists) and `dup` (the duplicated tail). */
  private def suffixOccCtes: String =
    s"""toks AS (
          SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok,
                 generate_subscripts(string_split_regex(trim(text), '\\s+'), 1) AS pos
          FROM documents),
        ${graft.functions.PortableStringHash.strHashCtes(
          "toks", Seq("doc_id", "pos"), "tok", "th", "h")},
        hal AS (SELECT doc_id, list(h ORDER BY pos) AS ha FROM th GROUP BY doc_id),
        suf AS (SELECT doc_id, CAST(p AS BIGINT) AS pos,
                       ha[CAST(p + 1 AS INT):CAST(least(p + $SufK, len(ha)) AS INT)] AS key,
                       CASE WHEN p = 0 THEN -doc_id - 1
                            ELSE ha[CAST(p AS INT)] END AS prevh
                FROM hal, unnest(range(len(ha))) AS u(p)),
        rk AS (SELECT doc_id, pos, prevh, key,
                      row_number() OVER wo AS rank,
                      lag(key) OVER wo AS pkey, lead(key) OVER wo AS nkey
               FROM suf WINDOW wo AS (ORDER BY key, doc_id, pos)),
        lc AS (SELECT rank, doc_id, pos, prevh,
                      CAST(${lcpSql("key", "pkey")} AS BIGINT) AS lcp,
                      CAST(${lcpSql("key", "nkey")} AS BIGINT) AS nlcp
               FROM rk),
        dup AS (SELECT * FROM lc WHERE lcp >= $SufL OR nlcp >= $SufL),
        marked AS (SELECT t.rank, t.lcp, CAST(u.v AS BIGINT) AS v
                   FROM (SELECT rank, lcp FROM lc WHERE lcp >= $SufL) t,
                        unnest(range($SufL, t.lcp + 1)) AS u(v)),
        isl AS (SELECT v, rank, lcp,
                       rank - row_number() OVER (PARTITION BY v ORDER BY rank) AS grp
                FROM marked),
        iv AS (SELECT v, min(rank) - 1 AS lo, max(rank) AS hi
               FROM isl GROUP BY v, grp HAVING min(lcp) = v),
        occ AS (SELECT iv.v, iv.lo, iv.hi, d.doc_id, d.pos, d.prevh
                FROM iv, unnest(range(iv.lo, iv.hi + 1)) AS u(rnk), dup d
                WHERE d.rank = u.rnk)"""

  /** The span-union CTE chain over a previously-defined
    * `covered(doc_id, pos, e)` relation, ending in
    * `spans(doc_id, g, s, e)` — the SQL twin of [[spanUnion]], ONE copy
    * shared by the report oracles (via [[clipOracleSql]]) and the q208
    * materialization oracle. */
  private def spanUnionSqlCtes: String =
    s"""mx AS (SELECT doc_id, pos, e,
                      max(e) OVER (PARTITION BY doc_id ORDER BY pos, e
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING) AS maxe
               FROM covered),
        gi AS (SELECT doc_id, pos, e,
                      sum(CASE WHEN maxe IS NULL OR pos > maxe THEN 1 ELSE 0 END)
                        OVER (PARTITION BY doc_id ORDER BY pos, e) AS g
               FROM mx),
        spans AS (SELECT doc_id, g, min(pos) AS s, max(e) AS e
                  FROM gi GROUP BY 1, 2)"""

  /** The q205/q208 covered-set derivation (first occurrence per interval
    * survives; packed-min, guarded) — shared so the survivor policy's
    * SQL twin also lives in one place. */
  private def clipCoveredCtes(q: String): String =
    s"""firsts AS (SELECT v, lo, hi,
                          min(CASE WHEN pos >= 2097152
                                   THEN error('$q: pos exceeds the packing bound')
                                   WHEN doc_id < 0
                                   THEN error('$q: doc_id must be non-negative (packed min needs doc-major order)')
                                   ELSE doc_id * 2097152 + pos END) AS fk
                   FROM occ GROUP BY 1, 2, 3),
        covered AS (SELECT o.doc_id, o.pos, o.pos + o.v AS e
                    FROM occ o JOIN firsts f USING (v, lo, hi)
                    WHERE o.doc_id * 2097152 + o.pos <> f.fk)"""

  /** The q205/q207 oracle skeleton: `$suffixOccCtes`, then the caller's
    * covered-set derivation (must end in `covered(doc_id, pos, e)`),
    * then the shared span-union chain and the per-doc count report —
    * the engine-side [[spanUnionReport]] mirrored in SQL, parameterized
    * only by the report's column names and the per-doc base's WHERE
    * (q207 reports train docs only). */
  private def clipOracleSql(coveredCtes: String, ntWhere: String,
      nRemoved: String, nSpans: String, nKept: String, bp: String): String =
    s"""WITH $suffixOccCtes,
        $coveredCtes,
        $spanUnionSqlCtes,
        agg AS (SELECT doc_id, CAST(sum(e - s) AS BIGINT) AS $nRemoved,
                       CAST(count(*) AS BIGINT) AS $nSpans
                FROM spans GROUP BY 1),
        nt AS (SELECT doc_id, CAST(len(ha) AS BIGINT) AS n_tokens FROM hal$ntWhere)
        SELECT nt.doc_id, n_tokens,
               coalesce($nRemoved, 0) AS $nRemoved,
               coalesce($nSpans, 0) AS $nSpans,
               n_tokens - coalesce($nRemoved, 0) AS $nKept,
               CASE WHEN n_tokens = 0 THEN 0
                    ELSE (coalesce($nRemoved, 0) * 10000) // n_tokens
               END AS $bp
        FROM nt LEFT JOIN agg USING (doc_id) ORDER BY nt.doc_id"""

  /** The q207 oracle — factored out because q209 (the STREAMING form of
    * the same decontamination rule) gates against it VERBATIM: the
    * fixed-window streaming route must reproduce the suffix-order batch
    * route's report exactly (the L-subwindow identity, stated at q209),
    * so the two queries sharing one oracle string IS the equivalence
    * claim. */
  private[graft] def decontamOracleSql: String = clipOracleSql(
    s"""ev AS (SELECT DISTINCT v, lo, hi FROM occ
               WHERE doc_id % $DecontamMod = $DecontamRes),
        covered AS (SELECT o.doc_id, o.pos, o.pos + o.v AS e
                    FROM occ o JOIN ev USING (v, lo, hi)
                    WHERE o.doc_id % $DecontamMod <> $DecontamRes)""",
    ntWhere = s" WHERE doc_id % $DecontamMod <> $DecontamRes",
    "n_contam", "n_spans", "n_clean", "contam_bp")

  /** First-mismatch LCP of two DuckDB lists as SQL text (NULL neighbor →
    * 0; strict prefix → min length) — the q203 oracle's twin of the
    * engine's zip_with expression. */
  private def lcpSql(a: String, b: String): String = {
    // no-match means the lists agree on their whole common length (a
    // strict-prefix or identical pair). DuckDB builds have disagreed on
    // list_position's no-match value (this one returns 0, like Spark's
    // array_position; others return NULL) — nullif folds BOTH semantics
    // into the coalesce fallback, so the oracle is version-proof
    val firstFalse = s"""list_position(list_transform(
                          range(1, least(len($a), len($b)) + 1),
                          i -> $a[CAST(i AS INT)] = $b[CAST(i AS INT)]), false)"""
    s"""CASE WHEN $b IS NULL THEN 0
        ELSE coalesce(nullif($firstFalse, 0) - 1, least(len($a), len($b))) END"""
  }

  /** The langId prediction as oracle SQL (doc_id, lang, lang_pred) —
    * ONE definition shared by q21 and the q145 confusion matrix. */
  private def langIdPredSql: String =
    s"""SELECT doc_id, lang,
               CASE WHEN en > 0 AND en >= de AND en >= es AND en >= fr THEN 'en'
                    WHEN de > 0 AND de >= es AND de >= fr THEN 'de'
                    WHEN es > 0 AND es >= fr THEN 'es'
                    WHEN fr > 0 THEN 'fr'
                    ELSE 'unk' END AS lang_pred
        FROM (SELECT doc_id, lang,
                     len(list_filter(toks, x -> list_contains($enList, x))) AS en,
                     len(list_filter(toks, x -> list_contains($deList, x))) AS de,
                     len(list_filter(toks, x -> list_contains($esList, x))) AS es,
                     len(list_filter(toks, x -> list_contains($frList, x))) AS fr
              FROM (SELECT doc_id, lang,
                           string_split_regex(trim(text), '\\s+') AS toks
                    FROM documents))"""

  /** Gopher-cascade oracle (CTEs `t`/`g`/`m` + the rule projection) —
    * shared verbatim by q127 and, pass-filtered, by the q140 export
    * gate, so the rule set can never drift between them. */
  private[graft] def gopherRulesSql: String =
    s"""WITH t AS (SELECT doc_id, text,
                          string_split_regex(trim(text), '\\s+') AS toks
                   FROM documents),
        g AS (SELECT doc_id, text, toks,
                     CASE WHEN len(toks) >= 3
                          THEN list_transform(range(1, len(toks) - 1),
                               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                          ELSE [] END AS g3
              FROM t),
        m AS (SELECT doc_id,
                     CAST(len(toks) AS BIGINT) AS n_words,
                     CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS BIGINT) AS word_chars,
                     CAST(len(list_filter(toks, x -> regexp_matches(x, '^[A-Za-z]+$$'))) AS BIGINT) AS n_alpha,
                     CAST(len(list_filter(toks, x -> list_contains($enList, x))) AS BIGINT) AS n_stop,
                     CAST(length(text) - length(replace(text, '#', ''))
                          + len(regexp_extract_all(text, '\\.\\.\\.')) AS BIGINT) AS n_sym,
                     CAST(len(g3) AS BIGINT) AS g3_total,
                     CAST(len(list_distinct(g3)) AS BIGINT) AS g3_distinct
              FROM g)
        SELECT doc_id, n_words, word_chars, n_alpha, n_stop, n_sym,
               g3_total, g3_distinct,
               (n_words >= 50 AND n_words <= 100000) AS r_wordcount,
               (3 * n_words <= word_chars AND word_chars <= 10 * n_words) AS r_meanlen,
               (10 * n_sym < n_words) AS r_symbol,
               (5 * n_alpha >= 4 * n_words) AS r_alpha,
               (n_stop >= 2) AS r_stop,
               (10 * (g3_total - g3_distinct) <= 3 * g3_total) AS r_dup3,
               ((n_words >= 50 AND n_words <= 100000)
                AND (3 * n_words <= word_chars AND word_chars <= 10 * n_words)
                AND (10 * n_sym < n_words)
                AND (5 * n_alpha >= 4 * n_words)
                AND (n_stop >= 2)
                AND (10 * (g3_total - g3_distinct) <= 3 * g3_total)) AS pass
        FROM m ORDER BY doc_id"""

  /** DuckDB CTE chain computing the CDC chunks of relation
    * `src(doc_id, text)` under name prefix `pfx`: emits
    * `<pfx>c,<pfx>g,<pfx>b,<pfx>o,<pfx>ck`; the final `<pfx>ck` has
    * (doc_id, ord, chunk, clen). ONE definition shared by the q181 and
    * q187 oracles so the landmark rule can never drift between them.
    */
  private[graft] def cdcChunkCtes(src: String, pfx: String): String =
    s"""${pfx}c AS (SELECT doc_id,
      |             CAST(generate_subscripts(string_split(text, ''), 1) AS BIGINT) AS pos,
      |             CAST(ascii(unnest(string_split(text, ''))) AS BIGINT) AS cp,
      |             unnest(string_split(text, '')) AS ch
      |      FROM $src),
      |${pfx}g AS (SELECT a.doc_id, a.pos AS p,
      |             CAST(sum((b.cp + 1) *
      |               ([1, 131, 17161, 2248091, 294499921, 2072267652,
      |                 884122890, 2003465299])[CAST(8 - (b.pos - a.pos) AS INT)])
      |               % 2147483647 AS BIGINT) AS h
      |      FROM ${pfx}c a JOIN ${pfx}c b ON b.doc_id = a.doc_id
      |                       AND b.pos >= a.pos AND b.pos < a.pos + $CdcW
      |      GROUP BY 1, 2 HAVING count(*) = $CdcW),
      |${pfx}b AS (SELECT doc_id, p + ${CdcW - 1} AS e FROM ${pfx}g WHERE h % $CdcD = 0),
      |${pfx}o AS (SELECT c.doc_id, c.pos, c.ch, count(b.e) AS ord
      |      FROM ${pfx}c c LEFT JOIN ${pfx}b b ON b.doc_id = c.doc_id AND b.e < c.pos
      |      GROUP BY 1, 2, 3),
      |${pfx}ck AS (SELECT doc_id, ord, string_agg(ch, '' ORDER BY pos) AS chunk,
      |              CAST(count(*) AS BIGINT) AS clen
      |       FROM ${pfx}o GROUP BY 1, 2)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // q196: identical score expression text as the engine, fixed-pointed
    // once per posting; ties break (score DESC, hit id ASC)
    "q196_bm25_retrieval" ->
      s"""WITH t AS (SELECT doc_id,
        |                  unnest(string_split_regex(trim(text), '\\s+')) AS term
        |           FROM documents),
        |tt AS (SELECT * FROM t WHERE len(term) > 0),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |       FROM tt WHERE doc_id % $DecontamBenchMod <> 0 GROUP BY 1, 2),
        |dfx AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
        |       FROM tt WHERE doc_id % $DecontamBenchMod <> 0 GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |               CAST(sum(dl) AS BIGINT) AS sumlen FROM dl),
        |q0 AS (SELECT DISTINCT doc_id AS qid, term FROM tt
        |       WHERE doc_id % $DecontamBenchMod = 0),
        |q AS (SELECT qid, term FROM (
        |        SELECT q0.qid, q0.term,
        |               row_number() OVER (PARTITION BY q0.qid
        |                                  ORDER BY dfx.df, q0.term) AS qrank
        |        FROM q0 JOIN dfx USING (term))
        |      WHERE qrank <= $Bm25ProbeTerms),
        |sc AS (SELECT q.qid, tf.doc_id,
        |              CAST(sum(CAST(floor(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
        |                * (tf * 2.25) / (tf + 1.25 * (0.25 + 0.75 * dl * n_docs / sumlen))
        |                * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS score_fp,
        |              CAST(count(*) AS BIGINT) AS n_shared_terms
        |       FROM q JOIN tf USING (term) JOIN dfx USING (term)
        |            JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN tot
        |       GROUP BY 1, 2)
        |SELECT qid, CAST(rank AS BIGINT) AS rank, doc_id AS hit_id,
        |       score_fp, n_shared_terms
        |FROM (SELECT *, row_number() OVER (PARTITION BY qid
        |                ORDER BY score_fp DESC, doc_id) AS rank FROM sc)
        |WHERE rank <= $Bm25K ORDER BY qid, rank""".stripMargin,
    // q192: same LLR arithmetic as the engine — both sides divide and
    // ln over explicit DOUBLEs (the engine D-suffixes its literals so
    // Spark cannot route through scale-limited DECIMAL division),
    // fixed-pointed once per word type, BIGINT sums
    "q192_nb_quality" ->
      s"""WITH t AS (SELECT doc_id, lang,
        |                  unnest(string_split_regex(trim(text), '\\s+')) AS tok
        |           FROM documents),
        |cls AS (SELECT tok,
        |               CAST(count(CASE WHEN lang = 'en' THEN 1 END) AS BIGINT) AS cpos,
        |               CAST(count(CASE WHEN lang <> 'en' THEN 1 END) AS BIGINT) AS cneg
        |        FROM t GROUP BY 1),
        |tot AS (SELECT CAST(sum(cpos) AS BIGINT) AS npos,
        |               CAST(sum(cneg) AS BIGINT) AS nneg,
        |               CAST(count(*) AS BIGINT) AS v
        |        FROM cls),
        |llr AS (SELECT tok,
        |               CAST(floor((ln((CAST(cpos AS DOUBLE) + 1.0) / CAST(npos + v AS DOUBLE))
        |                           - ln((CAST(cneg AS DOUBLE) + 1.0) / CAST(nneg + v AS DOUBLE)))
        |                    * 1000000000.0 + 0.5) AS BIGINT) AS llr_fp
        |        FROM cls CROSS JOIN tot)
        |SELECT t.doc_id, t.lang, CAST(count(*) AS BIGINT) AS n_toks,
        |       CAST(sum(llr_fp) AS BIGINT) AS score_fp,
        |       sum(llr_fp) > 0 AS predicted_target,
        |       t.lang = 'en' AS is_target
        |FROM t JOIN llr USING (tok)
        |GROUP BY 1, 2 ORDER BY doc_id""".stripMargin,
    "q104_tfidf" ->
      s"""WITH tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
                      FROM (SELECT doc_id,
                                   unnest(string_split_regex(trim(text), '\\s+')) AS term
                            FROM documents)
                      WHERE length(term) > 0 GROUP BY 1, 2),
          df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
          n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
          sc AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
                        round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS score
                 FROM tf JOIN df USING (term) CROSS JOIN n),
          r AS (SELECT doc_id, term, tf, df, score,
                       CAST(row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, term) AS INTEGER) AS rank
                FROM sc)
          SELECT doc_id, term, tf, df, score, rank
          FROM r WHERE rank <= $TfidfK ORDER BY doc_id, rank""",
    "q105_line_dedup" ->
      s"""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
                     FROM documents),
          ch AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
                        array_to_string(toks[(CAST(i AS INT) * $LineTok + 1):
                                             (CAST(i AS INT) * $LineTok + $LineTok)],
                                        ' ') AS chunk
                 FROM t, unnest(range(0, (len(toks) + ${LineTok - 1}) // $LineTok)) AS u(i)),
          cnt AS (SELECT md5(chunk) AS h, CAST(count(*) AS BIGINT) AS n_occ
                  FROM ch GROUP BY 1),
          fl AS (SELECT c.doc_id, c.pos, c.chunk, n.n_occ >= $LineDupK AS removed
                 FROM ch c JOIN cnt n ON md5(c.chunk) = n.h),
          agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
                         CAST(count(CASE WHEN removed THEN 1 END) AS BIGINT) AS n_removed,
                         coalesce(string_agg(CASE WHEN NOT removed THEN chunk END,
                                             ' ' ORDER BY pos), '') AS clean_text
                  FROM fl GROUP BY 1)
          SELECT doc_id, n_chunks, n_removed,
                 CAST(length(clean_text) AS BIGINT) AS clean_len,
                 md5(clean_text) AS clean_fp
          FROM agg ORDER BY doc_id""",
    // landmark hash = the PortableStringHash positional sum over the
    // 8-char window (powers of B mod P precomputed); chunk membership =
    // count of landmark ends strictly before the char; first occurrence
    // by (doc_id, ord) via row_number over the chunk md5
    "q181_cdc_dedup" ->
      s"""WITH d AS (SELECT doc_id, text FROM documents),
        |${cdcChunkCtes("d", "")},
        |fr AS (SELECT doc_id, ord, clen,
        |              row_number() OVER (PARTITION BY md5(chunk)
        |                                 ORDER BY doc_id, ord) AS rn
        |       FROM ck)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |       CAST(count(CASE WHEN rn > 1 THEN 1 END) AS BIGINT) AS n_dup_chunks,
        |       CAST(sum(clen) AS BIGINT) AS n_chars_total,
        |       CAST(coalesce(sum(CASE WHEN rn > 1 THEN clen END), 0) AS BIGINT)
        |         AS n_chars_dup,
        |       CAST(coalesce(sum(CASE WHEN rn > 1 THEN clen END), 0) * 10000
        |            // sum(clen) AS BIGINT) AS dup_bp
        |FROM fr GROUP BY 1 ORDER BY doc_id""".stripMargin,
    // q187: the q181 chunk CTEs over BOTH corpora (prefixes h/n); the
    // new-shard derivation is q101's SQL replay verbatim
    "q187_cdc_incremental" ->
      s"""WITH hd AS (SELECT doc_id, text FROM documents),
        |nd AS (SELECT doc_id + ${DedupSim.NearDupOffset} AS doc_id,
        |              CASE WHEN doc_id % 3 = 0 THEN 'update: ' || text
        |                   ELSE 'zz' || doc_id || 'a zz' || doc_id || 'b zz' || doc_id || 'c'
        |              END AS text
        |       FROM documents),
        |${cdcChunkCtes("hd", "h")},
        |${cdcChunkCtes("nd", "n")},
        |hh AS (SELECT DISTINCT md5(chunk) AS h FROM hck),
        |nf AS (SELECT md5(chunk) AS h, doc_id, ord, clen,
        |              row_number() OVER (PARTITION BY md5(chunk)
        |                                 ORDER BY doc_id, ord) AS rn
        |       FROM nck),
        |fl AS (SELECT nf.doc_id, nf.clen,
        |              (hh.h IS NOT NULL) AS dup_hist,
        |              (hh.h IS NULL AND nf.rn > 1) AS dup_intra
        |       FROM nf LEFT JOIN hh USING (h))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |       CAST(count(CASE WHEN dup_hist THEN 1 END) AS BIGINT) AS n_hist_dup,
        |       CAST(count(CASE WHEN dup_intra THEN 1 END) AS BIGINT) AS n_intra_dup,
        |       CAST(sum(clen) AS BIGINT) AS n_chars_total,
        |       CAST(coalesce(sum(CASE WHEN NOT dup_hist AND NOT dup_intra
        |                              THEN clen END), 0) AS BIGINT) AS n_chars_fresh,
        |       CAST(coalesce(sum(CASE WHEN NOT dup_hist AND NOT dup_intra
        |                              THEN clen END), 0) * 10000
        |            // sum(clen) AS BIGINT) AS fresh_bp
        |FROM fl GROUP BY 1 ORDER BY doc_id""".stripMargin,
    // the probability CASE is the engine expression verbatim; all
    // counts BIGINT, the nll fixed-pointed once per corpus bigram type,
    // integer division only over positives (engine `div` vs DuckDB `//`
    // agree there)
    "q169_kn_perplexity" ->
      s"""WITH d AS (SELECT doc_id, lang,
        |                  string_split_regex(trim(text), '\\s+') AS toks
        |           FROM documents),
        |tr AS (SELECT toks FROM d WHERE lang = 'en'),
        |trb AS (SELECT toks[CAST(i AS INT)] AS w1, toks[CAST(i AS INT) + 1] AS w2
        |        FROM tr, unnest(range(1, len(toks))) AS u(i)),
        |bi AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM trb GROUP BY 1, 2),
        |lhs AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1,
        |               CAST(count(*) AS BIGINT) AS n_right FROM bi GROUP BY 1),
        |cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS n_left FROM bi GROUP BY 1),
        |tot AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM bi) AS bt,
        |               (SELECT CAST(count(DISTINCT w) AS BIGINT)
        |                FROM (SELECT unnest(toks) AS w FROM tr)) AS vt),
        |db AS (SELECT doc_id, toks[CAST(i AS INT)] AS w1, toks[CAST(i AS INT) + 1] AS w2
        |       FROM d, unnest(range(1, len(toks))) AS u(i)),
        |ty AS (SELECT DISTINCT w1, w2 FROM db),
        |nll AS (SELECT ty.w1, ty.w2,
        |               CAST(floor(-ln(
        |                 CASE WHEN c1 IS NOT NULL THEN
        |                   greatest(CAST(coalesce(c2, 0) AS DOUBLE) - 0.75, 0.0) / CAST(c1 AS DOUBLE)
        |                   + (0.75 * CAST(n_right AS DOUBLE) / CAST(c1 AS DOUBLE))
        |                     * ((CAST(coalesce(n_left, 0) AS DOUBLE) + 1.0)
        |                        / (CAST(bt AS DOUBLE) + CAST(vt AS DOUBLE) + 1.0))
        |                 ELSE (CAST(coalesce(n_left, 0) AS DOUBLE) + 1.0)
        |                      / (CAST(bt AS DOUBLE) + CAST(vt AS DOUBLE) + 1.0) END
        |               ) * 1000000000.0 + 0.5) AS BIGINT) AS nfp
        |        FROM ty LEFT JOIN bi USING (w1, w2) LEFT JOIN lhs USING (w1)
        |                LEFT JOIN cont USING (w2) CROSS JOIN tot),
        |sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |              CAST(sum(nfp) AS BIGINT) AS nll_fp
        |       FROM db JOIN nll USING (w1, w2) GROUP BY 1)
        |SELECT d.doc_id, d.lang,
        |       coalesce(sc.n_bigrams, 0) AS n_bigrams,
        |       coalesce(sc.nll_fp, 0) AS nll_fp,
        |       CASE WHEN sc.n_bigrams IS NULL THEN 0
        |            ELSE sc.nll_fp // sc.n_bigrams END AS avg_nll_fp,
        |       CASE WHEN coalesce(sc.n_bigrams, 0) = 0 THEN 'empty'
        |            WHEN sc.nll_fp // sc.n_bigrams < $KnPplHeadT THEN 'head'
        |            WHEN sc.nll_fp // sc.n_bigrams < $KnPplTailT THEN 'middle'
        |            ELSE 'tail' END AS bucket
        |FROM d LEFT JOIN sc USING (doc_id) ORDER BY doc_id""".stripMargin,
    "q155_kn_continuation" ->
      s"""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
        |           FROM documents),
        |big AS (SELECT toks[CAST(i AS INT)] AS w1, toks[CAST(i AS INT) + 1] AS w2
        |        FROM t, unnest(range(1, len(toks))) AS u(i)),
        |bi AS (SELECT w1, w2 FROM big GROUP BY 1, 2),
        |nl AS (SELECT w2 AS w, CAST(count(*) AS BIGINT) AS n_left FROM bi GROUP BY 1),
        |nr AS (SELECT w1 AS w, CAST(count(*) AS BIGINT) AS n_right FROM bi GROUP BY 1),
        |bt AS (SELECT CAST(count(*) AS BIGINT) AS b FROM bi),
        |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c1
        |        FROM (SELECT unnest(toks) AS w FROM t) GROUP BY 1),
        |top AS (SELECT CAST(row_number() OVER (ORDER BY c1 DESC, w) AS INT) AS rank,
        |               w, c1
        |        FROM uni ORDER BY c1 DESC, w LIMIT $KnTopK)
        |SELECT top.rank, top.w, top.c1,
        |       coalesce(nl.n_left, 0) AS n_left,
        |       coalesce(nr.n_right, 0) AS n_right,
        |       (coalesce(nl.n_left, 0) * 10000) // bt.b AS pcont_bp
        |FROM top LEFT JOIN nl USING (w) LEFT JOIN nr USING (w) CROSS JOIN bt
        |ORDER BY rank""".stripMargin,
    "q150_winnow" ->
      s"""WITH toks AS (
            SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok,
                   generate_subscripts(string_split_regex(trim(text), '\\s+'), 1) AS pos
            FROM documents),
          ${graft.functions.PortableStringHash.strHashCtes(
            "toks", Seq("doc_id", "pos"), "tok", "th", "h")},
          sh AS (
            SELECT doc_id, CAST(pos - 1 AS BIGINT) AS pos,
                   ${(1 until WinK).foldLeft("h")((acc, k) =>
                     s"(($acc * 131 + lead(h, $k) OVER w) % ${graft.functions.PortableStringHash.P})")} AS hsh
            FROM th WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
            QUALIFY lead(h, ${WinK - 1}) OVER w IS NOT NULL),
          sel AS (
            SELECT doc_id,
                   min(hsh * $WinM + (${WinM - 1} - pos))
                     OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN CURRENT ROW AND ${WinW - 1} FOLLOWING) AS winmin
            FROM sh WHERE pos < $WinM
            QUALIFY lead(pos, ${WinW - 1}) OVER (PARTITION BY doc_id ORDER BY pos) IS NOT NULL),
          fp AS (SELECT DISTINCT doc_id, winmin // $WinM AS h FROM sel),
          dfc AS (SELECT h FROM fp GROUP BY h
                  HAVING count(*) >= 2 AND count(*) <= $WinDfCap),
          kept AS (SELECT f.doc_id, f.h FROM fp f JOIN dfc USING (h)),
          pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                           CAST(count(*) AS BIGINT) AS n_shared
                    FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
                    GROUP BY 1, 2 HAVING count(*) >= $WinMinShared),
          sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nfp FROM fp GROUP BY 1)
          SELECT doc_a, doc_b, n_shared, sa.nfp AS n_a, sb.nfp AS n_b
          FROM pairs
          JOIN sz sa ON sa.doc_id = doc_a
          JOIN sz sb ON sb.doc_id = doc_b
          ORDER BY doc_a, doc_b""",
    "q98_dup_spans" ->
      s"""WITH toks AS (
            SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok,
                   generate_subscripts(string_split_regex(trim(text), '\\s+'), 1) AS pos
            FROM documents),
          ${graft.functions.PortableStringHash.strHashCtes(
            "toks", Seq("doc_id", "pos"), "tok", "th", "h")},
          sh AS (
            SELECT doc_id, CAST(pos - 1 AS BIGINT) AS pos,
                   ${(1 until SpanW).foldLeft("h")((acc, k) =>
                     s"(($acc * 131 + lead(h, $k) OVER w) % ${graft.functions.PortableStringHash.P})")} AS hsh
            FROM th WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
            QUALIFY lead(h, ${SpanW - 1}) OVER w IS NOT NULL),
          dup AS (SELECT hsh, CAST(count(*) AS BIGINT) AS n_occ
                  FROM sh GROUP BY 1 HAVING count(*) >= 2),
          dpos AS (SELECT s.doc_id, s.pos, d.n_occ FROM sh s JOIN dup d USING (hsh)),
          isl AS (SELECT doc_id, pos, n_occ,
                         sum(CASE WHEN prev IS NULL OR pos - prev > $SpanW
                                  THEN 1 ELSE 0 END)
                           OVER (PARTITION BY doc_id ORDER BY pos) AS island
                  FROM (SELECT doc_id, pos, n_occ,
                               lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
                        FROM dpos))
          SELECT doc_id, min(pos) AS start_tok,
                 max(pos) + ${SpanW - 1} AS end_tok,
                 CAST(count(*) AS BIGINT) AS n_dup_shingles, max(n_occ) AS max_occ
          FROM isl GROUP BY doc_id, island ORDER BY doc_id, start_tok""",
    // q203: the same capped-suffix sort + neighbor-LCP + lcp-interval
    // enumeration as the engine, in list-native SQL. Composite orderings
    // pack into one BIGINT (arg_max takes no struct key here) with a
    // loud error() guard on the packing bound.
    "q203_suffix_repeats" ->
      s"""WITH $suffixOccCtes,
          reps AS (SELECT v, lo, hi,
                          CAST(count(*) AS BIGINT) AS n_occ,
                          min(doc_id) AS example_doc_min,
                          max(doc_id) AS example_doc_max,
                          min(CASE WHEN pos >= 2097152
                                   THEN error('q203: pos exceeds the packing bound')
                                   WHEN doc_id < 0
                                   THEN error('q203: doc_id must be non-negative (packed min needs doc-major order)')
                                   ELSE doc_id * 2097152 + pos END) AS repk
                   FROM occ GROUP BY 1, 2, 3
                   HAVING count(DISTINCT prevh) >= 2)
          SELECT CAST(list_reduce(
                   hal.ha[CAST(repk % 2097152 + 1 AS INT):CAST(repk % 2097152 + v AS INT)],
                   (a, b) -> (a * 131 + b) % ${graft.functions.PortableStringHash.P})
                 AS BIGINT) AS sub_hash,
                 v AS length, n_occ, example_doc_min, example_doc_max
          FROM reps JOIN hal ON hal.doc_id = repk // 2097152
          ORDER BY length, sub_hash, example_doc_min, example_doc_max, n_occ""",
    // q205: the removal pass over the same occurrence relation — first
    // occurrence per interval survives (packed-min, guarded), the rest
    // union into per-doc clipped spans
    "q205_suffix_clip" -> clipOracleSql(clipCoveredCtes("q205"),
      ntWhere = "", "n_removed", "n_spans", "n_kept", "removed_bp"),
    // q208: the same survivor policy and span union, then the kept
    // tokens re-joined — the cleaned-corpus artifact itself
    "q208_suffix_scrub" ->
      s"""WITH $suffixOccCtes,
          ${clipCoveredCtes("q208")},
          $spanUnionSqlCtes,
          -- COMPACTED coordinates: spans/ha index the token list with
          -- edge-whitespace ghost '' tokens dropped (the char CTE never
          -- hashes them), so the reconstruction must re-number over the
          -- non-empty tokens, not the raw split subscripts
          tok0 AS (SELECT doc_id, tok,
                          CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos) - 1
                               AS BIGINT) AS i
                   FROM toks WHERE tok <> ''),
          kept AS (SELECT t.doc_id, t.tok, t.i FROM tok0 t
                   WHERE NOT EXISTS (SELECT 1 FROM spans sp
                                     WHERE sp.doc_id = t.doc_id
                                       AND t.i >= sp.s AND t.i < sp.e)),
          agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                         string_agg(tok, ' ' ORDER BY i) AS kept_text
                  FROM kept GROUP BY 1),
          base AS (SELECT doc_id, CAST(len(ha) AS BIGINT) AS n_tokens FROM hal)
          SELECT base.doc_id, n_tokens,
                 n_tokens - coalesce(n_kept, 0) AS n_removed,
                 coalesce(kept_text, '') AS kept_text
          FROM base LEFT JOIN agg USING (doc_id) ORDER BY base.doc_id""",
    // q207: the decontamination pass over the same occurrence relation —
    // intervals touching an eval-slice doc mark their TRAIN occurrences,
    // which union into per-doc contaminated spans (q205's shared chain)
    "q207_decontam_clip" -> decontamOracleSql,
    "q97_lm_score" ->
      s"""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
                     FROM documents),
          big AS (SELECT doc_id, toks[CAST(i AS INT)] AS w1, toks[CAST(i AS INT) + 1] AS w2
                  FROM t, unnest(range(1, len(toks))) AS u(i)),
          uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c1
                  FROM (SELECT unnest(toks) AS w FROM t) GROUP BY 1),
          v AS (SELECT CAST(count(*) AS BIGINT) AS vsz FROM uni),
          bi AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM big GROUP BY 1, 2),
          sc AS (SELECT b.doc_id,
                        CAST(count(*) AS BIGINT) AS n_bigrams,
                        round(avg(ln((bi.c2 + 1.0) / (uni.c1 + v.vsz))), 6) AS avg_logprob
                 FROM big b JOIN bi USING (w1, w2)
                 JOIN uni ON uni.w = b.w1 CROSS JOIN v
                 GROUP BY 1)
          SELECT d.doc_id,
                 coalesce(sc.n_bigrams, 0) AS n_bigrams,
                 coalesce(sc.avg_logprob, 0.0) AS avg_logprob,
                 CASE WHEN sc.n_bigrams IS NULL THEN 'empty'
                      WHEN sc.avg_logprob > $LmHeadT THEN 'head'
                      WHEN sc.avg_logprob > $LmTailT THEN 'middle'
                      ELSE 'tail' END AS bucket
          FROM documents d LEFT JOIN sc USING (doc_id)
          ORDER BY d.doc_id""",
    "q20_tokens" ->
      """SELECT doc_id,
                CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
                CAST(len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+')) AS BIGINT)
                  AS n_bpe_tokens,
                CAST(length(text) AS BIGINT) AS n_chars_actual,
                round(CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
                      / CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE), 6) AS avg_word_len
         FROM documents ORDER BY doc_id""",
    // same cross-multiplied integer rules as the Spark side — no
    // division ever happens, so the hashed columns are engine-exact
    "q127_gopher_rules" -> gopherRulesSql,
    "q21_langid" ->
      s"""WITH p AS ($langIdPredSql)
          SELECT doc_id, lang, lang_pred, lang = lang_pred AS is_match
          FROM p ORDER BY doc_id""",
    // the same prediction SQL rolled into the confusion matrix with
    // exact basis-point diagonal metrics
    "q145_lang_confusion" ->
      s"""WITH p AS ($langIdPredSql),
          c AS (SELECT lang, lang_pred, count(*) AS n FROM p GROUP BY 1, 2),
          tt AS (SELECT lang, count(*) AS n_true FROM p GROUP BY 1),
          pt AS (SELECT lang_pred, count(*) AS n_pred FROM p GROUP BY 1)
          SELECT c.lang, c.lang_pred,
                 CAST(c.n AS BIGINT) AS n,
                 CAST(tt.n_true AS BIGINT) AS n_true,
                 CAST(pt.n_pred AS BIGINT) AS n_pred,
                 CASE WHEN c.lang = c.lang_pred
                      THEN CAST((c.n * 10000) // tt.n_true AS BIGINT) END AS recall_bp,
                 CASE WHEN c.lang = c.lang_pred
                      THEN CAST((c.n * 10000) // pt.n_pred AS BIGINT) END AS precision_bp
          FROM c JOIN tt USING (lang) JOIN pt USING (lang_pred)
          ORDER BY lang, lang_pred""",
    "q22_quality" ->
      s"""WITH t AS (SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
          m AS (SELECT doc_id,
                CAST(len(list_filter(toks, x -> list_contains($enList, x))) AS DOUBLE)
                  / CAST(len(toks) AS DOUBLE) AS stop_ratio,
                CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
                  / CAST(length(text) AS DOUBLE) AS punct_ratio,
                CAST(len(toks) AS DOUBLE) AS n_toks
                FROM t)
          SELECT doc_id, round(stop_ratio, 6) AS stop_ratio,
                 round(punct_ratio, 6) AS punct_ratio,
                 round(0.5 * least(1.0, n_toks / 100.0)
                       + 0.3 * stop_ratio + 0.2 * (1.0 - punct_ratio), 6) AS quality
          FROM m ORDER BY doc_id""",
    "q23_fingerprint" ->
      """SELECT doc_id,
                list_reduce(list_transform(string_split(text, ''), x -> CAST(ord(x) AS BIGINT)),
                            (a, b) -> (a * 31 + b) % 1000000007) AS fp
         FROM documents ORDER BY doc_id""",
    // DuckDB lists are 1-based: i ranges over valid gram starts only, so
    // a short doc yields an empty list (range(1, b) is empty for b <= 1)
    "q42_repetition" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
         g AS (SELECT doc_id,
               list_transform(range(1, len(toks) - 1),
                              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS g3,
               list_transform(range(1, len(toks)),
                              i -> toks[i] || ' ' || toks[i+1]) AS g2
               FROM t)
         SELECT doc_id,
                CASE WHEN len(g3) > 0
                     THEN round(1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3), 6)
                     ELSE 0.0 END AS dup_3gram_frac,
                CASE WHEN len(g2) > 0
                     THEN round(CAST(list_max(list_transform(list_distinct(g2),
                            g -> len(list_filter(g2, x -> x = g)))) AS DOUBLE) / len(g2), 6)
                     ELSE 0.0 END AS top_2gram_frac
         FROM g ORDER BY doc_id""",
    "q55_sample_mixture" ->
      s"""WITH d AS (SELECT doc_id, source, lang, n_chars,
                            'mix:v1|' || CAST(doc_id AS VARCHAR) AS tok
                     FROM documents),
          ${graft.functions.PortableStringHash.strHashCtes(
            "d", Seq("doc_id", "source", "lang", "n_chars"), "tok", "mh", "h")}
          SELECT doc_id, source, lang, n_chars, h % 10000 AS bucket_bp
          FROM mh
          WHERE h % 10000 <
                2000 + 1500 * (CAST(regexp_extract(source, '([0-9]+)$$', 1) AS BIGINT) % 4)
          ORDER BY doc_id""",
    "q57_quality_topk" ->
      s"""WITH t AS (SELECT doc_id, source, text,
                            string_split_regex(trim(text), '\\s+') AS toks FROM documents),
          m AS (SELECT doc_id, source,
                ${qualitySql("text")} AS quality
                FROM t),
          r AS (SELECT doc_id, source, quality,
                       CAST(row_number() OVER (PARTITION BY source
                            ORDER BY quality DESC, doc_id) AS INTEGER) AS rank_in_source
                FROM m)
          SELECT doc_id, source, quality, rank_in_source
          FROM r WHERE rank_in_source <= 10 ORDER BY doc_id""",
    "q61_decontaminate" ->
      s"""WITH ${shingleCtes("documents")},
          bench AS (SELECT DISTINCT hsh FROM shh WHERE doc_id % $DecontamBenchMod = 0),
          hits AS (SELECT s.doc_id, count(DISTINCT s.hsh) AS n_hits
                   FROM shh s JOIN bench b USING (hsh)
                   WHERE s.doc_id % $DecontamBenchMod <> 0 GROUP BY 1)
          SELECT d.doc_id, coalesce(h.n_hits, 0) AS n_hits,
                 coalesce(h.n_hits, 0) > 0 AS contaminated
          FROM documents d LEFT JOIN hits h USING (doc_id)
          WHERE d.doc_id % $DecontamBenchMod <> 0 ORDER BY doc_id""",
    // q183: the SHARED q61 shingle CTEs ([[shingleCtes]]) widened with
    // source; the pivot/explode becomes a hash self-join with the same
    // df/ns guards
    "q183_source_contamination" ->
      s"""WITH ${shingleCtes("documents")},
          ds AS (SELECT s.doc_id, d.source, s.hsh
                 FROM shh s JOIN documents d USING (doc_id)),
          piv AS (SELECT hsh FROM ds GROUP BY 1
                  HAVING count(DISTINCT doc_id) <= $ContamDfCap
                     AND count(DISTINCT source) >= 2),
          hits AS (SELECT DISTINCT a.source AS source_a, a.doc_id,
                          b.source AS source_b
                   FROM ds a JOIN piv USING (hsh)
                        JOIN ds b ON b.hsh = a.hsh AND b.source <> a.source),
          hc AS (SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_hit
                 FROM hits GROUP BY 1, 2),
          tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs_a
                  FROM documents GROUP BY 1),
          pairs AS (SELECT a.source AS source_a, b.source AS source_b, a.n_docs_a
                    FROM tot a JOIN tot b ON a.source <> b.source)
          SELECT p.source_a, p.source_b,
                 CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_docs_hit, p.n_docs_a,
                 CAST(coalesce(h.n_hit, 0) * 10000 // p.n_docs_a AS BIGINT) AS hit_bp
          FROM pairs p LEFT JOIN hc h USING (source_a, source_b)
          ORDER BY source_a, source_b""",
    "q64_pii_scrub" ->
      s"""WITH p AS (
           SELECT doc_id,
                  'Contact u' || doc_id || '@mail' || doc_id % 7 ||
                  '.com or ' || doc_id % 250 || '.' || (doc_id * 3) % 250 ||
                  '.' || (doc_id * 7) % 250 || '.' || doc_id % 100 ||
                  ' phone 555-0' || doc_id % 1000 || ' ' || text AS pii_text
           FROM documents)
         SELECT doc_id,
                len(regexp_extract_all(pii_text, '$EmailRe')) AS n_emails,
                len(regexp_extract_all(pii_text, '$IpRe')) AS n_ips,
                len(regexp_extract_all(pii_text, '$PhoneRe')) AS n_phones,
                length(${redactSql("pii_text")}) AS redacted_len
         FROM p ORDER BY doc_id""",
    "q67_curation_pipeline" ->
      s"""WITH red AS (
            SELECT doc_id, source, ${redactSql("text")} AS rtext
            FROM documents),
          keep AS (SELECT min(doc_id) AS doc_id, count(*) AS n_copies
                   FROM red GROUP BY md5(rtext)),
          surv AS (SELECT r.doc_id, r.source, r.rtext, k.n_copies
                   FROM red r JOIN keep k USING (doc_id)),
          sam0 AS (SELECT doc_id, 'cur:v1|' || CAST(doc_id AS VARCHAR) AS tok FROM surv),
          ${graft.functions.PortableStringHash.strHashCtes(
            "sam0", Seq("doc_id"), "tok", "mh", "h")},
          sampled AS (
            SELECT s.doc_id, s.source, s.rtext, s.n_copies
            FROM surv s JOIN mh USING (doc_id)
            WHERE h % 10000 <
                  2000 + 1500 * (CAST(regexp_extract(s.source, '([0-9]+)$$', 1) AS BIGINT) % 4)),
          t AS (SELECT doc_id, source, n_copies, rtext,
                       string_split_regex(trim(rtext), '\\s+') AS toks FROM sampled),
          q AS (SELECT doc_id, source, n_copies,
                ${qualitySql("rtext")} AS quality
                FROM t),
          r AS (SELECT doc_id, source, n_copies, quality,
                       CAST(row_number() OVER (PARTITION BY source
                            ORDER BY quality DESC, doc_id) AS INTEGER) AS rank_in_source
                FROM q)
          SELECT doc_id, source, n_copies, quality, rank_in_source
          FROM r WHERE rank_in_source <= 5 ORDER BY doc_id""",
  )
}
