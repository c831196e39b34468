package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reservoir-module pipeline with a DuckDB oracle: a generated corpus of
  * [[CorpusDecks]] schedule decks runs through the corpus compdat
  * pipeline (one multi-deck frame, one deck walk per deckId), and the
  * oracle replays each rule relationally in SQL from
  * the same closed-form event corpus: forward-filled schedule clock (A8),
  * WELSPECS as-of header fill (J9), K1–K2 unroll (R1), wildcard WELOPEN
  * expansion (J10) and last-wins state collapse (R11/W7) — the reference's
  * applywelopen semantics (compdat.py:791-924) checked row-for-row,
  * hash-for-hash, across 20 decks in one plan.
  */
object Deck {

  private val CorpusDecks = 20

  /** One deck of the generated corpus: explicit clock, a defaulted-I/J
    * producer (exercises the WELSPECS as-of), an explicit connection, a
    * wildcard whole-well SHUT and a connection-specific SHUT.
    */
  private def deckText(d: Int): String =
    s"""DATES
       | 1 'JAN' ${2000 + d} /
       |/
       |WELSPECS
       | 'W$d' 'G' ${d + 1} ${d + 2} /
       |/
       |COMPDAT
       | 'W$d' 2* 1 3 'OPEN' /
       | 'X$d' 5 6 1 1 'OPEN' /
       |/
       |DATES
       | 1 'FEB' ${2000 + d} /
       |/
       |WELOPEN
       | 'W*' 'SHUT' /
       | 'X$d' 'SHUT' 5 6 1 /
       |/
       |""".stripMargin

  def q44CompdatWelopen(s: SparkSession, dir: String): DataFrame = {
    val events = (0 until CorpusDecks).flatMap(d =>
      graft.io.DeckParser.parse(deckText(d), deckId = s"d$d"))
    graft.modules.Compdat.fromEvents(s.createDataFrame(events), keepDeckId = true)
      .select(col("deckId").as("deck_id"), col("WELL").as("well"),
        col("I").as("i"), col("J").as("j"),
        col("K1").as("k1"), col("K2").as("k2"),
        col("OP/SH").as("op_sh"), col("DATE").cast("date").as("date"))
      .orderBy(col("deck_id"), col("date"), col("well"), col("i"), col("j"), col("k1"))
  }

  /** One deck of the gruptree corpus: a GRUPTREE block BEFORE any DATES
    * (exercising the 1900-01-01 default stamp), dated WELSPECS + GRUPNET
    * node data, then a reparenting GRUPTREE — three snapshot dates per
    * deck, with root synthesis (FIELD) and as-of node-data attachment.
    */
  private def gruptreeDeckText(d: Int): String =
    s"""GRUPTREE
       | 'PLAT' 'FIELD' /
       | 'G$d' 'PLAT' /
       |/
       |DATES
       | 1 'JAN' ${2000 + d} /
       |/
       |WELSPECS
       | 'W$d' 'G$d' 1 2 /
       |/
       |GRUPNET
       | 'FIELD' 10.0 /
       | 'PLAT' 20.5 /
       |/
       |DATES
       | 1 'FEB' ${2000 + d} /
       |/
       |GRUPTREE
       | 'G$d' 'FIELD' /
       |/
       |""".stripMargin

  /** R9 under the oracle gate: the corpus-native gruptree snapshot
    * pipeline (edge accumulation, per-change-date full-tree emission,
    * root synthesis, GRUPNET as-of node data — gruptree.py:94-182,
    * 215-287) over a 20-deck corpus in one plan keyed on deckId.
    */
  def q45GruptreeSnapshots(s: SparkSession, dir: String): DataFrame = {
    val events = (0 until CorpusDecks).flatMap(d =>
      graft.io.DeckParser.parse(gruptreeDeckText(d), deckId = s"d$d"))
    graft.modules.Gruptree.fromEvents(s.createDataFrame(events), keepDeckId = true)
      .select(col("deckId").as("deck_id"), col("DATE").cast("date").as("date"),
        col("CHILD").as("child"), col("PARENT").as("parent"),
        col("KEYWORD").as("keyword"),
        col("TERMINAL_PRESSURE").as("terminal_pressure"),
        col("VFP_TABLE").as("vfp_table"), col("ALQ").as("alq"))
      .orderBy(col("deck_id"), col("date"), col("child"), col("keyword"))
  }

  /** One deck of the WELSEGS corpus: explicit clock, a header record with
    * defaulted LENGTH/WELLBORE_VOLUME (`2*`) and per-deck INFO_TYPE
    * (ABS on even decks exercises the SEGMENT_MD derivation), one ranged
    * segment record (2-4, exercising the unroll) and one single-segment
    * record.
    */
  private def welsegsDeckText(d: Int): String = {
    val info = if (d % 2 == 0) "ABS" else "INC"
    s"""DATES
       | 1 'JAN' ${2000 + d} /
       |/
       |WELSEGS
       | 'W$d' ${1000.5 + d} 2* '$info' /
       | 2 4 1 1 ${10.0 + d} 1.5 0.2 /
       | 5 5 2 2 ${20.0 + d} 2.5 0.3 /
       |/
       |""".stripMargin
  }

  /** MSW under the oracle gate: the corpus-native WELSEGS pipeline —
    * record-0 header fan-out (broadcast equi-join on the keyword
    * ordinal), SEGMENT1-SEGMENT2 unroll (R5/R1), header defaults, the
    * ABS-mode SEGMENT_MD derivation and the schedule clock — replayed
    * relationally by DuckDB over the same closed-form corpus.
    */
  def q47WelsegsUnroll(s: SparkSession, dir: String): DataFrame = {
    val events = (0 until CorpusDecks).flatMap(d =>
      graft.io.DeckParser.parse(welsegsDeckText(d), deckId = s"d$d"))
    graft.modules.Msw.welsegs(s.createDataFrame(events),
        unroll = true, keepDeckId = true)
      .select(col("deckId").as("deck_id"), col("WELL").as("well"),
        col("SEGMENT1").as("segment1"), col("SEGMENT2").as("segment2"),
        col("BRANCH").as("branch"), col("JOIN_SEGMENT").as("join_segment"),
        col("SEGMENT_LENGTH").as("segment_length"),
        col("DEPTH_CHANGE").as("depth_change"), col("DIAMETER").as("diameter"),
        col("DEPTH").as("depth"), col("LENGTH").as("length"),
        col("WELLBORE_VOLUME").as("wellbore_volume"),
        col("INFO_TYPE").as("info_type"),
        col("PRESSURE_COMPONENTS").as("pressure_components"),
        col("FLOW_MODEL").as("flow_model"), col("SEGMENT_MD").as("segment_md"),
        col("DATE").cast("date").as("date"))
      .orderBy(col("deck_id"), col("segment1"))
  }

  /** One deck of the wcon corpus: a dated WCONPROD with mid-record `2*`
    * defaults, a TSTEP-advanced clock, then WCONHIST + WCONINJE — three
    * keyword families with different schemas union'd with their opm
    * defaults (U1 allowMissingColumns nulls for absent columns).
    */
  private def wconDeckText(d: Int): String =
    s"""DATES
       | 1 'JAN' ${2000 + d} /
       |/
       |WCONPROD
       | 'P$d' 'OPEN' 'ORAT' ${100.0 + d} 2* ${50.0 + d} /
       |/
       |TSTEP
       | 30 /
       |/
       |WCONHIST
       | 'P$d' 'OPEN' 'ORAT' ${90.0 + d} /
       |/
       |WCONINJE
       | 'I$d' 'WATER' 'OPEN' 'RATE' ${200.0 + d} /
       |/
       |""".stripMargin

  /** Wcon under the oracle gate: per-keyword record schemas with opm
    * defaults (BHP 1.01325 / 6895.0, zero rates), `n*` default runs, the
    * TSTEP-advanced schedule clock (A8) and the allowMissingColumns
    * union (U1) — replayed column-for-column by DuckDB.
    */
  def q48WconCorpus(s: SparkSession, dir: String): DataFrame = {
    val events = (0 until CorpusDecks).flatMap(d =>
      graft.io.DeckParser.parse(wconDeckText(d), deckId = s"d$d"))
    graft.modules.Wcon.fromEvents(s.createDataFrame(events), keepDeckId = true)
      .select(col("deckId").as("deck_id"), col("KEYWORD").as("keyword"),
        col("DATE").cast("date").as("date"), col("WELL").as("well"),
        col("STATUS").as("status"), col("CMODE").as("cmode"),
        col("ORAT").as("orat"), col("WRAT").as("wrat"), col("GRAT").as("grat"),
        col("LRAT").as("lrat"), col("RESV").as("resv"), col("BHP").as("bhp"),
        col("THP").as("thp"), col("VFP_TABLE").as("vfp_table"),
        col("ALQ").as("alq"), col("NGLRAT").as("nglrat"),
        col("TYPE").as("type"), col("RATE").as("rate"))
      .orderBy(col("deck_id"), col("date"), col("keyword"), col("well"))
  }

  private val SatTables = 20

  /** Closed-form SWOF deck: [[SatTables]] SATNUM records of 5 rows on an
    * EXACT binary grid (SW = (j+1)/8, KRW = SW·s/32, PCOW = (s+j)/4 with
    * the middle row defaulted `1*`), plus an SGFN family — every value
    * and every interpolated fill ((s+2)/4, since the SW grid is uniform)
    * is exact in both engines, so the oracle needs no rounding.
    */
  private def satfuncDeckText: String = {
    val swof = (1 to SatTables).map { s =>
      (0 until 5).map { j =>
        val sw = s"${(j + 1) / 8.0}"
        val krw = s"${(j + 1) * s / 256.0}"
        val krow = s"${1.0 - (j + 1) / 8.0}"
        val pcow = if (j == 2) "1*" else s"${(s + j) / 4.0}"
        s" $sw $krw $krow $pcow"
      }.mkString("\n") + " /"
    }.mkString("\n")
    val sgfn = (1 to SatTables).map { s =>
      (0 until 3).map { j =>
        s" ${j / 4.0} ${j * s / 128.0} ${s / 4.0}"
      }.mkString("\n") + " /"
    }.mkString("\n")
    s"SWOF\n$swof\n\nSGFN\n$sgfn\n"
  }

  /** R6/R7/W4 under the oracle gate: flat DATA reshape into fixed-width
    * rows, the SATNUM record counter, and interior `1*` interpolation
    * over the saturation index (satfunc.py:38-157), with the
    * allowMissingColumns family union (U1).
    */
  def q49Satfunc(s: SparkSession, dir: String): DataFrame =
    graft.modules.Satfunc.df(s, satfuncDeckText)
      .select(col("KEYWORD").as("keyword"), col("SATNUM").as("satnum"),
        col("SG").as("sg"), col("KRG").as("krg"), col("PCOG").as("pcog"),
        col("SW").as("sw"), col("KRW").as("krw"), col("KROW").as("krow"),
        col("PCOW").as("pcow"))
      .orderBy(col("keyword"), col("satnum"), coalesce(col("sw"), col("sg")))

  private val VfpTables = 10

  /** Closed-form VFPPROD deck: [[VfpTables]] tables of 4 rates × 3 THP ×
    * 2 WFR, TAB = 10000·n + 1000·t + 100·w + r (exact integers as
    * doubles).
    */
  private def vfpDeckText: String =
    (1 to VfpTables).map { n =>
      val bhp = (for (t <- 1 to 3; w <- 1 to 2) yield
        s" $t $w 1 1 ${(1 to 4).map(r => s"${10000 * n + 1000 * t + 100 * w + r}.0").mkString(" ")} /")
        .mkString("\n")
      s"""VFPPROD
         | $n ${2000.0 + n} 'LIQ' 'WCT' 'GOR' 'THP' '' 'METRIC' 'BHP' /
         | 100.0 200.0 400.0 800.0 /
         | 50.0 150.0 250.0 /
         | 0.25 0.5 /
         | 500.0 /
         | 0.0 /
         |$bhp
         |/
         |""".stripMargin
    }.mkString("\n")

  /** R5 under the oracle gate: the VFP axis stack — per-table axis
    * records exploded through arrays_zip into the long form with the
    * reference's column contract (vfp/_vfpprod.py:278-298), across
    * [[VfpTables]] tables in one plan.
    */
  def q50VfpStack(s: SparkSession, dir: String): DataFrame =
    graft.modules.Vfp.df(s, vfpDeckText)
      .select(col("RATE").as("rate"), col("PRESSURE").as("pressure"),
        col("WFR").as("wfr"), col("GFR").as("gfr"), col("ALQ").as("alq"),
        col("TAB").as("tab"), col("VFP_TYPE").as("vfp_type"),
        col("TABLE_NUMBER").as("table_number"), col("DATUM").as("datum"),
        col("RATE_TYPE").as("rate_type"), col("WFR_TYPE").as("wfr_type"),
        col("GFR_TYPE").as("gfr_type"), col("ALQ_TYPE").as("alq_type"),
        col("PRESSURE_TYPE").as("pressure_type"), col("TAB_TYPE").as("tab_type"),
        col("UNIT_TYPE").as("unit_type"))
      .orderBy(col("table_number"), col("pressure"), col("wfr"), col("rate"))

  /** The q156 VFPINJ fixture: integer axes and BHP corners so the
    * bilinear arithmetic is exact end to end. */
  private val VfpLookupDeck =
    """VFPINJ
      | 5 2000.0 'WAT' 'THP' 'METRIC' 'BHP' /
      | 100 200 400 800 /
      | 10 20 40 /
      | 1 1100 1220 1380 1500 /
      | 2 1210 1330 1490 1610 /
      | 3 1430 1550 1710 1830 /
      |/
      |""".stripMargin

  private val VfpPoints = 20

  /** q156: VFP TABLE LOOKUP — bilinear BHP interpolation at well
    * operating points (rate, THP), the EVALUATION step reference users
    * extract VFP dataframes FOR (the simulator interpolates these
    * tables every timestep; an analyst replays the lookup to validate
    * lift curves or build proxies). The deck parses through the real
    * DeckParser + Vfp stack (q50's path), then each query point
    * brackets both axes with conditional min/max aggregates over the
    * BROADCAST axis frame, joins its ≤4 corner values, and publishes
    * the interpolated BHP as an exact fixed-point integer — degenerate
    * brackets (a point landing exactly ON an axis value: rate 200 at
    * k=4, THP 20 at k=10) collapse that axis's weight to the corner
    * value instead of dividing by zero.
    *
    * Exactness: axes, corners, and query points are integers; the
    * bilinear numerator/denominator are integer cross-products
    * (num < 2^25, ·10⁶ < 2^45) and the published value is
    * `(num·10⁶) div den` — positive truncating division,
    * engine-identical.
    *
    * Scale shape: the production side (operating points) is the big
    * side and flows through ONE broadcast-join pipeline: VFP tables are
    * KB-sized dimension data (axes ≤ dozens of values), so bracketing
    * and corner joins all broadcast; nothing shuffles with point count.
    */
  def q156VfpLookup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tab = graft.modules.Vfp.df(s, VfpLookupDeck)
      .select(col("RATE").cast("long").as("r"), col("PRESSURE").cast("long").as("t"),
        col("TAB").cast("long").as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rates = tab.select(col("r")).distinct()
    val thps = tab.select(col("t")).distinct()
    val pts = (0 until VfpPoints)
      .map(k => (k.toLong, 100L + 25L * k, 10L + (7L * k) % 30L))
      .toDF("k", "q_rate", "p_thp")
    val br = pts.crossJoin(broadcast(rates))
      .groupBy(col("k"), col("q_rate"), col("p_thp"))
      .agg(max(when(col("r") <= col("q_rate"), col("r"))).as("r1"),
        min(when(col("r") >= col("q_rate"), col("r"))).as("r2"))
    val bt = br.crossJoin(broadcast(thps))
      .groupBy(col("k"), col("q_rate"), col("p_thp"), col("r1"), col("r2"))
      .agg(max(when(col("t") <= col("p_thp"), col("t"))).as("t1"),
        min(when(col("t") >= col("p_thp"), col("t"))).as("t2"))
    def corner(rc: String, tc: String, name: String) =
      broadcast(tab.select(col("r").as(rc + "_r"), col("t").as(tc + "_t"),
        col("v").as(name)))
    val g = bt
      .join(corner("r1", "t1", "v11"),
        col("r1") === col("r1_r") && col("t1") === col("t1_t")).drop("r1_r", "t1_t")
      .join(corner("r2", "t1", "v21"),
        col("r2") === col("r2_r") && col("t1") === col("t1_t")).drop("r2_r", "t1_t")
      .join(corner("r1", "t2", "v12"),
        col("r1") === col("r1_r") && col("t2") === col("t2_t")).drop("r1_r", "t2_t")
      .join(corner("r2", "t2", "v22"),
        col("r2") === col("r2_r") && col("t2") === col("t2_t")).drop("r2_r", "t2_t")
    // per-axis exact weights with degenerate-bracket collapse: along
    // rate first at each THP edge, then along THP
    g.withColumn("dr", col("r2") - col("r1"))
      .withColumn("dt", col("t2") - col("t1"))
      .withColumn("n1", when(col("dr") === 0, col("v11"))
        .otherwise((col("r2") - col("q_rate")) * col("v11")
          + (col("q_rate") - col("r1")) * col("v21")))
      .withColumn("n2", when(col("dr") === 0, col("v12"))
        .otherwise((col("r2") - col("q_rate")) * col("v12")
          + (col("q_rate") - col("r1")) * col("v22")))
      .withColumn("num", when(col("dt") === 0, col("n1"))
        .otherwise((col("t2") - col("p_thp")) * col("n1")
          + (col("p_thp") - col("t1")) * col("n2")))
      .withColumn("den",
        when(col("dr") === 0, lit(1L)).otherwise(col("dr"))
          * when(col("dt") === 0, lit(1L)).otherwise(col("dt")))
      .select(col("k"), col("q_rate"), col("p_thp"),
        col("r1"), col("r2"), col("t1"), col("t2"),
        expr("(num * 1000000) div den").as("bhp_fp6"))
      .orderBy(col("k"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q156_vfp_lookup" -> (q156VfpLookup _),
    "q44_compdat_welopen" -> (q44CompdatWelopen _),
    "q45_gruptree_snapshots" -> (q45GruptreeSnapshots _),
    "q47_welsegs_unroll" -> (q47WelsegsUnroll _),
    "q48_wcon_corpus" -> (q48WconCorpus _),
    "q49_satfunc" -> (q49Satfunc _),
    "q50_vfp_stack" -> (q50VfpStack _),
  )

  /** The oracle builds the SAME corpus relationally (UNION ALL of the
    * closed-form records, one ordinal per record) and replays every
    * pipeline operator in SQL. Record-level ordinals vs the engine's
    * keyword-level ordinals are order-isomorphic here (every comparison
    * the pipeline makes crosses a keyword boundary).
    */
  val oracleSql: Map[String, String] = Map(
    // the 12 corners are the deck's literal table; bracketing and the
    // degenerate-collapse bilinear replayed in pure integer arithmetic
    "q156_vfp_lookup" ->
      s"""WITH tab(r, t, v) AS (VALUES
           (100, 10, 1100), (200, 10, 1220), (400, 10, 1380), (800, 10, 1500),
           (100, 20, 1210), (200, 20, 1330), (400, 20, 1490), (800, 20, 1610),
           (100, 40, 1430), (200, 40, 1550), (400, 40, 1710), (800, 40, 1830)),
         pts AS (SELECT k, 100 + 25 * k AS q_rate, 10 + (7 * k) % 30 AS p_thp
                 FROM (SELECT unnest(range($VfpPoints)) AS k)),
         br AS (SELECT p.k, p.q_rate, p.p_thp,
                       max(CASE WHEN r <= q_rate THEN r END) AS r1,
                       min(CASE WHEN r >= q_rate THEN r END) AS r2
                FROM pts p CROSS JOIN (SELECT DISTINCT r FROM tab)
                GROUP BY 1, 2, 3),
         bt AS (SELECT b.k, b.q_rate, b.p_thp, b.r1, b.r2,
                       max(CASE WHEN t <= p_thp THEN t END) AS t1,
                       min(CASE WHEN t >= p_thp THEN t END) AS t2
                FROM br b CROSS JOIN (SELECT DISTINCT t FROM tab)
                GROUP BY 1, 2, 3, 4, 5),
         g AS (SELECT bt.*, c11.v AS v11, c21.v AS v21, c12.v AS v12, c22.v AS v22
               FROM bt JOIN tab c11 ON c11.r = bt.r1 AND c11.t = bt.t1
                       JOIN tab c21 ON c21.r = bt.r2 AND c21.t = bt.t1
                       JOIN tab c12 ON c12.r = bt.r1 AND c12.t = bt.t2
                       JOIN tab c22 ON c22.r = bt.r2 AND c22.t = bt.t2),
         w AS (SELECT *, r2 - r1 AS dr, t2 - t1 AS dt,
                      CASE WHEN r2 = r1 THEN v11
                           ELSE (r2 - q_rate) * v11 + (q_rate - r1) * v21 END AS n1,
                      CASE WHEN r2 = r1 THEN v12
                           ELSE (r2 - q_rate) * v12 + (q_rate - r1) * v22 END AS n2
               FROM g)
         SELECT k, CAST(q_rate AS BIGINT) AS q_rate, CAST(p_thp AS BIGINT) AS p_thp,
                CAST(r1 AS BIGINT) AS r1, CAST(r2 AS BIGINT) AS r2,
                CAST(t1 AS BIGINT) AS t1, CAST(t2 AS BIGINT) AS t2,
                CAST((CASE WHEN dt = 0 THEN n1
                           ELSE (t2 - p_thp) * n1 + (p_thp - t1) * n2 END) * 1000000
                     // ((CASE WHEN dr = 0 THEN 1 ELSE dr END)
                        * (CASE WHEN dt = 0 THEN 1 ELSE dt END)) AS BIGINT) AS bhp_fp6
         FROM w ORDER BY k""",
    "q44_compdat_welopen" ->
      s"""WITH decks AS (SELECT CAST(unnest(range($CorpusDecks)) AS BIGINT) AS d),
        |ev AS (
        |  SELECT d, 1 AS kw, 'DATES' AS keyword, CAST(NULL AS VARCHAR) AS well,
        |         CAST(NULL AS INT) AS i, CAST(NULL AS INT) AS j,
        |         CAST(NULL AS INT) AS k1, CAST(NULL AS INT) AS k2,
        |         CAST(NULL AS VARCHAR) AS status,
        |         make_date(CAST(2000 + d AS INT), 1, 1) AS edate FROM decks
        |  UNION ALL SELECT d, 2, 'WELSPECS', 'W' || d, CAST(d + 1 AS INT),
        |         CAST(d + 2 AS INT), NULL, NULL, NULL, NULL FROM decks
        |  UNION ALL SELECT d, 3, 'COMPDAT', 'W' || d, NULL, NULL, 1, 3, 'OPEN', NULL FROM decks
        |  UNION ALL SELECT d, 4, 'COMPDAT', 'X' || d, 5, 6, 1, 1, 'OPEN', NULL FROM decks
        |  UNION ALL SELECT d, 5, 'DATES', NULL, NULL, NULL, NULL, NULL, NULL,
        |         make_date(CAST(2000 + d AS INT), 2, 1) FROM decks
        |  UNION ALL SELECT d, 6, 'WELOPEN', 'W*', NULL, NULL, NULL, NULL, 'SHUT', NULL FROM decks
        |  UNION ALL SELECT d, 7, 'WELOPEN', 'X' || d, 5, 6, 1, NULL, 'SHUT', NULL FROM decks),
        |dated AS (  -- A8: per-deck forward-filled schedule clock
        |  SELECT *, last_value(edate IGNORE NULLS) OVER
        |           (PARTITION BY d ORDER BY kw ROWS UNBOUNDED PRECEDING) AS date
        |  FROM ev),
        |compdat0 AS (SELECT d, kw, well, i, j, k1, k2, status, date
        |             FROM dated WHERE keyword = 'COMPDAT'),
        |heads AS (SELECT d, kw AS hkw, well, i AS hi, j AS hj
        |          FROM dated WHERE keyword = 'WELSPECS'),
        |headed AS (  -- J9: as-of (<=) WELSPECS header fill for defaulted I/J
        |  SELECT c.*, h.hi, h.hj,
        |         row_number() OVER (PARTITION BY c.d, c.kw, c.well
        |                            ORDER BY h.hkw DESC) AS rn
        |  FROM compdat0 c LEFT JOIN heads h
        |    ON h.d = c.d AND h.well = c.well AND h.hkw <= c.kw),
        |filled AS (SELECT d, kw, well, coalesce(i, hi) AS i, coalesce(j, hj) AS j,
        |                  k1, k2, status, date
        |           FROM headed WHERE rn = 1),
        |unrolled AS (  -- R1: K1-K2 layer unroll
        |  SELECT d, kw, well, i, j,
        |         CAST(unnest(generate_series(k1, k2)) AS INT) AS k, status, date
        |  FROM filled),
        |wo AS (SELECT d, kw, well, i, j, k1 AS k, status, date
        |       FROM dated WHERE keyword = 'WELOPEN'),
        |firstdef AS (SELECT d, well, min(kw) AS fkw FROM compdat0 GROUP BY 1, 2),
        |wo_wells AS (  -- J10: */? well templates expand against earlier wells
        |  SELECT w.d, w.kw, f.well, w.i, w.j, w.k, w.status, w.date
        |  FROM wo w JOIN firstdef f ON f.d = w.d
        |    AND f.well LIKE replace(replace(w.well, '*', '%'), '?', '_')
        |    AND (CASE WHEN w.well LIKE '%*%' OR w.well LIKE '%?%'
        |              THEN f.fkw < w.kw ELSE TRUE END)),
        |newrows AS (  -- R11: copy latest prior connection state, override status
        |  SELECT u.d, w.kw, u.well, u.i, u.j, u.k,
        |         CASE WHEN w.status = 'POPN' THEN 'OPEN'
        |              WHEN w.status = 'STOP' THEN
        |                CASE WHEN w.i IS NULL AND w.j IS NULL AND w.k IS NULL
        |                     THEN 'OPEN' ELSE 'SHUT' END
        |              ELSE w.status END AS status,
        |         w.date,
        |         row_number() OVER (PARTITION BY u.d, w.kw, u.i, u.j, u.k, u.well
        |                            ORDER BY u.kw DESC) AS rn
        |  FROM wo_wells w JOIN unrolled u
        |    ON u.d = w.d AND u.well = w.well AND u.kw < w.kw
        |    AND ((w.i IS NULL AND w.j IS NULL AND w.k IS NULL)
        |         OR (u.i = w.i AND u.j = w.j AND u.k = w.k))),
        |allrows AS (
        |  SELECT d, kw, well, i, j, k, status, date FROM unrolled
        |  UNION ALL
        |  SELECT d, kw, well, i, j, k, status, date FROM newrows WHERE rn = 1),
        |final AS (  -- W7: last state wins per (deck, connection, date)
        |  SELECT *, row_number() OVER (PARTITION BY d, well, i, j, k, date
        |                               ORDER BY kw DESC) AS lrn
        |  FROM allrows)
        |SELECT 'd' || d AS deck_id, well, i, j, k AS k1, k AS k2,
        |       status AS op_sh, date
        |FROM final WHERE lrn = 1
        |ORDER BY deck_id, date, well, i, j, k1""".stripMargin,

    /* The gruptree oracle replays snapshot semantics relationally:
     * forward-filled clock with the 1900-01-01 default, snapshot dates =
     * every date a family keyword changed, last edge per (deck, snapshot,
     * child), WELSPECS rows bare, orphan WELSPECS parents under FIELD,
     * roots = parents that are nobody's child, GRUPNET node data as-of
     * the snapshot. */
    "q45_gruptree_snapshots" ->
      s"""WITH decks AS (SELECT CAST(unnest(range($CorpusDecks)) AS BIGINT) AS d),
        |ev AS (
        |  SELECT d, 1 AS kw, 'GRUPTREE' AS keyword, 'PLAT' AS child,
        |         'FIELD' AS parent, CAST(NULL AS DOUBLE) AS tp,
        |         CAST(NULL AS DATE) AS edate FROM decks
        |  UNION ALL SELECT d, 2, 'GRUPTREE', 'G' || d, 'PLAT', NULL, NULL FROM decks
        |  UNION ALL SELECT d, 3, 'DATES', NULL, NULL, NULL,
        |         make_date(CAST(2000 + d AS INT), 1, 1) FROM decks
        |  UNION ALL SELECT d, 4, 'WELSPECS', 'W' || d, 'G' || d, NULL, NULL FROM decks
        |  UNION ALL SELECT d, 5, 'GRUPNET', 'FIELD', NULL, 10.0, NULL FROM decks
        |  UNION ALL SELECT d, 6, 'GRUPNET', 'PLAT', NULL, 20.5, NULL FROM decks
        |  UNION ALL SELECT d, 7, 'DATES', NULL, NULL, NULL,
        |         make_date(CAST(2000 + d AS INT), 2, 1) FROM decks
        |  UNION ALL SELECT d, 8, 'GRUPTREE', 'G' || d, 'FIELD', NULL, NULL FROM decks),
        |dated AS (  -- A8 clock with the reference's 1900-01-01 default
        |  SELECT *, coalesce(last_value(edate IGNORE NULLS) OVER
        |      (PARTITION BY d ORDER BY kw ROWS UNBOUNDED PRECEDING),
        |    DATE '1900-01-01') AS date
        |  FROM ev),
        |snaps AS (SELECT DISTINCT d, date AS sdate FROM dated
        |          WHERE keyword IN ('GRUPTREE', 'GRUPNET', 'WELSPECS')),
        |se AS MATERIALIZED (  -- last tree edge per (deck, snapshot, child)
        |  SELECT d, sdate, child, parent, keyword FROM (
        |    SELECT e.d, s.sdate, e.child, e.parent, e.keyword,
        |           row_number() OVER (PARTITION BY e.d, s.sdate, e.child
        |                              ORDER BY e.kw DESC) AS rn
        |    FROM dated e JOIN snaps s ON s.d = e.d AND e.date <= s.sdate
        |    WHERE e.keyword = 'GRUPTREE') WHERE rn = 1),
        |ws AS MATERIALIZED (  -- WELSPECS edges visible at the snapshot
        |  SELECT d, sdate, child, parent, keyword FROM (
        |    SELECT e.d, s.sdate, e.child, e.parent, e.keyword,
        |           row_number() OVER (PARTITION BY e.d, s.sdate, e.child
        |                              ORDER BY e.kw DESC) AS rn
        |    FROM dated e JOIN snaps s ON s.d = e.d AND e.date <= s.sdate
        |    WHERE e.keyword = 'WELSPECS') WHERE rn = 1),
        |orphans AS (  -- WELSPECS parents outside the tree hang off FIELD
        |  SELECT DISTINCT w.d, w.sdate, w.parent AS child, 'FIELD' AS parent,
        |         'GRUPTREE' AS keyword
        |  FROM ws w WHERE NOT EXISTS (SELECT 1 FROM se
        |    WHERE se.d = w.d AND se.sdate = w.sdate AND se.child = w.parent)),
        |fam AS MATERIALIZED (SELECT * FROM se UNION ALL SELECT * FROM orphans),
        |roots AS (  -- parents that are nobody's child, bare PARENT
        |  SELECT DISTINCT f.d, f.sdate, f.parent AS child,
        |         CAST(NULL AS VARCHAR) AS parent, 'GRUPTREE' AS keyword
        |  FROM fam f WHERE f.parent IS NOT NULL AND NOT EXISTS (
        |    SELECT 1 FROM fam c WHERE c.d = f.d AND c.sdate = f.sdate
        |      AND c.child = f.parent)),
        |nl AS (  -- GRUPNET node data as-of the snapshot
        |  SELECT d, sdate, child, tp FROM (
        |    SELECT e.d, s.sdate, e.child, e.tp,
        |           row_number() OVER (PARTITION BY e.d, s.sdate, e.child
        |                              ORDER BY e.kw DESC) AS rn
        |    FROM dated e JOIN snaps s ON s.d = e.d AND e.date <= s.sdate
        |    WHERE e.keyword = 'GRUPNET') WHERE rn = 1),
        |famr AS (SELECT * FROM fam UNION ALL SELECT * FROM roots),
        |withn AS (
        |  SELECT f.d, f.sdate, f.child, f.parent, f.keyword, n.tp
        |  FROM famr f LEFT JOIN nl n
        |    ON n.d = f.d AND n.sdate = f.sdate AND n.child = f.child
        |  UNION ALL
        |  SELECT d, sdate, child, parent, keyword, CAST(NULL AS DOUBLE) FROM ws)
        |SELECT 'd' || d AS deck_id, sdate AS date, child, parent, keyword,
        |       tp AS terminal_pressure, CAST(NULL AS INT) AS vfp_table,
        |       CAST(NULL AS DOUBLE) AS alq
        |FROM withn
        |ORDER BY deck_id, date, child, keyword""".stripMargin,

    /* The WELSEGS oracle: closed-form segment records unrolled with
     * generate_series, header defaults (LENGTH 0.0, WELLBORE_VOLUME 1e-5,
     * PRESSURE_COMPONENTS 'HFA', FLOW_MODEL 'HO') applied per the
     * keyword spec, SEGMENT_MD = segment length only in ABS mode. */
    "q47_welsegs_unroll" ->
      s"""WITH decks AS (SELECT CAST(unnest(range($CorpusDecks)) AS BIGINT) AS d),
        |segs AS (
        |  SELECT d, 2 AS s1, 4 AS s2, 1 AS branch, 1 AS join_segment,
        |         CAST(10.0 + d AS DOUBLE) AS seg_len,
        |         CAST(1.5 AS DOUBLE) AS depth_change,
        |         CAST(0.2 AS DOUBLE) AS diameter FROM decks
        |  UNION ALL SELECT d, 5, 5, 2, 2, 20.0 + d, 2.5, 0.3 FROM decks),
        |unrolled AS (
        |  SELECT *, CAST(unnest(generate_series(s1, s2)) AS INT) AS seg
        |  FROM segs)
        |SELECT 'd' || d AS deck_id, 'W' || d AS well,
        |       seg AS segment1, seg AS segment2, branch, join_segment,
        |       seg_len AS segment_length, depth_change, diameter,
        |       CAST(1000.5 + d AS DOUBLE) AS depth,
        |       CAST(0.0 AS DOUBLE) AS length,
        |       CAST(0.00001 AS DOUBLE) AS wellbore_volume,
        |       CASE WHEN d % 2 = 0 THEN 'ABS' ELSE 'INC' END AS info_type,
        |       'HFA' AS pressure_components, 'HO' AS flow_model,
        |       CASE WHEN d % 2 = 0 THEN seg_len END AS segment_md,
        |       make_date(CAST(2000 + d AS INT), 1, 1) AS date
        |FROM unrolled
        |ORDER BY deck_id, segment1""".stripMargin,

    /* The wcon oracle: one closed-form row per (deck, keyword family)
     * with the opm schema defaults and the union's null pattern for
     * columns a family's schema lacks; WCONHIST/WCONINJE carry the
     * TSTEP-advanced date (Jan 1 + 30 days). */
    "q48_wcon_corpus" ->
      s"""WITH decks AS (SELECT CAST(unnest(range($CorpusDecks)) AS BIGINT) AS d),
        |rows_ AS (
        |  SELECT d, 'WCONPROD' AS keyword,
        |         make_date(CAST(2000 + d AS INT), 1, 1) AS date,
        |         'P' || d AS well, 'OPEN' AS status, 'ORAT' AS cmode,
        |         CAST(100.0 + d AS DOUBLE) AS orat, CAST(0.0 AS DOUBLE) AS wrat,
        |         CAST(0.0 AS DOUBLE) AS grat, CAST(50.0 + d AS DOUBLE) AS lrat,
        |         CAST(0.0 AS DOUBLE) AS resv, CAST(1.01325 AS DOUBLE) AS bhp,
        |         CAST(0.0 AS DOUBLE) AS thp, CAST(0 AS INT) AS vfp_table,
        |         CAST(0.0 AS DOUBLE) AS alq, CAST(NULL AS DOUBLE) AS nglrat,
        |         CAST(NULL AS VARCHAR) AS type, CAST(NULL AS DOUBLE) AS rate
        |  FROM decks
        |  UNION ALL
        |  SELECT d, 'WCONHIST',
        |         make_date(CAST(2000 + d AS INT), 1, 1) + INTERVAL 30 DAY,
        |         'P' || d, 'OPEN', 'ORAT',
        |         90.0 + d, 0.0, 0.0, NULL, NULL, 0.0, 0.0, 0, 0.0, 0.0,
        |         NULL, NULL
        |  FROM decks
        |  UNION ALL
        |  SELECT d, 'WCONINJE',
        |         make_date(CAST(2000 + d AS INT), 1, 1) + INTERVAL 30 DAY,
        |         'I' || d, 'OPEN', 'RATE',
        |         NULL, NULL, NULL, NULL, NULL, 6895.0, NULL, 0, NULL, NULL,
        |         'WATER', 200.0 + d
        |  FROM decks)
        |SELECT 'd' || d AS deck_id, keyword, CAST(date AS DATE) AS date, well,
        |       status, cmode, orat, wrat, grat, lrat, resv, bhp, thp,
        |       vfp_table, alq, nglrat, type, rate
        |FROM rows_
        |ORDER BY deck_id, date, keyword, well""".stripMargin,

    /* Satfunc oracle: the same exact-binary-grid tables in closed form,
     * with the middle row's interpolated PCOW = (s+2)/4 (uniform SW grid
     * ⇒ t = 0.5 exactly) and the family union's null pattern. */
    "q49_satfunc" ->
      s"""WITH s AS (SELECT CAST(unnest(range(1, ${SatTables + 1})) AS INT) AS satnum),
        |j5 AS (SELECT CAST(unnest(range(5)) AS BIGINT) AS j),
        |j3 AS (SELECT CAST(unnest(range(3)) AS BIGINT) AS j),
        |swof AS (
        |  SELECT 'SWOF' AS keyword, satnum,
        |         CAST(NULL AS DOUBLE) AS sg, CAST(NULL AS DOUBLE) AS krg,
        |         CAST(NULL AS DOUBLE) AS pcog,
        |         (j + 1) / 8.0 AS sw, (j + 1) * satnum / 256.0 AS krw,
        |         1.0 - (j + 1) / 8.0 AS krow,
        |         CASE WHEN j = 2 THEN (satnum + 2) / 4.0
        |              ELSE (satnum + j) / 4.0 END AS pcow
        |  FROM s, j5),
        |sgfn AS (
        |  SELECT 'SGFN' AS keyword, satnum,
        |         j / 4.0 AS sg, j * satnum / 128.0 AS krg, satnum / 4.0 AS pcog,
        |         CAST(NULL AS DOUBLE) AS sw, CAST(NULL AS DOUBLE) AS krw,
        |         CAST(NULL AS DOUBLE) AS krow, CAST(NULL AS DOUBLE) AS pcow
        |  FROM s, j3)
        |SELECT * FROM (SELECT * FROM swof UNION ALL SELECT * FROM sgfn)
        |ORDER BY keyword, satnum, coalesce(sw, sg)""".stripMargin,

    /* VFP oracle: the axis cross-product in closed form with the exact
     * integer-valued TAB formula and the reference column contract. */
    "q50_vfp_stack" ->
      s"""WITH n AS (SELECT CAST(unnest(range(1, ${VfpTables + 1})) AS INT) AS tn),
        |r(ri, rate) AS (VALUES (1, 100.0), (2, 200.0), (3, 400.0), (4, 800.0)),
        |t(ti, pressure) AS (VALUES (1, 50.0), (2, 150.0), (3, 250.0)),
        |w(wi, wfr) AS (VALUES (1, 0.25), (2, 0.5))
        |SELECT CAST(rate AS DOUBLE) AS rate, CAST(pressure AS DOUBLE) AS pressure,
        |       CAST(wfr AS DOUBLE) AS wfr, CAST(500.0 AS DOUBLE) AS gfr,
        |       CAST(0.0 AS DOUBLE) AS alq,
        |       CAST(10000 * tn + 1000 * ti + 100 * wi + ri AS DOUBLE) AS tab,
        |       'VFPPROD' AS vfp_type, tn AS table_number,
        |       CAST(2000.0 + tn AS DOUBLE) AS datum,
        |       'LIQ' AS rate_type, 'WCT' AS wfr_type, 'GOR' AS gfr_type,
        |       '''''' AS alq_type, 'THP' AS pressure_type, 'BHP' AS tab_type,
        |       'METRIC' AS unit_type
        |FROM n, t, w, r
        |ORDER BY table_number, pressure, wfr, rate""".stripMargin,
  )
}
