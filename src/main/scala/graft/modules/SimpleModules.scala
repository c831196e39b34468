package graft.modules

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.{DeckParser, Records => R}

/** FAULTS: one row per (fault, cell) — the 3-D range unroll (R2,
  * faults.py:43-58): triple explode(sequence) over the I/J/K ranges.
  */
object Faults {
  def df(spark: SparkSession, deckText: String): DataFrame = {
    val events = DeckParser.toDS(spark, deckText).toDF()
    events.filter(col("keyword") === "FAULTS" && size(col("items")) > 0)
      .select(R.str(0).as("NAME"),
        R.int(1).as("IX1"), R.int(2).as("IX2"),
        R.int(3).as("IY1"), R.int(4).as("IY2"),
        R.int(5).as("IZ1"), R.int(6).as("IZ2"),
        R.str(7).as("FACE"))
      .withColumn("I", explode(sequence(col("IX1"), col("IX2"))))
      .withColumn("J", explode(sequence(col("IY1"), col("IY2"))))
      .withColumn("K", explode(sequence(col("IZ1"), col("IZ2"))))
      .select(col("NAME"), col("I"), col("J"), col("K"), col("FACE"))
      .orderBy(col("NAME"), col("I"), col("J"), col("K"))
  }
}

/** EQUIL + the depth-profile sub-keywords (equil.py:30-128): EQUIL is one
  * row per EQLNUM (R7 record counter); RSVD/RVVD/PBVD/PDVD are per-EQLNUM
  * (depth, value) DATA tables (R6 reshape), unioned with per-keyword
  * column sets (U1).
  */
object Equil {
  private val SubKeywords = Map(
    "RSVD" -> "RS", "RVVD" -> "RV", "PBVD" -> "PB", "PDVD" -> "PD")

  /** EQUIL record positions are fixed; the CONTACT COLUMN NAMES depend on
    * the deck's phase configuration (reference equil.py phases handling,
    * tests test_equil.py::test_decks): oil-water → OWC, gas-water → GWC
    * (same slot), gas-oil → that slot is ignored; the GOC slot only
    * exists when both oil and gas are present.
    */
  def equil(events: DataFrame, phases: Set[String] = Set("OIL", "WATER", "GAS")): DataFrame = {
    val (oil, water, gas) =
      (phases contains "OIL", phases contains "WATER", phases contains "GAS")
    val base = events.filter(col("keyword") === "EQUIL" && size(col("items")) > 0)
    val contact1 =
      if (oil && water) Some("OWC") else if (gas && water) Some("GWC") else None
    val contact2 = if (oil && gas) Some("GOC") else None
    val cols = Seq((col("recordIdx") + 1).as("EQLNUM"), lit("EQUIL").as("KEYWORD"),
      R.dbl(0).as("Z"), R.dbl(1).as("PRESSURE")) ++
      contact1.toSeq.flatMap(n => Seq(R.dbl(2, 0.0).as(n), R.dbl(3, 0.0).as(s"PC$n"))) ++
      contact2.toSeq.flatMap(n => Seq(R.dbl(4, 0.0).as(n), R.dbl(5, 0.0).as(s"PC$n"))) ++
      Seq(R.int(6).as("INITRS"), R.int(7).as("INITRV"), R.int(8).as("ACCURACY"))
    base.select(cols: _*)
  }

  def subKeyword(events: DataFrame, kw: String): DataFrame =
    events.filter(col("keyword") === kw && size(col("items")) > 0)
      .select((col("recordIdx") + 1).as("EQLNUM"), lit(kw).as("KEYWORD"),
        explode(R.dataChunks(Seq("Z", SubKeywords(kw)))).as("row"))
      .select(col("EQLNUM"), col("KEYWORD"), col("row.Z").as("Z"),
        col(s"row.${SubKeywords(kw)}").as(SubKeywords(kw)))

  /** Phase keywords present in the deck; an undeclared deck (no phase
    * keywords at all) is treated as three-phase.
    */
  def phasesFromEvents(events: DataFrame): Set[String] = {
    val ph = events.filter(col("keyword").isin("OIL", "WATER", "GAS"))
      .select("keyword").distinct().collect().map(_.getString(0)).toSet
    if (ph.isEmpty) Set("OIL", "WATER", "GAS") else ph
  }

  def df(spark: SparkSession, deckText: String): DataFrame = {
    val events = DeckParser.toDS(spark, deckText).toDF()
    val parts = (equil(events, phasesFromEvents(events)) +:
      SubKeywords.keys.toSeq.sorted.map(subKeyword(events, _)))
      .filter(d => !d.isEmpty)
    parts.reduceOption((a, b) => a.unionByName(b, allowMissingColumns = true))
      .getOrElse(spark.emptyDataFrame)
      .orderBy(col("EQLNUM"), col("KEYWORD"))
  }
}

/** PVT keywords → tidy rows (pvt.py:31-73, 239-242). DENSITY/ROCK/PVTW are
  * one row per PVTNUM (record counter); PVDO/PVDG are DATA reshapes per
  * PVTNUM; PVTO (nested undersaturated lines) uses the empty-record counter
  * (R7 emptyrecordcountername): records accumulate into the current PVTNUM
  * until a record with zero items closes the region's table.
  */
object Pvt {
  private def recordCounted(events: DataFrame, kw: String): DataFrame =
    events.filter(col("keyword") === kw && size(col("items")) > 0)
      .withColumn("PVTNUM", col("recordIdx") + 1)

  def density(events: DataFrame): DataFrame =
    recordCounted(events, "DENSITY")
      .select(lit("DENSITY").as("KEYWORD"), col("PVTNUM"),
        R.dbl(0).as("OILDENSITY"), R.dbl(1).as("WATERDENSITY"), R.dbl(2).as("GASDENSITY"))

  def rock(events: DataFrame): DataFrame =
    recordCounted(events, "ROCK")
      .select(lit("ROCK").as("KEYWORD"), col("PVTNUM"),
        R.dbl(0).as("PRESSURE"), R.dbl(1).as("COMPRESSIBILITY"))

  def pvtw(events: DataFrame): DataFrame =
    recordCounted(events, "PVTW")
      .select(lit("PVTW").as("KEYWORD"), col("PVTNUM"),
        R.dbl(0).as("PRESSURE"), R.dbl(1).as("VOLUMEFACTOR"),
        R.dbl(2, 0.0).as("COMPRESSIBILITY"), R.dbl(3, 0.0).as("VISCOSITY"),
        R.dbl(4, 0.0).as("VISCOSIBILITY"))

  /** PVDO/PVDG reshape; `ntpvt` is the explicit table-count override
    * (inferdims.py:18-84 API parity, TABDIMS item 1): with it, records
    * split into tables wherever PRESSURE decreases (strictly increasing
    * within a dead-oil/dry-gas table) and the count must equal `ntpvt`.
    */
  private def dataKeyword(events: DataFrame, kw: String,
      ntpvt: Option[Int]): DataFrame = {
    val cols = Seq("PRESSURE", "VOLUMEFACTOR", "VISCOSITY")
    val base = events.filter(col("keyword") === kw && size(col("items")) > 0)
      .select(col("keywordIdx"), col("recordIdx"),
        explode(R.dataChunks(cols)).as("row"))
      .select(Seq(col("keywordIdx"), col("recordIdx"),
        col("row.row_idx").as("rowIdx")) ++
        cols.map(c => col(s"row.$c").as(c)): _*)
    val numbered = ntpvt match {
      case None => base.withColumn("PVTNUM", (col("recordIdx") + 1).cast("int"))
      case Some(n) =>
        graft.core.Ops.monotonicTableSplit(base, "PRESSURE", "PVTNUM", n, kw)
    }
    numbered.select(Seq(lit(kw).as("KEYWORD"), col("PVTNUM")) ++ cols.map(col): _*)
  }

  /** Nested undersaturated-line keyword (PVTO/PVTG): records until an
    * empty record belong to one PVTNUM (R7 emptyrecordcountername); each
    * record is `headCol` followed by value triplets that share it.
    */
  private def nestedKeyword(events: DataFrame, kw: String, headCol: String,
      triple: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("keywordIdx")).orderBy(col("recordIdx"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events.filter(col("keyword") === kw)
      .withColumn("PVTNUM",
        (sum(when(size(col("items")) === 0, 1).otherwise(0)).over(w) -
          when(size(col("items")) === 0, 1).otherwise(0) + 1).cast("int"))
      .filter(size(col("items")) > 0)
      .select(lit(kw).as("KEYWORD"), col("PVTNUM"), R.dbl(0).as(headCol),
        explode(transform(
          sequence(lit(0), ((size(col("items")) - 1) / 3).cast("int") - 1),
          r => struct(
            get(col("items"), r * 3 + 1).cast("double").as(triple(0)),
            get(col("items"), r * 3 + 2).cast("double").as(triple(1)),
            get(col("items"), r * 3 + 3).cast("double").as(triple(2))))).as("row"))
      .select(Seq(col("KEYWORD"), col("PVTNUM"), col(headCol)) ++
        triple.map(t => col(s"row.$t").as(t)): _*)
  }

  /** PVTO: live oil — RS head, (PRESSURE, VOLUMEFACTOR, VISCOSITY) lines
    * (pvt.py:49, 126-140). Bubble-point pressure is named PRESSURE for
    * mergeability, like the reference.
    */
  def pvto(events: DataFrame): DataFrame =
    nestedKeyword(events, "PVTO", "RS", Seq("PRESSURE", "VOLUMEFACTOR", "VISCOSITY"))

  /** PVTG: wet gas — gas PRESSURE head, (OGR, VOLUMEFACTOR, VISCOSITY)
    * undersaturated lines (pvt.py:57-60, 176-194).
    */
  def pvtg(events: DataFrame): DataFrame =
    nestedKeyword(events, "PVTG", "PRESSURE", Seq("OGR", "VOLUMEFACTOR", "VISCOSITY"))

  def df(spark: SparkSession, deckText: String,
      ntpvt: Option[Int] = None): DataFrame = {
    val events = DeckParser.toDS(spark, deckText).toDF()
    val parts = Seq(density(events), rock(events), pvtw(events),
      dataKeyword(events, "PVDO", ntpvt), dataKeyword(events, "PVDG", ntpvt),
      pvto(events), pvtg(events))
      .filter(d => !d.isEmpty)
    parts.reduceOption((a, b) => a.unionByName(b, allowMissingColumns = true))
      .getOrElse(spark.emptyDataFrame)
  }
}

/** WCON* production/injection control records + in-effect DATE
  * (wcon.py:22-64): per-keyword typed frames unioned (U1).
  */
object Wcon {
  def df(spark: SparkSession, deckText: String): DataFrame =
    fromEvents(DeckParser.toDS(spark, deckText).toDF())

  /** FLEET entry: control records for a glob/directory of deck files in
    * one plan, each deck's schedule clock independent.
    */
  def corpusFromPath(spark: SparkSession, paths: String*): DataFrame =
    fromEvents(spark.read.format("eclipse-deck").load(paths: _*), keepDeckId = true)

  /** `keepDeckId = true` is corpus mode: dates join per deck and the
    * output carries `deckId` (wcon has no cross-record state beyond the
    * clock, so this is the whole of its per-deck semantics).
    */
  def fromEvents(events: DataFrame, keepDeckId: Boolean = false): DataFrame = {
    if (!keepDeckId) Schedule.requireSingleDeck(events, "wcon")
    val dk = Schedule.deckKeys(events)
    val dates = Schedule.keywordDates(events, keepDeckId = dk.nonEmpty)
    val head = (if (keepDeckId) dk.map(col) else Nil)
    // ONE clock join feeds all four keyword families, and the joined hub
    // is eagerly checkpointed (the gruptree hub pattern): the four union
    // branches below are narrow filters over the materialized blocks, so
    // the schedule-clock window + join run ONCE — four pre-join filters
    // each re-ran them (1000-deck ScaleStress wcon row 3.8× → 1.8×).
    // The hub is record-count-sized (only WCON* rows survive the filter).
    val joined = events.filter(
        col("keyword").isin("WCONPROD", "WCONHIST", "WCONINJE", "WCONINJH") &&
          size(col("items")) > 0)
      .join(dates, dk :+ "keywordIdx", "left")
      .localCheckpoint(true)
    def base(kw: String) = joined.filter(col("keyword") === kw)
    // item positions and defaults follow the keyword schemas the reference
    // ships (opmkeywords/WCON*): unspecified numeric items default to the
    // schema default, not null, exactly like opm's deck view
    val prod = base("WCONPROD").select(head ++ Seq(lit("WCONPROD").as("KEYWORD"), col("DATE"),
      R.str(0).as("WELL"), R.str(1, "OPEN").as("STATUS"), R.str(2).as("CMODE"),
      R.dbl(3, 0.0).as("ORAT"), R.dbl(4, 0.0).as("WRAT"), R.dbl(5, 0.0).as("GRAT"),
      R.dbl(6, 0.0).as("LRAT"), R.dbl(7, 0.0).as("RESV"), R.dbl(8, 1.01325).as("BHP"),
      R.dbl(9, 0.0).as("THP"), R.int(10, 0).as("VFP_TABLE"), R.dbl(11, 0.0).as("ALQ")): _*)
    val hist = base("WCONHIST").select(head ++ Seq(lit("WCONHIST").as("KEYWORD"), col("DATE"),
      R.str(0).as("WELL"), R.str(1, "OPEN").as("STATUS"), R.str(2).as("CMODE"),
      R.dbl(3, 0.0).as("ORAT"), R.dbl(4, 0.0).as("WRAT"), R.dbl(5, 0.0).as("GRAT"),
      R.int(6, 0).as("VFP_TABLE"), R.dbl(7, 0.0).as("ALQ"), R.dbl(8, 0.0).as("THP"),
      R.dbl(9, 0.0).as("BHP"), R.dbl(10, 0.0).as("NGLRAT")): _*)
    val inje = base("WCONINJE").select(head ++ Seq(lit("WCONINJE").as("KEYWORD"), col("DATE"),
      R.str(0).as("WELL"), R.str(1).as("TYPE"), R.str(2, "OPEN").as("STATUS"),
      R.str(3).as("CMODE"), R.dbl(4).as("RATE"), R.dbl(5).as("RESV"),
      R.dbl(6, 6895.0).as("BHP"), R.dbl(7).as("THP"), R.int(8, 0).as("VFP_TABLE")): _*)
    val injh = base("WCONINJH").select(head ++ Seq(lit("WCONINJH").as("KEYWORD"), col("DATE"),
      R.str(0).as("WELL"), R.str(1).as("TYPE"), R.str(2, "OPEN").as("STATUS"),
      R.dbl(3).as("RATE"), R.dbl(4).as("BHP"), R.dbl(5).as("THP"),
      R.int(6, 0).as("VFP_TABLE"), R.str(11, "RATE").as("CMODE")): _*)
    prod.unionByName(hist, allowMissingColumns = true)
      .unionByName(inje, allowMissingColumns = true)
      .unionByName(injh, allowMissingColumns = true)
      .orderBy((if (keepDeckId) dk.map(col) else Nil) ++
        Seq(col("DATE"), col("WELL"), col("KEYWORD")): _*)
  }
}
