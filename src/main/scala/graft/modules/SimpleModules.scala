package graft.modules

import java.time.ZoneId
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Ops
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
  * (wcon.py:22-64): one typed row per WCONPROD/WCONHIST/WCONINJE/WCONINJH
  * record, the four keywords' columns unioned by name (U1) and dated by
  * the [[Schedule]] clock in one deck walk. [[fromEvents]] runs that walk
  * once per deck after one `deckId` exchange, [[df]] on the driver.
  */
object Wcon {

  /** One control record: the union of the four keywords' columns. */
  final case class Rec(KEYWORD: String, WELL: Option[String], STATUS: Option[String],
      CMODE: Option[String], ORAT: Option[Double], WRAT: Option[Double], GRAT: Option[Double],
      LRAT: Option[Double], RESV: Option[Double], BHP: Option[Double], THP: Option[Double],
      VFP_TABLE: Option[Int], ALQ: Option[Double], NGLRAT: Option[Double],
      TYPE: Option[String], RATE: Option[Double])

  final case class WalkEvent(deckId: String, keywordIdx: Int, recordIdx: Int,
      dateRec: Boolean, date: Option[Long], days: Option[Double],
      rec: Option[Rec]) extends Schedule.Event

  /** One dated record; DATE in epoch micros. */
  final case class Dated(deckId: String, keywordIdx: Int, recordIdx: Int,
      DATE: Option[Long], rec: Rec)

  // item positions and defaults follow the keyword schemas the reference
  // ships (opmkeywords/WCON*): unspecified numeric items default to the
  // schema default, not null, exactly like opm's deck view
  private val Readers: Seq[(String, Map[String, Column])] = Seq(
    "WCONPROD" -> Map("WELL" -> R.str(0), "STATUS" -> R.str(1, "OPEN"), "CMODE" -> R.str(2),
      "ORAT" -> R.dbl(3, 0.0), "WRAT" -> R.dbl(4, 0.0), "GRAT" -> R.dbl(5, 0.0),
      "LRAT" -> R.dbl(6, 0.0), "RESV" -> R.dbl(7, 0.0), "BHP" -> R.dbl(8, 1.01325),
      "THP" -> R.dbl(9, 0.0), "VFP_TABLE" -> R.int(10, 0), "ALQ" -> R.dbl(11, 0.0)),
    "WCONHIST" -> Map("WELL" -> R.str(0), "STATUS" -> R.str(1, "OPEN"), "CMODE" -> R.str(2),
      "ORAT" -> R.dbl(3, 0.0), "WRAT" -> R.dbl(4, 0.0), "GRAT" -> R.dbl(5, 0.0),
      "VFP_TABLE" -> R.int(6, 0), "ALQ" -> R.dbl(7, 0.0), "THP" -> R.dbl(8, 0.0),
      "BHP" -> R.dbl(9, 0.0), "NGLRAT" -> R.dbl(10, 0.0)),
    "WCONINJE" -> Map("WELL" -> R.str(0), "TYPE" -> R.str(1), "STATUS" -> R.str(2, "OPEN"),
      "CMODE" -> R.str(3), "RATE" -> R.dbl(4), "RESV" -> R.dbl(5),
      "BHP" -> R.dbl(6, 6895.0), "THP" -> R.dbl(7), "VFP_TABLE" -> R.int(8, 0)),
    "WCONINJH" -> Map("WELL" -> R.str(0), "TYPE" -> R.str(1), "STATUS" -> R.str(2, "OPEN"),
      "RATE" -> R.dbl(3), "BHP" -> R.dbl(4), "THP" -> R.dbl(5),
      "VFP_TABLE" -> R.int(6, 0), "CMODE" -> R.str(11, "RATE")))

  /** The output columns after KEYWORD and DATE, in union order. */
  private val Fields = Seq("WELL", "STATUS", "CMODE", "ORAT", "WRAT", "GRAT", "LRAT",
    "RESV", "BHP", "THP", "VFP_TABLE", "ALQ", "NGLRAT", "TYPE", "RATE")

  def df(spark: SparkSession, deckText: String): DataFrame = {
    import spark.implicits._
    present(Schedule.onDriver(walkEvents(DeckParser.toDS(spark, deckText).toDF()))(walkDeck).toDF(),
      keepDeckId = false)
  }

  /** FLEET entry: control records for a glob/directory of deck files in
    * one plan, each deck's schedule clock independent.
    */
  def corpusFromPath(spark: SparkSession, paths: String*): DataFrame =
    fromEvents(spark.read.format("eclipse-deck").load(paths: _*), keepDeckId = true)

  /** `keepDeckId = true` is corpus mode: the output carries `deckId` (wcon
    * has no cross-record state beyond the clock, so the per-deck clock is
    * the whole of its per-deck semantics).
    */
  def fromEvents(events: DataFrame, keepDeckId: Boolean = false): DataFrame = {
    import events.sparkSession.implicits._
    if (!keepDeckId) Schedule.requireSingleDeck(events, "wcon")
    val dated = Schedule.perDeck(walkEvents(events))(walkDeck).toDF()
    present(Ops.sortAfterHeavyStage(dated, "deckId", "DATE", "rec.WELL", "rec.KEYWORD",
      "keywordIdx", "recordIdx"), keepDeckId && Schedule.deckKeys(events).nonEmpty)
  }

  private def present(dated: DataFrame, keepDeckId: Boolean): DataFrame =
    dated.select((if (keepDeckId) Seq(col("deckId")) else Nil) ++ Seq(col("rec.KEYWORD").as("KEYWORD"),
      timestamp_micros(col("DATE")).as("DATE")) ++ Fields.map(f => col(s"rec.$f").as(f)): _*)

  /** The walk's input: the clock columns plus the typed control record. */
  private def walkEvents(events: DataFrame): Dataset[WalkEvent] = {
    import events.sparkSession.implicits._
    val kw = col("keyword")
    val fields = Fields.map(f => Readers.foldLeft(lit(null)) { case (other, (k, items)) =>
      items.get(f).fold(other)(c => when(kw === k, c).otherwise(other))
    }.as(f))
    events.filter(kw.isin(Schedule.ClockKeywords ++ Readers.map(_._1): _*))
      .select(Schedule.eventColumns(events) :+
        when(kw.isin(Readers.map(_._1): _*) && size(col("items")) > 0,
          struct(kw.as("KEYWORD") +: fields: _*)).as("rec"): _*)
      .as[WalkEvent]
  }

  private val OutputOrder: Ordering[Dated] =
    Ordering.by((d: Dated) => (d.DATE, d.rec.WELL, d.rec.KEYWORD, d.keywordIdx, d.recordIdx))(
      Ordering.Tuple5(Ordering.Option[Long], Ordering.Option(Schedule.BinaryOrder),
        Schedule.BinaryOrder, Ordering.Int, Ordering.Int))

  /** One deck's control records, dated, in output order. */
  private[modules] def walkDeck(events: Iterable[WalkEvent], zone: ZoneId): Iterator[Dated] = {
    val out = Vector.newBuilder[Dated]
    Schedule.walk(events, zone) { (records, date) =>
      records.foreach(e => e.rec.foreach(r => out += Dated(e.deckId, e.keywordIdx, e.recordIdx, date, r)))
    }
    out.result().sorted(OutputOrder).iterator
  }
}
