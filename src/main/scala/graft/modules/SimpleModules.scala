package graft.modules

import java.time.ZoneId
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, StringType, StructField, StructType}
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
  * column sets (U1). Built on the driver from the parsed deck
  * ([[DeckTable]]).
  */
object Equil {
  private val SubKeywords = Map(
    "RSVD" -> "RS", "RVVD" -> "RV", "PBVD" -> "PB", "PDVD" -> "PD")

  private val Phases = Seq("OIL", "WATER", "GAS")

  /** The EQUIL, sub-keyword and phase records of an event frame, typed. */
  private def typed(events: DataFrame): DeckTable.Typed = {
    val kw = col("keyword")
    val nonEmpty = size(col("items")) > 0
    DeckTable.typed(events, "EQUIL" +: SubKeywords.keys.toSeq ++: Phases,
      when(kw === "EQUIL" && nonEmpty, struct(R.dbl(0).as("Z"), R.dbl(1).as("PRESSURE"),
        R.dbl(2, 0.0).as("C1"), R.dbl(3, 0.0).as("PCC1"), R.dbl(4, 0.0).as("C2"),
        R.dbl(5, 0.0).as("PCC2"), R.int(6).as("INITRS"), R.int(7).as("INITRV"),
        R.int(8).as("ACCURACY"))).as("EQUIL") +:
        SubKeywords.toSeq.map { case (k, v) =>
          when(kw === k && nonEmpty, R.dataChunks(Seq("Z", v))).as(k)
        }: _*)
  }

  private def region(name: String) = Seq(StructField(name, IntegerType, nullable = false),
    StructField("KEYWORD", StringType, nullable = false))

  /** EQUIL record positions are fixed; the CONTACT COLUMN NAMES depend on
    * the deck's phase configuration (reference equil.py phases handling,
    * tests test_equil.py::test_decks): oil-water → OWC, gas-water → GWC
    * (same slot), gas-oil → that slot is ignored; the GOC slot only
    * exists when both oil and gas are present.
    */
  private def equilPart(t: DeckTable.Typed, phases: Set[String]): DeckTable.Part = {
    val (oil, water, gas) =
      (phases contains "OIL", phases contains "WATER", phases contains "GAS")
    val contact1 =
      if (oil && water) Some("OWC") else if (gas && water) Some("GWC") else None
    val contact2 = if (oil && gas) Some("GOC") else None
    // (slot in the typed EQUIL struct, output name)
    val slots = Seq(0 -> "Z", 1 -> "PRESSURE") ++
      contact1.toSeq.flatMap(n => Seq(2 -> n, 3 -> s"PC$n")) ++
      contact2.toSeq.flatMap(n => Seq(4 -> n, 5 -> s"PC$n")) ++
      Seq(6 -> "INITRS", 7 -> "INITRV", 8 -> "ACCURACY")
    val fields = t.struct("EQUIL").fields
    val i = t.index("EQUIL")
    DeckTable.Part(
      StructType(region("EQLNUM") ++ slots.map { case (s, n) => fields(s).copy(name = n) }),
      t.rows.filter(!_.isNullAt(i)).map { r =>
        val rec = r.getStruct(i)
        Seq(r.getInt(2) + 1, "EQUIL") ++ slots.map { case (s, _) => rec.get(s) }
      })
  }

  private def subPart(t: DeckTable.Typed, kw: String): DeckTable.Part =
    DeckTable.Part(StructType(region("EQLNUM") ++ t.struct(kw).fields.tail),
      DeckTable.chunks(t, kw).map(c => Seq(c.recordIdx + 1, kw) ++ c.values))

  private def phases(t: DeckTable.Typed): Set[String] = {
    val ph = t.rows.map(_.getString(0)).filter(Phases.contains).toSet
    if (ph.isEmpty) Phases.toSet else ph
  }

  /** Phase keywords present in the deck; an undeclared deck (no phase
    * keywords at all) is treated as three-phase.
    */
  def phasesFromEvents(events: DataFrame): Set[String] = phases(typed(events))

  /** The EQUIL rows of an event frame under the given phases. */
  def equil(events: DataFrame, phases: Set[String] = Phases.toSet): DataFrame =
    DeckTable.toDF(events.sparkSession, equilPart(typed(events), phases))

  /** EQUIL and the sub-keyword tables, ordered by EQLNUM then KEYWORD. */
  def df(spark: SparkSession, deckText: String): DataFrame = {
    val t = typed(DeckParser.toDS(spark, deckText).toDF())
    DeckTable.union(equilPart(t, phases(t)) +: SubKeywords.keys.toSeq.sorted.map(subPart(t, _)))
      .fold(spark.emptyDataFrame)(u => DeckTable.toDF(spark,
        u.copy(rows = u.rows.sortBy(r => (r.head.asInstanceOf[Int], r(1).asInstanceOf[String])))))
  }
}

/** PVT keywords → tidy rows (pvt.py:31-73, 239-242). DENSITY/ROCK/PVTW are
  * one row per PVTNUM (record counter); PVDO/PVDG are DATA reshapes per
  * PVTNUM; PVTO (nested undersaturated lines) uses the empty-record counter
  * (R7 emptyrecordcountername): records accumulate into the current PVTNUM
  * until a record with zero items closes the region's table. Built on the
  * driver from the parsed deck ([[DeckTable]]).
  */
object Pvt {
  private val DeadOil = Seq("PRESSURE", "VOLUMEFACTOR", "VISCOSITY")

  /** Record-counted keywords and their typed record. */
  private val Counted: Seq[(String, Column)] = Seq(
    "DENSITY" -> struct(R.dbl(0).as("OILDENSITY"), R.dbl(1).as("WATERDENSITY"),
      R.dbl(2).as("GASDENSITY")),
    "ROCK" -> struct(R.dbl(0).as("PRESSURE"), R.dbl(1).as("COMPRESSIBILITY")),
    "PVTW" -> struct(R.dbl(0).as("PRESSURE"), R.dbl(1).as("VOLUMEFACTOR"),
      R.dbl(2, 0.0).as("COMPRESSIBILITY"), R.dbl(3, 0.0).as("VISCOSITY"),
      R.dbl(4, 0.0).as("VISCOSIBILITY")))

  /** Nested undersaturated-line keywords (PVTO/PVTG): head column and the
    * value triple of each line.
    */
  private val Nested: Seq[(String, String, Seq[String])] = Seq(
    // PVTO: live oil — RS head, (PRESSURE, VOLUMEFACTOR, VISCOSITY) lines
    // (pvt.py:49, 126-140); bubble-point pressure is named PRESSURE for
    // mergeability, like the reference
    ("PVTO", "RS", DeadOil),
    // PVTG: wet gas — gas PRESSURE head, (OGR, VOLUMEFACTOR, VISCOSITY)
    // undersaturated lines (pvt.py:57-60, 176-194)
    ("PVTG", "PRESSURE", Seq("OGR", "VOLUMEFACTOR", "VISCOSITY")))

  /** A nested record: `headCol` followed by value triplets that share it. */
  private def nestedRecord(headCol: String, triple: Seq[String]): Column =
    struct(R.dbl(0).as(headCol), transform(
      sequence(lit(0), ((size(col("items")) - 1) / 3).cast("int") - 1),
      r => struct(triple.indices.map(j =>
        get(col("items"), r * 3 + j + 1).cast("double").as(triple(j))): _*)).as("lines"))

  private def head(region: StructField) =
    Seq(StructField("KEYWORD", StringType, nullable = false), region)

  private val Pvtnum = StructField("PVTNUM", IntegerType, nullable = false)

  /** PVDO/PVDG reshape; `ntpvt` is the explicit table-count override
    * (inferdims.py:18-84 API parity, TABDIMS item 1): with it, records
    * split into tables wherever PRESSURE decreases (strictly increasing
    * within a dead-oil/dry-gas table) and the count must equal `ntpvt`
    * ([[DeckTable.tableNumbers]]).
    */
  private def dataPart(t: DeckTable.Typed, kw: String, ntpvt: Option[Int]): DeckTable.Part = {
    val chunks = DeckTable.chunks(t, kw)
    val pvtnum = DeckTable.tableNumbers(chunks, kw, ntpvt)
    DeckTable.Part(StructType(head(Pvtnum) ++ t.struct(kw).fields.tail),
      chunks.zip(pvtnum).map { case (c, n) => Seq(kw, n) ++ c.values })
  }

  /** Records until an empty record belong to one PVTNUM, counted per
    * keyword occurrence (R7 emptyrecordcountername). The engine types a
    * running count as nullable, and so does this column.
    */
  private def nestedPart(t: DeckTable.Typed, kw: String): DeckTable.Part = {
    val i = t.index(kw)
    val rec = t.struct(kw)
    val line = rec("lines").dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
    var occurrence = -1
    var empties = 0
    val rows = t.rows.filter(_.getString(0) == kw).flatMap { r =>
      if (r.getInt(1) != occurrence) { occurrence = r.getInt(1); empties = 0 }
      if (r.isNullAt(i)) { empties += 1; Nil }
      else {
        val v = r.getStruct(i)
        v.getSeq[Row](1).map(l => Seq(kw, empties + 1, v.get(0)) ++ l.toSeq)
      }
    }
    DeckTable.Part(StructType(head(Pvtnum.copy(nullable = true)) ++ (rec.fields.head +: line.fields)),
      rows)
  }

  def df(spark: SparkSession, deckText: String,
      ntpvt: Option[Int] = None): DataFrame = {
    val kw = col("keyword")
    val nonEmpty = size(col("items")) > 0
    val t = DeckTable.typed(DeckParser.toDS(spark, deckText).toDF(),
      Counted.map(_._1) ++ Seq("PVDO", "PVDG") ++ Nested.map(_._1),
      Counted.map { case (k, c) => when(kw === k && nonEmpty, c).as(k) } ++
        Seq("PVDO", "PVDG").map(k => when(kw === k && nonEmpty, R.dataChunks(DeadOil)).as(k)) ++
        Nested.map { case (k, h, tr) => when(kw === k && nonEmpty, nestedRecord(h, tr)).as(k) }: _*)
    val counted = Counted.map { case (k, _) =>
      val i = t.index(k)
      DeckTable.Part(StructType(head(Pvtnum) ++ t.struct(k).fields),
        t.rows.filter(!_.isNullAt(i)).map(r => Seq(k, r.getInt(2) + 1) ++ r.getStruct(i).toSeq))
    }
    DeckTable.unionDF(spark, counted ++ Seq("PVDO", "PVDG").map(dataPart(t, _, ntpvt)) ++
      Nested.map(n => nestedPart(t, n._1)))
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
