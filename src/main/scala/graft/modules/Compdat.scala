package graft.modules

import java.time.ZoneId
import java.util.regex.Pattern
import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Ops
import graft.io.{DeckParser, Records => R}

/** COMPDAT schedule extraction: one row per (well, connection, date), with
  * WELOPEN state overrides applied.
  *
  * Reference: compdat.py deck2dfs + applywelopen (compdat.py:961-991,
  * 791-924), one sequential pass over a deck's keywords. Here that pass is
  * [[walkDeck]], a pure function over one deck's events in
  * (keywordIdx, recordIdx) order on the [[Schedule]] clock. Its state and
  * rules:
  *  - WELSPECS: a defaulted (null or <= 0) COMPDAT I/J takes the well's
  *    latest earlier WELSPECS head (compdat.py:115-143).
  *  - COMPDAT: K1..K2 unrolls to one row per layer (R1,
  *    compdat.py:415-470); per well, the latest COMPDAT row of each
  *    connection is the connection state.
  *  - WLIST folds into per-list snapshots ([[wlistAction]], R8); COMPLUMP
  *    collects each well's lumped layers.
  *  - WELOPEN resolves in this order: a `*LIST` well → the wells of the
  *    list's latest snapshot (J12, compdat.py:757-788); a positive C1/C2
  *    range → the layers of earlier COMPLUMP records whose lump number is
  *    in range (J11, compdat.py:656-754; a half-given range collapses to
  *    its given bound, where the reference raises); partially defaulted
  *    I/J/K → the matching connections of earlier keywords (J9,
  *    compdat.py:291-363); a `*`/`?` template → the wells first seen in
  *    COMPDAT at an earlier keyword (J10, compdat.py:366-412). A template
  *    row with C1/C2 or partial coordinates matches nothing.
  *  - All of I/J/K defaulted acts on every connection of the well, and
  *    STOP gives OPEN; otherwise it acts on one connection, and STOP gives
  *    SHUT. POPN gives OPEN. Each acted-on connection gets a copy of its
  *    latest prior COMPDAT row (never an earlier WELOPEN's output) with
  *    OP/SH replaced, stamped with the WELOPEN's date.
  *  - Rows collapse last-wins per (WELL, I, J, K1, K2, DATE) in
  *    (keywordIdx, recordIdx) order (R11/W7).
  *
  * [[fromEvents]] runs one projection over the event scan (the record
  * readers below), one `deckId` exchange with one walk task per deck, and
  * the final sort; [[df]] runs the same walk on the driver.
  */
object Compdat {

  val Cols = Seq("WELL", "I", "J", "K1", "K2", "OP/SH", "SATN", "TRAN",
    "WBDIA", "KH", "SKIN", "DFACT", "DIR", "PEQVR")

  /** The typed records the walk reads, one per reader keyword. */
  final case class CompdatRec(WELL: Option[String], I: Option[Int], J: Option[Int],
      K1: Option[Int], K2: Option[Int], OPSH: String, SATN: Int, TRAN: Option[Double],
      WBDIA: Option[Double], KH: Double, SKIN: Double, DFACT: Option[Double], DIR: String,
      PEQVR: Option[Double])
  final case class WelspecsRec(WELL: Option[String], GROUP: Option[String],
      HEAD_I: Option[Int], HEAD_J: Option[Int])
  final case class WelopenRec(WELL: Option[String], STATUS: String, I: Option[Int],
      J: Option[Int], K: Option[Int], C1: Option[Int], C2: Option[Int])
  final case class WlistRec(NAME: Option[String], ACTION: Option[String], WELLS: Seq[String])
  final case class ComplumpRec(WELL: Option[String], I: Option[Int], J: Option[Int],
      K1: Option[Int], K2: Option[Int], N: Option[Int])

  final case class WalkEvent(deckId: String, keywordIdx: Int, recordIdx: Int,
      dateRec: Boolean, date: Option[Long], days: Option[Double],
      compdat: Option[CompdatRec], welspecs: Option[WelspecsRec],
      welopen: Option[WelopenRec], wlist: Option[WlistRec],
      complump: Option[ComplumpRec]) extends Schedule.Event

  /** One output row; DATE in epoch micros. */
  final case class Conn(deckId: String, WELL: Option[String], I: Option[Int], J: Option[Int],
      K1: Int, K2: Int, OPSH: String, SATN: Int, TRAN: Option[Double], WBDIA: Option[Double],
      KH: Double, SKIN: Double, DFACT: Option[Double], DIR: String, PEQVR: Option[Double],
      DATE: Option[Long])

  /** The corpus key columns ([[Schedule.deckKeys]]). Appended LAST in
    * record frames so single-deck positional access is unchanged.
    */
  private def deckCols(df: DataFrame): Seq[String] = Schedule.deckKeys(df)

  private def withDeck(df: DataFrame, cols: Seq[Column]): Seq[Column] =
    cols ++ deckCols(df).map(col)

  private val CompdatItems: Seq[(String, Column)] = Seq(
    "WELL" -> R.str(0), "I" -> R.int(1), "J" -> R.int(2),
    "K1" -> R.int(3), "K2" -> R.int(4), "OP/SH" -> R.str(5, "OPEN"),
    // defaulted items carry the opm schema defaults exactly like the
    // reference's deck view (opmkeywords/COMPDAT: SAT_TABLE 0, Kh -1,
    // SKIN 0 — visible in the reference's published compdat.csv);
    // TRAN/WBDIA/DFACT/PEQVR have no schema default and stay null
    "SATN" -> R.int(6, 0), "TRAN" -> R.dbl(7), "WBDIA" -> R.dbl(8),
    "KH" -> R.dbl(9, -1.0), "SKIN" -> R.dbl(10, 0.0), "DFACT" -> R.dbl(11),
    "DIR" -> R.str(12, "Z"), "PEQVR" -> R.dbl(13))
  private val WelspecsItems: Seq[(String, Column)] = Seq(
    "WELL" -> R.str(0), "GROUP" -> R.str(1), "HEAD_I" -> R.int(2), "HEAD_J" -> R.int(3))
  private val WelopenItems: Seq[(String, Column)] = Seq(
    "WELL" -> R.str(0), "STATUS" -> R.str(1, "OPEN"),
    "I" -> R.int(2), "J" -> R.int(3), "K" -> R.int(4), "C1" -> R.int(5), "C2" -> R.int(6))
  private val WlistItems: Seq[(String, Column)] = Seq(
    "NAME" -> R.str(0), "ACTION" -> R.str(1), "WELLS" -> R.rest(2))
  private val ComplumpItems: Seq[(String, Column)] = Seq(
    "WELL" -> R.str(0), "I" -> R.int(1), "J" -> R.int(2),
    "K1" -> R.int(3), "K2" -> R.int(4), "N" -> R.int(5))

  /** The item readers per record keyword, in [[WalkEvent]] order. */
  private val Readers: Seq[(String, Seq[(String, Column)])] = Seq(
    "COMPDAT" -> CompdatItems, "WELSPECS" -> WelspecsItems, "WELOPEN" -> WelopenItems,
    "WLIST" -> WlistItems, "COMPLUMP" -> ComplumpItems)

  private def isRecord(keyword: String): Column =
    col("keyword") === keyword && size(col("items")) > 0

  private def records(events: DataFrame, keyword: String, items: Seq[(String, Column)]): DataFrame =
    events.filter(isRecord(keyword)).select(withDeck(events,
      Seq(col("keywordIdx"), col("recordIdx")) ++ items.map { case (n, c) => c.as(n) }): _*)

  /** Typed COMPDAT records (pre-unroll). */
  def compdatRecords(events: DataFrame): DataFrame = records(events, "COMPDAT", CompdatItems)

  def welspecsRecords(events: DataFrame): DataFrame = records(events, "WELSPECS", WelspecsItems)

  def welopenRecords(events: DataFrame): DataFrame = records(events, "WELOPEN", WelopenItems)

  def wlistRecords(events: DataFrame): DataFrame = records(events, "WLIST", WlistItems)

  def complumpRecords(events: DataFrame): DataFrame = records(events, "COMPLUMP", ComplumpItems)

  /** One WLIST action record applied to a deck's list state (R8,
    * expand_wlist compdat.py:517-653): NEW replaces a list, ADD unions,
    * DEL removes, MOV adds here and removes from every other list of the
    * deck; `*LIST` references inside the well items resolve against the
    * current state.
    */
  private[modules] def wlistAction(state: Map[String, Vector[String]], name: String, action: String,
      rawWells: Seq[String]): Map[String, Vector[String]] = {
    val wells = rawWells.flatMap { w =>
      if (w.startsWith("*")) state.getOrElse(w, Vector.empty) else Vector(w)
    }.toVector
    action match {
      case "NEW" => state + (name -> wells.distinct.sorted)
      case "ADD" => state + (name -> (state.getOrElse(name, Vector.empty) ++ wells).distinct.sorted)
      case "DEL" => state + (name -> state.getOrElse(name, Vector.empty).filterNot(wells.contains))
      case "MOV" =>
        val moved = state.map { case (n, ws) => n -> ws.filterNot(wells.contains) }
        moved + (name -> (moved.getOrElse(name, Vector.empty) ++ wells).distinct.sorted)
      case other => throw new IllegalArgumentException(s"WLIST action $other")
    }
  }

  /** WLIST snapshots: one NEW-style snapshot (the list's wells after the
    * record) per action record, by [[wlistAction]]. The fold's state is
    * per deck (MOV never crosses decks), so it runs as one
    * `groupByKey(deckId)` + `flatMapGroups` ordered fold, one task per
    * deck.
    */
  def expandWlist(wlist: DataFrame): DataFrame = {
    val spark = wlist.sparkSession
    import spark.implicits._
    val hadDeck = deckCols(wlist).nonEmpty
    val base = if (hadDeck) wlist else wlist.withColumn("deckId", lit(""))
    val out = base
      .select(col("deckId"), col("keywordIdx"), col("recordIdx"),
        col("NAME"), col("ACTION"), col("WELLS"))
      .as[(String, Int, Int, String, String, Seq[String])]
      .groupByKey(_._1)
      .flatMapGroups { (deck, it) =>
        // deck-sized: sort this deck's action records in task memory
        val recs = it.toArray.sortBy(r => (r._2, r._3))
        var state = Map.empty[String, Vector[String]]
        recs.iterator.map { case (_, kwIdx, recIdx, name, action, rawWells) =>
          state = wlistAction(state, name, action, rawWells)
          (kwIdx, recIdx, name, state(name): Seq[String], deck)
        }
      }
    val df = out.toDF("keywordIdx", "recordIdx", "NAME", "WELLS", "deckId")
    if (hadDeck) df else df.drop("deckId")
  }

  /** Full pipeline from a deck file via the eclipse-deck DSv2 source
    * (one input partition per deck file).
    */
  def dfFromPath(spark: SparkSession, path: String): DataFrame =
    fromEvents(spark.read.format("eclipse-deck").load(path))

  /** FLEET entry: one multi-deck frame from a glob/directory of deck
    * files — one walk task per deck, output carries the deck key. The
    * 100 TB shape: 10⁵ decks = 10⁵ input partitions through ONE plan.
    */
  def corpusFromPath(spark: SparkSession, paths: String*): DataFrame =
    fromEvents(spark.read.format("eclipse-deck").load(paths: _*), keepDeckId = true)

  /** Full pipeline from deck text: the walk runs on the driver and the
    * result is a local relation (a parsed text is one deck).
    */
  def df(spark: SparkSession, deckText: String): DataFrame = {
    import spark.implicits._
    present(Schedule.onDriver(walkEvents(DeckParser.toDS(spark, deckText).toDF()))(walkDeck).toDF(),
      keepDeckId = false)
  }

  def fromEvents(events: DataFrame): DataFrame =
    fromEvents(events, keepDeckId = false)

  /** `keepDeckId = true` is corpus mode: the output carries `deckId` and a
    * multi-deck frame yields, per deck, exactly what a single-deck run
    * yields. The default drops the column for reference-schema parity and
    * therefore refuses multi-deck input.
    */
  def fromEvents(events: DataFrame, keepDeckId: Boolean): DataFrame = {
    import events.sparkSession.implicits._
    if (!keepDeckId) Schedule.requireSingleDeck(events, "compdat")
    val conns = Schedule.perDeck(walkEvents(events))(walkDeck).toDF()
    present(Ops.sortAfterHeavyStage(conns, "deckId", "DATE", "WELL", "I", "J", "K1"),
      keepDeckId && deckCols(events).nonEmpty)
  }

  /** Walk output → the module's columns (DATE as a timestamp). */
  private def present(conns: DataFrame, keepDeckId: Boolean): DataFrame =
    conns.select((if (keepDeckId) Seq(col("deckId")) else Nil) ++
      Cols.map(c => col(fieldName(c)).as(c)) :+ timestamp_micros(col("DATE")).as("DATE"): _*)

  /** The walk's input: the clock columns plus one typed record per
    * reader keyword, read by the same item readers as the record frames.
    */
  private def walkEvents(events: DataFrame): Dataset[WalkEvent] = {
    import events.sparkSession.implicits._
    events.filter(col("keyword").isin(Schedule.ClockKeywords ++ Readers.map(_._1): _*))
      .select(Schedule.eventColumns(events) ++ Readers.map { case (kw, items) =>
        when(isRecord(kw), struct(items.map { case (n, c) => c.as(fieldName(n)) }: _*))
          .as(kw.toLowerCase) }: _*)
      .as[WalkEvent]
  }

  private def fieldName(column: String): String = column.replace("/", "")

  private type Coord = (Option[Int], Option[Int], Int) // one layer's I, J, K

  private def dflt(v: Option[Int]): Boolean = v.forall(_ <= 0)

  /** Equality as the engine's `===`: an absent side never matches. */
  private def same(a: Option[Int], b: Option[Int]): Boolean = a.isDefined && a == b

  /** K1..K2 as `sequence(K1, K2)`: descending when K1 > K2. */
  private def layers(k1: Int, k2: Int): Range = if (k1 <= k2) k1 to k2 else k1 to k2 by -1

  private val OutputOrder: Ordering[Conn] = Ordering.by((c: Conn) => (c.DATE, c.WELL, c.I, c.J, c.K1))(
    Ordering.Tuple5(Ordering.Option[Long], Ordering.Option(Schedule.BinaryOrder),
      Ordering.Option[Int], Ordering.Option[Int], Ordering.Int))

  /** The COMPDAT/WELOPEN state machine over one deck's events (rules in
    * the object doc); rows in output order.
    */
  private[modules] def walkDeck(events: Iterable[WalkEvent], zone: ZoneId): Iterator[Conn] = {
    val heads = mutable.HashMap.empty[String, (Option[Int], Option[Int])]
    // per well: the latest COMPDAT row of each connection
    val conns = mutable.HashMap.empty[String, mutable.LinkedHashMap[Coord, Conn]]
    // per well: (I, J, K, lump number) of every COMPLUMP layer so far
    val lumps = mutable.HashMap.empty[String, mutable.ArrayBuffer[(Option[Int], Option[Int], Int, Int)]]
    var lists = Map.empty[String, Vector[String]]
    var snapshots = Map.empty[String, Vector[String]] // per list: its state after its last record
    // last wins per (WELL, I, J, K1 = K2, DATE)
    val out = mutable.HashMap.empty[(Option[String], Option[Int], Option[Int], Int, Option[Long]), Conn]
    def emit(c: Conn): Unit = out((c.WELL, c.I, c.J, c.K1, c.DATE)) = c

    /** One WELOPEN record → the rows it states (resolution order in the
      * object doc); one row per acted-on connection.
      */
    def welopen(w: WelopenRec, date: Option[Long]): Iterable[Conn] = {
      val wells = w.WELL.toSeq.flatMap(n =>
        if (n.startsWith("*")) snapshots.getOrElse(n, Vector.empty) else Seq(n))
      val (c1, c2) = (w.C1.filter(_ > 0), w.C2.filter(_ > 0))
      val targets = for {
        well <- wells
        (i, j, k) <- (c1.orElse(c2), c2.orElse(c1)) match {
          case (Some(lo), Some(hi)) => lumps.getOrElse(well, Nil).collect {
            case (li, lj, lk, n) if lo <= n && n <= hi => (li, lj, Some(lk)) }.distinct
          case _ => Seq((w.I, w.J, w.K))
        }
        (pi, pj, pk) <- Seq(i, j, k).count(dflt) match {
          case 1 | 2 => conns.get(well).toSeq.flatMap(_.keys).collect {
            case (ci, cj, ck) if (dflt(i) || same(i, ci)) && (dflt(j) || same(j, cj)) &&
                (dflt(k) || k.contains(ck)) => (ci, cj, Some(ck)) }
          case _ => Seq((i, j, k))
        }
        target <- if (well.contains('*') || well.contains('?')) {
          val re = Pattern.compile("^" + well.replace("*", ".*").replace("?", ".") + "$")
          conns.keys.filter(re.matcher(_).find()).toSeq
        } else Seq(well)
      } yield (target, pi, pj, pk)
      val acted = mutable.LinkedHashMap.empty[(String, Coord), Conn]
      targets.foreach { case (well, i, j, k) =>
        val onWell = dflt(i) && dflt(j) && dflt(k)
        val status = w.STATUS match {
          case "POPN" => "OPEN"
          case "STOP" => if (onWell) "OPEN" else "SHUT"
          case s => s
        }
        conns.get(well).foreach(_.foreach { case (coord @ (ci, cj, ck), c) =>
          if (onWell || (same(i, ci) && same(j, cj) && k.contains(ck)))
            acted.getOrElseUpdate((well, coord), c.copy(OPSH = status, DATE = date))
        })
      }
      acted.values
    }

    Schedule.walk(events, zone) { (records, date) =>
      records.foreach { e =>
        e.welspecs.foreach(w => w.WELL.foreach(heads(_) = (w.HEAD_I, w.HEAD_J)))
        e.compdat.foreach { c =>
          val head = c.WELL.flatMap(heads.get)
          val i = if (dflt(c.I)) head.flatMap(_._1) else c.I
          val j = if (dflt(c.J)) head.flatMap(_._2) else c.J
          for (k1 <- c.K1; k2 <- c.K2; k <- layers(k1, k2)) {
            val row = Conn(e.deckId, c.WELL, i, j, k, k, c.OPSH, c.SATN, c.TRAN, c.WBDIA,
              c.KH, c.SKIN, c.DFACT, c.DIR, c.PEQVR, date)
            c.WELL.foreach(w => conns.getOrElseUpdate(w, mutable.LinkedHashMap.empty)((i, j, k)) = row)
            emit(row)
          }
        }
        e.wlist.foreach { l =>
          val name = l.NAME.orNull
          lists = wlistAction(lists, name, l.ACTION.orNull, l.WELLS)
          snapshots += name -> lists(name)
        }
        e.complump.foreach { l =>
          for (w <- l.WELL; n <- l.N; k1 <- l.K1; k2 <- l.K2; k <- layers(k1, k2))
            lumps.getOrElseUpdate(w, mutable.ArrayBuffer.empty) += ((l.I, l.J, k, n))
        }
        e.welopen.foreach(w => welopen(w, date).foreach(emit))
      }
    }

    out.values.toVector.sorted(OutputOrder).iterator
  }

  /** WELOPEN validation report: resolved WELOPEN rows that matched NO prior
    * COMPDAT connection. The reference raises ValueError for these ("No
    * connections are matching WELOPEN keyword", "not acting on any
    * existing well"); a distributed engine must not fail a whole corpus on
    * one bad record, so the anomalies surface as data — the caller decides
    * whether they are fatal. The match is the walk's: a whole-well row
    * needs any earlier connection of the well, a connection row the one
    * earlier connection at its (I, J, K).
    */
  def welopenAnomalies(compdat: DataFrame, welopen: DataFrame): DataFrame = {
    val dk = deckCols(welopen).intersect(deckCols(compdat))
    val wo = welopen.withColumn("actsOnWell",
      (col("I").isNull || col("I") <= 0) &&
        (col("J").isNull || col("J") <= 0) &&
        (col("K").isNull || col("K") <= 0))
    val c = compdat.select(Seq(col("WELL").as("cWELL"), col("keywordIdx").as("cIdx"),
      col("I").as("cI"), col("J").as("cJ"), col("K1").as("cK1"),
      col("K2").as("cK2")) ++ dk.map(k => col(k).as("cDeck")): _*)
    val deckMatch = dk.map(_ => col("cDeck") === col("deckId"))
    wo.join(c,
        deckMatch.foldLeft(col("cWELL") === col("WELL") &&
          col("cIdx") < col("keywordIdx") &&
          (col("actsOnWell") ||
            (col("cI") === col("I") && col("cJ") === col("J") &&
              col("cK1") === col("K") && col("cK2") === col("K"))))(_ && _),
        "left_anti")
      .drop("actsOnWell")
  }
}
