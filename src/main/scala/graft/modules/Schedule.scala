package graft.modules

import java.time.ZoneId
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.catalyst.util.{DateTimeUtils, IntervalUtils}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.Decimal
import org.apache.spark.unsafe.types.UTF8String
import graft.io.Records

/** The deck schedule clock: assigns each keyword ordinal the simulation
  * date in effect when it executes.
  *
  * The reference carries a mutable `date` across a deck's keywords
  * (compdat.py:72-114, wcon.py:26-50, gruptree.py:94-123). Here that is
  * [[Clock]], advanced by [[walk]] over one deck's events in
  * `(keywordIdx, recordIdx)` order: the date is the last explicit
  * DATES/START date plus the TSTEP days summed since it, and keywords
  * before any DATES/START stay undated. The module walks (COMPDAT/WELOPEN,
  * WCON and the per-keyword dates below) all run on this one clock, one
  * task per deck after a single `deckId` exchange ([[perDeck]]), or on the
  * driver for one parsed deck text ([[onDriver]]).
  */
object Schedule {

  private val MonthMap: Column = {
    val pairs = Seq(
      "JAN" -> 1, "FEB" -> 2, "MAR" -> 3, "APR" -> 4, "MAY" -> 5, "JUN" -> 6,
      "JUL" -> 7, "JLY" -> 7, "AUG" -> 8, "SEP" -> 9, "OCT" -> 10,
      "NOV" -> 11, "DEC" -> 12)
    map(pairs.flatMap { case (m, n) => Seq(lit(m), lit(n)) }: _*)
  }

  /** Parse an Eclipse date record `1 'JAN' 2000 [time]` into a timestamp.
    * Reference: parse_opmio_date_rec, common.py:352-357 + month map
    * common.py:96-111.
    */
  def parseDateRecord: Column =
    make_date(Records.int(2), element_at(MonthMap, upper(Records.str(1))), Records.int(0))
      .cast("timestamp")

  /** One deck event as a schedule walk reads it: its deck and position,
    * and its clock inputs. `dateRec` marks a DATES/START record with a full
    * date; `date` is that date in epoch micros (empty when it does not
    * parse); `days` is a TSTEP record's day sum.
    */
  trait Event {
    def deckId: String
    def keywordIdx: Int
    def recordIdx: Int
    def dateRec: Boolean
    def date: Option[Long]
    def days: Option[Double]
  }

  /** The [[Event]] columns of an event frame (`deckId` is "" on a frame
    * without one).
    */
  private[modules] def eventColumns(events: DataFrame): Seq[Column] = {
    val isDate = col("keyword").isin("DATES", "START") && size(col("items")) >= 3
    Seq(deckKeys(events).headOption.fold(lit(""))(col).as("deckId"),
      col("keywordIdx"), col("recordIdx"), isDate.as("dateRec"),
      when(isDate, unix_micros(parseDateRecord)).as("date"),
      when(col("keyword") === "TSTEP", Records.itemsSum).as("days"))
  }

  /** Ascending string order as the engine sorts strings (by UTF-8
    * bytes), for walks that emit rows in output order.
    */
  private[modules] val BinaryOrder: Ordering[String] =
    Ordering.fromLessThan((a, b) => UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0)

  /** The keywords that move the clock. */
  private[modules] val ClockKeywords: Seq[String] = Seq("DATES", "START", "TSTEP")

  /** The running clock of one deck, in the engine's own arithmetic: the
    * TSTEP sum runs over the whole deck, the elapsed days are that sum
    * minus its value at the last explicit date, and they are added as
    * `date + make_dt_interval(0, 0, 0, days * 86400)` adds them (seconds
    * cast to decimal(18,6), in the session time zone).
    */
  final class Clock(zone: ZoneId) {
    private var last: Option[Long] = None
    private var cum = 0.0
    private var cumAt = 0.0
    private var current: Option[Long] = None

    /** Take one keyword's records (in recordIdx order): the last full
      * date record sets the date, TSTEP records add their days.
      */
    def advance(records: Seq[Event]): Unit = {
      cum += records.flatMap(_.days).foldLeft(0.0)(_ + _)
      records.filter(_.dateRec).lastOption.flatMap(_.date).foreach { d =>
        last = Some(d); cumAt = cum
      }
      current = last.map { d =>
        val secs = Decimal((cum - cumAt) * 86400.0)
        if (!secs.changePrecision(18, 6))
          throw new ArithmeticException(s"TSTEP offset ${cum - cumAt} days overflows decimal(18,6) seconds")
        DateTimeUtils.timestampAddDayTime(d, IntervalUtils.makeDayTimeInterval(0, 0, 0, secs, null), zone)
      }
    }

    /** The date in effect after the keywords taken so far (epoch micros). */
    def date: Option[Long] = current
  }

  /** Walk one deck's events keyword by keyword in (keywordIdx, recordIdx)
    * order: the clock takes each keyword's records first, then `f` gets
    * them with the date then in effect.
    */
  def walk[E <: Event](events: Iterable[E], zone: ZoneId)(f: (Seq[E], Option[Long]) => Unit): Unit = {
    val clock = new Clock(zone)
    val sorted = events.toVector.sortBy(e => (e.keywordIdx, e.recordIdx))
    var i = 0
    while (i < sorted.length) {
      val kw = sorted.drop(i).takeWhile(_.keywordIdx == sorted(i).keywordIdx)
      clock.advance(kw)
      f(kw, clock.date)
      i += kw.length
    }
  }

  /** Run a deck walk on every deck of `events`: one `deckId` exchange,
    * then one task per deck group.
    */
  private[modules] def perDeck[E <: Event, O: Encoder](events: Dataset[E])(
      deckWalk: (Iterable[E], ZoneId) => Iterator[O]): Dataset[O] = {
    val zone = events.sparkSession.sessionState.conf.sessionLocalTimeZone
    events.groupByKey(_.deckId)(Encoders.STRING)
      .flatMapGroups((_, it) => deckWalk(it.toSeq, ZoneId.of(zone)))
  }

  /** Run a deck walk on the driver over a local event frame (one parsed
    * deck text): no job, and the result is a local relation.
    */
  private[modules] def onDriver[E <: Event, O: Encoder](events: Dataset[E])(
      deckWalk: (Iterable[E], ZoneId) => Iterator[O]): Dataset[O] = {
    val spark = events.sparkSession
    val zone = ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
    spark.createDataset(deckWalk(events.collect().toSeq, zone).toSeq)
  }

  /** The [[Event]] row of the per-keyword dates. */
  final case class ClockEvent(deckId: String, keywordIdx: Int, recordIdx: Int,
      dateRec: Boolean, date: Option[Long], days: Option[Double]) extends Event

  final case class KeywordDate(deckId: String, keywordIdx: Int, DATE: Option[Long])

  /** (keywordIdx, DATE) for every keyword in the deck event stream, per
    * deck: `keepDeckId` keeps the key column in the output — required to
    * join correctly on a multi-deck frame (keywordIdx alone repeats across
    * decks).
    */
  def keywordDates(events: DataFrame, keepDeckId: Boolean = false): DataFrame = {
    import events.sparkSession.implicits._
    val dated = perDeck(events.select(eventColumns(events): _*).as[ClockEvent]) { (evs, zone) =>
      val out = Vector.newBuilder[KeywordDate]
      walk(evs, zone) { (kw, date) => out += KeywordDate(kw.head.deckId, kw.head.keywordIdx, date) }
      out.result().iterator
    }
    val outKeys = if (keepDeckId) deckKeys(events) else Nil
    dated.select(outKeys.map(col) :+ col("keywordIdx") :+
      timestamp_micros(col("DATE")).as("DATE"): _*)
  }

  /** The corpus key columns: `deckId` when the frame carries one, at most
    * ONE key.
    */
  def deckKeys(events: DataFrame): Seq[String] =
    if (events.columns.contains("deckId")) Seq("deckId") else Nil

  /** Guard for the record-level state machines' DEFAULT single-deck
    * entry points (compdat, gruptree, msw, wcon): without the corpus key
    * in the output, a frame holding several decks would silently
    * interleave unrelated wells. Each module's `keepDeckId = true` mode
    * is the corpus path, which keeps every deck's state apart.
    */
  def requireSingleDeck(events: DataFrame, module: String): Unit =
    if (events.columns.contains("deckId")) {
      val decks = events.select("deckId").distinct().limit(2).collect()
      require(decks.length <= 1,
        s"$module processes one deck per call (WELL-keyed state is per-deck); " +
          "got a multi-deck frame — apply the module per deckId group instead")
    }
}
