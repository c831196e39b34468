package graft.modules

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.{DeckParser, Records => R}

/** Multi-segment-well schedule keywords (reference compdat.py:145-260:
  * WELSEGS, COMPSEGS, WSEGSICD, WSEGAICD, WSEGVALV frames returned by
  * `deck2dfs` alongside COMPDAT).
  *
  * WELSEGS and COMPSEGS are header+records keywords: record 0 carries the
  * well header, records 1+ the per-segment/per-connection data — the
  * header fans out onto its data rows via an equi-join on the keyword
  * ordinal (broadcast-sized: one row per keyword instance). The WSEG*
  * keywords are flat record tables. SEGMENT1-SEGMENT2 ranges unroll with
  * explode(sequence) exactly like COMPDAT's K1-K2 (R1); the reference
  * instead ASSUMES SEGMENT1==SEGMENT2 in WELSEGS (compdat.py:199-201) —
  * unrolling is strictly more faithful to the keyword semantics.
  */
object Msw {

  private def kw(events: DataFrame, name: String): DataFrame =
    events.filter(col("keyword") === name && size(col("items")) > 0)

  private def unrollSegments(df: DataFrame, unroll: Boolean): DataFrame =
    if (!unroll) df
    else df
      .withColumn("__s", explode(sequence(col("SEGMENT1"),
        coalesce(col("SEGMENT2"), col("SEGMENT1")))))
      .withColumn("SEGMENT1", col("__s")).withColumn("SEGMENT2", col("__s"))
      .drop("__s")

  /** WELSEGS: per-segment rows with the record-0 well header fanned out.
    * `keepDeckId = true` is corpus mode for this and every frame below:
    * header/date joins key on (deckId, keywordIdx) and the output keeps
    * the deck key.
    */
  def welsegs(events: DataFrame, unroll: Boolean = true,
      keepDeckId: Boolean = false): DataFrame = {
    if (!keepDeckId) Schedule.requireSingleDeck(events, "msw")
    val dk = Schedule.deckKeys(events)
    val dates = Schedule.keywordDates(events, keepDeckId = dk.nonEmpty)
    val recs = kw(events, "WELSEGS")
    val headers = recs.filter(col("recordIdx") === 0)
      .select(dk.map(col) ++ Seq(col("keywordIdx"),
        R.str(0).as("WELL"), R.dbl(1).as("DEPTH"), R.dbl(2, 0.0).as("LENGTH"),
        R.dbl(3, 1e-5).as("WELLBORE_VOLUME"), R.str(4).as("INFO_TYPE"),
        R.str(5, "HFA").as("PRESSURE_COMPONENTS"), R.str(6, "HO").as("FLOW_MODEL"),
        R.dbl(7).as("TOP_X"), R.dbl(8).as("TOP_Y")): _*)
    val data = recs.filter(col("recordIdx") > 0)
      .select(dk.map(col) ++ Seq(col("keywordIdx"), col("recordIdx"),
        R.int(0).as("SEGMENT1"), R.int(1).as("SEGMENT2"),
        R.int(2).as("BRANCH"), R.int(3).as("JOIN_SEGMENT"),
        R.dbl(4).as("SEGMENT_LENGTH"), R.dbl(5).as("DEPTH_CHANGE"),
        R.dbl(6).as("DIAMETER"), R.dbl(7).as("ROUGHNESS"),
        R.dbl(8).as("AREA"), R.dbl(9).as("VOLUME"),
        R.dbl(10).as("LENGTH_X"), R.dbl(11).as("LENGTH_Y")): _*)
    val joined = unrollSegments(data, unroll)
      .join(broadcast(headers), dk :+ "keywordIdx")
      // ABS info type: segment length IS the measured depth (compdat.py:208-209)
      .withColumn("SEGMENT_MD",
        when(col("INFO_TYPE") === "ABS", col("SEGMENT_LENGTH")))
      .join(dates, dk :+ "keywordIdx", "left")
    dropKeys(joined, dk, keepDeckId)
      .orderBy(orderKeys(dk, keepDeckId, Seq(col("WELL"), col("SEGMENT1"))): _*)
  }

  private def dropKeys(df: DataFrame, dk: Seq[String], keepDeckId: Boolean): DataFrame = {
    val base = df.drop("keywordIdx", "recordIdx")
    if (keepDeckId) base else base.drop(dk: _*)
  }

  private def orderKeys(dk: Seq[String], keepDeckId: Boolean,
      cols: Seq[org.apache.spark.sql.Column]): Seq[org.apache.spark.sql.Column] =
    (if (keepDeckId) dk.map(col) else Nil) ++ cols

  /** COMPSEGS: per-connection segment assignment rows with well header. */
  def compsegs(events: DataFrame, keepDeckId: Boolean = false): DataFrame = {
    if (!keepDeckId) Schedule.requireSingleDeck(events, "msw")
    val dk = Schedule.deckKeys(events)
    val dates = Schedule.keywordDates(events, keepDeckId = dk.nonEmpty)
    val recs = kw(events, "COMPSEGS")
    val headers = recs.filter(col("recordIdx") === 0)
      .select(dk.map(col) ++ Seq(col("keywordIdx"), R.str(0).as("WELL")): _*)
    val data = recs.filter(col("recordIdx") > 0)
      .select(dk.map(col) ++ Seq(col("keywordIdx"), col("recordIdx"),
        R.int(0).as("I"), R.int(1).as("J"), R.int(2).as("K"),
        R.int(3).as("BRANCH"),
        R.dbl(4).as("DISTANCE_START"), R.dbl(5).as("DISTANCE_END"),
        R.str(6).as("DIRECTION"), R.int(7).as("END_IJK"),
        R.dbl(8).as("CENTER_DEPTH"), R.dbl(9).as("THERMAL_LENGTH"),
        R.int(10).as("SEGMENT_NUMBER")): _*)
    val joined = data.join(broadcast(headers), dk :+ "keywordIdx")
      .join(dates, dk :+ "keywordIdx", "left")
    dropKeys(joined, dk, keepDeckId)
      .orderBy(orderKeys(dk, keepDeckId,
        Seq(col("WELL"), col("I"), col("J"), col("K"))): _*)
  }

  /** WSEGSICD: spiral ICD segments (flat records, segment range unrolled). */
  def wsegsicd(events: DataFrame, unroll: Boolean = true,
      keepDeckId: Boolean = false): DataFrame =
    segRecords(events, "WSEGSICD", unroll,
      dblCols = Seq("STRENGTH" -> 3, "LENGTH" -> 4, "DENSITY_CALI" -> 5,
        "VISCOSITY_CALI" -> 6, "CRITICAL_VALUE" -> 7, "WIDTH_TRANS" -> 8,
        "MAX_VISC_RATIO" -> 9, "METHOD_SCALING_FACTOR" -> 10,
        "MAX_ABS_RATE" -> 11),
      statusIdx = Some(12), keepDeckId = keepDeckId)

  /** WSEGAICD: autonomous ICD segments. */
  def wsegaicd(events: DataFrame, unroll: Boolean = true,
      keepDeckId: Boolean = false): DataFrame =
    segRecords(events, "WSEGAICD", unroll,
      dblCols = Seq("STRENGTH" -> 3, "LENGTH" -> 4, "DENSITY_CALI" -> 5,
        "VISCOSITY_CALI" -> 6, "CRITICAL_VALUE" -> 7, "WIDTH_TRANS" -> 8,
        "MAX_VISC_RATIO" -> 9, "METHOD_SCALING_FACTOR" -> 10,
        "MAX_ABS_RATE" -> 11, "FLOW_RATE_EXPONENT" -> 12, "VISC_EXPONENT" -> 13),
      statusIdx = Some(14),
      tail = Seq("OIL_FLOW_FRACTION" -> 15, "WATER_FLOW_FRACTION" -> 16,
        "GAS_FLOW_FRACTION" -> 17, "OIL_VISC_FRACTION" -> 18,
        "WATER_VISC_FRACTION" -> 19, "GAS_VISC_FRACTION" -> 20),
      keepDeckId = keepDeckId)

  private def segRecords(events: DataFrame, name: String, unroll: Boolean,
      dblCols: Seq[(String, Int)], statusIdx: Option[Int],
      tail: Seq[(String, Int)] = Nil, keepDeckId: Boolean): DataFrame = {
    if (!keepDeckId) Schedule.requireSingleDeck(events, "msw")
    val dk = Schedule.deckKeys(events)
    val dates = Schedule.keywordDates(events, keepDeckId = dk.nonEmpty)
    val base = kw(events, name).select(
      dk.map(col) ++ Seq(col("keywordIdx"), col("recordIdx"),
        R.str(0).as("WELL"), R.int(1).as("SEGMENT1"), R.int(2).as("SEGMENT2")) ++
        dblCols.map { case (n, i) => R.dbl(i).as(n) } ++
        statusIdx.map(i => R.str(i, "OPEN").as("STATUS")).toSeq ++
        tail.map { case (n, i) => R.dbl(i).as(n) }: _*)
    val joined = unrollSegments(base, unroll)
      .join(dates, dk :+ "keywordIdx", "left")
    dropKeys(joined, dk, keepDeckId)
      .orderBy(orderKeys(dk, keepDeckId, Seq(col("WELL"), col("SEGMENT1"))): _*)
  }

  /** WSEGVALV: segment valves (no range — one segment per record). */
  def wsegvalv(events: DataFrame, keepDeckId: Boolean = false): DataFrame = {
    if (!keepDeckId) Schedule.requireSingleDeck(events, "msw")
    val dk = Schedule.deckKeys(events)
    val dates = Schedule.keywordDates(events, keepDeckId = dk.nonEmpty)
    val joined = kw(events, "WSEGVALV").select(
      dk.map(col) ++ Seq(col("keywordIdx"),
        R.str(0).as("WELL"), R.int(1).as("SEGMENT_NUMBER"),
        R.dbl(2).as("CV"), R.dbl(3).as("AREA"), R.dbl(4).as("EXTRA_LENGTH"),
        R.dbl(5).as("PIPE_D"), R.dbl(6).as("ROUGHNESS"), R.dbl(7).as("PIPE_A"),
        R.str(8, "OPEN").as("STATUS"), R.dbl(9).as("MAX_A")): _*)
      .join(dates, dk :+ "keywordIdx", "left")
    dropKeys(joined, dk, keepDeckId)
      .orderBy(orderKeys(dk, keepDeckId,
        Seq(col("WELL"), col("SEGMENT_NUMBER"))): _*)
  }

  /** All MSW frames from deck text (reference deck2dfs dict shape). */
  def deck2dfs(spark: SparkSession, deckText: String): Map[String, DataFrame] = {
    val events = DeckParser.toDS(spark, deckText).toDF()
    Map(
      "WELSEGS" -> welsegs(events),
      "COMPSEGS" -> compsegs(events),
      "WSEGSICD" -> wsegsicd(events),
      "WSEGAICD" -> wsegaicd(events),
      "WSEGVALV" -> wsegvalv(events))
  }
}
