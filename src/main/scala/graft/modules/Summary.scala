package graft.modules

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Summary time-series resampling — the reference's flagship query shape
  * (summary.df(): summary.py:293-432 + resample_smry_dates
  * summary.py:195-290).
  *
  * Operates on the engine's long/normalized summary form
  * `(DATE, VECTOR, VALUE)` (SURVEY.md §1.1): generate the normalized date
  * dimension (rollback start / rollforward end to frequency boundaries),
  * then for every (vector, target date) linearly interpolate between the
  * neighboring samples — totals/cumulatives interpolate linearly, rates
  * take the previous sample (step semantics). The whole thing is two
  * window passes over a union (the scalable as-of shape, no per-key
  * cartesian): one shuffle on VECTOR.
  */
object Summary {

  /** Resample each vector onto the freq-normalized date grid spanning its
    * own [min,max] date range. Rollforward of the end bound is conditional
    * (reference test_datenormalization: a max date already ON a grid
    * boundary IS the last grid point; only off-boundary dates roll to the
    * next one — pandas offset.rollforward semantics).
    * @param step true → step (previous-value) semantics;
    *             false → linear interpolation between neighbors.
    * @param rate true → Eclipse rate-vector semantics: a target's value is
    *             the rate of the report interval CONTAINING it (backward
    *             fill), and 0.0 beyond the last sample (reference
    *             test_extrapolation: "rates should be zero, cumulatives
    *             constant"). Overrides `step`.
    */
  def resample(long: DataFrame, freq: String, step: Boolean = false,
      rate: Boolean = false): DataFrame = {
    val bounds = long.groupBy(col("VECTOR").as("V2"))
      .agg(min(col("DATE")).as("mn"), max(col("DATE")).as("mx"))
    // per-vector date dimension: rollback/rollforward to freq boundaries
    // (same normalize semantics as Ops.dateDimension, keyed by vector)
    val mxT = col("mx").cast("timestamp")
    val mxTrunc = date_trunc(freqField(freq), col("mx")).cast("timestamp")
    val gridEnd = when(mxTrunc === mxT, mxT)
      .otherwise((mxTrunc + freqStep(freq)).cast("timestamp"))
    val targets = bounds.select(col("V2").as("VECTOR"),
      explode(sequence(
        date_trunc(freqField(freq), col("mn")).cast("timestamp"),
        gridEnd,
        freqStep(freq))).as("DATE"))
    interpAt(long, targets, step, rate)
  }

  /** Interpolated values of every vector at the given (VECTOR, DATE)
    * target rows: union the targets into the sample stream and resolve
    * each target from its per-vector window neighbors — linear between
    * samples, clamped outside the range (step → previous sample held,
    * rate → backward fill inside / zero beyond the last sample). One
    * shuffle on VECTOR; shared tail of [[resample]] and [[atDates]].
    */
  private def interpAt(long: DataFrame, targets: DataFrame,
      step: Boolean, rate: Boolean): DataFrame = {
    val t = targets.withColumn("__side", lit(1))
      .withColumn("VALUE", lit(null).cast("double"))
    val samples = long.select(col("VECTOR"), col("DATE"), col("VALUE"))
      .withColumn("__side", lit(0))

    val u = samples.unionByName(t)
    val wPrev = Window.partitionBy(col("VECTOR")).orderBy(col("DATE"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // "next sample" as a reverse-ordered RUNNING frame, NOT an explicit
    // [currentRow, unboundedFollowing] frame: WindowExec re-scans to the
    // partition end for EVERY row of an unbounded-following frame —
    // quadratic per partition (measured 437 s at sf0.1 on q31 where the
    // running form is sub-second; hidden for 7 rounds because count()
    // pruned the interp column). last(ignoreNulls) over the reversed
    // order is the same value, computed incrementally.
    val wNext = Window.partitionBy(col("VECTOR"))
      .orderBy(col("DATE").desc, col("__side").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val x = unix_micros(col("DATE")).cast("double")
    val prevV = last(col("VALUE"), ignoreNulls = true).over(wPrev)
    val prevX = last(when(col("VALUE").isNotNull, x), ignoreNulls = true).over(wPrev)
    val nextV = last(col("VALUE"), ignoreNulls = true).over(wNext)
    val nextX = last(when(col("VALUE").isNotNull, x), ignoreNulls = true).over(wNext)
    val interp =
      when(col("VALUE").isNotNull, col("VALUE"))
        // rate: backward fill inside the sampled range, zero after the
        // last sample (before the first, the first interval's rate applies)
        .when(lit(rate), coalesce(nextV, lit(0.0)))
        .when(lit(step) && prevV.isNotNull, prevV)
        .when(prevV.isNull, nextV).when(nextV.isNull, prevV)
        .when(nextX === prevX, prevV)
        .otherwise(prevV + (nextV - prevV) * (x - prevX) / (nextX - prevX))
    u.withColumn("VALUE", interp)
      .filter(col("__side") === 1).drop("__side")
      .select(col("VECTOR"), col("DATE"), col("VALUE"))
  }

  /** Interpolated samples of every vector at explicit dates (each vector
    * gets every date). The long-form analogue of passing a date / date
    * list as the reference's `time_index`.
    */
  def atDates(long: DataFrame, dates: Seq[String], step: Boolean = false,
      rate: Boolean = false): DataFrame = {
    val spark = long.sparkSession
    import spark.implicits._
    val targets = long.select(col("VECTOR")).distinct()
      .crossJoin(dates.map(d => java.sql.Timestamp.valueOf(d + " 00:00:00")).toDF("DATE"))
    interpAt(long, targets, step, rate)
  }

  /** [[atDates]] with per-vector interpolation mode from [[vectorMeta]]
    * (rate vectors backward-fill / zero-extrapolate, everything else
    * linear) — the typing resdata applies when sampling at explicit
    * dates.
    */
  def atDatesAuto(long: DataFrame, dates: Seq[String]): DataFrame = {
    val (rateRows, otherRows) = splitByRate(long)
    atDates(otherRows, dates).unionByName(atDates(rateRows, dates, rate = true))
  }

  /** The reference's `resample_smry_dates` date-selection modes
    * (summary.py:195-291) over the long form: `raw` returns the samples
    * (cropped to (start, end) when supplied, with the boundary dates
    * force-included as interpolated rows); `first` / `last` sample every
    * vector at the corpus-wide first/last date; an ISO date string
    * samples at that date; any other string is a resampling frequency
    * delegated to [[resample]]. With `auto = true` every interpolated
    * value follows the vector's SMSPEC typing ([[vectorMeta]]: rates
    * backward-fill, totals/pressures linear) instead of uniform linear.
    */
  def selectDates(long: DataFrame, freq: String,
      startDate: Option[String] = None, endDate: Option[String] = None,
      auto: Boolean = false): DataFrame = {
    def at(dates: Seq[String]) =
      if (auto) atDatesAuto(long, dates) else atDates(long, dates)
    freq match {
      case "raw" =>
        val inRange = long
          .filter(startDate.map(s => col("DATE") > lit(s).cast("timestamp")).getOrElse(lit(true)))
          .filter(endDate.map(e => col("DATE") < lit(e).cast("timestamp")).getOrElse(lit(true)))
        val boundaries = (startDate.toSeq ++ endDate.toSeq)
        if (boundaries.isEmpty) inRange
        else inRange.unionByName(at(boundaries))
      case "first" =>
        val d = long.agg(min(col("DATE"))).head.getTimestamp(0)
        at(Seq(d.toLocalDateTime.toLocalDate.toString))
      case "last" =>
        val d = long.agg(max(col("DATE"))).head.getTimestamp(0)
        at(Seq(d.toLocalDateTime.toLocalDate.toString))
      case iso if iso.matches("""\d{4}-\d{2}-\d{2}""") => at(Seq(iso))
      case f => if (auto) resampleAuto(long, f) else resample(long, f)
    }
  }

  private def freqField(freq: String): String = freq match {
    case "daily" => "day"; case "weekly" => "week"
    case "monthly" => "month"; case "yearly" => "year"
    case other => throw new IllegalArgumentException(other)
  }
  private def freqStep(freq: String): Column = freq match {
    case "daily" => expr("interval 1 day"); case "weekly" => expr("interval 1 week")
    case "monthly" => expr("interval 1 month"); case "yearly" => expr("interval 1 year")
    case other => throw new IllegalArgumentException(other)
  }

  /** Rate-variable stems of the SMSPEC variable-typing convention: the
    * scope-stripped, history-stripped mnemonic must be ON this list to be
    * a rate — a trailing `R` alone is NOT sufficient (FPR/RPR/BPR are
    * pressures). The reference takes `is_rate` from resdata's smspec
    * typing (summary.py:592), which consults exactly such a stem list;
    * ratio vectors (GOR/WCT/OGR/WGR/GLR) are rate-typed there too.
    */
  private val RateStems: Set[String] = Set(
    "OPR", "OIR", "OVPR", "OVIR", "OFR", "OPP", "OPI", "OMR",
    "GPR", "GIR", "GVPR", "GVIR", "GFR", "GPP", "GPI", "GMR",
    "WGPR", "WGIR", "GLIR", "RGR", "EGR", "EXGR", "SGR", "GSR",
    "FGR", "GIMR", "GCR",
    "WPR", "WIR", "WVPR", "WVIR", "WFR", "WPP", "WPI", "WMR",
    "LPR", "LFR", "VPR", "VIR", "VFR",
    "NPR", "NIR", "CPR", "CIR", "SIR", "SPR", "TIR", "TPR",
    "GOR", "WCT", "OGR", "WGR", "GLR")

  /** Cumulative-total stems, same convention: rate stems with the trailing
    * `R` swapped for `T` (plus the free/solution oil splits).
    */
  private val TotalStems: Set[String] = Set(
    "OPT", "OIT", "OVPT", "OVIT", "OFT", "OMT",
    "GPT", "GIT", "GVPT", "GVIT", "GFT", "GMT",
    "WGPT", "WGIT", "EGT", "EXGT", "SGT", "GST", "FGT", "GIMT", "GCT",
    "WPT", "WIT", "WVPT", "WVIT", "WFT", "WMT",
    "LPT", "VPT", "VIT", "NPT", "NIT", "CPT", "CIT", "SIT", "SPT",
    "TIT", "TPT", "OPTF", "OPTS")

  /** Per-vector metadata from the Eclipse mnemonic convention (the
    * reference reads it from the binary SMSPEC, summary.py:567-599; the
    * naming convention itself is public: `KEYWORD[:WGNAME[:NUM]]`, scope
    * from the leading letter — F field / W well / G group / R region /
    * B block / C connection — and a trailing `H` marks a historical
    * vector). Rate/total classification matches the stem — scope letter
    * and trailing H stripped — against the explicit [[RateStems]] /
    * [[TotalStems]] lists, mirroring the SMSPEC variable typing rather
    * than guessing from the last letter (which would call pressures like
    * FPR rates).
    */
  def vectorMeta(long: DataFrame): DataFrame = {
    val parts = split(col("VECTOR"), ":")
    val kw = element_at(parts, 1)
    val base = when(kw.endsWith("H"), kw.substr(lit(1), length(kw) - 1)).otherwise(kw)
    val stem = base.substr(lit(2), lit(16))
    long.select(col("VECTOR")).distinct()
      .withColumn("KEYWORD", kw)
      .withColumn("WGNAME", when(size(parts) >= 2, element_at(parts, 2)))
      .withColumn("NUM", when(size(parts) >= 3, element_at(parts, 3).cast("int")))
      .withColumn("SCOPE",
        when(kw.startsWith("F"), "FIELD").when(kw.startsWith("W"), "WELL")
          .when(kw.startsWith("G"), "GROUP").when(kw.startsWith("R"), "REGION")
          .when(kw.startsWith("B"), "BLOCK").when(kw.startsWith("C"), "CONNECTION")
          .otherwise("OTHER"))
      .withColumn("IS_HISTORICAL", kw.endsWith("H"))
      .withColumn("IS_TOTAL", stem.isin(TotalStems.toSeq: _*))
      .withColumn("IS_RATE", stem.isin(RateStems.toSeq: _*))
  }

  /** Resample with per-vector semantics driven by [[vectorMeta]]: rate
    * vectors get backward-fill + zero extrapolation, everything else
    * (totals, pressures, ratios) linear interpolation — the mode the
    * reference's resdata backend applies per smspec variable type, here
    * decided from the mnemonic.
    */
  /** (rate rows, other rows) split by the vector's SMSPEC typing. */
  private def splitByRate(long: DataFrame): (DataFrame, DataFrame) = {
    val rates = vectorMeta(long).filter(col("IS_RATE")).select("VECTOR")
    (long.join(broadcast(rates), Seq("VECTOR")),
      long.join(broadcast(rates), Seq("VECTOR"), "left_anti"))
  }

  def resampleAuto(long: DataFrame, freq: String): DataFrame = {
    val (rateRows, otherRows) = splitByRate(long)
    resample(otherRows, freq).unionByName(resample(rateRows, freq, rate = true))
  }

  /** Long → wide pivot on vector names (the reference's wide output form).
    * Done via conditional aggregation when the vector list is known, or
    * Spark's pivot otherwise.
    */
  def toWide(long: DataFrame, vectors: Seq[String]): DataFrame =
    long.groupBy(col("DATE"))
      .pivot(col("VECTOR"), vectors)
      .agg(first(col("VALUE")))
      .orderBy(col("DATE"))

  /** Attach per-vector metadata to a wide frame's columns as
    * `StructField.metadata` — the Spark analogue of the reference's
    * `smry_meta` dict carried into Arrow field metadata
    * (summary.py:567-599 / 486-526): keyword, wgname, scope, and the
    * is_rate / is_total / is_historical typing from [[vectorMeta]].
    * Survives a parquet round-trip, so downstream consumers (resampling
    * mode selection, unit-aware sinks) read it from the schema instead
    * of re-deriving it.
    */
  def attachMeta(wide: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.MetadataBuilder
    val spark = wide.sparkSession
    import spark.implicits._
    val vecCols = wide.columns.filterNot(_ == "DATE")
    val meta = vectorMeta(vecCols.toSeq.toDF("VECTOR"))
      .collect().map(r => r.getAs[String]("VECTOR") -> r).toMap
    val cols = wide.columns.map { c =>
      meta.get(c) match {
        case Some(r) =>
          val b = new MetadataBuilder()
            .putString("keyword", r.getAs[String]("KEYWORD"))
            .putString("scope", r.getAs[String]("SCOPE"))
            .putBoolean("is_rate", r.getAs[Boolean]("IS_RATE"))
            .putBoolean("is_total", r.getAs[Boolean]("IS_TOTAL"))
            .putBoolean("is_historical", r.getAs[Boolean]("IS_HISTORICAL"))
          Option(r.getAs[String]("WGNAME")).foreach(b.putString("wgname", _))
          col(c).as(c, b.build())
        case None => col(c)
      }
    }
    wide.select(cols.toIndexedSeq: _*)
  }

  /** The rows whose `DATE` lies in [start, end], both bounds inclusive;
    * no row is added or moved (the reference's _crop_datelist window,
    * summary.py:88-127).
    */
  def cropDates(df: DataFrame, start: Column, end: Column): DataFrame =
    df.filter(col("DATE").between(start, end))

  /** Restart-history chaining (reference `include_restart`,
    * summary.py:299/332 — resdata walks the RESTART ancestry and prepends
    * the parent run's history): parent-case rows strictly BEFORE the
    * restarted case's first date union with the restarted case, per
    * vector. The restarted run owns every date from its start onward —
    * overlapping parent rows are superseded, which is exactly resdata's
    * behavior when a restart rewrites history. Chains fold left for
    * multi-hop ancestry.
    */
  def chainRestart(parent: DataFrame, current: DataFrame): DataFrame = {
    val firstByVec = current.groupBy(col("VECTOR").as("V2"))
      .agg(min(col("DATE")).as("__restart_start"))
    parent
      .join(broadcast(firstByVec), col("VECTOR") === col("V2"), "left")
      .filter(col("__restart_start").isNull || col("DATE") < col("__restart_start"))
      .drop("V2", "__restart_start")
      .unionByName(current)
  }

  /** Duplicate-timestamp disambiguation (W5, _ensure_unique_datetime_index
    * summary.py:435-483): every row AFTER the first sharing a DATE within
    * a vector gets an offset added, preserving report-step ordering.
    *
    * With `timestep` supplied, the offset is the row's OWN TIMESTEP value
    * scaled by `timestepUnit` (DAYS or HOURS — any other unit throws,
    * matching the reference's ValueError); without it, the n-th duplicate
    * gets n × `stepSeconds` (a deterministic fallback the reference does
    * not have — it refuses outright when TIMESTEP is absent).
    */
  /** The reference's whole duplicate-date recovery over a binary summary
    * read (summary.py:435-483): the day-resolution DATE collapses
    * sub-daily report steps, and each post-first duplicate is offset by
    * its report step's OWN TIMESTEP value in the SMSPEC-declared unit.
    * Like the reference, this REFUSES when the deck recorded no TIMESTEP
    * vector (its ValueError) — without per-step lengths the offsets
    * would be invented.
    *
    * @param withStep a `SummaryWriter.readWithStep` frame
    *                 (DATE, VECTOR, VALUE, STEP)
    * @param unit TIMESTEP's unit from `SummaryWriter.vectorUnit`
    */
  def dedupDatesWithTimestep(withStep: DataFrame, unit: String): DataFrame = {
    val ts = withStep.filter(col("VECTOR") === "TIMESTEP")
      .select(col("STEP"), col("VALUE").as("__TSTEP"))
    require(!ts.isEmpty,
      "duplicate report dates but no TIMESTEP vector to separate them " +
        "(the reference raises ValueError here, summary.py:450-455)")
    // report-step-count-sized side → broadcast
    val joined = withStep.filter(col("VECTOR") =!= "TIMESTEP")
      .join(broadcast(ts), Seq("STEP"))
    ensureUniqueDates(joined, Seq("VECTOR"), Seq(col("STEP")),
      timestep = Some(col("__TSTEP")), timestepUnit = unit)
      .drop("__TSTEP")
  }

  def ensureUniqueDates(df: DataFrame, keys: Seq[String], ord: Seq[Column],
      stepSeconds: Double = 1.0, timestep: Option[Column] = None,
      timestepUnit: String = "DAYS"): DataFrame = {
    val secondsPerUnit = timestepUnit.toUpperCase match {
      case "DAYS" => 86400.0
      case "HOURS" => 3600.0
      case u => throw new IllegalArgumentException(
        s"TIMESTEP unit $u not recognized (expected DAYS or HOURS)")
    }
    val offsetSeconds = timestep.map(_ * secondsPerUnit)
      .getOrElse(col("__n") * stepSeconds)
    val w = Window.partitionBy((keys :+ "DATE").map(col).toIndexedSeq: _*)
      .orderBy(ord.toIndexedSeq: _*)
    df.withColumn("__n", row_number().over(w) - 1)
      .withColumn("DATE",
        when(col("__n") > 0,
          col("DATE") + make_dt_interval(lit(0), lit(0), lit(0), offsetSeconds))
          .otherwise(col("DATE")))
      .drop("__n")
  }
}
