package graft

import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp
import org.apache.spark.sql.functions.lit
import graft.modules.Summary

class SummarySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val ts = (s: String) => Timestamp.valueOf(s)

  private lazy val long = Seq(
    ("FOPT", ts("2000-01-15 00:00:00"), 100.0),
    ("FOPT", ts("2000-03-15 00:00:00"), 400.0),
    ("FOPR", ts("2000-01-15 00:00:00"), 10.0),
    ("FOPR", ts("2000-03-15 00:00:00"), 30.0)
  ).toDF("VECTOR", "DATE", "VALUE")

  test("resample monthly: linear interpolation between samples, clamped outside") {
    val out = Summary.resample(long, "monthly")
      .filter("VECTOR = 'FOPT'").orderBy("DATE").collect()
    val byDate = out.map(r => r.getTimestamp(1).toString -> r.getDouble(2)).toMap
    assert(byDate("2000-01-01 00:00:00.0") == 100.0) // before first sample → clamp
    // 2000-02-01 is 17 of 60 days between samples: 100 + 300*17/60 = 185
    assert(math.abs(byDate("2000-02-01 00:00:00.0") - 185.0) < 1e-9)
    assert(byDate("2000-04-01 00:00:00.0") == 400.0) // after last → clamp
  }

  test("resample step semantics hold the previous sample (rate vectors)") {
    val out = Summary.resample(long, "monthly", step = true)
      .filter("VECTOR = 'FOPR'").orderBy("DATE").collect()
    val byDate = out.map(r => r.getTimestamp(1).toString -> r.getDouble(2)).toMap
    assert(byDate("2000-02-01 00:00:00.0") == 10.0) // held, not interpolated
    assert(byDate("2000-04-01 00:00:00.0") == 30.0)
  }

  test("rollforward keeps an on-boundary max date as the last grid point") {
    // reference test_datenormalization: daily grid for data ending exactly
    // on a day boundary ends ON that day; monthly rolls forward past it
    val daily = Summary.resample(long, "daily").filter("VECTOR = 'FOPT'")
      .agg(org.apache.spark.sql.functions.max("DATE")).head.getTimestamp(0)
    assert(daily.toString == "2000-03-15 00:00:00.0")
    val monthly = Summary.resample(long, "monthly").filter("VECTOR = 'FOPT'")
      .agg(org.apache.spark.sql.functions.max("DATE")).head.getTimestamp(0)
    assert(monthly.toString == "2000-04-01 00:00:00.0")
  }

  test("rate semantics: backward fill in range, zero beyond the last sample") {
    // reference test_extrapolation: rates are zero in the future,
    // and a rate applies to the report interval ENDING at its sample
    val out = Summary.resample(long, "monthly", rate = true)
      .filter("VECTOR = 'FOPR'").orderBy("DATE").collect()
    val byDate = out.map(r => r.getTimestamp(1).toString -> r.getDouble(2)).toMap
    assert(byDate("2000-01-01 00:00:00.0") == 10.0) // first interval's rate
    assert(byDate("2000-02-01 00:00:00.0") == 30.0) // interval ending 03-15
    assert(byDate("2000-03-01 00:00:00.0") == 30.0)
    assert(byDate("2000-04-01 00:00:00.0") == 0.0) // extrapolated future
  }

  test("restart chaining prepends parent history before the restart start") {
    val parent = Seq(
      ("FOPT", ts("2000-01-15 00:00:00"), 100.0),
      ("FOPT", ts("2000-02-15 00:00:00"), 150.0), // superseded: restart rewrites it
      ("FWPT", ts("2000-01-15 00:00:00"), 7.0))   // vector absent in restart → kept
      .toDF("VECTOR", "DATE", "VALUE")
    val current = Seq(
      ("FOPT", ts("2000-02-15 00:00:00"), 160.0),
      ("FOPT", ts("2000-03-15 00:00:00"), 400.0))
      .toDF("VECTOR", "DATE", "VALUE")
    val out = Summary.chainRestart(parent, current).orderBy("VECTOR", "DATE").collect()
    assert(out.map(r => (r.getString(0), r.getDouble(2))).toSeq ==
      Seq(("FOPT", 100.0), ("FOPT", 160.0), ("FOPT", 400.0), ("FWPT", 7.0)))
  }

  test("vector metadata from mnemonics; auto-resample picks mode per vector") {
    val meta = Summary.vectorMeta(
      Seq(("WOPR:OP_1", ts("2000-01-15 00:00:00"), 1.0),
        ("FOPT", ts("2000-01-15 00:00:00"), 1.0),
        ("FOPTH", ts("2000-01-15 00:00:00"), 1.0),
        ("BPR:1:2", ts("2000-01-15 00:00:00"), 1.0))
        .toDF("VECTOR", "DATE", "VALUE"))
      .collect().map(r => r.getAs[String]("VECTOR") -> r).toMap
    val wopr = meta("WOPR:OP_1")
    assert(wopr.getAs[String]("SCOPE") == "WELL" && wopr.getAs[String]("WGNAME") == "OP_1")
    assert(wopr.getAs[Boolean]("IS_RATE") && !wopr.getAs[Boolean]("IS_TOTAL"))
    val fopt = meta("FOPT")
    assert(fopt.getAs[Boolean]("IS_TOTAL") && !fopt.getAs[Boolean]("IS_RATE"))
    assert(meta("FOPTH").getAs[Boolean]("IS_HISTORICAL") &&
      meta("FOPTH").getAs[Boolean]("IS_TOTAL"))
    assert(meta("BPR:1:2").getAs[String]("SCOPE") == "BLOCK")
    // pressures ending in R are NOT rates (stem whitelist, not endsWith):
    // FPR field pressure, RPR region pressure, BPR block pressure
    assert(!meta("BPR:1:2").getAs[Boolean]("IS_RATE"))
    val meta2 = Summary.vectorMeta(
      Seq(("FPR", ts("2000-01-15 00:00:00"), 1.0),
        ("RPR:1", ts("2000-01-15 00:00:00"), 1.0),
        ("WWCT:OP_1", ts("2000-01-15 00:00:00"), 1.0),
        ("WWCTH:OP_1", ts("2000-01-15 00:00:00"), 1.0),
        ("FGOR", ts("2000-01-15 00:00:00"), 1.0),
        ("WBHP:OP_1", ts("2000-01-15 00:00:00"), 1.0))
        .toDF("VECTOR", "DATE", "VALUE"))
      .collect().map(r => r.getAs[String]("VECTOR") -> r).toMap
    assert(!meta2("FPR").getAs[Boolean]("IS_RATE") &&
      !meta2("FPR").getAs[Boolean]("IS_TOTAL"))
    assert(!meta2("RPR:1").getAs[Boolean]("IS_RATE"))
    // ratio vectors are rate-typed (and never totals despite trailing T)
    assert(meta2("WWCT:OP_1").getAs[Boolean]("IS_RATE") &&
      !meta2("WWCT:OP_1").getAs[Boolean]("IS_TOTAL"))
    assert(meta2("WWCTH:OP_1").getAs[Boolean]("IS_RATE") &&
      meta2("WWCTH:OP_1").getAs[Boolean]("IS_HISTORICAL"))
    assert(meta2("FGOR").getAs[Boolean]("IS_RATE"))
    assert(!meta2("WBHP:OP_1").getAs[Boolean]("IS_RATE"))

    // auto mode: FOPR (rate) extrapolates to 0 past its range; FOPT
    // (cumulative) clamps — in the SAME call
    val out = Summary.resampleAuto(long, "monthly")
      .collect().map(r => (r.getString(0), r.getTimestamp(1).toString) -> r.getDouble(2)).toMap
    assert(out(("FOPR", "2000-04-01 00:00:00.0")) == 0.0)
    assert(out(("FOPT", "2000-04-01 00:00:00.0")) == 400.0)
  }

  test("selectDates: raw/first/last/ISO modes (resample_smry_dates parity)") {
    import org.apache.spark.sql.functions.col
    // raw with boundaries: strict interior rows + interpolated boundary rows
    val raw = Summary.selectDates(long, "raw",
      startDate = Some("2000-02-01"), endDate = Some("2000-03-01"))
      .filter(col("VECTOR") === "FOPT").orderBy("DATE").collect()
      .map(r => r.getTimestamp(1).toString -> r.getDouble(2))
    // interior samples: 2000-01-15 excluded (< start), 2000-03-15 excluded
    // (> end); boundary rows interpolated at 100 + 300*(17|46)/60
    assert(raw.map(_._1).toSeq ==
      Seq("2000-02-01 00:00:00.0", "2000-03-01 00:00:00.0"))
    assert(math.abs(raw(0)._2 - 185.0) < 1e-9)
    assert(math.abs(raw(1)._2 - 330.0) < 1e-9)

    val first = Summary.selectDates(long, "first").collect()
    assert(first.length == 2 && first.forall(_.getTimestamp(1) == ts("2000-01-15 00:00:00")))
    val last = Summary.selectDates(long, "last").collect()
    assert(last.length == 2 && last.forall(_.getTimestamp(1) == ts("2000-03-15 00:00:00")))
    assert(last.find(_.getString(0) == "FOPT").get.getDouble(2) == 400.0)

    val iso = Summary.selectDates(long, "2000-02-01")
      .filter(col("VECTOR") === "FOPR").collect()
    assert(iso.length == 1 && math.abs(iso(0).getDouble(2) - (10.0 + 20.0 * 17 / 60)) < 1e-9)

    // frequency strings still delegate to resample
    assert(Summary.selectDates(long, "monthly").count() ==
      Summary.resample(long, "monthly").count())

    // auto mode: FOPR (a rate) backward-fills at an explicit date instead
    // of interpolating linearly — the SMSPEC-typed sampling resdata does
    val autoIso = Summary.selectDates(long, "2000-02-01", auto = true)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(autoIso("FOPR") == 30.0) // next sample's rate, not ~15.67
    assert(math.abs(autoIso("FOPT") - 185.0) < 1e-9) // totals stay linear
  }

  test("attachMeta: vector typing lands in StructField metadata, survives parquet") {
    val wide = Summary.toWide(long, Seq("FOPT", "FOPR"))
    val tagged = Summary.attachMeta(wide)
    val foprMeta = tagged.schema("FOPR").metadata
    assert(foprMeta.getBoolean("is_rate") && !foprMeta.getBoolean("is_total"))
    assert(foprMeta.getString("scope") == "FIELD")
    assert(tagged.schema("FOPT").metadata.getBoolean("is_total"))
    assert(tagged.schema("DATE").metadata.toString == "{}")
    val dir = java.nio.file.Files.createTempDirectory("graft-meta").toString
    tagged.write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    assert(back.schema("FOPR").metadata.getBoolean("is_rate"))
    // computed columns drop metadata; Ops.copyMetadata restores it for
    // surviving columns (SURVEY §4.3 — the metadata-preserving select)
    import org.apache.spark.sql.functions.{col, sum}
    val computed = tagged.select(col("DATE"),
      (col("FOPR") * 2).as("FOPR"), col("FOPT"))
    assert(computed.schema("FOPR").metadata.toString == "{}")
    val restored = graft.core.Ops.copyMetadata(computed, tagged)
    assert(restored.schema("FOPR").metadata.getBoolean("is_rate"))
    assert(restored.schema("FOPT").metadata.getBoolean("is_total"))
    // values pass through untouched
    assert(restored.agg(sum("FOPR")).collect().head.getDouble(0) ==
      computed.agg(sum("FOPR")).collect().head.getDouble(0))
  }

  test("cropDates keeps both boundary dates and nothing outside them") {
    val days = Seq("2000-01-14", "2000-01-15", "2000-02-01", "2000-03-15", "2000-03-16")
      .map(d => ("FOPT", ts(s"$d 00:00:00"), 1.0)).toDF("VECTOR", "DATE", "VALUE")
    val out = Summary.cropDates(days, lit(ts("2000-01-15 00:00:00")), lit(ts("2000-03-15 00:00:00")))
      .collect().map(_.getTimestamp(1).toString).sorted.toSeq
    assert(out == Seq("2000-01-15 00:00:00.0", "2000-02-01 00:00:00.0", "2000-03-15 00:00:00.0"))
  }

  test("toWide pivots vectors into columns") {
    val wide = Summary.toWide(Summary.resample(long, "monthly"), Seq("FOPT", "FOPR"))
    assert(wide.columns.toSeq == Seq("DATE", "FOPT", "FOPR"))
    assert(wide.count() == 4)
  }
}
