package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.io.{DatePred, DecodeStats, EclBinary, EclKw}
import graft.io.EclKw.Kw

/** DSv2 filter pushdown for the binary sources: proves not only that a
  * pushed DATE/WELL filter returns the right ROWS (the q171/q173/q174
  * gates hash that against DuckDB) but that it skips the DECODE — the
  * unselected report steps / report groups / PARAMS records are seeked
  * past at the byte level, which is the whole point of the pushdown
  * (the `--rstdates` / grid.py:54-123 `dates2rstindices` discipline).
  * The [[graft.io.DecodeStats]] payload counters are the evidence: a
  * row count alone cannot distinguish decode-then-filter from true
  * seek-past.
  */
class EclPushdownSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def tmpDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-pushdown-$tag")
    d.toFile.deleteOnExit()
    d.toString
  }

  private def day(s: String): Long = java.time.LocalDate.parse(s).toEpochDay

  // ---- fixtures -------------------------------------------------------------

  /** 5-step UNRST, 2 cell vectors per step, dates 2022-03-01..05. */
  private def writeUnrst(dir: String, nactive: Int = 40): String = {
    val path = s"$dir/PUSH.UNRST"
    EclKw.write(path, (0 until 5).flatMap { t =>
      val intehead = Array.tabulate(67) {
        case 11 => nactive
        case 64 => 1 + t
        case 65 => 3
        case 66 => 2022
        case _ => 0
      }
      Seq(
        Kw("SEQNUM", "INTE", Array(t)),
        Kw("INTEHEAD", "INTE", intehead),
        Kw("PRESSURE", "REAL", Array.tabulate(nactive)(a => (a + 10f * t))),
        Kw("SWAT", "REAL", Array.tabulate(nactive)(a => (a % 8) / 8f)))
    })
    path
  }

  /** 3 TIME groups: wells W0/W1/W2 on dates 2023-05-01/02/03. */
  private def writeRft(dir: String): String = {
    val path = s"$dir/PUSH.RFT"
    EclKw.write(path, (0 until 3).flatMap { t =>
      Seq(
        Kw("TIME", "REAL", Array(t.toFloat)),
        Kw("DATE", "INTE", Array(1 + t, 5, 2023)),
        Kw("WELLETC", "CHAR", Array("", s"W$t")),
        Kw("CONIPOS", "INTE", Array.tabulate(6)(i => i + 1)),
        Kw("DEPTH", "REAL", Array.tabulate(6)(i => 100f * t + i)),
        Kw("PRESSURE", "REAL", Array.tabulate(6)(i => 200f + 10 * t + i)))
    })
    path
  }

  // ---- kernel-level decode skip --------------------------------------------

  test("unrst kernel: DATE equality decodes only the matching step's payloads") {
    val d = tmpDir("unrst")
    val path = writeUnrst(d)

    DecodeStats.unrstVecPayloads.reset()
    val full = EclBinary.restartCaseRows(path, Seq("PRESSURE", "SWAT")).toVector
    val fullPayloads = DecodeStats.unrstVecPayloads.sum()
    assert(fullPayloads === 10) // 5 steps x 2 vectors
    assert(full.size === 5 * 40)

    val pred = DatePred.All.withEqual(day("2022-03-03"))
    DecodeStats.unrstVecPayloads.reset()
    val filtered = EclBinary.restartCaseRows(path, Seq("PRESSURE", "SWAT"), pred).toVector
    assert(DecodeStats.unrstVecPayloads.sum() === 2) // ONE step x 2 vectors
    val expected = full.filter(_.getDate(1).toString == "2022-03-03")
    assert(filtered === expected)
  }

  test("unrst kernel: DATE range decodes only in-range steps") {
    val d = tmpDir("unrst-range")
    val path = writeUnrst(d)
    val pred = DatePred.All.withMin(day("2022-03-02")).withMax(day("2022-03-04"))
    DecodeStats.unrstVecPayloads.reset()
    val rows = EclBinary.restartCaseRows(path, Seq("PRESSURE", "SWAT"), pred).toVector
    assert(DecodeStats.unrstVecPayloads.sum() === 6) // 3 steps x 2 vectors
    assert(rows.map(_.getDate(1).toString).distinct.sorted ===
      Vector("2022-03-02", "2022-03-03", "2022-03-04"))
  }

  test("unrst kernel: vectors BEFORE the clock still decode (pessimistic skip)") {
    // pathological writer: PRESSURE precedes INTEHEAD inside the group.
    // The byte-skip cannot engage (the verdict isn't known yet), but the
    // kept step must carry VALUES, never nulls — skip only after an
    // exact verdict, re-check at flush.
    val d = tmpDir("unrst-patho")
    val path = s"$d/PATHO.UNRST"
    EclKw.write(path, (0 until 3).flatMap { t =>
      val intehead = Array.tabulate(67) {
        case 11 => 8; case 64 => 1 + t; case 65 => 9; case 66 => 2025; case _ => 0
      }
      Seq(
        Kw("SEQNUM", "INTE", Array(t)),
        Kw("PRESSURE", "REAL", Array.tabulate(8)(a => a + 100f * t)), // before clock!
        Kw("INTEHEAD", "INTE", intehead))
    })
    val pred = DatePred.All.withEqual(day("2025-09-02"))
    val rows = EclBinary.restartCaseRows(path, Seq("PRESSURE"), pred).toVector
    assert(rows.size === 8)
    assert(rows.forall(_.getDate(1).toString == "2025-09-02"))
    // the values are REAL data, not nulls from a wrongly-skipped payload
    assert(rows.map(r => r.getDouble(3)).sorted === (0 until 8).map(_ + 100.0))
  }

  test("rft kernel: WELL + DATE filters skip disqualified groups' vectors") {
    val d = tmpDir("rft")
    val path = writeRft(d)

    DecodeStats.rftVecPayloads.reset()
    val full = EclBinary.rftCaseRows(path, Seq("DEPTH", "PRESSURE")).toVector
    assert(DecodeStats.rftVecPayloads.sum() === 6) // 3 groups x 2 vectors
    assert(full.size === 18)

    // well-only
    DecodeStats.rftVecPayloads.reset()
    val w1 = EclBinary.rftCaseRows(path, Seq("DEPTH", "PRESSURE"),
      wells = Some(Set("W1"))).toVector
    assert(DecodeStats.rftVecPayloads.sum() === 2)
    assert(w1 === full.filter(_.getString(2) == "W1"))

    // date-only
    val pred = DatePred.All.withEqual(day("2023-05-03"))
    DecodeStats.rftVecPayloads.reset()
    val d3 = EclBinary.rftCaseRows(path, Seq("DEPTH", "PRESSURE"), pred).toVector
    assert(DecodeStats.rftVecPayloads.sum() === 2)
    assert(d3 === full.filter(_.getDate(1).toString == "2023-05-03"))

    // conjunction that excludes everything: zero data payloads decoded
    DecodeStats.rftVecPayloads.reset()
    val none = EclBinary.rftCaseRows(path, Seq("DEPTH", "PRESSURE"), pred,
      Some(Set("W0"))).toVector
    assert(DecodeStats.rftVecPayloads.sum() === 0)
    assert(none.isEmpty)
  }

  test("unsmry kernel: TIME-element pre-scan decodes only in-range PARAMS") {
    import spark.implicits._
    val d = tmpDir("unsmry")
    val rows = for {
      (v, vi) <- Seq("FOPR", "FOPT").zipWithIndex
      t <- 0 until 20
    } yield (v, java.sql.Date.valueOf(java.time.LocalDate.of(2021, 6, 1).plusDays(t)),
      100.0 * vi + t)
    graft.write.SummaryWriter.write(rows.toDF("VECTOR", "DATE", "VALUE"), s"$d/PUSH")

    DecodeStats.unsmryParams.reset()
    val full = graft.write.SummaryWriter.summaryCaseTuples(s"$d/PUSH.UNSMRY").toVector
    assert(DecodeStats.unsmryParams.sum() === 20)
    assert(full.size === 40)

    val pred = DatePred.All
      .withMin(day("2021-06-05")).withMax(day("2021-06-07"))
    DecodeStats.unsmryParams.reset()
    val filtered = graft.write.SummaryWriter
      .summaryCaseTuples(s"$d/PUSH.UNSMRY", pred).toVector
    assert(DecodeStats.unsmryParams.sum() === 3) // steps 4,5,6 of 20
    // same tuples (incl. the ORIGINAL step ordinals), just restricted
    assert(filtered === full.filter(t => pred.keep(t._2)))
  }

  test("streamFloatSlots: multi-chunk records decode exactly the selected slots") {
    // 2500 floats = three 1000-element data records; the selected
    // indices straddle every chunk boundary (first, last-of-chunk,
    // first-of-next, mid, last) — pins the skip/read/skip walk across
    // record framing
    val d = tmpDir("slots")
    val path = s"$d/SLOTS.BIN"
    val n = 2500
    EclKw.write(path, (0 until 3).map { rec =>
      Kw("PARAMS", "REAL", Array.tabulate(n)(i => (1000f * rec) + i))
    })
    val idxs = Array(0, 999, 1000, 1500, 2499)
    val got = EclKw.streamFloatSlots(path, "PARAMS", idxs, _ != 1)
    assert(got.map(_._1) === Vector(0, 2)) // record 1 skipped whole
    got.foreach { case (rec, vals) =>
      assert(vals === idxs.map(i => 1000f * rec + i))
    }
  }

  test("unsmry kernel: VECTOR selection decodes only the selected slots") {
    import spark.implicits._
    val d = tmpDir("unsmry-vec")
    val rows = for {
      (v, vi) <- Seq("FOPR", "FOPT", "WBHP:A1", "WOPR:A1").zipWithIndex
      t <- 0 until 12
    } yield (v, java.sql.Date.valueOf(java.time.LocalDate.of(2024, 3, 1).plusDays(t)),
      100.0 * vi + t)
    graft.write.SummaryWriter.write(rows.toDF("VECTOR", "DATE", "VALUE"), s"$d/VEC")

    DecodeStats.unsmryParams.reset()
    val full = graft.write.SummaryWriter.summaryCaseTuples(s"$d/VEC.UNSMRY").toVector
    assert(DecodeStats.unsmryParams.sum() === 12)

    // one vector: NO record fully decodes; slots = (TIME + FOPR) x 12
    DecodeStats.unsmryParams.reset()
    DecodeStats.unsmryParamSlots.reset()
    val one = graft.write.SummaryWriter.summaryCaseTuples(s"$d/VEC.UNSMRY",
      vectorSel = Some(Set("FOPR"))).toVector
    assert(DecodeStats.unsmryParams.sum() === 0)
    assert(DecodeStats.unsmryParamSlots.sum() === 24)
    assert(one === full.filter(_._3 == "FOPR"))

    // composes with the DATE pre-scan: 3 steps x (TIME + 2 vectors)
    val pred = DatePred.All
      .withMin(day("2024-03-04")).withMax(day("2024-03-06"))
    DecodeStats.unsmryParamSlots.reset()
    val both = graft.write.SummaryWriter.summaryCaseTuples(s"$d/VEC.UNSMRY",
      pred, Some(Set("FOPR", "WBHP:A1"))).toVector
    assert(DecodeStats.unsmryParamSlots.sum() === 9)
    assert(both === full.filter(t =>
      pred.keep(t._2) && Set("FOPR", "WBHP:A1")(t._3)))

    // a selection matching nothing decodes nothing
    DecodeStats.unsmryParamSlots.reset()
    assert(graft.write.SummaryWriter.summaryCaseTuples(s"$d/VEC.UNSMRY",
      vectorSel = Some(Set("NOPE"))).isEmpty)
    assert(DecodeStats.unsmryParamSlots.sum() === 0)
  }

  // ---- DSv2 end-to-end ------------------------------------------------------

  test("DSv2 unrst: pushed DATE filter skips decode and keeps answers exact") {
    val d = tmpDir("dsv2-unrst")
    val path = writeUnrst(d)
    val df = spark.read.format("eclipse-unrst")
      .option("vectors", "PRESSURE,SWAT").load(path)
      .where(col("DATE") === lit(java.sql.Date.valueOf("2022-03-02")))

    // the scan advertises the pushed predicate
    assert(df.queryExecution.executedPlan.toString.contains("datePred"))

    DecodeStats.unrstVecPayloads.reset()
    // no orderBy: a range-sort would sample-scan the source a second
    // time and double the payload count; sort driver-side instead
    val got = df.select("DATE", "ACTIVE_IDX", "PRESSURE", "SWAT")
      .collect().sortBy(_.getLong(1))
    assert(DecodeStats.unrstVecPayloads.sum() === 2) // one step, not five
    assert(got.length === 40)
    assert(got.forall(_.getDate(0).toString == "2022-03-02"))
    assert(got.map(r => (r.getLong(1), r.getDouble(2))).take(3) ===
      Array((0L, 10.0), (1L, 11.0), (2L, 12.0)))
  }

  test("DSv2 rft: pushed WELL IN filter prunes groups across the file") {
    val d = tmpDir("dsv2-rft")
    val path = writeRft(d)
    val df = spark.read.format("eclipse-rft")
      .option("vectors", "DEPTH,PRESSURE").load(path)
      .where(col("WELL").isin("W0", "W2"))
    DecodeStats.rftVecPayloads.reset()
    val got = df.select("WELL", "CONIDX", "DEPTH")
      .collect().sortBy(r => (r.getString(0), r.getInt(1)))
    // group pruning COMPOSES with column pruning: 2 of 3 groups survive
    // the WELL filter, and PRESSURE is pruned away (only DEPTH selected)
    assert(DecodeStats.rftVecPayloads.sum() === 2)
    assert(got.map(_.getString(0)).distinct === Array("W0", "W2"))
    assert(got.length === 12)
  }

  test("DSv2 unsmry: pushed DATE range matches the unfiltered scan filtered") {
    import spark.implicits._
    val d = tmpDir("dsv2-unsmry")
    val rows = for {
      (v, vi) <- Seq("FOPR", "WBHP:A1").zipWithIndex
      t <- 0 until 15
    } yield (v, java.sql.Date.valueOf(java.time.LocalDate.of(2022, 2, 1).plusDays(t)),
      10.0 * vi + t)
    graft.write.SummaryWriter.write(rows.toDF("VECTOR", "DATE", "VALUE"), s"$d/PUSH")

    val lo = java.sql.Date.valueOf("2022-02-04")
    val hi = java.sql.Date.valueOf("2022-02-06")
    val base = spark.read.format("eclipse-unsmry").load(s"$d/PUSH.UNSMRY")
    val expected = base.collect()
      .filter(r => !r.getDate(1).before(lo) && !r.getDate(1).after(hi))
      .map(_.toString).sorted
    DecodeStats.unsmryParams.reset()
    val got = base.where(col("DATE").between(lit(lo), lit(hi))).collect()
    assert(DecodeStats.unsmryParams.sum() === 3) // 3 of 15 ministeps
    assert(got.map(_.toString).sorted === expected)
  }

  test("DSv2 unsmry: pushed VECTOR filter decodes slots, never whole records") {
    import spark.implicits._
    val d = tmpDir("dsv2-vec")
    val rows = for {
      (v, vi) <- Seq("FOPR", "FOPT", "WBHP:A1", "WOPR:A1").zipWithIndex
      t <- 0 until 10
    } yield (v, java.sql.Date.valueOf(java.time.LocalDate.of(2023, 9, 1).plusDays(t)),
      10.0 * vi + t)
    graft.write.SummaryWriter.write(rows.toDF("VECTOR", "DATE", "VALUE"), s"$d/VEC")

    val base = spark.read.format("eclipse-unsmry").load(s"$d/VEC.UNSMRY")
    val expected = base.collect()
      .filter(_.getString(2) == "FOPR").map(_.toString).sorted

    val df = base.where(col("VECTOR") === "FOPR")
    // the scan advertises the pushed vector selection
    assert(df.queryExecution.executedPlan.toString.contains("vectors=FOPR"))
    DecodeStats.unsmryParams.reset()
    DecodeStats.unsmryParamSlots.reset()
    val got = df.collect()
    assert(DecodeStats.unsmryParams.sum() === 0,
      "a VECTOR-pushed scan must never fully decode a PARAMS record")
    assert(DecodeStats.unsmryParamSlots.sum() === 20) // (TIME + FOPR) x 10
    assert(got.map(_.toString).sorted === expected)
  }

  test("DSv2: CASE equality prunes input partitions - unmatched files never open") {
    val d = tmpDir("case-prune")
    val paths = (0 until 3).map { c =>
      val p = s"$d/CASE$c.UNRST"
      EclKw.write(p, (0 until 2).flatMap { t =>
        val intehead = Array.tabulate(67) {
          case 11 => 10; case 64 => 1 + t; case 65 => 7; case 66 => 2024; case _ => 0
        }
        Seq(Kw("SEQNUM", "INTE", Array(t)), Kw("INTEHEAD", "INTE", intehead),
          Kw("PRESSURE", "REAL", Array.tabulate(10)(a => a + 100f * c)))
      })
      p
    }
    val df = spark.read.format("eclipse-unrst")
      .option("vectors", "PRESSURE").load(paths: _*)
      .where(col("CASE") === paths(1))
    // file-level pruning: ONE input partition planned, not three
    assert(df.rdd.getNumPartitions === 1)
    DecodeStats.unrstVecPayloads.reset()
    val got = df.select("CASE", "ACTIVE_IDX", "PRESSURE").collect()
    assert(DecodeStats.unrstVecPayloads.sum() === 2) // case 1 only: 2 steps x 1 vec
    assert(got.length === 20 && got.forall(_.getString(0) == paths(1)))
    assert(got.forall(r => r.getDouble(2) >= 100.0 && r.getDouble(2) < 200.0))
  }

  test("DSv2: runtime (join-driven) CASE filtering is accepted without changing results") {
    import spark.implicits._
    val d = tmpDir("case-runtime")
    val paths = (0 until 3).map { c =>
      val p = s"$d/CASE$c.UNRST"
      EclKw.write(p, Seq(
        Kw("SEQNUM", "INTE", Array(0)),
        Kw("INTEHEAD", "INTE", Array.tabulate(67) {
          case 11 => 5; case 64 => 1; case 65 => 7; case 66 => 2024; case _ => 0
        }),
        Kw("PRESSURE", "REAL", Array.tabulate(5)(a => a + 10f * c))))
      p
    }
    val scan = spark.read.format("eclipse-unrst")
      .option("vectors", "PRESSURE").load(paths: _*)
    val wanted = Seq(paths(0), paths(2)).toDF("CASE")
    val joined = scan.join(broadcast(wanted), Seq("CASE"))
      .select("CASE", "ACTIVE_IDX", "PRESSURE").collect()
    assert(joined.length === 10)
    assert(joined.map(_.getString(0)).distinct.sorted ===
      Array(paths(0), paths(2)).sorted)
  }

  test("DSv2: dynamic partition pruning reaches the scan — non-matching cases never decode") {
    import spark.implicits._
    val d = tmpDir("case-dpp")
    (0 until 4).foreach { c =>
      val rows = for {
        (v, vi) <- Seq("FOPR", "FOPT").zipWithIndex
        t <- 0 until 10
      } yield (v, java.sql.Date.valueOf(java.time.LocalDate.of(2021, 1, 1).plusDays(t)),
        10.0 * vi + t + c)
      graft.write.SummaryWriter.write(rows.toDF("VECTOR", "DATE", "VALUE"), s"$d/CASE$c")
    }
    // the dim must be a FILE scan: a filtered LocalRelation folds to
    // literals (ConvertToLocalRelation) and leaves no selective
    // predicate for the DPP planner to key on — measured, r13
    (0 until 4).map(c => (s"$d/CASE$c", c % 2)).toDF("CASE", "grp")
      .write.mode("overwrite").parquet(s"$d/dim")
    val fleet = spark.read.format("eclipse-unsmry").load(s"$d/*.UNSMRY")
    val dim = spark.read.parquet(s"$d/dim").filter(col("grp") === 1)
    val joined = fleet.join(broadcast(dim), Seq("CASE"))
      .groupBy(col("CASE")).agg(count(lit(1)).as("n"))
    DecodeStats.unsmryParams.reset()
    val got = joined.collect()
    // rows: cases 1 and 3 only, 2 vectors x 10 steps each
    assert(got.map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1).toSeq ===
      Seq(s"$d/CASE1" -> 20L, s"$d/CASE3" -> 20L))
    // decode evidence: ONLY the surviving cases' PARAMS records decoded —
    // 2 cases x 10 steps, not 4 x 10; the pruned files were never opened
    assert(DecodeStats.unsmryParams.sum() === 20)
    // plan evidence: the runtime filter was actually injected on the scan
    // (the executed plan hides the BatchScanExec inside query-stage
    // leaves, so this asserts on the final plan text like AqeParitySpec)
    val scanLine = PlanText.finalPlanOf(joined).linesIterator
      .find(l => l.contains("BatchScan eclipse-unsmry"))
      .getOrElse(fail("expected the eclipse-unsmry BatchScan in the final plan"))
    assert(scanLine.contains("dynamicpruningexpression"),
      s"expected a DynamicPruningExpression runtime filter on the binary scan, got: $scanLine")
  }

  test("DSv2: a runtime DATE filter reaches the byte level — unselected steps never decode") {
    import spark.implicits._
    val d = tmpDir("date-dpp")
    (0 until 4).foreach { c =>
      val rows = for {
        (v, vi) <- Seq("FOPR", "FOPT").zipWithIndex
        t <- 0 until 10
      } yield (v, java.sql.Date.valueOf(java.time.LocalDate.of(2021, 1, 1).plusDays(t)),
        10.0 * vi + t + c)
      graft.write.SummaryWriter.write(rows.toDF("VECTOR", "DATE", "VALUE"), s"$d/CASE$c")
    }
    // a calendar dim (report date → tag) keeping 3 of the 10 report days
    (0 until 10).map(t => (java.sql.Date.valueOf(
        java.time.LocalDate.of(2021, 1, 1).plusDays(t)), t % 3))
      .toDF("DATE", "tag")
      .write.mode("overwrite").parquet(s"$d/calendar")
    val fleet = spark.read.format("eclipse-unsmry").load(s"$d/*.UNSMRY")
    val dim = spark.read.parquet(s"$d/calendar").filter(col("tag") === 1)
    val joined = fleet.join(broadcast(dim), Seq("DATE"))
      .groupBy(col("CASE")).agg(count(lit(1)).as("n"))
    DecodeStats.unsmryParams.reset()
    val got = joined.collect()
    // rows: all 4 cases, days 1/4/7 only, 2 vectors each
    assert(got.length === 4 && got.forall(_.getLong(1) == 6L))
    // decode evidence: a DATE runtime filter cannot prune partitions, so
    // it tightens the readers' step predicate — 4 cases x 3 selected
    // PARAMS records decoded, the other 7 steps' payloads seeked past
    // (the TIME pre-scan reads 4 bytes per step, not the record)
    assert(DecodeStats.unsmryParams.sum() === 12)
    val scanLine = PlanText.finalPlanOf(joined).linesIterator
      .find(l => l.contains("BatchScan eclipse-unsmry"))
      .getOrElse(fail("expected the eclipse-unsmry BatchScan in the final plan"))
    assert(scanLine.contains("dynamicpruningexpression"),
      s"expected a runtime DATE filter on the binary scan, got: $scanLine")
  }

  test("DSv2 rft: a runtime WELL filter reaches the byte level — unselected groups never decode") {
    import spark.implicits._
    val d = tmpDir("rft-dpp")
    val path = writeRft(d) // 3 report groups, one well each (W0/W1/W2)
    // wells-metadata dim (a completion registry shape) keeping W1 only;
    // a file scan for the same reason as the CASE/DATE DPP specs
    Seq(("W0", 0), ("W1", 1), ("W2", 0)).toDF("WELL", "keep")
      .write.mode("overwrite").parquet(s"$d/wells")
    val dim = spark.read.parquet(s"$d/wells").filter(col("keep") === 1)
    val scan = spark.read.format("eclipse-rft")
      .option("vectors", "DEPTH,PRESSURE").load(path)
    val joined = scan.join(broadcast(dim), Seq("WELL"))
      .groupBy(col("WELL"))
      .agg(count(lit(1)).as("n"), sum(col("DEPTH")).as("sum_depth"))
    DecodeStats.rftVecPayloads.reset()
    val got = joined.collect()
    assert(got.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq ===
      Seq(("W1", 6L, (0 until 6).map(i => 100.0 + i).sum)))
    // decode evidence: ONE surviving group x ONE surviving vector (the
    // runtime well set composes with column pruning — PRESSURE is
    // projected away); W0/W2's payloads seeked past entirely
    assert(DecodeStats.rftVecPayloads.sum() === 1)
    val scanLine = PlanText.finalPlanOf(joined).linesIterator
      .find(l => l.contains("BatchScan eclipse-rft"))
      .getOrElse(fail("expected the eclipse-rft BatchScan in the final plan"))
    assert(scanLine.contains("dynamicpruningexpression"),
      s"expected a runtime WELL filter on the binary scan, got: $scanLine")
  }

  test("DSv2 egrid: a property-only projection computes ZERO geometry cells") {
    val sf = "/root/testdata/sf0.001" // fixtures are closed-form; dir unused
    DecodeStats.egridGeomCells.reset()
    val props = graft.queries.BinaryGate.q180GridPropsPushdown(spark, sf).collect()
    assert(DecodeStats.egridGeomCells.sum() === 0,
      "property-only read must skip the corner-point kernel entirely")
    assert(props.nonEmpty)
    // activity, index math and the INIT gather are exact on the fast path
    props.take(50).foreach { r =>
      val (c, g) = (r.getInt(0), r.getLong(1))
      assert((g + c) % 7 != 0)
      assert(r.getDouble(3) === ((g + 5 * c) % 64) / 64.0)
      assert(r.getDouble(4) === ((7 * g + c) % 1000).toDouble)
    }
    // the geometry path still computes (and counts) cells
    DecodeStats.egridGeomCells.reset()
    graft.queries.BinaryGate.q164GridFleetSql(spark, sf).collect()
    assert(DecodeStats.egridGeomCells.sum() > 0)
  }

  test("decode counters surface as DSv2 custom scan metrics (Spark-UI visible)") {
    val d = tmpDir("metrics")
    val path = writeUnrst(d) // 5 steps x 2 vectors x 40 cells
    def scanMetrics(df: org.apache.spark.sql.DataFrame) = {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves().collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.metrics
      }.get
    }
    // unfiltered: every payload decodes, and the value is visible in the
    // plan's metric accumulators — what the SQL tab renders per query
    val full = scanMetrics(spark.read.format("eclipse-unrst")
      .option("vectors", "PRESSURE,SWAT").load(path))
    assert(full("payloadsDecoded").value === 10)
    assert(full("geomCellsComputed").value === 0)
    // pushed DATE: the METRIC (not just the spec counter) shows the skip
    val pushed = scanMetrics(spark.read.format("eclipse-unrst")
      .option("vectors", "PRESSURE,SWAT").load(path)
      .where(col("DATE") === lit(java.sql.Date.valueOf("2022-03-03"))))
    assert(pushed("payloadsDecoded").value === 2)
    // the VECTOR slot path reports its own metric
    import spark.implicits._
    val rows = for {
      (v, vi) <- Seq("FOPR", "FOPT").zipWithIndex
      t <- 0 until 8
    } yield (v, java.sql.Date.valueOf(java.time.LocalDate.of(2024, 6, 1).plusDays(t)),
      10.0 * vi + t)
    graft.write.SummaryWriter.write(rows.toDF("VECTOR", "DATE", "VALUE"), s"$d/MET")
    val slots = scanMetrics(spark.read.format("eclipse-unsmry")
      .load(s"$d/MET.UNSMRY").where(col("VECTOR") === "FOPR"))
    assert(slots("payloadsDecoded").value === 0)
    assert(slots("paramSlotsDecoded").value === 16) // (TIME + FOPR) x 8
  }

  test("batch reads conjoin filter.* options with pushed WHERE filters") {
    import spark.implicits._
    val d = tmpDir("opt-conj")
    val rows = for {
      (v, vi) <- Seq("FOPR", "FOPT", "WBHP:A1").zipWithIndex
      t <- 0 until 10
    } yield (v, java.sql.Date.valueOf(java.time.LocalDate.of(2025, 2, 1).plusDays(t)),
      10.0 * vi + t)
    graft.write.SummaryWriter.write(rows.toDF("VECTOR", "DATE", "VALUE"), s"$d/CONJ")
    // option: vectors {FOPR, FOPT} and dates 02-03..02-08; pushed WHERE:
    // VECTOR in {fopr (lowercased option path), WBHP:A1} and DATE >= 02-06.
    // The result must be the INTERSECTION on both axes — if the builder
    // overwrote the seeds instead of conjoining, extra rows would appear
    // (Spark's post-scan re-eval only re-applies its own pushed filters,
    // never the option predicates)
    val df = spark.read.format("eclipse-unsmry")
      .option("filter.vectors", "fopr,FOPT") // lowercase normalizes too
      .option("filter.dates", "2025-02-03..2025-02-08")
      .load(s"$d/CONJ.UNSMRY")
      .where(col("VECTOR").isin("FOPR", "WBHP:A1") &&
        col("DATE") >= lit(java.sql.Date.valueOf("2025-02-06")))
    DecodeStats.unsmryParams.reset()
    DecodeStats.unsmryParamSlots.reset()
    val got = df.collect()
    // intersection: VECTOR = FOPR only; dates 02-06..02-08 = 3 steps
    assert(got.length === 3)
    assert(got.forall(r => r.getString(2) == "FOPR"))
    assert(got.map(_.getDate(1).toString).sorted ===
      Array("2025-02-06", "2025-02-07", "2025-02-08"))
    // and the conjunction reached the BYTE level: 3 selected steps x
    // (TIME + FOPR) slots, zero full records
    assert(DecodeStats.unsmryParams.sum() === 0)
    assert(DecodeStats.unsmryParamSlots.sum() === 6)
  }

  test("SQL-DDL: the catalog route preserves byte-level pushdown") {
    import spark.implicits._
    val d = tmpDir("ddl-push")
    val rows = for {
      (v, vi) <- Seq("FOPR", "FOPT").zipWithIndex
      t <- 0 until 10
    } yield (v, java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(t)),
      10.0 * vi + t)
    graft.write.SummaryWriter.write(rows.toDF("VECTOR", "DATE", "VALUE"), s"$d/DDL")
    spark.sql("DROP TABLE IF EXISTS push_ddl")
    spark.sql(s"CREATE TABLE push_ddl USING `eclipse-unsmry` OPTIONS (path '$d/DDL.UNSMRY')")
    try {
      // the catalog resolution path (q172's path-normalization lesson)
      // must hand the SAME ScanBuilder surface to the planner: a pure-SQL
      // VECTOR filter still decodes slots, never whole PARAMS records
      DecodeStats.unsmryParams.reset()
      DecodeStats.unsmryParamSlots.reset()
      val got = spark.sql("SELECT * FROM push_ddl WHERE VECTOR = 'FOPR'").collect()
      assert(DecodeStats.unsmryParams.sum() === 0,
        "the DDL route must preserve the VECTOR slot pushdown")
      assert(DecodeStats.unsmryParamSlots.sum() === 20) // (TIME + FOPR) x 10
      assert(got.length === 10 && got.forall(_.getString(2) == "FOPR"))
    } finally spark.sql("DROP TABLE IF EXISTS push_ddl")
  }

  test("SupportsReportStatistics: header-prescan estimates match the fleet exactly") {
    import spark.implicits._
    val d = tmpDir("stats")
    (0 until 3).foreach { c =>
      val rows = for { v <- Seq("FOPR", "FOPT"); t <- 0 until 10 }
        yield (v, java.sql.Date.valueOf(
          java.time.LocalDate.of(2024, 1, 1).plusDays(t)), 1.0 * t + c)
      graft.write.SummaryWriter.write(
        rows.toDF("VECTOR", "DATE", "VALUE"), s"$d/CASE$c")
    }
    def statsOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.scan
      }.head.asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
        .estimateStatistics()
    val df = spark.read.format("eclipse-unsmry").load(s"$d/*.UNSMRY")
    val st = statsOf(df)
    // the estimate (one case's header walk x 3 cases) is EXACT on a
    // uniform fleet: 3 x 10 steps x 2 vectors
    assert(st.numRows.getAsLong === df.count())
    assert(st.numRows.getAsLong === 60L)
    // sizeInBytes is exact unconditionally: the listed files' lengths
    val bytes = new java.io.File(d).listFiles
      .filter(_.getName.endsWith(".UNSMRY")).map(_.length).sum
    assert(st.sizeInBytes.getAsLong === bytes)
    // a pushed VECTOR selection narrows the row estimate with the scan
    val one = df.where(col("VECTOR") === "FOPR")
    val st2 = statsOf(one)
    assert(st2.numRows.getAsLong === one.count())
    assert(st2.numRows.getAsLong === 30L)
    // a pushed DATE filter does NOT shrink it: predicates never reduce
    // the estimate (errs toward shuffling, never toward a mistaken
    // broadcast)
    val dated = df.where(col("DATE") === lit(java.sql.Date.valueOf("2024-01-03")))
    assert(statsOf(dated).numRows.getAsLong === 60L)
    // an EMPTY source directory must not crash the stats pass — Spark
    // computes STREAMING-relation stats per micro-batch via
    // estimateStatistics (StreamingDataSourceV2ScanRelation.computeStats),
    // and a polled directory may not have received its first case yet
    // (review finding): 0 bytes, unknown rows. Probed on the scan
    // directly — a BATCH read of an empty dir still fails loudly (its
    // strict listing runs in outputPartitioning/planInputPartitions).
    val empty = tmpDir("stats-empty")
    val emptyScan = new graft.io.datasource.EclBinaryTable(
      "unsmry", s"$empty/*.UNSMRY", Nil, false)
      .newScanBuilder(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Collections.emptyMap())).build()
      .asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
    val stE = emptyScan.estimateStatistics()
    assert(stE.sizeInBytes.getAsLong === 0L)
    assert(!stE.numRows.isPresent)
    // the batch route keeps its loud failure on every binary format, and
    // the message names the pattern that matched nothing
    Seq("unsmry", "egrid", "unrst", "rft").foreach { kind =>
      val pattern = s"$empty/*.${kind.toUpperCase}"
      val e = intercept[Exception] {
        spark.read.format(s"eclipse-$kind").load(pattern).collect()
      }
      assert(e.getMessage.contains(pattern),
        s"eclipse-$kind empty-match message must name $pattern: ${e.getMessage}")
    }
    // STATS FRESHNESS on the SAME scan instance: a streaming query holds
    // one Scan for its whole life and realizations land mid-stream — a
    // snapshot frozen at the empty (or first-file) state would feed the
    // planner understated sizes forever (review finding). Files landing
    // AFTER the first request must show up on the next one.
    val rows2 = for { v <- Seq("FOPR", "FOPT"); t <- 0 until 10 }
      yield (v, java.sql.Date.valueOf(
        java.time.LocalDate.of(2024, 1, 1).plusDays(t)), 2.0 * t)
    graft.write.SummaryWriter.write(
      rows2.toDF("VECTOR", "DATE", "VALUE"), s"$empty/LATE")
    val stL = emptyScan.estimateStatistics()
    assert(stL.sizeInBytes.getAsLong > 0L,
      "a case landing after the first stats request must be visible")
    assert(stL.numRows.getAsLong === 20L)
    // a declared vector ABSENT from the file still emits null-valued
    // rows, so its row estimate must be UNKNOWN, never zero (the upper-
    // bound contract; review finding)
    val du = tmpDir("stats-novec")
    writeUnrst(du)
    val stM = statsOf(spark.read.format("eclipse-unrst")
      .option("vectors", "SGAS").load(s"$du/PUSH.UNRST"))
    assert(!stM.numRows.isPresent, "missing vector must be unknown, not 0")
    // ...while a present one sizes exactly: 5 steps x 40 active cells
    val stP = statsOf(spark.read.format("eclipse-unrst")
      .option("vectors", "PRESSURE").load(s"$du/PUSH.UNRST"))
    assert(stP.numRows.getAsLong === 200L)
    // heterogeneous fleet: rows scale with BYTES, not case count — an
    // aborted short realization sorting FIRST must not drag the
    // estimate to firstRows x nCases (review finding)
    val dh = tmpDir("stats-hetero")
    def writeSteps(base: String, steps: Int): Unit = {
      val rows = for { v <- Seq("FOPR", "FOPT"); t <- 0 until steps }
        yield (v, java.sql.Date.valueOf(
          java.time.LocalDate.of(2024, 1, 1).plusDays(t)), 1.0 * t)
      graft.write.SummaryWriter.write(rows.toDF("VECTOR", "DATE", "VALUE"), base)
    }
    writeSteps(s"$dh/CASE0", 5) // sorts first
    writeSteps(s"$dh/CASE1", 50)
    val dfh = spark.read.format("eclipse-unsmry").load(s"$dh/*.UNSMRY")
    val actual = dfh.count() // (5 + 50) steps x 2 vectors = 110
    val est = statsOf(dfh).numRows.getAsLong
    assert(est > 5L * 2 * 2, s"est=$est must beat firstRows x nCases = 20")
    assert(math.abs(est - actual) <= actual / 4,
      s"byte-proportional estimate est=$est too far from actual=$actual")
  }

  // ---- ordering-claim soundness --------------------------------------------
  // the scan REPORTS (CASE, DATE) ascending per partition and sort-
  // skipping plans (q191's shape) TRUST it — so the inputs that would
  // falsify the claim must fail loudly, never silently sort wrong

  test("rft kernel: a TIME group without DATE fails loudly (never null-sorts)") {
    val d = tmpDir("rft-nodate")
    val path = s"$d/NODATE.RFT"
    EclKw.write(path, Seq(
      Kw("TIME", "REAL", Array(0f)),
      Kw("DATE", "INTE", Array(1, 5, 2023)),
      Kw("WELLETC", "CHAR", Array("", "W0")),
      Kw("CONIPOS", "INTE", Array(1, 2)),
      Kw("DEPTH", "REAL", Array(1f, 2f)),
      // second group: DATELESS, after a dated one — Spark's ASC default
      // is NULLS FIRST, so emitting null here would silently falsify
      // the scan's claimed DATE ordering
      Kw("TIME", "REAL", Array(1f)),
      Kw("WELLETC", "CHAR", Array("", "W0")),
      Kw("CONIPOS", "INTE", Array(1, 2)),
      Kw("DEPTH", "REAL", Array(3f, 4f))))
    val e = intercept[IllegalArgumentException] {
      EclBinary.rftCaseRows(path, Seq("DEPTH")).toVector
    }
    assert(e.getMessage.contains("TIME group without DATE"))
  }

  test("DSv2 reader: a date regression in the file fails loudly, not silently") {
    val d = tmpDir("nonmono")
    // a restarted run re-emitting an earlier date: TIME 0, 5, 3
    EclKw.write(s"$d/BAD.SMSPEC", Seq(
      Kw("DIMENS", "INTE", Array(2, 1, 1, 1, 0, 0)),
      Kw("KEYWORDS", "CHAR", Array("TIME", "FOPR")),
      Kw("WGNAMES", "CHAR", Array("", "")),
      Kw("NUMS", "INTE", Array(0, 0)),
      Kw("STARTDAT", "INTE", Array(1, 1, 2022))))
    EclKw.write(s"$d/BAD.UNSMRY", Seq(0f, 5f, 3f).map(t =>
      Kw("PARAMS", "REAL", Array(t, 100f + t))))
    val e = intercept[Exception] {
      spark.read.format("eclipse-unsmry").load(s"$d/BAD.UNSMRY").collect()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(msgs.exists(_.contains("regressed")),
      s"expected the ordering-precondition failure, got: ${msgs.mkString(" | ")}")
    // the library reader makes NO ordering claim and still reads it
    val lib = graft.write.SummaryWriter.read(spark, s"$d/BAD").collect()
    assert(lib.length === 3)
  }

  test("DSv2: unfiltered scans and egrid are unaffected by the pushdown surface") {
    val d = tmpDir("dsv2-plain")
    val path = writeUnrst(d)
    val n = spark.read.format("eclipse-unrst")
      .option("vectors", "PRESSURE").load(path).count()
    assert(n === 200)
    // a non-DATE filter is simply not pushed (post-scan only)
    val k = spark.read.format("eclipse-unrst")
      .option("vectors", "PRESSURE").load(path)
      .where(col("PRESSURE") > 20.0).count()
    assert(k > 0 && k < 200)
  }
}
