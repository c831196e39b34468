package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.io.EclKw
import graft.io.EclKw.Kw

/** The Eclipse BINARY decode paths under the oracle gate (SURVEY.md §2.1
  * S3/S4/S6/S16): the q43/q46 media recipe applied to simulator artifacts.
  * Each query builds files from a CLOSED-FORM formula, round-trips them
  * through the actual binary writers+readers (Fortran record framing,
  * keyword chunking, corner-point geometry, SMSPEC catalog), and reports
  * what the DECODED frames contain; the DuckDB oracle computes the same
  * quantities from the formula alone, so a hash match proves the real
  * codec ran and recovered every cell/sample — independent of the
  * ScalaTest fixtures (which stay, for the reference-artifact parity).
  */
object BinaryGate {

  /** Fixture root: a FIXED per-query directory under the JVM temp dir,
    * overwritten on every invocation (the writers truncate), so repeated
    * Verify/Bench/spec runs reuse one set of small files instead of
    * accumulating orphaned temp directories on a long-lived host. Safe
    * because the harness runs queries serially and each invocation's
    * jobs complete (action) before the next invocation rewrites.
    */
  private[queries] def fixtureDir(q: String): String = {
    val d = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft-gate", q)
    java.nio.file.Files.createDirectories(d)
    d.toString
  }

  /** Realization number from a fleet row's CASE: the fixtures name case
    * `c` CASE`c` plus the format's extension, and the scans carry that
    * path minus the extension (egrid/unsmry) or as listed (unrst/rft),
    * so the one pattern takes an optional extension. */
  private val caseId: Column =
    regexp_extract(col("CASE"), "CASE([0-9]+)(?:\\.[A-Za-z]+)?$", 1).cast("int")

  /** The one batch fleet read of the binary gates: `eclipse-<kind>`
    * over `paths` (files or globs), with the exact `vectors` (none for
    * unsmry, whose long form has no vector columns, or for a
    * geometry-only egrid read), plus [[caseId]] as `case_id`. */
  private def readFleet(s: SparkSession, kind: String, paths: Seq[String],
      vectors: String*): DataFrame = {
    val reader = s.read.format(s"eclipse-$kind")
    (if (vectors.isEmpty) reader else reader.option("vectors", vectors.mkString(",")))
      .load(paths: _*)
      .withColumn("case_id", caseId)
  }

  private val GridCases = 4
  private val Nx = 20
  private val Ny = 20
  private val Nz = 5

  /** One closed-form corner-point case: unit-square pillars at integer
    * (x, y), layer k (0-based) spanning depth k(k+1)/2 .. (k+1)(k+2)/2
    * (thickness k+1 → VOLUME = k+1 exactly), cell (global index g)
    * inactive when (g + c) % 7 == 0, and an INIT with
    * PORO = ((g + 5c) % 64)/64 (float-exact) and PERMX = (7g + c) % 1000
    * over the ACTIVE cells in file order. All geometry lands on
    * power-of-two fractions, so decode vs oracle compare is exact.
    */
  /** The grid-fixture ACTNUM rule — ONE definition shared by the EGRID
    * writer and every query that re-derives active counts/ordinals
    * from it (q141's UNRST sizing), so the rule cannot drift. */
  private def gridCaseActive(g: Int, c: Int): Boolean = (g + c) % 7 != 0

  private def writeGridCase(dir: String, c: Int): String = {
    val perSlab = Nx * Ny
    val ncells = perSlab * Nz
    val coord = new Array[Float]((Nx + 1) * (Ny + 1) * 6)
    for (j <- 0 to Ny; i <- 0 to Nx) {
      val p = (j * (Nx + 1) + i) * 6
      coord(p) = i.toFloat; coord(p + 1) = j.toFloat; coord(p + 2) = 0f
      coord(p + 3) = i.toFloat; coord(p + 4) = j.toFloat; coord(p + 5) = 15f
    }
    def zb(k: Int): Float = (k * (k + 1) / 2).toFloat // 0,1,3,6,10,15
    val zcorn = new Array[Float](8 * perSlab * Nz)
    for (k <- 0 until Nz) {
      java.util.Arrays.fill(zcorn, k * 8 * perSlab, k * 8 * perSlab + 4 * perSlab, zb(k))
      java.util.Arrays.fill(zcorn, k * 8 * perSlab + 4 * perSlab, (k + 1) * 8 * perSlab, zb(k + 1))
    }
    val actnum = Array.tabulate(ncells)(g => if (gridCaseActive(g, c)) 1 else 0)
    val base = s"$dir/CASE$c"
    // NNC pair list (q66): 1-based global indices from a closed form that
    // may land on inactive cells — exercising the coordinate join's
    // left-join null path. q59's egrid read ignores these keywords.
    val nnc1 = Array.tabulate(NncN)(p => (37 * p + c) % ncells + 1)
    val nnc2 = Array.tabulate(NncN)(p => (61 * p + 7 + 3 * c) % ncells + 1)
    EclKw.write(s"$base.EGRID", Seq(
      Kw("GRIDHEAD", "INTE", Array(0, Nx, Ny, Nz)),
      Kw("COORD", "REAL", coord),
      Kw("ZCORN", "REAL", zcorn),
      Kw("ACTNUM", "INTE", actnum),
      Kw("NNC1", "INTE", nnc1),
      Kw("NNC2", "INTE", nnc2)))
    val activeG = (0 until ncells).filter(g => actnum(g) != 0)
    EclKw.write(s"$base.INIT", Seq(
      Kw("INTEHEAD", "INTE", Array.tabulate(12)(i => if (i == 11) activeG.length else 0)),
      Kw("PORO", "REAL", activeG.map(g => ((g + 5 * c) % 64) / 64f).toArray),
      Kw("PERMX", "REAL", activeG.map(g => ((7 * g + c) % 1000).toFloat).toArray),
      // length NncN != nactive, so q59's active-vector selection skips it
      Kw("TRANNNC", "REAL", Array.tabulate(NncN)(p => p + (p % 64) / 64f))))
    base
  }

  private val NncN = 120

  /** q59: EGRID + INIT decode and active-ordinal assembly (S1→S3/S4 +
    * J1): four generated cases through [[graft.io.EclBinary.egrid]]
    * (COORD/ZCORN corner interpolation, ACTNUM mapping, 24-tetrahedron
    * volume), [[graft.io.EclBinary.init]] (INTEHEAD nactive, active-length
    * vector selection) and [[graft.modules.GridOps.assemble]]'s
    * ACTIVE_IDX join. VOLUME is rounded (6) on both sides — the
    * tetrahedron sum is mathematically k+1 but floating addition may sit
    * one ulp off the oracle's literal.
    *
    * Scale shape: per-case decode parallelizes over Nz slabs
    * (executor-side corner math; only COORD is broadcast), cases union
    * into one plan — the same fleet form as the deck corpus queries.
    */
  def q59GridBinary(s: SparkSession, dir: String): DataFrame = {
    val tmp = fixtureDir("q59")
    val frames = (0 until GridCases).map { c =>
      val base = writeGridCase(tmp, c)
      val geom = graft.io.EclBinary.egrid(s, s"$base.EGRID")
      val init = graft.io.EclBinary.init(s, s"$base.INIT")
      graft.modules.GridOps.assemble(geom, Some(init), None)
        .withColumn("case_id", lit(c))
    }
    frames.reduce(_ unionByName _)
      .select(col("case_id"), col("I").as("i"), col("J").as("j"), col("K").as("k"),
        col("X").as("x"), col("Y").as("y"), col("Z").as("z"),
        col("Z_MIN").as("z_min"), col("Z_MAX").as("z_max"),
        round(col("VOLUME"), 6).as("volume"),
        col("GLOBAL_INDEX").as("global_index"), col("ACTIVE_IDX").as("active_idx"),
        col("PORO").cast("double").as("poro"), col("PERMX").cast("double").as("permx"))
      .orderBy(col("case_id"), col("global_index"))
  }

  /** q144: COARSE-BLOCK UPSCALING — the property-upscaling step a
    * simulation workflow runs between geomodel and simulator (2×2
    * areal blocks here): per (case, coarse block) the cell count,
    * bulk-volume sum and VOLUME-WEIGHTED PORO mean over the q59
    * fleet's decoded grid frame. Weighted means publish as exact
    * fixed-point (`Σ vol·poro64 · 10⁶ div (64 · Σ vol)` — volumes are
    * integers by the fixture's closed form, poro is dyadic /64).
    *
    * Scale shape: one (case, block)-keyed aggregate over the grid
    * scan, partial map-side; output is coarse-grid-sized. The decoded
    * VOLUME is rounded to the nearest integer before the exact
    * arithmetic (the 24-tetrahedron sum sits within an ulp of the
    * closed-form integer).
    */
  def q144Upscale(s: SparkSession, dir: String): DataFrame = {
    q59GridBinary(s, dir)
      .select(col("case_id"), col("i"), col("j"), col("k"),
        round(col("volume")).cast("long").as("vol"),
        (col("poro") * 64).cast("long").as("poro64"))
      .groupBy(col("case_id"),
        expr("CAST((i - 1) div 2 AS INT)").as("ci"),
        expr("CAST((j - 1) div 2 AS INT)").as("cj"),
        col("k"))
      .agg(count(lit(1)).as("n_cells"),
        sum(col("vol")).as("vol_sum"),
        sum(col("vol") * col("poro64")).as("porv64_sum"))
      .withColumn("poro_wavg_fp6",
        expr("(porv64_sum * 1000000) div (64 * vol_sum)"))
      .select(col("case_id"), col("ci"), col("cj"), col("k"),
        col("n_cells"), col("vol_sum"), col("porv64_sum"), col("poro_wavg_fp6"))
      .orderBy(col("case_id"), col("ci"), col("cj"), col("k"))
  }

  private val SumVectors = Seq("FOPR", "FOPT", "WBHP:W0", "WOPR:W0", "WOPR:W1")
  private val SumDays = 30

  /** q60: the UNSMRY/SMSPEC binary round trip (S16 write → S6 read) as a
    * hash-checked query: a closed-form long summary frame
    * (value = 1000·vi + d + (d mod 32)/32, float-exact) through
    * [[graft.write.SummaryWriter.write]] (SMSPEC catalog + per-step
    * SEQHDR/MINISTEP/PARAMS records) and [[graft.write.SummaryWriter
    * .read]] (catalog naming rules, TIME clock, executor-side row
    * expansion). The writer's driver collect is the documented
    * boundary-artifact exception (summary files are one float per vector
    * per step); the READ side streams one PARAMS record at a time.
    */
  def q60SummaryBinary(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = fixtureDir("q60")
    val rows = for {
      (v, vi) <- SumVectors.zipWithIndex
      d <- 0 until SumDays
    } yield (v, java.sql.Date.valueOf(java.time.LocalDate.of(2021, 1, 1).plusDays(d)),
      1000.0 * vi + d + (d % 32) / 32.0)
    val df = rows.toDF("VECTOR", "DATE", "VALUE")
    graft.write.SummaryWriter.write(df, s"$tmp/GATE")
    graft.write.SummaryWriter.read(s, s"$tmp/GATE")
      .select(col("VECTOR").as("vector"), col("DATE").cast("timestamp").as("date"),
        col("VALUE").as("value"))
      .orderBy(col("vector"), col("date"))
  }

  private val FleetCases = 4

  /** Write the shared summary-fleet fixture ([[FleetCases]] UNSMRY
    * cases, value = 1000·vi + d + 7·c + (d%32)/32 — the dyadic lattice
    * q114/q124/q126/q137's oracles replay in closed form) under
    * fixtureDir(`q`); returns the directory. ONE definition so the
    * lattice can never drift between the four gates.
    */
  private def writeFleetFixture(s: SparkSession, q: String): String = {
    import s.implicits._
    val tmp = fixtureDir(q)
    (0 until FleetCases).foreach { c =>
      val rows = for {
        (v, vi) <- SumVectors.zipWithIndex
        d <- 0 until SumDays
      } yield (v, java.sql.Date.valueOf(java.time.LocalDate.of(2021, 1, 1).plusDays(d)),
        1000.0 * vi + d + 7.0 * c + (d % 32) / 32.0)
      graft.write.SummaryWriter.write(rows.toDF("VECTOR", "DATE", "VALUE"), s"$tmp/CASE$c")
    }
    tmp
  }

  /** Trend-fixture lattice for q182: value = 1000·vi + (1+vi+2c)·d + 7c
    * + ((d·d)%7)/8 — slope varies per (vector, case), and the dyadic
    * pseudo-residue ((d²)%7)/8 keeps the fit NON-perfect (r² < 1), so
    * the regression output is load-bearing per group. All terms are
    * float32-exact (|32·value| < 2²⁴), so `value·32` round-trips the
    * binary format as an exact integer.
    */
  private def writeTrendFixture(s: SparkSession, q: String): String = {
    import s.implicits._
    val tmp = fixtureDir(q)
    (0 until FleetCases).foreach { c =>
      val rows = for {
        (v, vi) <- SumVectors.zipWithIndex
        d <- 0 until SumDays
      } yield (v, java.sql.Date.valueOf(java.time.LocalDate.of(2021, 1, 1).plusDays(d)),
        1000.0 * vi + (1 + vi + 2 * c) * d + 7.0 * c + ((d * d) % 7) / 8.0)
      graft.write.SummaryWriter.write(rows.toDF("VECTOR", "DATE", "VALUE"), s"$tmp/CASE$c")
    }
    tmp
  }

  /** q182: ENSEMBLE PRODUCTION-TREND FIT — the OLS regression aggregate
    * the reservoir side lacked: per (realization, vector), slope /
    * intercept / R² of value vs simulation day, the arithmetic core of
    * Arps decline analysis (exponential decline is exactly this fit in
    * log space) and of history-match trend screening. Everything EXACT:
    * values enter as `y·32` integers (the fixture lattice is dyadic/32),
    * the five sufficient statistics (Σx, Σy, Σxy, Σx², Σy²) are BIGINT
    * sums, and slope/intercept/R² publish as fixed-point integer
    * divisions (R²'s single-ratio numerator cov²·10⁶ crosses 2⁶³, so it
    * publishes as the staged floor ((cov·10⁶ div varx)·cov) div vary —
    * every intermediate BIGINT, both engines replay the same stages;
    * every operand is positive, so `div` and `//` agree).
    *
    * Scale shape: ONE map-side-combined aggregate keyed (case, vector) —
    * the sufficient-statistic trick means a 200-step × 10⁴-vector ×
    * 10³-case ensemble fits in a single linear pass with report-sized
    * output; no window, no sort, no second scan.
    */
  def q182TrendFit(s: SparkSession, dir: String): DataFrame = {
    val tmp = writeTrendFixture(s, "q182")
    val obs = readFleet(s, "unsmry", Seq(s"$tmp/*.UNSMRY"))
      .select(col("case_id"), col("VECTOR").as("vector"),
        datediff(col("DATE"), lit(java.sql.Date.valueOf("2021-01-01")))
          .cast("long").as("x"),
        round(col("VALUE") * 32).cast("long").as("y32"))
    obs.groupBy(col("case_id"), col("vector"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y32")).as("sy"),
        sum(col("x") * col("y32")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y32") * col("y32")).as("syy"))
      .withColumn("slope_fp6",
        expr("((n * sxy - sx * sy) * 1000000) div (n * sxx - sx * sx)"))
      .withColumn("icept_fp6",
        expr("((sy * sxx - sx * sxy) * 1000000) div (n * sxx - sx * sx)"))
      // R² = cov²/(varx·vary) published as the TWO-STAGE fixed point
      // ((cov·10⁶ div varx)·cov) div vary — every intermediate fits
      // BIGINT (cov² alone crosses 2⁶³ and Spark's DECIMAL(38,0)
      // IntegralDivide was measured losing low digits), and both
      // engines replay the same staged floors, so the published value
      // is bit-identical by construction (≤1 ulp of 1e-6 from the
      // exact ratio, documented)
      .withColumn("r2_fp6",
        expr("(((n * sxy - sx * sy) * 1000000 div (n * sxx - sx * sx))" +
          " * (n * sxy - sx * sy)) div (n * syy - sy * sy)"))
      .select(col("case_id"), col("vector"), col("n"),
        col("slope_fp6"), col("icept_fp6"), col("r2_fp6"))
      .orderBy(col("case_id"), col("vector"))
  }

  private val BreakMargin = 20.0 // dyadic-exact onset margin over the fleet baseline

  /** q185: BREAKTHROUGH / ONSET DETECTION across the fleet — per
    * (realization, vector), the FIRST simulation day the observable
    * exceeds its fleet-wide baseline (the ensemble minimum) by
    * [[BreakMargin]], plus the cross-realization envelope of those
    * onset days (count / earliest / latest). This is water-breakthrough
    * timing analysis: the reservoir question is not the value but WHEN
    * each realization crosses, and how wide the ensemble spread is —
    * the spread IS the history-match uncertainty band.
    *
    * Scale shape: the baseline is a per-vector min (map-side, output =
    * vector catalog) broadcast back onto the scan; the onset is a
    * min(date) aggregate keyed (case, vector); the envelope re-keys by
    * vector and broadcasts back onto the report-sized onset frame. One
    * fleet scan, report-sized exchanges only. All comparisons are
    * dyadic-exact (the lattice and the margin are /32 rationals), so
    * the onset day can never flip on float noise.
    */
  def q185Breakthrough(s: SparkSession, dir: String): DataFrame = {
    val tmp = writeFleetFixture(s, "q185")
    val obs = readFleet(s, "unsmry", Seq(s"$tmp/*.UNSMRY"))
      .select(col("case_id"), col("VECTOR").as("vector"),
        datediff(col("DATE"), lit(java.sql.Date.valueOf("2021-01-01")))
          .cast("long").as("day"),
        col("VALUE").as("value"))
    val base = obs.groupBy(col("vector")).agg(min(col("value")).as("v0"))
    val onset = obs.join(broadcast(base), Seq("vector"))
      .filter(col("value") >= col("v0") + BreakMargin)
      .groupBy(col("case_id"), col("vector"))
      .agg(min(col("day")).as("first_day"))
    val env = onset.groupBy(col("vector"))
      .agg(count(lit(1)).as("n_cases_crossed"),
        min(col("first_day")).as("day_min"), max(col("first_day")).as("day_max"))
    onset.join(broadcast(env), Seq("vector"))
      .select(col("case_id"), col("vector"), col("first_day"),
        col("n_cases_crossed"), col("day_min"), col("day_max"))
      .orderBy(col("case_id"), col("vector"))
  }

  /** The summary FLEET read (S6 at ensemble scale) under the gate, over
    * fixtureDir(`q`): the `eclipse-unsmry` scan reads every case
    * matching a glob in ONE distributed plan (one task per case, SMSPEC
    * catalog + PARAMS decode executor-side), the ensemble layout the
    * reservoir side's deck fleets already have. Four closed-form cases
    * with a case-dependent dyadic formula (float32-exact), case
    * identity recovered from the CASE path — the hash proves per-case
    * decode state never leaks across cases. q114 and q167 run it over
    * their own fixture dirs, each with its own registry entry and oracle
    * hash.
    */
  private def summaryFleet(s: SparkSession, q: String): DataFrame = {
    val tmp = writeFleetFixture(s, q)
    // summaryCaseTuples excludes TIME by construction (it becomes DATE)
    readFleet(s, "unsmry", Seq(s"$tmp/*.UNSMRY"))
      .select(col("case_id"), col("VECTOR").as("vector"),
        col("DATE").cast("timestamp").as("date"), col("VALUE").as("value"))
      .orderBy(col("case_id"), col("vector"), col("date"))
  }

  /** q114: [[summaryFleet]] over its own fixtures. */
  def q114SummaryFleet(s: SparkSession, dir: String): DataFrame =
    summaryFleet(s, "q114")

  /** The GRID FLEET read (S3/S4 at ensemble scale) under the gate, over
    * fixtureDir(`q`): the `eclipse-egrid` scan decodes every EGRID+INIT
    * case in ONE distributed plan, one task per case, executor-side
    * corner-point math and active-vector selection (the grid mirror of
    * q114's UNSMRY fleet; reference users run 100–1000 realizations per
    * ensemble). Same closed-form fixtures as q59, so the oracle is q59's
    * verbatim — a hash match proves the per-case decode (geometry AND
    * init ordinals) never leaks state across cases and equals the
    * single-case driver-orchestrated path. q117 and q164 run it over
    * their own fixture dirs, each with its own registry entry and oracle
    * hash.
    */
  private def gridFleet(s: SparkSession, q: String): DataFrame = {
    val tmp = fixtureDir(q)
    // enumerate the exact per-case paths just written (not a *.EGRID
    // glob): a persistent fixture dir can hold stale CASE files from an
    // older revision, and a glob would silently gate against them
    val paths = (0 until GridCases).map { c =>
      writeGridCase(tmp, c); s"$tmp/CASE$c.EGRID"
    }
    readFleet(s, "egrid", paths, "PORO", "PERMX")
      .select(col("case_id"), col("I").as("i"), col("J").as("j"), col("K").as("k"),
        col("X").as("x"), col("Y").as("y"), col("Z").as("z"),
        col("Z_MIN").as("z_min"), col("Z_MAX").as("z_max"),
        round(col("VOLUME"), 6).as("volume"),
        col("GLOBAL_INDEX").as("global_index"), col("ACTIVE_IDX").as("active_idx"),
        col("PORO").as("poro"), col("PERMX").as("permx"))
      .orderBy(col("case_id"), col("global_index"))
  }

  /** q117: [[gridFleet]] over its own fixtures. */
  def q117GridFleet(s: SparkSession, dir: String): DataFrame =
    gridFleet(s, "q117")

  /** q146: FLEET COMPLETION-PRESSURE ENVELOPE — q141 at ensemble
    * scale: the same schedule located in EVERY realization's grid
    * (per-case ACTNUM differs, so the (I,J,K) → ACTIVE_IDX map and
    * even WHICH completions are active vary by case — cross-case
    * ordinal state must not leak), traced through each case's
    * restart steps, then the per-(well, date) cross-realization
    * envelope of the exact fixed-point mean completion pressures.
    *
    * Scale shape: grid + restart fleets decode one task per case; the
    * schedule-sized connection frame broadcasts into both; the
    * (case, well, date) aggregate is report-sized and the final
    * envelope re-keys by (well, date) — output independent of
    * ensemble size.
    */
  def q146FleetCompletionEnvelope(s: SparkSession, dir: String): DataFrame = {
    val tmp = fixtureDir("q146")
    val ncells = Nx * Ny * Nz
    val gridPaths = (0 until GridCases).map { c =>
      writeGridCase(tmp, c); s"$tmp/CASE$c.EGRID"
    }
    val rstPaths = (0 until GridCases).map { c =>
      val nactive = (0 until ncells).count(gridCaseActive(_, c))
      writeRstCaseWith(tmp, c,
        (a, t) => (3000 + a + t * (5 + a % 9) + 100 * c).toFloat,
        (_, _) => 0f, nactive)
    }
    val conns = graft.modules.Compdat.df(s, CompletionDeck)
      .select(col("WELL").as("well"), col("I").as("i"), col("J").as("j"),
        col("K1").as("k"))
    val grid = readFleet(s, "egrid", gridPaths)
      .select(col("case_id"), col("I").as("i"), col("J").as("j"),
        col("K").as("k"), col("ACTIVE_IDX").as("active_idx"))
    val rst = readFleet(s, "unrst", rstPaths, "PRESSURE")
      .select(col("case_id"), col("DATE").cast("timestamp").as("date"),
        col("ACTIVE_IDX").as("active_idx"),
        col("PRESSURE").cast("long").as("p"))
    val located = broadcast(conns).join(grid, Seq("i", "j", "k"))
    val perCase = rst.join(broadcast(located), Seq("case_id", "active_idx"))
      .groupBy(col("case_id"), col("well"), col("date"))
      .agg(count(lit(1)).as("n_active"), sum(col("p")).as("p_sum"))
      .withColumn("p_avg_fp6", expr("(p_sum * 1000000) div n_active"))
    perCase.groupBy(col("well"), col("date"))
      .agg(count(lit(1)).as("n_cases"),
        min(col("n_active")).as("n_active_min"),
        max(col("n_active")).as("n_active_max"),
        min(col("p_avg_fp6")).as("p_avg_min"),
        max(col("p_avg_fp6")).as("p_avg_max"))
      .orderBy(col("well"), col("date"))
  }

  private val RstCases = 4
  private val RstSteps = 3
  private val RstNactive = 500

  /** q62: the UNRST restart scan (S5) under the gate — per case a
    * 3-report-step UNRST (SEQNUM group markers, INTEHEAD clock at
    * [64..66], active-length PRESSURE/SWAT) written with the real
    * keyword writer and decoded by [[graft.io.EclBinary.unrst]]'s
    * one-step-at-a-time streaming reader into the DATE-stacked frame
    * (R4). PRESSURE is integer-valued and SWAT dyadic, so float32
    * round-trip vs the oracle formula is exact.
    */
  /** Write a [[RstSteps]]-step UNRST case at `tmp`/CASE`c`.UNRST with
    * the given per-(active cell, step) PRESSURE/SWAT closed forms —
    * the ONE copy of the SEQNUM/INTEHEAD/record scaffolding every
    * restart gate fixture shares (header layout drift would otherwise
    * desync q62/q120 from q128/q132).
    */
  private[graft] def writeRstCaseWith(tmp: String, c: Int,
      pressure: (Int, Int) => Float, swat: (Int, Int) => Float,
      nactive: Int = RstNactive): String = {
    val path = s"$tmp/CASE$c.UNRST"
    EclKw.write(path, (0 until RstSteps).flatMap { t =>
      val intehead = Array.tabulate(67) {
        case 11 => nactive
        case 64 => 1 + t // day
        case 65 => 1     // month
        case 66 => 2022  // year
        case _  => 0
      }
      Seq(
        Kw("SEQNUM", "INTE", Array(t)),
        Kw("INTEHEAD", "INTE", intehead),
        Kw("PRESSURE", "REAL", Array.tabulate(nactive)(a => pressure(a, t))),
        Kw("SWAT", "REAL", Array.tabulate(nactive)(a => swat(a, t))))
    })
    path
  }

  /** Write the closed-form UNRST case `c` (shared by q62 and q120 —
    * identical fixtures, identical expected frame).
    */
  private def writeRstCase(tmp: String, c: Int): String =
    writeRstCaseWith(tmp, c,
      (a, t) => (a + 100 * t + 1000 * c).toFloat,
      (a, t) => ((a + t + c) % 32) / 32f)

  def q62UnrstBinary(s: SparkSession, dir: String): DataFrame = {
    val tmp = fixtureDir("q62")
    val frames = (0 until RstCases).map { c =>
      val path = writeRstCase(tmp, c)
      graft.io.EclBinary.unrst(s, path).withColumn("case_id", lit(c))
    }
    frames.reduce(_ unionByName _)
      .select(col("case_id"), col("DATE").cast("timestamp").as("date"),
        col("ACTIVE_IDX").as("active_idx"),
        col("PRESSURE").cast("double").as("pressure"),
        col("SWAT").cast("double").as("swat"))
      .orderBy(col("case_id"), col("date"), col("active_idx"))
  }

  /** The RESTART FLEET read (S5 at ensemble scale) under the gate, over
    * fixtureDir(`q`): the `eclipse-unrst` scan streams every UNRST
    * case's SEQNUM groups executor-side, one partition per case, pruned
    * vectors seeked past at the byte level. Same closed-form fixtures
    * as q62, so the oracle is q62's verbatim — a hash match proves the
    * fleet path equals the single-case driver-streamed path with no
    * cross-case state leakage. q120 and q165 run it over their own
    * fixture dirs, each with its own registry entry and oracle hash.
    */
  private def restartFleet(s: SparkSession, q: String): DataFrame = {
    val tmp = fixtureDir(q)
    val paths = (0 until RstCases).map(c => writeRstCase(tmp, c))
    readFleet(s, "unrst", paths, "PRESSURE", "SWAT")
      .select(col("case_id"), col("DATE").cast("timestamp").as("date"),
        col("ACTIVE_IDX").as("active_idx"),
        col("PRESSURE").as("pressure"), col("SWAT").as("swat"))
      .orderBy(col("case_id"), col("date"), col("active_idx"))
  }

  /** q120: [[restartFleet]] over its own fixtures. */
  def q120RestartFleet(s: SparkSession, dir: String): DataFrame =
    restartFleet(s, "q120")

  /** q165: [[restartFleet]] over its own fixtures — q120's twin, gated
    * against the same oracle. */
  def q165RestartFleetSql(s: SparkSession, dir: String): DataFrame =
    restartFleet(s, "q165")

  /** q164: [[gridFleet]] over its own fixtures — q117's twin, gated
    * against the same oracle. */
  def q164GridFleetSql(s: SparkSession, dir: String): DataFrame =
    gridFleet(s, "q164")

  private val RftCases = 4
  private val RftDates = 2
  private val RftNcon = 10

  /** q63: the RFT binary scan (S7) under the gate — per case a .RFT with
    * [[RftDates]] TIME report groups (TIME marker, DATE clock, WELLETC
    * well name, CONIPOS ordinals, per-connection DEPTH/PRESSURE vectors)
    * through [[graft.io.EclBinary.rft]]'s one-group-at-a-time streaming
    * decode. Values are integer-valued floats → exact against the
    * formula replay; q51 already gates the downstream segment-topology
    * pipeline, this gates the BINARY decode feeding it.
    */
  /** Write the closed-form .RFT case `c` (shared by q63's single-case
    * reads and q148's fleet read — identical fixtures). */
  private def writeRftCase(tmp: String, c: Int): String = {
    val path = s"$tmp/CASE$c.RFT"
    EclKw.write(path, (0 until RftDates).flatMap { t =>
      Seq(
        Kw("TIME", "REAL", Array(t.toFloat)),
        Kw("DATE", "INTE", Array(1 + t, 2, 2023)),
        Kw("WELLETC", "CHAR", Array("", s"W$c")),
        Kw("CONIPOS", "INTE", Array.tabulate(RftNcon)(i => i + 1)),
        Kw("DEPTH", "REAL",
          Array.tabulate(RftNcon)(i => (1000 + 10 * i + 100 * t + c).toFloat)),
        Kw("PRESSURE", "REAL",
          Array.tabulate(RftNcon)(i => (200 + i + 50 * t + 7 * c).toFloat)))
    })
    path
  }

  def q63RftBinary(s: SparkSession, dir: String): DataFrame = {
    val tmp = fixtureDir("q63")
    val frames = (0 until RftCases).map { c =>
      val path = writeRftCase(tmp, c)
      graft.io.EclBinary.rft(s, path).withColumn("case_id", lit(c))
    }
    frames.reduce(_ unionByName _)
      .select(col("case_id"), col("DATE").cast("timestamp").as("date"),
        col("WELL").as("well"), col("CONIDX").as("conidx"),
        col("CONIPOS").as("conipos"),
        col("DEPTH").as("depth"), col("PRESSURE").as("pressure"))
      .orderBy(col("case_id"), col("date"), col("conidx"))
  }

  /** The closed-form summary-fleet replay shared verbatim by the
    * [[summaryFleet]] twins q114 and q167 — identical fixtures,
    * identical expected frame. */
  private def summaryFleetOracle: String = summaryFleetOracleWhere("TRUE")

  /** summaryFleetOracle restricted to the ministeps a pushed-down DATE
    * filter selects (`cond` ranges over `day`); q174 replays q167 with
    * `cond` = the days its DATE range picks. */
  private def summaryFleetOracleWhere(cond: String): String =
    s"""WITH c AS (SELECT unnest(range($FleetCases)) AS case_id),
       v AS (
         SELECT unnest([${SumVectors.map("'" + _ + "'").mkString(", ")}]) AS vector,
                unnest([${SumVectors.indices.mkString(", ")}]) AS vi),
       d AS (SELECT unnest(range($SumDays)) AS day)
       SELECT CAST(case_id AS INT) AS case_id, vector,
              CAST(DATE '2021-01-01' + CAST(day AS INT) AS TIMESTAMP) AS date,
              1000.0 * vi + day + 7.0 * case_id + CAST(day % 32 AS DOUBLE) / 32 AS value
       FROM c CROSS JOIN v CROSS JOIN d WHERE $cond
       ORDER BY case_id, vector, date"""

  /** The per-case fleet ROLLUP closed form (y32 = 32000·vi + 33·day +
    * 224·case_id — the writeFleetFixture lattice times 32), restricted
    * to the cases `cond` keeps: ONE copy shared by q189 (unrestricted)
    * and q206 (the runtime-pruned group), so the lattice cannot drift
    * between the colocated-aggregate and DPP gates (review finding). */
  private def fleetRollupOracleWhere(cond: String): String =
    s"""WITH c AS (SELECT unnest(range($FleetCases)) AS case_id),
      |v AS (SELECT unnest([${SumVectors.indices.mkString(", ")}]) AS vi),
      |d AS (SELECT unnest(range($SumDays)) AS day),
      |o AS (SELECT case_id, vi,
      |             CAST(32000 * vi + 33 * day + 224 * case_id AS BIGINT) AS y32
      |      FROM c CROSS JOIN v CROSS JOIN d WHERE $cond)
      |SELECT CAST(case_id AS INT) AS case_id,
      |       CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(count(DISTINCT vi) AS BIGINT) AS n_vectors,
      |       CAST(sum(y32) AS BIGINT) AS sum_y32
      |FROM o GROUP BY 1 ORDER BY case_id""".stripMargin

  /** q63's replay minus the CONIPOS vector, shared verbatim by the
    * [[rftFleet]] twins q148 and q168. */
  private def rftFleetOracle: String = rftFleetOracleWhere("TRUE")

  /** rftFleetOracle restricted to the report groups a pushed-down
    * DATE/WELL filter selects (`cond` ranges over case `c` — the well is
    * `'W' || c` — and report `t`); q173 replays q168 with `cond` = the
    * groups its WELL IN + DATE equality pick. */
  private def rftFleetOracleWhere(cond: String): String =
    s"""WITH cases AS (SELECT unnest(range($RftCases)) AS c),
       dates AS (SELECT c, unnest(range($RftDates)) AS t FROM cases),
       cons AS (SELECT c, t, unnest(range($RftNcon)) AS i FROM dates)
       SELECT CAST(c AS INT) AS case_id,
              CAST(DATE '2023-02-01' + CAST(t AS INT) AS TIMESTAMP) AS date,
              'W' || CAST(c AS VARCHAR) AS well,
              CAST(i + 1 AS INT) AS conidx,
              CAST(1000 + 10 * i + 100 * t + c AS DOUBLE) AS depth,
              CAST(200 + i + 50 * t + 7 * c AS DOUBLE) AS pressure
       FROM cons WHERE $cond ORDER BY case_id, date, conidx"""

  /** q167: [[summaryFleet]] over its own fixtures — q114's twin, gated
    * against the same oracle. */
  def q167SummaryFleetSql(s: SparkSession, dir: String): DataFrame =
    summaryFleet(s, "q167")

  /** q189: CO-LOCATED PER-CASE FLEET AGGREGATE — the plan-shape payoff
    * of the DSv2 sources reporting KeyGroupedPartitioning(CASE): each
    * partition IS one realization, every row of it carries that
    * partition's CASE, so a per-case aggregate grouped on the RAW CASE
    * column satisfies ClusteredDistribution straight off the scan and
    * Spark plans a SINGLE complete aggregate with NO exchange (under
    * spark.sql.sources.v2.bucketing.enabled — storage-partitioned
    * planning). At a 1000-realization × 10⁸-row ensemble this is the
    * difference between shuffling the whole fleet and shuffling
    * nothing; case_id derives AFTER the aggregate, on report-sized
    * rows. The spec pins zero hash exchanges in the executed plan; the
    * gate hashes the closed-form per-case sums.
    */
  def q189FleetAggColocated(s: SparkSession, dir: String): DataFrame = {
    val tmp = writeFleetFixture(s, "q189")
    // storage-partitioned planning (spark.sql.sources.v2.bucketing
    // .enabled) is set at SESSION BIRTH in every entry point — never
    // inside a query body, so plan shapes cannot depend on query order;
    // without it the report degrades harmlessly to UnknownPartitioning
    // (one extra exchange, same rows)
    s.read.format("eclipse-unsmry").load(s"$tmp/*.UNSMRY")
      .groupBy(col("CASE"))
      .agg(count(lit(1)).as("n_rows"),
        sum(round(col("VALUE") * 32).cast("long")).as("sum_y32"),
        countDistinct(col("VECTOR")).as("n_vectors"))
      .withColumn("case_id", caseId)
      .select(col("case_id"), col("n_rows"), col("n_vectors"), col("sum_y32"))
      .orderBy(col("case_id"))
  }

  /** q190: STORAGE-PARTITIONED FLEET SELF-JOIN — the join half of the
    * KeyGroupedPartitioning payoff (q189 is the aggregate half): every
    * realization's oil-rate series joined per CASE against that
    * realization's END-OF-HISTORY cumulative (itself a per-CASE
    * aggregate that rides the reported grouping exchange-free), giving
    * the fractional-depletion-rate screen. The join key IS the
    * partition key, both sides carry the scan's CASE grouping (the
    * aggregate preserves its child's partitioning), so Spark's
    * storage-partitioned join plans the whole thing with ZERO
    * exchanges — at a 10⁸-row ensemble the fleet is never shuffled.
    * The MERGE hint pins the sort-merge path (at fixture size AQE
    * would broadcast — legal, but then the plan proves nothing).
    * Exactness: /32 dyadic vectors, integer fixed-point ratio.
    */
  def q190FleetSpjRatio(s: SparkSession, dir: String): DataFrame = {
    val tmp = writeFleetFixture(s, "q190")
    // v2.bucketing.enabled comes from session birth (see q189)
    def side(vec: String) =
      s.read.format("eclipse-unsmry").load(s"$tmp/*.UNSMRY")
        .filter(col("VECTOR") === vec)
    val rates = side("FOPR").select(col("CASE"), col("DATE"),
      round(col("VALUE") * 32).cast("long").as("rate32"))
    val finalCum = side("FOPT")
      .groupBy(col("CASE"))
      .agg(max(round(col("VALUE") * 32).cast("long")).as("cum_final32"))
    rates.hint("merge").join(finalCum.hint("merge"), Seq("CASE"))
      .withColumn("case_id", caseId)
      .select(col("case_id"),
        datediff(col("DATE"), lit(java.sql.Date.valueOf("2021-01-01")))
          .cast("long").as("day"),
        col("rate32"), col("cum_final32"),
        expr("(rate32 * 1000000) div cum_final32").as("ratio_fp6"))
      .orderBy(col("case_id"), col("day"))
  }

  /** q191: FULLY-PIPELINED FLEET WINDOW — the ordering half of the
    * scan-report story (q189 grouping, q190 join, q191 sort): the
    * binary sources also report per-partition ordering (CASE, DATE) —
    * true by construction, the kernels emit report steps in file
    * order — so a PARTITION BY CASE ORDER BY DATE window (here: the
    * day-over-day rate delta, the decline-onset primitive) plans with
    * NEITHER an exchange NOR a sort: the window runs directly on the
    * scan's output stream. At a 10⁸-row ensemble the alternative is
    * shuffling AND sorting the whole fleet. Null first-delta is part
    * of the contract (both engines emit SQL null for day 0).
    */
  def q191FleetWindowPipelined(s: SparkSession, dir: String): DataFrame = {
    val tmp = writeFleetFixture(s, "q191")
    // v2.bucketing.enabled comes from session birth (see q189)
    val w = Window.partitionBy(col("CASE")).orderBy(col("DATE"))
    s.read.format("eclipse-unsmry").load(s"$tmp/*.UNSMRY")
      .filter(col("VECTOR") === "FOPR")
      .select(col("CASE"), col("DATE"),
        round(col("VALUE") * 32).cast("long").as("rate32"))
      .withColumn("delta32", col("rate32") - lag(col("rate32"), 1).over(w))
      .withColumn("case_id", caseId)
      .select(col("case_id"),
        datediff(col("DATE"), lit(java.sql.Date.valueOf("2021-01-01")))
          .cast("long").as("day"),
        col("rate32"), col("delta32"))
      .orderBy(col("case_id"), col("day"))
  }

  /** q206: RUNTIME (DPP-style) CASE PRUNING — the DYNAMIC half of the
    * file-level partition pruning story (q176 is the static half, a
    * literal `WHERE CASE = …`): here the surviving realizations are not
    * known until ANOTHER table's filter evaluates. A parquet dimension
    * frame (realization → group tag, the ensemble-metadata shape of an
    * ERT runpath index) is filtered and broadcast-joined against the
    * fleet scan on CASE; Spark's dynamic partition pruning reuses the
    * broadcast as a `DynamicPruningSubquery` against the scan's
    * [[EclBinaryScan.filterAttributes]] (`SupportsRuntimeFiltering`), so
    * the NON-matching realizations' files are never opened — at a
    * 1000-case ensemble where the metadata filter keeps 50 realizations,
    * 95% of the fleet's bytes are pruned by a filter the scan could not
    * see statically. The gate hashes the per-case rollup against the
    * closed form restricted to the kept group; the companion spec
    * (EclPushdownSpec) asserts the injected runtime filter AND the
    * halved decode count — correctness here, plan+bytes evidence there.
    */
  def q206RuntimeCasePrune(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = writeFleetFixture(s, "q206")
    // the ensemble-metadata dim lives in parquet (not a LocalRelation:
    // Catalyst folds a filtered local frame into literals, leaving no
    // selective predicate for the DPP planner to key on — probed, r13)
    (0 until FleetCases).map(c => (s"$tmp/CASE$c", c % 2)).toDF("CASE", "grp")
      .write.mode("overwrite").parquet(s"$tmp/runpaths")
    val dim = s.read.parquet(s"$tmp/runpaths").filter(col("grp") === 1)
    s.read.format("eclipse-unsmry").load(s"$tmp/*.UNSMRY")
      .join(broadcast(dim), Seq("CASE"))
      .groupBy(col("CASE"))
      .agg(count(lit(1)).as("n_rows"),
        sum(round(col("VALUE") * 32).cast("long")).as("sum_y32"),
        countDistinct(col("VECTOR")).as("n_vectors"))
      .withColumn("case_id", caseId)
      .select(col("case_id"), col("n_rows"), col("n_vectors"), col("sum_y32"))
      .orderBy(col("case_id"))
  }

  /** q168: [[rftFleet]] over its own fixtures — q148's twin, gated
    * against the same oracle. */
  def q168RftFleetSql(s: SparkSession, dir: String): DataFrame =
    rftFleet(s, "q168")

  /** q171: DATE-SELECTIVE DSv2 RESTART READ — q165 replayed with a
    * pushed-down `WHERE DATE = …` (`SupportsPushDownFilters`), gated
    * against the q165 oracle restricted to that report step. The hash
    * proves the filtered SQL read equals the full-decode-then-filter
    * answer; the companion spec (EclPushdownSpec) additionally proves
    * the DECODE count dropped — the unselected SEQNUM groups' cell
    * vectors were seeked past at the byte level, never decoded (the
    * `--rstdates` / grid.py:54-123 `dates2rstindices` discipline, now
    * reachable from SQL). At a 1000-case × 200-step ensemble this is
    * the difference between reading ~1/200th of the bytes and all of
    * them.
    */
  def q171RestartDatePushdown(s: SparkSession, dir: String): DataFrame = {
    val tmp = fixtureDir("q171")
    val paths = (0 until RstCases).map(c => writeRstCase(tmp, c))
    readFleet(s, "unrst", paths, "PRESSURE", "SWAT")
      .where(col("DATE") === lit(java.sql.Date.valueOf("2022-01-02")))
      .select(col("case_id"), col("DATE").cast("timestamp").as("date"),
        col("ACTIVE_IDX").as("active_idx"),
        col("PRESSURE").as("pressure"), col("SWAT").as("swat"))
      .orderBy(col("case_id"), col("date"), col("active_idx"))
  }

  /** q172: SQL-DDL REACHABILITY — the ensemble grid registered as a
    * CATALOG TABLE (`CREATE TABLE … USING \`eclipse-egrid\``) and
    * queried with PURE SQL TEXT, gated against q164's oracle verbatim.
    * Closes the last gap between "format registered" and "a SQL user
    * can use it without writing Scala": after the one DDL statement, an
    * analyst's `SELECT … FROM ens_grid` resolves through the session
    * catalog to the same per-case partitions, byte-level column
    * pruning, and (q171) filter pushdown as the programmatic
    * `spark.read.format(…)` route.
    */
  /** Run `sel` against a TRANSIENT catalog table (`CREATE TABLE … USING
    * eclipse-*`) and drop the table before returning: the DDL gates must
    * not accumulate fixed-name tables in a long-lived user session (the
    * checkpoint-hygiene convention the streaming gates follow, applied
    * to the catalog — r12 verdict). The SELECT is materialized
    * (localCheckpoint, gate-fixture-sized) BEFORE the drop so the
    * returned frame's lazy plan can never resolve against a dropped
    * table. The entry drop keeps reruns safe after a crash between
    * create and drop. */
  private def withGateTable(s: SparkSession, name: String, ddl: String,
      sel: String): DataFrame = {
    s.sql(s"DROP TABLE IF EXISTS $name")
    s.sql(ddl)
    try s.sql(sel).localCheckpoint(true)
    finally s.sql(s"DROP TABLE IF EXISTS $name")
  }

  def q172SqlDdlGrid(s: SparkSession, dir: String): DataFrame = {
    val tmp = fixtureDir("q172")
    val paths = (0 until GridCases).map { c =>
      writeGridCase(tmp, c); s"$tmp/CASE$c.EGRID"
    }
    withGateTable(s, "ens_grid",
      s"""CREATE TABLE ens_grid USING `eclipse-egrid`
          OPTIONS (path '${paths.mkString(",")}', vectors 'PORO,PERMX')""",
      """SELECT CAST(regexp_extract(CASE, 'CASE([0-9]+)$', 1) AS INT) AS case_id,
                I AS i, J AS j, K AS k, X AS x, Y AS y, Z AS z,
                Z_MIN AS z_min, Z_MAX AS z_max,
                round(VOLUME, 6) AS volume,
                GLOBAL_INDEX AS global_index, ACTIVE_IDX AS active_idx,
                PORO AS poro, PERMX AS permx
         FROM ens_grid ORDER BY case_id, global_index""")
  }

  /** q199: SQL-DDL REACHABILITY for the RESTART format — q172's catalog
    * discipline on `eclipse-unrst`, WITH a pushed WHERE: after
    * `CREATE TABLE … USING eclipse-unrst`, a pure-SQL
    * `WHERE DATE = …` must reach the same byte-level step skipping as
    * the programmatic q171 route (the catalog resolution path has its
    * own plumbing — q172 needed a path-normalization fix — so pushdown
    * preservation through it is gated, not assumed; the companion
    * spec counts decoded payloads through the DDL route). Gated
    * against the q165 oracle restricted to that report step.
    */
  def q199SqlDdlUnrst(s: SparkSession, dir: String): DataFrame = {
    val tmp = fixtureDir("q199")
    val paths = (0 until RstCases).map(c => writeRstCase(tmp, c))
    withGateTable(s, "ens_rst",
      s"""CREATE TABLE ens_rst USING `eclipse-unrst`
          OPTIONS (path '${paths.mkString(",")}', vectors 'PRESSURE,SWAT')""",
      """SELECT CAST(regexp_extract(CASE, 'CASE([0-9]+)[.]UNRST$', 1) AS INT) AS case_id,
                CAST(DATE AS TIMESTAMP) AS date, ACTIVE_IDX AS active_idx,
                PRESSURE AS pressure, SWAT AS swat
         FROM ens_rst WHERE DATE = DATE'2022-01-02'
         ORDER BY case_id, date, active_idx""")
  }

  /** q200: SQL-DDL REACHABILITY for the SUMMARY format — catalog table
    * over `eclipse-unsmry` queried with a pure-SQL WHERE combining BOTH
    * pushdown axes the format supports: a DATE range (record-level
    * TIME-peek skipping, q174) AND a VECTOR equality (slot-level
    * in-record skipping, q198). Gated against the q167 oracle under
    * the same restriction; the companion spec proves the DDL route
    * decodes zero full PARAMS records.
    */
  def q200SqlDdlUnsmry(s: SparkSession, dir: String): DataFrame = {
    val tmp = writeFleetFixture(s, "q200")
    withGateTable(s, "ens_sum",
      s"""CREATE TABLE ens_sum USING `eclipse-unsmry`
          OPTIONS (path '$tmp/*.UNSMRY')""",
      """SELECT CAST(regexp_extract(CASE, 'CASE([0-9]+)$', 1) AS INT) AS case_id,
                VECTOR AS vector, CAST(DATE AS TIMESTAMP) AS date,
                VALUE AS value
         FROM ens_sum
         WHERE VECTOR = 'FOPR'
           AND DATE BETWEEN DATE'2021-01-10' AND DATE'2021-01-12'
         ORDER BY case_id, vector, date""")
  }

  /** q201: SQL-DDL REACHABILITY for the RFT format — catalog table over
    * `eclipse-rft` with a pure-SQL `WHERE WELL IN … AND DATE = …`
    * (q173's group-level skip through the catalog route). Completes
    * the DDL QUARTET (q172 egrid, q199 unrst, q200 unsmry, q201 rft):
    * every binary ensemble format is now a one-statement catalog
    * table with its pushdown surface intact. Gated against the q168
    * oracle restricted to those groups.
    */
  def q201SqlDdlRft(s: SparkSession, dir: String): DataFrame = {
    val tmp = fixtureDir("q201")
    val paths = (0 until RftCases).map(c => writeRftCase(tmp, c))
    withGateTable(s, "ens_rft",
      s"""CREATE TABLE ens_rft USING `eclipse-rft`
          OPTIONS (path '${paths.mkString(",")}', vectors 'DEPTH,PRESSURE')""",
      """SELECT CAST(regexp_extract(CASE, 'CASE([0-9]+)[.]RFT$', 1) AS INT) AS case_id,
                CAST(DATE AS TIMESTAMP) AS date, WELL AS well,
                CONIDX AS conidx, DEPTH AS depth, PRESSURE AS pressure
         FROM ens_rft
         WHERE WELL IN ('W1', 'W2') AND DATE = DATE'2023-02-02'
         ORDER BY case_id, date, conidx""")
  }

  /** q173: WELL+DATE-SELECTIVE DSv2 RFT READ — q168 replayed with
    * pushed-down `WHERE WELL IN (…) AND DATE = …`: the disqualified
    * TIME report groups' per-connection vectors seek past at the byte
    * level (an RFT group leads with its small TIME/DATE/WELLETC clock
    * keywords, so the well/date verdict lands before any data payload).
    * Gated against the q168 oracle restricted to those groups; the
    * companion spec proves the decode count dropped.
    */
  def q173RftWellPushdown(s: SparkSession, dir: String): DataFrame = {
    val tmp = fixtureDir("q173")
    val paths = (0 until RftCases).map(c => writeRftCase(tmp, c))
    readFleet(s, "rft", paths, "DEPTH", "PRESSURE")
      .where(col("WELL").isin("W1", "W2") &&
        col("DATE") === lit(java.sql.Date.valueOf("2023-02-02")))
      .select(col("case_id"), col("DATE").cast("timestamp").as("date"),
        col("WELL").as("well"), col("CONIDX").as("conidx"),
        col("DEPTH").as("depth"), col("PRESSURE").as("pressure"))
      .orderBy(col("case_id"), col("date"), col("conidx"))
  }

  /** q174: DATE-RANGE-SELECTIVE DSv2 SUMMARY READ — q167 replayed with
    * a pushed-down `WHERE DATE BETWEEN … AND …`. UNSMRY's PARAMS records
    * interleave ALL vectors per ministep, so the source first PEEKS only
    * the TIME element of each record ([[graft.io.EclKw.streamFloatElement]]
    * — 4 bytes per step), then decodes just the ministeps inside the
    * range; the rest seek past whole (the INTEHEAD-prescan discipline
    * applied inside the record — on a full-field SMSPEC with 10⁴
    * vectors, a 3-of-200-step read decodes ~1.5% of the PARAMS bytes).
    * Gated against the q167 oracle restricted to those days.
    */
  def q174SummaryDatePushdown(s: SparkSession, dir: String): DataFrame = {
    val tmp = writeFleetFixture(s, "q174")
    readFleet(s, "unsmry", Seq(s"$tmp/*.UNSMRY"))
      .where(col("DATE").between(
        lit(java.sql.Date.valueOf("2021-01-10")),
        lit(java.sql.Date.valueOf("2021-01-12"))))
      .select(col("case_id"), col("VECTOR").as("vector"),
        col("DATE").cast("timestamp").as("date"), col("VALUE").as("value"))
      .orderBy(col("case_id"), col("vector"), col("date"))
  }

  /** q198: VECTOR-SELECTIVE DSv2 SUMMARY READ — q167 replayed with a
    * pushed-down `WHERE VECTOR IN (…)`. A PARAMS record interleaves ALL
    * nvec vectors per ministep, so row-level pushdown cannot skip
    * records — instead the kernel decodes ONLY the selected vectors'
    * (plus TIME's) 4-byte SLOTS inside each record and seeks past the
    * rest ([[graft.io.EclKw.streamFloatSlots]] — the q174 TIME-peek
    * mechanism generalized from one element to a slot set). On a
    * full-field SMSPEC with 10⁴ vectors, a one-vector fleet read (the
    * exact filter shape q190/q191 issue) touches ~0.01% of the PARAMS
    * payload bytes. Gated against the q167 oracle restricted to those
    * vectors; the companion spec (EclPushdownSpec) proves via
    * [[graft.io.DecodeStats]] that NO record was fully decoded and the
    * slots decoded are exactly (selected+TIME)·steps — a row count
    * alone cannot distinguish seek-past from decode-then-filter.
    */
  def q198SummaryVectorPushdown(s: SparkSession, dir: String): DataFrame = {
    val tmp = writeFleetFixture(s, "q198")
    readFleet(s, "unsmry", Seq(s"$tmp/*.UNSMRY"))
      .where(col("VECTOR").isin("FOPR", "WBHP:W0"))
      .select(col("case_id"), col("VECTOR").as("vector"),
        col("DATE").cast("timestamp").as("date"), col("VALUE").as("value"))
      .orderBy(col("case_id"), col("vector"), col("date"))
  }

  /** q176: CASE-SELECTIVE DSv2 RESTART READ — file-level partition
    * pruning: `WHERE CASE = …` over the ensemble load plans ONE input
    * partition; the other cases' files are never opened at all (the
    * partition-pruning analog for the keyed-file ensemble layout — at
    * a 1000-realization study, one realization's query touches one
    * file). Gated against the q165 oracle restricted to that case; the
    * companion spec pins partitions-planned = 1 and zero decode from
    * unmatched files. Runtime (join-driven) CASE restriction rides the
    * same hook via SupportsRuntimeFiltering.
    */
  def q176CasePushdown(s: SparkSession, dir: String): DataFrame = {
    val tmp = fixtureDir("q176")
    val paths = (0 until RstCases).map(c => writeRstCase(tmp, c))
    readFleet(s, "unrst", paths, "PRESSURE", "SWAT")
      .where(col("CASE") === paths(2))
      .select(col("case_id"), col("DATE").cast("timestamp").as("date"),
        col("ACTIVE_IDX").as("active_idx"),
        col("PRESSURE").as("pressure"), col("SWAT").as("swat"))
      .orderBy(col("case_id"), col("date"), col("active_idx"))
  }

  /** q177: DSv2 SUMMARY FLEET WRITE→READ ROUND TRIP — the S16
    * `df2ressum` symmetry at ensemble scale through the REGISTERED
    * format in BOTH directions: the closed-form fleet frame written by
    * `df.write.format("eclipse-unsmry").save(dir)` (one distributed
    * write; the Write REQUIRES clustering by CASE and ordering by
    * (CASE, DATE, VECTOR), so Spark plans the one exchange and each
    * task streams whole cases to SMSPEC/UNSMRY pairs with a
    * rename-on-commit protocol), then read back by the same format and
    * gated against the q167 fleet oracle verbatim. The input is
    * deliberately SHUFFLED first — the hash only matches if the
    * required distribution actually regrouped it.
    */
  def q177SummaryFleetWrite(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = fixtureDir("q177")
    val rows = for {
      c <- 0 until FleetCases
      (v, vi) <- SumVectors.zipWithIndex
      d <- 0 until SumDays
    } yield (s"CASE$c",
      java.sql.Date.valueOf(java.time.LocalDate.of(2021, 1, 1).plusDays(d)),
      v, 1000.0 * vi + d + 7.0 * c + (d % 32) / 32.0)
    rows.toDF("CASE", "DATE", "VECTOR", "VALUE")
      .orderBy(rand(11)) // prove the required clustering regroups it
      .write.format("eclipse-unsmry").mode("overwrite").save(tmp)
    readFleet(s, "unsmry", Seq(s"$tmp/*.UNSMRY"))
      .select(col("case_id"), col("VECTOR").as("vector"),
        col("DATE").cast("timestamp").as("date"), col("VALUE").as("value"))
      .orderBy(col("case_id"), col("vector"), col("date"))
  }

  /** q178: the SUMMARY FLEET as a STREAM — `spark.readStream.format(
    * "eclipse-unsmry")` over the same closed-form fixtures, MICRO_BATCH
    * source: arriving realizations become input partitions of the next
    * micro-batch, decoded by the SAME per-case kernel as the batch scan
    * (the live ensemble-monitoring shape: a misfit scoreboard watches
    * UNSMRY files land instead of a converted event table). Offsets are
    * the processed-file set in the checkpoint's offset log — the spec
    * additionally proves restart-from-checkpoint processes only new
    * cases. Gated against the q167 fleet oracle verbatim: the streamed
    * decode must equal the batch read row for row.
    */
  def q178SummaryStream(s: SparkSession, dir: String): DataFrame =
    summaryStreamToFleetFrame(s, "q178", Map.empty)

  /** The shared stream→memory-sink→fleet-frame plumbing of q178 and
    * q204 (identical shape; q204 adds reader options). */
  private def summaryStreamToFleetFrame(s: SparkSession, tag: String,
      readerOpts: Map[String, String]): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val tmp = writeFleetFixture(s, tag)
    val sink = s"${tag}_sink"
    s.catalog.dropTempView(sink)
    val reader = readerOpts.foldLeft(s.readStream.format("eclipse-unsmry")) {
      case (r, (k, v)) => r.option(k, v)
    }
    val q = reader.load(s"$tmp/*.UNSMRY")
      .writeStream.format("memory").queryName(sink)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table(sink)
      .withColumn("case_id", caseId)
      .select(col("case_id"), col("VECTOR").as("vector"),
        col("DATE").cast("timestamp").as("date"), col("VALUE").as("value"))
      .orderBy(col("case_id"), col("vector"), col("date"))
  }

  /** q204: BYTE-LEVEL FILTERED STREAMING READ — the `filter.*` option
    * route under the gate. Spark's filter pushdown never reaches a
    * STREAMING scan (V2ScanRelationPushDown rewrites batch relations
    * only; a stream's WHERE is row-evaluated after a full decode — a
    * limitation this round MEASURED: the round-11 "pushdown works
    * in-stream" impression was row-verified only). The sources
    * therefore accept `filter.dates` / `filter.vectors` /
    * `filter.wells` / `filter.cases` options that seed the SAME
    * byte-level predicates a batch WHERE pushes: here the q178 stream
    * re-runs with a date range AND a vector selection, so each
    * arriving realization decodes only (TIME + 1 vector) slots of 3 of
    * its 30 PARAMS records. Gated against the q167 oracle under the
    * same restriction; the companion spec proves the in-stream decode
    * counts (zero full records; the bare-WHERE control fully decodes).
    */
  def q204StreamFilteredRead(s: SparkSession, dir: String): DataFrame =
    summaryStreamToFleetFrame(s, "q204", Map(
      "filter.vectors" -> "FOPR",
      "filter.dates" -> "2021-01-10..2021-01-12"))

  /** q202: KILL-MID-DRAIN RECOVERY for the BINARY streaming source —
    * the composition of q178 (clean restart processes only new cases)
    * and q175 (the file-event source's mid-run kill): all M cases are
    * PRESENT up front, the stream drains one case per micro-batch
    * (`maxCasesPerTrigger=1`), and an injected failure KILLS the query
    * at batch N — before that batch produces any effect, the crash
    * point with the strongest replay obligation. The restart from the
    * SAME checkpoint must (a) never re-emit batches 0..N-1 (they are in
    * the commit log — a reprocess would double-append to the sink),
    * (b) re-execute the in-flight batch N from its already-written
    * OFFSET log entry — the same admitted case file, decoded once into
    * the sink — and (c) drain the remaining cases. Gated against the
    * q167 fleet oracle VERBATIM: the hash only matches if every case
    * lands exactly once across the kill. The companion spec pins the
    * batch accounting (run 1 commits exactly N; cumulative ids continue
    * to M) — the q175 evidence shape on the binary source.
    */
  def q202StreamKillRecovery(s: SparkSession, dir: String): DataFrame =
    summaryStreamKillRun(s, dir)._1

  /** The q202 run, exposing (result, run-1 committed batches, cumulative
    * batches after run 2). The kill is a deterministic injected throw in
    * `foreachBatch` at `killAt`, BEFORE the batch writes — so the replay
    * writing it exactly once is load-bearing, not a coincidence of
    * where an external kill landed. */
  private[graft] def summaryStreamKillRun(s: SparkSession, dir: String)
      : (DataFrame, Long, Long) = {
    import org.apache.spark.sql.streaming.Trigger
    val tmp = writeFleetFixture(s, "q202")
    val dirTag = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    // fresh per-run root (the q175/q147 convention): the checkpoint is
    // the recovery mechanism WITHIN this gate's two runs
    val root = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft-gate", "q202",
      s"$dirTag-${ProcessHandle.current().pid()}").toString
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    val out = s"$root/rows"
    val cp = s"$root/checkpoint"
    val killAt = FleetCases / 2 // batches 0..killAt-1 commit, killAt dies
    val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
    def runOnce(): Long = {
      val q = s.readStream.format("eclipse-unsmry")
        .option("maxCasesPerTrigger", "1")
        .load(s"$tmp/*.UNSMRY")
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            bid: Long) =>
          if (bid == killAt && armed.getAndSet(false))
            throw new RuntimeException("q202 injected kill")
          df.write.mode("append").parquet(out)
        }
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination()
      catch {
        case e: org.apache.spark.sql.streaming.StreamingQueryException =>
          // only the injected kill is survivable — anything else is real
          require(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
            .exists(t => Option(t.getMessage).exists(_.contains("q202 injected kill"))), e)
      }
      Option(q.lastProgress).map(_.batchId + 1).getOrElse(0L)
    }
    val b1 = runOnce() // commits killAt batches, DIES on batch killAt
    val b2 = runOnce() // same checkpoint: replays killAt, drains the rest
    (s.read.parquet(out)
      .withColumn("case_id", caseId)
      .select(col("case_id"), col("VECTOR").as("vector"),
        col("DATE").cast("timestamp").as("date"), col("VALUE").as("value"))
      .orderBy(col("case_id"), col("vector"), col("date")), b1, b2)
  }

  /** q179: LIVE ENSEMBLE MISFIT SCOREBOARD — the production composition
    * of the q178 streaming source: realizations ARRIVE one micro-batch
    * each (`maxCasesPerTrigger=1`, the source's admission control —
    * the file source's maxFilesPerTrigger for the ensemble layout),
    * each arriving case's summary rows join the broadcast OBSERVED
    * table stream-side (stream-static inner join, stateless → append-
    * legal, no state store) and publish per-row squared errors; the
    * scoreboard rollup per case runs on the sink. This is the q126
    * batch misfit ranking as a LIVE view over UNSMRY files landing —
    * what a history-match operator actually watches during a run.
    *
    * Exactness: value − observed = 3.5·(2c−3) exactly (both sides
    * dyadic float32-exact), so 4·(value−observed)² = 49·(2c−3)² is an
    * exact integer — misfit_fp4 is a BIGINT both engines agree on.
    */
  def q179StreamScoreboard(s: SparkSession, dir: String): DataFrame =
    streamScoreboardRun(s, dir)._1

  /** The q179 run, exposing the micro-batch count the spec pins (one
    * case per batch under maxCasesPerTrigger=1). */
  private[graft] def streamScoreboardRun(s: SparkSession, dir: String): (DataFrame, Long) = {
    import org.apache.spark.sql.streaming.Trigger
    import s.implicits._
    val tmp = writeFleetFixture(s, "q179")
    // the observed "truth": the fleet formula at the half-way case
    // c = 1.5 — every case's error is then 7·(c − 1.5), dyadic-exact
    val observed = (for {
      (v, vi) <- SumVectors.zipWithIndex
      d <- 0 until SumDays
    } yield (v,
      java.sql.Date.valueOf(java.time.LocalDate.of(2021, 1, 1).plusDays(d)),
      1000.0 * vi + d + 7.0 * 1.5 + (d % 32) / 32.0))
      .toDF("VECTOR", "DATE", "OBS")
    val sink = "q179_sink"
    s.catalog.dropTempView(sink)
    val q = s.readStream.format("eclipse-unsmry")
      .option("maxCasesPerTrigger", "1")
      .load(s"$tmp/*.UNSMRY")
      .join(broadcast(observed), Seq("VECTOR", "DATE"))
      .select(col("CASE"), col("VECTOR"), col("DATE"),
        (((col("VALUE") - col("OBS")) * (col("VALUE") - col("OBS"))) * 4)
          .cast("long").as("sqerr_fp4"))
      .writeStream.format("memory").queryName(sink)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val batches = q.lastProgress.batchId + 1
    (s.table(sink)
      .withColumn("case_id", caseId)
      .groupBy(col("case_id"))
      .agg(count(lit(1)).as("n_rows"), sum(col("sqerr_fp4")).as("misfit_fp4"))
      .orderBy(col("misfit_fp4"), col("case_id")), batches)
  }

  /** q180: PROPERTY-ONLY GRID FLEET READ — geometry-kernel pruning:
    * a projection that needs none of X/Y/Z/Z_MIN/Z_MAX/VOLUME skips
    * the corner-point pillar interpolation AND never decodes the
    * COORD/ZCORN payloads (ZCORN is 8 floats per cell — the dominant
    * EGRID payload; a 10⁸-cell property screen reads ACTNUM + the two
    * INIT vectors instead of 32 bytes/cell of geometry). I/J/K,
    * GLOBAL_INDEX and the active ordinal come from GRIDHEAD + ACTNUM
    * alone. Gated against the q164 oracle projected to the property
    * columns; the companion spec pins geometry-cells-computed = 0.
    */
  def q180GridPropsPushdown(s: SparkSession, dir: String): DataFrame = {
    val tmp = fixtureDir("q180")
    val paths = (0 until GridCases).map { c =>
      writeGridCase(tmp, c); s"$tmp/CASE$c.EGRID"
    }
    readFleet(s, "egrid", paths, "PORO", "PERMX")
      .select(col("case_id"), col("GLOBAL_INDEX").as("global_index"),
        col("ACTIVE_IDX").as("active_idx"),
        col("PORO").as("poro"), col("PERMX").as("permx"))
      .orderBy(col("case_id"), col("global_index"))
  }

  /** The RFT FLEET read (S7 at ensemble scale) under the gate, over
    * fixtureDir(`q`): the `eclipse-rft` scan decodes every case's TIME
    * report groups executor-side, one partition per case, pruned
    * connection vectors seeked past at the byte level. Same closed-form
    * fixtures as q63; the hash proves the fleet path equals the
    * single-case streaming reads with no cross-case group state. q148
    * and q168 run it over their own fixture dirs, each with its own
    * registry entry and oracle hash.
    */
  private def rftFleet(s: SparkSession, q: String): DataFrame = {
    val tmp = fixtureDir(q)
    val paths = (0 until RftCases).map(c => writeRftCase(tmp, c))
    readFleet(s, "rft", paths, "DEPTH", "PRESSURE")
      .select(col("case_id"), col("DATE").cast("timestamp").as("date"),
        col("WELL").as("well"), col("CONIDX").as("conidx"),
        col("DEPTH").as("depth"), col("PRESSURE").as("pressure"))
      .orderBy(col("case_id"), col("date"), col("conidx"))
  }

  /** q148: [[rftFleet]] over its own fixtures. */
  def q148RftFleet(s: SparkSession, dir: String): DataFrame =
    rftFleet(s, "q148")

  /** q66: the NNC pair-list decode + cell-coordinate join (S3's NNC1/
    * NNC2 + TRANNNC surface and J7's `nncWithCoordinates`) under the
    * gate, over the SAME grid fixtures as q59. The pair formula
    * deliberately lands some endpoints on inactive cells, so the
    * broadcast left-joins' null path (missing geometry → null averaged
    * coordinates) is hash-checked too; TRANNNC values are float-exact
    * dyadics read through the REAL→double widening.
    */
  def q66NncBinary(s: SparkSession, dir: String): DataFrame = {
    val tmp = fixtureDir("q59")
    val frames = (0 until GridCases).map { c =>
      val base = writeGridCase(tmp, c)
      val nnc = graft.io.EclBinary.nnc(s, s"$base.EGRID", Some(s"$base.INIT"))
      graft.modules.GridOps.nncWithCoordinates(nnc, graft.io.EclBinary.egrid(s, s"$base.EGRID"))
        .withColumn("case_id", lit(c))
    }
    frames.reduce(_ unionByName _)
      .select(col("case_id"),
        col("I1").as("i1"), col("J1").as("j1"), col("K1").as("k1"),
        col("I2").as("i2"), col("J2").as("j2"), col("K2").as("k2"),
        col("TRAN").as("tran"), col("X").as("x"), col("Y").as("y"), col("Z").as("z"))
      .orderBy(col("case_id"), col("i1"), col("j1"), col("k1"),
        col("i2"), col("j2"), col("k2"))
  }

  /** q123: per-cell ENSEMBLE STATISTICS across grid realizations — the
    * history-match QC query a fleet read exists for ("where does the
    * ensemble disagree about porosity?"): q117's fleet frame grouped by
    * global cell, per-cell case count (ACTNUM differs per realization,
    * so membership varies), min/max, and exact fixed-point means.
    * PORO is dyadic (k/64) so `Σ poro·64` is an exact integer and the
    * mean publishes as `⌊Σ·10⁶ / (64·n)⌋` — BIGINT end to end, no
    * float accumulation reaches the hash (PERMX likewise,
    * integer-valued). Scale: fleet scan → ONE cell-keyed aggregate;
    * output is grid-sized, independent of ensemble size.
    */
  def q123GridEnsembleStats(s: SparkSession, dir: String): DataFrame = {
    val tmp = fixtureDir("q123")
    val paths = (0 until GridCases).map { c =>
      writeGridCase(tmp, c); s"$tmp/CASE$c.EGRID"
    }
    readFleet(s, "egrid", paths, "PORO", "PERMX")
      .groupBy(col("GLOBAL_INDEX").as("global_index"),
        col("I").as("i"), col("J").as("j"), col("K").as("k"))
      .agg(count(lit(1)).as("n_cases"),
        min(col("PORO")).as("poro_min"), max(col("PORO")).as("poro_max"),
        floor(sum((col("PORO") * 64).cast("long")) * 1000000
          / (lit(64) * count(lit(1)))).cast("long").as("poro_mean_fp"),
        min(col("PERMX")).as("permx_min"), max(col("PERMX")).as("permx_max"),
        floor(sum(col("PERMX").cast("long")) * 1000000
          / count(lit(1))).cast("long").as("permx_mean_fp"))
      .orderBy(col("global_index"))
  }

  /** q124: per-vector ENSEMBLE ENVELOPE across summary realizations —
    * the ERT ensemble plot behind every history-match review (min/max
    * band + mean per vector per date over all cases): q114's fleet
    * frame grouped by (vector, date). Values are dyadic (x/32 exact in
    * float32), so `Σ value·32` is an exact BIGINT and the mean
    * publishes fixed-point — no float accumulation in the hashed
    * output. Scale: fleet scan → ONE (vector, date)-keyed aggregate;
    * output is (vectors × dates)-sized, independent of ensemble size.
    */
  def q124SummaryEnsembleStats(s: SparkSession, dir: String): DataFrame = {
    val tmp = writeFleetFixture(s, "q124")
    readFleet(s, "unsmry", Seq(s"$tmp/*.UNSMRY"))
      .groupBy(col("VECTOR").as("vector"), col("DATE").cast("timestamp").as("date"))
      .agg(count(lit(1)).as("n_cases"),
        min(col("VALUE")).as("v_min"), max(col("VALUE")).as("v_max"),
        floor(sum((col("VALUE") * 32).cast("long")) * 1000000
          / (lit(32) * count(lit(1)))).cast("long").as("v_mean_fp"))
      .orderBy(col("vector"), col("date"))
  }

  /** Observation days for q126: every 5th report day. */
  private val MisfitObsDays: Seq[Int] = (0 until SumDays).filter(_ % 5 == 0)

  /** q126: ENSEMBLE MISFIT RANKING — the history-match scoring loop ERT
    * runs after every ensemble batch (reference users rank realizations
    * by weighted squared deviation from observed production data, cf.
    * `summary.py`'s role as the data source for ERT's MISFIT workflow):
    * a closed-form observation set (vector, date, value, error) joined
    * against q114's summary FLEET read, per-realization misfit
    * Σ ((sim−obs)/err)² aggregated in ONE pass, realizations ranked.
    *
    * Exactness: sim values are dyadic (x/32 float32-exact) and obs
    * values are chosen on the same lattice, so `sim·32 − obs·32` is an
    * exact BIGINT multiple of 32 and the residual (7c + 3(d%7) −
    * 2(vi%3)) is an exact integer; errors are powers of two, so the
    * normalized square publishes as `w·δ²` with w = 4/err² ∈ {1,4} —
    * BIGINT end to end, no float reaches the hash.
    *
    * Scale shape: the observation set is always tiny (a history-match
    * uses hundreds of observed points) → BROADCAST inner join against
    * the fleet scan, one case-keyed aggregate; the ranking window runs
    * over ensemble-sized output (≤ thousands of realizations — one
    * task by construction, same bound as the codebook collects).
    */
  /** The q126/q143 observation frame. Carries java.sql.Date and casts
    * IN-PLAN, so both join sides are session-timezone midnights;
    * Timestamp.valueOf would bake in the JVM default zone and empty
    * the join on a non-UTC driver (the ModuleOracles date-literal
    * rule). */
  private def misfitObs(s: SparkSession): DataFrame = {
    import s.implicits._
    val obsRows = for {
      (v, vi) <- SumVectors.zipWithIndex
      d <- MisfitObsDays
    } yield (v,
      java.sql.Date.valueOf(java.time.LocalDate.of(2021, 1, 1).plusDays(d)),
      32000L * vi + 32L * d - 96L * (d % 7) + 64L * (vi % 3) + d % 32,
      if (vi % 2 == 0) 4L else 1L) // w = 4/err², err = 1 (even vi) or 2 (odd)
    obsRows.toDF("vector", "obs_date", "obs32", "w")
      .withColumn("ts", col("obs_date").cast("timestamp")).drop("obs_date")
  }

  /** Score a (vector, ts, sim32, case_id) frame against [[misfitObs]]
    * — shared by the batch fleet read (q126) and the streaming
    * scoreboard (q143); works on batch AND streaming frames (broadcast
    * stream-static join + one case-keyed aggregate). */
  private def misfitScore(s: SparkSession, sims: DataFrame): DataFrame =
    sims.join(broadcast(misfitObs(s)), Seq("vector", "ts"))
      .withColumn("dlt", expr("(sim32 - obs32) div 32"))
      .groupBy(col("case_id"))
      .agg(count(lit(1)).as("n_obs"),
        sum(col("w") * col("dlt") * col("dlt")).as("misfit_fp4"))

  /** Rank a (case_id, n_obs, misfit_fp4) frame — ensemble-sized. */
  private def misfitRank(scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    scored
      .withColumn("rank",
        row_number().over(Window.orderBy(col("misfit_fp4"), col("case_id"))))
      .select(col("case_id"), col("n_obs"), col("misfit_fp4"), col("rank"))
      .orderBy(col("rank"))
  }

  def q126EnsembleMisfit(s: SparkSession, dir: String): DataFrame = {
    val tmp = writeFleetFixture(s, "q126")
    val sims = readFleet(s, "unsmry", Seq(s"$tmp/*.UNSMRY"))
      .select(col("case_id"), col("VECTOR").as("vector"),
        col("DATE").cast("timestamp").as("ts"),
        (col("VALUE") * 32).cast("long").as("sim32"))
    misfitRank(misfitScore(s, sims))
  }

  /** q143: STREAMING MISFIT SCOREBOARD — q126's history-match scoring
    * run by the streaming engine as realizations LAND: each case's
    * decoded summary frame arrives as a file, streams through the
    * broadcast stream-static observation join, and the per-case
    * Σ w·δ² accumulates as aggregation state (ensemble-sized,
    * bounded). The live leaderboard an ensemble operator watches while
    * the batch queue drains; complete-mode output re-ranks after every
    * arrival. Oracle = q126's verbatim — the hash proves the
    * incremental accumulation lands on the batch answer exactly.
    */
  def q143StreamMisfit(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val tmp = writeFleetFixture(s, "q143")
    // one realization's decoded summary: a read of its own file, so
    // staging decodes each case once
    def arrival(c: Int) = readFleet(s, "unsmry", Seq(s"$tmp/CASE$c.UNSMRY"))
      .select(col("case_id"), col("VECTOR").as("vector"),
        col("DATE").cast("timestamp").as("ts"),
        (col("VALUE") * 32).cast("long").as("sim32"))
    // stage one parquet arrival per realization (per-case file, the
    // order results land from a batch queue)
    val stage = fixtureDir("q143") + "/arrivals"
    (0 until FleetCases).foreach { c =>
      val tmpOut = s"$stage/_tmp"
      arrival(c).coalesce(1)
        .write.mode("overwrite").parquet(tmpOut)
      val part = new java.io.File(tmpOut).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(f"$stage/fleet_$c%04d.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$stage/_tmp"))
    val stream = s.readStream.schema(arrival(0).schema)
      .option("pathGlobFilter", "fleet_*.parquet").parquet(stage)
    val sink = "q143_sink"
    s.catalog.dropTempView(sink)
    // scale-adaptive state partitions for the stateful misfit aggregate
    // (guide §2; see StreamTune) — results are partitioning-invariant
    graft.streaming.StreamTune.withAdaptiveStreamShuffle(s, stage) {
      val q = misfitScore(s, stream)
        .writeStream.format("memory").queryName(sink)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    misfitRank(s.table(sink))
  }

  /** The depletion-shaped UNRST closed form shared by q128 and q132:
    * PRESSURE = 1000c + a + t·(10 + c + a%7) (per-case, per-cell time
    * slope — integer-valued float32), SWAT = ((a + 3t + c) % 32)/32
    * (dyadic). */
  private def writeDepletionRstCase(tmp: String, c: Int): String =
    writeRstCaseWith(tmp, c,
      (a, t) => (1000 * c + a + t * (10 + c + a % 7)).toFloat,
      (a, t) => ((a + 3 * t + c) % 32) / 32f)

  /** q128: DEPLETION DELTA over the restart fleet — the
    * pressure-depletion / saturation-sweep report an ensemble study
    * reads UNRST files FOR (reference users difference restart steps
    * per cell; cf. `grid.py` dataframe2res's dz/depth workflows): per
    * (case, active cell) the first→last report-step change, then the
    * per-cell CROSS-REALIZATION envelope (count, min/max, exact
    * fixed-point mean of ΔP and ΔSWAT·32).
    *
    * Exactness: fixture pressures are integer-valued float32 and SWAT
    * is dyadic (x/32), so ΔP and ΔSWAT·32 cast to exact BIGINTs; the
    * mean publishes as `(sum·10⁶) div n` — positive-operand truncating
    * division, engine-identical.
    *
    * Scale shape: fleet decode is one task per case (no driver
    * streaming); first/last-per-(case,cell) is a min/max STRUCT
    * aggregate keyed by date — partial-aggregated map-side, so the one
    * exchange carries exactly one row per (case, cell); the ensemble
    * envelope re-keys by cell, output = grid size, independent of
    * ensemble size and step count. No window over steps is ever needed
    * (min/max struct beats a sort-per-group at any step count).
    */
  def q128Depletion(s: SparkSession, dir: String): DataFrame = {
    val tmp = fixtureDir("q128")
    val paths = (0 until RstCases).map(c => writeDepletionRstCase(tmp, c))
    val perCase = readFleet(s, "unrst", paths, "PRESSURE", "SWAT")
      .select(col("case_id"), col("ACTIVE_IDX").as("active_idx"),
        col("DATE").cast("timestamp").as("ts"),
        col("PRESSURE").cast("double").as("p"),
        (col("SWAT").cast("double") * 32).as("sw32"))
      .groupBy(col("case_id"), col("active_idx"))
      .agg(min(struct(col("ts"), col("p"), col("sw32"))).as("f"),
        max(struct(col("ts"), col("p"), col("sw32"))).as("l"))
      .select(col("case_id"), col("active_idx"),
        (col("l.p") - col("f.p")).cast("long").as("dp"),
        (col("l.sw32") - col("f.sw32")).cast("long").as("dsw32"))
    perCase
      .groupBy(col("active_idx"))
      .agg(count(lit(1)).as("n_cases"),
        min(col("dp")).as("dp_min"), max(col("dp")).as("dp_max"),
        sum(col("dp")).as("dp_sum"),
        min(col("dsw32")).as("dsw32_min"), max(col("dsw32")).as("dsw32_max"))
      .withColumn("dp_mean_fp6", expr("(dp_sum * 1000000) div n_cases"))
      .select(col("active_idx"), col("n_cases"), col("dp_min"), col("dp_max"),
        col("dp_sum"), col("dp_mean_fp6"), col("dsw32_min"), col("dsw32_max"))
      .orderBy(col("active_idx"))
  }

  /** q151 INIT closed forms: PORV = (1 + (3a + c) % 128)/32 (dyadic,
    * float32-exact, ×32 → BIGINT 1..128) and FIPNUM = 1 + (a + 2c) % 4
    * (four FIP regions, region membership shifting per case the way a
    * re-gridded realization's would). */
  private def writeInplaceInitCase(tmp: String, c: Int): String = {
    val path = s"$tmp/CASE$c.INIT"
    EclKw.write(path, Seq(
      Kw("INTEHEAD", "INTE", Array.tabulate(12)(i => if (i == 11) RstNactive else 0)),
      Kw("PORV", "REAL", Array.tabulate(RstNactive)(a => (1 + (3 * a + c) % 128) / 32f)),
      Kw("FIPNUM", "INTE", Array.tabulate(RstNactive)(a => 1 + (a + 2 * c) % 4))))
    path
  }

  /** q151: FLUID-IN-PLACE VOLUMETRICS per FIP region over the ensemble
    * — the STOIIP/volumetrics report reservoir engineers compute from
    * the library's frames (reference users join init2df's PORV/FIPNUM
    * with rst2df's SWAT and sum PORV·SOIL per region; cf. the PRT
    * FIP-report family q52/q89, which READS the simulator's own totals
    * — this derives them from the vectors): per (case, report step,
    * FIPNUM), cell count, pore volume, and oil/water in place as exact
    * fixed-point BIGINTs (PORV·32 times SOIL·32 → ×1024 units; SOIL =
    * 1 − SWAT in the two-phase fixture).
    *
    * Scale shape: BOTH sides decode executor-side, one task per case
    * ([[graft.io.EclBinary.initFleet]] / the `eclipse-unrst` scan). The INIT side
    * carries one row per (case, cell) — static properties; the restart
    * side one row per (case, cell, step). The equi-join key (case_id,
    * active_idx) co-partitions both scans (at 100 TB both sides bucket
    * by the same key; neither is broadcastable), and the FIPNUM
    * rollup's exchange carries only regions × steps × cases rows. No
    * window, no driver state; the in-place trend over steps falls out
    * of the same plan.
    */
  def q151InplaceVolumes(s: SparkSession, dir: String): DataFrame = {
    val tmp = fixtureDir("q151")
    val initPaths = (0 until RstCases).map(c => writeInplaceInitCase(tmp, c))
    val init = graft.io.EclBinary.initFleet(s, initPaths.mkString(","), Seq("PORV", "FIPNUM"))
      .withColumn("case_id", caseId)
      .select(col("case_id"), col("ACTIVE_IDX").as("active_idx"),
        (col("PORV") * 32).cast("long").as("porv32"),
        col("FIPNUM").cast("int").as("fipnum"))
    val rstPaths = (0 until RstCases).map(c => writeDepletionRstCase(tmp, c))
    val rst = readFleet(s, "unrst", rstPaths, "SWAT")
      .select(col("case_id"), col("DATE").cast("timestamp").as("date"),
        col("ACTIVE_IDX").as("active_idx"),
        (col("SWAT").cast("double") * 32).cast("long").as("sw32"))
    rst.join(init, Seq("case_id", "active_idx"))
      .groupBy(col("case_id"), col("date"), col("fipnum"))
      .agg(count(lit(1)).as("n_cells"),
        sum(col("porv32")).as("porv32"),
        sum(col("porv32") * (lit(32L) - col("sw32"))).as("oip1024"),
        sum(col("porv32") * col("sw32")).as("wip1024"))
      .orderBy(col("case_id"), col("date"), col("fipnum"))
  }

  /** q152: ENSEMBLE PARAMETER SENSITIVITY — Kendall rank correlation
    * between each design parameter and the history-match misfit, the
    * tornado-plot input an ensemble study reads parameters.txt FOR
    * (the reference's parameters cascade q68 feeds exactly this; ERT's
    * sensitivity workflows rank parameters by |tau|). Parameters are
    * ingested DISTRIBUTED — `spark.read.text` over the realization
    * glob, case identity from the path, the same `KEY value` line rule
    * as [[graft.modules.GridOps.parseParametersTxt]] — and joined to
    * the q126 misfit scores.
    *
    * Kendall's tau is chosen over Spearman because it is EXACT in
    * integers: per parameter, every case pair contributes sign(Δp)·
    * sign(Δm) ∈ {−1,0,1}; the gate publishes concordant/discordant/tie
    * counts and the tau numerator as BIGINTs — no rank-average float
    * ever exists. The O(n²) pair join is per-parameter and n is the
    * ENSEMBLE size (≤ thousands of realizations — bounded by design,
    * the same bound ERT's own workflows assume); parameters fan the
    * join, cases bound it.
    */
  def q152ParamSensitivity(s: SparkSession, dir: String): DataFrame = {
    val tmp = writeFleetFixture(s, "q152")
    (0 until FleetCases).foreach { c =>
      val d = new java.io.File(s"$tmp/real$c"); d.mkdirs()
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$tmp/real$c/parameters.txt"),
        (s"# ERT design parameters, realization $c\n" +
          s"#LEGACY_SEED ${c * 1000}\n" + // 2-token comment: startsWith rule, not arity
          s"PORO_MULT 0.${3 + (5 * c) % 7}\n" +
          s"RMS_SEED ${(37 * c) % 11}\n" +
          s"SKIN ${-c}\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    val params = s.read.text(s"$tmp/real*/parameters.txt")
      .select(
        regexp_extract(input_file_name(), "real([0-9]+)/parameters\\.txt$", 1)
          .cast("int").as("case_id"),
        split(trim(col("value")), "\\s+").as("kv"))
      // the parseParametersTxt line rule exactly: KEY value pairs only,
      // '#'-prefixed comment lines dropped
      .filter(size(col("kv")) === 2 && !col("kv")(0).startsWith("#"))
      .select(col("case_id"), col("kv")(0).as("param"),
        col("kv")(1).cast("double").as("pval"))
    val sims = readFleet(s, "unsmry", Seq(s"$tmp/*.UNSMRY"))
      .select(col("case_id"), col("VECTOR").as("vector"),
        col("DATE").cast("timestamp").as("ts"),
        (col("VALUE") * 32).cast("long").as("sim32"))
    // barrier: pm feeds both self-join sides — without it each side
    // re-runs the fleet decode + misfit aggregate (ensemble-sized frame,
    // the q140/q150 lesson)
    val pm = params.join(
      misfitScore(s, sims).select(col("case_id"), col("misfit_fp4")), Seq("case_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sgn = (a: Column, b: Column) =>
      when(a > b, lit(1L)).when(a < b, lit(-1L)).otherwise(lit(0L))
    pm.as("a")
      .join(pm.as("b"),
        col("a.param") === col("b.param") && col("a.case_id") < col("b.case_id"))
      .select(col("a.param").as("param"),
        sgn(col("a.pval"), col("b.pval")).as("sp"),
        sgn(col("a.misfit_fp4"), col("b.misfit_fp4")).as("sm"))
      .groupBy(col("param"))
      .agg(count(lit(1)).as("n_pairs"),
        sum((col("sp") * col("sm") > 0).cast("long")).as("n_conc"),
        sum((col("sp") * col("sm") < 0).cast("long")).as("n_disc"),
        sum((col("sp") === 0 || col("sm") === 0).cast("long")).as("n_tie"),
        sum(col("sp") * col("sm")).as("tau_num"))
      .orderBy(col("param"))
  }

  /** q157 closed form: PRESSURE = a + t·(10 + (a+c)%5) + 1000c — the
    * (a+c)%5 slope term makes the case-vs-base delta vary PER CELL
    * (Δ = t·((a+c)%5 − a%5) + 1000c), so the diff join cannot be faked
    * by a per-case constant. */
  private def writeDeltaRstCase(tmp: String, c: Int): String =
    writeRstCaseWith(tmp, c,
      (a, t) => (a + t * (10 + (a + c) % 5) + 1000 * c).toFloat,
      (_, _) => 0f)

  /** q157: ENSEMBLE DELTA VS BASE REALIZATION — each case's restart
    * pressures differenced against realization 0 per (cell, report
    * step), rolled into the per-(case, step) drawdown-difference report
    * (cell count, min/max/sum of Δ, cells-above-base count): the
    * delta-map workflow an ensemble study runs against its reference
    * case (ERT/webviz "diff against base" views over rst2df frames).
    *
    * Scale shape: the fleet side (cases ≥ 1) and the base side (case 0
    * re-keyed) join on (active_idx, date) — co-partitioned equi-join;
    * the base frame is grid×steps-sized so it is NOT broadcast (at 100
    * TB neither side fits an executor), but it is scanned ONCE and
    * shuffled once regardless of ensemble size, while the fleet side
    * carries the ensemble axis. The rollup exchange is cases×steps
    * rows. Exactness: integer-valued float32 pressures → exact BIGINT
    * deltas.
    */
  def q157DeltaVsBase(s: SparkSession, dir: String): DataFrame = {
    val tmp = fixtureDir("q157")
    val paths = (0 until RstCases).map(c => writeDeltaRstCase(tmp, c))
    def fleet(ps: Seq[String]) =
      readFleet(s, "unrst", ps, "PRESSURE")
        .select(col("case_id"), col("DATE").cast("timestamp").as("date"),
          col("ACTIVE_IDX").as("active_idx"),
          col("PRESSURE").cast("long").as("p"))
    // the base side reads ONLY its own file — the ensemble never decodes
    // twice just to extract realization 0
    val base = fleet(Seq(paths.head))
      .select(col("date"), col("active_idx"), col("p").as("p_base"))
    fleet(paths.tail)
      .join(base, Seq("date", "active_idx"))
      .withColumn("dp", col("p") - col("p_base"))
      .groupBy(col("case_id"), col("date"))
      .agg(count(lit(1)).as("n_cells"),
        min(col("dp")).as("dp_min"), max(col("dp")).as("dp_max"),
        sum(col("dp")).as("dp_sum"),
        sum((col("dp") > 0).cast("long")).as("n_above"))
      .orderBy(col("case_id"), col("date"))
  }

  /** The q154 group tree: two wells under two groups under a platform
    * under FIELD — four rollup levels, so the closure is a real
    * multi-hop computation, not one join. */
  private val TreeDeck =
    """WELSPECS
      | 'W0' 'G1' 1 1 1* 'OIL' /
      | 'W1' 'G2' 2 2 1* 'OIL' /
      |/
      |GRUPTREE
      | 'G1' 'PLAT' /
      | 'G2' 'PLAT' /
      | 'PLAT' 'FIELD' /
      |/
      |""".stripMargin

  /** q154: HIERARCHICAL PRODUCTION ROLLUP — well rates summed up the
    * GRUPTREE to every ancestor group, per realization and date: the
    * group-level production report reference users compose gruptree +
    * summary FOR (gruptree.py builds the tree; ERT/webviz roll well
    * vectors up it). The tree closure (well → every ancestor) is an
    * iterative distributed self-join to fixed point — the bounded-depth
    * transitive-closure loop (trees are depth ≤ ~10; each round is one
    * join over the SCHEDULE-sized edge frame, broadcast everywhere it
    * appears). The closure then joins the summary FLEET read once:
    * corpus-sized data flows through ONE equi-join + one rollup
    * aggregate, never through the iteration.
    *
    * Exactness: fixture values are dyadic (·32 → exact BIGINT); the
    * oracle replays the closure with a recursive CTE — an independent
    * algorithm for the same reachability set.
    */
  /** Edge-count bound below which the q154 ancestor closure runs as a
    * driver-side graph walk: a GRUPTREE is schedule-sized (human-authored
    * deck configuration — hundreds of nodes at any field size, the same
    * bound that lets the closure output be `broadcast()` downstream), so
    * running 12 fixpoint rounds of union+distinct+checkpoint Spark jobs
    * over it was ~40 stages of sub-200 ms data (StageProfile r14). Above
    * the bound — a malformed or adversarial deck — the distributed
    * fixpoint loop still handles it. */
  private val TreeClosureDriverMaxEdges = 100000

  /** Bound on the (well, grp) pairs the driver walk may emit: few edges
    * can still close into many pairs (every well under a long chain or a
    * dense multi-parent DAG pairs with each ancestor), and the pairs are
    * held on the driver and broadcast downstream. Past the bound the
    * distributed fixpoint takes over. */
  private val TreeClosureDriverMaxPairs = 1000000

  /** Driver-side well→ancestor closure for a bounded edge set: BFS with a
    * visited set computes exactly the union-distinct fixpoint the
    * distributed loop reaches (cycle inputs included). None once the
    * closure would exceed `maxPairs` pairs. Extracted so the equivalence
    * spec can pit it against [[wellAncestorsDistributed]] on random
    * DAGs — the distributed path is the at-scale fallback and never runs
    * in the gates otherwise. */
  private[graft] def wellAncestorsDriver(s: SparkSession,
      edgePairs: Array[(String, String)],
      maxPairs: Int = TreeClosureDriverMaxPairs): Option[DataFrame] = {
    import s.implicits._
    val parentsOf = edgePairs.groupBy(_._1).map { case (c, ps) =>
      c -> ps.map(_._2).toSet }
    val childSet = edgePairs.iterator.map(_._1).toSet
    val parentSet = edgePairs.iterator.map(_._2).toSet
    val wellsSet = childSet -- parentSet // leaves: children nobody parents
    def ancestorsOf(w: String): Set[String] = {
      val seen = scala.collection.mutable.Set[String]()
      var frontier = parentsOf.getOrElse(w, Set.empty)
      while (frontier.nonEmpty) {
        seen ++= frontier
        frontier = frontier.flatMap(parentsOf.getOrElse(_, Set.empty)) -- seen
      }
      seen.toSet
    }
    val pairs = scala.collection.mutable.ArrayBuffer[(String, String)]()
    val wells = wellsSet.toSeq.sorted.iterator
    while (wells.hasNext && pairs.length <= maxPairs) {
      val w = wells.next()
      pairs ++= ancestorsOf(w).toSeq.sorted.map(g => (w, g))
    }
    if (pairs.length > maxPairs) None else Some(pairs.toSeq.toDF("well", "grp"))
  }

  /** Distributed ancestor closure to fixed point (the pre-r14 q154 form,
    * kept as the at-scale fallback): tree-depth-bounded driver loop, each
    * round broadcast-joins the tiny edge frame; localCheckpoint per
    * iteration frame (the connectedComponents discipline) keeps lineage
    * flat, and the convergence count rides the checkpoint job as an
    * observe() metric. */
  private[graft] def wellAncestorsDistributed(s: SparkSession,
      edges: DataFrame): DataFrame = {
    val hop = edges.select(col("child").as("h_child"), col("parent").as("h_parent"))
    var anc = edges.select(col("child").as("node"), col("parent").as("anc"))
      .localCheckpoint(true)
    var n = anc.count()
    var converged = false
    var rounds = 0
    val MaxRounds = 12
    while (!converged && rounds < MaxRounds) {
      val obs = org.apache.spark.sql.Observation(
        s"q154_n_${rounds}_${java.util.UUID.randomUUID().toString.take(8)}")
      val grown = anc.union(
          anc.join(broadcast(hop), col("anc") === col("h_child"))
            .select(col("node"), col("h_parent").as("anc")))
        .distinct()
        .observe(obs, count(lit(1)).as("n"))
        .localCheckpoint(true)
      val m = graft.core.Fixpoint.observedLong(obs, "n", "q154 ancestor closure", rounds)
      if (m == n) converged = true else { anc = grown; n = m; rounds += 1 }
    }
    // fail loud, never roll up a silently truncated closure (the
    // connectedComponents contract)
    if (!converged) throw new IllegalStateException(
      s"q154 ancestor closure did not converge within $MaxRounds rounds")
    // leaves = wells (children that are nobody's parent)
    val wells = edges.select(col("child")).except(edges.select(col("parent")))
      .withColumnRenamed("child", "well")
    anc.join(wells, anc("node") === wells("well"))
      .select(col("well"), col("anc").as("grp"))
  }

  /** The q154 closure of `edges(child, parent)`: the driver walk while the
    * edge and pair bounds hold, the distributed fixpoint otherwise. */
  private[graft] def wellAncestors(s: SparkSession, edges: DataFrame,
      maxPairs: Int = TreeClosureDriverMaxPairs): DataFrame = {
    val viaDriver =
      if (edges.count() > TreeClosureDriverMaxEdges) None
      else wellAncestorsDriver(s,
        edges.collect().map(r => (r.getString(0), r.getString(1))), maxPairs)
    viaDriver.getOrElse(wellAncestorsDistributed(s, edges))
  }

  def q154TreeRollup(s: SparkSession, dir: String): DataFrame = {
    val tmp = writeFleetFixture(s, "q154")
    val edges = graft.modules.Gruptree.df(s, TreeDeck)
      .filter(col("PARENT").isNotNull)
      .select(col("CHILD").as("child"), col("PARENT").as("parent"))
      .distinct()
      .localCheckpoint(true)
    val wellAnc = wellAncestors(s, edges)
    val sims = readFleet(s, "unsmry", Seq(s"$tmp/*.UNSMRY"))
      .filter(col("VECTOR").startsWith("WOPR:"))
      .select(col("case_id"), substring_index(col("VECTOR"), ":", -1).as("well"),
        col("DATE").cast("timestamp").as("date"),
        (col("VALUE") * 32).cast("long").as("v32"))
    sims.join(broadcast(wellAnc), Seq("well"))
      .groupBy(col("case_id"), col("date"), col("grp"))
      .agg(count(lit(1)).as("n_wells"), sum(col("v32")).as("wopr32"))
      .orderBy(col("case_id"), col("date"), col("grp"))
  }

  /** The q141 schedule: two wells, one completion landing on an
    * inactive cell ((5,7,3) → g = 924 = 7·132 under case-0 ACTNUM) to
    * exercise the drop path the trace must make visible. */
  private val CompletionDeck =
    """WELSPECS
      | 'OP1' 'G' 5 7 1* 'OIL' /
      | 'OP2' 'G' 12 3 1* 'WATER' /
      |/
      |COMPDAT
      | 'OP1' 5 7 1 3 'OPEN' /
      | 'OP2' 12 3 2 5 'OPEN' /
      | 'OP2' 13 3 2 2 'OPEN' /
      |/
      |""".stripMargin

  /** q141: WELL-COMPLETION PRESSURE TRACE — the cross-source workflow
    * reference users run the library FOR (compdat + grid + rst2df in
    * one report): the deck's COMPDAT connections (S1/S2 + R1 K-unroll)
    * located in the EGRID geometry ((I,J,K) → ACTIVE_IDX, J3's merge
    * key), then traced through the UNRST report steps — per (well,
    * date) the active-connection count and the exact fixed-point mean
    * completion pressure. A completion on an INACTIVE cell drops from
    * the trace, and `n_conn` vs `n_active` makes the drop visible (the
    * report a well engineer actually reads).
    *
    * Exactness: pressures are integer-valued float32; the mean
    * publishes as `(sum·10⁶) div n` — all BIGINT.
    *
    * Scale shape: the connection frame is schedule-sized (thousands of
    * rows at any field size) → both joins BROADCAST it against the
    * grid/restart scans; the (well, date) aggregate's exchange is
    * report-sized. Nothing here scales with cell count beyond the two
    * scans themselves.
    */
  def q141CompletionPressure(s: SparkSession, dir: String): DataFrame = {
    val tmp = fixtureDir("q141")
    val base = writeGridCase(tmp, 0)
    val ncells = Nx * Ny * Nz
    val nactive = (0 until ncells).count(gridCaseActive(_, 0))
    val rstPath = writeRstCaseWith(tmp, 0,
      (a, t) => (3000 + a + t * (5 + a % 9)).toFloat, (_, _) => 0f, nactive)
    val conns = graft.modules.Compdat.df(s, CompletionDeck)
      .select(col("WELL").as("well"), col("I").as("i"), col("J").as("j"),
        col("K1").as("k"))
    val grid = graft.io.EclBinary.egrid(s, s"$base.EGRID")
      .select(col("I").as("i"), col("J").as("j"), col("K").as("k"),
        col("ACTIVE_IDX").as("active_idx"))
    val rst = graft.io.EclBinary.unrst(s, rstPath)
      .select(col("DATE").cast("timestamp").as("date"),
        col("ACTIVE_IDX").as("active_idx"),
        col("PRESSURE").cast("long").as("p"))
    val located = broadcast(conns).join(grid, Seq("i", "j", "k"))
    val trace = rst.join(broadcast(located), Seq("active_idx"))
      .groupBy(col("well"), col("date"))
      .agg(count(lit(1)).as("n_active"), sum(col("p")).as("p_sum"))
      .withColumn("p_avg_fp6", expr("(p_sum * 1000000) div n_active"))
    val nconn = conns.groupBy(col("well")).agg(count(lit(1)).as("n_conn"))
    trace.join(broadcast(nconn), Seq("well"))
      .select(col("well"), col("date"), col("n_conn"), col("n_active"),
        col("p_sum"), col("p_avg_fp6"))
      .orderBy(col("well"), col("date"))
  }

  /** q137: ENSEMBLE PERCENTILE BANDS — the P10/P50/P90 fan chart ERT
    * draws from a history-matched ensemble (q124 gives the min/max/mean
    * envelope; decision workflows quote percentiles): per (vector,
    * date), the EXACT rank statistics across realizations, rank rules
    * cross-multiplied (smallest rank r with 10·r ≥ n ⟹ P10, 2·r ≥ n ⟹
    * P50, 10·r ≥ 9·n ⟹ P90) and values published ·32 as exact BIGINTs
    * (the fixture lattice is dyadic).
    *
    * Scale shape: one shuffle keyed (vector, date) serves BOTH the
    * rank window and the aggregate (the groupBy keys prefix the window
    * partition keys, so Catalyst reuses the exchange); groups are
    * ensemble-sized (≤ thousands of cases), so the per-group sort is
    * bounded regardless of how many vectors × dates the fleet carries.
    */
  def q137EnsemblePercentiles(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tmp = writeFleetFixture(s, "q137")
    val base = readFleet(s, "unsmry", Seq(s"$tmp/*.UNSMRY"))
      .select(col("VECTOR").as("vector"),
        col("DATE").cast("timestamp").as("date"),
        col("case_id"), (col("VALUE") * 32).cast("long").as("v32"))
    val w = Window.partitionBy(col("vector"), col("date"))
      .orderBy(col("v32"), col("case_id"))
    base
      .withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("vector"), col("date"))))
      .groupBy(col("vector"), col("date"), col("n").as("n_cases"))
      .agg(
        min(when(col("rk") * 10 >= col("n"), col("v32"))).as("p10_32"),
        min(when(col("rk") * 2 >= col("n"), col("v32"))).as("p50_32"),
        min(when(col("rk") * 10 >= col("n") * 9, col("v32"))).as("p90_32"))
      .orderBy(col("vector"), col("date"))
  }

  /** q132: FIELD PRESSURE TRAJECTORY over the restart fleet — the
    * material-balance plot an ensemble study draws first (field-average
    * pressure vs report step per realization, with the step-over-step
    * decline): per (case, step) ONE cell-aggregate over the fleet scan,
    * then a per-case lag window over step-count-sized output.
    *
    * Exactness: fixture pressures are integer-valued float32 (q128's
    * shared closed form), so the per-step sum is an exact BIGINT and
    * the field average publishes as `(sum·10⁶) div n` (positive
    * truncating division). The decline is a BIGINT difference,
    * null on each case's first step.
    *
    * Scale shape: decode is one task per case; the (case, step)
    * aggregate partial-combines map-side so the exchange carries one
    * row per (case, step) — the window then runs over ensemble×steps
    * rows (thousands), partitioned by case. Nothing grows with grid
    * size after the first aggregate.
    */
  def q132FieldDecline(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tmp = fixtureDir("q132")
    val paths = (0 until RstCases).map(c => writeDepletionRstCase(tmp, c))
    readFleet(s, "unrst", paths, "PRESSURE")
      .select(col("case_id"), col("DATE").cast("timestamp").as("ts"),
        col("PRESSURE").cast("long").as("p"))
      .groupBy(col("case_id"), col("ts"))
      .agg(count(lit(1)).as("n_cells"), sum(col("p")).as("p_sum"))
      .withColumn("p_avg_fp6", expr("(p_sum * 1000000) div n_cells"))
      .withColumn("dp_sum",
        col("p_sum") - lag(col("p_sum"), 1)
          .over(Window.partitionBy(col("case_id")).orderBy(col("ts"))))
      .select(col("case_id"), col("ts"), col("n_cells"), col("p_sum"),
        col("p_avg_fp6"), col("dp_sum"))
      .orderBy(col("case_id"), col("ts"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q144_upscale" -> (q144Upscale _),
    "q146_fleet_completion_envelope" -> (q146FleetCompletionEnvelope _),
    "q143_stream_misfit" -> (q143StreamMisfit _),
    "q141_completion_pressure" -> (q141CompletionPressure _),
    "q137_ensemble_percentiles" -> (q137EnsemblePercentiles _),
    "q132_field_decline" -> (q132FieldDecline _),
    "q128_depletion" -> (q128Depletion _),
    "q151_inplace_volumes" -> (q151InplaceVolumes _),
    "q152_param_sensitivity" -> (q152ParamSensitivity _),
    "q154_tree_rollup" -> (q154TreeRollup _),
    "q157_delta_vs_base" -> (q157DeltaVsBase _),
    "q126_ensemble_misfit" -> (q126EnsembleMisfit _),
    "q123_grid_ensemble_stats" -> (q123GridEnsembleStats _),
    "q124_summary_ensemble_stats" -> (q124SummaryEnsembleStats _),
    "q59_grid_binary" -> (q59GridBinary _),
    "q60_summary_binary" -> (q60SummaryBinary _),
    "q114_summary_fleet" -> (q114SummaryFleet _),
    "q182_trend_fit" -> (q182TrendFit _),
    "q185_breakthrough" -> (q185Breakthrough _),
    "q189_fleet_agg_colocated" -> (q189FleetAggColocated _),
    "q190_fleet_spj_ratio" -> (q190FleetSpjRatio _),
    "q191_fleet_window_pipelined" -> (q191FleetWindowPipelined _),
    "q206_runtime_case_prune" -> (q206RuntimeCasePrune _),
    "q167_summary_fleet_sql" -> (q167SummaryFleetSql _),
    "q117_grid_fleet" -> (q117GridFleet _),
    "q164_grid_fleet_sql" -> (q164GridFleetSql _),
    "q62_unrst_binary" -> (q62UnrstBinary _),
    "q120_restart_fleet" -> (q120RestartFleet _),
    "q165_restart_fleet_sql" -> (q165RestartFleetSql _),
    "q63_rft_binary" -> (q63RftBinary _),
    "q148_rft_fleet" -> (q148RftFleet _),
    "q168_rft_fleet_sql" -> (q168RftFleetSql _),
    "q171_unrst_date_pushdown" -> (q171RestartDatePushdown _),
    "q172_sql_ddl_grid" -> (q172SqlDdlGrid _),
    "q199_sql_ddl_unrst" -> (q199SqlDdlUnrst _),
    "q200_sql_ddl_unsmry" -> (q200SqlDdlUnsmry _),
    "q201_sql_ddl_rft" -> (q201SqlDdlRft _),
    "q173_rft_well_pushdown" -> (q173RftWellPushdown _),
    "q174_unsmry_date_pushdown" -> (q174SummaryDatePushdown _),
    "q198_unsmry_vector_pushdown" -> (q198SummaryVectorPushdown _),
    "q176_case_pushdown" -> (q176CasePushdown _),
    "q177_unsmry_fleet_write" -> (q177SummaryFleetWrite _),
    "q178_unsmry_stream" -> (q178SummaryStream _),
    "q202_stream_kill_recovery" -> (q202StreamKillRecovery _),
    "q204_stream_filtered_read" -> (q204StreamFilteredRead _),
    "q179_stream_scoreboard" -> (q179StreamScoreboard _),
    "q180_grid_props_pushdown" -> (q180GridPropsPushdown _),
    "q66_nnc_binary" -> (q66NncBinary _),
  )

  /** Geometry/vector replay from the closed form: centers (i-½, j-½,
    * k²/2) for 1-based (i,j,k), VOLUME = k, ACTIVE_IDX = per-case rank
    * of the global index over active cells. Shared verbatim by q59
    * (single-case reads unioned) and the [[gridFleet]] twins q117 and
    * q164 — identical fixtures, identical expected frame.
    */
  private def gridOracle: String =
    s"""WITH cases AS (SELECT unnest(range($GridCases)) AS c),
         cells AS (SELECT c, unnest(range(${Nx * Ny * Nz})) AS g FROM cases),
         act AS (
           SELECT c, g,
                  CAST(g % $Nx + 1 AS INT) AS i,
                  CAST((g // $Nx) % $Ny + 1 AS INT) AS j,
                  CAST(g // ${Nx * Ny} + 1 AS INT) AS k
           FROM cells WHERE (g + c) % 7 <> 0),
         idx AS (SELECT *, row_number() OVER (PARTITION BY c ORDER BY g) - 1 AS active_idx
                 FROM act)
         SELECT CAST(c AS INT) AS case_id, i, j, k,
                CAST(i AS DOUBLE) - 0.5 AS x,
                CAST(j AS DOUBLE) - 0.5 AS y,
                CAST(k * k AS DOUBLE) / 2 AS z,
                CAST((k - 1) * k AS DOUBLE) / 2 AS z_min,
                CAST(k * (k + 1) AS DOUBLE) / 2 AS z_max,
                round(CAST(k AS DOUBLE), 6) AS volume,
                g AS global_index, active_idx,
                CAST((g + 5 * c) % 64 AS DOUBLE) / 64 AS poro,
                CAST((7 * g + c) % 1000 AS DOUBLE) AS permx
         FROM idx ORDER BY case_id, global_index"""

  /** Restart replay from the closed form — shared verbatim by q62
    * (single-case reads unioned) and the [[restartFleet]] twins q120
    * and q165.
    */
  private def rstOracle: String = rstOracleWhere("TRUE")

  /** rstOracle restricted to the report steps a pushed-down DATE filter
    * selects (`cond` ranges over case `c` and step `t`) — q171 replays
    * q165 with `cond` = the step the DATE equality picks. */
  private def rstOracleWhere(cond: String): String =
    s"""WITH cases AS (SELECT unnest(range($RstCases)) AS c),
         steps AS (SELECT c, unnest(range($RstSteps)) AS t FROM cases),
         cells AS (SELECT c, t, unnest(range($RstNactive)) AS a FROM steps)
         SELECT CAST(c AS INT) AS case_id,
                CAST(DATE '2022-01-01' + CAST(t AS INT) AS TIMESTAMP) AS date,
                a AS active_idx,
                CAST(a + 100 * t + 1000 * c AS DOUBLE) AS pressure,
                CAST((a + t + c) % 32 AS DOUBLE) / 32 AS swat
         FROM cells WHERE $cond ORDER BY case_id, date, active_idx"""

  val oracleSql: Map[String, String] = Map(
    // per-case replay: with r_c = (7 − c%7) % 7, the case-c active
    // ordinal of global cell g is g − (g − r_c + 6)//7 (DuckDB floor
    // division is safe for g < r_c: the numerator is in [0,5]);
    // p = 3000 + a + t·(5 + a%9) + 100·c
    "q146_fleet_completion_envelope" ->
      s"""WITH conn AS (
            SELECT * FROM (VALUES ('OP1', 5, 7, 1), ('OP1', 5, 7, 2),
                                  ('OP1', 5, 7, 3), ('OP2', 12, 3, 2),
                                  ('OP2', 12, 3, 3), ('OP2', 12, 3, 4),
                                  ('OP2', 12, 3, 5), ('OP2', 13, 3, 2))
                 AS v(well, i, j, k)),
          cases AS (SELECT unnest(range($GridCases)) AS c,
                           (7 - unnest(range($GridCases)) % 7) % 7 AS r),
          g AS (SELECT well, c, r,
                       (i - 1) + (j - 1) * $Nx + (k - 1) * ${Nx * Ny} AS g
                FROM conn CROSS JOIN cases),
          a AS (SELECT well, c, g - (g - r + 6) // 7 AS active_idx
                FROM g WHERE (g + c) % 7 <> 0),
          t AS (SELECT unnest(range($RstSteps)) AS t),
          p AS (SELECT well, c, t,
                       3000 + active_idx + t * (5 + active_idx % 9) + 100 * c AS p
                FROM a CROSS JOIN t),
          m AS (SELECT well, c, t, count(*) AS n_active, sum(p) AS p_sum
                FROM p GROUP BY 1, 2, 3),
          e AS (SELECT well, t, count(*) AS n_cases,
                       min(n_active) AS n_active_min,
                       max(n_active) AS n_active_max,
                       min((p_sum * 1000000) // n_active) AS p_avg_min,
                       max((p_sum * 1000000) // n_active) AS p_avg_max
                FROM m GROUP BY 1, 2)
          SELECT well,
                 CAST(DATE '2022-01-01' + CAST(t AS INT) AS TIMESTAMP) AS date,
                 CAST(n_cases AS BIGINT) AS n_cases,
                 CAST(n_active_min AS BIGINT) AS n_active_min,
                 CAST(n_active_max AS BIGINT) AS n_active_max,
                 CAST(p_avg_min AS BIGINT) AS p_avg_min,
                 CAST(p_avg_max AS BIGINT) AS p_avg_max
          FROM e ORDER BY well, date""",
    // replay: unrolled connections as literals, g = (i−1) + (j−1)·Nx +
    // (k−1)·Nx·Ny, case-0 ACTNUM drops g ≡ 0 (mod 7), active ordinal =
    // g − ⌈g/7⌉, pressure = 3000 + a + t·(5 + a%9); all BIGINT
    "q141_completion_pressure" ->
      s"""WITH conn AS (
            SELECT * FROM (VALUES ('OP1', 5, 7, 1), ('OP1', 5, 7, 2),
                                  ('OP1', 5, 7, 3), ('OP2', 12, 3, 2),
                                  ('OP2', 12, 3, 3), ('OP2', 12, 3, 4),
                                  ('OP2', 12, 3, 5), ('OP2', 13, 3, 2))
                 AS v(well, i, j, k)),
          g AS (SELECT well, (i - 1) + (j - 1) * $Nx + (k - 1) * ${Nx * Ny} AS g
                FROM conn),
          a AS (SELECT well, g - (g + 6) // 7 AS active_idx
                FROM g WHERE g % 7 <> 0),
          t AS (SELECT unnest(range($RstSteps)) AS t),
          p AS (SELECT well, t, 3000 + active_idx + t * (5 + active_idx % 9) AS p
                FROM a CROSS JOIN t),
          m AS (SELECT well, t, count(*) AS n_active, sum(p) AS p_sum
                FROM p GROUP BY 1, 2),
          n AS (SELECT well, count(*) AS n_conn FROM conn GROUP BY 1)
          SELECT m.well,
                 CAST(DATE '2022-01-01' + CAST(t AS INT) AS TIMESTAMP) AS date,
                 CAST(n.n_conn AS BIGINT) AS n_conn,
                 CAST(m.n_active AS BIGINT) AS n_active,
                 CAST(m.p_sum AS BIGINT) AS p_sum,
                 CAST((m.p_sum * 1000000) // m.n_active AS BIGINT) AS p_avg_fp6
          FROM m JOIN n USING (well) ORDER BY well, date""",
    // closed-form replay of the q114 lattice: v32 = 32000·vi + 32·d +
    // 224·c + d%32, monotone in c — the same window/rank rules rerun
    // over unnested ranges
    "q137_ensemble_percentiles" ->
      s"""WITH v AS (SELECT unnest([${SumVectors.map(v => s"'$v'").mkString(", ")}]) AS vector,
                            unnest([${SumVectors.indices.mkString(", ")}]) AS vi),
          d AS (SELECT unnest(range($SumDays)) AS d),
          c AS (SELECT unnest(range($FleetCases)) AS c),
          x AS (SELECT vector, d, c,
                       32000 * vi + 32 * d + 224 * c + d % 32 AS v32
                FROM v CROSS JOIN d CROSS JOIN c),
          r AS (SELECT vector, d, v32,
                       row_number() OVER (PARTITION BY vector, d ORDER BY v32, c) AS rk,
                       count(*) OVER (PARTITION BY vector, d) AS n
                FROM x)
          SELECT vector,
                 CAST(DATE '2021-01-01' + CAST(d AS INT) AS TIMESTAMP) AS date,
                 CAST(n AS BIGINT) AS n_cases,
                 CAST(min(CASE WHEN rk * 10 >= n THEN v32 END) AS BIGINT) AS p10_32,
                 CAST(min(CASE WHEN rk * 2 >= n THEN v32 END) AS BIGINT) AS p50_32,
                 CAST(min(CASE WHEN rk * 10 >= n * 9 THEN v32 END) AS BIGINT) AS p90_32
          FROM r GROUP BY vector, d, n
          ORDER BY vector, date""",
    // closed-form replay of the q128 fixture: P = 1000c + a +
    // t·(10 + c + a%7); all BIGINT, `//` on positive operands equals
    // Spark's `div`
    "q132_field_decline" ->
      s"""WITH a AS (SELECT unnest(range($RstNactive)) AS a),
          c AS (SELECT unnest(range($RstCases)) AS c),
          t AS (SELECT unnest(range($RstSteps)) AS t),
          x AS (SELECT c, t, 1000 * c + a + t * (10 + c + a % 7) AS p
                FROM a CROSS JOIN c CROSS JOIN t),
          m AS (SELECT c AS case_id, t, count(*) AS n_cells, sum(p) AS p_sum
                FROM x GROUP BY 1, 2)
          SELECT CAST(case_id AS INT) AS case_id,
                 CAST(DATE '2022-01-01' + CAST(t AS INT) AS TIMESTAMP) AS ts,
                 CAST(n_cells AS BIGINT) AS n_cells,
                 CAST(p_sum AS BIGINT) AS p_sum,
                 CAST((p_sum * 1000000) // n_cells AS BIGINT) AS p_avg_fp6,
                 CAST(p_sum - lag(p_sum) OVER (PARTITION BY case_id ORDER BY t)
                      AS BIGINT) AS dp_sum
          FROM m ORDER BY case_id, ts""",
    // closed-form replay with Δt = RstSteps−1 interpolated (NOT
    // hard-coded) so a step-count change cannot desync the engines:
    // ΔP = Δt·(10 + c + a%7), ΔSWAT·32 = ((a+3Δt+c)%32) − ((a+c)%32);
    // all BIGINT, `//` on positive operands equals Spark's `div`
    "q128_depletion" ->
      s"""WITH a AS (SELECT unnest(range($RstNactive)) AS a),
          c AS (SELECT unnest(range($RstCases)) AS c),
          x AS (SELECT a, c,
                       ${RstSteps - 1} * (10 + c + a % 7) AS dp,
                       ((a + ${3 * (RstSteps - 1)} + c) % 32) - ((a + c) % 32) AS dsw32
                FROM a CROSS JOIN c),
          m AS (SELECT a, count(*) AS n_cases,
                       min(dp) AS dp_min, max(dp) AS dp_max, sum(dp) AS dp_sum,
                       min(dsw32) AS dsw32_min, max(dsw32) AS dsw32_max
                FROM x GROUP BY a)
          SELECT CAST(a AS BIGINT) AS active_idx,
                 CAST(n_cases AS BIGINT) AS n_cases,
                 CAST(dp_min AS BIGINT) AS dp_min,
                 CAST(dp_max AS BIGINT) AS dp_max,
                 CAST(dp_sum AS BIGINT) AS dp_sum,
                 CAST((dp_sum * 1000000) // n_cases AS BIGINT) AS dp_mean_fp6,
                 CAST(dsw32_min AS BIGINT) AS dsw32_min,
                 CAST(dsw32_max AS BIGINT) AS dsw32_max
          FROM m ORDER BY active_idx""",
    // residual replay: δ = (224c + 96(d%7) − 64(vi%3)) / 32 — an exact
    // integer (every term is a multiple of 32), so `//` floor-division
    // equals Spark's `div` truncation here even for negative residuals
    // replay of q59's closed form rolled into 2x2 areal blocks:
    // vol = K (1-based), poro64 = (g + 5c) % 64, active iff (g+c)%7 != 0
    "q144_upscale" ->
      s"""WITH cases AS (SELECT unnest(range($GridCases)) AS c),
          cells AS (SELECT unnest(range(${Nx * Ny * Nz})) AS g),
          act AS (SELECT c, g,
                         1 + g % $Nx AS i,
                         1 + (g // $Nx) % $Ny AS j,
                         1 + g // ${Nx * Ny} AS k
                  FROM cells CROSS JOIN cases WHERE (g + c) % 7 <> 0),
          v AS (SELECT c, (i - 1) // 2 AS ci, (j - 1) // 2 AS cj, k,
                       CAST(k AS BIGINT) AS vol,
                       CAST((g + 5 * c) % 64 AS BIGINT) AS poro64
                FROM act),
          m AS (SELECT c, ci, cj, k, count(*) AS n_cells,
                       sum(vol) AS vol_sum, sum(vol * poro64) AS porv64_sum
                FROM v GROUP BY 1, 2, 3, 4)
          SELECT CAST(c AS INT) AS case_id,
                 CAST(ci AS INT) AS ci, CAST(cj AS INT) AS cj,
                 CAST(k AS INT) AS k,
                 CAST(n_cells AS BIGINT) AS n_cells,
                 CAST(vol_sum AS BIGINT) AS vol_sum,
                 CAST(porv64_sum AS BIGINT) AS porv64_sum,
                 CAST((porv64_sum * 1000000) // (64 * vol_sum) AS BIGINT) AS poro_wavg_fp6
          FROM m ORDER BY case_id, ci, cj, k""",
    // the streaming accumulation must land on the batch answer exactly
    "q143_stream_misfit" -> ensembleMisfitSql,
    // closed-form replay: porv32 = 1 + (3a+c)%128, fip = 1 + (a+2c)%4,
    // sw32 = (a+3t+c)%32 — every product < 2^12 per cell, sums < 2^32
    "q151_inplace_volumes" ->
      s"""WITH c AS (SELECT unnest(range($RstCases)) AS c),
         t AS (SELECT unnest(range($RstSteps)) AS t),
         a AS (SELECT unnest(range($RstNactive)) AS a),
         cells AS (SELECT c.c, t.t, a.a,
                          1 + (3 * a.a + c.c) % 128 AS porv32,
                          CAST(1 + (a.a + 2 * c.c) % 4 AS INT) AS fipnum,
                          (a.a + 3 * t.t + c.c) % 32 AS sw32
                   FROM c, t, a)
         SELECT CAST(c AS INT) AS case_id,
                CAST(DATE '2022-01-01' + CAST(t AS INT) AS TIMESTAMP) AS date,
                fipnum,
                CAST(count(*) AS BIGINT) AS n_cells,
                CAST(sum(porv32) AS BIGINT) AS porv32,
                CAST(sum(porv32 * (32 - sw32)) AS BIGINT) AS oip1024,
                CAST(sum(porv32 * sw32) AS BIGINT) AS wip1024
         FROM cells GROUP BY 1, 2, 3 ORDER BY case_id, date, fipnum""",
    // misfit CTEs are q126's replay; parameters replay their closed
    // forms as lockstep-unnested lists. The double comparisons are
    // sign-only, so IEEE representation equality is all that's needed
    // (identical decimal strings parse to identical doubles).
    "q152_param_sensitivity" ->
      s"""WITH c AS (SELECT unnest(range($FleetCases)) AS case_id),
         v AS (SELECT unnest([${SumVectors.indices.mkString(", ")}]) AS vi),
         d AS (SELECT unnest(range(0, $SumDays, 5)) AS day),
         x AS (SELECT case_id,
                      (224 * case_id + 96 * (day % 7) - 64 * (vi % 3)) // 32 AS dlt,
                      CASE WHEN vi % 2 = 0 THEN 4 ELSE 1 END AS w
               FROM c CROSS JOIN v CROSS JOIN d),
         m AS (SELECT case_id, sum(w * dlt * dlt) AS misfit_fp4
               FROM x GROUP BY case_id),
         p AS (SELECT case_id,
                      unnest(['PORO_MULT', 'RMS_SEED', 'SKIN']) AS param,
                      unnest([CAST(3 + (5 * case_id) % 7 AS DOUBLE) / 10,
                              CAST((37 * case_id) % 11 AS DOUBLE),
                              CAST(-case_id AS DOUBLE)]) AS pval
               FROM c),
         pm AS (SELECT p.case_id, p.param, p.pval, m.misfit_fp4
                FROM p JOIN m USING (case_id)),
         pr AS (SELECT a.param,
                       CASE WHEN a.pval > b.pval THEN 1
                            WHEN a.pval < b.pval THEN -1 ELSE 0 END AS sp,
                       CASE WHEN a.misfit_fp4 > b.misfit_fp4 THEN 1
                            WHEN a.misfit_fp4 < b.misfit_fp4 THEN -1 ELSE 0 END AS sm
                FROM pm a JOIN pm b
                  ON a.param = b.param AND a.case_id < b.case_id)
         SELECT param,
                CAST(count(*) AS BIGINT) AS n_pairs,
                CAST(sum(CASE WHEN sp * sm > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_conc,
                CAST(sum(CASE WHEN sp * sm < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_disc,
                CAST(sum(CASE WHEN sp = 0 OR sm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_tie,
                CAST(sum(sp * sm) AS BIGINT) AS tau_num
         FROM pr GROUP BY param ORDER BY param""",
    // the closure replayed by an INDEPENDENT algorithm (recursive CTE);
    // WOPR:W0/W1 are SumVectors indices 3/4, values dyadic ·32
    "q154_tree_rollup" ->
      s"""WITH RECURSIVE edges(child, parent) AS (
           VALUES ('W0', 'G1'), ('W1', 'G2'),
                  ('G1', 'PLAT'), ('G2', 'PLAT'), ('PLAT', 'FIELD')),
         anc AS (
           SELECT child AS node, parent AS anc FROM edges
           UNION ALL
           SELECT a.node, e.parent FROM anc a JOIN edges e ON a.anc = e.child),
         wellanc AS (SELECT node AS well, anc AS grp FROM anc
                     WHERE node IN ('W0', 'W1')),
         c AS (SELECT unnest(range($FleetCases)) AS case_id),
         d AS (SELECT unnest(range($SumDays)) AS day),
         w AS (SELECT unnest(['W0', 'W1']) AS well, unnest([3, 4]) AS vi),
         sim AS (SELECT case_id, day, well,
                        32000 * vi + 32 * day + 224 * case_id + day % 32 AS v32
                 FROM c CROSS JOIN d CROSS JOIN w)
         SELECT CAST(s.case_id AS INT) AS case_id,
                CAST(DATE '2021-01-01' + CAST(s.day AS INT) AS TIMESTAMP) AS date,
                wa.grp,
                CAST(count(*) AS BIGINT) AS n_wells,
                CAST(sum(s.v32) AS BIGINT) AS wopr32
         FROM sim s JOIN wellanc wa USING (well)
         GROUP BY 1, 2, 3 ORDER BY case_id, date, grp""",
    // Δ = t·((a+c)%5 − a%5) + 1000c replayed per (case, step, cell)
    "q157_delta_vs_base" ->
      s"""WITH c AS (SELECT unnest(range(1, $RstCases)) AS c),
         t AS (SELECT unnest(range($RstSteps)) AS t),
         a AS (SELECT unnest(range($RstNactive)) AS a),
         d AS (SELECT c.c, t.t, a.a,
                      t.t * ((a.a + c.c) % 5 - a.a % 5) + 1000 * c.c AS dp
               FROM c, t, a)
         SELECT CAST(c AS INT) AS case_id,
                CAST(DATE '2022-01-01' + CAST(t AS INT) AS TIMESTAMP) AS date,
                CAST(count(*) AS BIGINT) AS n_cells,
                CAST(min(dp) AS BIGINT) AS dp_min,
                CAST(max(dp) AS BIGINT) AS dp_max,
                CAST(sum(dp) AS BIGINT) AS dp_sum,
                CAST(sum(CASE WHEN dp > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_above
         FROM d GROUP BY 1, 2 ORDER BY case_id, date""",
    "q126_ensemble_misfit" -> ensembleMisfitSql,
    // every arithmetic step lands on exactly-representable values
    // (dyadic poro, integer permx, numerators < 2^53), so double
    // division + floor is engine-identical. A cell inactive in ALL 4
    // cases needs (g+c)%7=0 for four consecutive c — impossible — so
    // every cell appears.
    "q123_grid_ensemble_stats" ->
      s"""WITH cases AS (SELECT unnest(range($GridCases)) AS c),
         cells AS (SELECT unnest(range(${Nx * Ny * Nz})) AS g),
         act AS (SELECT g, c FROM cells CROSS JOIN cases WHERE (g + c) % 7 <> 0),
         v AS (SELECT g, c, (g + 5 * c) % 64 AS p64, (7 * g + c) % 1000 AS px
               FROM act)
         SELECT g AS global_index,
                CAST(g % $Nx + 1 AS INT) AS i,
                CAST((g // $Nx) % $Ny + 1 AS INT) AS j,
                CAST(g // ${Nx * Ny} + 1 AS INT) AS k,
                CAST(count(*) AS BIGINT) AS n_cases,
                CAST(min(p64) AS DOUBLE) / 64 AS poro_min,
                CAST(max(p64) AS DOUBLE) / 64 AS poro_max,
                CAST(floor(CAST(sum(p64) AS DOUBLE) * 1000000
                           / (64 * count(*))) AS BIGINT) AS poro_mean_fp,
                CAST(min(px) AS DOUBLE) AS permx_min,
                CAST(max(px) AS DOUBLE) AS permx_max,
                CAST(floor(CAST(sum(px) AS DOUBLE) * 1000000
                           / count(*)) AS BIGINT) AS permx_mean_fp
         FROM v GROUP BY g ORDER BY g""",
    "q124_summary_ensemble_stats" ->
      s"""WITH c AS (SELECT unnest(range($FleetCases)) AS case_id),
         v AS (
           SELECT unnest([${SumVectors.map("'" + _ + "'").mkString(", ")}]) AS vector,
                  unnest([${SumVectors.indices.mkString(", ")}]) AS vi),
         d AS (SELECT unnest(range($SumDays)) AS day),
         x AS (SELECT vector, day,
                      32000 * vi + 32 * day + 224 * case_id + day % 32 AS v32
               FROM c CROSS JOIN v CROSS JOIN d)
         SELECT vector,
                CAST(DATE '2021-01-01' + CAST(day AS INT) AS TIMESTAMP) AS date,
                CAST(count(*) AS BIGINT) AS n_cases,
                CAST(min(v32) AS DOUBLE) / 32 AS v_min,
                CAST(max(v32) AS DOUBLE) / 32 AS v_max,
                CAST(floor(CAST(sum(v32) AS DOUBLE) * 1000000
                           / (32 * count(*))) AS BIGINT) AS v_mean_fp
         FROM x GROUP BY vector, day ORDER BY vector, date""",
    "q59_grid_binary" -> gridOracle,
    // the fleet read must equal the single-case path exactly: q59's
    // oracle verbatim
    "q117_grid_fleet" -> gridOracle,
    "q164_grid_fleet_sql" -> gridOracle,
    "q114_summary_fleet" -> summaryFleetOracle,
    // q191: FOPR day-over-day delta = 33 on this lattice (day >= 1),
    // SQL NULL for each case's first day
    "q191_fleet_window_pipelined" ->
      s"""WITH c AS (SELECT unnest(range($FleetCases)) AS case_id),
        |d AS (SELECT unnest(range($SumDays)) AS day)
        |SELECT CAST(case_id AS INT) AS case_id, CAST(day AS BIGINT) AS day,
        |       CAST(33 * day + 224 * case_id AS BIGINT) AS rate32,
        |       CASE WHEN day = 0 THEN NULL ELSE CAST(33 AS BIGINT) END AS delta32
        |FROM c CROSS JOIN d ORDER BY case_id, day""".stripMargin,
    // q190: FOPR (vi=0) rate series vs the per-case FINAL FOPT (vi=1,
    // day=29) off the q114 lattice; exact integer fixed-point ratio
    "q190_fleet_spj_ratio" ->
      s"""WITH c AS (SELECT unnest(range($FleetCases)) AS case_id),
        |d AS (SELECT unnest(range($SumDays)) AS day),
        |o AS (SELECT CAST(case_id AS INT) AS case_id, CAST(day AS BIGINT) AS day,
        |             CAST(33 * day + 224 * case_id AS BIGINT) AS rate32,
        |             CAST(32000 + 33 * ${SumDays - 1} + 224 * case_id AS BIGINT)
        |               AS cum_final32
        |      FROM c CROSS JOIN d)
        |SELECT case_id, day, rate32, cum_final32,
        |       CAST((rate32 * 1000000) // cum_final32 AS BIGINT) AS ratio_fp6
        |FROM o ORDER BY case_id, day""".stripMargin,
    // q189: the q114 lattice rolled up per case (y·32 = 32000·vi +
    // 33·day + 224·case on this lattice — day < 32 folds the sawtooth)
    "q189_fleet_agg_colocated" -> fleetRollupOracleWhere("TRUE"),
    // q206: q189's rollup restricted to the dim-filtered group (odd
    // realizations) — runtime pruning must change WHICH files are read,
    // never what the surviving cases' rows contain
    "q206_runtime_case_prune" -> fleetRollupOracleWhere("case_id % 2 = 1"),
    // q185: the q114 lattice replay; baseline = per-vector min, onset =
    // min day crossing baseline + margin, envelope re-keyed by vector —
    // every comparison dyadic-exact
    "q185_breakthrough" ->
      s"""WITH c AS (SELECT unnest(range($FleetCases)) AS case_id),
        |v AS (SELECT unnest([${SumVectors.map("'" + _ + "'").mkString(", ")}]) AS vector,
        |              unnest([${SumVectors.indices.mkString(", ")}]) AS vi),
        |d AS (SELECT unnest(range($SumDays)) AS day),
        |o AS (SELECT case_id, vector, CAST(day AS BIGINT) AS day,
        |             1000.0 * vi + day + 7.0 * case_id
        |               + CAST(day % 32 AS DOUBLE) / 32 AS value
        |      FROM c CROSS JOIN v CROSS JOIN d),
        |b AS (SELECT vector, min(value) AS v0 FROM o GROUP BY 1),
        |x AS (SELECT CAST(case_id AS INT) AS case_id, vector,
        |             CAST(min(day) AS BIGINT) AS first_day
        |      FROM o JOIN b USING (vector)
        |      WHERE value >= v0 + $BreakMargin GROUP BY 1, 2),
        |e AS (SELECT vector, CAST(count(*) AS BIGINT) AS n_cases_crossed,
        |             min(first_day) AS day_min, max(first_day) AS day_max
        |      FROM x GROUP BY 1)
        |SELECT x.case_id, x.vector, x.first_day,
        |       e.n_cases_crossed, e.day_min, e.day_max
        |FROM x JOIN e USING (vector) ORDER BY case_id, vector""".stripMargin,
    // q182: the trend-lattice replay, integer y·32, sufficient-statistic
    // OLS in BIGINT; R² is the engine's staged fixed point verbatim
    // (every intermediate < 2⁶³); all operands positive so // = div
    "q182_trend_fit" ->
      s"""WITH c AS (SELECT unnest(range($FleetCases)) AS case_id),
        |v AS (SELECT unnest([${SumVectors.map("'" + _ + "'").mkString(", ")}]) AS vector,
        |              unnest([${SumVectors.indices.mkString(", ")}]) AS vi),
        |d AS (SELECT unnest(range($SumDays)) AS day),
        |o AS (SELECT case_id, vector, CAST(day AS BIGINT) AS x,
        |             CAST(32000 * vi + 32 * (1 + vi + 2 * case_id) * day
        |                  + 224 * case_id + 4 * ((day * day) % 7) AS BIGINT) AS y32
        |      FROM c CROSS JOIN v CROSS JOIN d),
        |a AS (SELECT CAST(case_id AS INT) AS case_id, vector,
        |             CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y32) AS BIGINT) AS sy,
        |             CAST(sum(x * y32) AS BIGINT) AS sxy,
        |             CAST(sum(x * x) AS BIGINT) AS sxx,
        |             CAST(sum(y32 * y32) AS BIGINT) AS syy
        |      FROM o GROUP BY 1, 2)
        |SELECT case_id, vector, n,
        |       CAST(((n * sxy - sx * sy) * 1000000)
        |            // (n * sxx - sx * sx) AS BIGINT) AS slope_fp6,
        |       CAST(((sy * sxx - sx * sxy) * 1000000)
        |            // (n * sxx - sx * sx) AS BIGINT) AS icept_fp6,
        |       CAST((((n * sxy - sx * sy) * 1000000 // (n * sxx - sx * sx))
        |             * (n * sxy - sx * sy)) // (n * syy - sy * sy)
        |            AS BIGINT) AS r2_fp6
        |FROM a ORDER BY case_id, vector""".stripMargin,
    "q167_summary_fleet_sql" -> summaryFleetOracle,
    "q60_summary_binary" ->
      s"""WITH v AS (
           SELECT unnest([${SumVectors.map("'" + _ + "'").mkString(", ")}]) AS vector,
                  unnest([${SumVectors.indices.mkString(", ")}]) AS vi),
         d AS (SELECT unnest(range($SumDays)) AS day)
         SELECT vector,
                CAST(DATE '2021-01-01' + CAST(day AS INT) AS TIMESTAMP) AS date,
                1000.0 * vi + day + CAST(day % 32 AS DOUBLE) / 32 AS value
         FROM v CROSS JOIN d ORDER BY vector, date""",
    "q62_unrst_binary" -> rstOracle,
    // the fleet read must equal the single-case path exactly: q62's
    // oracle verbatim
    "q120_restart_fleet" -> rstOracle,
    "q165_restart_fleet_sql" -> rstOracle,
    // q63's replay minus the CONIPOS vector (the fleet selects DEPTH/
    // PRESSURE explicitly; CONIDX is the ordinal)
    "q148_rft_fleet" -> rftFleetOracle,
    "q168_rft_fleet_sql" -> rftFleetOracle,
    // pushed-down filters restrict the SAME closed forms: DATE
    // 2022-01-02 is step t=1; WELL W1/W2 + DATE 2023-02-02 are cases
    // 1,2 at report t=1; 2021-01-10..12 are days 9..11
    "q171_unrst_date_pushdown" -> rstOracleWhere("t = 1"),
    "q172_sql_ddl_grid" -> gridOracle,
    "q199_sql_ddl_unrst" -> rstOracleWhere("t = 1"),
    "q200_sql_ddl_unsmry" ->
      summaryFleetOracleWhere("vector = 'FOPR' AND day BETWEEN 9 AND 11"),
    "q201_sql_ddl_rft" -> rftFleetOracleWhere("c IN (1, 2) AND t = 1"),
    "q173_rft_well_pushdown" -> rftFleetOracleWhere("c IN (1, 2) AND t = 1"),
    "q174_unsmry_date_pushdown" -> summaryFleetOracleWhere("day BETWEEN 9 AND 11"),
    "q198_unsmry_vector_pushdown" ->
      summaryFleetOracleWhere("vector IN ('FOPR', 'WBHP:W0')"),
    // file-level pruning keeps exactly case 2's steps; the write→read
    // round trip must reproduce the fleet frame verbatim
    "q176_case_pushdown" -> rstOracleWhere("c = 2"),
    "q177_unsmry_fleet_write" -> summaryFleetOracle,
    // the streamed decode must equal the batch fleet read verbatim
    "q178_unsmry_stream" -> summaryFleetOracle,
    "q202_stream_kill_recovery" -> summaryFleetOracle,
    "q204_stream_filtered_read" ->
      summaryFleetOracleWhere("vector = 'FOPR' AND day BETWEEN 9 AND 11"),
    // gridOracle projected to the property columns: the fast path must
    // get activity, the index math and the INIT gather exactly right
    // without ever touching geometry
    "q180_grid_props_pushdown" ->
      s"""WITH cases AS (SELECT unnest(range($GridCases)) AS c),
         cells AS (SELECT c, unnest(range(${Nx * Ny * Nz})) AS g FROM cases),
         act AS (SELECT c, g FROM cells WHERE (g + c) % 7 <> 0),
         idx AS (SELECT *, row_number() OVER (PARTITION BY c ORDER BY g) - 1 AS active_idx
                 FROM act)
         SELECT CAST(c AS INT) AS case_id, g AS global_index, active_idx,
                CAST((g + 5 * c) % 64 AS DOUBLE) / 64 AS poro,
                CAST((7 * g + c) % 1000 AS DOUBLE) AS permx
         FROM idx ORDER BY case_id, global_index""",
    // per case: error = 7(c - 1.5) on every one of the 5x30 rows, so
    // misfit_fp4 = 150 * 49 * (2c-3)^2 exactly
    "q179_stream_scoreboard" ->
      s"""WITH c AS (SELECT unnest(range($FleetCases)) AS case_id)
         SELECT CAST(case_id AS INT) AS case_id,
                CAST(${SumVectors.length * SumDays} AS BIGINT) AS n_rows,
                CAST(${SumVectors.length * SumDays} * 49 * (2 * case_id - 3)
                     * (2 * case_id - 3) AS BIGINT) AS misfit_fp4
         FROM c ORDER BY misfit_fp4, case_id""",
    "q63_rft_binary" ->
      s"""WITH cases AS (SELECT unnest(range($RftCases)) AS c),
         dates AS (SELECT c, unnest(range($RftDates)) AS t FROM cases),
         cons AS (SELECT c, t, unnest(range($RftNcon)) AS i FROM dates)
         SELECT CAST(c AS INT) AS case_id,
                CAST(DATE '2023-02-01' + CAST(t AS INT) AS TIMESTAMP) AS date,
                'W' || CAST(c AS VARCHAR) AS well,
                CAST(i + 1 AS INT) AS conidx,
                CAST(i + 1 AS INT) AS conipos,
                CAST(1000 + 10 * i + 100 * t + c AS DOUBLE) AS depth,
                CAST(200 + i + 50 * t + 7 * c AS DOUBLE) AS pressure
         FROM cons ORDER BY case_id, date, conidx""",
    // Endpoint (i,j,k) decodes from the 1-based global index regardless
    // of activity; coordinates left-join only ACTIVE cells, so pairs
    // touching an inactive endpoint average to NULL — same as the
    // broadcast left-join null path in nncWithCoordinates.
    "q66_nnc_binary" ->
      s"""WITH cases AS (SELECT unnest(range($GridCases)) AS c),
         pairs AS (SELECT c, unnest(range($NncN)) AS p FROM cases),
         pp AS (SELECT c, p,
                       (37 * p + c) % ${Nx * Ny * Nz} AS g1,
                       (61 * p + 7 + 3 * c) % ${Nx * Ny * Nz} AS g2,
                       p + CAST(p % 64 AS DOUBLE) / 64 AS tran
                FROM pairs),
         cells AS (SELECT c, unnest(range(${Nx * Ny * Nz})) AS g FROM cases),
         coord AS (
           SELECT c, g,
                  CAST(g % $Nx + 1 AS DOUBLE) - 0.5 AS x,
                  CAST((g // $Nx) % $Ny + 1 AS DOUBLE) - 0.5 AS y,
                  CAST((g // ${Nx * Ny} + 1) * (g // ${Nx * Ny} + 1) AS DOUBLE) / 2 AS z
           FROM cells WHERE (g + c) % 7 <> 0)
         SELECT CAST(pp.c AS INT) AS case_id,
                CAST(g1 % $Nx + 1 AS INT) AS i1,
                CAST((g1 // $Nx) % $Ny + 1 AS INT) AS j1,
                CAST(g1 // ${Nx * Ny} + 1 AS INT) AS k1,
                CAST(g2 % $Nx + 1 AS INT) AS i2,
                CAST((g2 // $Nx) % $Ny + 1 AS INT) AS j2,
                CAST(g2 // ${Nx * Ny} + 1 AS INT) AS k2,
                tran,
                (a.x + b.x) / 2 AS x, (a.y + b.y) / 2 AS y, (a.z + b.z) / 2 AS z
         FROM pp
         LEFT JOIN coord a ON a.c = pp.c AND a.g = pp.g1
         LEFT JOIN coord b ON b.c = pp.c AND b.g = pp.g2
         ORDER BY case_id, i1, j1, k1, i2, j2, k2""",
  )

  private def ensembleMisfitSql: String =
      s"""WITH c AS (SELECT unnest(range($FleetCases)) AS case_id),
         v AS (
           SELECT unnest([${SumVectors.indices.mkString(", ")}]) AS vi),
         d AS (SELECT unnest(range(0, $SumDays, 5)) AS day),
         x AS (SELECT case_id,
                      (224 * case_id + 96 * (day % 7) - 64 * (vi % 3)) // 32 AS dlt,
                      CASE WHEN vi % 2 = 0 THEN 4 ELSE 1 END AS w
               FROM c CROSS JOIN v CROSS JOIN d),
         m AS (SELECT case_id, count(*) AS n_obs,
                      sum(w * dlt * dlt) AS misfit_fp4
               FROM x GROUP BY case_id)
         SELECT CAST(case_id AS INT) AS case_id,
                CAST(n_obs AS BIGINT) AS n_obs,
                CAST(misfit_fp4 AS BIGINT) AS misfit_fp4,
                CAST(row_number() OVER (ORDER BY misfit_fp4, case_id) AS INT) AS rank
         FROM m ORDER BY rank"""
}
