package graft.write

import java.time.LocalDate
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Binary UNSMRY/SMSPEC writer (SURVEY.md §2.1 S16, the reverse-summary
  * sink; reference summary.py:602-689 delegates to the resdata library).
  *
  * The on-disk layout is the publicly documented Eclipse "ecl_kw" format:
  * Fortran unformatted sequential records (4-byte big-endian length framing
  * around each payload), where every keyword is a 16-byte header record
  * (8-char name, 4-byte element count, 4-char type mnemonic INTE/REAL/
  * DOUB/CHAR/LOGI) followed by data records chunked at 1000 numeric /
  * 105 CHAR elements. SMSPEC carries the vector catalog (KEYWORDS/
  * WGNAMES/NUMS/UNITS + DIMENS + STARTDAT); UNSMRY carries per-report-step
  * SEQHDR/MINISTEP/PARAMS records.
  *
  * Output files are inherently small (one float per vector per step), so
  * like every other include/text sink this formats on the driver from a
  * collected long-format frame — the 100 TB path never routes THROUGH this
  * sink; it's the boundary artifact handed back to simulator tooling.
  * `read` is the inverse (used by the round-trip spec).
  */
object SummaryWriter {

  // ---- writer (framing shared via graft.io.EclKw) --------------------------

  private def inte(name: String, data: Seq[Int]) =
    graft.io.EclKw.Kw(name, "INTE", data.toArray)
  private def real(name: String, data: Seq[Float]) =
    graft.io.EclKw.Kw(name, "REAL", data.toArray)
  private def char(name: String, data: Seq[String]) =
    graft.io.EclKw.Kw(name, "CHAR", data.toArray)

  /** Split a summary mnemonic like `WOPR:OP_1` into (keyword, wgname). */
  private def splitVector(v: String): (String, String) = v.split(":", 2) match {
    case Array(k, w) => (k, w)
    case Array(k) => (k, ":+:+:+:+") // resdata's "no well/group" sentinel
  }

  /** Write a long-format summary frame `(DATE date/timestamp, VECTOR
    * string, VALUE double)` as SMSPEC + UNSMRY at `basePath.{SMSPEC,
    * UNSMRY}`. Returns the vector order used for PARAMS.
    * `restartFrom` writes the SMSPEC RESTART pointer (the parent case's
    * base name in 8-char CHAR cells — the convention resdata's
    * include_restart follows).
    */
  def write(df: DataFrame, basePath: String,
      restartFrom: Option[String] = None): Seq[String] = {
    val rows = df.select(col("DATE").cast("date"), col("VECTOR"), col("VALUE").cast("double"))
      .collect()
      .map(r => (r.getDate(0).toLocalDate, r.getString(1), r.getDouble(2)))
    writeCaseFiles(basePath, rows, restartFrom)
  }

  /** Write ONE case's long-form `(date, vector, value)` rows as
    * `basePath.{SMSPEC, UNSMRY}` — the in-memory kernel shared by
    * [[write]] (driver-side, after its collect) and the
    * `eclipse-unsmry` DataSourceV2 BATCH_WRITE task writers (executor-
    * side, one case per cluster key). A case's rows are one float per
    * vector per step — always task-sized. */
  private[graft] def writeCaseFiles(basePath: String,
      rows: Array[(LocalDate, String, Double)],
      restartFrom: Option[String] = None): Seq[String] = {
    val dates = rows.map(_._1).distinct.sorted(Ordering.by[LocalDate, Long](_.toEpochDay))
    val vectors = rows.map(_._2).distinct.sorted.toIndexedSeq
    val byKey = rows.map(r => (r._1, r._2) -> r._3).toMap
    val start = dates.headOption.getOrElse(LocalDate.of(2000, 1, 1))

    // TIME (days since start) is param 0, matching the convention that the
    // params vector always carries the clock.
    val allVectors = "TIME" +: vectors
    val restartKw = restartFrom.toSeq.map { parent =>
      // The RESTART convention is 9 8-char cells (72 chars max) and readers
      // (ours included, resdata too) trim each cell before re-joining, so a
      // longer path or one with spaces cannot round-trip — fail loudly
      // instead of writing a pointer no reader can reconstruct.
      require(parent.length <= 72,
        s"RESTART pointer '$parent' is ${parent.length} chars; the 9-cell " +
          "SMSPEC RESTART convention holds at most 72 — use a shorter " +
          "relative path to the parent case")
      require(!parent.contains(' '),
        s"RESTART pointer '$parent' contains a space; 8-char CHAR cells " +
          "are whitespace-trimmed on read, so the path cannot round-trip")
      val cells = parent.grouped(8).toSeq
      char("RESTART", cells ++ Seq.fill(math.max(0, 9 - cells.length))(""))
    }
    graft.io.EclKw.write(s"$basePath.SMSPEC", restartKw ++ Seq(
      inte("DIMENS", Seq(allVectors.length, 0, 0, 0, 0, -1)),
      char("KEYWORDS", allVectors.map(v => splitVector(v)._1)),
      char("WGNAMES", allVectors.map(v => splitVector(v)._2)),
      inte("NUMS", allVectors.map(_ => 0)),
      char("UNITS", allVectors.map(_ => "")),
      inte("STARTDAT",
        Seq(start.getDayOfMonth, start.getMonthValue, start.getYear, 0, 0, 0))))
    graft.io.EclKw.write(s"$basePath.UNSMRY",
      dates.zipWithIndex.flatMap { case (d, i) =>
        val params = (d.toEpochDay - start.toEpochDay).toFloat +:
          vectors.map(v => byKey.getOrElse((d, v), 0.0).toFloat)
        Seq(inte("SEQHDR", Seq(i)), inte("MINISTEP", Seq(i)), real("PARAMS", params))
      })
    allVectors
  }

  // ---- reader (round-trip inverse; framing shared via graft.io.EclKw) ------

  /** Summary mnemonic from a SMSPEC catalog entry — resdata's `gen_key`
    * rules: well/group vectors key on WGNAMES, region vectors on NUMS,
    * block vectors on the (i,j,k) of NUMS within the DIMENS grid, field
    * and misc vectors stand alone.
    */
  private def vectorName(kw: String, wg: String, num: Int,
      dims: Option[(Int, Int, Int)]): String = {
    val wgValid = wg.nonEmpty && wg != ":+:+:+:+"
    def ijk = dims match {
      case Some((nx, ny, _)) =>
        val g = num - 1
        s"${g % nx + 1},${g / nx % ny + 1},${g / (nx * ny) + 1}"
      case None => num.toString
    }
    // completion vectors carry BOTH the well and the cell: CPI:OP_1:1,2,3
    if (kw.startsWith("C") && wgValid && num > 0) s"$kw:$wg:$ijk"
    else if (wgValid) s"$kw:$wg"
    else if (kw.startsWith("R") && num > 0) s"$kw:$num"
    else if (kw.startsWith("B") && num > 0) s"$kw:$ijk"
    else kw
  }

  /** Read SMSPEC+UNSMRY back into the long `(DATE, VECTOR, VALUE)` form
    * (S6 for real simulator output; reference summary.py:406-470 reads
    * the same catalog through resdata). The clock is the TIME vector
    * (days since STARTDAT), wherever it sits in the catalog.
    */
  def read(spark: SparkSession, basePath: String): DataFrame =
    readWithStep(spark, basePath).drop("STEP")

  /** Decode a SMSPEC's catalog: (per-param vector names, TIME index,
    * start date).
    */
  private def specCatalog(basePath: String): (IndexedSeq[String], Int, LocalDate) =
    specCatalogAt(s"$basePath.SMSPEC")

  private[graft] def specCatalogAt(smspecPath: String): (IndexedSeq[String], Int, LocalDate) = {
    val spec = graft.io.EclKw.read(smspecPath).map(k => k.name -> k).toMap
    val kws = spec("KEYWORDS").strings
    val wgs = spec.get("WGNAMES").orElse(spec.get("NAMES")).map(_.strings)
      .getOrElse(kws.map(_ => ""))
    val nums = spec.get("NUMS").map(_.ints).getOrElse(kws.map(_ => 0))
    val dims = spec.get("DIMENS").map(_.ints).filter(_.length >= 4)
      .map(d => (d(1), d(2), d(3)))
    val sd = spec("STARTDAT").ints
    val start = LocalDate.of(sd(2), sd(1), sd(0))
    val vectors = kws.indices.map(i => vectorName(kws(i), wgs(i), nums(i), dims))
    val timeIdx = kws.indexOf("TIME")
    require(timeIdx >= 0, s"$smspecPath has no TIME vector")
    (vectors, timeIdx, start)
  }

  /** The parent case this summary restarts FROM: the SMSPEC RESTART
    * keyword's 8-char CHAR cells concatenated (resdata's include_restart
    * convention), resolved relative to `basePath`'s directory. None when
    * absent or blank.
    */
  def restartParent(basePath: String): Option[String] = {
    val spec = graft.io.EclKw.stream(s"$basePath.SMSPEC",
      (n, _, _) => n == "RESTART")(_.toVector)
    spec.headOption
      .map(_.strings.mkString("").trim)
      .filter(_.nonEmpty)
      .map { rel =>
        val dir = java.nio.file.Paths.get(basePath).toAbsolutePath.getParent
        if (java.nio.file.Paths.get(rel).isAbsolute) rel
        else dir.resolve(rel).toString
      }
  }

  /** The distinct vector names a SMSPEC declares (TIME excluded), sorted —
    * lets pivot consumers pass an explicit values list instead of paying
    * a distinct pass + driver collect over the long data.
    */
  def vectors(basePath: String): Seq[String] = {
    val (vecs, timeIdx, _) = specCatalog(basePath)
    vecs.indices.collect { case i if i != timeIdx => vecs(i) }.distinct.sorted
  }

  /** The SMSPEC UNITS entry for a vector (e.g. TIMESTEP's "DAYS"/"HOURS"
    * — the reference reads the same meta to scale duplicate-date offsets,
    * summary.py:457-470). None when the vector or UNITS is absent.
    */
  def vectorUnit(basePath: String, vector: String): Option[String] = {
    val spec = graft.io.EclKw.read(s"$basePath.SMSPEC").map(k => k.name -> k).toMap
    val i = spec("KEYWORDS").strings.indexOf(vector)
    if (i < 0) None
    else spec.get("UNITS").map(_.strings).flatMap(_.lift(i)).map(_.trim)
      .filter(_.nonEmpty)
  }

  /** One UNSMRY case decoded to `(CASE, DATE, VECTOR, VALUE, STEP)`
    * tuples — the per-case kernel of the `eclipse-unsmry` DataSourceV2
    * partition readers (batch and streaming), the one fleet read of
    * UNSMRY: one task per case, SMSPEC catalog + PARAMS decode
    * executor-side over shared storage ([[read]]'s driver-streamed form
    * remains for the single-case path). Takes the UNSMRY path AS
    * LISTED (lowercase artifact sets stay readable); `CASE` = the path
    * minus its 7-char extension; the SMSPEC sibling resolves
    * preferring the canonical uppercase name, then lowercase. Held memory is the raw per-step float
    * payloads (≈ the file itself); the steps×vectors long-row expansion
    * is LAZY — [[readWithStep]]'s discipline, so a 1000-realization
    * ensemble task never materializes millions of boxed tuples. TIME
    * itself is excluded (it becomes DATE).
    */
  private[graft] def summaryCaseTuples(unsmryPath: String,
      datePred: graft.io.DatePred = graft.io.DatePred.All,
      vectorSel: Option[Set[String]] = None
      ): Iterator[(String, java.sql.Date, String, Double, Int)] = {
    val base = unsmryPath.dropRight(".UNSMRY".length)
    val (vectors, timeIdx, start) =
      specCatalogAt(graft.io.EclKw.sibling(base, ".SMSPEC"))
    // DSv2 DATE pushdown: a PARAMS record interleaves ALL vectors per
    // ministep, so a date-selective read first peeks ONLY the TIME
    // element of each record (streamFloatElement — 4 bytes per step),
    // then the main pass decodes just the matching step ordinals; the
    // rest are seeked past whole. The stateful ordinal predicate is
    // sound because EclKw.stream judges each header exactly once, in
    // file order.
    val wantedSteps: Option[Set[Int]] =
      if (datePred.trivial) None
      else Some(graft.io.EclKw.streamFloatElement(unsmryPath, "PARAMS", timeIdx)
        .zipWithIndex.collect { case (t, i)
          if datePred.keepDay(start.plusDays(t.toLong).toEpochDay) => i }.toSet)
    vectorSel match {
      case Some(sel) =>
        // DSv2 VECTOR pushdown: decode ONLY the selected vectors'
        // 4-byte slots (plus TIME for DATE) out of each wanted PARAMS
        // record — streamFloatSlots seeks past everything else, so a
        // one-vector read of a 10⁴-vector SMSPEC touches ~0.01% of the
        // PARAMS bytes. Selection is ORDINAL-based (an SMSPEC may
        // declare the same vector name twice; both ordinals emit, same
        // as the full-decode path). TIME itself is never an output row,
        // so a pushed VECTOR='TIME' simply selects nothing.
        val selOrds = vectors.indices
          .filter(i => i != timeIdx && sel.contains(vectors(i))).toArray
        if (selOrds.isEmpty) Iterator.empty
        else {
          val decodeIdxs = (selOrds :+ timeIdx).distinct.sorted
          val tpos = decodeIdxs.indexOf(timeIdx)
          val recs = graft.io.EclKw.streamFloatSlots(unsmryPath, "PARAMS",
            decodeIdxs, ord => wantedSteps.forall(_.contains(ord)))
          graft.io.DecodeStats.unsmryParamSlots.add(
            recs.length.toLong * decodeIdxs.length)
          recs.iterator.flatMap { case (step, slots) =>
            val date = java.sql.Date.valueOf(start.plusDays(slots(tpos).toLong))
            decodeIdxs.indices.iterator.filter(_ != tpos).map { j =>
              (base, date, vectors(decodeIdxs(j)), slots(j).toDouble, step)
            }
          }
        }
      case None =>
        var ord = -1
        val steps = graft.io.EclKw.stream(unsmryPath, (n, _, _) =>
          n == "PARAMS" && { ord += 1; wantedSteps.forall(_.contains(ord)) }) { it =>
          it.map { kw => graft.io.DecodeStats.unsmryParams.increment(); kw.floats }.toVector
        }
        val stepIds: Int => Int = wantedSteps match {
          case Some(sel) => val sorted = sel.toArray.sorted; sorted(_)
          case None => identity
        }
        steps.iterator.zipWithIndex.flatMap { case (vals, k) =>
          val step = stepIds(k)
          val date = java.sql.Date.valueOf(start.plusDays(vals(timeIdx).toLong))
          vals.indices.iterator.filter(_ != timeIdx).map(i =>
            (base, date, vectors(i), vals(i).toDouble, step))
        }
    }
  }

  /** As [[read]], plus the PARAMS-record ordinal as `STEP` — several
    * ministeps can truncate to the same DATE, and STEP is the
    * deterministic tiebreaker for last-state-wins consumers (the wide
    * pivot; a bare `first()` over duplicate dates is order-dependent).
    */
  def readWithStep(spark: SparkSession, basePath: String): DataFrame = {
    val (vectors, timeIdx, start) = specCatalog(basePath)
    // STREAM one PARAMS record at a time (not EclKw.read's whole-file
    // vector) — driver memory is the raw float payloads, ≈ the file
    // itself; the steps×vectors long-row expansion (with its repeated
    // vector-name strings) happens EXECUTOR-side from per-step slices,
    // the same slice-shipping convention as the grid readers
    val steps = graft.io.EclKw.stream(s"$basePath.UNSMRY",
      (n, _, _) => n == "PARAMS") { it =>
      it.zipWithIndex.map { case (kw, step) =>
        val vals = kw.floats
        (java.sql.Date.valueOf(start.plusDays(vals(timeIdx).toLong)), step, vals)
      }.toVector
    }
    val vecArr = vectors.toArray
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("DATE",
        org.apache.spark.sql.types.DateType, nullable = false),
      org.apache.spark.sql.types.StructField("VECTOR",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("VALUE",
        org.apache.spark.sql.types.DoubleType, nullable = false),
      org.apache.spark.sql.types.StructField("STEP",
        org.apache.spark.sql.types.IntegerType, nullable = false)))
    val par = math.max(1, math.min(steps.length,
      spark.sparkContext.defaultParallelism))
    val rows = spark.sparkContext.parallelize(steps, par).flatMap {
      case (date, step, vals) =>
        vals.indices.iterator.filter(_ != timeIdx).map(i =>
          org.apache.spark.sql.Row(date, vecArr(i), vals(i).toDouble, step))
    }
    spark.createDataFrame(rows, schema)
  }
}
