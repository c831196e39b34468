package graft.cli

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.modules._

/** res2csv-style CLI: `runMain graft.cli.Res2Csv <module> <deckfile> [out.csv]`.
  *
  * Mirrors the reference's CLI front (res2csv.py:266-272; S11 CSV sink,
  * common.py:116-152): extract one module's tidy frame from a deck and
  * write CSV to stdout or a file.
  */
object Res2Csv {

  val Modules: Map[String, (SparkSession, String) => DataFrame] = Map(
    "compdat" -> ((s, t) => Compdat.df(s, t)),
    "gruptree" -> ((s, t) => Gruptree.df(s, t)),
    "satfunc" -> ((s, t) => Satfunc.df(s, t)),
    "faults" -> ((s, t) => Faults.df(s, t)),
    "equil" -> ((s, t) => Equil.df(s, t)),
    "pvt" -> ((s, t) => Pvt.df(s, t)),
    "wcon" -> ((s, t) => Wcon.df(s, t)),
    "vfp" -> ((s, t) => Vfp.df(s, t)),
    "welsegs" -> ((s, t) => Msw.welsegs(graft.io.DeckParser.toDS(s, t).toDF())),
    "compsegs" -> ((s, t) => Msw.compsegs(graft.io.DeckParser.toDS(s, t).toDF())),
    "wsegsicd" -> ((s, t) => Msw.wsegsicd(graft.io.DeckParser.toDS(s, t).toDF())),
    "wsegaicd" -> ((s, t) => Msw.wsegaicd(graft.io.DeckParser.toDS(s, t).toDF())),
    "wsegvalv" -> ((s, t) => Msw.wsegvalv(graft.io.DeckParser.toDS(s, t).toDF())),
  )

  private def basePath(datafile: String): String =
    datafile.replaceAll("\\.DATA$", "").replaceAll("\\.data$", "")

  /** Deck text with INCLUDE files resolved relative to the deck — a deck
    * module fed the raw text would silently miss every included section.
    */
  private def deckTextOf(path: String): String =
    graft.io.DeckParser.expandIncludes(
      // lenient decode like every other deck entry point — decks in the
      // wild carry Latin-1 comment bytes that strict UTF-8 would throw on
      new String(Files.readAllBytes(Paths.get(path))),
      Paths.get(path).toAbsolutePath.getParent)

  private def sibling(datafile: String, ext: String): Option[String] = {
    val p = s"${basePath(datafile)}.$ext"
    if (Files.isRegularFile(Paths.get(p))) Some(p) else None
  }

  /** Geometry ⟗ INIT [⟗ stacked-restart] grid frame from the binary
    * artifacts next to the datafile (grid.py:476-531; INIT vectors NaN-
    * sentinel-washed like init2df does). Static consumers (pillars,
    * trans) must pass `withRst = false`: the DATE-stacked restart join
    * multiplies every cell by the report-step count, which would
    * duplicate their per-connection/per-pillar rows.
    */
  private def gridFrame(s: SparkSession, datafile: String,
      withRst: Boolean = true, vectors: Seq[String] = Nil,
      rstdates: Option[String] = None): DataFrame = {
    val geom = graft.io.EclBinary.egrid(s,
      sibling(datafile, "EGRID").getOrElse(
        throw new IllegalArgumentException(s"no EGRID next to $datafile")))
    val init = sibling(datafile, "INIT").map { p =>
      val i = graft.io.EclBinary.init(s, p, vectors)
      val doubles = i.schema.fields.collect {
        case f if f.dataType == org.apache.spark.sql.types.DoubleType => f.name
      }
      GridOps.washNanSentinel(i, doubles.toSeq)
    }
    val rst =
      if (withRst) sibling(datafile, "UNRST").map { p =>
        // first/last/all mnemonics or an ISO date (reference
        // dates2rstindices, grid.py:54-107) — resolved against a cheap
        // INTEHEAD-only pre-scan, then only matching report steps decode
        val dates = rstdates.map {
          case "all" => Nil
          case "first" => graft.io.EclBinary.unrstDates(p).take(1)
          case "last" => graft.io.EclBinary.unrstDates(p).takeRight(1)
          case iso => Seq(java.sql.Date.valueOf(iso))
        }.getOrElse(Nil)
        graft.io.EclBinary.unrst(s, p, vectors, dates)
      }
      else None
    GridOps.assemble(geom, init, rst,
      deriveSoil = GridOps.vectorsMatchSoil(vectors))
  }

  private def zonemapOf(datafile: String): Map[Int, String] =
    GridOps.findZonemapFile(datafile).map(p =>
      GridOps.parseLyr(Files.readString(Paths.get(p)))).getOrElse(Map.empty)

  /** Modules that take a file path (deck, PRT or .DATA with binary
    * siblings) rather than deck text — these cover the reference CLI's
    * remaining fronts (res2csv.py:226-272): grid, nnc, rft, summary,
    * pillars, trans, wellconnstatus, wellcompletiondata, fipreports.
    */
  val PathModules: Map[String, (SparkSession, String) => DataFrame] = Map(
    "fipreports" -> ((s, p) => FipReports.df(s, p)),
    "grid" -> { (s, p) =>
      val g = gridFrame(s, p)
      val zm = zonemapOf(p)
      if (zm.isEmpty) g else GridOps.mergeZones(g, zm)
    },
    "nnc" -> ((s, p) => graft.io.EclBinary.nnc(s,
      sibling(p, "EGRID").getOrElse(
        throw new IllegalArgumentException(s"no EGRID next to $p")),
      sibling(p, "INIT"))),
    "rft" -> ((s, p) => graft.io.EclBinary.rft(s,
      sibling(p, "RFT").getOrElse(
        throw new IllegalArgumentException(s"no RFT next to $p")))),
    "summary" -> { (s, p) =>
      // wide form like the reference's summary CSV: DATE + one column per
      // vector. Ministeps within a day collapse to the LAST state of the
      // day (max_by STEP) — a bare first() would be order-dependent. The
      // pivot gets the SMSPEC-declared vector list explicitly (same sorted
      // order a distinct pass would produce) — one fewer job, no
      // driver-collected pivot-column scan.
      val long = graft.write.SummaryWriter.readWithStep(s, basePath(p))
      long.groupBy(col("DATE"))
        .pivot("VECTOR", graft.write.SummaryWriter.vectors(basePath(p)))
        .agg(max_by(col("VALUE"), col("STEP")))
        .orderBy(col("DATE"))
    },
    "pillars" -> ((s, p) => Pillars.df(gridFrame(s, p, withRst = false))),
    "trans" -> ((s, p) => GridOps.trans(gridFrame(s, p, withRst = false))),
    "wellconnstatus" -> ((s, p) =>
      WellOps.wellConnStatus(graft.write.SummaryWriter.read(s, basePath(p)))),
    "wellcompletiondata" -> { (s, p) =>
      val compdat = Compdat.df(s, deckTextOf(p))
      WellCompletionData.df(compdat, zonemapOf(p))
    },
  )

  def main(args: Array[String]): Unit = {
    val known = Modules.keySet ++ PathModules.keySet
    // flags anywhere after the module name (reference res2csv option
    // style): boolean --units/--dropconstants; valued --tablenumbers 1,2
    // (vfp), --vectors 'PORO,P*' and --rstdates first|last|all|ISO
    // (grid); flags are ignored by modules that don't take them
    val Valued = Set("--tablenumbers", "--vectors", "--rstdates",
      "--column_keys", "--time_index", "--start_date", "--end_date", "--paramfile",
      "--region", "--soilcutoff", "--sgascutoff", "--swatcutoff", "--fipname",
      "--keywords", "--excl_well_startswith", "--zonemap", "--startdate",
      "--initvectors", "--date", "--wellname")
    val opts = scala.collection.mutable.Map[String, String]()
    val flags = scala.collection.mutable.Set[String]()
    val positional = scala.collection.mutable.Buffer[String]()
    var ai = 0
    while (ai < args.length) {
      val a = args(ai)
      if (Valued(a)) {
        if (ai + 1 >= args.length || args(ai + 1).startsWith("--")) {
          // a silently-demoted valued flag would produce the OPPOSITE of
          // what was asked (e.g. --vectors with no value = read
          // everything) — and consuming the NEXT flag as the value is the
          // same failure mid-args
          System.err.println(s"$a requires a value")
          sys.exit(2)
        }
        opts(a.stripPrefix("--")) = args(ai + 1); ai += 2
      } else if (a.startsWith("--")) { flags += a.stripPrefix("--"); ai += 1 }
      else { positional += a; ai += 1 }
    }
    val tablenumbers: Seq[Int] = opts.get("tablenumbers").toSeq.flatMap(
      _.split(",").flatMap(s => scala.util.Try(s.trim.toInt).toOption))
    if (positional.length < 2 || !known.contains(positional(0))) {
      System.err.println(s"usage: Res2Csv <${known.toSeq.sorted.mkString("|")}> " +
        "<deckfile|prtfile|datafile> [out.csv] [--units] [--dropconstants] " +
        "[--tablenumbers n,m] [--vectors glob,glob] [--rstdates first|last|all|ISO]")
      sys.exit(2)
    }
    val spark = graft.GraftSession(sys.env.getOrElse("SPARK_MASTER", "local[4]"), "res2csv")
    val df0 = positional(0) match {
      case "vfp" =>
        Vfp.df(spark, deckTextOf(positional(1)), tablenumbers, flags.contains("units"))
      case "grid" =>
        // vector globs reach the BINARY reads (unselected INIT/UNRST
        // payloads are seeked past, never decoded) — reference --vectors.
        // Restart data joins ONLY when --rstdates/--stackdates ask for it
        // (grid.py:480 defaults rstdates=None → geometry+INIT only);
        // the programmatic GridOps.assemble keeps taking any rst frame
        val vecs = opts.get("vectors").map(_.split(",").toSeq
          .map(_.trim).filter(_.nonEmpty)).getOrElse(Nil)
        val withRst = opts.contains("rstdates") || flags.contains("stackdates")
        val g = gridFrame(spark, positional(1), withRst = withRst,
          vectors = vecs, rstdates = opts.get("rstdates"))
        val zm = zonemapOf(positional(1))
        if (zm.isEmpty) g else GridOps.mergeZones(g, zm)
      case "summary" if opts.nonEmpty || flags.contains("params") ||
          flags.contains("include_restart") =>
        // reference summary CLI surface (summary.py:698-766):
        // --column_keys glob,glob --time_index raw|first|last|ISO|daily|
        // monthly|yearly --start_date/--end_date ISO --params/--paramfile
        val base = basePath(positional(1))
        val vecsAll = graft.write.SummaryWriter.vectors(base)
        val selected = opts.get("column_keys") match {
          case Some(gs) =>
            val pats = gs.split(",").map(_.trim).filter(_.nonEmpty)
              .map(g => graft.core.Ops.globToRegex(g).r.pattern)
            vecsAll.filter(v => pats.exists(_.matcher(v).matches()))
          case None => vecsAll
        }
        def longOf(b: String) = graft.core.Ops.lastWinsDedup(
          graft.write.SummaryWriter.readWithStep(spark, b)
            .filter(col("VECTOR").isin(selected: _*)),
          keys = Seq("DATE", "VECTOR"), ord = Seq(col("STEP"))).drop("STEP")
        // --include_restart: chase the SMSPEC RESTART chain and splice
        // each parent's history BEFORE its child's first date
        // (summary.py:768-770 / resdata include_restart)
        val chain =
          if (!flags.contains("include_restart")) Seq(base)
          else {
            var cs = List(base)
            var seen = Set(base)
            var cur = graft.write.SummaryWriter.restartParent(base)
            while (cur.exists(p => !seen(p) &&
                Files.isRegularFile(Paths.get(s"$p.SMSPEC")))) {
              cs ::= cur.get; seen += cur.get
              cur = graft.write.SummaryWriter.restartParent(cur.get)
            }
            cs // oldest first
          }
        val long = chain.map(longOf)
          .reduce((parent, cur) => Summary.chainRestart(parent, cur))
        val timed = Summary.selectDates(long,
          opts.getOrElse("time_index", "raw"),
          opts.get("start_date"), opts.get("end_date"), auto = true)
        val wide = Summary.toWide(timed, selected)
        if (flags.contains("params") || opts.contains("paramfile")) {
          // nearest parameter file wins, reference cascade
          val pmap = opts.get("paramfile") match {
            case Some(pf) =>
              val p = if (Paths.get(pf).isAbsolute) pf
                else Paths.get(positional(1)).toAbsolutePath.getParent.resolve(pf).toString
              GridOps.parseParametersFile(p)
            case None =>
              GridOps.findParameterFiles(positional(1)).reverse
                .foldLeft(Map.empty[String, String])(
                  (m, f) => m ++ GridOps.parseParametersFile(f))
          }
          GridOps.mergeParams(wide, pmap)
        } else wide
      case "nnc" =>
        // --pillars/--vertical: only along-pillar connections; --coords:
        // connection-midpoint xyz from the geometry (nnc.py:186-198)
        val egridP = sibling(positional(1), "EGRID").getOrElse(
          throw new IllegalArgumentException(s"no EGRID next to ${positional(1)}"))
        val raw = graft.io.EclBinary.nnc(spark, egridP, sibling(positional(1), "INIT"))
        val vert = if (flags.contains("pillars") || flags.contains("vertical"))
          GridOps.filterVerticalNnc(raw) else raw
        if (flags.contains("coords"))
          GridOps.nncWithCoordinates(vert, graft.io.EclBinary.egrid(spark, egridP))
        else vert
      case "trans" =>
        // full reference trans option surface (trans.py fill_parser):
        // --vectors/--boundaryfilter/--group/--coords/--onlyij/--onlyk/--nnc
        val vecs = opts.get("vectors").map(_.split(",").toSeq
          .map(_.trim).filter(_.nonEmpty)).getOrElse(Nil)
        val nncF = if (flags.contains("nnc"))
          sibling(positional(1), "EGRID").map(e =>
            graft.io.EclBinary.nnc(spark, e, sibling(positional(1), "INIT")))
          else None
        GridOps.trans(gridFrame(spark, positional(1), withRst = false),
          vectors = vecs, boundaryFilter = flags.contains("boundaryfilter"),
          group = flags.contains("group"), coords = flags.contains("coords"),
          onlyKDir = flags.contains("onlyk"), onlyIJDir = flags.contains("onlyij"),
          nnc = nncF)
      case "pillars" =>
        // --region/--rstdates/--stackdates/cutoffs/--group (pillars.py).
        // Dates always stack into a DATE column — the @date wide form is
        // never materialized by design (R4), so --stackdates names the
        // only shape this engine produces
        val withRst = opts.contains("rstdates") || flags.contains("stackdates")
        val grid = gridFrame(spark, positional(1), withRst = withRst,
          rstdates = opts.get("rstdates"))
        val st = Pillars.df(grid, region = opts.get("region"),
          soilCutoff = opts.get("soilcutoff").map(_.toDouble).getOrElse(0.2),
          sgasCutoff = opts.get("sgascutoff").map(_.toDouble).getOrElse(0.7),
          swatCutoff = opts.get("swatcutoff").map(_.toDouble).getOrElse(0.7))
        if (flags.contains("group")) Pillars.grouped(st, opts.get("region")) else st
      case "rft" =>
        // --date ISO / --wellname filters (rft.py fill_parser)
        val raw = graft.io.EclBinary.rft(spark,
          sibling(positional(1), "RFT").getOrElse(
            throw new IllegalArgumentException(s"no RFT next to ${positional(1)}")))
        val byDate = opts.get("date").map(d =>
          raw.filter(col("DATE") === lit(d).cast("date"))).getOrElse(raw)
        opts.get("wellname").map(w => byDate.filter(col("WELL") === w))
          .getOrElse(byDate)
      case "fipreports" =>
        FipReports.df(spark, positional(1), opts.getOrElse("fipname", "FIPNUM"))
      case m @ ("satfunc" | "equil" | "pvt") =>
        // --keywords SWOF,SGOF: emit only the named keyword families
        val base = Modules(m)(spark, deckTextOf(positional(1)))
        opts.get("keywords").map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
          .filter(_.nonEmpty)
          .map(ks => base.filter(col("KEYWORD").isin(ks: _*)))
          .getOrElse(base)
      case "wellcompletiondata" =>
        // --zonemap lyrfile / --use_wellconnstatus / --excl_well_startswith
        val compdat = Compdat.df(spark, deckTextOf(positional(1)))
        val zm = opts.get("zonemap")
          .map(p => GridOps.parseLyr(Files.readString(Paths.get(p))))
          .getOrElse(zonemapOf(positional(1)))
        val cs = if (flags.contains("use_wellconnstatus"))
          Some(WellOps.wellConnStatus(
            graft.write.SummaryWriter.read(spark, basePath(positional(1)))))
          else None
        WellCompletionData.df(compdat, zm, connstatus = cs,
          excludeWellPrefix = opts.get("excl_well_startswith"))
      case "gruptree" =>
        // --startdate ISO / --prettyprint (gruptree.py fill_parser); the
        // pretty print renders each date's tree to stdout and exits
        val base = Gruptree.df(spark, deckTextOf(positional(1)))
        val fromDate = opts.get("startdate").map(d =>
          base.filter(col("DATE") >= lit(d).cast("timestamp"))).getOrElse(base)
        if (flags.contains("prettyprint")) {
          val dates = fromDate.select(col("DATE")).distinct()
            .orderBy(col("DATE")).collect().map(_.getTimestamp(0))
          dates.foreach { d =>
            println(s"Date: ${d.toLocalDateTime.toLocalDate}")
            print(TreePrint.render(fromDate.filter(col("DATE") === d)))
            println()
          }
          spark.stop(); return
        }
        fromDate
      case "compdat" =>
        // --initvectors PORO,PERMX: INIT values at each connection cell
        // (compdat.py --initvectors via merge_initvectors)
        val base = Compdat.df(spark, deckTextOf(positional(1)))
        opts.get("initvectors").map { vs =>
          val vecs = vs.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
          val grid0 = gridFrame(spark, positional(1), withRst = false,
            vectors = vecs)
          // the binary read treats the values as GLOBS — resolve the
          // concrete matching columns before the select (a literal
          // col("PERM*") would not resolve). Geometry columns are never
          // INIT vectors, and a pattern matching NOTHING is a typo the
          // user must hear about, not a silently-absent column
          val geomCols = Set("I", "J", "K", "X", "Y", "Z", "Z_MIN", "Z_MAX",
            "VOLUME", "GLOBAL_INDEX", "ACTIVE_IDX")
          val pats = vecs.map(v => graft.core.Ops.globToRegex(v).r.pattern)
          val initCols = grid0.columns.filterNot(geomCols.contains)
          pats.zip(vecs).foreach { case (p, v) =>
            if (!initCols.exists(c => p.matcher(c).matches())) {
              System.err.println(s"--initvectors: '$v' matches no INIT vector " +
                s"(available: ${initCols.sorted.mkString(", ")})")
              sys.exit(2)
            }
          }
          val chosen = initCols.filter(c => pats.exists(_.matcher(c).matches()))
          val grid = grid0.select(col("I").as("GI") +: col("J").as("GJ") +:
            col("K").as("GK") +: chosen.map(col): _*)
          GridOps.mergeInitVectors(base, grid,
            Seq("I" -> "GI", "J" -> "GJ", "K1" -> "GK"))
            .drop("GI", "GJ", "GK")
        }.getOrElse(base)
      case m => PathModules.get(m) match {
        case Some(fn) => fn(spark, positional(1))
        case None => Modules(m)(spark, deckTextOf(positional(1)))
      }
    }
    val df = if (flags.contains("dropconstants"))
      graft.core.Ops.dropConstantColumns(df0) else df0
    if (flags.contains("arrow") && positional.length < 3) {
      // falling through to the stdout collect would be the opposite of
      // what --arrow exists for (grid-sized columnar output)
      System.err.println("--arrow requires an output path")
      sys.exit(2)
    }
    if (flags.contains("arrow"))
      // columnar output (reference --arrow/res2arrow): parquet is this
      // engine's Arrow-compatible columnar sink (S12) — streamed through
      // the executors, no driver collect
      df.write.mode("overwrite").parquet(positional(2))
    else if (positional.length >= 3) writeCsvFile(df, positional(2))
    else {
      // stdout CSV matches the reference's write_dframe_stdout_file —
      // stdout output is terminal-sized by nature, so the collect is fine
      val rows = df.collect()
      val header = df.columns.mkString(",")
      val body = rows.map(_.toSeq.map {
        case null => ""
        case s: String if s.contains(",") => "\"" + s + "\""
        case v => v.toString
      }.mkString(",")).mkString("\n")
      print(header + "\n" + body + "\n")
    }
    spark.stop()
  }

  /** File output streams through the executors (`df.write.csv`) instead of
    * a driver collect: PathModules routes grid/UNRST-sized frames here, and
    * a 10⁸-cell grid CSV must not need a grid-sized driver heap.
    * `coalesce(1)` keeps the reference's single-file convention — one
    * writer task streams rows; only a row at a time is ever in memory.
    */
  private[graft] def writeCsvFile(df: DataFrame, outPath: String): Unit = {
    val target = Paths.get(outPath).toAbsolutePath
    val parent = Option(target.getParent).getOrElse(Paths.get("."))
    val tmp = Files.createTempDirectory(parent, ".res2csv_")
    try {
      df.coalesce(1).write
        .option("header", "true")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
        .mode("overwrite")
        .csv(tmp.toString)
      tmp.toFile.listFiles().find(_.getName.startsWith("part-")) match {
        case Some(part) =>
          Files.move(part.toPath, target,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        case None =>
          // a zero-partition frame writes no part file — header-only CSV,
          // matching what the collect path printed for empty frames
          // (quoted like Spark's CSV writer would)
          val header = df.columns.map { c =>
            if (c.exists(",\"\n".contains(_))) "\"" + c.replace("\"", "\"\"") + "\""
            else c
          }.mkString(",")
          Files.writeString(target, header + "\n")
      }
    } finally {
      // never leave a stray .res2csv_* dir next to the user's output; a
      // failed Spark write can leave a nested _temporary tree, so delete
      // deepest-first, and never let cleanup shadow the write's exception
      try {
        import scala.jdk.CollectionConverters._
        Files.walk(tmp).sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(Files.deleteIfExists(_))
      } catch { case scala.util.control.NonFatal(_) => () }
    }
  }
}
