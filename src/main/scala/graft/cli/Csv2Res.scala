package graft.cli

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.write.{IncludeWriter, SummaryWriter}

/** csv2res-style CLI (reference csv2res.py subcommands):
  *
  *  - `Csv2Res summary <in.csv> <out_basepath>` — a wide summary CSV
  *    (DATE + one column per vector mnemonic, Res2Csv `summary` parity)
  *    becomes binary `<out_basepath>.SMSPEC` + `.UNSMRY` through
  *    [[SummaryWriter]] (csv2res.py:43-50 / df2ressum).
  *  - `Csv2Res vfp <in.csv> [out.inc]` — a long-form VFPPROD table CSV
  *    becomes VFP include text (csv2res.py:70-80).
  *  - `Csv2Res equil|pvt|satfunc <in.csv> [out.inc] [--keywords A,B]` —
  *    the reference's typed reverse subcommands (csv2res.py:51-79): the
  *    module CSV routes through the df2res dispatcher with the module's
  *    region-consecutiveness check (EQLNUM/PVTNUM/SATNUM) and default
  *    output name (solution.inc / pvt.inc / relperm.inc; `-` = stdout).
  *  - `Csv2Res <KEYWORD> <in.csv> [out.inc]` — a tidy CSV becomes keyword
  *    include text via the generic fixed-width writer; a CSV carrying its
  *    own KEYWORD column routes through the df2res dispatcher. Round-trips
  *    with Res2Csv through the deck parser.
  */
object Csv2Res {

  /** subcommand → (region column to check consecutive, default output) —
    * reference equil.py:396/pvt.py:284,352/satfunc.py:193,266.
    */
  private val TypedSubcommands = Map(
    "EQUIL" -> ("EQLNUM", "solution.inc"),
    "PVT" -> ("PVTNUM", "pvt.inc"),
    "SATFUNC" -> ("SATNUM", "relperm.inc"))

  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println(
        "usage: Csv2Res <summary|vfp|equil|pvt|satfunc|KEYWORD> <in.csv> " +
          "[out.inc|out_basepath] [--keywords A,B]")
      sys.exit(2)
    }
    val spark = graft.GraftSession(sys.env.getOrElse("SPARK_MASTER", "local[4]"), "csv2res")
    // each branch reads the CSV itself — an eager shared inferSchema read
    // here would scan the input a second, wasted time for `summary`
    def readCsv() = spark.read.option("header", "true")
      .option("inferSchema", "true").csv(args(1))
    args(0).toUpperCase match {
      case "SUMMARY" =>
        if (args.length < 3) {
          System.err.println("usage: Csv2Res summary <in.csv> <out_basepath>")
          sys.exit(2)
        }
        summaryCsvToBinary(spark, args(1), args(2))
      case "VFP" =>
        val text = IncludeWriter.vfpprod(readCsv())
        if (args.length >= 3) Files.writeString(Paths.get(args(2)), text)
        else print(text)
      case m if TypedSubcommands.contains(m) =>
        val (regionCol, defaultOut) = TypedSubcommands(m)
        val (keywords, out) = parseTypedArgs(args.drop(2).toSeq, defaultOut)
        // a KEYWORD-column CSV (res2df module format) takes the typed route
        // with the module's region check; a plain table CSV keeps the
        // generic single-keyword route it had before these subcommands
        val df = readCsv()
        val text =
          if (df.columns.contains("KEYWORD")) typedCsvToInclude(df, regionCol, keywords)
          else IncludeWriter.genericDeckTable(df, m)
        if (out == "-") print(text)
        else Files.writeString(Paths.get(out), text)
      case kw =>
        // a CSV carrying its own KEYWORD column routes through the df2res
        // dispatcher (mixed keywords, table families); otherwise the named
        // keyword is written as one generic table
        val df = readCsv()
        val text =
          if (df.columns.contains("KEYWORD")) IncludeWriter.df2res(df)
          else IncludeWriter.genericDeckTable(df, kw)
        if (args.length >= 3) Files.writeString(Paths.get(args(2)), text)
        else print(text)
    }
    spark.stop()
  }

  /** Typed-subcommand argument split: `--keywords A,B` (and its value) out,
    * first remaining non-flag token is the output path. `kwIdx + 1 == 0`
    * when the flag is absent — guard on `kwIdx >= 0` so a flagless
    * `equil in.csv out.inc` doesn't lose its output path to the default.
    */
  private[graft] def parseTypedArgs(rest: Seq[String],
      defaultOut: String): (Option[Seq[String]], String) = {
    val kwIdx = rest.indexOf("--keywords")
    val keywords =
      if (kwIdx >= 0 && kwIdx + 1 < rest.size)
        Some(rest(kwIdx + 1).split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      else None
    val out = rest.zipWithIndex
      .filterNot { case (_, i) => kwIdx >= 0 && (i == kwIdx || i == kwIdx + 1) }
      .map(_._1).find(!_.startsWith("--")).getOrElse(defaultOut)
    (keywords, out)
  }

  /** Typed reverse subcommand core (equil/pvt/satfunc reverse mains,
    * equil.py:351-359 and siblings): the module CSV (KEYWORD column in
    * res2df format) through the df2res dispatcher with an optional
    * keyword filter and the module's region-consecutiveness check.
    * Testable without the filesystem.
    */
  def typedCsvToInclude(df: org.apache.spark.sql.DataFrame, regionCol: String,
      keywords: Option[Seq[String]]): String = {
    require(df.columns.contains("KEYWORD"),
      s"typed csv2res subcommand needs a KEYWORD column, got ${df.columns.mkString(",")}")
    IncludeWriter.df2res(df, keywords = keywords, consecutive = Some(regionCol))
  }

  /** Wide summary CSV (DATE + one column per vector mnemonic) → binary
    * `basePath.{SMSPEC,UNSMRY}`: melt to the long frame and hand it to
    * [[SummaryWriter.write]]. TIME never appears in the wide form — the
    * writer re-derives it as param 0 from the dates. Returns the PARAMS
    * vector order. Testable core of the `summary` subcommand.
    */
  def summaryCsvToBinary(spark: SparkSession, inCsv: String,
      basePath: String): Seq[String] = {
    val df = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(inCsv)
    val vecCols = df.columns.filterNot(_ == "DATE")
    // Dataset.unpivot (unlike SQL UNPIVOT) KEEPS null value cells —
    // EMPTY cells take the dense 0.0 default (so a fully-empty row still
    // contributes its report step; a filter would silently shift the
    // time axis), but a NON-empty cell that fails the double cast is a
    // malformed input ("N/A", "1,250.5") that must fail loudly, not be
    // fabricated into 0.0
    // Same loud-failure rule for DATE — missing OR unparseable (under ANSI a
    // plain cast would throw Spark's own row-less error mid-plan, and a null
    // date would NPE inside SummaryWriter). Both probes ride ONE pass over
    // the unpivoted frame: the raw DATE string travels as a second id
    // column, so validation costs one job, not two.
    val long = df.unpivot(
      Array(col("DATE").cast("string").as("__raw"),
        expr("try_cast(DATE AS DATE)").as("DATE")),
      vecCols.map(col), "VECTOR", "VALUE")
      .withColumn("__cast", expr("try_cast(VALUE AS DOUBLE)"))
    val bad = long.filter(col("DATE").isNull ||
        (col("VALUE").isNotNull && col("__cast").isNull))
      .limit(1).collect()
    bad.headOption.foreach { r =>
      val msg =
        if (r.isNullAt(r.fieldIndex("DATE")))
          s"csv2res summary: unparseable or missing DATE '${r.getAs[String]("__raw")}'"
        else
          s"csv2res summary: unparseable value '${r.getAs[Any]("VALUE")}' " +
            s"for ${r.getAs[String]("VECTOR")}"
      throw new IllegalArgumentException(msg)
    }
    SummaryWriter.write(
      long.withColumn("VALUE", coalesce(col("__cast"), lit(0.0)))
        .drop("__cast", "__raw"),
      basePath)
  }
}
