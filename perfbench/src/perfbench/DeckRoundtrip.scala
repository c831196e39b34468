package perfbench

import java.nio.file.{Files, Path}
import java.time.LocalDate
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.cli.Res2Csv
import graft.io.DeckParser
import graft.modules.{Compdat, Pvt, Satfunc, Vfp, Wcon}
import graft.write.{IncludeWriter, SummaryWriter}

/** `deck_roundtrip`: a corpus of seeded schedule decks (WELSPECS, ranged
  * COMPDAT, WCONHIST over DATES, GRUPTREE with a re-parenting, a WLIST +
  * WELOPEN shut, and an INCLUDEd SWOF/PVTO/VFPPROD file). Fleet
  * extraction runs through the corpus readers; single decks go through
  * the res2csv module table and back out through the include and summary
  * writers. The deck parser, the module transforms and both writers do
  * the work; binary decode and scan pruning sit idle.
  */
object DeckRoundtrip extends Workload {
  val name = "deck_roundtrip"
  val tailPct = 0.5

  val Decks = 12
  val WellsPerDeck = 8
  val Groups = 3
  val ReportDates = 8
  val ShutDate = 4
  val ReparentDate = 5
  private val Year0 = 2020

  /** Everything the generator decided for one deck; the checks replay it. */
  final case class DeckSpec(d: Int, seed: Long) {
    private val rng = new java.util.SplittableRandom(seed * 1000003L + d)
    val wells: IndexedSeq[String] = (0 until WellsPerDeck).map(w => f"W$d%02d_$w")
    val group: IndexedSeq[Int] = wells.indices.map(_ => 1 + rng.nextInt(Groups))
    val head: IndexedSeq[(Int, Int)] = wells.indices.map(_ => (1 + rng.nextInt(20), 1 + rng.nextInt(20)))
    val defaultedIJ: IndexedSeq[Boolean] = wells.indices.map(_ => rng.nextBoolean())
    val k1: IndexedSeq[Int] = wells.indices.map(_ => 1 + rng.nextInt(3))
    val k2: IndexedSeq[Int] = k1.map(k => k + rng.nextInt(4))
    val shut: IndexedSeq[Int] = Gen.pick(rng, wells.indices, 2)
    val reparented: Int = 1 + rng.nextInt(Groups)
    val rate0: Int = rng.nextInt(400)
    val swofShift: Int = rng.nextInt(8)
    val vfpDatum: Int = 2000 + rng.nextInt(1000)
    def date(t: Int): LocalDate = LocalDate.of(Year0, 1 + t, 1)
    def orat(w: Int, t: Int): Double = rate0 + 10 * w + 5 * t + 0.25 * ((w + t) % 4)
    def wrat(w: Int, t: Int): Double = 2.0 * w + t + 0.5
    def grat(w: Int, t: Int): Double = 100.0 * (w + 1) + 3 * t
    def file: String = f"deck$d%02d.DATA"
    def props: String = f"props$d%02d.INC"
  }

  private val Mon = Seq("JAN", "FEB", "MAR", "APR", "MAY", "JUN", "JUL", "AUG", "SEP", "OCT", "NOV", "DEC")

  def deckText(s: DeckSpec): String = {
    val sb = new StringBuilder
    sb ++= s"-- generated deck ${s.d}\nINCLUDE\n '${s.props}' /\n\nGRUPTREE\n 'PLAT' 'FIELD' /\n"
    (1 to Groups).foreach(g => sb ++= s" 'G$g' 'PLAT' /\n")
    sb ++= "/\n"
    for (t <- 0 until ReportDates) {
      val d = s.date(t)
      sb ++= s"DATES\n ${d.getDayOfMonth} '${Mon(d.getMonthValue - 1)}' ${d.getYear} /\n/\n"
      if (t == 0) {
        sb ++= "WELSPECS\n"
        s.wells.indices.foreach { w =>
          sb ++= s" '${s.wells(w)}' 'G${s.group(w)}' ${s.head(w)._1} ${s.head(w)._2} 1* 'OIL' /\n"
        }
        sb ++= "/\nCOMPDAT\n"
        s.wells.indices.foreach { w =>
          val ij = if (s.defaultedIJ(w)) "2*" else s"${s.head(w)._1} ${s.head(w)._2}"
          sb ++= s" '${s.wells(w)}' $ij ${s.k1(w)} ${s.k2(w)} 'OPEN' /\n"
        }
        sb ++= "/\n"
      }
      if (t == ShutDate) {
        sb ++= s"WLIST\n '*SHUT' 'NEW' ${s.shut.map(w => s"'${s.wells(w)}'").mkString(" ")} /\n/\n"
        sb ++= "WELOPEN\n '*SHUT' 'SHUT' /\n/\n"
      }
      if (t == ReparentDate) sb ++= s"GRUPTREE\n 'G${s.reparented}' 'FIELD' /\n/\n"
      sb ++= "WCONHIST\n"
      s.wells.indices.foreach { w =>
        sb ++= s" '${s.wells(w)}' 'OPEN' 'ORAT' ${s.orat(w, t)} ${s.wrat(w, t)} ${s.grat(w, t)} /\n"
      }
      sb ++= "/\n"
    }
    sb.toString
  }

  def propsText(s: DeckSpec): String = {
    val sb = new StringBuilder("SWOF\n")
    for (table <- 0 until 2) {
      for (i <- 0 to 8)
        sb ++= s" ${i / 8.0} ${i * i / 64.0} ${(8 - i) * (8 - i) / 64.0} ${(8 - i + s.swofShift + table) / 4.0}\n"
      sb ++= "/\n"
    }
    sb ++= "PVTO\n"
    for (r <- 1 to 3) {
      val rs = 10 * r + s.swofShift
      sb ++= s"  $rs ${50 * r} ${1 + r / 8.0} ${0.5 + r / 16.0}\n"
      sb ++= s"     ${50 * r + 100} ${1 + r / 8.0 - 0.0625} ${0.5 + r / 16.0 + 0.125} /\n"
    }
    sb ++= "/\n"
    sb ++= s"VFPPROD\n 1 ${s.vfpDatum} 'LIQ' 'WCT' 'GOR' 'THP' ' ' 'METRIC' 'BHP' /\n 100 500 1000 /\n 50 100 /\n 0 0.5 /\n 900 /\n 0 /\n"
    for (w <- 1 to 2; t <- 1 to 2)
      sb ++= s" $t $w 1 1 ${s.vfpDatum / 10 + 10 * w + t} ${s.vfpDatum / 10 + 10 * w + t + 5} ${s.vfpDatum / 10 + 10 * w + t + 9} /\n"
    sb ++= "/\n"
    sb.toString
  }

  def setup(spark: SparkSession, dir: Path, seed: Long): Instance = {
    val specs = (0 until Decks).map(DeckSpec(_, seed))
    Gen.publish(dir) { tmp =>
      val decks = Files.createDirectories(tmp.resolve("decks"))
      specs.foreach { s =>
        Files.writeString(decks.resolve(s.file), deckText(s))
        Files.writeString(decks.resolve(s.props), propsText(s))
      }
      Files.createDirectories(tmp.resolve("written"))
    }
    new Decks(spark, dir, specs)
  }

  private val deckIdx = regexp_extract(col("deckId"), "deck([0-9]+)\\.DATA", 1).cast("int")
  private def day(r: Row, i: Int): LocalDate = r.getTimestamp(i).toLocalDateTime.toLocalDate

  /** The COMPDAT state rows the generator implies: every connection OPEN
    * at the first date, the WLIST wells' connections SHUT at the shut
    * date. */
  def expectedCompdat(s: DeckSpec): Seq[(String, Int, Int, Int, String, LocalDate)] =
    (for (w <- s.wells.indices; k <- s.k1(w) to s.k2(w)) yield {
      val open = (s.wells(w), s.head(w)._1, s.head(w)._2, k, "OPEN", s.date(0))
      if (s.shut.contains(w)) Seq(open, open.copy(_5 = "SHUT", _6 = s.date(ShutDate))) else Seq(open)
    }).flatten.sortBy(r => (r._1, r._6.toEpochDay, r._4))
  private def compdatRows(rows: Seq[Row], off: Int) = rows.map(r =>
    (r.getString(off), r.getInt(off + 1), r.getInt(off + 2), r.getInt(off + 3), r.getString(off + 4), day(r, off + 5)))
    .sortBy(r => (r._1, r._6.toEpochDay, r._4))

  def expectedWcon(s: DeckSpec): Seq[(LocalDate, String, Double, Double, Double)] =
    (for (t <- 0 until ReportDates; w <- s.wells.indices)
      yield (s.date(t), s.wells(w), s.orat(w, t), s.wrat(w, t), s.grat(w, t)))
      .sortBy(r => (r._1.toEpochDay, r._2))

  private def diff[A](what: String, got: Seq[A], want: Seq[A]): Option[String] =
    if (got == want) None
    else Some(s"$what: ${got.length} rows vs ${want.length} expected; first difference " +
      got.zipAll(want, null, null).find(p => p._1 != p._2).getOrElse(""))

  final class Decks(spark: SparkSession, dir: Path, specs: IndexedSeq[DeckSpec]) extends ClosedLoop(spark) {
    val warmPasses = 1
    private val deckDir = dir.resolve("decks")
    private val corpus = deckDir.resolve("*.DATA").toString
    private val corpusBytes = Gen.bytesUnder(deckDir)
    private val propsBytes = specs.map(s => Files.size(deckDir.resolve(s.props))).sum / specs.length
    private def text(s: DeckSpec) =
      DeckParser.expandIncludes(Files.readString(deckDir.resolve(s.file)), deckDir)
    // the single-deck ops walk the corpus, one deck per execution
    private val turn = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    private def next(op: String): DeckSpec = { val i = turn(op); turn(op) = i + 1; specs(i % specs.length) }

    val ops: Seq[Op] = Seq(
      Op("deck_compdat_corpus", corpusBytes, p => {
        val e = p.run(p.build(Compdat.corpusFromPath(spark, corpus)
          .select(deckIdx.as("d"), col("WELL"), col("I"), col("J"), col("K1"), col("OP/SH"), col("DATE"))))
        () => {
          val rows = e.rows().toSeq
          specs.iterator.map { s =>
            diff(s"compdat deck ${s.d}", compdatRows(rows.filter(_.getInt(0) == s.d), 1), expectedCompdat(s))
          }.collectFirst { case Some(e) => e }
        }
      }),
      Op("deck_df2res", propsBytes, p => {
        val s = next("deck_df2res")
        val Seq(sat, pvt, vfp) = p.build {
          val t = Files.readString(deckDir.resolve(s.props))
          Seq("satfunc", "pvt", "vfp").map(Res2Csv.Modules(_)(spark, t))
        }
        val out = dir.resolve("written").resolve(f"roundtrip${s.d}%02d.INC")
        val written = p.execute {
          val text = IncludeWriter.df2res(sat) + "\n" + IncludeWriter.df2res(pvt) + "\n" + IncludeWriter.vfpprod(vfp)
          Files.writeString(out, text)
          text
        }
        () => {
          def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
          def vfpKey(df: DataFrame) =
            rows(df.select("TABLE_NUMBER", "PRESSURE", "WFR", "GFR", "ALQ", "RATE", "TAB"))
          if (rows(Satfunc.df(spark, written)) != rows(sat)) Some(s"df2res SWOF round trip differs (deck ${s.d})")
          else if (rows(Pvt.df(spark, written)) != rows(pvt)) Some(s"df2res PVTO round trip differs (deck ${s.d})")
          else if (vfpKey(Vfp.df(spark, written)) != vfpKey(vfp)) Some(s"vfpprod round trip differs (deck ${s.d})")
          else None
        }
      }),
      Op("deck_unsmry_write", corpusBytes / specs.length, p => {
        val s = next("deck_unsmry_write")
        val long = p.build {
          val w = Wcon.df(spark, text(s))
          Seq("ORAT" -> "WOPRH", "WRAT" -> "WWPRH", "GRAT" -> "WGPRH").map { case (c, v) =>
            w.select(col("DATE"), concat(lit(s"$v:"), col("WELL")).as("VECTOR"), col(c).as("VALUE"))
          }.reduce(_ union _)
        }
        val base = dir.resolve("written").resolve(f"SUMMARY${s.d}%02d").toString
        p.execute(SummaryWriter.write(long, base))
        () => {
          val back = SummaryWriter.read(spark, base).select(col("DATE").cast("date"), col("VECTOR"), col("VALUE"))
            .collect().map(r => (r.getDate(0).toLocalDate, r.getString(1), r.getDouble(2))).toSeq
            .sortBy(r => (r._1.toEpochDay, r._2))
          val want = expectedWcon(s).flatMap { case (d, w, o, wr, g) =>
            Seq((d, s"WOPRH:$w", o), (d, s"WWPRH:$w", wr), (d, s"WGPRH:$w", g)) }
            .sortBy(r => (r._1.toEpochDay, r._2))
          diff(s"unsmry round trip deck ${s.d}", back, want)
        }
      }))

    override def opLayer(ts: Seq[OpTrace]): Map[String, Double] =
      ts.map(t => s"${t.op.name}.build_ms" ->
        t.spans.filter(_.name == "build").map(s => s.endMs - s.startMs).sum).toMap

    def calibrate(tr: Tracer): Map[String, Double] = {
      val texts = specs.map(text)
      val (kws, parseS) = tr.span("calibration", 0, "io.deck.parse") { _ =>
        val t0 = System.nanoTime()
        val n = texts.map(t => DeckParser.parse(t).map(_.keywordIdx).distinct.length).sum
        (n, (System.nanoTime() - t0) / 1e9)
      }
      val sat = Satfunc.df(spark, Files.readString(deckDir.resolve(specs(0).props))).localCheckpoint()
      val (bytes, writeS) = tr.span("calibration", 0, "write.include") { _ =>
        val t0 = System.nanoTime()
        val b = (1 to 5).map(_ => IncludeWriter.df2res(sat).length).sum
        (b, (System.nanoTime() - t0) / 1e9)
      }
      Map("io.deck.parse_kw_s" -> kws / parseS, "io.deck.keywords" -> kws.toDouble,
        "write.include_mb_s" -> bytes / 1e6 / writeS) ++
        EclCalibration.run(tr, dir.resolve("written"))
    }
  }
}
