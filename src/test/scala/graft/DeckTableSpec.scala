package graft

import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.graftshim.ListenerBusDrain
import graft.core.Ops
import graft.io.{DeckParser, Records => R}
import graft.modules.{Equil, Pvt, Satfunc, Vfp, VfpDefs}
import graft.write.IncludeWriter

/** The deck-text table modules as DataFrame chains over the parsed deck:
  * windows for the counters and the interpolation, joins for the VFP axis
  * lookup, one probe job per part. The modules build the same relations
  * on the driver; these chains are their referee.
  */
object DeckTableReferee {

  def satfunc(spark: SparkSession, deckText: String, ntsfun: Option[Int] = None): DataFrame = {
    val events = DeckParser.toDS(spark, deckText).toDF()
    val present = Satfunc.Families.keys.toSeq.sorted
      .map(k => (k, satfuncKeyword(events, k, ntsfun)))
      .filter { case (_, d) => !d.isEmpty }
      .map { case (k, d) =>
        val names = Satfunc.Families(k)
        names.tail.foldLeft(d)((d, c) => Ops.interpolateByIndex(d, c, names.head, Seq("SATNUM")))
      }
    present.reduceOption((a, b) => a.unionByName(b, allowMissingColumns = true))
      .getOrElse(spark.emptyDataFrame)
  }

  private def satfuncKeyword(events: DataFrame, keyword: String, ntsfun: Option[Int]): DataFrame = {
    val names = Satfunc.Families(keyword)
    val base = chunks(events, keyword, names)
    val numbered = ntsfun match {
      case None => base.withColumn("SATNUM", (col("recordIdx") + 1).cast("int"))
      case Some(n) => monotonicTableSplit(base, names.head, "SATNUM", n, keyword)
    }
    numbered.select(Seq(lit(keyword).as("KEYWORD"), col("SATNUM")) ++ names.map(col): _*)
  }

  private def chunks(events: DataFrame, keyword: String, names: Seq[String]): DataFrame =
    events.filter(col("keyword") === keyword && size(col("items")) > 0)
      .select(col("keywordIdx"), col("recordIdx"), explode(R.dataChunks(names)).as("row"))
      .select(Seq(col("keywordIdx"), col("recordIdx"), col("row.row_idx").as("rowIdx")) ++
        names.map(n => col(s"row.$n").as(n)): _*)

  private def monotonicTableSplit(df: DataFrame, sortCol: String, outCol: String,
      expected: Int, keyword: String): DataFrame = {
    val sat = col(sortCol)
    val byRow = Window.partitionBy(col("keywordIdx"), col("recordIdx")).orderBy(col("rowIdx"))
    val cum = byRow.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val split = df
      .withColumn("__newTab", when(sat < lag(sat, 1).over(byRow), 1).otherwise(0))
      .withColumn("__tabInRec", sum(col("__newTab")).over(cum))
    val byTab = Window.partitionBy(col("keywordIdx")).orderBy(col("recordIdx"), col("__tabInRec"))
    val out = split.withColumn(outCol, dense_rank().over(byTab)).drop("__newTab", "__tabInRec")
    out.groupBy(col("keywordIdx")).agg(max(col(outCol)).as("got")).collect()
      .map(r => (r.getInt(0), r.getInt(1))).sorted.foreach { case (kwIdx, got) =>
        require(got == expected,
          s"$keyword (keywordIdx=$kwIdx): explicit table count $expected given " +
            s"but the deck's monotonicity boundaries yield $got tables")
      }
    out
  }

  def pvt(spark: SparkSession, deckText: String, ntpvt: Option[Int] = None): DataFrame = {
    val events = DeckParser.toDS(spark, deckText).toDF()
    def counted(kw: String, cols: org.apache.spark.sql.Column*) =
      events.filter(col("keyword") === kw && size(col("items")) > 0)
        .select(Seq(lit(kw).as("KEYWORD"), (col("recordIdx") + 1).as("PVTNUM")) ++ cols: _*)
    val dead = Seq("PRESSURE", "VOLUMEFACTOR", "VISCOSITY")
    def data(kw: String) = {
      val base = chunks(events, kw, dead)
      val numbered = ntpvt match {
        case None => base.withColumn("PVTNUM", (col("recordIdx") + 1).cast("int"))
        case Some(n) => monotonicTableSplit(base, "PRESSURE", "PVTNUM", n, kw)
      }
      numbered.select(Seq(lit(kw).as("KEYWORD"), col("PVTNUM")) ++ dead.map(col): _*)
    }
    def nested(kw: String, headCol: String, triple: Seq[String]) = {
      val w = Window.partitionBy(col("keywordIdx")).orderBy(col("recordIdx"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val empty = when(size(col("items")) === 0, 1).otherwise(0)
      events.filter(col("keyword") === kw)
        .withColumn("PVTNUM", (sum(empty).over(w) - empty + 1).cast("int"))
        .filter(size(col("items")) > 0)
        .select(lit(kw).as("KEYWORD"), col("PVTNUM"), R.dbl(0).as(headCol),
          explode(transform(
            sequence(lit(0), ((size(col("items")) - 1) / 3).cast("int") - 1),
            r => struct(
              get(col("items"), r * 3 + 1).cast("double").as(triple(0)),
              get(col("items"), r * 3 + 2).cast("double").as(triple(1)),
              get(col("items"), r * 3 + 3).cast("double").as(triple(2))))).as("row"))
        .select(Seq(col("KEYWORD"), col("PVTNUM"), col(headCol)) ++
          triple.map(t => col(s"row.$t").as(t)): _*)
    }
    val parts = Seq(
      counted("DENSITY", R.dbl(0).as("OILDENSITY"), R.dbl(1).as("WATERDENSITY"),
        R.dbl(2).as("GASDENSITY")),
      counted("ROCK", R.dbl(0).as("PRESSURE"), R.dbl(1).as("COMPRESSIBILITY")),
      counted("PVTW", R.dbl(0).as("PRESSURE"), R.dbl(1).as("VOLUMEFACTOR"),
        R.dbl(2, 0.0).as("COMPRESSIBILITY"), R.dbl(3, 0.0).as("VISCOSITY"),
        R.dbl(4, 0.0).as("VISCOSIBILITY")),
      data("PVDO"), data("PVDG"),
      nested("PVTO", "RS", dead), nested("PVTG", "PRESSURE", Seq("OGR", "VOLUMEFACTOR", "VISCOSITY")))
      .filter(d => !d.isEmpty)
    parts.reduceOption((a, b) => a.unionByName(b, allowMissingColumns = true))
      .getOrElse(spark.emptyDataFrame)
  }

  private val EquilSub = Map("RSVD" -> "RS", "RVVD" -> "RV", "PBVD" -> "PB", "PDVD" -> "PD")

  def equil(spark: SparkSession, deckText: String): DataFrame = {
    val events = DeckParser.toDS(spark, deckText).toDF()
    val ph0 = events.filter(col("keyword").isin("OIL", "WATER", "GAS"))
      .select("keyword").distinct().collect().map(_.getString(0)).toSet
    val ph = if (ph0.isEmpty) Set("OIL", "WATER", "GAS") else ph0
    val (oil, water, gas) = (ph contains "OIL", ph contains "WATER", ph contains "GAS")
    val contact1 = if (oil && water) Some("OWC") else if (gas && water) Some("GWC") else None
    val contact2 = if (oil && gas) Some("GOC") else None
    val eq = events.filter(col("keyword") === "EQUIL" && size(col("items")) > 0)
      .select(Seq((col("recordIdx") + 1).as("EQLNUM"), lit("EQUIL").as("KEYWORD"),
        R.dbl(0).as("Z"), R.dbl(1).as("PRESSURE")) ++
        contact1.toSeq.flatMap(n => Seq(R.dbl(2, 0.0).as(n), R.dbl(3, 0.0).as(s"PC$n"))) ++
        contact2.toSeq.flatMap(n => Seq(R.dbl(4, 0.0).as(n), R.dbl(5, 0.0).as(s"PC$n"))) ++
        Seq(R.int(6).as("INITRS"), R.int(7).as("INITRV"), R.int(8).as("ACCURACY")): _*)
    val subs = EquilSub.keys.toSeq.sorted.map { kw =>
      events.filter(col("keyword") === kw && size(col("items")) > 0)
        .select((col("recordIdx") + 1).as("EQLNUM"), lit(kw).as("KEYWORD"),
          explode(R.dataChunks(Seq("Z", EquilSub(kw)))).as("row"))
        .select(col("EQLNUM"), col("KEYWORD"), col("row.Z").as("Z"),
          col(s"row.${EquilSub(kw)}").as(EquilSub(kw)))
    }
    (eq +: subs).filter(d => !d.isEmpty)
      .reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
      .orderBy(col("EQLNUM"), col("KEYWORD"))
  }

  private def darr = (c: org.apache.spark.sql.Column) => transform(c, x => x.cast("double"))

  private def vfpprod(events: DataFrame, tablenumbers: Seq[Int]): DataFrame = {
    val vfp = events.filter(col("keyword") === "VFPPROD" && size(col("items")) > 0)
    val basic0 = vfp.filter(col("recordIdx") === 0)
      .select(col("keywordIdx"), R.int(0).as("TABLE_NUMBER"), R.dbl(1).as("DATUM"),
        R.str(2).as("RATE_TYPE"), R.str(3).as("WFR_TYPE"), R.str(4).as("GFR_TYPE"),
        R.str(5, "THP").as("PRESSURE_TYPE"),
        coalesce(nullif(R.str(6), lit("")), lit("''")).as("ALQ_TYPE"),
        R.str(7, "DEFAULT").as("UNIT_TYPE"), R.str(8, "BHP").as("TAB_TYPE"))
    val basic = if (tablenumbers.isEmpty) basic0
      else basic0.filter(col("TABLE_NUMBER").isin(tablenumbers: _*))
    val axes = vfp.filter(col("recordIdx").between(1, 5))
      .groupBy(col("keywordIdx"))
      .agg(
        max(when(col("recordIdx") === 1, darr(col("items")))).as("flowArr"),
        max(when(col("recordIdx") === 2, darr(col("items")))).as("thpArr"),
        max(when(col("recordIdx") === 3, darr(col("items")))).as("wfrArr"),
        max(when(col("recordIdx") === 4, darr(col("items")))).as("gfrArr"),
        max(when(col("recordIdx") === 5, darr(col("items")))).as("alqArr"))
    vfp.filter(col("recordIdx") >= 6)
      .select(col("keywordIdx"), col("recordIdx"),
        R.int(0).as("THP_IDX"), R.int(1).as("WFR_IDX"),
        R.int(2).as("GFR_IDX"), R.int(3).as("ALQ_IDX"),
        darr(slice(col("items"), lit(5), lit(1000000))).as("tabRow"))
      .join(axes, Seq("keywordIdx"))
      .join(basic, Seq("keywordIdx"))
      .select(col("TABLE_NUMBER"), col("DATUM"), col("RATE_TYPE"), col("WFR_TYPE"),
        col("GFR_TYPE"), col("PRESSURE_TYPE"), col("ALQ_TYPE"), col("UNIT_TYPE"), col("TAB_TYPE"),
        element_at(col("thpArr"), col("THP_IDX")).as("PRESSURE"),
        element_at(col("wfrArr"), col("WFR_IDX")).as("WFR"),
        element_at(col("gfrArr"), col("GFR_IDX")).as("GFR"),
        element_at(col("alqArr"), col("ALQ_IDX")).as("ALQ"),
        explode(arrays_zip(col("flowArr"), col("tabRow"))).as("z"))
      .select(col("z.flowArr").as("RATE"), col("PRESSURE"), col("WFR"), col("GFR"),
        col("ALQ"), col("z.tabRow").as("TAB"), lit("VFPPROD").as("VFP_TYPE"),
        col("TABLE_NUMBER"), col("DATUM"), col("RATE_TYPE"), col("WFR_TYPE"),
        col("GFR_TYPE"), col("ALQ_TYPE"), col("PRESSURE_TYPE"), col("TAB_TYPE"),
        col("UNIT_TYPE"))
      .orderBy(col("TABLE_NUMBER"), col("PRESSURE"), col("WFR"), col("GFR"),
        col("ALQ"), col("RATE"))
  }

  private def vfpinj(events: DataFrame, tablenumbers: Seq[Int]): DataFrame = {
    val vfp = events.filter(col("keyword") === "VFPINJ" && size(col("items")) > 0)
    val basic0 = vfp.filter(col("recordIdx") === 0)
      .select(col("keywordIdx"), R.int(0).as("TABLE_NUMBER"), R.dbl(1).as("DATUM"),
        R.str(2).as("RATE_TYPE"), R.str(3, "THP").as("PRESSURE_TYPE"),
        R.str(4, "DEFAULT").as("UNIT_TYPE"), R.str(5, "BHP").as("TAB_TYPE"))
    val basic = if (tablenumbers.isEmpty) basic0
      else basic0.filter(col("TABLE_NUMBER").isin(tablenumbers: _*))
    val axes = vfp.filter(col("recordIdx").between(1, 2))
      .groupBy(col("keywordIdx"))
      .agg(
        max(when(col("recordIdx") === 1, darr(col("items")))).as("flowArr"),
        max(when(col("recordIdx") === 2, darr(col("items")))).as("thpArr"))
    vfp.filter(col("recordIdx") >= 3)
      .select(col("keywordIdx"), R.int(0).as("THP_IDX"),
        darr(slice(col("items"), lit(2), lit(1000000))).as("tabRow"))
      .join(axes, Seq("keywordIdx"))
      .join(basic, Seq("keywordIdx"))
      .select(col("TABLE_NUMBER"), col("DATUM"), col("RATE_TYPE"), col("UNIT_TYPE"),
        col("TAB_TYPE"), col("PRESSURE_TYPE"),
        element_at(col("thpArr"), col("THP_IDX")).as("PRESSURE"),
        explode(arrays_zip(col("flowArr"), col("tabRow"))).as("z"))
      .select(col("z.flowArr").as("RATE"), col("PRESSURE"),
        col("z.tabRow").as("TAB"), lit("VFPINJ").as("VFP_TYPE"),
        col("TABLE_NUMBER"), col("DATUM"), col("RATE_TYPE"),
        col("PRESSURE_TYPE"), col("TAB_TYPE"), col("UNIT_TYPE"))
      .orderBy(col("TABLE_NUMBER"), col("PRESSURE"), col("RATE"))
  }

  def vfp(spark: SparkSession, deckText: String, tablenumbers: Seq[Int] = Nil,
      units: Boolean = false): DataFrame = {
    val events = DeckParser.toDS(spark, deckText).toDF()
    val prod = vfpprod(events, tablenumbers)
    val inj = vfpinj(events, tablenumbers)
    val out =
      if (inj.isEmpty) prod
      else if (prod.isEmpty) inj
      else prod.unionByName(inj, allowMissingColumns = true)
    if (units) VfpDefs.withUnits(out) else out
  }
}

/** Seeded random props decks: every table keyword the four modules read,
  * with `1*` gaps inside and at the edges of tables, several tables per
  * keyword, short and over-long records, PVTO/PVTG regions closed by
  * empty records, VFPPROD/VFPINJ tables with sparse points and ragged BHP
  * rows, and EQUIL under a random phase declaration. Saturation and
  * pressure columns strictly increase within a table.
  */
object PropsDecks {
  private final class Gen(seed: Long) {
    val r = new scala.util.Random(seed)
    def chance(p: Double): Boolean = r.nextDouble() < p
    def pick[A](xs: Seq[A]): A = xs(r.nextInt(xs.length))
    def num(scale: Int = 16): String = s"${r.nextInt(4 * scale) / scale.toDouble}"
    def maybe(v: String, p: Double = 0.2): String = if (chance(p)) "1*" else v
    /** `n` strictly increasing values from `from`. */
    def rising(n: Int, from: Double): Seq[Double] =
      Seq.iterate(from, n)(_ + (1 + r.nextInt(4)) / 16.0)
    /** `from` moved up by 0, 1/8 or 1/4. */
    def near(from: Double): Double = from + r.nextInt(3) / 8.0
  }

  /** One table's rows: a rising leading column, the rest values or gaps. */
  private def table(g: Gen, dim: Int, rows: Int, from: Double): Seq[String] =
    g.rising(rows, from).map(x => (s"$x" +: Seq.fill(dim - 1)(g.maybe(g.num(), 0.3))).mkString(" "))

  private def satfunc(g: Gen, sb: StringBuilder): Unit =
    Satfunc.Families.toSeq.sortBy(_._1).foreach { case (kw, names) =>
      if (g.chance(0.5)) {
        sb ++= s"$kw\n"
        for (_ <- 0 until 1 + g.r.nextInt(3)) {
          val lines = table(g, names.size, 1 + g.r.nextInt(6), g.near(0.0))
          // a short record (fewer items than one row) or a trailing partial row
          val tail = if (g.chance(0.1)) " 0.5" else ""
          if (g.chance(0.05)) sb ++= s" ${g.num()} /\n"
          else sb ++= lines.map(" " + _).mkString("\n") + s"$tail /\n"
        }
        sb ++= "/\n"
      }
    }

  private def pvt(g: Gen, sb: StringBuilder): Unit = {
    def counted(kw: String, items: Int) = if (g.chance(0.6)) {
      sb ++= s"$kw\n"
      for (_ <- 0 until 1 + g.r.nextInt(3))
        sb ++= " " + Seq.fill(1 + g.r.nextInt(items))(g.maybe(g.num())).mkString(" ") + " /\n"
      sb ++= "/\n"
    }
    counted("DENSITY", 3)
    counted("ROCK", 2)
    counted("PVTW", 5)
    for (kw <- Seq("PVDO", "PVDG") if g.chance(0.5)) {
      sb ++= s"$kw\n"
      for (_ <- 0 until 1 + g.r.nextInt(3))
        sb ++= table(g, 3, 1 + g.r.nextInt(4), g.near(50)).map(" " + _).mkString("\n") + " /\n"
      sb ++= "/\n"
    }
    for (kw <- Seq("PVTO", "PVTG") if g.chance(0.6)) {
      sb ++= s"$kw\n"
      for (region <- 0 until 1 + g.r.nextInt(3)) {
        for (head <- g.rising(1 + g.r.nextInt(3), g.near(10.0 * region))) {
          val lines = Seq.fill(g.r.nextInt(3))(Seq.fill(3)(g.num()).mkString(" "))
          // a head-only record, a full line set, or a ragged last triple
          val ragged = if (g.chance(0.1)) s" ${g.num()}" else ""
          sb ++= s"  $head ${lines.mkString("\n     ")}$ragged /\n"
        }
        sb ++= "/\n"
      }
    }
  }

  private def vfp(g: Gen, sb: StringBuilder): Seq[Int] = {
    val numbers = g.r.shuffle((1 to 9).toList).take(1 + g.r.nextInt(4))
    numbers.foreach { n =>
      val inj = g.chance(0.35)
      val axes = (if (inj) Seq(1 + g.r.nextInt(4), 1 + g.r.nextInt(3))
        else Seq(1 + g.r.nextInt(4), 1 + g.r.nextInt(3), 1 + g.r.nextInt(2), 1 + g.r.nextInt(2),
          1 + g.r.nextInt(2))).map(k => g.rising(k, g.near(g.r.nextInt(100).toDouble)))
      val units = g.pick(Seq("'METRIC'", "'FIELD'", "1*", "'LAB'"))
      if (inj)
        sb ++= s"VFPINJ\n $n ${g.num()} '${g.pick(Seq("WAT", "GAS", "OIL"))}' 'THP' $units 'BHP' /\n"
      else
        sb ++= s"VFPPROD\n $n ${g.num()} '${g.pick(Seq("LIQ", "OIL", "GAS"))}' 'WCT' 'GOR' 'THP' " +
          s"${g.pick(Seq("''", "' '", "'GRAT'", "1*"))} $units 'BHP' /\n"
      axes.foreach(a => sb ++= " " + a.mkString(" ") + " /\n")
      val points = axes.tail.map(a => (1 to a.length).toList)
        .foldLeft(List(List.empty[Int]))((acc, ix) => for (p <- acc; i <- ix) yield p :+ i)
      points.filter(_ => g.chance(0.8)).foreach { p =>
        val bhp = Seq.fill(axes.head.length + g.pick(Seq(0, 0, 0, -1, 1)).max(1 - axes.head.length))(
          s"${100 + g.r.nextInt(900)}.${g.r.nextInt(4) * 25}")
        sb ++= " " + (p.map(_.toString) ++ bhp).mkString(" ") + " /\n"
      }
      sb ++= "/\n"
    }
    numbers
  }

  private def equil(g: Gen, sb: StringBuilder): Unit = {
    sb ++= g.r.shuffle(List("OIL", "WATER", "GAS")).take(g.r.nextInt(4)).map(_ + "\n").mkString
    sb ++= "EQUIL\n"
    for (_ <- 0 until 1 + g.r.nextInt(3))
      sb ++= " " + Seq.fill(1 + g.r.nextInt(9))(g.maybe(s"${1 + g.r.nextInt(3000)}")).mkString(" ") + " /\n"
    sb ++= "/\n"
    for (kw <- Seq("RSVD", "RVVD", "PBVD", "PDVD") if g.chance(0.5)) {
      sb ++= s"$kw\n"
      for (_ <- 0 until 1 + g.r.nextInt(3))
        sb ++= table(g, 2, 1 + g.r.nextInt(3), g.near(1000)).map(" " + _).mkString("\n") + " /\n"
      sb ++= "/\n"
    }
  }

  /** A random props deck and the VFP table numbers it declares. */
  def deck(seed: Long): (String, Seq[Int]) = {
    val g = new Gen(seed)
    val sb = new StringBuilder
    satfunc(g, sb)
    pvt(g, sb)
    val numbers = vfp(g, sb)
    equil(g, sb)
    (sb.toString, numbers)
  }

  /** A deck whose every saturation family and dead-oil/dry-gas keyword
    * holds `tables` tables spread over at most as many records: a record
    * concatenates tables of two or more rows, each starting at 0, below
    * where the last one ended.
    */
  def splitDeck(seed: Long, tables: Int): String = {
    val g = new Gen(seed)
    val sb = new StringBuilder
    def keyword(kw: String, dim: Int): Unit = {
      sb ++= s"$kw\n"
      val cuts = (g.r.shuffle((1 until tables).toList).take(g.r.nextInt(tables)) :+ tables).sorted
      (0 +: cuts).zip(cuts).foreach { case (a, b) =>
        sb ++= (a until b).flatMap(_ => table(g, dim, 2 + g.r.nextInt(3), 0.0)).map(" " + _).mkString("\n") +
          " /\n"
      }
      sb ++= "/\n"
    }
    Satfunc.Families.toSeq.sortBy(_._1).foreach { case (kw, names) =>
      if (kw != "SWOF" && g.chance(0.5)) keyword(kw, names.size)
    }
    keyword("SWOF", 4)
    Seq("PVDO", "PVDG").foreach(keyword(_, 3))
    sb.toString
  }
}

class DeckTableSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def same(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.schema == want.schema, s"$what schema")
    def bag(df: DataFrame) = df.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    assert(bag(got) == bag(want), s"$what rows")
  }

  private val Seeds = 0L until 40L

  test("random props decks: satfunc, pvt, vfp and equil equal the DataFrame chains") {
    Seeds.foreach { seed =>
      val (deck, numbers) = PropsDecks.deck(seed)
      same(Satfunc.df(spark, deck), DeckTableReferee.satfunc(spark, deck), s"satfunc seed $seed")
      same(Pvt.df(spark, deck), DeckTableReferee.pvt(spark, deck), s"pvt seed $seed")
      same(Equil.df(spark, deck), DeckTableReferee.equil(spark, deck), s"equil seed $seed")
      same(Vfp.df(spark, deck), DeckTableReferee.vfp(spark, deck), s"vfp seed $seed")
      val some = numbers.filter(_ => seed % 2 == 0).take(2) :+ 11
      same(Vfp.df(spark, deck, some, units = true), DeckTableReferee.vfp(spark, deck, some, units = true),
        s"vfp tablenumbers $some units seed $seed")
    }
  }

  test("random decks cover the cases the referee is meant to see") {
    val decks = Seeds.map(s => PropsDecks.deck(s)._1)
    def parsed(d: String) = DeckParser.parse(d)
    val events = decks.map(parsed)
    assert(events.exists(_.exists(e => Satfunc.Families.contains(e.keyword) &&
      e.items.drop(1).contains("1*"))), "1* gaps")
    assert(events.exists(_.exists(e => e.keyword == "SWOF" && e.recordIdx >= 2)), "several tables")
    assert(events.exists(_.exists(e => e.keyword == "PVTO" && e.items.isEmpty && e.recordIdx > 1)),
      "PVTO region terminators")
    assert(events.exists(_.exists(e => e.keyword == "PVTG")))
    assert(events.exists(_.exists(_.keyword == "VFPINJ")) && events.exists(_.exists(_.keyword == "VFPPROD")))
    val phaseSets = events.map(_.map(_.keyword).filter(Set("OIL", "WATER", "GAS")).toSet).toSet
    assert(phaseSets.size == 8, s"phase sets seen: $phaseSets")
  }

  test("explicit table counts split like the DataFrame chains, and refuse a wrong count alike") {
    (0L until 12L).foreach { seed =>
      val n = 1 + (seed % 4).toInt
      val deck = PropsDecks.splitDeck(seed, n)
      same(Satfunc.df(spark, deck, Some(n)), DeckTableReferee.satfunc(spark, deck, Some(n)),
        s"satfunc ntsfun=$n seed $seed")
      same(Pvt.df(spark, deck, Some(n)), DeckTableReferee.pvt(spark, deck, Some(n)),
        s"pvt ntpvt=$n seed $seed")
      val e = intercept[IllegalArgumentException](Satfunc.df(spark, deck, Some(n + 1)))
      val ref = intercept[IllegalArgumentException](DeckTableReferee.satfunc(spark, deck, Some(n + 1)))
      assert(e.getMessage == ref.getMessage)
      val pe = intercept[IllegalArgumentException](Pvt.df(spark, deck, Some(n + 1)))
      val pref = intercept[IllegalArgumentException](DeckTableReferee.pvt(spark, deck, Some(n + 1)))
      assert(pe.getMessage == pref.getMessage)
    }
  }

  test("EQUIL contact columns follow each phase set as the DataFrame chain names them") {
    val body = "EQUIL\n 2000 200 2100 0.5 1700 0.25 1 2 20 /\n 2001 201 1* /\n/\nRSVD\n 1500 10 1800 20 /\n/\n"
    for (k <- 0 until 8) {
      val phases = Seq("OIL", "WATER", "GAS").zipWithIndex.collect { case (p, i) if (k >> i & 1) == 1 => p }
      val deck = phases.map(_ + "\n").mkString + body
      same(Equil.df(spark, deck), DeckTableReferee.equil(spark, deck), s"equil phases $phases")
    }
  }

  private final class JobCount extends SparkListener {
    val jobs = new AtomicInteger
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  }

  /** Jobs started by `body`, the listener bus drained at both edges. */
  private def jobsIn[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val count = new JobCount
    ListenerBusDrain.drain(sc)
    sc.addSparkListener(count)
    try {
      val out = body
      ListenerBusDrain.drain(sc)
      (out, count.jobs.get)
    } finally sc.removeSparkListener(count)
  }

  test("a props deck's tables and their include text run no Spark job") {
    val deck =
      """OIL
        |WATER
        |SWOF
        | 0 0 1 0
        | 0.5 1* 1* 0
        | 1 1 0 0 /
        |/
        |PVTO
        | 10 100 1.1 0.5
        |    200 1.05 0.6 /
        |/
        | 20 150 1.2 0.4 /
        |/
        |DENSITY
        | 800 1000 1 /
        |/
        |VFPPROD
        | 12 2000 'LIQ' 'WCT' 'GOR' 'THP' '' 'METRIC' 'BHP' /
        | 100 200 /
        | 50 /
        | 0 /
        | 900 /
        | 0 /
        | 1 1 1 1 210 220 /
        |/
        |VFPINJ
        | 3 2000 'WAT' 'THP' 'METRIC' 'BHP' /
        | 100 200 /
        | 10 /
        | 1 1100 1220 /
        |/
        |EQUIL
        | 2000 200 2100 0.5 /
        |/
        |RSVD
        | 1500 10 1800 20 /
        |/
        |""".stripMargin
    val (frames, buildJobs) = jobsIn(Seq(Satfunc.df(spark, deck), Pvt.df(spark, deck),
      Vfp.df(spark, deck), Vfp.df(spark, deck, units = true), Equil.df(spark, deck)))
    assert(buildJobs == 0)
    frames.foreach(df => assert(df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      df.queryExecution.optimizedPlan.treeString))
    val Seq(sat, pvt, vfp, _, eq) = frames
    assert(Seq(sat, pvt, vfp, eq).forall(_.count() > 0))
    val (text, writeJobs) = jobsIn(Seq(IncludeWriter.df2res(sat), IncludeWriter.df2res(pvt),
      IncludeWriter.df2res(eq), IncludeWriter.vfpprod(vfp.filter(col("VFP_TYPE") === "VFPPROD"))))
    assert(writeJobs == 0)
    assert(text.forall(_.nonEmpty))
  }
}
