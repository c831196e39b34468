package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.io.DeckParser
import graft.modules.{Compdat, Schedule, Wcon}

/** Seeded random schedule decks: every keyword the deck walks read, in
  * random order and amounts, with defaulted items, shared coordinates,
  * lists, lumps, templates and fractional time steps. Two WELSPECS
  * records never name the same well within one keyword.
  */
object ScheduleDecks {
  private val Wells = Vector("OP1", "OP2", "OPX", "WI1", "WI2")
  private val Months = Vector("JAN", "FEB", "MAR", "APR", "MAY", "JUN", "JLY", "AUG", "SEP", "OCT", "NOV", "DEC")

  def deck(seed: Long): String = {
    val r = new scala.util.Random(seed)
    def pick[A](xs: Seq[A]): A = xs(r.nextInt(xs.length))
    def well = s"'${pick(Wells)}'"
    def ij = if (r.nextInt(4) == 0) pick(Seq("2*", "0 0", "1* 2")) else s"${1 + r.nextInt(3)} ${1 + r.nextInt(3)}"
    def k = 1 + r.nextInt(4)
    val sb = new StringBuilder
    def kw(name: String, recs: Seq[String]): Unit = {
      sb ++= s"$name\n"
      recs.foreach(x => sb ++= s" $x /\n")
      sb ++= "/\n"
    }
    def some(n: Int)(rec: => String) = Seq.fill(1 + r.nextInt(n))(rec)
    def dates() = kw(pick(Seq("DATES", "DATES", "START")),
      some(2)(s"${1 + r.nextInt(28)} '${pick(Months)}' ${2000 + r.nextInt(4)}"))
    if (r.nextInt(4) > 0) dates() // most decks are dated from the start
    for (_ <- 0 until 6 + r.nextInt(16)) r.nextInt(11) match {
      case 0 => dates()
      case 1 => kw("TSTEP", Seq(pick(Seq("1", "10 20.5", "0.1 0.2", "0.3333333333333333", "2.75 1e-3", "31"))))
      case 2 => kw("WELSPECS", r.shuffle(Wells).take(1 + r.nextInt(3)).map(w =>
        s"'$w' 'G' ${pick(Seq("1*", "0", "1", "2", "3"))} ${1 + r.nextInt(3)}"))
      case 3 | 4 => kw("COMPDAT", some(4)(
        s"$well $ij $k $k ${pick(Seq("'OPEN'", "'SHUT'", "1*"))}" +
          pick(Seq("", " 2 1.5", " 1* 1* 0.2 100 0.5 1* 'X'"))))
      case 5 => kw("WLIST", some(2)(s"'${pick(Seq("*L1", "*L2"))}' '${pick(Seq("NEW", "ADD", "DEL", "MOV"))}' " +
        Seq.fill(1 + r.nextInt(3))(pick(Wells.map(w => s"'$w'") :+ "'*L1'")).mkString(" ")))
      case 6 => kw("COMPLUMP", some(2)(s"$well $ij $k $k ${1 + r.nextInt(3)}"))
      case 7 | 8 => kw("WELOPEN", some(3) {
        val name = pick(Wells.map(w => s"'$w'") ++ Seq("'OP*'", "'?I1'", "'*L1'", "'*L2'"))
        val status = pick(Seq("'OPEN'", "'SHUT'", "'STOP'", "'POPN'", "1*"))
        val coords = pick(Seq("", "", s"$ij $k", s"$ij", s"2* $k", s"${1 + r.nextInt(3)} 1* $k",
          s"3* ${1 + r.nextInt(3)} ${1 + r.nextInt(3)}", s"3* ${1 + r.nextInt(2)} 0", "0 0 0 0 0"))
        s"$name $status $coords"
      })
      case 9 => kw(pick(Seq("WCONPROD", "WCONHIST", "WCONINJE", "WCONINJH")),
        some(2)(s"$well ${pick(Seq("'OPEN'", "1*", "'WATER' 'OPEN'"))} 'ORAT' ${r.nextInt(500)} 1* ${r.nextInt(9)}"))
      case _ => kw("GRUPTREE", Seq("'G' 'FIELD'"))
    }
    sb.toString
  }
}

class ScheduleWalkSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().map(_.toSeq).toSeq

  private def at(df: DataFrame, date: String): Map[(String, Int), String] =
    df.filter(col("DATE") === lit(date).cast("timestamp")).collect()
      .map(r => (r.getAs[String]("WELL"), r.getAs[Int]("K1")) -> r.getAs[String]("OP/SH")).toMap

  test("random decks: corpus frame = per-deck text runs = DataFrame runs, row for row") {
    val texts = (0 until 60).map(d => s"d$d" -> ScheduleDecks.deck(1000L + d))
    val events = spark.createDataFrame(texts.flatMap { case (id, t) => DeckParser.parse(t, id) })
    val compdat = rows(Compdat.fromEvents(events, keepDeckId = true))
    val wcon = rows(Wcon.fromEvents(events, keepDeckId = true))
    assert(compdat.nonEmpty && wcon.nonEmpty)
    texts.foreach { case (id, t) =>
      assert(compdat.filter(_.head == id).map(_.tail) == rows(Compdat.df(spark, t)), s"compdat $id")
      assert(wcon.filter(_.head == id).map(_.tail) == rows(Wcon.df(spark, t)), s"wcon $id")
    }
    // the single-deck DataFrame entries, on a few decks
    texts.take(3).foreach { case (id, t) =>
      val ev = DeckParser.toDS(spark, t, id).toDF()
      assert(rows(Compdat.fromEvents(ev)) == rows(Compdat.df(spark, t)), s"compdat $id")
      assert(rows(Wcon.fromEvents(ev)) == rows(Wcon.df(spark, t)), s"wcon $id")
    }
    // the per-keyword dates: one row per keyword, per deck as single runs
    val kwDates = rows(Schedule.keywordDates(events, keepDeckId = true))
    assert(kwDates.size == events.select("deckId", "keywordIdx").distinct().count())
    texts.take(3).foreach { case (id, t) =>
      val single = Schedule.keywordDates(DeckParser.toDS(spark, t, id).toDF())
      assert(kwDates.filter(_.head == id).map(_.tail).toSet == rows(single).toSet, s"dates $id")
    }
  }

  test("WELOPEN copies the latest prior COMPDAT row, never an earlier WELOPEN's output") {
    val df = Compdat.df(spark,
      """DATES
        | 1 'JAN' 2000 /
        |/
        |COMPDAT
        | 'OP1' 1 1 1 1 'OPEN' 1* 5.0 /
        |/
        |DATES
        | 1 'FEB' 2000 /
        |/
        |WELOPEN
        | 'OP1' 'SHUT' /
        |/
        |DATES
        | 1 'MAR' 2000 /
        |/
        |COMPDAT
        | 'OP1' 1 1 1 1 'OPEN' 1* 7.0 /
        |/
        |DATES
        | 1 'APR' 2000 /
        |/
        |WELOPEN
        | 'OP1' 'STOP' 1 1 1 /
        |/
        |""".stripMargin)
    val got = df.collect().map(r => (r.getAs[java.sql.Timestamp]("DATE").toString.take(10),
      r.getAs[String]("OP/SH"), r.getAs[Double]("TRAN"))).toSeq
    assert(got == Seq(("2000-01-01", "OPEN", 5.0), ("2000-02-01", "SHUT", 5.0),
      ("2000-03-01", "OPEN", 7.0), ("2000-04-01", "SHUT", 7.0)))
  }

  test("templates match only wells first seen in COMPDAT at an earlier keyword") {
    val df = Compdat.df(spark,
      """WELSPECS
        | 'OP3' 'G' 3 3 /
        |/
        |COMPDAT
        | 'OP1' 1 1 1 1 'OPEN' /
        |/
        |WELOPEN
        | 'OP*' 'SHUT' /
        |/
        |COMPDAT
        | 'OP2' 2 2 1 1 'OPEN' /
        | 'OP3' 2* 1 1 'OPEN' /
        |/
        |""".stripMargin)
    assert(rows(df.select("WELL", "OP/SH")).toSet ==
      Set(Seq("OP1", "SHUT"), Seq("OP2", "OPEN"), Seq("OP3", "OPEN")))
  }

  test("STOP opens a whole-well row and shuts a connection row; POPN opens") {
    val df = Compdat.df(spark,
      """DATES
        | 1 'JAN' 2000 /
        |/
        |COMPDAT
        | 'OP1' 1 1 1 2 'SHUT' /
        | 'OP2' 1 1 1 1 'OPEN' /
        | 'OP3' 1 1 1 1 'SHUT' /
        |/
        |DATES
        | 1 'FEB' 2000 /
        |/
        |WELOPEN
        | 'OP1' 'STOP' /
        | 'OP2' 'STOP' 1 1 1 /
        | 'OP3' 'POPN' /
        |/
        |""".stripMargin)
    assert(at(df, "2000-02-01") ==
      Map(("OP1", 1) -> "OPEN", ("OP1", 2) -> "OPEN", ("OP2", 1) -> "SHUT", ("OP3", 1) -> "OPEN"))
  }

  test("partial I/J/K and C1/C2 expand only against connections of earlier keywords") {
    val df = Compdat.df(spark,
      """DATES
        | 1 'JAN' 2000 /
        |/
        |COMPDAT
        | 'OP1' 1 1 1 1 'OPEN' /
        | 'OP2' 1 1 1 1 'OPEN' /
        |/
        |COMPLUMP
        | 'OP2' 2* 1 1 4 /
        |/
        |DATES
        | 1 'FEB' 2000 /
        |/
        |WELOPEN
        | 'OP1' 'SHUT' 1 1 /
        | 'OP2' 'SHUT' 3* 4 4 /
        | 'OP1' 'SHUT' 3* 5 5 /
        |/
        |COMPDAT
        | 'OP1' 1 1 2 2 'OPEN' /
        | 'OP2' 1 1 2 2 'OPEN' /
        |/
        |COMPLUMP
        | 'OP1' 1 1 1 2 5 /
        |/
        |""".stripMargin)
    // the defaulted-I/J lump row becomes partial and finds OP2's layer 1;
    // the layers and the lump defined after the WELOPEN stay untouched
    assert(at(df, "2000-02-01") ==
      Map(("OP1", 1) -> "SHUT", ("OP2", 1) -> "SHUT", ("OP1", 2) -> "OPEN", ("OP2", 2) -> "OPEN"))
  }

  test("*LIST rows sharing one record position stay separate per well") {
    val df = Compdat.df(spark,
      """DATES
        | 1 'JAN' 2000 /
        |/
        |COMPDAT
        | 'W1' 5 5 1 1 'OPEN' /
        | 'W2' 5 5 1 1 'OPEN' /
        |/
        |WLIST
        | '*L' 'NEW' 'W1' 'W2' /
        |/
        |DATES
        | 1 'FEB' 2000 /
        |/
        |WELOPEN
        | '*L' 'SHUT' 5 5 1 /
        |/
        |""".stripMargin)
    assert(at(df, "2000-02-01") == Map(("W1", 1) -> "SHUT", ("W2", 1) -> "SHUT"))
  }

  test("last wins per (WELL, I, J, K1, K2, DATE) in (keywordIdx, recordIdx) order") {
    val df = Compdat.df(spark,
      """DATES
        | 1 'JAN' 2000 /
        |/
        |COMPDAT
        | 'OP1' 1 1 1 1 'OPEN' /
        | 'OP2' 1 1 1 1 'OPEN' /
        |/
        |WELOPEN
        | 'OP1' 'SHUT' /
        | 'OP1' 'OPEN' /
        | 'OP2' 'SHUT' /
        |/
        |COMPDAT
        | 'OP2' 1 1 1 1 'OPEN' 3 /
        |/
        |""".stripMargin)
    assert(rows(df.select("WELL", "OP/SH", "SATN")) == Seq(Seq("OP1", "OPEN", 0), Seq("OP2", "OPEN", 3)))
  }

  test("fractional TSTEP days land where make_dt_interval puts them; no DATES, no date") {
    val ev = DeckParser.toDS(spark,
      """COMPDAT
        | 'OP0' 1 1 1 1 /
        |/
        |WCONPROD
        | 'OP0' 'OPEN' 'ORAT' 1 /
        |/
        |TSTEP
        | 5 /
        |/
        |DATES
        | 1 'JAN' 2000 /
        |/
        |TSTEP
        | 10 20.5 /
        |/
        |COMPDAT
        | 'OP1' 1 1 1 1 /
        |/
        |TSTEP
        | 0.3333333333333333 /
        |/
        |COMPDAT
        | 'OP2' 1 1 1 1 /
        |/
        |""".stripMargin).toDF()
    val dates = Schedule.keywordDates(ev).orderBy("keywordIdx").collect()
      .map(r => Option(r.getTimestamp(1)).map(_.toString).orNull).toSeq
    assert(dates == Seq(null, null, null, "2000-01-01 00:00:00.0", "2000-01-31 12:00:00.0",
      "2000-01-31 12:00:00.0", "2000-01-31 20:00:00.0", "2000-01-31 20:00:00.0"))
    assert(rows(Compdat.fromEvents(ev).select("WELL", "DATE")).map(_.map(Option(_).map(_.toString).orNull)) ==
      Seq(Seq("OP0", null), Seq("OP1", "2000-01-31 12:00:00.0"), Seq("OP2", "2000-01-31 20:00:00.0")))
    assert(Wcon.fromEvents(ev).collect().head.isNullAt(1))
    // the clock against the engine's own interval arithmetic, over random
    // running TSTEP sums (the sum minus its value at the last DATES)
    val r = new scala.util.Random(7)
    val steps = Seq.fill(40)(r.nextInt(5000) / 3.0 + r.nextDouble())
    val deck = "TSTEP\n 0.7 /\n/\nDATES\n 3 'MAR' 2001 /\n/\n" +
      steps.map(s => s"TSTEP\n $s /\n/\n").mkString
    val walked = Schedule.keywordDates(DeckParser.toDS(spark, deck).toDF())
      .filter(col("keywordIdx") >= 2).orderBy("keywordIdx").collect().map(_.getTimestamp(1)).toSeq
    val sums = steps.scanLeft(0.7)(_ + _).tail.map(_ - 0.7)
    val engine = spark.createDataFrame(sums.zipWithIndex).toDF("d", "i")
      .select(col("i"), (lit("2001-03-03").cast("timestamp") +
        make_dt_interval(lit(0), lit(0), lit(0), col("d") * 86400.0)).as("t"))
      .orderBy("i").collect().map(_.getTimestamp(1)).toSeq
    assert(walked == engine)
  }

  test("corpusFromPath plan: no Window, no join, one deckId exchange below the sort") {
    val dir = Files.createTempDirectory("graft-walk")
    (0 until 3).foreach(d => Files.writeString(dir.resolve(s"D$d.DATA"), ScheduleDecks.deck(d)))
    val df = Compdat.corpusFromPath(spark, dir.toString + "/*.DATA")
    df.collect()
    val plan = PlanText.finalPlanOf(df)
    assert(!plan.contains("Window") && !plan.contains("Join"), plan)
    val sort = plan.indexOf("Sort [")
    val deckExchanges = "Exchange hashpartitioning\\(deckId".r.findAllMatchIn(plan).map(_.start).toSeq
    assert(sort >= 0 && deckExchanges.size == 1 && deckExchanges.head > sort, plan)
  }
}
