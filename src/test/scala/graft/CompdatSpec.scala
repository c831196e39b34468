package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.modules.{Compdat, Schedule}
import graft.io.DeckParser

class CompdatSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def stateMap(df: org.apache.spark.sql.DataFrame): Map[(String, Int, Int, Int), String] =
    df.collect().map(r => (
      (r.getAs[String]("WELL"), r.getAs[Int]("I"), r.getAs[Int]("J"), r.getAs[Int]("K1")),
      r.getAs[String]("OP/SH"))).toMap

  test("K1-K2 unroll + WELOPEN on well vs single connection") {
    // behavior from the reference applywelopen docstring (compdat.py:804-824)
    val df = Compdat.df(spark,
      """COMPDAT
        | 'OP1' 33 44 10 11 'OPEN' /
        | 'OP2' 66 44 10 11 'OPEN' /
        |/
        |WELOPEN
        | 'OP1' SHUT /
        | 'OP2' SHUT 66 44 10 /
        |/
        |""".stripMargin)
    val m = stateMap(df)
    assert(df.count() == 4)
    assert(m(("OP1", 33, 44, 10)) == "SHUT" && m(("OP1", 33, 44, 11)) == "SHUT")
    assert(m(("OP2", 66, 44, 10)) == "SHUT")
    assert(m(("OP2", 66, 44, 11)) == "OPEN")
  }

  test("0, -1 and 5* coordinates are all defaults (reference zero/negative-values cases)") {
    // reference test_welopen.py ids: welopen-shut-explicit-defaults,
    // zero-values, negative-values — all equivalent to bare 'SHUT /'
    for (coords <- Seq("", "5*", "0 0 0 0 0", "-1 -1 -1 -1 -1")) {
      val df = Compdat.df(spark,
        s"""DATES
           | 1 'JAN' 2000 /
           |/
           |COMPDAT
           | 'OP1' 1 1 1 1 'OPEN' /
           |/
           |WELOPEN
           | 'OP1' 'SHUT' $coords /
           |/
           |""".stripMargin)
      val m = stateMap(df)
      assert(m(("OP1", 1, 1, 1)) == "SHUT", s"coords='$coords'")
      assert(df.count() == 1, s"coords='$coords'")
    }
  }

  test("STOP acting on a well leaves connections open; on a connection it shuts") {
    val df = Compdat.df(spark,
      """DATES
        | 1 'JAN' 2000 /
        |/
        |COMPDAT
        | 'OP1' 1 1 1 2 'OPEN' /
        |/
        |DATES
        | 1 'FEB' 2000 /
        |/
        |WELOPEN
        | 'OP1' 'STOP' /
        |/
        |""".stripMargin)
    val feb = df.filter("DATE = timestamp'2000-02-01 00:00:00'")
    assert(feb.count() == 2)
    assert(feb.select("`OP/SH`").collect().forall(_.getString(0) == "OPEN"))
  }

  test("defaulted I/J resolve from the as-of WELSPECS wellhead") {
    val df = Compdat.df(spark,
      """WELSPECS
        | 'OP1' 'G' 5 6 1000 'OIL' /
        |/
        |COMPDAT
        | 'OP1' 2* 1 1 'OPEN' /
        |/
        |""".stripMargin)
    val r = df.collect().head
    assert(r.getAs[Int]("I") == 5 && r.getAs[Int]("J") == 6)
  }

  test("wildcard well templates expand against earlier-defined wells") {
    val df = Compdat.df(spark,
      """COMPDAT
        | 'OP1' 1 1 1 1 'OPEN' /
        | 'OP2' 2 2 2 2 'OPEN' /
        | 'WI1' 3 3 3 3 'OPEN' /
        |/
        |WELOPEN
        | 'OP*' SHUT /
        |/
        |""".stripMargin)
    val m = stateMap(df)
    assert(m(("OP1", 1, 1, 1)) == "SHUT")
    assert(m(("OP2", 2, 2, 2)) == "SHUT")
    assert(m(("WI1", 3, 3, 3)) == "OPEN")
  }

  test("POPN re-opens a shut connection") {
    val df = Compdat.df(spark,
      """DATES
        | 1 'JAN' 2000 /
        |/
        |COMPDAT
        | 'OP1' 1 1 1 1 'SHUT' /
        |/
        |DATES
        | 1 'MAR' 2000 /
        |/
        |WELOPEN
        | 'OP1' 'POPN' 1 1 1 /
        |/
        |""".stripMargin)
    val mar = df.filter("DATE = timestamp'2000-03-01 00:00:00'").collect()
    assert(mar.length == 1 && mar.head.getAs[String]("OP/SH") == "OPEN")
  }

  test("wildcard WELOPEN shuts EVERY matching well, even at shared coordinates") {
    // two wells completing the SAME cell: the expanded 'W*' rows share
    // (keywordIdx, recordIdx), so the last-state windows must also key
    // on the well or one well's state row silently vanishes
    val df = Compdat.df(spark,
      """DATES
        | 1 'JAN' 2000 /
        |/
        |COMPDAT
        | 'W1' 5 5 1 1 'OPEN' /
        | 'W2' 5 5 1 1 'OPEN' /
        |/
        |DATES
        | 1 'FEB' 2000 /
        |/
        |WELOPEN
        | 'W*' 'SHUT' /
        |/
        |""".stripMargin)
    val feb = df.filter("DATE = timestamp'2000-02-01 00:00:00'").collect()
      .map(r => r.getAs[String]("WELL") -> r.getAs[String]("OP/SH")).toMap
    assert(feb == Map("W1" -> "SHUT", "W2" -> "SHUT"))
  }

  test("corpus mode: one multi-deck frame == per-deck single runs, exactly") {
    // two decks that would cross-contaminate badly if any WELL-keyed
    // operator ignored deckId: SAME well names, SAME list name, different
    // headers, WELOPEN/WLIST/COMPLUMP state and clocks per deck
    val deckA =
      """DATES
        | 1 'JAN' 2000 /
        |/
        |WELSPECS
        | 'OP1' 'G' 11 12 /
        |/
        |COMPDAT
        | 'OP1' 2* 1 3 'OPEN' /
        | 'OP2' 5 5 1 1 'OPEN' /
        |/
        |WLIST
        | '*L' 'NEW' 'OP1' /
        |/
        |WELOPEN
        | '*L' 'SHUT' /
        |/
        |""".stripMargin
    val deckB =
      """DATES
        | 1 'FEB' 2001 /
        |/
        |WELSPECS
        | 'OP1' 'G' 77 88 /
        |/
        |COMPDAT
        | 'OP1' 2* 1 2 'OPEN' /
        | 'OP2' 5 5 1 1 'OPEN' /
        |/
        |WLIST
        | '*L' 'NEW' 'OP2' /
        |/
        |COMPLUMP
        | 'OP1' 77 88 1 1 9 /
        |/
        |WELOPEN
        | '*L' 'SHUT' /
        | 'OP1' 'SHUT' 3* 9 9 /
        |/
        |""".stripMargin
    val evA = DeckParser.toDS(spark, deckA, deckId = "A").toDF()
    val evB = DeckParser.toDS(spark, deckB, deckId = "B").toDF()
    val corpus = Compdat.fromEvents(evA.unionByName(evB), keepDeckId = true)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    val singleA = Compdat.fromEvents(evA)
    val singleB = Compdat.fromEvents(evB)
    assert(rows(corpus.filter("deckId = 'A'").drop("deckId")) == rows(singleA))
    assert(rows(corpus.filter("deckId = 'B'").drop("deckId")) == rows(singleB))
    // sanity on the cross-contamination vectors: deck A's OP1 takes head
    // (11,12) and is SHUT via *L; deck B's OP1 takes head (77,88), is
    // SHUT via its OWN COMPLUMP lump, and OP2 is SHUT only in deck B
    val a = rows(singleA).map(r => (r(0), r(1), r(2), r(5))) // WELL I J OP/SH
    assert(a.contains(("OP1", 11, 12, "SHUT")))
    assert(a.contains(("OP2", 5, 5, "OPEN")))
    val b = rows(singleB).map(r => (r(0), r(1), r(2), r(5)))
    assert(b.contains(("OP1", 77, 88, "SHUT")))
    assert(b.contains(("OP2", 5, 5, "SHUT")))
  }

  test("schedule clock: DATES then TSTEP advances fractionally-summed days") {
    val events = DeckParser.toDS(spark,
      """DATES
        | 1 'JAN' 2000 /
        |/
        |TSTEP
        | 10 20.5 /
        |/
        |COMPDAT
        | 'OP1' 1 1 1 1 /
        |/
        |""".stripMargin).toDF()
    val dates = Schedule.keywordDates(events).orderBy("keywordIdx").collect()
    // keyword 2 (COMPDAT) sits 30.5 days after 2000-01-01
    assert(dates(2).getTimestamp(1).toString == "2000-01-31 12:00:00.0")
  }
}
