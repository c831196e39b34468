package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.modules.Compdat
import graft.io.DeckParser

class WlistComplumpSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def stateMap(df: org.apache.spark.sql.DataFrame): Map[(String, Int), String] =
    df.collect().map(r => (
      (r.getAs[String]("WELL"), r.getAs[Int]("K1")), r.getAs[String]("OP/SH"))).toMap

  test("WLIST NEW list resolves in WELOPEN") {
    val df = Compdat.df(spark,
      """COMPDAT
        | 'OP1' 1 1 1 1 'OPEN' /
        | 'OP2' 2 2 2 2 'OPEN' /
        | 'WI1' 3 3 3 3 'OPEN' /
        |/
        |WLIST
        | '*PROD' 'NEW' 'OP1' 'OP2' /
        |/
        |WELOPEN
        | '*PROD' 'SHUT' /
        |/
        |""".stripMargin)
    val m = stateMap(df)
    assert(m(("OP1", 1)) == "SHUT" && m(("OP2", 2)) == "SHUT" && m(("WI1", 3)) == "OPEN")
  }

  test("WLIST fold: ADD extends, DEL removes, MOV moves between lists") {
    val events = DeckParser.toDS(spark,
      """WLIST
        | '*A' 'NEW' 'W1' 'W2' /
        | '*B' 'NEW' 'W3' /
        | '*A' 'ADD' 'W4' /
        | '*A' 'DEL' 'W1' /
        | '*B' 'MOV' 'W2' /
        |/
        |""".stripMargin).toDF()
    val snaps = Compdat.expandWlist(Compdat.wlistRecords(events))
      .orderBy("recordIdx").collect()
    assert(snaps(0).getSeq[String](3) == Seq("W1", "W2"))
    assert(snaps(2).getSeq[String](3) == Seq("W1", "W2", "W4")) // ADD
    assert(snaps(3).getSeq[String](3) == Seq("W2", "W4"))       // DEL W1
    assert(snaps(4).getSeq[String](3) == Seq("W2", "W3"))       // MOV W2 into B
  }

  test("WLIST list reference inside a NEW resolves against current state") {
    val events = DeckParser.toDS(spark,
      """WLIST
        | '*A' 'NEW' 'W1' 'W2' /
        | '*C' 'NEW' '*A' 'W9' /
        |/
        |""".stripMargin).toDF()
    val snaps = Compdat.expandWlist(Compdat.wlistRecords(events))
      .orderBy("recordIdx").collect()
    assert(snaps(1).getSeq[String](3) == Seq("W1", "W2", "W9"))
  }

  test("half-given completion range (C2=0) collapses to the given bound") {
    // reference marks this "Zeros for C1/C2 is not implemented" (raises);
    // the engine generalizes: C1=1, C2=0 acts on lump 1 only
    val df = Compdat.df(spark,
      """DATES
        | 1 'JAN' 2000 /
        |/
        |COMPDAT
        | 'OP1' 1 1 1 2 'OPEN' /
        |/
        |COMPLUMP
        | 'OP1' 1 1 1 1 1 /
        | 'OP1' 1 1 2 2 2 /
        |/
        |WELOPEN
        | 'OP1' 'SHUT' 3* 1 0 /
        |/
        |""".stripMargin)
    val m = df.collect().map(r =>
      (r.getAs[Int]("K1"), r.getAs[String]("OP/SH"))).toMap
    assert(m(1) == "SHUT" && m(2) == "OPEN")
  }

  test("COMPLUMP with defaulted I/J still routes through partial expansion") {
    // the lump record leaves I/J defaulted (2*), so the C-branch rewrite
    // yields PARTIAL rows (null I/J, explicit K) that must expand against
    // the as-of connections — the r6 raw-record feature scan must force
    // the partial stage whenever C rows exist, not just when raw partial
    // rows do
    val df = Compdat.df(spark,
      """DATES
        | 1 'JAN' 2020 /
        |/
        |COMPDAT
        | 'OP1' 5 6 1 2 'OPEN' /
        |/
        |COMPLUMP
        | 'OP1' 2* 1 1 1 /
        |/
        |WELOPEN
        | 'OP1' 'SHUT' 3* 1 1 /
        |/
        |""".stripMargin)
    val m = df.collect().map(r =>
      (r.getAs[Int]("K1"), r.getAs[String]("OP/SH"))).toMap
    assert(m(1) == "SHUT", "lumped connection (K=1) must be SHUT")
    assert(m(2) == "OPEN", "unlumped connection (K=2) must stay OPEN")
  }

  test("welopenAnomalies reports rows matching no connection") {
    import org.apache.spark.sql.functions._
    val events = graft.io.DeckParser.toDS(spark,
      """COMPDAT
        | 'OP1' 1 1 1 2 'OPEN' /
        |/
        |WELOPEN
        | 'OP1' 'SHUT' 9 9 9 /
        | 'OP1' 'SHUT' 1 1 1 /
        |/
        |""".stripMargin).toDF()
    val compdat = Compdat.compdatRecords(events)
      .withColumn("K", explode(sequence(col("K1"), col("K2"))))
      .withColumn("K1", col("K")).withColumn("K2", col("K")).drop("K")
    val anomalies = Compdat.welopenAnomalies(compdat, Compdat.welopenRecords(events))
    val rows = anomalies.collect()
    assert(rows.length == 1 && rows.head.getAs[Int]("I") == 9)
  }

  test("COMPLUMP range in WELOPEN expands to lumped connections only") {
    val df = Compdat.df(spark,
      """COMPDAT
        | 'OP1' 1 1 1 4 'OPEN' /
        |/
        |COMPLUMP
        | 'OP1' 1 1 1 2 7 /
        | 'OP1' 1 1 3 4 8 /
        |/
        |WELOPEN
        | 'OP1' 'SHUT' 3* 7 7 /
        |/
        |""".stripMargin)
    val m = stateMap(df)
    assert(m(("OP1", 1)) == "SHUT" && m(("OP1", 2)) == "SHUT") // lump 7
    assert(m(("OP1", 3)) == "OPEN" && m(("OP1", 4)) == "OPEN") // lump 8 untouched
  }
}
