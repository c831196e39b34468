package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.io.DeckParser
import graft.modules.Msw

/** Multi-segment-well frames, modeled on the reference's
  * test_compdat.py::test_msw_str2df / test_wsegvalv / test_unrollwelsegs.
  */
class MswSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val mswDeck =
    """WELSEGS
      |   'OP_6'        0.0        0.0   1.0E-5    'ABS'     'HF-'    'HO' /
      |     2    3    1        1  2371.596 1577.726  0.15 0.00065    /
      |/
      |
      |COMPSEGS
      |   'OP_6' /
      |    28  37   1   2     2366.541 2376.651  1*  3*  31   /
      |/
      |
      |WSEGAICD
      |   OP_6  31   31 1.7e-05 -1.18 1000 1.0 0.5  4* 3.05 0.67
      |   OPEN 1.0 1.0 1.0 2.43 1.18 10.0  /
      |/
      |
      |WSEGSICD
      |    OP_6  31   31   0.0001  -1.186915444  1000.0  1.0  0.5  /
      |/
      |
      |WSEGVALV
      |    OP_6  31       0.0084252 0.00075  1*  /
      |/
      |""".stripMargin

  private lazy val events = DeckParser.toDS(spark, mswDeck).toDF()

  test("WELSEGS: header fans out; segment range 2-3 unrolls to two rows") {
    val df = Msw.welsegs(events)
    val rows = df.collect()
    assert(rows.length == 2)
    assert(rows.map(_.getAs[Int]("SEGMENT1")).toSeq == Seq(2, 3))
    assert(rows.forall(_.getAs[String]("WELL") == "OP_6"))
    assert(rows.forall(_.getAs[String]("INFO_TYPE") == "ABS"))
    // ABS → SEGMENT_MD mirrors SEGMENT_LENGTH
    assert(rows.forall(r => r.getAs[Double]("SEGMENT_MD") == r.getAs[Double]("SEGMENT_LENGTH")))
    assert(Msw.welsegs(events, unroll = false).count() == 1)
  }

  test("COMPSEGS: defaults inside the record leave later items addressable") {
    val df = Msw.compsegs(events)
    val r = df.collect().head
    assert(r.getAs[String]("WELL") == "OP_6")
    assert((r.getAs[Int]("I"), r.getAs[Int]("J"), r.getAs[Int]("K")) == ((28, 37, 1)))
    assert(r.getAs[Int]("SEGMENT_NUMBER") == 31)
    assert(r.isNullAt(r.fieldIndex("DIRECTION")))
  }

  test("WSEGAICD: 4* mid-record defaults; exponents and fractions parse") {
    val df = Msw.wsegaicd(events)
    val r = df.collect().head
    assert(df.count() == 1)
    assert(r.getAs[String]("WELL") == "OP_6")
    assert(r.getAs[Int]("SEGMENT1") == 31)
    assert(r.getAs[Double]("STRENGTH") == 1.7e-5)
    assert(r.getAs[Double]("FLOW_RATE_EXPONENT") == 3.05)
    assert(r.getAs[Double]("VISC_EXPONENT") == 0.67)
    assert(r.getAs[String]("STATUS") == "OPEN")
    assert(r.getAs[Double]("GAS_VISC_FRACTION") == 10.0)
  }

  test("WSEGSICD and WSEGVALV single-record frames") {
    val sicd = Msw.wsegsicd(events).collect()
    assert(sicd.length == 1 && sicd.head.getAs[Double]("STRENGTH") == 0.0001)
    val valv = Msw.wsegvalv(events).collect()
    assert(valv.length == 1)
    assert(valv.head.getAs[Double]("CV") == 0.0084252)
    assert(valv.head.getAs[String]("STATUS") == "OPEN") // defaulted
    assert(valv.head.isNullAt(valv.head.fieldIndex("EXTRA_LENGTH")))
  }
}
