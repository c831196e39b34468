package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.io.DecodeStats

/** AQE-on parity for the plan-shape guarantees: a production user runs
  * with `spark.sql.adaptive.enabled=true` and the DEFAULT broadcast
  * threshold (both Spark defaults since 3.2 / forever), so the
  * storage-partitioned no-exchange plans (q189/q190/q191) and the
  * byte-level pushdowns (q171/q174/q198-class) must hold under exactly
  * that conf — not only under whatever the gate session happened to
  * set. This spec PINS the conf state it runs under and replays the
  * load-bearing assertions.
  *
  * Conf matrix (what is load-bearing vs. what is default):
  *   - `spark.sql.sources.v2.bucketing.enabled=true` — LOAD-BEARING,
  *     off by Spark default; set at session birth by GraftSession, which
  *     every entry point shares (Verify/Bench/CLIs/tests). Without it the scans degrade to
  *     UnknownPartitioning: same rows, one extra exchange.
  *   - `spark.sql.adaptive.enabled` — Spark default TRUE; the final
  *     adaptive plans keep the no-exchange shapes (asserted here).
  *   - `spark.sql.autoBroadcastJoinThreshold` — Spark default (10 MB);
  *     at fixture size AQE may legally turn the q190-shape join into a
  *     broadcast join — that is STILL fleet-shuffle-free (asserted on
  *     the unhinted variant); q190's gate pins the MERGE hint so the
  *     storage-partitioned join path itself stays proven.
  */
class AqeParitySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val Sf = "/root/testdata/sf0.001"

  private def withConfs(kvs: (String, String)*)(body: => Unit): Unit = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def defaultBroadcast: String =
    org.apache.spark.sql.internal.SQLConf.AUTO_BROADCASTJOIN_THRESHOLD
      .defaultValueString

  test("exchange-free fleet plans survive AQE + default broadcast threshold") {
    withConfs(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> defaultBroadcast) {
      // the session must actually be in the production-default state —
      // a silently flipped conf would make every assertion vacuous
      assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
      assert(spark.conf.get("spark.sql.sources.v2.bucketing.enabled") == "true")

      val agg = graft.queries.BinaryGate.q189FleetAggColocated(spark, Sf)
      val aggRows = agg.collect()
      assert(aggRows.length == 4)
      aggRows.foreach(r =>
        assert(r.getLong(3) == 9671775L + 33600L * r.getInt(0)))
      assert(!PlanText.finalPlanOf(agg).contains("Exchange hashpartitioning"),
        "q189 shape must stay exchange-free under AQE")

      val spj = graft.queries.BinaryGate.q190FleetSpjRatio(spark, Sf)
      spj.collect()
      assert(!PlanText.finalPlanOf(spj).contains("Exchange hashpartitioning"),
        "q190 shape must stay exchange-free under AQE")

      val win = graft.queries.BinaryGate.q191FleetWindowPipelined(spark, Sf)
      win.collect()
      val finalPlan = PlanText.finalPlanOf(win)
      assert(!finalPlan.contains("Exchange hashpartitioning"),
        "q191 shape must stay exchange-free under AQE")
      assert("\\bSort \\[".r.findAllIn(finalPlan).length == 1,
        "q191 must keep exactly the presentation sort under AQE")
    }
  }

  test("the UNHINTED fleet join never shuffles the fleet under AQE defaults") {
    withConfs(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> defaultBroadcast) {
      // materialize the q190 fixture, then join WITHOUT the MERGE hint —
      // what a production user writes. AQE is free to pick broadcast
      // (small build side) or the storage-partitioned join; EITHER way
      // the big fleet side must not hash-shuffle
      graft.queries.BinaryGate.q190FleetSpjRatio(spark, Sf).collect()
      val src = sys.props("java.io.tmpdir") + "/graft-gate/q190/*.UNSMRY"
      def side(vec: String) =
        spark.read.format("eclipse-unsmry").load(src)
          .filter(col("VECTOR") === vec)
      val joined = side("FOPR")
        .select(col("CASE"), col("DATE"), col("VALUE").as("rate"))
        .join(side("FOPT").groupBy(col("CASE"))
          .agg(max(col("VALUE")).as("cum")), Seq("CASE"))
      // execute THIS DataFrame (count() would spawn a separate
      // QueryExecution and leave this one un-run), then assert on the
      // FINAL adaptive plan only — the recorded initial plan may
      // legitimately carry the exchange AQE then removed
      assert(joined.collect().length == 4 * 30)
      assert(!PlanText.finalPlanOf(joined).contains("Exchange hashpartitioning"),
        "the unhinted fleet join must not hash-shuffle the fleet side")
    }
  }

  test("byte-level pushdown survives AQE (decode counters still drop)") {
    import graft.io.EclKw.Kw
    withConfs("spark.sql.adaptive.enabled" -> "true") {
      val d = java.nio.file.Files.createTempDirectory("graft-aqe-push").toString
      val path = s"$d/AQE.UNRST"
      graft.io.EclKw.write(path, (0 until 5).flatMap { t =>
        val intehead = Array.tabulate(67) {
          case 11 => 12; case 64 => 1 + t; case 65 => 3; case 66 => 2022; case _ => 0
        }
        Seq(Kw("SEQNUM", "INTE", Array(t)), Kw("INTEHEAD", "INTE", intehead),
          Kw("PRESSURE", "REAL", Array.tabulate(12)(a => a + 10f * t)))
      })
      DecodeStats.unrstVecPayloads.reset()
      // no orderBy on the measured frame (range-sort would sample-scan
      // the source twice and double the counters)
      val got = spark.read.format("eclipse-unrst")
        .option("vectors", "PRESSURE").load(path)
        .where(col("DATE") === lit(java.sql.Date.valueOf("2022-03-02")))
        .collect()
      assert(got.length == 12)
      assert(DecodeStats.unrstVecPayloads.sum() == 1,
        "AQE must not defeat the pushed DATE filter's byte-level skip")
    }
  }
}
