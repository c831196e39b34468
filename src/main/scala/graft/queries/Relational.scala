package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Ops
import graft.sources.Tables

/** Relational operator queries (SURVEY.md §2.2-§2.8) over the driver's
  * synthetic tables, each with a DuckDB oracle. Numeric contract: ids and
  * counts are BIGINT on both sides; float aggregates are round()-ed
  * identically post-aggregation.
  */
object Relational {

  /** Revenue Σ price*(1-disc) as an exact long of ten-thousandths, then
    * /1e4 — float-sum association order can straddle a round(…,2) boundary
    * between engines; integer sums cannot. The per-row term has exactly 4
    * decimals, so round() hits an integer on both engines.
    */
  private def revenue: Column =
    sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 10000.0)
      .cast("long")) / 10000.0

  // ---- §2.4 A1/A5: groupBy aggregation (sum/avg/count/countDistinct) -----
  def q01Agg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        revenue.as("revenue"),
        round(sum(col("l_quantity")) / count(lit(1)), 4).as("avg_qty"),
        count(lit(1)).as("n_rows"),
        countDistinct(col("l_orderkey")).as("n_orders"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  // ---- §2.3 J3/J4: multi-way equi-join, broadcast dims, filter pushdown --
  def q02Join(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val n = Tables.nation(s, dir)
    val r = Tables.region(s, dir)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA" && col("o_orderdate") >= lit("1996-01-01").cast("timestamp"))
      .groupBy(col("n_name"))
      .agg(revenue.as("revenue"), count(lit(1)).as("n_rows"))
      .orderBy(col("n_name"))
  }

  // ---- §2.7 R1: range unroll via explode(sequence) -----------------------
  def q03Unroll(s: SparkSession, dir: String): DataFrame = {
    val n = Tables.lineitem(s, dir).groupBy(col("l_orderkey").as("orderkey"))
      .agg(max(col("l_linenumber")).cast("long").as("n"))
    Ops.unrollRange(n.withColumn("one", lit(1L)), "one", "n", "k")
      .select(col("orderkey"), col("n"), col("k"))
      .orderBy(col("orderkey"), col("k"))
  }

  // ---- §2.3 J9-J12: as-of join (latest right row with ts <= left ts) -----
  // Union-and-forward-fill formulation (Ops.asofJoinUnion): O(n log n) with
  // one shuffle on the key — a join + row_number variant degenerates to a
  // per-key cartesian when both sides are large. This is the 100 TB as-of
  // shape.
  def q04Asof(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts").as("error_ts"), col("value").as("error_value"))
    Ops.asofJoinUnion(purchases, errors, Seq("user_id"), "ts", "error_ts",
        Seq("error_ts", "error_value"))
      .select(col("event_id"), col("user_id"), col("ts"), col("error_ts"), col("error_value"))
      .orderBy(col("event_id"))
  }

  // ---- §2.5 W1/W2: forward-fill via last(ignoreNulls) window -------------
  def q05Ffill(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .withColumn("signup_value",
        when(col("event_type") === "signup", col("value")))
    Ops.ffill(ev, Seq("signup_value"), Seq("user_id"), Seq(col("ts"), col("event_id")))
      .select(col("event_id"), col("user_id"), col("ts"), col("signup_value"))
      .orderBy(col("event_id"))
  }

  // ---- §2.5 W3: status-change detection via lag --------------------------
  def q06Changes(s: SparkSession, dir: String): DataFrame =
    Ops.changesOnly(Tables.events(s, dir), col("event_type"),
        Seq("user_id"), Seq(col("ts"), col("event_id")))
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      .orderBy(col("event_id"))

  // ---- §2.4 A6: last-wins dedup ------------------------------------------
  def q07LastWins(s: SparkSession, dir: String): DataFrame =
    Ops.lastWinsDedup(Tables.orders(s, dir), Seq("o_custkey"),
        Seq(col("o_orderdate"), col("o_orderkey")))
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      .orderBy(col("o_custkey"))

  // ---- §2.9 date resampling: generated month dimension, zero-filled ------
  // Reference: resample_smry_dates, summary.py:195-290.
  def q08Resample(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val months = Ops.dateDimension(
      ev.agg(min(col("ts")).as("mn"), max(col("ts")).as("mx")), "mn", "mx", "monthly")
      .withColumnRenamed("DATE", "month_start")
    val agg = ev.groupBy(date_trunc("month", col("ts")).as("month_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("total_value"))
    months.crossJoin(ev.select(col("event_type")).distinct())
      .join(agg, Seq("month_start", "event_type"), "left")
      .select(col("month_start"), col("event_type"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(col("total_value"), lit(0.0)).as("total_value"))
      .orderBy(col("month_start"), col("event_type"))
  }

  // ---- §2.7 R3: wide→long unpivot (stack_on_colnames) --------------------
  def q09Unpivot(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"))
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
        "measure", "value")
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("measure"))

  // ---- §2.8 U3: anti-join (set difference at row level) ------------------
  def q10Anti(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))

  // ---- §2.4 A3 + §2.2 P8: canonical pair key over a boundary filter ------
  // Reference: trans.py:179-219 (region-interface transmissibility).
  def q11PairKey(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val sup = Tables.supplier(s, dir)
    val cn = Tables.nation(s, dir).select(col("n_nationkey").as("ck"), col("n_name").as("cust_nation"))
    val sn = Tables.nation(s, dir).select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(cn), col("c_nationkey") === col("ck"))
      .join(broadcast(sn), col("s_nationkey") === col("sk"))
      .filter(col("cust_nation") =!= col("supp_nation"))
      .withColumn("nation_pair", Ops.pairKey(col("cust_nation"), col("supp_nation")))
      .groupBy(col("nation_pair"))
      .agg(revenue.as("revenue"), count(lit(1)).as("n_rows"))
      .orderBy(col("nation_pair"))
  }

  // ---- §2.4 A8: running cumulative sum (TSTEP date advance idiom) --------
  def q12Running(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .withColumn("running_value", round(sum(col("value")).over(w), 2))
      .select(col("event_id"), col("user_id"), col("ts"), col("value"), col("running_value"))
      .orderBy(col("event_id"))
  }

  // ---- §2.5 W4: linear interpolation by index (interior nulls only) ------
  // Reference: satfunc.py:132-157 interpolate(method="index"). Base table
  // is events with the unique event_id as the index — a non-unique index
  // would make the window order (and thus the result) engine-dependent.
  def q13Interp(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(s, dir).select(col("user_id"), col("event_id"),
      when(!col("event_type").isin("view", "click"), col("value")).as("v"))
    Ops.interpolateByIndex(base, "v", "event_id", Seq("user_id"))
      .select(col("user_id"), col("event_id"), col("v"))
      .orderBy(col("event_id"))
  }

  // ---- §2.7 R4-inverse: pivot to wide via conditional aggregation --------
  def q14Pivot(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    def v(t: String) = coalesce(round(sum(when(col("event_type") === t, col("value"))), 2), lit(0.0))
    ev.groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(v("click").as("click_value"), v("view").as("view_value"),
        v("purchase").as("purchase_value"), v("signup").as("signup_value"),
        v("error").as("error_value"), count(lit(1)).as("n_events"))
      .orderBy(col("day"))
  }

  // ---- §2.6 O5: top-k per group (tail(1) generalized) --------------------
  def q15TopK(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, dir)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select(col("o_custkey"), col("rn").cast("long").as("rn"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  // ---- sessionize: gap-based session assignment + per-session rollup -----
  def q16Sessions(s: SparkSession, dir: String): DataFrame =
    Ops.sessionize(Tables.events(s, dir), Seq("user_id"), "ts", 1800)
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"), min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"), round(sum(col("value")), 2).as("total_value"))
      .orderBy(col("user_id"), col("session_id"))

  // ---- §2.11/S14: run-length grouping of an ordered stream ---------------
  // Reference: runlength_compress, common.py:753-784 (the `5*2` syntax).
  def q17Rle(s: SparkSession, dir: String): DataFrame =
    Ops.runLengths(
        Tables.events(s, dir).select(col("event_id"), col("event_type")),
        col("event_type"), Seq(col("event_id")))
      .groupBy(col("run_id"))
      .agg(min(col("event_type")).as("etype"), count(lit(1)).as("run_len"))
      .orderBy(col("run_id"))

  // ---- §2.3 J11: theta join (value BETWEEN lo AND hi) --------------------
  def q18Theta(s: SparkSession, dir: String): DataFrame = {
    val buckets = s.range(0, 5).select(
      (col("id") * 10 + 1).as("lo"), (col("id") * 10 + 10).as("hi"))
    Tables.lineitem(s, dir)
      .join(broadcast(buckets), col("l_quantity") >= col("lo") && col("l_quantity") <= col("hi"))
      .groupBy(col("lo"), col("hi"))
      .agg(count(lit(1)).as("n_rows"), sum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("lo"))
  }

  // ---- §2.3 J1: positional / ordinal join --------------------------------
  // Reference: grid⋈INIT active-cell-ordinal alignment, grid.py:524-526.
  def q19Positional(s: SparkSession, dir: String): DataFrame = {
    val wo = Window.orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val wc = Window.orderBy(col("c_acctbal").desc, col("c_custkey"))
    val topOrders = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
      .withColumn("pos", row_number().over(wo).cast("long")).filter(col("pos") <= 100)
    val topCust = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_acctbal"))
      .withColumn("pos", row_number().over(wc).cast("long")).filter(col("pos") <= 100)
    topOrders.join(topCust, Seq("pos"))
      .select(col("pos"), col("o_orderkey"), col("o_totalprice"), col("c_custkey"), col("c_acctbal"))
      .orderBy(col("pos"))
  }

  // ---- §3.1 flagship: summary-vector resample with linear interpolation --
  // Reference: summary.df() + resample_smry_dates (summary.py:195-432).
  // Events become cumulative "total" vectors per type; Summary.resample
  // interpolates them onto the normalized monthly grid.
  def q31SummaryResample(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val long = Tables.events(s, dir).select(
      col("event_type").as("VECTOR"), col("ts").as("DATE"),
      sum(col("value")).over(w).as("VALUE"))
    graft.modules.Summary.resample(long, "monthly")
      .select(col("VECTOR").as("vector"), col("DATE").as("month_date"),
        round(col("VALUE"), 6).as("value"))
      .orderBy(col("vector"), col("month_date"))
  }

  // ---- §2.5 W: event-time RANGE-frame rolling features -------------------
  /** Rolling 1-hour per-user activity (q110): for every event, the count
    * and exact-long value sum of that user's events in the preceding
    * hour (RANGE BETWEEN INTERVAL frame — the only window-frame family
    * not yet on the gate; every other gated window is row-framed). The
    * feature shape behind rate limiting, burst detection and
    * session-independent activity scores.
    *
    * Both engines order the frame by the MICROSECOND epoch (unix_micros
    * / epoch_us) so the range arithmetic is integer-exact, and equal
    * timestamps are frame PEERS on both (RANGE includes all peers of
    * CURRENT ROW). The value sum uses the q58 exact-long trick so the
    * in-frame accumulation order cannot surface. Scale: one exchange on
    * user_id, per-user linear sliding frame — the standard time-series
    * feature plan.
    */
  def q110Rolling(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
      .rangeBetween(-3600L * 1000000, 0)
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        unix_micros(col("ts")).as("us"))
      .withColumn("n_1h", count(lit(1)).over(w))
      .withColumn("v_1h",
        (sum(round(col("value") * 10000.0).cast("long")).over(w) / 10000.0))
      .select(col("event_id"), col("user_id"), col("ts"), col("n_1h"), col("v_1h"))
      .orderBy(col("event_id"))
  }

  /** q130: ORDERED FUNNEL — the product-analytics staple (first view →
    * first click after it → first purchase after that) computed
    * declaratively: one min-aggregate per stage, each stage's candidate
    * set pre-filtered by event type (the filter reaches the scan) and
    * restricted by a user-keyed join against the previous stage's
    * timestamp. No per-user sort, no window, no session state: stage N
    * is `min(ts) WHERE ts > t_{N-1}` — map-side combinable, and every
    * exchange is keyed by user_id so AQE can size it. Lags publish as
    * exact MICROSECOND BIGINTs (null-propagating for non-converters).
    *
    * At 100 TB the stage frames are user-sized (≪ event count); the
    * three joins share the user_id key so they co-locate after the
    * first shuffle, and the per-stage filters mean each pass reads only
    * its event type's fraction of the scan.
    */
  def q130Funnel(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("user_id"), col("event_type"), col("ts"))
    val s1 = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
    val s2 = ev.filter(col("event_type") === "click")
      .join(s1, Seq("user_id"))
      .filter(col("ts") > col("t_view"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
    val s3 = ev.filter(col("event_type") === "purchase")
      .join(s2, Seq("user_id"))
      .filter(col("ts") > col("t_click"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
    s1.join(s2, Seq("user_id"), "left").join(s3, Seq("user_id"), "left")
      .select(col("user_id"), col("t_view"), col("t_click"), col("t_purchase"),
        (unix_micros(col("t_click")) - unix_micros(col("t_view"))).as("lag_click_us"),
        (unix_micros(col("t_purchase")) - unix_micros(col("t_click"))).as("lag_purchase_us"),
        when(col("t_purchase").isNotNull, lit(3))
          .when(col("t_click").isNotNull, lit(2))
          .otherwise(lit(1)).cast("int").as("stage"))
      .orderBy(col("user_id"))
  }

  /** q138: COHORT RETENTION — the weekly activity grid behind every
    * retention dashboard: users cohorted by the week of their first
    * event, activity counted per (cohort week, week offset), retention
    * published in exact basis points (`n·10000 div size` — no float).
    *
    * Scale shape: the cohort frame is one user-keyed min-aggregate
    * (map-side combinable); the join back is user-keyed so it
    * co-locates with the events shuffle; the final distinct-count is
    * keyed by (cohort, offset) — grid-sized output. Cohort sizes come
    * from the already-user-distinct cohort frame (a count, not a second
    * distinct over events) and join broadcast (weeks are few).
    */
  def q138CohortRetention(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
    val cohort = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
    val sizes = cohort.groupBy(col("cohort_wk"))
      .agg(count(lit(1)).as("cohort_size"))
    ev.join(cohort, Seq("user_id"))
      .withColumn("offset_wk",
        (datediff(to_date(col("wk")), to_date(col("cohort_wk"))) / 7).cast("int"))
      .groupBy(col("cohort_wk"), col("offset_wk"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .join(broadcast(sizes), Seq("cohort_wk"))
      .withColumn("retained_bp", expr("(n_users * 10000) div cohort_size"))
      .select(col("cohort_wk"), col("offset_wk"), col("n_users"),
        col("cohort_size"), col("retained_bp"))
      .orderBy(col("cohort_wk"), col("offset_wk"))
  }

  /** q162: ROBUST OUTLIER REPORT via exact MAD (median absolute
    * deviation) — the robust-statistics anomaly screen (median ± k·MAD)
    * run with NO floats: values land on the corpus's fixed ×10⁴
    * lattice, both medians are exact LOWER medians (smallest value
    * whose rank satisfies 2·rn ≥ n, rank ties broken by event_id), and
    * the outlier rule is the integer cross-multiply `dev > 3·mad`.
    * Mean/stddev screens break under the heavy tails event data
    * actually has; MAD is the standard robust alternative, and doing
    * it exactly makes it gateable.
    *
    * Scale shape: two rank windows keyed by event_type (the same
    * exchange serves rank + count, the q137 discipline), each followed
    * by a broadcast of the per-type median back as a tiny dimension
    * frame — value median → ONE deviation pass for MAD, then one
    * final per-type aggregate computes the outlier count and max
    * deviation against the broadcast MAD. Exact medians sort within
    * each type — the honest cost of exactness (q108's note); the
    * bounded-state companion at 100 TB is q136's log-histogram hull.
    */
  def q162MadOutliers(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.events(s, dir)
      .select(col("event_id"), col("event_type"),
        round(col("value") * 10000.0).cast("long").as("v4"))
    val wt = Window.partitionBy(col("event_type"))
    val meds = base
      .withColumn("rn", row_number().over(wt.orderBy(col("v4"), col("event_id"))))
      .withColumn("n", count(lit(1)).over(wt))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n"),
        min(when(col("rn") * 2 >= col("n"), col("v4"))).as("med4"))
    val dev = base.join(broadcast(meds), Seq("event_type"))
      .withColumn("dev", abs(col("v4") - col("med4")))
    val mads = dev
      .withColumn("rn", row_number().over(wt.orderBy(col("dev"), col("event_id"))))
      .groupBy(col("event_type"))
      .agg(min(when(col("rn") * 2 >= col("n"), col("dev"))).as("mad4"))
    dev.join(broadcast(mads), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n"), max(col("med4")).as("med4"),
        max(col("mad4")).as("mad4"),
        sum((col("dev") > lit(3) * col("mad4")).cast("long")).as("n_out"),
        max(col("dev")).as("max_dev"))
      .select(col("event_type"), col("n"), col("med4"), col("mad4"),
        col("n_out"), col("max_dev"))
      .orderBy(col("event_type"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q162_mad_outliers" -> (q162MadOutliers _),
    "q138_cohort_retention" -> (q138CohortRetention _),
    "q130_funnel" -> (q130Funnel _),
    "q110_rolling" -> (q110Rolling _),
    "q31_summary_resample" -> (q31SummaryResample _),
    "q01_agg" -> (q01Agg _),
    "q02_join" -> (q02Join _),
    "q03_unroll" -> (q03Unroll _),
    "q04_asof" -> (q04Asof _),
    "q05_ffill" -> (q05Ffill _),
    "q06_changes" -> (q06Changes _),
    "q07_lastwins" -> (q07LastWins _),
    "q08_resample" -> (q08Resample _),
    "q09_unpivot" -> (q09Unpivot _),
    "q10_anti" -> (q10Anti _),
    "q11_pairkey" -> (q11PairKey _),
    "q12_running" -> (q12Running _),
    "q13_interp" -> (q13Interp _),
    "q14_pivot" -> (q14Pivot _),
    "q15_topk" -> (q15TopK _),
    "q16_sessions" -> (q16Sessions _),
    "q17_rle" -> (q17Rle _),
    "q18_theta" -> (q18Theta _),
    "q19_positional" -> (q19Positional _),
  )

  val oracleSql: Map[String, String] = Map(
    // exact lower medians on the ×10⁴ lattice: rank rules replayed
    // verbatim (row_number over (v, event_id)), outlier rule is the
    // integer cross-multiply dev > 3·mad — engine-exact on both sides
    "q162_mad_outliers" ->
      """WITH base AS (
           SELECT event_id, event_type,
                  CAST(round(value * 10000.0) AS BIGINT) AS v4 FROM events),
         r1 AS (SELECT event_type, event_id, v4,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY v4, event_id) AS rn,
                       count(*) OVER (PARTITION BY event_type) AS n
                FROM base),
         m AS (SELECT event_type, max(n) AS n,
                      min(CASE WHEN rn * 2 >= n THEN v4 END) AS med4
               FROM r1 GROUP BY 1),
         d AS (SELECT b.event_type, b.event_id, m.n, m.med4,
                      abs(b.v4 - m.med4) AS dev
               FROM base b JOIN m USING (event_type)),
         r2 AS (SELECT event_type, dev,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY dev, event_id) AS rn,
                       count(*) OVER (PARTITION BY event_type) AS nd
                FROM d),
         md AS (SELECT event_type,
                       min(CASE WHEN rn * 2 >= nd THEN dev END) AS mad4
                FROM r2 GROUP BY 1)
         SELECT d.event_type, d.n, d.med4, md.mad4,
                CAST(sum(CASE WHEN d.dev > 3 * md.mad4 THEN 1 ELSE 0 END) AS BIGINT) AS n_out,
                max(d.dev) AS max_dev
         FROM d JOIN md USING (event_type)
         GROUP BY 1, 2, 3, 4
         ORDER BY 1""",
    // both engines truncate weeks to Monday and the offsets are exact
    // multiples of 7 days, so the grid and basis points are engine-exact
    "q138_cohort_retention" ->
      """WITH f AS (SELECT user_id, date_trunc('week', ts) AS wk FROM events),
         c AS (SELECT user_id, min(wk) AS cohort_wk FROM f GROUP BY 1),
         s AS (SELECT cohort_wk, count(*) AS cohort_size FROM c GROUP BY 1),
         g AS (SELECT c.cohort_wk,
                      CAST(date_diff('day', c.cohort_wk, f.wk) // 7 AS INT) AS offset_wk,
                      count(DISTINCT f.user_id) AS n_users
               FROM f JOIN c USING (user_id) GROUP BY 1, 2)
         SELECT CAST(g.cohort_wk AS TIMESTAMP) AS cohort_wk, g.offset_wk,
                CAST(g.n_users AS BIGINT) AS n_users,
                CAST(s.cohort_size AS BIGINT) AS cohort_size,
                CAST((g.n_users * 10000) // s.cohort_size AS BIGINT) AS retained_bp
         FROM g JOIN s USING (cohort_wk)
         ORDER BY cohort_wk, offset_wk""",
    "q130_funnel" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t_view
                     FROM events WHERE event_type = 'view' GROUP BY 1),
         s2 AS (SELECT e.user_id, min(e.ts) AS t_click
                FROM events e JOIN s1 ON e.user_id = s1.user_id
                WHERE e.event_type = 'click' AND e.ts > s1.t_view GROUP BY 1),
         s3 AS (SELECT e.user_id, min(e.ts) AS t_purchase
                FROM events e JOIN s2 ON e.user_id = s2.user_id
                WHERE e.event_type = 'purchase' AND e.ts > s2.t_click GROUP BY 1)
         SELECT s1.user_id, t_view, t_click, t_purchase,
                epoch_us(t_click) - epoch_us(t_view) AS lag_click_us,
                epoch_us(t_purchase) - epoch_us(t_click) AS lag_purchase_us,
                CAST(CASE WHEN t_purchase IS NOT NULL THEN 3
                          WHEN t_click IS NOT NULL THEN 2
                          ELSE 1 END AS INT) AS stage
         FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
                 LEFT JOIN s3 ON s1.user_id = s3.user_id
         ORDER BY s1.user_id""",
    "q110_rolling" ->
      """SELECT event_id, user_id, ts,
                count(*) OVER w AS n_1h,
                CAST(sum(CAST(round(value * 10000.0) AS BIGINT)) OVER w AS DOUBLE)
                  / 10000.0 AS v_1h
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
         ORDER BY event_id""",
    "q31_summary_resample" ->
      """WITH samples AS (
           SELECT event_type AS vector, ts AS d,
                  sum(value) OVER (PARTITION BY event_type ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
           FROM events),
         bounds AS (SELECT vector, date_trunc('month', min(d)) AS mn,
                           CASE WHEN date_trunc('month', max(d)) = max(d) THEN max(d)
                                ELSE date_trunc('month', max(d)) + INTERVAL 1 MONTH END AS mx
                    FROM samples GROUP BY 1),
         targets AS (SELECT vector, unnest(generate_series(mn, mx, INTERVAL 1 MONTH)) AS md
                     FROM bounds),
         prev AS (SELECT t.vector, t.md, s.d AS px, s.v AS pv
                  FROM targets t ASOF LEFT JOIN samples s
                    ON t.vector = s.vector AND t.md >= s.d),
         nxt AS (SELECT t.vector, t.md, s.d AS nx, s.v AS nv
                 FROM targets t ASOF LEFT JOIN samples s
                   ON t.vector = s.vector AND t.md < s.d)
         SELECT p.vector, p.md AS month_date,
                round(CASE WHEN pv IS NULL THEN nv
                           WHEN nv IS NULL THEN pv
                           WHEN nx = px THEN pv
                           ELSE pv + (nv - pv)
                             * (CAST(epoch_us(p.md) AS DOUBLE) - CAST(epoch_us(px) AS DOUBLE))
                             / (CAST(epoch_us(nx) AS DOUBLE) - CAST(epoch_us(px) AS DOUBLE)) END,
                      6) AS value
         FROM prev p JOIN nxt n ON p.vector = n.vector AND p.md = n.md
         ORDER BY 1, 2""",
    "q01_agg" ->
      """SELECT l_returnflag, l_linestatus,
         sum(l_quantity) AS sum_qty,
         CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000.0) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue,
         round(sum(l_quantity) / count(*), 4) AS avg_qty,
         count(*) AS n_rows,
         count(DISTINCT l_orderkey) AS n_orders
         FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""",
    "q02_join" ->
      """SELECT n_name,
         CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000.0) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue,
         count(*) AS n_rows
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01'
         GROUP BY 1 ORDER BY 1""",
    "q03_unroll" ->
      """SELECT orderkey, n, unnest(generate_series(1, n)) AS k
         FROM (SELECT l_orderkey AS orderkey, CAST(max(l_linenumber) AS BIGINT) AS n
               FROM lineitem GROUP BY 1)
         ORDER BY orderkey, k""",
    "q04_asof" ->
      """SELECT p.event_id, p.user_id, p.ts, e.error_ts, e.error_value
         FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
         ASOF LEFT JOIN (SELECT user_id AS e_user, ts AS error_ts, value AS error_value
                         FROM events WHERE event_type = 'error') e
           ON p.user_id = e.e_user AND p.ts >= e.error_ts
         ORDER BY p.event_id""",
    "q05_ffill" ->
      """SELECT event_id, user_id, ts,
         last_value(CASE WHEN event_type = 'signup' THEN value END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS signup_value
         FROM events ORDER BY event_id""",
    "q06_changes" ->
      """SELECT event_id, user_id, ts, event_type FROM (
           SELECT event_id, user_id, ts, event_type,
                  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
           FROM events)
         WHERE prev IS NULL OR prev <> event_type
         ORDER BY event_id""",
    "q07_lastwins" ->
      """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice FROM (
           SELECT *, row_number() OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
           FROM orders)
         WHERE rn = 1 ORDER BY o_custkey""",
    "q08_resample" ->
      """WITH b AS (SELECT date_trunc('month', min(ts)) AS mn,
                           date_trunc('month', max(ts)) + INTERVAL 1 MONTH AS mx FROM events),
         months AS (SELECT unnest(generate_series(mn, mx, INTERVAL 1 MONTH)) AS month_start FROM b),
         types AS (SELECT DISTINCT event_type FROM events),
         agg AS (SELECT date_trunc('month', ts) AS month_start, event_type,
                        count(*) AS n_events, round(sum(value), 2) AS total_value
                 FROM events GROUP BY 1, 2)
         SELECT m.month_start, t.event_type,
                coalesce(a.n_events, 0) AS n_events,
                coalesce(a.total_value, 0.0) AS total_value
         FROM months m CROSS JOIN types t
         LEFT JOIN agg a ON a.month_start = m.month_start AND a.event_type = t.event_type
         ORDER BY 1, 2""",
    "q09_unpivot" ->
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value FROM lineitem
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
         ORDER BY l_orderkey, l_linenumber, measure""",
    "q10_anti" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY c_custkey""",
    "q11_pairkey" ->
      """SELECT concat_ws('-', least(cn.n_name, sn.n_name), greatest(cn.n_name, sn.n_name)) AS nation_pair,
                CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000.0) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue,
                count(*) AS n_rows
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation cn ON c_nationkey = cn.n_nationkey
         JOIN nation sn ON s_nationkey = sn.n_nationkey
         WHERE cn.n_name <> sn.n_name
         GROUP BY 1 ORDER BY 1""",
    "q12_running" ->
      """SELECT event_id, user_id, ts, value,
                round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_value
         FROM events ORDER BY event_id""",
    "q13_interp" ->
      """SELECT user_id, event_id,
                CASE WHEN v IS NOT NULL THEN v
                     WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                       CASE WHEN nx = px THEN pv
                            ELSE pv + (nv - pv) * (CAST(event_id AS DOUBLE) - px) / (nx - px) END
                END AS v
         FROM (
           SELECT user_id, event_id, v,
                  last_value(v IGNORE NULLS) OVER wp AS pv,
                  last_value(CASE WHEN v IS NOT NULL THEN CAST(event_id AS DOUBLE) END IGNORE NULLS) OVER wp AS px,
                  first_value(v IGNORE NULLS) OVER wn AS nv,
                  first_value(CASE WHEN v IS NOT NULL THEN CAST(event_id AS DOUBLE) END IGNORE NULLS) OVER wn AS nx
           FROM (SELECT user_id, event_id,
                        CASE WHEN event_type NOT IN ('view', 'click') THEN value END AS v FROM events)
           WINDOW wp AS (PARTITION BY user_id ORDER BY event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                  wn AS (PARTITION BY user_id ORDER BY event_id
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         ORDER BY event_id""",
    "q14_pivot" ->
      """SELECT date_trunc('day', ts) AS day,
                coalesce(round(sum(CASE WHEN event_type = 'click' THEN value END), 2), 0.0) AS click_value,
                coalesce(round(sum(CASE WHEN event_type = 'view' THEN value END), 2), 0.0) AS view_value,
                coalesce(round(sum(CASE WHEN event_type = 'purchase' THEN value END), 2), 0.0) AS purchase_value,
                coalesce(round(sum(CASE WHEN event_type = 'signup' THEN value END), 2), 0.0) AS signup_value,
                coalesce(round(sum(CASE WHEN event_type = 'error' THEN value END), 2), 0.0) AS error_value,
                count(*) AS n_events
         FROM events GROUP BY 1 ORDER BY 1""",
    "q15_topk" ->
      """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  CAST(row_number() OVER (PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
           FROM orders)
         WHERE rn <= 3 ORDER BY o_custkey, rn""",
    "q16_sessions" ->
      """WITH g AS (
           SELECT user_id, ts, value,
                  CASE WHEN lag(ts) OVER w IS NULL
                            OR date_diff('second', lag(ts) OVER w, ts) > 1800
                       THEN 1 ELSE 0 END AS new_s
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         s AS (
           SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
           FROM g)
         SELECT user_id, session_id, count(*) AS n_events,
                min(ts) AS session_start, max(ts) AS session_end,
                round(sum(value), 2) AS total_value
         FROM s GROUP BY 1, 2 ORDER BY 1, 2""",
    "q17_rle" ->
      """WITH o AS (
           SELECT event_id, event_type,
                  CASE WHEN lag(event_type) OVER w IS NULL
                            OR lag(event_type) OVER w <> event_type
                       THEN 1 ELSE 0 END AS chg
           FROM events WINDOW w AS (ORDER BY event_id)),
         r AS (
           SELECT event_type, CAST(sum(chg) OVER (ORDER BY event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_id
           FROM o)
         SELECT run_id, min(event_type) AS etype, count(*) AS run_len
         FROM r GROUP BY 1 ORDER BY 1""",
    "q18_theta" ->
      """SELECT lo, hi, count(*) AS n_rows, sum(l_quantity) AS sum_qty
         FROM (SELECT 10 * i + 1 AS lo, 10 * i + 10 AS hi FROM range(0, 5) t(i)) b
         JOIN lineitem ON l_quantity BETWEEN lo AND hi
         GROUP BY 1, 2 ORDER BY 1""",
    "q19_positional" ->
      """WITH o AS (SELECT o_orderkey, o_totalprice,
                    CAST(row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS pos
                    FROM orders),
            c AS (SELECT c_custkey, c_acctbal,
                    CAST(row_number() OVER (ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS pos
                    FROM customer)
         SELECT pos, o_orderkey, o_totalprice, c_custkey, c_acctbal
         FROM o JOIN c USING (pos)
         WHERE pos <= 100 ORDER BY pos""",
  )
}
