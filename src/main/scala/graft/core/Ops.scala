package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core relational operators of the engine.
  *
  * Each op re-expresses one operator family from the reference
  * (equinor/res2df, surveyed in /root/repo/SURVEY.md §2) as a declarative
  * Spark transform: no driver-side loops, no collect, every op is a pure
  * LogicalPlan rewrite so Catalyst can push filters/prune columns through it
  * and AQE can re-plan shuffles at runtime. All ops are scale-invariant:
  * they key every window/groupBy explicitly so the shuffle is on the
  * business key, never on a global ordering (except where the reference
  * semantics are inherently global, which is flagged per-op).
  */
object Ops {

  /** Glob (fnmatch-style `*`/`?`/`[seq]`/`[!seq]`) column selection.
    * Reference: wildcard vector selection, grid.py:201-207, summary.py:387-398 (P1/P2).
    * Character classes follow Python's fnmatch.translate: `[!seq]` negates,
    * a `]` immediately after the opening bracket (or the `!`) is literal,
    * and an unterminated `[` matches a literal bracket.
    */
  def globToRegex(glob: String): String = {
    val sb = new StringBuilder("^")
    var i = 0
    val n = glob.length
    while (i < n) {
      val c = glob.charAt(i); i += 1
      c match {
        case '*' => sb.append(".*")
        case '?' => sb.append('.')
        case '[' =>
          var j = i
          if (j < n && glob.charAt(j) == '!') j += 1
          if (j < n && glob.charAt(j) == ']') j += 1
          while (j < n && glob.charAt(j) != ']') j += 1
          if (j >= n) sb.append("\\[")
          else {
            // Java (unlike Python re) nests classes on a bare '[' and
            // intersects on '&&', so escape both inside the class body
            var stuff = glob.substring(i, j).replace("\\", "\\\\")
              .replace("[", "\\[").replace("&", "\\&")
            i = j + 1
            if (stuff.startsWith("!")) stuff = "^" + stuff.substring(1)
            else if (stuff.startsWith("^")) stuff = "\\" + stuff
            sb.append('[').append(stuff).append(']')
          }
        case c if "\\.[]{}()+-^$|".contains(c) => sb.append('\\').append(c)
        case c => sb.append(c)
      }
    }
    sb.append('$').toString
  }

  def globSelect(df: DataFrame, keep: Seq[String], globs: Seq[String]): DataFrame = {
    val res = globs.map(globToRegex).map(_.r)
    val cols = df.columns.filter(c =>
      keep.contains(c) || res.exists(_.findFirstIn(c).isDefined))
    df.select(cols.map(col).toIndexedSeq: _*)
  }

  /** Range unroll: one row per integer in [c1, c2] (compdat K1-K2 unroll).
    * Reference: unrolldf, compdat.py:415-470 (R1); faults.py:43-58 is the
    * 3-D version (apply three times). explode(sequence) stays inside
    * whole-stage codegen — no UDF, no shuffle.
    */
  def unrollRange(df: DataFrame, c1: String, c2: String, out: String): DataFrame =
    df.withColumn(out, explode(sequence(col(c1).cast("long"), col(c2).cast("long"))))

  /** Last-wins dedup: keep the last row per key under `ord` ordering.
    * Reference: drop_duplicates(keep="last") state collapse,
    * compdat.py:917-922, gruptree.py:152-181 (A6/W7/O5).
    * One shuffle on `keys`; window, then filter — AQE handles skew.
    */
  def lastWinsDedup(df: DataFrame, keys: Seq[String], ord: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col).toIndexedSeq: _*)
      .orderBy(ord.map(_.desc).toIndexedSeq: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Forward-fill nulls within a key partition ordered by `ord`.
    * Reference: ffill of header/static columns, rft.py:85-95,
    * common.py:836-837 (W1/W2). last(ignoreNulls) over an
    * unboundedPreceding frame — the canonical Spark ffill.
    */
  def ffill(df: DataFrame, cols: Seq[String], partitionBy: Seq[String], ord: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(partitionBy.map(col).toIndexedSeq: _*)
      .orderBy(ord.toIndexedSeq: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cols.foldLeft(df)((d, c) => d.withColumn(c, last(col(c), ignoreNulls = true).over(w)))
  }

  /** Backward-fill (VFP stack bfill, vfp/_vfpcommon.py:137-146, W6).
    * `ord` columns are value expressions, taken ascending. Implemented
    * as a reverse-ordered RUNNING frame: an explicit [currentRow,
    * unboundedFollowing] frame re-scans to the partition end for every
    * row in WindowExec (quadratic per partition — see
    * Summary.interpAt's note); the running frame is incremental.
    */
  def bfill(df: DataFrame, cols: Seq[String], partitionBy: Seq[String], ord: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(partitionBy.map(col).toIndexedSeq: _*)
      .orderBy(ord.map(_.desc).toIndexedSeq: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cols.foldLeft(df)((d, c) => d.withColumn(c, last(col(c), ignoreNulls = true).over(w)))
  }

  /** Status-change detection: keep rows where `value` differs from its lag
    * within the key partition (first row always kept).
    * Reference: wellconnstatus._extract_single_connection_status_changes,
    * wellconnstatus.py:67-86 (W3).
    */
  def changesOnly(df: DataFrame, valueCol: Column, partitionBy: Seq[String], ord: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(partitionBy.map(col).toIndexedSeq: _*)
      .orderBy(ord.toIndexedSeq: _*)
    df.withColumn("__prev", lag(valueCol, 1).over(w))
      .filter(col("__prev").isNull || col("__prev") =!= valueCol)
      .drop("__prev")
  }

  /** As-of join (event-time <=) via union + forward-fill: tag
    * right rows as state events, union with left rows, one window per key
    * ordered by (time, side) forward-fills the latest right-side payload
    * onto each left row. Right rows sort before left rows at equal
    * timestamps, preserving `rightTime <= leftTime` inclusivity. One shuffle
    * on `keys`, O(n log n) — no per-key cartesian blowup like the
    * join+row_number variant when both sides are large.
    */
  def asofJoinUnion(
      left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTime: String, rightTime: String, payload: Seq[String]): DataFrame = {
    val l = left
      .withColumn("__t", col(leftTime)).withColumn("__side", lit(1))
      .withColumns(payload.map(p => p -> lit(null)).toMap)
    val r = right
      .withColumn("__t", col(rightTime)).withColumn("__side", lit(0))
    val unioned = l.unionByName(r, allowMissingColumns = true)
    val w = Window.partitionBy(keys.map(col).toIndexedSeq: _*)
      .orderBy(col("__t"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = payload.foldLeft(unioned)((d, p) =>
      d.withColumn(p, last(col(p), ignoreNulls = true).over(w)))
    filled.filter(col("__side") === 1).drop("__t", "__side")
  }

  /** Monthly/weekly/daily/yearly date-dimension generation with
    * normalize-to-boundary semantics.
    * Reference: resample_smry_dates, summary.py:195-290 — rollback start to
    * its period start, rollforward end to the next boundary, emit the range.
    * Spark: sequence() of dates — a single generated array exploded on the
    * driver side of the plan (tiny), then joined; no shuffle.
    */
  def dateDimension(startEnd: DataFrame, startCol: String, endCol: String, freq: String): DataFrame = {
    val (trunc, step) = freq match {
      case "daily"   => ("day", expr("interval 1 day"))
      case "weekly"  => ("week", expr("interval 1 week"))
      case "monthly" => ("month", expr("interval 1 month"))
      case "yearly"  => ("year", expr("interval 1 year"))
      case other     => throw new IllegalArgumentException(s"freq: $other")
    }
    startEnd.select(
      explode(sequence(
        date_trunc(trunc, col(startCol)).cast("timestamp"),
        // rollforward: end up to the next boundary so the crop includes it
        (date_trunc(trunc, col(endCol)).cast("timestamp") + step).cast("timestamp"),
        step)).as("DATE"))
  }

  /** Drop columns that hold a single distinct value (with keep-list).
    * Reference: drop_constant_columns, grid.py:590-620 (P5).
    *
    * "≤1 distinct non-null value" (all-null included) is exactly
    * `min(c) <=> max(c)` (null-safe), so one ordinary single-pass
    * min/max aggregate decides every column at once. The obvious
    * `countDistinct` formulation plans an Expand that replicates every
    * input row once per column (n×cols rows through a distinct hash
    * aggregate) — at 100 TB that is cols extra passes; min/max is one.
    */
  def dropConstantColumns(df: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    // MapType is not orderable — such columns are never dropped (same as
    // the reference, which only ever sees scalar vectors here).
    val candidates = df.schema.fields
      .filter(f => !keep.contains(f.name) &&
        !f.dataType.isInstanceOf[org.apache.spark.sql.types.MapType])
      .map(_.name)
    if (candidates.isEmpty) return df
    val aggs = candidates.map(c => min(col(c)) <=> max(col(c)))
    val flags = df.agg(aggs.head, aggs.tail.toIndexedSeq: _*).collect()(0)
    val dropped = candidates.zipWithIndex
      .filter { case (_, i) => flags.getBoolean(i) }.map(_._1)
    df.drop(dropped.toIndexedSeq: _*)
  }

  /** Canonical unordered-pair key (region-interface aggregation).
    * Reference: trans.py:188-219 (A3): `min-max` string pair key.
    */
  /** Well-name template matching with the reference's validation rule
    * (get_wells_matching_template, common.py:955-980): `*`/`?` glob
    * templates, but a LEADING wildcard is rejected — in schedule keywords
    * a leading `*` names a WLIST — unless escaped with a backslash, which
    * re-enables wildcard semantics for the first character.
    *
    * Anchoring: this matches the WHOLE well name (Eclipse template
    * semantics). The reference uses `re.match` (prefix-anchored only,
    * common.py:980) — a latent quirk under which "B*H" would also match
    * "B_1HX"; its own test table (test_common.py:264-290) never
    * exercises the difference and passes under either semantics, so the
    * Eclipse-correct full match is kept deliberately.
    */
  def wellsMatchingTemplate(template: String, wells: Seq[String]): Seq[String] = {
    val re = templateToRegex(template).r
    wells.filter(w => re.matches(w))
  }

  /** The validation + translation half of [[wellsMatchingTemplate]],
    * shared with the distributed rlike form (q84): leading-wildcard
    * rejection, backslash escape, anchored glob regex.
    */
  def templateToRegex(template: String): String = {
    val t =
      if (template.startsWith("\\")) template.drop(1)
      else if (template.startsWith("*") || template.startsWith("?"))
        throw new IllegalArgumentException(
          "Well template not allowed to start with a wildcard character, " +
            s"use a backslash escape: $template")
      else template
    globToRegex(t) // already ^…$-anchored
  }

  /** Salted equi-join for skewed keys: every row of the big (probe) side
    * gets a pseudo-random salt in [0, salts); the small side is replicated
    * once per salt value, so one hot key's rows spread over `salts`
    * shuffle partitions instead of landing on one straggler task.
    *
    * The salt derives from `monotonically_increasing_id` (row identity,
    * key-independent), so the JOIN RESULT is exactly the unsalted result —
    * only the physical distribution changes. Cost: the small side shuffles
    * `salts`× its size; use for dimension-vs-skewed-fact shapes. AQE's
    * skew-join handles sort-merge skew automatically at runtime — this is
    * the explicit form for when the optimizer can't see the skew (e.g.
    * the first shuffle of a freshly-read hot-keyed table) or when a
    * deterministic layout is wanted.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, keys: Seq[String],
      salts: Int, joinType: String = "inner"): DataFrame = {
    require(salts > 0, "salts must be positive")
    // The replicate-small-side construction is only result-preserving when
    // unmatched SMALL-side rows never surface: under right/full outer each
    // unmatched small row would appear once per salt. Refuse those types.
    val okTypes = Set("inner", "cross", "left", "leftouter",
      "semi", "leftsemi", "anti", "leftanti")
    require(okTypes.contains(joinType.toLowerCase.replace("_", "")),
      s"saltedJoin does not preserve '$joinType' semantics (unmatched small-side " +
        "rows would be replicated once per salt); use inner/left/semi/anti")
    val bigS = big.withColumn("__salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(salts.toLong)))
    val smallS = small.withColumn("__salt",
      explode(array((0 until salts).map(i => lit(i.toLong)): _*)))
    bigS.join(smallS, (keys :+ "__salt").toIndexedSeq, joinType).drop("__salt")
  }

  /** Global sort by `keys` (ascending) of a frame whose last stage is
    * CPU-heavy (a verification kernel, an edit-distance projection):
    * hash-exchange on the leading key at `defaultParallelism` first,
    * then `orderBy`.
    *
    * Why: `orderBy` range-partitions, and `RangePartitioner` draws its
    * bounds by EXECUTING the child stage in a sampling job, so an
    * `orderBy` straight over a heavy narrow stage runs that stage twice
    * (once to sample, once to shuffle). The hash exchange ends the heavy
    * stage in shuffle files, and the sample reads those instead.
    * `count()` hides all of this: it lets Catalyst drop the final sort,
    * so only a full-plan run (to the last row) shows the second pass.
    *
    * Spark drops the exchange as redundant when `df` is already
    * hash-partitioned on the leading key alone at the same count, so
    * spread such a stage on a different key.
    */
  def sortAfterHeavyStage(df: DataFrame, keys: String*): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, col(keys.head))
      .orderBy(keys.map(col): _*)

  def pairKey(a: Column, b: Column): Column =
    concat_ws("-", least(a, b), greatest(a, b))

  /** Stack `COL@date`-suffixed columns into long form (R4; the
    * reference's stack_on_colnames, common.py:787-856): plain columns
    * replicate per date, each date contributes one row carrying that
    * date's `COL@date` values under the bare names (missing combinations
    * are null), and the date lands in `stackCol` as a timestamp when it
    * parses as a date. One codegen'd `stack()` projection — no shuffle.
    * Frames with no suffixed columns pass through unchanged.
    */
  def stackOnColnames(df: DataFrame, sep: String = "@",
      stackCol: String = "DATE"): DataFrame = {
    val cols = df.columns
    val suffixed = cols.filter(_.contains(sep))
    if (suffixed.isEmpty) df
    else {
      val plain = cols.filterNot(_.contains(sep))
      def split2(c: String) = {
        val i = c.indexOf(sep)
        (c.substring(0, i), c.substring(i + sep.length))
      }
      val bases = suffixed.map(c => split2(c)._1).distinct.toSeq
      val dates = suffixed.map(c => split2(c)._2).distinct.sorted.toSeq
      val tuples = dates.flatMap { d =>
        lit(d) +: bases.map { b =>
          val name = s"$b$sep$d"
          if (cols.contains(name)) col(s"`$name`") else lit(null)
        }
      }
      val stackExpr = stack((lit(dates.length) +: tuples): _*)
        .as(stackCol +: bases)
      val stacked = df.select(
        (plain.map(c => col(s"`$c`")).toIndexedSeq :+ stackExpr): _*)
      val isDate = dates.forall(_.matches("""\d{4}-\d{2}-\d{2}.*"""))
      if (isDate) stacked.withColumn(stackCol, col(stackCol).cast("timestamp"))
      else stacked
    }
  }

  /** Linear interpolation of null values by an index column, per group —
    * only interior nulls are filled (limit_area="inside").
    * Reference: satfunc.py:132-157 interpolate(method="index") (W4).
    *
    * Pure window composition (no UDF, codegen-friendly): previous/next
    * non-null value + index via last/first(ignoreNulls) over opposing
    * frames, then the linear formula. Scales: one shuffle on `partitionBy`.
    */
  def interpolateByIndex(df: DataFrame, valueCol: String, indexCol: String,
      partitionBy: Seq[String]): DataFrame = {
    val part = partitionBy.map(col).toIndexedSeq
    val wPrev = Window.partitionBy(part: _*).orderBy(col(indexCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // reverse-ordered running frame, not unboundedFollowing — see bfill
    val wNext = Window.partitionBy(part: _*).orderBy(col(indexCol).desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val v = col(valueCol)
    val x = col(indexCol).cast("double")
    val prevV = last(v, ignoreNulls = true).over(wPrev)
    val prevX = last(when(v.isNotNull, x), ignoreNulls = true).over(wPrev)
    val nextV = last(v, ignoreNulls = true).over(wNext)
    val nextX = last(when(v.isNotNull, x), ignoreNulls = true).over(wNext)
    val interp = prevV + (nextV - prevV) * (x - prevX) / (nextX - prevX)
    df.withColumn(valueCol,
      when(v.isNotNull, v)
        .when(prevV.isNotNull && nextV.isNotNull,
          when(nextX === prevX, prevV).otherwise(interp))
        .otherwise(lit(null)))
  }

  /** Run-length grouping of consecutive equal values under a global order.
    * Reference: runlength_compress, common.py:753-784 (S14) — the `5*2`
    * include-file syntax. Relational form: change-point flag via lag, then
    * a running sum assigns a run id, then count per run.
    * NOTE: inherently a global ordering (single include-file stream), so the
    * window is unpartitioned — correct but single-reducer; the reference's
    * use is export-side text (small by construction). For 100 TB inputs use
    * `partitionBy` = the file/case key.
    */
  def runLengths(df: DataFrame, valueCol: Column, ord: Seq[Column],
      partitionBy: Seq[String] = Nil): DataFrame = {
    val part = partitionBy.map(col).toIndexedSeq
    val w = Window.partitionBy(part: _*).orderBy(ord.toIndexedSeq: _*)
    df.withColumn("__chg",
        when(lag(valueCol, 1).over(w).isNull ||
          lag(valueCol, 1).over(w) =!= valueCol, 1).otherwise(0))
      .withColumn("run_id",
        sum(col("__chg")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__chg")
  }

  /** Sessionize an event stream: new session when the gap to the previous
    * event (same key) exceeds `gapSeconds`. Standard lag + cumulative-sum
    * idiom; one shuffle on the key. (Streaming analog: session_window /
    * flatMapGroupsWithState — see graft.streaming.)
    */
  def sessionize(df: DataFrame, keyCols: Seq[String], tsCol: String,
      gapSeconds: Long): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col).toIndexedSeq: _*).orderBy(col(tsCol))
    val gap = unix_timestamp(col(tsCol)) - unix_timestamp(lag(col(tsCol), 1).over(w))
    df.withColumn("__new", when(gap.isNull || gap > gapSeconds, 1).otherwise(0))
      .withColumn("session_id",
        sum(col("__new")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__new")
  }

  /** Copy `StructField` metadata from `source` onto same-named columns of
    * `df`. Spark drops column metadata the moment a column is computed
    * (SURVEY §4.3), so a projection or aggregation loses the unit/typing
    * annotations `Summary.attachMeta` put on the scan — this restores
    * them post-hoc for every surviving column (the reference carries
    * `smry_meta` side-band for the same reason, summary.py:409-414).
    * A pure projection: no plan change beyond aliasing.
    */
  def copyMetadata(df: DataFrame, source: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.Metadata
    val meta = source.schema.fields
      .filter(_.metadata != Metadata.empty)
      .map(f => f.name -> f.metadata).toMap
    if (meta.isEmpty) df
    else {
      // name-based resolution requires unique names; fail loudly up
      // front instead of an input-dependent ambiguity error later
      require(df.columns.distinct.length == df.columns.length,
        "copyMetadata requires unique column names; got duplicates: " +
          df.columns.diff(df.columns.distinct).distinct.mkString(", "))
      df.select(df.columns.map { c =>
        meta.get(c).fold(col(s"`$c`"))(m => col(s"`$c`").as(c, m))
      }.toIndexedSeq: _*)
    }
  }
}
