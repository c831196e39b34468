package graft

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line (driver contract). A warmup action first so JIT +
  * code cache + file-listing costs don't land on the first timed query.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession(s"local[$cpus]", "graft-bench")

    // warmup: touch every table + exercise shuffle/window/codegen paths once
    try SparkEntry.queries("q01_agg")(spark, sfDir).count()
    catch { case _: Throwable => }

    // Steady-state timing: three measured executions per query, report
    // the per-query min. Single-shot numbers on this box are dominated by
    // host-level throughput swings (±20-30% on hour scales plus 10-20 s
    // stalls landing on whatever is running; observed totals 19-77 s for
    // identical binaries — multi-run trace in PLANS.md). The passes are
    // INTERLEAVED (full sweeps, not back-to-back per query), so a stall
    // window hits different queries in each pass and the per-query min
    // measures the engine, not stall luck. Caches are cleared between
    // runs, so every execution recomputes from parquet.
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    // one timing body for both sweeps: a failed query records -1 (a
    // crash under one action but not the other must read as a failure,
    // not a speedup), and per-query cleanup lives in exactly one place
    def sweepWith(run: org.apache.spark.sql.DataFrame => Long): Map[String, Double] =
      ordered.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok = try { run(fn(spark, sfDir)); true } catch { case _: Throwable => false }
        val t = (System.nanoTime() - t0) / 1e9
        // keep queries independent
        GraftSession.releaseCaches(spark)
        name -> (if (ok) t else -1.0)
      }.toMap
    def sweep(): Map[String, Double] = sweepWith(_.count())
    val sweeps = Seq(sweep(), sweep(), sweep())
    val results = ordered.map { case (name, _) => name -> sweeps.map(_(name)).min }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // Auxiliary FULL-PLAN sweep: count() lets Catalyst drop the final
    // sort and eliminate unique-keyed left joins above the counted
    // relation, so count-based times can hide real output cost (q97's
    // LM join tree and q91's output sort are the measured examples —
    // PLANS.md round-8 note). The primary metric stays count() for
    // round-over-round comparability; `queries_full` executes each
    // query's OWN physical plan to the last row (toRdd.count) once.
    val fullSweep: Map[String, Double] = sweepWith(_.queryExecution.toRdd.count())
    val qsFull = ordered.map { case (name, _) =>
      "\"" + name + "\":" + fullSweep(name) }.mkString("{", ",", "}")
    val totalFull = fullSweep.values.sum
    // Field ORDER is load-bearing: the driver's artifact capture keeps
    // only the TAIL of this (long) line, so the auxiliary full-plan
    // sweep goes FIRST and the primary count-metric totals + per-query
    // map go LAST — truncation then drops the auxiliary data, never the
    // round-over-round comparable numbers (round-8 artifact lost its
    // primary metric to the opposite ordering).
    println(s"""{"metric":"total","total_full":$totalFull,"queries_full":$qsFull,""" +
      s""""queries":$qs,"value":$total,"unit":"sec","sf":"$sfDir"}""")
    // ALSO write the per-query seconds to a file: the driver's artifact
    // capture keeps only a truncated tail of the stdout line, so
    // per-query times for q100+ were unrecoverable from driver data
    // alone (r12 verdict) — this sidecar makes round-over-round
    // regression decomposition possible from the committed artifact.
    // Pretty-printed one query per line so git diffs show exactly which
    // queries moved.
    val perQueryPath = sys.env.getOrElse("GRAFT_BENCH_PERQUERY",
      "bench_perquery_latest.json")
    try {
      val body = ordered.map { case (name, _) =>
        f""" "$name": {"sec": ${sweeps.map(_(name)).min}%.3f, "sec_full": ${fullSweep(name)}%.3f}"""
      }.mkString(",\n")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(perQueryPath),
        f"""{\n "_total_sec": $total%.3f,\n "_total_full_sec": $totalFull%.3f,\n "_sf": "$sfDir",\n$body\n}\n""")
    } catch { case e: Throwable =>
      System.err.println(s"bench: per-query sidecar write failed: $e")
    }
    // Compact FINAL line (driver-parseable): the artifact capture keeps only
    // a ~2000-char stdout tail, so the full contract line above (with both
    // 209-entry per-query maps, ~18 KB) arrives brace-truncated and
    // unparseable — it cost rounds 12 AND 13 their per-query/scaling blocks
    // (PERF_r13 "parsed": null, r13 verdict item 1). This short totals-only
    // line is printed LAST, fits whole inside the tail, and parses;
    // per-query detail lives in the sidecar file written just above.
    println(s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","total_full":$totalFull,"per_query_sidecar":"$perQueryPath"}""")
    spark.stop()
  }
}
