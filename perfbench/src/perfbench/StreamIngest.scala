package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.LocalDate
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** `stream_ingest`: realizations land in a directory watched by
  * `readStream.format("eclipse-unsmry")`, each published atomically
  * (SMSPEC, then UNSMRY, renamed in from a staging directory) by one
  * generator thread on a fixed seeded schedule below capacity: an open
  * loop. A per-case aggregate goes to a parquet file sink. An op is one
  * case, timed from when it was due to when its aggregate row was
  * committed, so a stalled micro-batch delays every case behind it.
  */
object StreamIngest extends Workload {
  val name = "stream_ingest"
  /** The op's name: one landed case. */
  val OpName = "stream_case"
  val tailPct = 0.92

  val Vectors = 40
  val Steps = 100
  val Templates = 4
  /** Mean gap between landings; each gap is drawn from 0.5..1.5 of it. */
  val MeanGapMs = 100
  /** The warm-up: the first `ColdCases` land one at a time, each awaited
    * (the cold start), then the schedule runs for `WarmSeconds` at the
    * measured rate, so the multi-case micro-batch path is compiled before
    * measuring. (After 24 cold cases alone, the first ten seconds of the
    * measured window were still warming up.) */
  val ColdCases = 4
  val WarmSeconds = 8.0
  /** Cases a run can land: at the mean rate, warm-up plus a 60 s window. */
  val MaxCases = 800
  private val Start = LocalDate.of(2022, 1, 1)

  def value(tpl: Int, vi: Int, d: Int, s0: Int): Double = 100.0 * vi + d + 13.0 * tpl + s0 + (d % 16) / 16.0

  def setup(spark: SparkSession, dir: Path, seed: Long): Instance = {
    val rng = new java.util.SplittableRandom(seed)
    val s0 = rng.nextInt(50)
    val gaps = Array.fill(MaxCases)((MeanGapMs * (0.5 + rng.nextDouble())).toLong)
    Gen.publish(dir) { tmp =>
      val tpl = Files.createDirectories(tmp.resolve("templates"))
      val schema = new org.apache.spark.sql.types.StructType()
        .add("VECTOR", "string").add("DATE", "date").add("VALUE", "double")
      (0 until Templates).foreach { t =>
        val rows = for (vi <- 0 until Vectors; d <- 0 until Steps)
          yield Row(f"WOPR:P$vi%02d", java.sql.Date.valueOf(Start.plusDays(d)), value(t, vi, d, s0))
        graft.write.SummaryWriter.write(spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1), schema), tpl.resolve(s"T$t").toString)
      }
      Files.createDirectories(tmp.resolve("landing"))
      Files.createDirectories(tmp.resolve("staging"))
    }
    new Ingest(spark, dir, s0, gaps)
  }

  final class Ingest(spark: SparkSession, dir: Path, s0: Int, gaps: Array[Long]) extends Instance {
    private val landing = dir.resolve("landing")
    private val staging = dir.resolve("staging")
    private val sink = dir.resolve("sink").toString
    private val caseBytes = Files.size(dir.resolve("templates/T0.UNSMRY")) + Files.size(dir.resolve("templates/T0.SMSPEC"))
    private def caseName(k: Int) = f"CASE$k%04d"
    private def template(k: Int) = k % Templates

    /** Commit time (ns) of each case's aggregate row, by case name. */
    private val committed = new ConcurrentHashMap[String, java.lang.Long]()
    private val landed = new ConcurrentHashMap[String, java.lang.Long]()
    @volatile private var backlogMax = 0
    private def backlog(): Unit =
      backlogMax = math.max(backlogMax, landed.size - committed.size)

    private val query: StreamingQuery = spark.readStream.format("eclipse-unsmry")
      .load(landing.resolve("*.UNSMRY").toString)
      .writeStream
      .option("checkpointLocation", dir.resolve("checkpoint").toString)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val agg = batch.groupBy(col("CASE"))
          .agg(count(lit(1)).as("n"), sum((col("VALUE") * 32).cast("long")).as("v32"), max(col("DATE")).as("last"))
          .collect()
        if (agg.nonEmpty) {
          spark.createDataFrame(agg.toSeq.asJava, new org.apache.spark.sql.types.StructType()
              .add("CASE", "string").add("n", "long").add("v32", "long").add("last", "date"))
            .write.mode("append").parquet(sink)
          val now = System.nanoTime()
          agg.foreach(r => committed.put(r.getString(0).split('/').last, now))
          backlog()
        }
        ()
      }
      .start()

    private var next = 0
    /** Publish case `k`: SMSPEC first, then the UNSMRY the source lists. */
    private def land(k: Int): Unit = {
      val t = dir.resolve("templates").resolve(s"T${template(k)}")
      for (ext <- Seq(".SMSPEC", ".UNSMRY")) {
        val st = staging.resolve(caseName(k) + ext)
        Files.copy(java.nio.file.Paths.get(t.toString + ext), st)
        Files.move(st, landing.resolve(caseName(k) + ext), StandardCopyOption.ATOMIC_MOVE)
      }
      landed.put(caseName(k), System.nanoTime())
      backlog()
    }

    private def awaitCommitted(cases: Seq[Int], timeoutS: Double): Unit = {
      val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
      while (!cases.forall(k => committed.containsKey(caseName(k))) && System.nanoTime() < deadline) {
        query.exception.foreach(e => throw e)
        Thread.sleep(2)
      }
    }

    /** Rows the sink holds per case, checked against the template:
      * the cases that are missing or wrong, and how many cases the sink
      * holds that never landed. */
    private def check(cases: Seq[Int]): (Set[Int], Int) = {
      val rows = spark.read.parquet(sink).collect()
      val byCase = rows.groupBy(_.getString(0).split('/').last)
      val want = (0 until Templates).map { t =>
        t -> (0 until Vectors).flatMap(vi => (0 until Steps).map(d => (value(t, vi, d, s0) * 32).toLong)).sum
      }.toMap
      val bad = cases.filterNot { k =>
        byCase.get(caseName(k)).exists(rs => rs.length == 1 && rs(0).getLong(1) == Vectors.toLong * Steps &&
          rs(0).getLong(2) == want(template(k)) &&
          rs(0).getDate(3).toLocalDate == Start.plusDays(Steps - 1))
      }
      bad.foreach(k => System.err.println(s"perfbench: $OpName ${caseName(k)} FAILED: " +
        s"sink rows ${byCase.get(caseName(k)).map(_.toSeq)}"))
      val unexpected = byCase.keySet -- landed.keySet.asScala
      unexpected.foreach(c => System.err.println(s"perfbench: sink holds a case that never landed: $c"))
      (bad.toSet, unexpected.size)
    }

    @volatile private var lateMax = 0.0
    /** The generator: one thread lands the next cases of the schedule for
      * `seconds`, each at its due time and never early, whether or not
      * the stream keeps up. Returns each landed case with its due time. */
    private def openLoop(seconds: Double): Seq[(Int, Long)] = {
      val due = mutable.Buffer[(Int, Long)]()
      val gen = new Thread(() => {
        var at = System.nanoTime()
        val end = at + (seconds * 1e9).toLong
        while (at < end && next < MaxCases) {
          val now = System.nanoTime()
          if (now < at) Thread.sleep((at - now) / 1000000, ((at - now) % 1000000).toInt)
          land(next)
          due += next -> at
          lateMax = math.max(lateMax, (landed.get(caseName(next)) - at) / 1e6)
          at += gaps(next) * 1000000L
          next += 1
        }
      }, "perfbench-generator")
      gen.start(); gen.join()
      due.toSeq
    }

    def warmUp(): (Int, Int) = {
      val cold = (0 until ColdCases).map { _ =>
        val k = next
        land(k); next += 1
        awaitCommitted(Seq(k), 60)
        k
      }
      val ks = cold ++ openLoop(WarmSeconds).map(_._1)
      awaitCommitted(ks, 60)
      val (bad, unexpected) = check(ks)
      (ks.length, bad.size + unexpected)
    }

    def measure(seconds: Double, tracer: Option[Tracer]): Measured = {
      // traced runs measure three windows: listener off, on, off
      val windows = tracer.map(t => Seq(None, Some(t), None)).getOrElse(Seq(None))
      val samples = mutable.Buffer[Sample]()
      lateMax = 0.0
      var layer = Map.empty[String, Double]
      var failed = 0
      val rounds = mutable.Buffer[Round]()
      for (w <- windows) {
        w.foreach(_.install())
        w.foreach(_.streamRunId = query.runId.toString)
        val c0 = Main.processCpuS()
        val wall0 = System.currentTimeMillis()
        val due = openLoop(seconds / windows.length)
        val t0 = due.head._2
        val ks = due.map(_._1)
        awaitCommitted(ks, 60)
        val cpuS = Main.processCpuS() - c0
        // a case that never committed is missing from the sink, so the
        // check counts it among the bad ones
        val (bad, unexpected) = check(ks)
        failed += bad.size + unexpected
        val done = ks.filterNot(bad)
        if (w.isEmpty && done.nonEmpty)
          rounds += Round(done.length, (done.map(k => committed.get(caseName(k)): Long).max - t0) / 1e9,
            done.length * caseBytes, cpuS)
        System.err.println(s"perfbench: $OpName latencies ms, landing order: " +
          due.map { case (k, d) => Option(committed.get(caseName(k))).map(c => f"${(c - d) / 1e6}%.0f").getOrElse("-") }
            .mkString(" "))
        due.foreach { case (k, d) =>
          val ok = !bad(k)
          samples += Sample(if (ok) (committed.get(caseName(k)) - d) / 1e9 else 0, ok, w.isDefined)
        }
        w.foreach { tr =>
          tr.uninstall()
          val progress = query.recentProgress.filter(p => p.numInputRows > 0 &&
            java.time.Instant.parse(p.timestamp).toEpochMilli >= wall0)
          val dur = (p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String) =>
            Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
          val eng = Option(tr.counters.get(OpName)).getOrElse(new EngineCounters)
          val rowsIn = progress.map(_.numInputRows).sum
          val n = math.max(1, ks.length)
          layer = Map(
            "stream.batches" -> progress.length.toDouble,
            "stream.batch_p50_ms" -> (if (progress.isEmpty) 0.0 else Stats.median(progress.map(p => dur(p, "triggerExecution")).toSeq)),
            "stream.add_batch_share" -> progress.map(dur(_, "addBatch")).sum / math.max(1.0, progress.map(dur(_, "triggerExecution")).sum),
            "stream.backlog_max" -> backlogMax.toDouble,
            "stream.gen_late_ms" -> lateMax,
            s"$OpName.plan_ms" -> progress.map(dur(_, "queryPlanning")).sum / n,
            s"$OpName.stages" -> eng.stages.toDouble / n,
            s"$OpName.exec_cpu_s" -> eng.cpuNs / 1e9 / n,
            s"$OpName.shuffle_mb" -> eng.shuffleBytes / 1e6 / n,
            s"$OpName.payloads_decoded" -> eng.payloads.toDouble / n,
            s"$OpName.param_slots_decoded" -> eng.slots.toDouble / n,
            "datasource.decode_yield" -> rowsIn.toDouble / math.max(1L, eng.payloads),
            "datasource.partitions" -> eng.scanTasks.toDouble,
            "engine.jobs" -> eng.jobs.toDouble, "engine.tasks" -> eng.tasks.toDouble,
            "engine.task_wait_ms" -> eng.taskWaitMs.toDouble, "engine.gc_ms" -> eng.gcMs.toDouble,
            "engine.spill_mb" -> eng.spillBytes / 1e6)
        }
      }
      val heap = Main.oldGenAfterGcMb()
      if (tracer.isDefined) {
        val lat = (tr: Boolean) => samples.filter(s => s.ok && s.traced == tr).map(_.latencyS).toSeq
        layer += "trace.overhead_pct" -> 100.0 * (Stats.median(lat(true)) / Stats.median(lat(false)) - 1)
      }
      Measured(samples.toSeq, rounds.toSeq, failed, heap, layer)
    }

    def calibrate(tr: Tracer): Map[String, Double] = EclCalibration.run(tr, landing)

    override def close(): Unit = { query.stop(); query.awaitTermination() }
  }
}
