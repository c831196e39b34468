package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** One op execution as the loop saw it. */
final case class Sample(latencyS: Double, ok: Boolean, traced: Boolean)

/** One untraced measured pass: a rotation of a closed loop (elapsed = the
  * summed latencies of its ops) or the arrival window of an open one
  * (elapsed = first due time to last commit). Counts only ops that passed
  * their check. */
final case class Round(ops: Int, elapsedS: Double, bytes: Long, cpuS: Double)

/** What one measured run produced. `layer` holds the per-layer metrics of
  * a traced run. */
final case class Measured(samples: Seq[Sample], rounds: Seq[Round], failed: Int,
    heapPeakMb: Double, layer: Map[String, Double])

/** A workload's inputs, generated and ready to run. */
trait Instance {
  /** Untimed executions of every op type before measuring (first
    * executions run cold: codegen, JIT); returns (attempted, failed). */
  def warmUp(): (Int, Int)
  def measure(seconds: Double, tracer: Option[Tracer]): Measured
  /** Traced-only direct-call calibration of the layers the workload
    * exercises (spans recorded on `tracer`). */
  def calibrate(tracer: Tracer): Map[String, Double]
  def close(): Unit = ()
}

trait Workload {
  def name: String
  /** The percentile `op_tail_s` reports: the highest with at least ten
    * samples beyond it at the op count a default-length run completes. */
  def tailPct: Double
  /** Generate every input under the fresh directory `dir` from `seed`. */
  def setup(spark: SparkSession, dir: Path, seed: Long): Instance
}

object Main {
  val Workloads: Seq[Workload] = Seq(DeckRoundtrip, StreamIngest, CorpusDedup)
  private val SetupRounds = 3

  /** The session confs every run pins: UTC, v2 bucketing (storage-
    * partitioned planning for the eclipse-* sources), checkpoint
    * checksums off, AQE on, UI off. Scratch space stays in `dir`. */
  def session(dir: Path): SparkSession = {
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "ERROR")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val wl = Workloads.find(_.name == need("workload"))
      .getOrElse(sys.error(s"unknown workload ${need("workload")}; " +
        s"known: ${Workloads.map(_.name).mkString(", ")}"))
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val work = Paths.get(need("work")).toAbsolutePath
    val out = Paths.get(need("out")).toAbsolutePath
    Files.createDirectories(out)

    // set-up: session start and input generation into a fresh directory,
    // several times (the last round's session and inputs are measured),
    // then the warm-up in the last round's session. The warm-up runs
    // once: repeating it would cost each run a minute on deck_roundtrip.
    val rounds = mutable.Buffer[Double]()
    var spark: SparkSession = null
    var inst: Instance = null
    for (round <- 1 to SetupRounds) {
      if (inst != null) inst.close()
      if (spark != null) { spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession() }
      val dir = Gen.publish(work.resolve(s"round$round"))(_ => ())
      val t0 = System.nanoTime()
      spark = session(dir)
      inst = wl.setup(spark, dir.resolve("inputs"), seed)
      rounds += (System.nanoTime() - t0) / 1e9
    }
    val tw = System.nanoTime()
    val warm = inst.warmUp()
    val setupS = Stats.median(rounds.toSeq) + (System.nanoTime() - tw) / 1e9
    System.err.println(f"perfbench: set-up rounds ${rounds.map(r => f"$r%.2f").mkString(" ")} s, " +
      f"warm-up ${(System.nanoTime() - tw) / 1e9}%.2f s, " +
      s"inputs ${Gen.bytesUnder(work.resolve(s"round$SetupRounds/inputs"))} bytes")

    val tracer = if (trace) Some(new Tracer(spark)) else None
    val tm = System.nanoTime()
    val m = inst.measure(seconds, tracer)
    System.err.println(f"perfbench: measured ${m.samples.length} ops in ${(System.nanoTime() - tm) / 1e9}%.2f s")
    val layer = tracer.map { tr =>
      val cal = inst.calibrate(tr)
      writeSpans(out.resolve(s"spans-${wl.name}-$seed.json"), tr)
      m.layer ++ cal
    }.getOrElse(Map.empty)
    inst.close()
    spark.stop()

    val timed = m.samples.filter(s => s.ok && !s.traced)
    val attempted = m.samples.length + warm._1
    val failed = m.failed + warm._2
    val metrics: Map[String, Double] =
      if (trace) layer
      else {
        require(timed.nonEmpty, "no op completed")
        val lat = timed.map(_.latencyS)
        // rates are medians over rounds, so one stalled rotation does not
        // move them
        def perRound(f: Round => Double) = Stats.median(m.rounds.map(f))
        Map(
          "ops_per_s" -> perRound(r => r.ops / r.elapsedS),
          "op_p50_s" -> Stats.median(lat),
          "op_tail_s" -> Stats.pct(lat, wl.tailPct),
          "input_mb_per_s" -> perRound(r => r.bytes / 1e6 / r.elapsedS),
          "cpu_s_per_op" -> perRound(r => r.cpuS / r.ops),
          "heap_peak_mb" -> m.heapPeakMb,
          "ok_ratio" -> (attempted - failed).toDouble / attempted,
          "setup_s" -> setupS)
      }
    val body = metrics.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${fmt(v)}""" }
      .mkString("{", ",", "}")
    System.out.println(s"""PERFBENCH_RESULT {"workload":"${wl.name}","attempted":$attempted,""" +
      s""""failed":$failed,"samples":${timed.length},"tail_pct":${wl.tailPct},""" +
      s""""metrics":$body}""")
    System.out.flush()
  }

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** Old-generation occupancy after full collections, in MB. Each
    * collection lets Spark's cleaner release what the last one made
    * unreachable (shuffle and broadcast state), so collect until the
    * occupancy stops falling by more than 1%. */
  def oldGenAfterGcMb(): Double = {
    def used() = {
      System.gc()
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
        .map(_.getUsage.getUsed).sum / 1e6
    }
    var last = used()
    var n = 1
    var now = { Thread.sleep(100); used() }
    while (now < 0.99 * last && n < 8) {
      last = now; n += 1
      Thread.sleep(100)
      now = used()
    }
    now
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuS(): Double = osBean.getProcessCpuTime / 1e9

  private def writeSpans(path: Path, tr: Tracer): Unit = {
    val spans = tr.spans.asScala.toSeq.sortBy(_.startMs)
    val self = Stats.selfTimes(spans)
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val lines = spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${q(s.op)},"name":${q(s.name)},""" +
        s""""start_ms":${fmt(s.startMs)},"end_ms":${fmt(s.endMs)},"self_ms":${fmt(self(s.id))}}"""
    }
    val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
    Files.writeString(tmp, lines.mkString("[\n", ",\n", "\n]\n"))
    Files.move(tmp, path, java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }
}
