package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** What the traced execution of one op recorded. */
final case class OpTrace(op: Op, latencyS: Double, planMs: Double, engine: EngineCounters,
    spans: Seq[Span])

/** A closed loop: one client thread issues the ops in a fixed rotation,
  * each only after the previous one returned. Checks run after each op's
  * timer stops. */
abstract class ClosedLoop(spark: SparkSession) extends Instance {
  def ops: Seq[Op]
  /** Untimed passes over every op type before measuring. */
  def warmPasses: Int

  /** Workload-specific per-layer metrics from each op's first traced run. */
  def opLayer(ts: Seq[OpTrace]): Map[String, Double] = Map.empty

  private case class Outcome(latencyS: Double, cpuS: Double, error: Option[String])

  private def runOnce(op: Op, phases: Phases, check: (() => Option[String]) => Option[String])
      : Outcome = {
    val c0 = Main.processCpuS()
    val t0 = System.nanoTime()
    try {
      val chk = op.body(phases)
      val lat = (System.nanoTime() - t0) / 1e9
      val cpu = Main.processCpuS() - c0
      val err = try check(chk) catch { case e: Throwable => Some(s"check threw $e") }
      Outcome(lat, cpu, err)
    } catch { case e: Throwable =>
      Outcome((System.nanoTime() - t0) / 1e9, Main.processCpuS() - c0, Some(s"op threw $e"))
    }
  }

  private def report(op: Op, o: Outcome): Boolean = {
    System.err.println(o.error.map(e => s"perfbench: ${op.name} FAILED: $e")
      .getOrElse(f"perfbench: ${op.name} ${o.latencyS}%.3f s"))
    o.error.isEmpty
  }

  /** `warmPasses` passes over the op types, one op at a time (the library
    * keeps session-wide state, tracked checkpoint RDDs, that concurrent
    * ops would release under each other). Outputs are checked in the
    * measured executions only. */
  def warmUp(): (Int, Int) = {
    val runs = Seq.fill(warmPasses)(ops).flatten
    (runs.length, runs.count(op => !report(op, runOnce(op, new Phases, _ => None))))
  }

  private def traced(op: Op, tr: Tracer, id: String): (Outcome, OpTrace) = {
    tr.enter(id)
    val root = tr.newId()
    val start = tr.nowMs
    val ph = new TracedPhases(tr, id, root)
    val o = runOnce(op, ph, chk => {
      tr.leave()
      tr.span(id, root, "check")(_ => chk())
    })
    tr.drain()
    tr.spans.add(Span(root, 0, id, op.name, start, tr.nowMs))
    val spans = tr.spans.asScala.filter(_.op == id).toSeq
    val eng = Option(tr.counters.get(id)).getOrElse(new EngineCounters)
    val plan = ph.planMs + Option(tr.sqlPlanMs.get(id)).map(_.doubleValue).getOrElse(0.0)
    (o, OpTrace(op, o.latencyS, plan, eng, spans))
  }

  def measure(seconds: Double, tracer: Option[Tracer]): Measured = {
    val samples = mutable.Buffer[Sample]()
    val rounds = mutable.Buffer[Round]()
    var failed = 0
    var heap = 0.0
    var busy = 0.0
    var rotation = 0
    val firstTrace = mutable.LinkedHashMap[String, OpTrace]()
    val engine = new EngineCounters
    // The rotation count is the one nearest to `seconds` of op time, so a
    // rotation about as long as the run is not sometimes run twice. When
    // tracing, untraced rotations (listeners off) and traced ones
    // alternate, starting and ending untraced so the warm-up trend does
    // not pass for tracing overhead; the first traced rotation gives the
    // per-op and engine counters.
    def done = (if (tracer.isDefined) rotation >= 3 && rotation % 2 == 1 else rotation >= 1) &&
      busy + busy / rotation / 2 >= seconds
    while (!done) {
      val tracing = tracer.isDefined && rotation % 2 == 1
      if (tracing) tracer.foreach(_.install())
      var round = Round(0, 0, 0, 0)
      ops.foreach { op =>
        val (o, t) = tracer.filter(_ => tracing) match {
          case Some(tr) =>
            val (o, t) = traced(op, tr, s"${op.name}#$rotation")
            (o, Some(t))
          case None => (runOnce(op, new Phases, _()), None)
        }
        val ok = report(op, o)
        if (!ok) failed += 1
        busy += o.latencyS
        samples += Sample(o.latencyS, ok, tracing)
        if (ok) round = Round(round.ops + 1, round.elapsedS + o.latencyS, round.bytes + op.inputBytes,
          round.cpuS + o.cpuS)
        t.filter(_ => !firstTrace.contains(op.name)).foreach { t =>
          firstTrace(op.name) = t
          engine.jobs += t.engine.jobs; engine.tasks += t.engine.tasks
          engine.taskWaitMs += t.engine.taskWaitMs; engine.gcMs += t.engine.gcMs
          engine.spillBytes += t.engine.spillBytes
        }
      }
      if (tracing) tracer.foreach(_.uninstall())
      else if (round.ops > 0) rounds += round
      val live = Main.oldGenAfterGcMb()
      System.err.println(f"perfbench: rotation $rotation old gen after GC $live%.1f MB")
      heap = math.max(heap, live)
      rotation += 1
    }
    val layer = if (tracer.isEmpty) Map.empty[String, Double] else {
      val perOp = firstTrace.values.flatMap { t =>
        val n = t.op.name
        Map(s"$n.plan_ms" -> t.planMs, s"$n.stages" -> t.engine.stages.toDouble,
          s"$n.exec_cpu_s" -> t.engine.cpuNs / 1e9,
          s"$n.shuffle_mb" -> t.engine.shuffleBytes / 1e6)
      }.toMap ++ opLayer(firstTrace.values.toSeq)
      val lat = (tr: Boolean) => samples.filter(s => s.ok && s.traced == tr).map(_.latencyS).toSeq
      perOp ++ Map(
        "engine.jobs" -> engine.jobs.toDouble, "engine.tasks" -> engine.tasks.toDouble,
        "engine.task_wait_ms" -> engine.taskWaitMs.toDouble, "engine.gc_ms" -> engine.gcMs.toDouble,
        "engine.spill_mb" -> engine.spillBytes / 1e6,
        "trace.overhead_pct" -> 100.0 * (Stats.median(lat(true)) / Stats.median(lat(false)) - 1))
    }
    Measured(samples.toSeq, rounds.toSeq, failed, heap, layer)
  }
}
