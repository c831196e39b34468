package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.graftshim.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One benchmark operation. `body` runs the timed part through the
  * [[Phases]] it is given and returns the output check, which the loop
  * calls after the timer stops: `None` when the output is right, else
  * what was wrong. `inputBytes` is the size of the generated files the
  * operation reads.
  */
final case class Op(name: String, inputBytes: Long, body: Phases => () => Option[String])

/** A frame that has been planned and executed to its last row; `rows`
  * re-reads the executed RDD (shuffle outputs are reused, so only the
  * final stage runs again) for the untimed check. */
final class Executed(df: DataFrame) {
  def rows(): Array[Row] = {
    val conv = CatalystTypeConverters.createToScalaConverter(df.schema)
    df.queryExecution.toRdd.map(_.copy()).collect().map(r => conv(r).asInstanceOf[Row])
  }
}

/** The timed phases of an op. Untraced, they only run the code; the
  * traced implementation also records spans and plan/scan counters. */
class Phases {
  def build[A](f: => A): A = f
  def plan(df: DataFrame): Unit = df.queryExecution.executedPlan
  def execute[A](f: => A): A = f
  /** Plan and execute `df` to its last row, never by `count()`: `count`
    * lets Catalyst drop final sorts and joins. */
  def run(df: DataFrame): Executed = {
    plan(df)
    execute(df.queryExecution.toRdd.count())
    new Executed(df)
  }
}

object PlanStats {
  /** Analysis + optimization + planning time the tracker recorded. */
  def planMs(qe: QueryExecution): Double =
    qe.tracker.phases.values.map(_.durationMs).sum.toDouble
}

/** A span: one interval at a layer boundary. Spans of one op share `op`. */
final case class Span(id: Long, parent: Long, op: String, name: String,
    startMs: Double, endMs: Double)

/** Per-op engine counters, summed over every task of every job the op
  * submitted (attributed by job group). `payloads`, `slots` and
  * `scanTasks` come from the eclipse-* scans' own task metrics: payloads
  * and UNSMRY parameter slots decoded, and the scan tasks (one per case)
  * that reported them. */
final class EngineCounters {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var cpuNs = 0L; var shuffleBytes = 0L; var spillBytes = 0L
  var gcMs = 0L; var taskWaitMs = 0L
  var payloads = 0L; var slots = 0L; var scanTasks = 0L
}

/** Records spans in memory and Spark listener counters per job group.
  * Every op runs under `setJobGroup(opId)`; the bus is drained at op
  * edges so each op's counters are complete and contain nothing else. */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val sc = spark.sparkContext
  private val t0 = System.nanoTime()
  def nowMs: Double = (System.nanoTime() - t0) / 1e6
  private def wallToMs(wall: Long): Double = wall - epochAt0
  private val epochAt0: Double = System.currentTimeMillis() - nowMs

  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  def newId(): Long = nextId.getAndIncrement()
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()

  private val PhaseKey = "perfbench.span"
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobParent = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageSubmit = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  val counters = new ConcurrentHashMap[String, EngineCounters]()
  // a DSv2 custom metric's accumulator is named by its description
  private val PayloadsName = new graft.io.datasource.PayloadsDecodedMetric().description()
  private val SlotsName = new graft.io.datasource.ParamSlotsDecodedMetric().description()
  /** The run id of the streaming query whose jobs count as op
    * [[StreamIngest.OpName]] (a streaming query sets its own job group). */
  @volatile var streamRunId = ""

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .map(g => if (g == streamRunId) StreamIngest.OpName else g).getOrElse("")
  private def counter(g: String) = counters.computeIfAbsent(g, _ => new EngineCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    jobGroup.put(e.jobId, g)
    jobStart.put(e.jobId, e.time)
    Option(e.properties).flatMap(p => Option(p.getProperty(PhaseKey)))
      .foreach(s => jobParent.put(e.jobId, s.toLong))
    jobSpan.put(e.jobId, newId())
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    counter(g).synchronized { counter(g).jobs += 1 }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val g = Option(jobGroup.get(e.jobId)).getOrElse("")
    spans.add(Span(jobSpan.get(e.jobId), Option(jobParent.get(e.jobId)).map(_.longValue).getOrElse(0L),
      g, s"job ${e.jobId}", wallToMs(jobStart.get(e.jobId)), wallToMs(e.time)))
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmit.put(e.stageInfo.stageId,
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()): Long)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val job = stageJob.getOrDefault(si.stageId, -1)
    val g = Option(jobGroup.get(job)).getOrElse("")
    counter(g).synchronized { counter(g).stages += 1 }
    val start = si.submissionTime.getOrElse(0L)
    spans.add(Span(newId(), Option(jobSpan.get(job)).map(_.longValue).getOrElse(0L), g,
      s"stage ${si.stageId}", wallToMs(start), wallToMs(si.completionTime.getOrElse(start))))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val job = stageJob.getOrDefault(e.stageId, -1)
    val g = Option(jobGroup.get(job)).getOrElse("")
    val c = counter(g)
    val m = e.taskMetrics
    val submitted = Option(stageSubmit.get(e.stageId)).map(_.longValue).getOrElse(e.taskInfo.launchTime)
    c.synchronized {
      c.tasks += 1
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.gcMs += m.jvmGCTime
      }
      c.taskWaitMs += math.max(0L, e.taskInfo.launchTime - submitted)
      e.taskInfo.accumulables.foreach { a =>
        val v = a.update.collect { case n: Long => n }.getOrElse(0L)
        a.name match {
          case Some(PayloadsName) => c.payloads += v; c.scanTasks += 1
          case Some(SlotsName) => c.slots += v
          case _ =>
        }
      }
    }
  }

  /** Plan-phase time of the SQL actions library code runs inside an op
    * (its own `collect`s); frames the benchmark executes are read from
    * their QueryExecution directly. */
  val sqlPlanMs = new ConcurrentHashMap[String, java.lang.Double]()
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
      val g = current
      if (g.nonEmpty) sqlPlanMs.merge(g, PlanStats.planMs(qe), (a, b) => a + b)
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }
  @volatile private var current = ""

  def install(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(qeListener)
  }
  def uninstall(): Unit = {
    drain()
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(qeListener)
  }
  def drain(): Unit = ListenerBusDrain.drain(sc)

  /** Enter op `op`: events posted from here on belong to it. */
  def enter(op: String): Unit = { drain(); current = op; sc.setJobGroup(op, op) }
  def leave(): Unit = { sc.setJobGroup("perfbench-untraced", "untraced"); drain(); current = "" }

  /** Run `f` as span `name` under `parent`; Spark jobs it submits hang
    * under this span. */
  def span[A](op: String, parent: Long, name: String)(f: Long => A): A = {
    val id = newId()
    val prev = sc.getLocalProperty(PhaseKey)
    sc.setLocalProperty(PhaseKey, id.toString)
    val s = nowMs
    try f(id) finally {
      spans.add(Span(id, parent, op, name, s, nowMs))
      sc.setLocalProperty(PhaseKey, prev)
    }
  }
}

/** Phases that record `build`/`plan`/`execute` spans and the planning
  * time of every frame the op executes. */
final class TracedPhases(tr: Tracer, op: String, root: Long) extends Phases {
  var planMs = 0.0
  override def build[A](f: => A): A = tr.span(op, root, "build")(_ => f)
  override def plan(df: DataFrame): Unit = tr.span(op, root, "plan")(_ => super.plan(df))
  override def execute[A](f: => A): A = tr.span(op, root, "execute")(_ => f)
  override def run(df: DataFrame): Executed = {
    val e = super.run(df)
    planMs += PlanStats.planMs(df.queryExecution)
    e
  }
}

object Stats {
  /** Nearest-rank percentile of an unsorted sample, `p` in (0, 1]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
  }
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Length of the union of intervals. */
  def covered(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curE.isNaN) total += curE - curS
    total
  }

  /** Self time of each span: its duration minus the part its children
    * cover. */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ch = kids.getOrElse(s.id, Nil).map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
      s.id -> math.max(0.0, (s.endMs - s.startMs) - covered(ch))
    }.toMap
  }
}
