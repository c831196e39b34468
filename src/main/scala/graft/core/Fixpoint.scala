package graft.core

import org.apache.spark.sql.Observation

import scala.concurrent.{Await, TimeoutException}
import scala.concurrent.duration._

/** Bounded reads of the convergence counts that driver-side fixpoint
  * loops (connectedComponents, the q154 ancestor closure) observe on
  * each round's checkpoint job.
  */
object Fixpoint {

  /** How long one round waits for its observed metrics. The metrics ride
    * the round's eager checkpoint, so they are normally ready when the
    * wait starts; the bound turns a metric that never arrives (a lost
    * listener event, a plan that dropped the observe node) into a loud
    * failure instead of a hung loop. */
  val ObservationTimeout: FiniteDuration = 2.minutes

  /** The long metric `metric` of `obs`, waiting at most `timeout`. A null
    * metric (a sum over no rows) reads 0. Throws IllegalStateException
    * naming `loop` and `round` when the metrics do not arrive in time. */
  def observedLong(obs: Observation, metric: String, loop: String, round: Int,
      timeout: FiniteDuration = ObservationTimeout): Long = {
    val row = try Await.result(obs.future, timeout) catch {
      case e: TimeoutException => throw new IllegalStateException(
        s"$loop: round $round's observed metrics did not arrive within $timeout", e)
    }
    val i = row.fieldIndex(metric)
    if (row.isNullAt(i)) 0L else row.getLong(i)
  }
}
