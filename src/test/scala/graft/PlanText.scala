package graft

/** Plan-text helpers shared by the specs that assert on physical plan
  * shapes.
  */
object PlanText {
  /** The FINAL adaptive plan only: AdaptiveSparkPlan's toString appends
    * the pre-reoptimization "Initial Plan", which may legitimately carry
    * exchanges AQE then removed — asserting on the full string would be
    * stricter than the property under test. ONE copy of the cut rule
    * (review finding: three hand-maintained copies had already diverged).
    */
  def finalPlanOf(df: org.apache.spark.sql.DataFrame): String = {
    val plan = df.queryExecution.executedPlan.toString
    plan.indexOf("+- == Initial Plan ==") match {
      case -1 => plan
      case i => plan.substring(0, i)
    }
  }
}
