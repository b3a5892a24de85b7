package graft

/** The customer dischema and rule store that `q_pipeline_e2e` submits with,
  * reachable from the benchmark's own package.
  */
object PerfbenchAccess {
  def customerDischemaJson: String = graft.queries.DischemaQueries.dischemaJson
  def customerRuleStoreJson: String = graft.queries.DischemaQueries.ruleStoreJson
}
