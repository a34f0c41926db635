package graft

import org.apache.spark.sql.SparkSessionExtensions

import graft.plans.{PruneAvroDecode, ResolveFileTables, SessionWindowEndFilterGuard,
  StandardGroupingSets}

/** Session extensions installing the engine's custom planner pieces.
  * Register with `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // a file-backed collection resolves to its source's own read, which
    // Catalyst optimizes with the query; without this rule, planning a
    // scan of one fails
    ext.injectResolutionRule(s => ResolveFileTables(s))
    ext.injectOptimizerRule(_ => PruneAvroDecode)
    ext.injectPostHocResolutionRule(s => new StandardGroupingSets(s))
    // fail loudly on the session_window end-filter pushdown hazard (the
    // shape Catalyst silently mis-optimizes; see SessionWindowGuard)
    ext.injectCheckRule(s => new SessionWindowEndFilterGuard(s))
  }
}
