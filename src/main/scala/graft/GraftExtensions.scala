package graft

import org.apache.spark.sql.SparkSessionExtensions

import graft.plans.{InlineLogScan, PruneAvroDecode, SessionWindowEndFilterGuard,
  StandardGroupingSets}

/** Session extensions installing the engine's custom planner pieces.
  * Register with `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => PruneAvroDecode)
    ext.injectPostHocResolutionRule(s => new StandardGroupingSets(s))
    // pre-CBO: replace a file-backed log table's V1-bridge execution
    // (GraftFileScan) with the inner logical plan — native codegen/AQE
    ext.injectPreCBORule(s => InlineLogScan(s))
    // fail loudly on the session_window end-filter pushdown hazard (the
    // shape Catalyst silently mis-optimizes; see SessionWindowGuard)
    ext.injectCheckRule(s => new SessionWindowEndFilterGuard(s))
  }
}
