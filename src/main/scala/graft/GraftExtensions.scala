package graft

import graft.functions.GraftFunctions
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Cluster-deployment registration route: with
  * `--conf spark.sql.extensions=graft.GraftExtensions` every session on
  * the cluster — including pure-SQL users (thriftserver, notebooks) —
  * gets `extract_content` without any per-session `register()` call.
  * Both routes inject the same builders, from `GraftFunctions.functions`
  * (`GraftFunctions.register` stays for embedded use on an existing
  * session).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.functions.foreach(f => ext.injectFunction(
      (FunctionIdentifier(f.name), new ExpressionInfo(f.cls.getName, f.name), f.build)))
    // streaming required-column pushdown for the warc-stream connector:
    // Catalyst's V2ScanRelationPushDown never visits streaming scans, so
    // the rule rides the optimizer directly (no-op for plans without a
    // WarcScan relation; the source also self-installs it on scan
    // creation for sessions configured without extensions)
    ext.injectOptimizerRule(_ => graft.sources.WarcStreamPruning)
  }
}
