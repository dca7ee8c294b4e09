package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.AttributeSet
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.StreamingDataSourceV2ScanRelation
import org.apache.spark.sql.types.{StructField, StructType}

/** Required-column pushdown for the `warc-stream` connector.
  *
  * Catalyst's `V2ScanRelationPushDown` matches only the BATCH
  * `DataSourceV2Relation`; a streaming scan is built eagerly at stream
  * start and its per-batch plans hold `StreamingDataSourceV2ScanRelation`
  * nodes the rule never visits — so a streaming query that only counts
  * urls would still materialize every page's `html` bytes. This rule
  * closes that gap for our source: it runs inside each micro-batch's
  * optimization (after Catalyst's ColumnPruning has collapsed projects,
  * so the reference set is minimal), narrows the relation's output to
  * the columns its consumers reference, and records the pruned schema on
  * the [[WarcScan]] — which the stream reads when it creates that
  * batch's reader factory.
  *
  * Pruning happens ONLY under consumers whose column usage is explicit —
  * `Project(rel)` and `Project(Filter(rel))` — because nodes like
  * `WriteToDataSourceV2` consume their child's output POSITIONALLY
  * without referencing attributes (an all-columns sink write carries no
  * Project); pruning there would hand the sink narrower rows than its
  * schema and corrupt the batch. A relation consumed by any such node
  * keeps the full schema. A Project with no column references at all
  * (pure `count(*)` — ColumnPruning emits an empty project list) prunes
  * to the single cheapest column.
  *
  * When one scan feeds several relation instances (self-join branches),
  * every instance prunes to the UNION of the branches' referenced column
  * names — the one shared reader schema must satisfy all of them.
  * Idempotent across the optimizer's fixed-point re-runs and across
  * micro-batches (each batch re-derives the same pruned set).
  */
object WarcStreamPruning extends Rule[LogicalPlan] {

  private type Rel = StreamingDataSourceV2ScanRelation

  private def isOurs(r: Rel): Boolean = r.scan.isInstanceOf[WarcScan]

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val ours = plan.collect { case r: Rel if isOurs(r) => r }
    if (ours.isEmpty) return plan

    // per-scan union of referenced column names; scans with any
    // non-Project consumer (positional reads) must stay full-width
    val reqNames = new java.util.IdentityHashMap[WarcScan, Set[String]]()
    val fullScans = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[WarcScan, java.lang.Boolean]())
    def note(r: Rel, refs: AttributeSet): Unit = {
      val s = r.scan.asInstanceOf[WarcScan]
      val names = r.output.filter(refs.contains).map(_.name).toSet
      reqNames.merge(s, names, (a, b) => a ++ b)
      ()
    }
    def markFull(r: Rel): Unit = {
      fullScans.add(r.scan.asInstanceOf[WarcScan])
      ()
    }

    plan.foreach {
      case Project(pl, r: Rel) if isOurs(r) =>
        note(r, AttributeSet(pl.flatMap(_.references)))
      case Project(pl, Filter(cond, r: Rel)) if isOurs(r) =>
        note(r, AttributeSet(pl.flatMap(_.references)) ++ cond.references)
      case _: Filter => () // its relation child is judged by the
        // grandparent: Project(Filter(rel)) notes above; any other parent
        // of the Filter marks full below
      case n =>
        n.children.foreach {
          case r: Rel if isOurs(r) => markFull(r)
          case Filter(_, r: Rel) if isOurs(r) => markFull(r)
          case _ => ()
        }
    }
    // a relation that IS the plan root has no explicit consumer: full
    plan match {
      case r: Rel if isOurs(r) => markFull(r)
      case Filter(_, r: Rel) if isOurs(r) => markFull(r)
      case _ => ()
    }

    // reset every scan to full width FIRST: the reader schema must track
    // the CURRENT plan, not the narrowest plan ever optimized — a pruned
    // count followed by a full-width write over the same scan (two
    // actions in one foreachBatch body) must widen back, or the second
    // action's readers emit narrower rows than its plan expects
    ours.foreach(r => r.scan.asInstanceOf[WarcScan].required =
      WarcStreamSource.Schema)

    plan.transform {
      case r: Rel if isOurs(r) && !fullScans.contains(r.scan) &&
          reqNames.containsKey(r.scan) =>
        val names = reqNames.get(r.scan.asInstanceOf[WarcScan])
        val kept0 = r.output.filter(a => names.contains(a.name))
        val kept = if (kept0.isEmpty) Seq(r.output.head) else kept0
        // required is assigned in BOTH branches: this rule sits in a
        // fixed-point batch, so a later pass re-visits the already-pruned
        // relation (kept == output) after the reset above wiped required
        // back to full — it must re-narrow even when the PLAN is stable
        r.scan.asInstanceOf[WarcScan].required = StructType(
          kept.map(a => StructField(a.name, a.dataType, a.nullable)))
        if (kept.length == r.output.length) r
        else r.copy(output = kept)
    }
  }

  /** Idempotently append this rule to the session's
    * `experimental.extraOptimizations` — the public hook that reaches
    * every optimize() call, including each micro-batch's. Called by the
    * source itself when a stream starts, so users need no configuration.
    */
  def install(spark: SparkSession): Unit = synchronized {
    val cur = spark.experimental.extraOptimizations
    if (!cur.exists(_ eq this)) {
      spark.experimental.extraOptimizations = cur :+ this
    }
  }
}
