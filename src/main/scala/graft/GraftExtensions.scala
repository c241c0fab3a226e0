package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Production registration point for graft's native functions:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions …
  *   // or
  *   SparkSession.builder().withExtensions(new GraftExtensions) …
  * }}}
  *
  * Sessions we don't construct (the driver's) get the same functions via
  * [[graft.functions.GraftFunctions.ensureRegistered]], hooked into
  * [[Tables]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // every native function of the one registry (GraftFunctions)
    graft.functions.GraftFunctions.registry.foreach { case (name, cls, build) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), build))
    }
    // interval-containment joins plan as hash joins, not nested loops
    // (opt-in via spark.graft.rangeJoin.binSeconds)
    ext.injectOptimizerRule(session => graft.plans.RangeJoinBinning(session))
    // native as-of join: AsOfJoinPlan → AsOfJoinExec (sort-merge)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // SQL front door: SELECT ... FROM asof_join(TABLE(l), TABLE(r), …)
    ext.injectTableFunction(graft.plans.AsOfJoin.tvfRegistration)
    // SQL front door for the snapshot table format: snapshot_read(dir
    // [, version]) / snapshot_changes(dir, from [, to])
    graft.plans.SnapshotTvf.tvfRegistrations
      .foreach(ext.injectTableFunction)
    // SQL front door, DuckDB-syntax half: `l ASOF [LEFT] JOIN r ON …`
    // (parser rewrite + resolution-time conversion, see AsOfSyntax)
    ext.injectParser((_, parser) => new graft.plans.GraftSqlParser(parser))
    ext.injectResolutionRule(_ => graft.plans.AsOfSyntaxRule)
    // SQL MERGE INTO / UPDATE against GraftCatalog snapshot tables →
    // the same Layout.snapshotMergeInto / snapshotUpdateWhere commits
    // the Scala API uses
    ext.injectResolutionRule(_ => graft.plans.SnapshotMergeRule)
    ext.injectResolutionRule(_ => graft.plans.SnapshotUpdateRule)
    // catalog READS of a version a plain file scan cannot serve (live
    // MOR delete overlay / files predating a rename) — swapped for the
    // overlay-aware snapshotRead plan instead of refusing
    ext.injectResolutionRule(graft.plans.SnapshotOverlayReadRule(_))
    // column pruning through the (otherwise opaque) as-of node
    ext.injectOptimizerRule(_ => graft.plans.AsOfJoinPruning)
  }
}
