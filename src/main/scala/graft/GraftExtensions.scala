package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Planner-only extensions: custom strategies + the graft optimizer rules,
  * with NO function-name overrides and none of the dialect's parser and
  * analyzer rules (PrestoDialect). Safe on ANY session — including ones
  * running plain Spark DataFrame code, because several Presto names (`map`,
  * `split`, `max_by`, …) deliberately differ from the Spark builtins and
  * Spark 4's `functions.*` API resolves BY NAME through the session
  * registry (the `Engine` scaladoc's isolation rationale). Use this for
  * sessions that mix dialects; `GraftExtensions` for a cluster serving the
  * Presto dialect everywhere. */
class GraftPlannerExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // custom whole-operator plans (SURVEY §2.11 route c)
    ext.injectPlannerStrategy(_ => plans.AsOfJoinStrategy)
    // engine-level dynamic filtering + short-decimal long accumulation —
    // every query planned in the session gets them (graft.plans
    // .GraftOptimizations; the reference does this class of work in its
    // optimizer: PickTableLayout/TupleDomain narrowing, PredicatePushDown
    // equality inference, DecimalSumAggregation long state)
    ext.injectOptimizerRule(session => new plans.DynamicSemiJoinPrune(session))
    ext.injectOptimizerRule(_ => plans.ScaledLongSum)
    // full-partition window arrays (the dynamic-frame lowering) evaluate
    // on a shared per-partition array joined back to the rows — O(n·frame)
    // instead of WindowExec's O(n²) array-per-row serialization
    ext.injectOptimizerRule(session => new plans.DynamicFrameJoin(session))
    // Q18-class eager aggregation: push the outer aggregate below the
    // join when the IN-subquery already computes the same (child, key)
    // aggregate — the pre-agg dedupes via ReusedExchange
    ext.injectOptimizerRule(session => new plans.EagerAggregationReuse(session))
    // condition-less joins of single-row aggregates over one relation
    // (TPC-DS q88 shape) fuse into ONE scan with FILTER-clause aggregates
    ext.injectOptimizerRule(session => new plans.FuseScalarAggregates(session))
    // grouping sets with a covering set + decomposable aggregates compute
    // the finest level once and re-aggregate coarser levels from it,
    // replacing the ×|sets| Expand row blowup
    ext.injectOptimizerRule(session => new plans.CascadeGroupingSets(session))
    // layout-aware inner-join reordering: when a persisted co-bucketed
    // layout serves some join edge exchange-free but the textual order
    // executes a different join first, rebuild the chain layout-edge-first
    // (the reference's join-graph reorder, done for the layout-driven
    // case). Registered LAST: it must see the shape AFTER the structural
    // rewrites above (EagerAggregationReuse in particular — reordering
    // first was measured to break its h18 pattern match)
    ext.injectOptimizerRule(session => new plans.LayoutJoinReorder(session))
    // per-query layout selection over MULTIPLE persisted layouts of one
    // table (spark.graft.bucketedDir=dirA,dirB): swap a scan to the
    // sibling layout whose bucket key matches the join keys when that
    // makes the join co-located — the reference's PickTableLayout
    ext.injectOptimizerRule(session => new plans.PickTableLayout(session))
    // an adjacent partial+final aggregate pair (child already partitioned
    // on the group keys) collapses to one complete-mode pass — runs as an
    // AQE stage-prep rule so it sees the post-replanning physical plan
    ext.injectQueryStagePrepRule(session =>
      new plans.CollapseSingleStageAggregate(session))
    // a window whose partition keys prefix the grouping keys of the
    // aggregate below it shares ONE sort with that aggregate (streaming
    // sort-aggregate, no hash table) — the reference's
    // StreamingAggregationOperator placement; runs after the collapse
    // rule so it sees the single-stage Complete shape
    ext.injectQueryStagePrepRule(session =>
      new plans.SortSharedAggregate(session))
    // a hash aggregate whose child already delivers the grouping keys as
    // a sorted prefix (graft bucketed sorted layouts) becomes a CODEGEN'd
    // streaming aggregate — no hash table, no sort; the reference's
    // StreamingAggregationOperator as AccumulatorCompiler compiles it
    ext.injectQueryStagePrepRule(session =>
      new plans.StreamingSortedAggregate(session))
    // large integral InSet probes in physical Filters swap to the unboxed
    // LongSet probe — physical-only so constraint propagation can never
    // multiply the key array into the task binary (round-16 h02 path)
    ext.injectQueryStagePrepRule(session =>
      new plans.UnboxedInProbe(session))
  }
}

/** Cluster-deployable registration: `--conf spark.sql.extensions=
  * graft.GraftExtensions` installs the Presto dialect — the function
  * registry and [[PrestoDialect]] (the SQL parser plus its analyzer rules),
  * on top of everything in [[GraftPlannerExtensions]] — into every session
  * on the cluster: the production path for a Presto-dialect deployment (the
  * per-session `Engine` constructor covers embedded/mixed use, where the
  * compat names must not shadow Spark builtins for DataFrame-API code).
  * Equivalent role to the reference's Plugin.getFunctions
  * (SPI/Plugin.java:53).
  *
  * `Engine` also sets three session settings that an extension cannot; a
  * cluster sets them itself (e.g. `--conf`) for the full Presto surface:
  *  - `spark.sql.ansi.enabled=true` — division by zero, invalid casts and
  *    out-of-bounds subscripts raise, as in Presto;
  *  - `spark.sql.timeType.enabled=true` — the TIME type;
  *  - `spark.sql.parser.escapedStringLiterals=true` — string literals
  *    without escape processing (`'\d'` is a backslash and a d).
  *
  * A fourth setting is for speed, not for the surface:
  * `spark.sql.codegen.cache.maxEntries` sizes Spark's compiled-code cache
  * (`GraftSession.localConf` explains the value it uses on one box). It is
  * a static conf, read once per JVM when the first class is generated, so
  * `spark.conf.set` cannot change it and neither can an extension; pass it
  * at launch (`--conf`), sized from the cluster's own query mix.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    functions.PrestoFunctions.registry.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions.PrestoFunctions", name),
        (args: Seq[Expression]) => builder(args)))
    }
    PrestoDialect.install(ext)
    new GraftPlannerExtensions()(ext)
  }
}
