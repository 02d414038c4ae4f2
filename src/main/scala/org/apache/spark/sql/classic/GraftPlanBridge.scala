package org.apache.spark.sql.classic

import org.apache.spark.sql.{SparkSessionExtensions, SparkSession => ApiSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge to construct a DataFrame from a custom LogicalPlan —
  * `Dataset.ofRows` is private[sql] (the same access pattern third-party
  * Spark plan extensions use). Everything else in the custom-operator stack
  * (graft.plans.AsOfJoin) lives on public APIs. */
object GraftPlanBridge {
  def ofRows(spark: ApiSession, plan: LogicalPlan): org.apache.spark.sql.DataFrame =
    Dataset.ofRows(spark.asInstanceOf[SparkSession], plan)

  /** Parse with THIS session active: parser behavior reads the
    * thread-local SQLConf (escapedStringLiterals, ordinal handling, ...),
    * which otherwise falls back to whatever session was last active on
    * the thread. */
  def parsePlan(spark: ApiSession, text: String): LogicalPlan =
    spark.asInstanceOf[SparkSession].withActive(
      spark.sessionState.sqlParser.parsePlan(text))

  /** `parent.newSession()` with its own extension set: every extension of
    * the parent plus the ones `install` injects. `newSession` shares the
    * parent's SparkSessionExtensions object, so rules injected there would
    * reach every session of the parent; this scopes them to one session. */
  def newSession(parent: ApiSession,
      install: SparkSessionExtensions => Unit): ApiSession = {
    val p = parent.asInstanceOf[SparkSession]
    val ext = new LayeredExtensions(p.extensions)
    install(ext)
    // the constructor newSession() calls, with `ext` for the parent's
    // extensions; it is private to SparkSession, hence reflection
    classOf[SparkSession].getConstructors
      .find(_.getParameterCount == 6).get
      .newInstance(p.sparkContext, Some(p.sharedState), None, ext,
        p.initialSessionOptions, Map.empty[String, String])
      .asInstanceOf[SparkSession]
  }

  /** Extensions that build the base set's rules first, then their own. */
  private final class LayeredExtensions(base: SparkSessionExtensions)
      extends SparkSessionExtensions {
    override def buildColumnarRules(s: ApiSession) =
      base.buildColumnarRules(s) ++ super.buildColumnarRules(s)
    override def buildQueryPostPlannerStrategyRules(s: ApiSession) =
      base.buildQueryPostPlannerStrategyRules(s) ++ super.buildQueryPostPlannerStrategyRules(s)
    override def buildQueryStagePrepRules(s: ApiSession) =
      base.buildQueryStagePrepRules(s) ++ super.buildQueryStagePrepRules(s)
    override def buildRuntimeOptimizerRules(s: ApiSession) =
      base.buildRuntimeOptimizerRules(s) ++ super.buildRuntimeOptimizerRules(s)
    override def buildQueryStageOptimizerRules(s: ApiSession) =
      base.buildQueryStageOptimizerRules(s) ++ super.buildQueryStageOptimizerRules(s)
    // distinct: a rule object the base set already injects runs once
    override def buildResolutionRules(s: ApiSession) =
      (base.buildResolutionRules(s) ++ super.buildResolutionRules(s)).distinct
    override def buildHintResolutionRules(s: ApiSession) =
      (base.buildHintResolutionRules(s) ++ super.buildHintResolutionRules(s)).distinct
    override def buildPostHocResolutionRules(s: ApiSession) =
      base.buildPostHocResolutionRules(s) ++ super.buildPostHocResolutionRules(s)
    override def buildCheckRules(s: ApiSession) =
      base.buildCheckRules(s) ++ super.buildCheckRules(s)
    override def buildPlanNormalizationRules(s: ApiSession) =
      base.buildPlanNormalizationRules(s) ++ super.buildPlanNormalizationRules(s)
    override def buildOptimizerRules(s: ApiSession) =
      base.buildOptimizerRules(s) ++ super.buildOptimizerRules(s)
    override def buildPreCBORules(s: ApiSession) =
      base.buildPreCBORules(s) ++ super.buildPreCBORules(s)
    override def buildPlannerStrategies(s: ApiSession) =
      base.buildPlannerStrategies(s) ++ super.buildPlannerStrategies(s)
    override def buildParser(s: ApiSession,
        initial: org.apache.spark.sql.catalyst.parser.ParserInterface) =
      super.buildParser(s, base.buildParser(s, initial))
    override def registerFunctions(
        r: org.apache.spark.sql.catalyst.analysis.FunctionRegistry) =
      super.registerFunctions(base.registerFunctions(r))
    override def registerTableFunctions(
        r: org.apache.spark.sql.catalyst.analysis.TableFunctionRegistry) =
      super.registerTableFunctions(base.registerTableFunctions(r))
  }
}
