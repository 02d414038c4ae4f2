package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.BindReferences.bindReferences
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, DeclarativeAggregate, Partial}
import org.apache.spark.sql.catalyst.expressions.codegen._
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CodegenSupport, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, HashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Whole-stage-codegen STREAMING aggregate over pre-sorted input — the
  * reference's StreamingAggregationOperator
  * (MAIN/operator/StreamingAggregationOperator.java:1, placed by
  * LocalExecutionPlanner.java:1063 whenever the input's local ordering
  * covers the grouping keys) executed the way Presto compiles it: the
  * reference's AccumulatorCompiler emits bytecode per aggregate, so a
  * faithful Spark rendition must stay inside whole-stage codegen.
  *
  * Why Spark's own operators can't express this: HashAggregateExec
  * builds a hash table — at a 44 M-group `GROUP BY l_orderkey` over the
  * orderkey-sorted bucketed layout the probe chain thrashes
  * (avgHashProbe ≈ 512 measured at the sf30 soak) even though every
  * group arrives contiguously; SortAggregateExec streams, but with
  * grouping keys it runs OUTSIDE whole-stage codegen (Spark supports
  * sort-aggregate codegen only for the grouping-less case), and the
  * interpreted per-row path measured a wash against the thrashing hash
  * (round-12 probe, commit fe5a624). This operator does both: no hash
  * table, no sort (the layout already guarantees one sorted file per
  * bucket), and the whole group-compare/update/emit loop fused into the
  * stage's generated code.
  *
  * Generated loop (conceptually, per input row):
  * {{{
  *   if (!init || key != currentKey) {
  *     if (init) emit(currentKey, eval(buffers));   // group closed
  *     currentKey = copy(key); buffers = initialValues;
  *   }
  *   buffers = update(buffers, row);
  * }}}
  * with a final flush after the child loop exhausts. Group state lives in
  * generated mutable fields, so the stage pauses/resumes correctly when
  * the downstream buffer fills (`shouldStop`); the flush is guarded so it
  * runs exactly once, only after the child iterator is exhausted.
  *
  * Safety: equal keys must be CONTIGUOUS within each partition — the
  * rewrite rule below only fires when the child's `outputOrdering` prefix
  * covers the grouping keys. Complete mode additionally needs equal keys
  * co-partitioned, which already held for the HashAggregate being
  * replaced (it was planned without an exchange). Partial mode is safe
  * under any partitioning (the final merge re-aggregates).
  */
case class StreamingSortedAggregateExec(
    requiredChildDistributionExpressions: Option[Seq[Expression]],
    groupingExpressions: Seq[NamedExpression],
    aggregateExpressions: Seq[AggregateExpression],
    aggregateAttributes: Seq[Attribute],
    resultExpressions: Seq[NamedExpression],
    keyOrdering: Seq[SortOrder],
    child: SparkPlan) extends UnaryExecNode with CodegenSupport {

  private def partialMode: Boolean =
    aggregateExpressions.headOption.exists(_.mode == Partial)

  private def aggregateFunctions: Seq[DeclarativeAggregate] =
    aggregateExpressions.map(_.aggregateFunction
      .asInstanceOf[DeclarativeAggregate])

  private def bufferAttrs: Seq[AttributeReference] =
    aggregateFunctions.flatMap(_.aggBufferAttributes)

  private def groupingAttrs: Seq[Attribute] =
    groupingExpressions.map(_.toAttribute)

  /** Attributes the resultExpressions are bound against: Complete mode
    * sees the evaluated aggregate values; Partial passes raw buffers —
    * which the planner names by the function's inputAggBufferAttributes
    * (fresh exprIds mirroring aggBufferAttributes slot for slot). */
  private def resultInputAttrs: Seq[Attribute] =
    if (partialMode)
      groupingAttrs ++ aggregateFunctions.flatMap(_.inputAggBufferAttributes)
    else groupingAttrs ++ aggregateAttributes

  override def output: Seq[Attribute] = resultExpressions.map(_.toAttribute)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext,
      "number of output rows"))

  override def requiredChildDistribution: Seq[Distribution] =
    requiredChildDistributionExpressions match {
      case Some(exprs) if exprs.isEmpty => AllTuples :: Nil
      case Some(exprs) => ClusteredDistribution(exprs) :: Nil
      case None => UnspecifiedDistribution :: Nil
    }

  // `keyOrdering` records the ordering the rewrite matched (it may exceed
  // what the child REPORTS — SortMergeJoin under-reports to its join keys
  // though it preserves the streamed side's full order). Declare NO
  // ordering requirement: the rewrite rule is the guarantee, and a
  // declared requirement the child under-reports would make a later
  // EnsureRequirements pass insert a useless sort.
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(Nil)

  override def outputPartitioning = child.outputPartitioning

  /** Groups are emitted in input-key order; the ordering survives for any
    * matched-ordering prefix whose attributes pass through to the output
    * (downstream windows/SMJs on the keys then need no sort). */
  override def outputOrdering: Seq[SortOrder] = {
    val outIds = output.map(_.exprId).toSet
    keyOrdering.takeWhile {
      case SortOrder(a: Attribute, _, _, _) => outIds.contains(a.exprId)
      case _ => false
    }
  }

  // ----------------------------------------------------------------- exec
  // Interpreted fallback (codegen-disabled sessions / compile fallback):
  // same streaming loop over MutableProjections.
  protected override def doExecute(): RDD[InternalRow] = {
    val numOutput = longMetric("numOutputRows")
    val aggFns = aggregateFunctions
    val bufAttrs = bufferAttrs
    val childOutput = child.output
    val groupExprs = groupingExpressions
    val gAttrs = groupingAttrs
    val initExprs = aggFns.flatMap(_.initialValues)
    val updateExprs = aggFns.flatMap(_.updateExpressions)
    val evalExprs: Seq[Expression] =
      if (partialMode) bufAttrs else aggFns.map(_.evaluateExpression)
    val resExprs = resultExpressions
    val resInAttrs = resultInputAttrs
    val isPartial = partialMode
    child.execute().mapPartitions { iter =>
      new Iterator[InternalRow] {
        private val buffer = new SpecificInternalRow(bufAttrs.map(_.dataType))
        private val initProj = MutableProjection.create(initExprs, Nil)
        initProj.target(buffer)
        private val updateProj =
          MutableProjection.create(updateExprs, bufAttrs ++ childOutput)
        updateProj.target(buffer)
        private val keyProj = UnsafeProjection.create(groupExprs, childOutput)
        private val evalProj = UnsafeProjection.create(
          bindReferences[Expression](evalExprs, bufAttrs))
        private val resultProj = UnsafeProjection.create(resExprs, resInAttrs)
        private val updateJoin = new JoinedRow
        private val resultJoin = new JoinedRow
        private var currentKey: UnsafeRow = null
        private var pending: InternalRow = null
        private var exhausted = false

        override def hasNext: Boolean = pending != null || advance()

        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          val r = pending
          pending = null
          r
        }

        private def emit(): InternalRow = {
          numOutput += 1
          resultProj(resultJoin(currentKey, evalProj(buffer)))
        }

        private def advance(): Boolean = {
          if (exhausted) return false
          while (iter.hasNext) {
            val row = iter.next()
            val key = keyProj(row)
            if (currentKey == null) {
              currentKey = key.copy()
              initProj(InternalRow.empty)
              updateProj(updateJoin(buffer, row))
            } else if (key == currentKey) {
              updateProj(updateJoin(buffer, row))
            } else {
              pending = emit()
              currentKey = key.copy()
              initProj(InternalRow.empty)
              updateProj(updateJoin(buffer, row))
              return true
            }
          }
          exhausted = true
          if (currentKey != null) {
            pending = emit()
            currentKey = null
            true
          } else false
        }
      }
    }
  }

  // -------------------------------------------------------------- codegen
  override def inputRDDs(): Seq[RDD[InternalRow]] =
    child.asInstanceOf[CodegenSupport].inputRDDs()

  override def usedInputs: AttributeSet = references

  override def supportCodegen: Boolean = true

  // per-compilation state shared between doProduce and doConsume (the
  // HashAggregateExec pattern: produce creates the fields, consume —
  // invoked from within the child's produce — references them)
  @transient private var initVar: String = _
  @transient private var finishedVar: String = _
  @transient private var keyVars: Seq[ExprCode] = _
  @transient private var bufVars: Seq[ExprCode] = _

  private def declareStateVar(ctx: CodegenContext, a: Attribute,
      prefix: String): ExprCode = {
    val jt = CodeGenerator.javaType(a.dataType)
    val value = ctx.addMutableState(jt, s"${prefix}Val")
    val isNull = ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN,
      s"${prefix}Null")
    ExprCode(EmptyBlock, JavaCode.isNullGlobal(isNull),
      JavaCode.global(value, a.dataType))
  }

  /** Deep-copy expression for values stored across rows: vectorized
    * readers reuse the backing memory of strings/binaries per batch. */
  private def copyOf(value: String, dt: DataType): String = dt match {
    case StringType => s"$value.clone()"
    case BinaryType => s"java.util.Arrays.copyOf($value, $value.length)"
    case _ => value
  }

  /** Null-safe equality including SQL grouping semantics (null == null,
    * NaN == NaN — HashAggregate compares key BYTES, so the streaming
    * compare must treat NaN/NaN and null/null as the same group too). */
  private def keysEqualCode(ctx: CodegenContext, a: ExprCode, b: ExprCode,
      dt: DataType): String = {
    val eq = dt match {
      case DoubleType => s"(java.lang.Double.compare(${a.value}, ${b.value}) == 0)"
      case FloatType => s"(java.lang.Float.compare(${a.value}, ${b.value}) == 0)"
      case _ => s"(${ctx.genEqual(dt, a.value.toString, b.value.toString)})"
    }
    s"((${a.isNull} && ${b.isNull}) || (!${a.isNull} && !${b.isNull} && $eq))"
  }

  /** Close the current group: evaluate finals, build result vars, feed the
    * parent's consume. Fresh code per call site (two sites: key change,
    * end-of-input flush). */
  private def genEmit(ctx: CodegenContext): String = {
    val numOutput = metricTerm(ctx, "numOutputRows")
    val resultVars: Seq[ExprCode] = if (partialMode) {
      ctx.currentVars = keyVars ++ bufVars
      ctx.INPUT_ROW = null
      bindReferences[Expression](resultExpressions, resultInputAttrs)
        .map(_.genCode(ctx))
    } else {
      ctx.currentVars = bufVars
      ctx.INPUT_ROW = null
      val evalCodes = bindReferences[Expression](
        aggregateFunctions.map(_.evaluateExpression), bufferAttrs)
        .map(_.genCode(ctx))
      val evalBlock = evalCodes.map(_.code.toString).mkString("\n")
      val evalVars = evalCodes.map(_.copy(code = EmptyBlock))
      ctx.currentVars = keyVars ++ evalVars
      val rv = bindReferences[Expression](resultExpressions, resultInputAttrs)
        .map(_.genCode(ctx))
      return s"""
        |$evalBlock
        |${rv.map(_.code.toString).mkString("\n")}
        |$numOutput.add(1);
        |${consume(ctx, rv.map(_.copy(code = EmptyBlock)))}
      """.stripMargin
    }
    s"""
      |${resultVars.map(_.code.toString).mkString("\n")}
      |$numOutput.add(1);
      |${consume(ctx, resultVars.map(_.copy(code = EmptyBlock)))}
    """.stripMargin
  }

  protected override def doProduce(ctx: CodegenContext): String = {
    initVar = ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN, "ssaInit")
    finishedVar = ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN, "ssaDone")
    keyVars = groupingAttrs.map(declareStateVar(ctx, _, "ssaKey"))
    bufVars = bufferAttrs.map(declareStateVar(ctx, _, "ssaBuf"))
    val childProduce =
      child.asInstanceOf[CodegenSupport].produce(ctx, this)
    val flush = genEmit(ctx)
    s"""
      |$childProduce
      |// streaming-sorted-aggregate final flush: only after the child
      |// iterator is EXHAUSTED (a shouldStop pause re-enters above)
      |if (shouldStop()) return;
      |if (!$finishedVar) {
      |  $finishedVar = true;
      |  if ($initVar) {
      |    $flush
      |  }
      |}
    """.stripMargin
  }

  override def doConsume(ctx: CodegenContext, input: Seq[ExprCode],
      row: ExprCode): String = {
    // materialize every referenced input column once, up front
    val evaluateInputs = evaluateRequiredVariables(child.output, input,
      references)
    // new row's grouping key values: evaluate the full grouping
    // expressions (float/double keys arrive as
    // knownfloatingpointnormalized(normalizenanandzero(attr)) aliases —
    // the normalization must run per row, exactly as HashAggregate does)
    ctx.currentVars = input
    ctx.INPUT_ROW = null
    val keyExprs: Seq[Expression] = groupingExpressions.map {
      case a: Alias => a.child
      case e => e
    }
    val newKeys = bindReferences[Expression](keyExprs, child.output)
      .map(_.genCode(ctx))
    val keyCmp =
      if (groupingAttrs.isEmpty) "true"
      else groupingAttrs.indices.map { i =>
        keysEqualCode(ctx, keyVars(i), newKeys(i), groupingAttrs(i).dataType)
      }.mkString(" && ")
    val emit = genEmit(ctx)
    val storeKeys = groupingAttrs.indices.map { i =>
      val dt = groupingAttrs(i).dataType
      s"""
        |${keyVars(i).isNull} = ${newKeys(i).isNull};
        |${keyVars(i).value} = ${newKeys(i).isNull}
        |  ? ${CodeGenerator.defaultValue(dt)}
        |  : ${copyOf(newKeys(i).value.toString, dt)};
      """.stripMargin
    }.mkString("\n")
    // buffer initial values: literals/foldables, no input references
    ctx.currentVars = null
    ctx.INPUT_ROW = null
    val initCodes = aggregateFunctions.flatMap(_.initialValues)
      .map(_.genCode(ctx))
    val initBuffers = bufferAttrs.indices.map { i =>
      s"""
        |${initCodes(i).code}
        |${bufVars(i).isNull} = ${initCodes(i).isNull};
        |${bufVars(i).value} = ${initCodes(i).value};
      """.stripMargin
    }.mkString("\n")
    // per-row update: evaluate every new buffer value into temps first
    // (updates may cross-reference buffer slots), then store
    ctx.currentVars = bufVars ++ input
    ctx.INPUT_ROW = null
    val updateCodes = bindReferences(
      aggregateFunctions.flatMap(_.updateExpressions),
      bufferAttrs ++ child.output).map(_.genCode(ctx))
    val storeBuffers = bufferAttrs.indices.map { i =>
      val dt = bufferAttrs(i).dataType
      s"""
        |${bufVars(i).isNull} = ${updateCodes(i).isNull};
        |${bufVars(i).value} = ${updateCodes(i).isNull}
        |  ? ${CodeGenerator.defaultValue(dt)}
        |  : ${copyOf(updateCodes(i).value.toString, dt)};
      """.stripMargin
    }.mkString("\n")
    s"""
      |$evaluateInputs
      |${newKeys.map(_.code.toString).mkString("\n")}
      |if (!$initVar || !($keyCmp)) {
      |  if ($initVar) {
      |    $emit
      |  }
      |  $initVar = true;
      |  $storeKeys
      |  $initBuffers
      |}
      |${updateCodes.map(_.code.toString).mkString("\n")}
      |$storeBuffers
    """.stripMargin
  }

  override def simpleString(maxFields: Int): String =
    s"StreamingSortedAggregate(keys=${groupingExpressions.mkString(", ")}, " +
      s"functions=${aggregateExpressions.mkString(", ")})"

  override protected def withNewChildInternal(newChild: SparkPlan) =
    copy(child = newChild)
}

/** AQE stage-prep rewrite: a hash aggregate whose child already delivers
  * the grouping keys as a CONTIGUOUS sorted prefix (graft's bucketed
  * sorted layouts, or any sort the plan retained) becomes the codegen'd
  * streaming aggregate above. Fires on Complete (the
  * [[CollapseSingleStageAggregate]] output over co-partitioned input —
  * distribution already proven by the exchange-free plan) and Partial
  * (safe under any partitioning; the final merge re-aggregates). All
  * functions must be declarative, non-distinct, unfiltered, with
  * codegen-friendly primitive/string key and buffer types.
  * `spark.graft.streamingSortedAgg=false` disables. */
class StreamingSortedAggregate(spark: SparkSession) extends Rule[SparkPlan] {

  private def enabled: Boolean =
    spark.conf.getOption(StreamingSortedAggregate.KEY).forall(_.toBoolean)

  private def hybridEnabled: Boolean =
    spark.conf.getOption(StreamingSortedAggregate.HYBRID_KEY).forall(_.toBoolean)

  private def supportedType(dt: DataType): Boolean = dt match {
    case StringType | BinaryType => true
    case _: DecimalType => true
    case _ => CodeGenerator.isPrimitiveType(dt)
  }

  /** The attribute a grouping expression keys on, seen through the
    * planner's float/double normalization wrappers (normalized values
    * form contiguous runs in attribute-sorted input: every NaN bit
    * pattern sorts equal, and -0.0/0.0 sort adjacent). */
  private def underlying(e: Expression): Option[Attribute] = e match {
    case a: AttributeReference => Some(a)
    case al: Alias => underlying(al.child)
    case KnownFloatingPointNormalized(c) => underlying(c)
    case org.apache.spark.sql.catalyst.optimizer.NormalizeNaNAndZero(c) =>
      underlying(c)
    case _ => None
  }

  /** The child's EFFECTIVE local ordering — what the rows actually arrive
    * in, which can exceed what the operator reports: a sort-merge join
    * streams its left side in that side's FULL file order (inner /
    * left-outer / left-semi / left-anti all iterate the streamed side in
    * order and only drop or pad rows), but SortMergeJoinExec reports just
    * the join keys. Projections and filters pass order through for
    * attributes they forward unchanged. */
  private def effectiveOrdering(p: SparkPlan): Seq[SortOrder] = p match {
    case smj: org.apache.spark.sql.execution.joins.SortMergeJoinExec
        if smj.joinType == org.apache.spark.sql.catalyst.plans.Inner ||
          smj.joinType == org.apache.spark.sql.catalyst.plans.LeftOuter ||
          smj.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi ||
          smj.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti =>
      val lo0 = effectiveOrdering(smj.left)
      val lo =
        if (smj.joinType == org.apache.spark.sql.catalyst.plans.Inner)
          withJoinEquivalence(lo0, smj.leftKeys, smj.rightKeys, smj.output)
        else lo0
      if (lo.length > smj.outputOrdering.length) lo else smj.outputOrdering
    // a shuffled hash join streams its probe (streamed) side row by row —
    // inner/semi/anti emit matches per streamed row, left-outer pads in
    // place — so the streamed side's arrival order survives even though
    // ShuffledHashJoinExec reports no outputOrdering at all. Matters when
    // AQE re-plans an SMJ over a sorted layout scan into an SHJ
    // (maxShuffledHashJoinLocalMapThreshold): the streaming/hybrid
    // aggregate above must keep firing.
    case shj: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
        if {
          val streamedLeft = shj.buildSide ==
            org.apache.spark.sql.catalyst.optimizer.BuildRight
          shj.joinType == org.apache.spark.sql.catalyst.plans.Inner ||
          ((shj.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi ||
            shj.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti ||
            shj.joinType == org.apache.spark.sql.catalyst.plans.LeftOuter) &&
            streamedLeft)
        } =>
      // inner emits matches per streamed row (either build side); for
      // semi/anti/left-outer the guarantee only holds when the LEFT side
      // is the streamed one (a streamed BUILD side emits its rows from
      // the hash map, not in arrival order)
      val streamedLeft = shj.buildSide ==
        org.apache.spark.sql.catalyst.optimizer.BuildRight
      val streamed = if (streamedLeft) shj.left else shj.right
      val so = effectiveOrdering(streamed)
      // inner equi-join: every output row satisfies streamedKey =
      // otherKey, so an ordering on the streamed key IS an ordering on
      // the partner key — publish the equivalence the same way
      // SortMergeJoinExec's own getKeyOrdering does (q22 groups by
      // o_orderkey while the layout order is l_orderkey; without this
      // the hybrid aggregate stops firing when AQE re-plans SMJ→SHJ).
      // NOT for left-outer: padded rows carry a NULL partner key, so the
      // equivalence (and run contiguity on the partner key) breaks.
      if (shj.joinType == org.apache.spark.sql.catalyst.plans.Inner) {
        val (sKeys, oKeys) =
          if (streamedLeft) (shj.leftKeys, shj.rightKeys)
          else (shj.rightKeys, shj.leftKeys)
        withJoinEquivalence(so, sKeys, oKeys, shj.output)
      } else so
    case proj: org.apache.spark.sql.execution.ProjectExec =>
      // a sort order survives projection if its child OR any recorded
      // same-order expression is forwarded — when the child itself is
      // pruned (q22's Project above the join keeps o_orderkey and drops
      // l_orderkey), a surviving equivalent is promoted to the child
      val outIds = proj.output.map(_.exprId).toSet
      val co = effectiveOrdering(proj.child).iterator.map { so =>
        val alts = (so.child +: so.sameOrderExpressions).collect {
          case a: Attribute if outIds.contains(a.exprId) => a
        }
        alts.headOption.map(h =>
          so.copy(child = h, sameOrderExpressions = alts.tail))
      }.takeWhile(_.isDefined).map(_.get).toSeq
      if (co.length > proj.outputOrdering.length) co else proj.outputOrdering
    case f: org.apache.spark.sql.execution.FilterExec =>
      effectiveOrdering(f.child)
    case _ => p.outputOrdering
  }

  /** Publish streamed-key = partner-key equivalence on an inner equi-join's
    * passed-through ordering (the same contract SortMergeJoinExec's
    * getKeyOrdering publishes through SortOrder.sameOrderExpressions). */
  private def withJoinEquivalence(ord: Seq[SortOrder],
      streamedKeys: Seq[Expression], otherKeys: Seq[Expression],
      output: Seq[Attribute]): Seq[SortOrder] = {
    val outIds = output.map(_.exprId).toSet
    ord.map { so =>
      so.child match {
        case a: Attribute =>
          val partners = streamedKeys.zip(otherKeys).collect {
            case (m: Attribute, o: Attribute)
                if m.exprId == a.exprId && outIds.contains(o.exprId) => o
          }
          if (partners.isEmpty) so
          else so.copy(
            sameOrderExpressions = so.sameOrderExpressions ++ partners)
        case _ => so
      }
    }
  }

  /** All attribute ids a SortOrder orders by (child + recorded
    * equivalences). */
  private def orderIds(so: SortOrder): Seq[ExprId] =
    (so.child +: so.sameOrderExpressions).collect {
      case a: Attribute => a.exprId
    }

  /** The child ordering prefix covering all grouping keys, if one exists.
    * Each prefix position may match its grouping key through a recorded
    * same-order equivalence (inner-join key equality). */
  private def sortedPrefix(agg: BaseAggregateExec): Option[Seq[SortOrder]] = {
    val n = agg.groupingExpressions.length
    val prefix = effectiveOrdering(agg.child).take(n)
    if (prefix.length != n) return None
    val groupIds = agg.groupingExpressions.flatMap(underlying).map(_.exprId)
    if (groupIds.length != n || groupIds.distinct.length != n) return None
    val remaining = scala.collection.mutable.Set(groupIds: _*)
    val ok = prefix.forall(so => orderIds(so).find(remaining.contains) match {
      case Some(id) => remaining.remove(id); true
      case None => false
    })
    if (ok && remaining.isEmpty) Some(prefix) else None
  }

  private def fires(agg: BaseAggregateExec): Boolean =
    !agg.isStreaming &&
      agg.groupingExpressions.nonEmpty &&
      agg.groupingExpressions.forall(g => underlying(g).isDefined) &&
      agg.aggregateExpressions.nonEmpty &&
      (agg.aggregateExpressions.forall(_.mode == Complete) ||
        agg.aggregateExpressions.forall(_.mode == Partial)) &&
      agg.aggregateExpressions.forall(ae =>
        !ae.isDistinct && ae.filter.isEmpty &&
          ae.aggregateFunction.isInstanceOf[DeclarativeAggregate]) &&
      agg.groupingExpressions.forall(g => supportedType(g.dataType)) &&
      agg.aggregateExpressions.flatMap(
        _.aggregateFunction.aggBufferAttributes)
        .forall(b => supportedType(b.dataType))

  private def rewrite(agg: BaseAggregateExec): SparkPlan =
    sortedPrefix(agg) match {
      case Some(ordering) =>
        StreamingSortedAggregateExec(
          agg.requiredChildDistributionExpressions,
          agg.groupingExpressions,
          agg.aggregateExpressions,
          agg.aggregateAttributes,
          agg.resultExpressions,
          ordering,
          agg.child)
      case None if hybridEnabled => rewriteHybrid(agg)
      case None => agg
    }

  // ── strict-prefix hybrid (round-13 verdict ask #4): grouping keys that
  // EXTEND the child's sort prefix run through RunHashAggregateExec — a
  // bounded per-run hash flushed at prefix-run boundaries, serving plain
  // single-key-sorted layouts without the extended-sort rewrite (the
  // reference's segmented/pre-grouped aggregation path). ──

  /** In-place-updatable buffer types for the run map's UnsafeRow buffers. */
  private def fixedWidth(dt: DataType): Boolean = dt match {
    case d: DecimalType => d.precision <= Decimal.MAX_LONG_DIGITS
    case _ => CodeGenerator.isPrimitiveType(dt)
  }

  /** The longest effective-ordering prefix made of (distinct) grouping
    * keys that does NOT cover the whole grouping set. Returns the ordering
    * prefix and the matching grouping expressions. */
  private def strictPrefix(agg: BaseAggregateExec)
      : Option[(Seq[SortOrder], Seq[NamedExpression])] = {
    val byId = agg.groupingExpressions.flatMap(g =>
      underlying(g).map(_.exprId -> g)).toMap
    if (byId.size != agg.groupingExpressions.length) return None
    // a position may match its grouping key through a recorded same-order
    // equivalence (inner-join key equality: layout order on l_orderkey
    // covers a GROUP BY o_orderkey)
    val seen = scala.collection.mutable.Set.empty[ExprId]
    val pairs = effectiveOrdering(agg.child).iterator.map { so =>
      val m = orderIds(so).find(id => byId.contains(id) && !seen.contains(id))
      m.foreach(seen.add)
      (so, m)
    }.takeWhile(_._2.isDefined).toSeq
    val prefix = pairs.map(_._1)
    if (prefix.isEmpty || prefix.length >= agg.groupingExpressions.length)
      None
    else Some((prefix, pairs.map(p => byId(p._2.get))))
  }

  private def rewriteHybrid(agg: BaseAggregateExec): SparkPlan = {
    // Partial mode only: its run map is capped at maxRunRows (a mid-run
    // flush just emits a duplicate partial group the final merge folds).
    // The Complete-mode leg had no such escape and measured a loss at sf30
    // (q22 4.85 s vs 2.79 s) and a wash at sf100
    // (bench/AB_sf{30,100}_q22_hybrid_equiv.json).
    if (!agg.aggregateExpressions.headOption.exists(_.mode == Partial))
      return agg
    val bufferOk = agg.aggregateExpressions
      .flatMap(_.aggregateFunction.aggBufferAttributes)
      .forall(b => fixedWidth(b.dataType))
    if (!bufferOk) return agg
    // Size floor (the DSJP factMinBytes pattern): at small scale the
    // per-row run-map lookup costs more than the tiny hash table it
    // replaces — measured at the sf0.1 flat bench, where the hybrid
    // fired on SMJ-shuffled groupings and cost +0.2 s per sub-second
    // query. The win regime is big sorted inputs whose global hash
    // would thrash (q22/h21 over sf30+ layouts). Leaf scan bytes via
    // the logical link — the same input-size notion the probe rule
    // uses; an unresolvable link conservatively keeps the hash agg.
    // A malformed conf value falls back to the 64 MB default (the same
    // defensive read as Bucketing's conf parsing).
    val floor = spark.conf
      .getOption(StreamingSortedAggregate.HYBRID_MIN_KEY)
      .flatMap(v => scala.util.Try(v.toLong).toOption).getOrElse(64L << 20)
    if (floor > 0) {
      val leafBytes = agg.child.logicalLink
        .map(_.collectLeaves().map(_.stats.sizeInBytes).sum)
        .getOrElse(BigInt(0))
      if (leafBytes < floor) return agg
    }
    val maxRunRows = spark.conf
      .getOption(StreamingSortedAggregate.HYBRID_MAX_RUN_KEY)
      .flatMap(v => scala.util.Try(v.toInt).toOption).getOrElse(1 << 20)
    strictPrefix(agg) match {
      case Some((ordering, prefixExprs)) =>
        RunHashAggregateExec(
          agg.groupingExpressions,
          prefixExprs,
          agg.aggregateExpressions,
          agg.resultExpressions,
          ordering,
          maxRunRows,
          agg.child)
      case None => agg
    }
  }

  /** The plan's effective ordering at `p`, looking through projections to
    * a converted streaming aggregate (whose emitted order the planner
    * could not know when it inserted sorts). */
  private def orderedBelow(p: SparkPlan): Seq[SortOrder] = p match {
    case s: StreamingSortedAggregateExec => s.outputOrdering
    case proj: org.apache.spark.sql.execution.ProjectExec =>
      val outIds = proj.output.map(_.exprId).toSet
      orderedBelow(proj.child).takeWhile {
        case SortOrder(a: Attribute, _, _, _) => outIds.contains(a.exprId)
        case _ => false
      }
    case f: org.apache.spark.sql.execution.FilterExec => orderedBelow(f.child)
    case _ => Nil
  }

  override def apply(plan: SparkPlan): SparkPlan = {
    if (!enabled) return plan
    val converted = plan.transformUp {
      // hash aggregate whose input happens to arrive sorted (graft
      // bucketed sorted layouts): drop the thrashing hash table
      case agg: HashAggregateExec if fires(agg) => rewrite(agg)
      // sort aggregate (Spark's pick when a buffer type isn't hash-
      // aggregable, e.g. max over strings): same streaming semantics,
      // but OURS runs inside whole-stage codegen — SortAggregateExec
      // with grouping keys does not
      case agg: SortAggregateExec if fires(agg) => rewrite(agg)
    }
    // a LOCAL sort the planner placed above what is now a streaming
    // aggregate (e.g. a window's partition sort) is redundant when the
    // aggregate's emitted order already satisfies it
    converted.transformUp {
      case s: org.apache.spark.sql.execution.SortExec if !s.global &&
          SortOrder.orderingSatisfies(orderedBelow(s.child), s.sortOrder) =>
        s.child
    }
  }
}

object StreamingSortedAggregate {
  val KEY = "spark.graft.streamingSortedAgg"
  val HYBRID_KEY = "spark.graft.streamingSortedAgg.hybrid"
  val HYBRID_MIN_KEY = "spark.graft.streamingSortedAgg.hybridMinBytes"
  val HYBRID_MAX_RUN_KEY = "spark.graft.streamingSortedAgg.hybridMaxRunRows"
}
