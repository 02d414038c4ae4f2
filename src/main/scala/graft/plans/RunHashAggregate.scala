package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.BindReferences.bindReferences
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, DeclarativeAggregate}
import org.apache.spark.sql.catalyst.expressions.codegen._
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.execution.{CodegenSupport, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types._

/** Hybrid streaming aggregate for STRICT-PREFIX sorted input — grouping
  * keys that EXTEND the child's sort prefix (round-13's documented
  * StreamingSortedAggregate limitation): `GROUP BY (l_orderkey, l_suppkey)`
  * over a layout sorted only by l_orderkey. The reference places its
  * streaming aggregation on any covering local ordering and falls back to
  * segmented ("pre-grouped") execution when the ordering covers a prefix
  * of the keys (MAIN/sql/planner/LocalExecutionPlanner.java:1063 — the
  * preGroupedSymbols path): per run of equal prefix values it aggregates
  * the remaining keys in a hash table bounded by the RUN's group count,
  * flushed at every run boundary.
  *
  * Why this beats HashAggregateExec on sorted layouts: the global hash
  * table over 40 M+ groups thrashes (avgHashProbe ≈ 512 measured sf30)
  * while the per-run table here holds the handful of groups one prefix
  * value produces (≤ 7 lineitems per order) — it stays L1-resident, and
  * its memory bound is the LARGEST RUN, not the key cardinality, so the
  * operator needs no spill path at any scale where the layout contract
  * holds (the layout's sort key runs are row-group-bounded). The
  * operator runs PARTIAL aggregation only, so degenerate runs (a
  * near-constant prefix) stay safe too: `maxRunRows` caps the map — at
  * the cap the run flushes mid-run (legal: the downstream final merge
  * recombines the partial rows), hard-bounding memory at any input.
  *
  * Whole-stage codegen: per input row — build the full grouping key
  * (inline UnsafeProjection), compare the prefix against the running
  * value; on change, loop the map entries through `consume` (multiple
  * appends per input row are legal: BufferedRowIterator queues them) and
  * clear; then probe/insert and update the fixed-width UnsafeRow buffer
  * in place. Buffers are restricted to fixed-width types (primitives,
  * compact decimals) so in-place UnsafeRow updates are sound; other
  * buffer types keep Spark's hash aggregate.
  */
case class RunHashAggregateExec(
    groupingExpressions: Seq[NamedExpression],
    prefixExpressions: Seq[NamedExpression],
    aggregateExpressions: Seq[AggregateExpression],
    resultExpressions: Seq[NamedExpression],
    keyOrdering: Seq[SortOrder],
    maxRunRows: Int,
    child: SparkPlan) extends UnaryExecNode with CodegenSupport {

  private def aggregateFunctions: Seq[DeclarativeAggregate] =
    aggregateExpressions.map(_.aggregateFunction
      .asInstanceOf[DeclarativeAggregate])

  private def bufferAttrs: Seq[AttributeReference] =
    aggregateFunctions.flatMap(_.aggBufferAttributes)

  private def groupingAttrs: Seq[Attribute] =
    groupingExpressions.map(_.toAttribute)

  /** Partial results pass raw buffers, which the planner names by the
    * functions' inputAggBufferAttributes. */
  private def resultInputAttrs: Seq[Attribute] =
    groupingAttrs ++ aggregateFunctions.flatMap(_.inputAggBufferAttributes)

  override def output: Seq[Attribute] = resultExpressions.map(_.toAttribute)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext,
      "number of output rows"),
    "maxRunGroups" -> SQLMetrics.createMetric(sparkContext,
      "max groups in one run"))

  // the rewrite rule is the ordering guarantee (the child may UNDER-report
  // its order through SMJ) — see StreamingSortedAggregateExec
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(Nil)

  override def outputPartitioning = child.outputPartitioning

  /** Runs are emitted in prefix order; within a run insertion order. Only
    * the PREFIX ordering survives (for prefix attrs that reach output). */
  override def outputOrdering: Seq[SortOrder] = {
    val outIds = output.map(_.exprId).toSet
    keyOrdering.take(prefixExpressions.length).takeWhile {
      case SortOrder(a: Attribute, _, _, _) => outIds.contains(a.exprId)
      case _ => false
    }
  }

  // ----------------------------------------------------------------- exec
  // Interpreted fallback: same run-bounded map over MutableProjections.
  protected override def doExecute(): RDD[InternalRow] = {
    val numOutput = longMetric("numOutputRows")
    val maxRun = longMetric("maxRunGroups")
    val aggFns = aggregateFunctions
    val bufAttrs = bufferAttrs
    val childOutput = child.output
    val groupExprs = groupingExpressions
    val prefixExprs = prefixExpressions
    val initExprs = aggFns.flatMap(_.initialValues)
    val updateExprs = aggFns.flatMap(_.updateExpressions)
    val resExprs = resultExpressions
    val resInAttrs = resultInputAttrs
    child.execute().mapPartitions { iter =>
      new Iterator[InternalRow] {
        private val keyProj = UnsafeProjection.create(groupExprs, childOutput)
        private val prefixProj = UnsafeProjection.create(prefixExprs, childOutput)
        private val initProj = MutableProjection.create(initExprs, Nil)
        private val updateProj =
          MutableProjection.create(updateExprs, bufAttrs ++ childOutput)
        private val resultProj = UnsafeProjection.create(resExprs, resInAttrs)
        private val updateJoin = new JoinedRow
        private val resultJoin = new JoinedRow
        private val map =
          new java.util.LinkedHashMap[UnsafeRow, SpecificInternalRow]()
        private var currentPrefix: UnsafeRow = null
        // closed run's groups, snapshotted BEFORE the new run's first row
        // is inserted (iterating the live map while inserting would throw)
        private var flush: Array[java.util.Map.Entry[UnsafeRow, SpecificInternalRow]] = null
        private var flushIdx = 0
        private var exhausted = false

        override def hasNext: Boolean =
          (flush != null && flushIdx < flush.length) || advance()

        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          val e = flush(flushIdx)
          flushIdx += 1
          if (flushIdx == flush.length) flush = null
          numOutput += 1
          resultProj(resultJoin(e.getKey, e.getValue))
        }

        private def snapshotAndClear(): Unit = {
          maxRun.set(math.max(maxRun.value, map.size().toLong))
          flush = map.entrySet().toArray(
            new Array[java.util.Map.Entry[UnsafeRow, SpecificInternalRow]](map.size()))
          flushIdx = 0
          map.clear()
        }

        private def advance(): Boolean = {
          if (exhausted) return false
          while (iter.hasNext) {
            val row = iter.next()
            val prefix = prefixProj(row)
            if (currentPrefix == null) currentPrefix = prefix.copy()
            else if (prefix != currentPrefix) {
              currentPrefix = prefix.copy()
              if (!map.isEmpty) {
                snapshotAndClear()
                update(row)
                return true
              }
            }
            update(row)
            // memory cap: flush the run's map mid-run (the downstream
            // merge recombines the partial rows)
            if (maxRunRows > 0 && map.size() >= maxRunRows) {
              snapshotAndClear()
              return true
            }
          }
          exhausted = true
          if (!map.isEmpty) {
            snapshotAndClear()
            true
          } else false
        }

        private def update(row: InternalRow): Unit = {
          val key = keyProj(row)
          var buf = map.get(key)
          if (buf == null) {
            buf = new SpecificInternalRow(bufAttrs.map(_.dataType))
            initProj.target(buf)(InternalRow.empty)
            map.put(key.copy(), buf)
          }
          updateProj.target(buf)(updateJoin(buf, row))
        }
      }
    }
  }

  // -------------------------------------------------------------- codegen
  override def inputRDDs(): Seq[RDD[InternalRow]] =
    child.asInstanceOf[CodegenSupport].inputRDDs()

  override def usedInputs: AttributeSet = references

  override def supportCodegen: Boolean = true

  @transient private var initVar: String = _
  @transient private var finishedVar: String = _
  @transient private var mapVar: String = _
  @transient private var prefixVars: Seq[ExprCode] = _

  private def declareStateVar(ctx: CodegenContext, a: Attribute,
      prefix: String): ExprCode = {
    val jt = CodeGenerator.javaType(a.dataType)
    val value = ctx.addMutableState(jt, s"${prefix}Val")
    val isNull = ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN,
      s"${prefix}Null")
    ExprCode(EmptyBlock, JavaCode.isNullGlobal(isNull),
      JavaCode.global(value, a.dataType))
  }

  private def copyOf(value: String, dt: DataType): String = dt match {
    case StringType => s"$value.clone()"
    case BinaryType => s"java.util.Arrays.copyOf($value, $value.length)"
    case _ => value
  }

  private def keysEqualCode(ctx: CodegenContext, a: ExprCode, b: ExprCode,
      dt: DataType): String = {
    val eq = dt match {
      case DoubleType => s"(java.lang.Double.compare(${a.value}, ${b.value}) == 0)"
      case FloatType => s"(java.lang.Float.compare(${a.value}, ${b.value}) == 0)"
      case _ => s"(${ctx.genEqual(dt, a.value.toString, b.value.toString)})"
    }
    s"((${a.isNull} && ${b.isNull}) || (!${a.isNull} && !${b.isNull} && $eq))"
  }

  /** Flush loop: iterate the map, rebuild result rows, feed consume, clear.
    * Fresh generated names per call site. */
  private def genFlush(ctx: CodegenContext): String = {
    val numOutput = metricTerm(ctx, "numOutputRows")
    val maxRun = metricTerm(ctx, "maxRunGroups")
    val it = ctx.freshName("rhaIt")
    val entry = ctx.freshName("rhaEntry")
    val keyRow = ctx.freshName("rhaKeyRow")
    val bufRow = ctx.freshName("rhaBufRow")
    // extract key fields from the stored key row
    ctx.INPUT_ROW = keyRow
    ctx.currentVars = null
    val keyCodes = groupingAttrs.zipWithIndex.map { case (a, i) =>
      BoundReference(i, a.dataType, nullable = true).genCode(ctx)
    }
    // extract buffer fields from the stored buffer row
    ctx.INPUT_ROW = bufRow
    val bufCodes = bufferAttrs.zipWithIndex.map { case (a, i) =>
      BoundReference(i, a.dataType, nullable = true).genCode(ctx)
    }
    ctx.INPUT_ROW = null
    ctx.currentVars = keyCodes.map(_.copy(code = EmptyBlock)) ++
      bufCodes.map(_.copy(code = EmptyBlock))
    val resultVars = bindReferences[Expression](resultExpressions,
      resultInputAttrs).map(_.genCode(ctx))
    s"""
      |$maxRun.set(Math.max($maxRun.value(), (long) $mapVar.size()));
      |java.util.Iterator $it = $mapVar.entrySet().iterator();
      |while ($it.hasNext()) {
      |  java.util.Map.Entry $entry = (java.util.Map.Entry) $it.next();
      |  UnsafeRow $keyRow = (UnsafeRow) $entry.getKey();
      |  UnsafeRow $bufRow = (UnsafeRow) $entry.getValue();
      |  ${keyCodes.map(_.code.toString).mkString("\n")}
      |  ${bufCodes.map(_.code.toString).mkString("\n")}
      |  ${resultVars.map(_.code.toString).mkString("\n")}
      |  $numOutput.add(1);
      |  ${consume(ctx, resultVars.map(_.copy(code = EmptyBlock)))}
      |}
      |$mapVar.clear();
    """.stripMargin
  }

  protected override def doProduce(ctx: CodegenContext): String = {
    initVar = ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN, "rhaInit")
    finishedVar = ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN, "rhaDone")
    mapVar = ctx.addMutableState("java.util.LinkedHashMap", "rhaMap",
      v => s"$v = new java.util.LinkedHashMap();")
    prefixVars = prefixExpressions.map(p =>
      declareStateVar(ctx, p.toAttribute, "rhaPfx"))
    val childProduce =
      child.asInstanceOf[CodegenSupport].produce(ctx, this)
    val flush = genFlush(ctx)
    s"""
      |$childProduce
      |if (shouldStop()) return;
      |if (!$finishedVar) {
      |  $finishedVar = true;
      |  if ($initVar && !$mapVar.isEmpty()) {
      |    $flush
      |  }
      |}
    """.stripMargin
  }

  override def doConsume(ctx: CodegenContext, input: Seq[ExprCode],
      row: ExprCode): String = {
    val evaluateInputs = evaluateRequiredVariables(child.output, input,
      references)
    ctx.currentVars = input
    ctx.INPUT_ROW = null
    def keyed(exprs: Seq[NamedExpression]): Seq[Expression] = exprs.map {
      case a: Alias => a.child
      case e => e
    }
    // prefix values for the run-boundary compare
    val newPrefix = bindReferences[Expression](keyed(prefixExpressions),
      child.output).map(_.genCode(ctx))
    val prefixAttrs = prefixExpressions.map(_.toAttribute)
    val prefixCmp = prefixAttrs.indices.map { i =>
      keysEqualCode(ctx, prefixVars(i), newPrefix(i), prefixAttrs(i).dataType)
    }.mkString(" && ")
    val storePrefix = prefixAttrs.indices.map { i =>
      val dt = prefixAttrs(i).dataType
      s"""
        |${prefixVars(i).isNull} = ${newPrefix(i).isNull};
        |${prefixVars(i).value} = ${newPrefix(i).isNull}
        |  ? ${CodeGenerator.defaultValue(dt)}
        |  : ${copyOf(newPrefix(i).value.toString, dt)};
      """.stripMargin
    }.mkString("\n")
    val flush = genFlush(ctx)
    // full grouping key (inline unsafe projection)
    ctx.currentVars = input
    ctx.INPUT_ROW = null
    val keyCode = GenerateUnsafeProjection.createCode(ctx,
      bindReferences[Expression](keyed(groupingExpressions), child.output))
    // initial buffer row (literals only)
    ctx.currentVars = null
    val initCode = GenerateUnsafeProjection.createCode(ctx,
      aggregateFunctions.flatMap(_.initialValues))
    // buffer field loads for the update
    val bufRow = ctx.freshName("rhaBuf")
    ctx.INPUT_ROW = bufRow
    ctx.currentVars = null
    val bufLoads = bufferAttrs.zipWithIndex.map { case (a, i) =>
      BoundReference(i, a.dataType, nullable = true).genCode(ctx)
    }
    // update expressions over (buffer ++ input)
    ctx.INPUT_ROW = null
    ctx.currentVars = bufLoads.map(_.copy(code = EmptyBlock)) ++ input
    val updateCodes = bindReferences(
      aggregateFunctions.flatMap(_.updateExpressions),
      bufferAttrs ++ child.output).map(_.genCode(ctx))
    val storeBuffers = bufferAttrs.indices.map { i =>
      val dt = bufferAttrs(i).dataType
      s"""
        |if (${updateCodes(i).isNull}) {
        |  $bufRow.setNullAt($i);
        |} else {
        |  ${CodeGenerator.setColumn(bufRow, dt, i, updateCodes(i).value.toString)};
        |}
      """.stripMargin
    }.mkString("\n")
    // memory cap: flush the run's map mid-run at the cap (the
    // downstream merge recombines the partial rows); prefix state is
    // untouched, so the run simply continues into a fresh map
    val capFlush = if (maxRunRows > 0) {
      val f = genFlush(ctx)
      s"""
        |if ($mapVar.size() >= $maxRunRows) {
        |  $f
        |}
      """.stripMargin
    } else ""
    s"""
      |$evaluateInputs
      |${newPrefix.map(_.code.toString).mkString("\n")}
      |if (!$initVar || !($prefixCmp)) {
      |  if ($initVar && !$mapVar.isEmpty()) {
      |    $flush
      |  }
      |  $initVar = true;
      |  $storePrefix
      |}
      |${keyCode.code}
      |UnsafeRow $bufRow = (UnsafeRow) $mapVar.get(${keyCode.value});
      |if ($bufRow == null) {
      |  ${initCode.code}
      |  $bufRow = (UnsafeRow) ${initCode.value}.copy();
      |  $mapVar.put(${keyCode.value}.copy(), $bufRow);
      |}
      |${bufLoads.map(_.code.toString).mkString("\n")}
      |${updateCodes.map(_.code.toString).mkString("\n")}
      |$storeBuffers
      |$capFlush
    """.stripMargin
  }

  override def simpleString(maxFields: Int): String =
    s"RunHashAggregate(prefix=${prefixExpressions.mkString(", ")}, " +
      s"keys=${groupingExpressions.mkString(", ")}, " +
      s"functions=${aggregateExpressions.mkString(", ")})"

  override protected def withNewChildInternal(newChild: SparkPlan) =
    copy(child = newChild)
}
