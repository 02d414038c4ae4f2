package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, CollectList, Complete, Count, Sum}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Linear evaluation for full-partition window arrays — the scale path for
  * per-row dynamic frame bounds and dynamic lag/lead/nth_value arguments
  * (PrestoSql.dynamicFrames / dynamicWindowArgs; reference:
  * WindowOperator/FrameInfo take a bound CHANNEL —
  * MAIN/operator/WindowOperator.java, MAIN/operator/window/FrameInfo.java).
  *
  * The lowerings emit `collect_list(struct(v)) OVER (partition order ROWS
  * BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)` plus a
  * `row_number()`, bound once through a single-element-transform "binder":
  * `element_at(transform(array(struct(a, r, p…))), w -> body), 1)`.
  * Semantically right, but quadratic in the partition twice over (both
  * MEASURED with targeted micro-benchmarks, round 8):
  *
  *   1. WindowExec serializes the O(partition) collect array into EVERY
  *      output UnsafeRow — O(rows²) bytes for a single partition.
  *   2. Spark's interpreted higher-order-function eval pays an
  *      O(array)-per-CALL tax whenever the array flows through a lambda
  *      (one plain element_at per row over a broadcast 160k array: 0.3 s;
  *      the same read wrapped in transform(): 45 s). Both the binder
  *      transform and any per-row fold over the array hit it.
  *
  * This rule removes both with stock operators:
  *
  *   Window [collect_list@UNB..UNB AS a, row_number() AS r] part order
  *   ⇒
  *   Project [parent exprs, binders inlined / prefix-rewritten]
  *   +- Join Inner (part <=> __gk…)               (null-safe: a NULL
  *      :                                          partition key is one
  *      :                                          window partition)
  *      :- Window [row_number() AS r] part (order ++ payload tiebreaks)
  *      :  +- child
  *      +- Project [__gk…, __arr := transform(sorted, x -> x.p),
  *      :           __ps/__ct := transform(sorted, x -> x.rs/x.ct)]
  *      +- Aggregate part [__gk…, sorted := array_sort(collect_list(
  *      :      struct(rn, p, rs, ct)), by rn)]
  *      +- Window [rn := row_number(), rs := sum(v) 1..cur,
  *      :          ct := count(v) 1..cur] part (order ++ tiebreaks)
  *      +- child
  *
  * so the partition array is built ONCE per partition and joined back
  * (probe rows reference the build side's array through the join), and the
  * per-row work contains NO lambda:
  *
  *   - binder INLINING substitutes the struct fields into the body and
  *     drops the transform() wrapper, so element_at-only bodies
  *     (first_value/last_value, dynamic lag/lead/nth_value/ntile) become
  *     plain O(1) column reads;
  *   - for sum/avg/count the lowering tags the binder with a `__dfr`
  *     marker (fn|loKind|hiKind) and the rule replaces the whole fold with
  *     PREFIX-ARRAY reads: rs/ct running sum/count windows (linear,
  *     computed once on the build branch) collected positionally, frame
  *     aggregate = two element_at reads: sum = P[e]−P[s−1] guarded by
  *     C[e]−C[s−1] > 0, where the P[s−1] subtrahend itself reads a typed
  *     zero unless C[s−1] > 0 — the running Sum is NULL over a leading
  *     all-NULL run (C[i] = 0 exactly when P[i] IS NULL), and subtracting
  *     that NULL would poison frames whose own rows are non-null.
  *     Sum/Subtract use LEGACY (wraparound) eval: 2's-
  *     complement prefix differences are exact whenever the true frame sum
  *     fits, and a cumulative prefix must not trip ANSI overflow that the
  *     frame itself would never reach (the final cast back to the value
  *     type keeps ANSI semantics). Gated to integral value types — double
  *     prefix differences are not bit-identical to direct fold sums.
  *     min/max keep the fold (an RMQ sparse table is the stock-op answer
  *     if a workload ever needs giant-partition dynamic min/max).
  *
  * Row/array alignment is positional and exact by construction: the build
  * branch collects `struct(rn, …)` and sorts by rn alone, where rn is a
  * row_number over (window order ++ payload-ascending tiebreaks) — the
  * probe row_number gets the SAME extended order, and rows tying on the
  * full (keys, payload) tuple are interchangeable, so the two independent
  * evaluations of the child agree up to swaps of identical rows — the
  * same guarantee a single WindowExec sort gives (and all either engine
  * promises under ties). `rank`-family functions in the same window are
  * NOT re-ordered (their peer groups would change): they keep a separate
  * Window over the original order.
  *
  * Fires only when it is exact: every order key and payload orderable
  * (the struct(rn, p) wrapper makes collect elements non-null regardless
  * of payload nullability), deterministic child (it is evaluated twice),
  * batch plans only. The conversion triggers on a Project/Filter directly
  * above the Window (where the lowerings put the binders — a bare Window
  * whose collects are marker-targeted elsewhere is left for a later
  * fixed-point iteration so CollapseProject can expose the parent).
  * `spark.graft.dynamicFrameJoin=false` restores the single-branch
  * WindowExec form. */
class DynamicFrameJoin(spark: SparkSession) extends Rule[LogicalPlan] {

  private def enabled: Boolean =
    spark.conf.getOption(DynamicFrameJoin.KEY).forall(_.toBoolean)

  /** Alias of collect_list over an UNBOUNDED..UNBOUNDED rows frame. */
  private object UnbCollect {
    def unapply(ne: NamedExpression): Option[(Alias, Expression)] = ne match {
      case a @ Alias(WindowExpression(ae: AggregateExpression,
          WindowSpecDefinition(_, _, SpecifiedWindowFrame(
            RowFrame, UnboundedPreceding, UnboundedFollowing))), _)
          if !ae.isDistinct && ae.filter.isEmpty =>
        ae.aggregateFunction match {
          case c: CollectList => Some((a, c.child))
          case _ => None
        }
      case _ => None
    }
  }

  private def isRowNumber(ne: NamedExpression): Boolean = ne match {
    case Alias(WindowExpression(_: RowNumber, _), _) => true
    case _ => false
  }

  private def orderable(e: Expression): Boolean =
    TypeUtils.checkForOrderingExpr(e.dataType, "dfj").isSuccess

  /** The lowerings' single-element binder:
    * element_at(transform(array(struct(name→expr…)), w -> body), 1). */
  private object Binder {
    def unapply(e: Expression)
        : Option[(Seq[(String, Expression)], LambdaFunction)] = e match {
      case ElementAt(ArrayTransform(
            CreateArray(Seq(cns: CreateNamedStruct), _), lf: LambdaFunction),
          Literal(1, IntegerType), _, _) =>
        val names = cns.nameExprs.map {
          case Literal(s, StringType) => s.toString
          case other => other.toString
        }
        Some((names.zip(cns.valExprs), lf))
      case _ => None
    }
  }

  private case class Recipe(fn: String, star: Boolean, lo: Char, hi: Char)

  private def recipeOf(fields: Seq[(String, Expression)]): Option[Recipe] =
    fields.collectFirst {
      case ("__dfr", Literal(s: UTF8String, StringType)) => s.toString
    }.flatMap { s =>
      s.split('|') match {
        case Array(f, lo, hi) if lo.length == 1 && hi.length == 1 =>
          val star = f.endsWith("*")
          Some(Recipe(if (star) f.dropRight(1) else f, star, lo.head, hi.head))
        case _ => None
      }
    }

  private def integral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** The single payload value inside the lowering's struct(v AS __v) —
    * either the literal CreateNamedStruct or (after analysis extracts
    * window children into `_w…` projections) an attribute of a one-field
    * struct type, read back via GetStructField. */
  private def payloadValue(p: Expression): Option[Expression] = p match {
    case cns: CreateNamedStruct if cns.valExprs.size == 1 =>
      Some(cns.valExprs.head)
    case _ => p.dataType match {
      case st: StructType if st.fields.length == 1 =>
        Some(GetStructField(p, 0, Some(st.fields(0).name)))
      case _ => None
    }
  }

  /** Substitute the binder's struct fields into the lambda body and drop
    * the transform wrapper. Fields are attrs/cheap scalars post-analysis,
    * so duplication per use is free; the payoff is removing the per-row
    * HOF whose eval is O(array). */
  private def inlineBinder(fields: Seq[(String, Expression)],
      lf: LambdaFunction): Option[Expression] = {
    if (!fields.forall(_._2.deterministic)) return None
    val lv = lf.arguments.head match {
      case v: NamedLambdaVariable => v
      case _ => return None
    }
    val byIdx = fields.map(_._2).toIndexedSeq
    val out = lf.function.transformUp {
      case GetStructField(v: NamedLambdaVariable, i, _)
          if v.exprId == lv.exprId && i < byIdx.size => byIdx(i)
    }
    if (out.exists {
      case v: NamedLambdaVariable => v.exprId == lv.exprId
      case _ => false
    }) None
    else {
      // substitution can make an ElementAt ordinal foldable, and
      // ElementAt.nullable eagerly evaluates foldable ordinals — a
      // planning-time throw for out-of-int-range literal offsets that the
      // lambda's runtime guard would have shielded. Probe and keep the
      // lambda form if nullability computation throws.
      try { out.foreach(_.nullable); Some(out) }
      catch { case _: Exception => None }
    }
  }

  /** Prefix/count array attrs for one converted collect. */
  private case class ArrInfo(ps: Option[Attribute], ct: Option[Attribute])

  // ---- expression helpers (primitives only — RuntimeReplaceables would
  // not be lowered this late in optimization)
  private def long(e: Expression): Expression =
    if (e.dataType == LongType) e else Cast(e, LongType)
  private def intIx(e: Expression): Expression = Cast(e, IntegerType)
  private def sub(l: Expression, r: Expression) =
    Subtract(l, r, EvalMode.LEGACY)
  private def add(l: Expression, r: Expression) = Add(l, r, EvalMode.LEGACY)

  /** Build the replacement for a marker binder; None leaves the binder for
    * plain inlining. */
  private def markerReplace(recipe: Recipe,
      fields: Map[String, Expression], info: Map[ExprId, ArrInfo],
      origType: DataType): Option[Expression] = {
    val arrAttr = fields.get("a") match {
      case Some(a: AttributeReference) => a
      case _ => return None
    }
    val r = fields.get("r") match {
      case Some(e) => long(e)
      case None => return None
    }
    val n = long(Size(arrAttr, legacySizeOfNull = false))
    def bound(kind: Char, slot: String, unb: Expression): Option[Expression] =
      kind match {
        case 'u' => Some(unb)
        case 'c' => Some(r)
        case 'p' => fields.get(slot).map(p => sub(r, long(p)))
        case 'f' => fields.get(slot).map(p => add(r, long(p)))
        case _ => None
      }
    val lo = bound(recipe.lo, "p1", Literal(1L)).getOrElse(return None)
    val hi = bound(recipe.hi, "p2", n).getOrElse(return None)
    val s0 = Greatest(Seq(Literal(1L), lo))
    val e0 = Least(Seq(n, hi))
    val nonEmpty = GreaterThanOrEqual(e0, s0)
    def pref(arr: Attribute, at: Expression): Expression =
      ElementAt(arr, intIx(at), None, failOnError = true)
    val prevIx = sub(s0, Literal(1L))
    // P/C prefix difference over [s0, e0]: the s0=1 edge reads a typed zero
    // instead of index 0 (which ANSI element_at rejects). For the SUM
    // prefix, the subtrahend additionally reads zero while C[s0-1] = 0:
    // the running Sum is NULL over a leading all-NULL run (exactly when
    // the running count is 0), and P[e0]−NULL would wrongly NULL a frame
    // that contains non-null values. And short-circuits on a false left,
    // so the guarded element_at(s0-1) never evaluates at the s0=1 edge.
    def diff(arr: Attribute, nullGuard: Option[Attribute]): Expression = {
      val hasPrev = nullGuard match {
        case Some(g) => And(GreaterThan(s0, Literal(1L)),
          GreaterThan(pref(g, prevIx), Literal(0L)))
        case None => GreaterThan(s0, Literal(1L))
      }
      sub(pref(arr, e0), If(hasPrev, pref(arr, prevIx), Literal(0L)))
    }
    val ai = info.get(arrAttr.exprId)
    recipe.fn match {
      case "count" if recipe.star =>
        Some(If(nonEmpty, add(sub(e0, s0), Literal(1L)), Literal(0L)))
      case "count" =>
        ai.flatMap(_.ct).map(ct => If(nonEmpty, diff(ct, None), Literal(0L)))
      case "sum" =>
        for (i <- ai; ps <- i.ps; ct <- i.ct) yield {
          val v = If(And(nonEmpty, GreaterThan(diff(ct, None), Literal(0L))),
            diff(ps, Some(ct)), Literal(null, LongType))
          if (origType == LongType) v else Cast(v, origType)
        }
      case "avg" =>
        for (i <- ai; ps <- i.ps; ct <- i.ct) yield {
          val c = diff(ct, None)
          If(And(nonEmpty, GreaterThan(c, Literal(0L))),
            Divide(Cast(diff(ps, Some(ct)), DoubleType), Cast(c, DoubleType)),
            Literal(null, DoubleType))
        }
      case _ => None
    }
  }

  /** Which collect attrs need rs/ct prefix arrays, given the parent's
    * marker binders and the payload value types. */
  private def prefixTargets(exprs: Seq[Expression],
      valueTypes: Map[ExprId, DataType]): Set[ExprId] = {
    val out = scala.collection.mutable.Set.empty[ExprId]
    exprs.foreach(_.foreach {
      case Binder(fields, _) =>
        recipeOf(fields).foreach { rec =>
          fields.toMap.get("a") match {
            case Some(a: AttributeReference) =>
              valueTypes.get(a.exprId).foreach { vt =>
                val need = rec.fn match {
                  case "count" => !rec.star
                  case "sum" | "avg" => integral(vt)
                  case _ => false
                }
                if (need) out += a.exprId
              }
            case _ =>
          }
        }
      case _ =>
    })
    out.toSet
  }

  /** Collect attr ids targeted by marker binders anywhere in the plan —
    * used to defer bare-Window conversion until the parent Project/Filter
    * collapses onto the Window (so prefix arrays can be built). */
  private def globalMarkerTargets(plan: LogicalPlan): Set[ExprId] = {
    val out = scala.collection.mutable.Set.empty[ExprId]
    plan.foreach(_.expressions.foreach(_.foreach {
      case Binder(fields, _) if recipeOf(fields).isDefined =>
        fields.toMap.get("a") match {
          case Some(a: AttributeReference) => out += a.exprId
          case _ =>
        }
      case _ =>
    }))
    out.toSet
  }

  private def convertible(w: Window): Boolean =
    w.orderSpec.nonEmpty && !w.isStreaming &&
      w.windowExpressions.exists(UnbCollect.unapply(_).isDefined) &&
      w.orderSpec.forall(o => orderable(o.child)) &&
      w.windowExpressions.collect { case UnbCollect(_, p) => p }
        .forall(orderable) &&
      !w.child.exists {
        // the child is evaluated once per branch: expression-level
        // nondeterminism AND plan-level row-set nondeterminism (an
        // unordered limit/offset/sample can pick different rows per
        // evaluation) would misalign rn with the collected array
        case _: LocalLimit | _: GlobalLimit | _: Offset | _: Tail |
            _: Sample => true
        case p => p.expressions.exists(!_.deterministic)
      }

  /** Rewrite the Window into the group-join form. Returns the new subtree
    * plus per-collect prefix-array attrs for the parent's marker rewrite. */
  private def convert(w: Window,
      needPrefix: Set[ExprId]): (LogicalPlan, Map[ExprId, ArrInfo]) = {
    val Window(wexprs, part, order, child, hint) = w
    val payloads = wexprs.collect { case UnbCollect(a, p) => (a, p) }
    val collectIds = payloads.map(_._1.exprId).toSet
    val rest = wexprs.filterNot(ne => collectIds.contains(ne.exprId))

    // one total order shared by both branches: the window order plus the
    // payloads ascending — rows tying on all of it are interchangeable
    val extOrder = order ++ payloads.map { case (_, p) =>
      SortOrder(p, Ascending) }
    val runFrame = WindowSpecDefinition(part, extOrder,
      SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow))

    // ---- build branch: rn + running sum/count, one sorted array per group
    val rnB = Alias(WindowExpression(RowNumber(), runFrame), "__dfj_rn")()
    // per targeted collect: optional running sum (integral values only —
    // double prefix differences are not bit-identical to direct folds)
    // and a running non-null count
    val prefixes: Seq[(ExprId, Option[Alias], Alias)] = payloads.flatMap {
      case (a, p) if needPrefix(a.exprId) =>
        payloadValue(p).map { v =>
          val rs =
            if (integral(v.dataType))
              Some(Alias(WindowExpression(AggregateExpression(
                Sum(long(v), NumericEvalContext(EvalMode.LEGACY,
                  allowDecimalPrecisionLoss = true)),
                Complete, isDistinct = false),
                runFrame), "__dfj_rs")())
            else None
          val ct = Alias(WindowExpression(AggregateExpression(
            Count(Seq(v)), Complete, isDistinct = false),
            runFrame), "__dfj_ct")()
          (a.exprId, rs, ct)
        }
      case _ => None
    }
    val bWin = Window(
      rnB +: prefixes.flatMap(p => p._2.toSeq :+ p._3),
      part, extOrder, child, hint)

    val structFields: Seq[(String, Expression)] =
      ("rn" -> (rnB.toAttribute: Expression)) +:
        (payloads.zipWithIndex.map { case ((_, p), i) =>
          s"p$i" -> (p: Expression) } ++
          prefixes.zipWithIndex.flatMap { case ((_, rs, ct), i) =>
            rs.map(r => s"rs$i" -> (r.toAttribute: Expression)).toSeq :+
              (s"ct$i" -> (ct.toAttribute: Expression)) })
    val fieldIx = structFields.map(_._1).zipWithIndex.toMap
    val structType = StructType(structFields.map { case (nm, e) =>
      StructField(nm, e.dataType, e.nullable) })
    val struct = CreateNamedStruct(structFields.flatMap { case (nm, e) =>
      Seq(Literal(nm), e) })
    val lv = NamedLambdaVariable("l", structType, nullable = false)
    val rv = NamedLambdaVariable("r", structType, nullable = false)
    // positional comparator: rn is unique within the partition
    val cmp = If(EqualTo(GetStructField(lv, 0, Some("rn")),
        GetStructField(rv, 0, Some("rn"))), Literal(0),
      If(LessThan(GetStructField(lv, 0, Some("rn")),
        GetStructField(rv, 0, Some("rn"))), Literal(-1), Literal(1)))
    val sorted = ArraySort(
      AggregateExpression(CollectList(struct), Complete, isDistinct = false),
      LambdaFunction(cmp, Seq(lv, rv)))
    val gks = part.zipWithIndex.map { case (e, i) =>
      Alias(e, s"__dfj_gk$i")() }
    val sortedAlias = Alias(sorted, "__dfj_sorted")()
    val agg = Aggregate(part, gks :+ sortedAlias, bWin)
    def fieldArray(name: String, as: String): Alias = {
      val x = NamedLambdaVariable("x", structType, nullable = false)
      Alias(ArrayTransform(sortedAlias.toAttribute,
        LambdaFunction(GetStructField(x, fieldIx(name), Some(name)),
          Seq(x))), as)()
    }
    val arrAliases = payloads.zipWithIndex.map { case (_, i) =>
      fieldArray(s"p$i", s"__dfj_arr$i") }
    val prefixAliases: Map[ExprId, (Option[Alias], Alias)] =
      prefixes.zipWithIndex.map { case ((aId, rs, _), i) =>
        aId -> (rs.map(_ => fieldArray(s"rs$i", s"__dfj_ps$i")),
          fieldArray(s"ct$i", s"__dfj_pc$i"))
      }.toMap
    val build = Project(gks.map(_.toAttribute) ++ arrAliases ++
      prefixAliases.values.flatMap(t => t._1.toSeq :+ t._2), agg)

    // ---- probe branch: row_number aligned to the array's positional
    // order; other window functions keep the original order untouched
    val (rowNums, others) = rest.partition(isRowNumber)
    val probe1 =
      if (rowNums.isEmpty) child
      else Window(rowNums, part, extOrder, child, hint)
    val probe =
      if (others.isEmpty) probe1
      else Window(others, part, order, probe1, hint)

    val cond = part.zip(gks)
      .map { case (e, gk) => EqualNullSafe(e, gk.toAttribute) }
      .reduceOption[Expression](And)
    // no PARTITION BY ⇒ the build side is ONE row (holding the whole
    // partition array) and the join is a nested loop: pin the build
    // side by hint so the planner never broadcasts the n-row probe
    val hintedJoin =
      if (part.isEmpty) JoinHint(None, Some(HintInfo(Some(BROADCAST))))
      else JoinHint.NONE
    val joined = Join(probe, build, Inner, cond, hintedJoin)

    val outExprs: Seq[NamedExpression] = w.output.map { attr =>
      payloads.indexWhere(_._1.exprId == attr.exprId) match {
        case -1 => attr
        case i =>
          Alias(arrAliases(i).toAttribute, attr.name)(exprId = attr.exprId)
      }
    } ++ prefixAliases.values.flatMap(t =>
      t._1.map(_.toAttribute).toSeq :+ t._2.toAttribute)
    val info = payloads.map { case (a, _) =>
      a.exprId -> ArrInfo(
        prefixAliases.get(a.exprId).flatMap(_._1).map(_.toAttribute),
        prefixAliases.get(a.exprId).map(_._2.toAttribute))
    }.toMap
    (Project(outExprs, joined), info)
  }

  /** Rewrite one parent expression: marker binders become prefix reads,
    * everything else binder-shaped is inlined. */
  private def rewriteExpr(e: Expression,
      info: Map[ExprId, ArrInfo]): Expression = e.transformUp {
    case b @ Binder(fields, lf) =>
      val replaced = recipeOf(fields).flatMap(rec =>
        markerReplace(rec, fields.toMap, info, b.dataType))
      replaced.orElse(inlineBinder(fields, lf)).getOrElse(b)
  }

  private def valueTypes(w: Window): Map[ExprId, DataType] =
    w.windowExpressions.collect {
      case UnbCollect(a, p) =>
        a.exprId -> payloadValue(p).map(_.dataType).getOrElse(NullType)
    }.toMap

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    // applicability pre-checks — the rule sits in a fixed-point batch, so
    // every query pays its traversal several times: plans with no Window
    // at all exit on one node-type walk, and window plans without an
    // unbounded collect need only the binder-inline pass (binders are
    // emitted alongside the collects, so they can outlive the collects —
    // a prior iteration's conversion — but not exist without any Window)
    if (!plan.exists(_.isInstanceOf[Window])) return plan
    val hasCollect = plan.exists {
      case w: Window =>
        w.windowExpressions.exists(UnbCollect.unapply(_).isDefined)
      case _ => false
    }
    if (!hasCollect) {
      return plan.transformAllExpressions {
        case b @ Binder(fields, lf) if recipeOf(fields).isEmpty =>
          inlineBinder(fields, lf).getOrElse(b)
      }
    }
    val markedElsewhere = globalMarkerTargets(plan)
    val converted = plan.transformDown {
      case Project(exprs, w: Window) if convertible(w) =>
        val (sub, info) =
          convert(w, prefixTargets(exprs, valueTypes(w)))
        Project(
          exprs.map(rewriteExpr(_, info).asInstanceOf[NamedExpression]), sub)
      case Filter(cond, w: Window) if convertible(w) =>
        val (sub, info) =
          convert(w, prefixTargets(Seq(cond), valueTypes(w)))
        // convert() widens the subtree's output with prefix/array columns;
        // restrict back to the Window's schema so a root/Union parent
        // never sees the internal __dfj columns
        Project(w.output,
          Filter(rewriteExpr(cond, info), sub))
      case Project(exprs, Filter(cond, w: Window)) if convertible(w) =>
        val (sub, info) =
          convert(w, prefixTargets(exprs :+ cond, valueTypes(w)))
        Project(
          exprs.map(rewriteExpr(_, info).asInstanceOf[NamedExpression]),
          Filter(rewriteExpr(cond, info), sub))
      case w: Window if convertible(w) &&
          !w.windowExpressions.exists {
            case UnbCollect(a, _) => markedElsewhere.contains(a.exprId)
            case _ => false
          } =>
        convert(w, Set.empty)._1
    }
    // binders that reference unconverted/foreign windows (e.g. the
    // dynamicWindowArgs element_at bodies) still drop their per-row HOF
    if (converted.fastEquals(plan)) {
      plan.transformAllExpressions {
        case b @ Binder(fields, lf) if recipeOf(fields).isEmpty =>
          inlineBinder(fields, lf).getOrElse(b)
      }
    } else converted
  }
}

object DynamicFrameJoin {
  val KEY = "spark.graft.dynamicFrameJoin"
}
