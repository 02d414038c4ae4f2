package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Sum}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Engine-level optimizer rules (registered by [[graft.GraftExtensions]], so
  * every session — `Engine.sql`, plain `spark.sql`, DataFrame API — gets them
  * on the normal Catalyst path; no hand-wiring per query).
  *
  * 1. [[DynamicSemiJoinPrune]] — runtime scan-domain narrowing for selective
  *    semi joins / IN subqueries / fact⋈dim equi-joins: the Spark-side
  *    analogue of the reference's planning-time TupleDomain narrowing
  *    (SPI/predicate/TupleDomain.java:43, applied through the table-layout
  *    request of SPI ConnectorMetadata.getTableLayouts) and its
  *    equality-class predicate propagation
  *    (MAIN/sql/planner/optimizations/PredicatePushDown.java:91,
  *    EqualityInference.java).
  * 2. [[ScaledLongSum]] — sum over short decimals accumulates on unscaled
  *    longs, extending Spark's own `DecimalAggregates` (precision ≤ 8) to
  *    the money range (precision ≤ 18): the reference accumulates short
  *    decimals on primitive longs too
  *    (MAIN/operator/aggregation/DecimalSumAggregation.java).
  */
/** Pushdown barrier: evaluates exactly as its child (same codegen), but is
  * invisible to `DataSourceStrategy.translateFilter`, so the predicate
  * never reaches the parquet reader. A multi-thousand-key In pushed as a
  * source filter makes the reader evaluate the giant predicate against
  * every row-group/page/dictionary stat — measured at the sf30 soak on
  * h02's 21.6 k-key prune: 5.25 s with the filter pushed vs 3.78 s
  * without, with ZERO row-groups skipped on the unclustered layout. Small
  * key sets stay pushable (they do skip on sorted/z-ordered layouts and
  * cost the reader nothing). */
case class NoPushdown(child: Expression)
    extends UnaryExpression with Predicate {
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    child.eval(input)
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = c.code, isNull = c.isNull, value = c.value)
  }
  override protected def withNewChildInternal(newChild: Expression): NoPushdown =
    copy(child = newChild)
}

object GraftOptimizations {
  /** Memo-miss counter: bumped each time a dim probe actually EVALUATES
    * (not served from the memo). Diagnostic only — lets tests pin that
    * re-planning the same query from freshly-built DataFrames does not
    * re-pay the probe. */
  val probeMisses = new java.util.concurrent.atomic.AtomicLong

  /** JVM-global probe memo. It cannot live on the rule instance:
    * `Optimizer.batches` is a def, so Spark re-invokes the extension's rule
    * builder on EVERY optimizer execution — a fresh rule object (and any
    * per-instance cache) each time a query is planned. The key
    * ([[DynamicSemiJoinPrune.stableKey]]) carries the dim plan's structure
    * plus its leaf relations' (paths, schema, bytes), so it is safe to
    * share across sessions and invalidates itself when the data changes —
    * the same per-table-layout caching the reference does in its metadata
    * path (SPI ConnectorMetadata.getTableLayouts). */
  private[plans] val probeMemo: java.util.Map[(LogicalPlan, Seq[String], BigInt, Int), ProbeDecision] =
    java.util.Collections.synchronizedMap(
      // access-ordered LRU, size-bounded: a hot dashboard query's probe
      // survives 250 cold ones (the old >256 full clear evicted everything)
      new java.util.LinkedHashMap[(LogicalPlan, Seq[String], BigInt, Int), ProbeDecision](
          64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(LogicalPlan, Seq[String], BigInt, Int), ProbeDecision])
            : Boolean = size() > 256
      })

  private[plans] sealed trait ProbeDecision
  private[plans] case class ProbeInKeys(lits: Seq[Literal]) extends ProbeDecision
  private[plans] case object ProbeOverflow extends ProbeDecision
  private[plans] case object ProbeSkip extends ProbeDecision

  val ENABLED_KEY = "spark.graft.dynamicFilter.enabled"
  val FACT_MIN_KEY = "spark.graft.dynamicFilter.factMinBytes"
  val DIM_MAX_KEY = "spark.graft.dynamicFilter.dimMaxBytes"
  val MAX_IN_KEY = "spark.graft.dynamicFilter.maxInKeys"
  val DIM_BCAST_KEY = "spark.graft.dynamicFilter.dimBroadcastBytes"
  val RATIO_KEY = "spark.graft.dynamicFilter.minFactDimRatio"
  val MAX_PUSH_KEYS_KEY = "spark.graft.dynamicFilter.maxPushdownKeys"
  val LONG_SET_KEY = "spark.graft.dynamicFilter.longSet"
  val SCALED_SUM_KEY = "spark.graft.scaledLongSum"
}

/** Dynamic filtering as a Catalyst rule.
  *
  * Why: `fact.key IN (SELECT key FROM dim WHERE …)` (and the equivalent
  * fact⋈dim join) is statically un-plannable — the dim filter's selectivity
  * is invisible, so the fact side shuffles IN FULL before the join prunes it
  * (measured at the sf30 soak: 180 M rows / 6.2 GB shuffled to keep 0.4%).
  * Running the small dim side FIRST turns its keys into a scan-level
  * predicate on the fact side: an In/range PushedFilter that parquet
  * row-group stats can skip, and zero fact shuffle for the prune.
  *
  * Tiers, decided from ONE bounded dim evaluation (a `LIMIT maxInKeys+1`
  * probe — never a second count pass, the round-7 triple-evaluation fix):
  *   1. ≤ maxInKeys distinct keys: inline `In(key, literals)` — whole-stage
  *      codegen InSet + parquet pushdown, zero fact shuffle, dim never
  *      re-evaluated (the probe IS the evaluation).
  *   2. more keys but a dim small enough to broadcast: tag the subquery
  *      with a BROADCAST hint — the later RewritePredicateSubquery builds a
  *      broadcast LEFT SEMI join, still zero fact shuffle; the dim is
  *      evaluated once more as that join's build side (2 total, was 3).
  *   3. otherwise: leave the plan alone — a dim side this large is exactly
  *      where a shuffled join is right at 100 TB, and where Spark's own
  *      runtime bloom injection takes over.
  *
  * Scale guards (all runtime-configurable, defaults sized from the SCALE.md
  * sf30 A/Bs): the fact side must be ≥ factMinBytes (64 MB — skip at small
  * scale, where the probe costs more than the shuffle it saves: the round-7
  * h09 sf0.1 +83 % regression), the dim side must be ≤ dimMaxBytes AND
  * ≤ fact/minFactDimRatio (never probe something fact-sized — the probe of
  * an aggregate-over-fact dim, e.g. TPC-H Q18's HAVING subquery, would cost
  * a full fact pass), and probe results are memoized per canonicalized dim
  * plan (keyed with its size so a data overwrite invalidates).
  *
  * Semantics preserved exactly: only top-level POSITIVE conjuncts rewrite
  * (never under NOT/OR — 3VL), dim NULL keys are excluded before the probe
  * (they never match), a NULL fact key evaluates NULL→filtered either way,
  * and non-deterministic or correlated or CTE-referencing dim plans are
  * skipped. The inner-join variant only ADDS a `Filter` above the fact
  * side (every surviving fact row must match some dim key), so join output
  * is untouched.
  */
class DynamicSemiJoinPrune(spark: SparkSession)
    extends Rule[LogicalPlan] with PredicateHelper {
  import GraftOptimizations._

  private type Decision = GraftOptimizations.ProbeDecision
  private val InKeys = GraftOptimizations.ProbeInKeys
  private val Overflow = GraftOptimizations.ProbeOverflow
  private val Skip = GraftOptimizations.ProbeSkip

  // memo keyed by a STABLE form of the dim plan (stableKey below), so
  // repeated optimizations of the same query — bench reruns, dashboards,
  // fixed-point iterations — pay the probe once; the key carries the
  // relation paths + schema + size, so a rewritten fixture dir re-probes.
  // Lives on the companion: Spark rebuilds this rule object per optimizer
  // run, so instance state would never survive two plannings.
  private def memo = GraftOptimizations.probeMemo

  /** Memo key that survives FRESH `spark.read` relations. Two reads of the
    * same path build `LogicalRelation`s whose `InMemoryFileIndex` has no
    * value equality, so their canonicalized plans never compare equal and
    * every freshly-built DataFrame of the same query re-paid the probe at
    * planning time (the round-8 h02 soak regression: n bench iterations =
    * n probes). The reference caches this class of work per table layout in
    * the metadata path (SPI ConnectorMetadata.getTableLayouts); here the
    * layout identity is (root paths, data schema, byte
    * size) — extracted per leaf relation, with the relations themselves
    * replaced by `LocalRelation` skeletons so the rest of the canonicalized
    * plan (filters, projections) compares structurally. */
  private def stableKey(dim: LogicalPlan, maxKeys: Int)
      : (LogicalPlan, Seq[String], BigInt, Int) = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val c = dim.canonicalized
    def relDesc(lr: LogicalRelation): String = lr.relation match {
      case fs: HadoopFsRelation =>
        // file count + newest modification time invalidate the memo when
        // data is rewritten at the same path with the same byte size
        // (REFRESH TABLE has no hook into this JVM-global map); the
        // FileIndex caches its listing, so this costs no extra IO
        val files =
          try fs.location.listFiles(Nil, Nil).iterator.flatMap(_.files).toSeq
          catch { case scala.util.control.NonFatal(_) => Nil }
        val maxMod =
          if (files.isEmpty) 0L else files.map(_.getModificationTime).max
        fs.location.rootPaths.mkString(",") + "|" +
          fs.dataSchema.catalogString + "|" + fs.sizeInBytes + "|" +
          files.length + "|" + maxMod
      case other => other.toString
    }
    // …WithSubqueries: a dim can carry subquery expressions whose nested
    // plans hold their own LogicalRelations — left raw, they would defeat
    // the key's value equality exactly like the top-level ones
    val descs = c.collectWithSubqueries { case lr: LogicalRelation => relDesc(lr) }
    val skeleton = c.transformUpWithSubqueries {
      case lr: LogicalRelation => LocalRelation(lr.output)
    }
    (skeleton, descs, dim.stats.sizeInBytes, maxKeys)
  }

  private def confLong(key: String, dflt: Long): Long =
    spark.conf.getOption(key).map(_.toLong).getOrElse(dflt)
  private def enabled: Boolean =
    spark.conf.getOption(ENABLED_KEY).forall(_.toBoolean)

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    val factMin = BigInt(confLong(FACT_MIN_KEY, 64L << 20))
    val dimMax = BigInt(confLong(DIM_MAX_KEY, 256L << 20))
    val maxIn = confLong(MAX_IN_KEY, 131072L).toInt
    val dimBcast = BigInt(confLong(DIM_BCAST_KEY, 64L << 20))
    val ratio = confLong(RATIO_KEY, 4L)
    val maxPushKeys = confLong(MAX_PUSH_KEYS_KEY, 1024L)

    // applicability pre-checks — this rule sits in a fixed-point batch, so
    // every query pays its traversal several times (and the transform's
    // per-Join scanBytes() walks subtrees): if ALL leaf bytes together
    // cannot reach the fact floor, no side can — one cheap leaf walk and
    // out, which is the common exit for every small-scale plan; likewise
    // bail when there is nothing this rule rewrites (no join, no
    // IN-subquery filter)
    if (plan.collectLeaves().map(_.stats.sizeInBytes).sum < factMin)
      return plan
    val applicable = plan.exists {
      case _: Join => true
      case Filter(cond, _) => cond.exists(_.isInstanceOf[InSubquery])
      case _ => false
    }
    if (!applicable) return plan

    /** Bytes the side actually READS: the sum of its leaf relations' size
      * estimates. Join-node `stats.sizeInBytes` are multiplicative output
      * products — a 5-way join of 10 MB scans reports terabytes, which
      * would defeat the fact-size floor and fire probes at toy scale
      * (measured: +4 s on sf0.1 TPC-H Q5 before this guard). */
    def scanBytes(p: LogicalPlan): BigInt =
      p.collectLeaves().map(_.stats.sizeInBytes).sum

    /** Bytes the dim's probe would have to READ — its own leaf relations
      * plus the leaves of any plan nested in its subquery expressions.
      * `dim.stats.sizeInBytes` alone is an OUTPUT estimate and misses the
      * compute behind it: h18's join variant saw an orders dim filtered by
      * `o_orderkey IN (180 M-row lineitem aggregate)` whose output stats
      * looked dim-sized, and the planning-time probe silently re-ran most
      * of the query (~5 s/plan at sf30). The probe must be cheap relative
      * to the fact scan it might save, measured on its INPUTS. */
    def probeInputBytes(p: LogicalPlan): BigInt = {
      var total = BigInt(0)
      p.foreach { node =>
        if (node.children.isEmpty) total += node.stats.sizeInBytes
        node.expressions.foreach(_.foreach {
          case pe: PlanExpression[_] => pe.plan match {
            case lp: LogicalPlan => total += probeInputBytes(lp)
            case _ =>
          }
          case _ =>
        })
      }
      total
    }

    def probeable(dim: LogicalPlan, factBytes: BigInt): Boolean = {
      val bytes = dim.stats.sizeInBytes
      bytes <= dimMax && bytes * ratio <= factBytes &&
        probeInputBytes(dim) * ratio <= factBytes &&
        !dim.isStreaming &&
        !dim.exists {
          case _: CTERelationRef => true
          case p => p.expressions.exists(e =>
            !e.deterministic || e.exists(_.isInstanceOf[OuterReference]))
        }
    }

    /** One bounded evaluation of the dim side's distinct non-null keys. */
    def probe(dim: LogicalPlan, maxKeys: Int): Decision = {
      val key = stableKey(dim, maxKeys)
      val cached = memo.get(key)
      if (cached != null) return cached
      GraftOptimizations.probeMisses.incrementAndGet()
      val d =
        try {
          val attr = dim.output.head
          val keysPlan = Distinct(Project(Seq(attr), Filter(IsNotNull(attr), dim)))
          val rows = org.apache.spark.sql.classic.GraftPlanBridge
            .ofRows(spark, keysPlan).limit(maxKeys + 1).collect()
          if (rows.length <= maxKeys)
            InKeys(rows.toIndexedSeq.map(r => Literal.create(r.get(0), attr.dataType)))
          else Overflow
        } catch { case scala.util.control.NonFatal(_) => Skip }
      memo.put(key, d) // LRU-bounded (removeEldestEntry)
      d
    }

    /** Is there already an In/InSet/IN-subquery conjunct over this key
      * anywhere below? (Idempotency for the join variant: pushdown may
      * have moved our inserted filter off the immediate child between
      * iterations.) */
    def alreadyPruned(side: LogicalPlan, key: Expression): Boolean =
      side.exists(p => p.expressions.exists(_.exists {
        case In(v, _) => v.semanticEquals(key)
        case InSet(v, _) => v.semanticEquals(key)
        case InLongSet(v, _) => v.semanticEquals(key)
        case InSubquery(Seq(v), _) => v.semanticEquals(key)
        case _ => false
      }))

    /** The join variant only fires when the dim side carries a
      * data-reducing predicate (beyond pushdown's IsNotNull bookkeeping):
      * an unfiltered dim's key domain prunes nothing, and inserting its
      * full-domain In would block the TIGHTER prune that becomes available
      * once upstream rules push a restriction into this dim on a later
      * fixed-point iteration (region → nation → supplier → lineitem in
      * TPC-H Q5: each hop's filter materializes one iteration after the
      * previous hop's In reaches the scan). */
    def selectivelyFiltered(dim: LogicalPlan): Boolean =
      dim.exists {
        case Filter(cond, _) =>
          splitConjunctivePredicates(cond).exists {
            case _: IsNotNull => false
            case e => isLikelySelective(e)
          }
        case _ => false
      }

    /** Inline IN predicate for the probed key domain. This rule runs in
      * the post-optimization batch — AFTER OptimizeIn — so a plain
      * `In(v, 20k literals)` would reach codegen as 20 k LINEAR equality
      * branches per row (measured: h02's 21.6 k-key prune at sf30 burned
      * 150 s of filter CPU over the 180 M-row scan). Emit the hashed
      * `InSet` ourselves above the same threshold OptimizeIn uses; the
      * datasource translation pushes In and InSet identically. Probed
      * keys are non-null by construction (probe filters IsNotNull). */
    def inPred(v: Expression, lits: Seq[Literal]): Expression =
      if (lits.isEmpty) Literal.FalseLiteral
      else if (lits.size > maxPushKeys)
        // big key sets stay OUT of the source filter (NoPushdown scaladoc:
        // the reader's per-page/dictionary stat evaluation of a huge In
        // costs more than the zero row-groups it skips on random layouts;
        // round 16 re-measured the "sorted layout" hope: parquet's native
        // In degrades to one [min,max] range per page and hash-bucketing
        // makes every page's raw span ~bucketCount× its key count — 30×
        // scan regression for 795 of 600 M rows skipped, see
        // OPTIMIZATION_r16.md). The LOGICAL plan keeps the
        // plain InSet even though its per-row probe boxes: constraint
        // propagation copies this predicate onto every equi-joined side
        // (293 copies measured on h02 at sf30), and InSet's value-equal
        // Set field is what lets those copies dedupe. The unboxed probe
        // swap happens on the PHYSICAL FilterExec (UnboxedInProbe), where
        // no constraint propagation can multiply it — a first InLongSet
        // draft emitted HERE put 293 × 60 k-key arrays into one task
        // binary and spent 470 core-seconds deserializing them.
        NoPushdown(InSet(v, lits.map(_.value).toSet))
      else if (lits.size > SQLConf.get.optimizerInSetConversionThreshold)
        InSet(v, lits.map(_.value).toSet)
      else In(v, lits)

    plan.transformDown {
      // WHERE key IN (SELECT …) over a big fact side
      case f @ Filter(cond, child)
          if cond.exists(_.isInstanceOf[InSubquery]) &&
            scanBytes(child) >= factMin =>
        val factBytes = scanBytes(child)
        var changed = false
        val rewritten = splitConjunctivePredicates(cond).map {
          case in @ InSubquery(Seq(v), l: ListQuery)
              if l.outerAttrs.isEmpty && l.plan.output.length == 1 &&
                v.deterministic && probeable(l.plan, factBytes) =>
            probe(l.plan, maxIn) match {
              case InKeys(lits) =>
                changed = true
                inPred(v, lits)
              case Overflow
                  if l.hint.isEmpty &&
                    l.plan.stats.sizeInBytes <= dimBcast =>
                changed = true
                in.copy(query = l.copy(hint = Some(HintInfo(Some(BROADCAST)))))
              case _ => in
            }
          case other => other
        }
        if (changed) Filter(rewritten.reduce(And), child) else f

      // fact ⋈ dim equi-join: narrow the fact scan by the dim's key domain
      // (tier 1 only — the join itself stays; we just pre-filter its input)
      case j @ Join(left, right, Inner | LeftSemi, Some(cond), _)
          if scanBytes(left).max(scanBytes(right)) >= factMin =>
        val lBytes = scanBytes(left)
        val rBytes = scanBytes(right)
        // orientation: semi joins always prune the left (stream) side;
        // inner joins prune the bigger side with the smaller side's keys
        val dimIsRight = j.joinType == LeftSemi || lBytes >= rBytes
        val (fact, dim) = if (dimIsRight) (left, right) else (right, left)
        val (factBytes, dimBytes) = if (dimIsRight) (lBytes, rBytes) else (rBytes, lBytes)
        val keyPairs =
          if (factBytes < factMin) Nil
          else splitConjunctivePredicates(cond).collect {
            case EqualTo(a: AttributeReference, b: AttributeReference)
                if fact.outputSet.contains(a) && dim.outputSet.contains(b) => (a, b)
            case EqualTo(b: AttributeReference, a: AttributeReference)
                if fact.outputSet.contains(a) && dim.outputSet.contains(b) => (a, b)
          }

        /** Narrow the dim to the branch that PRODUCES the key: any join's
          * output key values are a subset of its input branch's (joins
          * never invent values), so the branch domain is a sound — weaker
          * but far cheaper — prune. The full dim is preferred when
          * probeable (its domain is tighter: the Q5 cascade); the branch
          * is the fallback for join-shaped dims whose node stats are
          * multiplicative garbage (h10: dim = customer⋈orders fails
          * dimMax, but the quarter-filtered orders branch holds the whole
          * 4 % selectivity). */
        @annotation.tailrec
        def branchFor(p: LogicalPlan, key: AttributeReference): LogicalPlan =
          p match {
            case jj: Join if jj.left.outputSet.contains(key) =>
              branchFor(jj.left, key)
            case jj: Join if jj.right.outputSet.contains(key) =>
              branchFor(jj.right, key)
            case Project(_, child) if child.outputSet.contains(key) =>
              branchFor(child, key)
            case other => other
          }
        // guards evaluate on the KEY-PROJECTED plan: the probe only ever
        // reads that one column, and a full-width Filter node's output
        // stats would flunk dimMax for branches whose projected form is
        // tiny; probe EXECUTION cost stays bounded by probeInputBytes
        def probeOk(p: LogicalPlan, dimKey: AttributeReference): Boolean =
          selectivelyFiltered(p) &&
            probeable(Project(Seq(dimKey), p), factBytes)
        def probeTarget(dimKey: AttributeReference): Option[LogicalPlan] =
          if (probeOk(dim, dimKey)) Some(dim)
          else {
            val b = branchFor(dim, dimKey)
            if ((b ne dim) && probeOk(b, dimKey)) Some(b) else None
          }
        // one In conjunct per equi-key pair (TPC-H Q5's supplier join
        // carries both l_suppkey=s_suppkey and c_nationkey=s_nationkey —
        // the reference's equality inference narrows BOTH sides); a key
        // domain that overflows the inline-literal tier leaves the join as
        // it is
        val prunes = keyPairs
          .filter { case (factKey, _) => !alreadyPruned(fact, factKey) }
          .flatMap { case (factKey, dimKey) =>
            probeTarget(dimKey).flatMap { target =>
              probe(Project(Seq(dimKey), target), maxIn) match {
                case InKeys(lits) => Some(inPred(factKey, lits))
                case _ => None
              }
            }
          }
        if (prunes.isEmpty) j
        else {
          val pruned = Filter(prunes.reduce(And), fact)
          if (dimIsRight) j.copy(left = pruned) else j.copy(right = pruned)
        }
    }
  }
}

/** Sum over `decimal(9..18, s)` accumulates on unscaled LONGS.
  *
  * Spark's own `DecimalAggregates` does exactly this for precision ≤ 8
  * (where the long accumulator provably cannot overflow); the reference
  * engine runs ALL short-decimal sums on primitive long state
  * (MAIN/operator/aggregation/DecimalSumAggregation.java — overflow tracked
  * separately). This rule extends the long path to the money range the
  * schema contract actually uses (2–4 decimal places, 18-digit bound):
  * per-row BigDecimal accumulation was 88 s cumulative of the q22 sf30
  * profile (SCALE.md round 7). The result type is unchanged —
  * `MakeDecimal(sum(unscaled), p+10, s)` is byte-identical to
  * `sum(decimal(p, s))` for every in-range input (hash-verified by every
  * driver oracle row that sums money).
  *
  * The lowering also walks INTO the summed expression where it can do so
  * exactly: `CAST(double AS DECIMAL(p,s))` → `round(x·10^s) AS BIGINT`
  * (same HALF_UP result for data that is s-decimal by contract),
  * decimal multiply → long multiply (scales add), add/subtract → aligned
  * long add, literals → unscaled literals, and any other decimal
  * subexpression falls back to `UnscaledValue` (always exact for p ≤ 18).
  *
  * Overflow posture: ANSI long arithmetic THROWS on overflow (sessions run
  * ANSI-on), so out-of-contract magnitudes fail loudly instead of
  * returning wrong sums — the same fail-closed behavior Presto's decimal
  * overflow has, reached at ~10^(18-s) instead of 10^(38-s). Disable with
  * `spark.graft.scaledLongSum=false` for workloads that genuinely
  * accumulate past 18 digits.
  */
object ScaledLongSum extends Rule[LogicalPlan] {
  import GraftOptimizations._

  /** (precision, scale) extractor (DecimalType.Fixed is private[sql]). */
  private object Dec {
    def unapply(dt: DataType): Option[(Int, Int)] = dt match {
      case d: DecimalType => Some((d.precision, d.scale))
      case _ => None
    }
  }

  private def pow10L(n: Int): Long = math.pow(10, n).toLong

  /** Lower a decimal expression to its unscaled-long form (at the
    * expression's own scale). Total for p ≤ 18 via the UnscaledValue
    * fallback; structural cases push the long form deeper for speed. */
  private def toLong(e: Expression): Expression = e match {
    case Cast(x, Dec(_, s), _, _)
        if x.dataType == DoubleType || x.dataType == FloatType =>
      Cast(new Round(Multiply(Cast(x, DoubleType), Literal(math.pow(10, s))),
        Literal(0)), LongType)
    case Cast(x, Dec(_, s), _, _)
        if x.dataType == ByteType || x.dataType == ShortType ||
          x.dataType == IntegerType || x.dataType == LongType =>
      if (s == 0) Cast(x, LongType)
      else Multiply(Cast(x, LongType), Literal(pow10L(s)))
    case c @ Cast(x, Dec(p, s), _, _) if x.dataType.isInstanceOf[DecimalType] =>
      val Dec(p0, s0) = x.dataType
      // scale-preserving or widening casts lower to the child's unscaled
      // long (×10^Δ). This drops the narrowing cast's precision check —
      // the 2-decimal money contract the whole suite runs on (r7's q22
      // analysis); out-of-contract magnitudes still fail loudly at the
      // ANSI long-overflow bound instead of returning wrong sums. Only a
      // scale REDUCTION (a rounding cast) keeps the decimal path.
      if (s >= s0) {
        val inner = toLong(x)
        if (s == s0) inner else Multiply(inner, Literal(pow10L(s - s0)))
      } else UnscaledValue(c)
    case l @ Literal(_, Dec(_, _)) if l.value != null =>
      Literal(l.value.asInstanceOf[org.apache.spark.sql.types.Decimal].toUnscaledLong)
    case m @ Multiply(a, b, _)
        if a.dataType.isInstanceOf[DecimalType] &&
          b.dataType.isInstanceOf[DecimalType] &&
          m.dataType.isInstanceOf[DecimalType] &&
          m.dataType.asInstanceOf[DecimalType].scale ==
            scaleOf(a.dataType) + scaleOf(b.dataType) =>
      Multiply(toLong(a), toLong(b))
    case ad @ Add(a, b, _)
        if a.dataType.isInstanceOf[DecimalType] &&
          b.dataType.isInstanceOf[DecimalType] &&
          ad.dataType.isInstanceOf[DecimalType] &&
          ad.dataType.asInstanceOf[DecimalType].scale ==
            scaleOf(a.dataType).max(scaleOf(b.dataType)) =>
      Add(align(a, b), align(b, a))
    case sb @ Subtract(a, b, _)
        if a.dataType.isInstanceOf[DecimalType] &&
          b.dataType.isInstanceOf[DecimalType] &&
          sb.dataType.isInstanceOf[DecimalType] &&
          sb.dataType.asInstanceOf[DecimalType].scale ==
            scaleOf(a.dataType).max(scaleOf(b.dataType)) =>
      Subtract(align(a, b), align(b, a))
    case UnaryMinus(a, failOnError) if a.dataType.isInstanceOf[DecimalType] =>
      UnaryMinus(toLong(a), failOnError)
    // total fallback: exact for compact (≤18-digit) values; a wider
    // decimal whose VALUE no longer fits a long fails loudly
    // (Decimal.toUnscaledLong → longValueExact) rather than truncating
    case other => UnscaledValue(other)
  }

  private def scaleOf(dt: DataType): Int = dt.asInstanceOf[DecimalType].scale
  private def isShortDecimal(dt: DataType): Boolean = dt match {
    case Dec(p, _) => p <= 18
    case _ => false
  }
  /** Long form of `a`, scaled up to max(scale(a), scale(b)). */
  private def align(a: Expression, b: Expression): Expression = {
    val sa = scaleOf(a.dataType); val sb = scaleOf(b.dataType)
    val la = toLong(a)
    if (sa >= sb) la else Multiply(la, Literal(pow10L(sb - sa)))
  }

  private def fits(e: Expression): Boolean = e.dataType match {
    // ≤ 8 stays with Spark's own DecimalAggregates (provably
    // overflow-free there); 9..18 is this rule's contract range
    case Dec(p, _) => p > 8 && p <= 18
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val on = SparkSession.getActiveSession
      .flatMap(_.conf.getOption(SCALED_SUM_KEY)).forall(_.toBoolean)
    if (!on) return plan
    // applicability pre-check (the rule runs in a fixed-point batch): sums
    // live only in Aggregate/Window nodes post-analysis — walk just those
    // nodes' expressions before committing to the full-tree transform.
    // Self-terminating: once rewritten, the sum child is LongType and
    // fits() is false, so later iterations exit here too.
    val hasTarget = plan.exists {
      case a: Aggregate => a.aggregateExpressions.exists(_.exists {
        case AggregateExpression(Sum(e, _), _, _, _, _) => fits(e)
        case _ => false
      })
      case w: Window => w.windowExpressions.exists(_.exists {
        case AggregateExpression(Sum(e, _), _, _, _, _) => fits(e)
        case _ => false
      })
      case _ => false
    }
    if (!hasTarget) return plan
    plan.transformAllExpressions {
      case we @ WindowExpression(
          ae @ AggregateExpression(s @ Sum(e, _), _, _, _, _), _) if fits(e) =>
        val Dec(p, sc) = e.dataType
        MakeDecimal(we.copy(windowFunction =
          ae.copy(aggregateFunction = s.copy(child = toLong(e)))), p + 10, sc)
      case ae @ AggregateExpression(s @ Sum(e, _), _, _, _, _) if fits(e) =>
        val Dec(p, sc) = e.dataType
        MakeDecimal(
          ae.copy(aggregateFunction = s.copy(child = toLong(e))), p + 10, sc)
    }
  }
}
