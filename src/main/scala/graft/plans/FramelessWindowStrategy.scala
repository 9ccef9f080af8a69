package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, DeclarativeAggregate}
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
import org.apache.spark.sql.execution.{ProjectExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.internal.SQLConf

/** Sort-free planning of frameless window aggregates —
  * `agg(x) OVER (PARTITION BY k)` with no ORDER BY and an
  * unbounded-to-unbounded frame, where every row of a partition gets
  * the same aggregate value.
  *
  * Spark's WindowExec handles this case by SORTING each task's data on
  * the partition keys and streaming group-by-group: at the derived
  * sf10 that is a 60M-row sort whose ordering is semantically
  * unnecessary. DuckDB hash-windows the same query (its window
  * operator hash-partitions without sorting when no ORDER BY is
  * present). This strategy gets the same effect from stock codegen
  * operators: the exchange-reusing join form of [[planJoinForm]] —
  * one exchange on the partition keys, read twice, no sort and no
  * full-partition row buffer.
  *
  * Injected planner strategies run before Spark's built-ins, so
  * matching Window nodes never reach the sorting WindowExec unless a
  * gate below declines them. Covers any Catalyst DeclarativeAggregate
  * (count/sum/avg/min/max/first/last/stddev/...), non-distinct,
  * unfiltered, deterministic; anything else (ordered frames, ranking
  * functions, distinct/filtered or imperative aggregates, empty
  * PARTITION BY — which Spark funnels into a single partition anyway)
  * returns Nil and falls through to WindowExec untouched.
  *
  * 100 TB notes: per-task memory is the hash aggregate's one buffer
  * per DISTINCT key (the envelope of a plain GROUP BY k) plus the hash
  * join's build side, one result row per distinct key; the rows
  * themselves stream past and are never buffered. Partition skew in k
  * concentrates a hot key's rows in one task — identical to
  * WindowExec's behavior, since any PARTITION BY evaluation must
  * co-locate a key.
  */
object FramelessWindowStrategy extends SparkStrategy {

  val EnabledKey = "spark.graft.hashFramelessWindow.enabled"

  /** Minimum estimated child size (bytes) for the strategy to fire;
    * below it the node falls through to stock WindowExec. The join
    * form wins by avoiding a 60M-row sort, but pays a constant factor
    * (second exchange read + hash-join build) that a small input never
    * amortizes: at sf0.1 (600k rows, ~7 MB estimated) WindowExec is
    * 0.32 s vs the join form's 0.46 s, while at derived sf10 (60M
    * rows) the join form is 3.50 s vs the sort's 4.27 s (SCALE.md,
    * round 6). Catalyst's default stats visitor always has
    * sizeInBytes (file sizes scaled by projection width); unknown
    * sizes estimate as Long.MaxValue, which correctly assumes BIG. */
  val MinChildBytesKey = "spark.graft.hashFramelessWindow.minChildBytes"
  val MinChildBytesDefault: Long = 64L << 20

  /** Escape hatch for specs: fire regardless of the size and key-type
    * gates. */
  val ForceKey = "spark.graft.hashFramelessWindow.force"

  /** Key-type gate: the join form only fires when some partition key
    * is variable-width (string/binary) or complex. For fixed-width
    * primitive keys, WindowExec's radix sort wins outright — measured
    * on the regenerated derived sf10 (SCALE.md round 7, 60M rows,
    * long key): sort 2.3–3.1 s vs join form 4.0–4.6 s —
    * inverting the r6 one-off probe that motivated the join default.
    * On a 60M-row high-cardinality STRING key (SCALE.md round 7: md5
    * of l_orderkey) the prefix-comparison sort loses: join 6.1 s min /
    * 6.7 s avg vs sort 6.7 s min / 8.5 s avg. Woltka's
    * `COUNT(*) OVER (PARTITION BY seq_id, is_fwd)` — the reference's
    * core frameless window — keys on a string and takes the join form.
    */
  private def sortUnfriendlyKeys(partitionSpec: Seq[Expression]): Boolean =
    partitionSpec.exists { e =>
      e.dataType match {
        case org.apache.spark.sql.types.StringType => true
        case org.apache.spark.sql.types.BinaryType => true
        case _: org.apache.spark.sql.types.ArrayType => true
        case _: org.apache.spark.sql.types.StructType => true
        case _: org.apache.spark.sql.types.MapType => true
        case _ => false
      }
    }

  private def framelessAgg(ne: NamedExpression): Boolean = ne match {
    case Alias(WindowExpression(ae: AggregateExpression,
        WindowSpecDefinition(_, Nil, frame: SpecifiedWindowFrame)), _) =>
      frame.lower == UnboundedPreceding && frame.upper == UnboundedFollowing &&
        !ae.isDistinct && ae.filter.isEmpty && ae.deterministic &&
        ae.aggregateFunction.isInstanceOf[DeclarativeAggregate]
    case _ => false
  }

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case logical.Window(windowExprs, partitionSpec, Nil, child, _)
        if partitionSpec.nonEmpty && windowExprs.nonEmpty &&
          windowExprs.forall(framelessAgg) &&
          SQLConf.get.getConfString(EnabledKey, "true").toBoolean &&
          (SQLConf.get.getConfString(ForceKey, "false").toBoolean ||
            (sortUnfriendlyKeys(partitionSpec) &&
              child.stats.sizeInBytes >= BigInt(SQLConf.get
                .getConfString(MinChildBytesKey, MinChildBytesDefault.toString).toLong))) =>
      planJoinForm(windowExprs, partitionSpec, child) :: Nil
    case _ => Nil
  }

  /** Null-safe join/distribution keys for `attrs`: a nullable key `a`
    * becomes (coalesce(a, default), isnull(a)) so a window's
    * nulls-form-a-group semantics survive an equi-join (plain keys
    * would drop null groups; hashing the pair keeps co-location).
    */
  private def nullSafeKeys(attrs: Seq[Attribute]): Seq[Expression] = attrs.flatMap { a =>
    if (a.nullable) Seq(Coalesce(Seq(a, Literal.default(a.dataType))), IsNull(a))
    else Seq(a)
  }

  /** Physical construction of the exchange-reusing join form.
    *
    * Built at the PHYSICAL level on purpose: expressed logically, the
    * optimizer's column pruning projects the aggregate side down to
    * the keys, the two exchange subtrees stop being identical, and the
    * plan degenerates to a two-shuffle join-back. Both join-backs were
    * measured slower than WindowExec (SCALE.md rounds 5-6: groupBy +
    * join-back 6.03 s, broadcast join-back 13.2 s at 60M rows) — they
    * pay a second shuffle, or a driver-side broadcast collect, for the
    * aggregate side. Here both join inputs plan the SAME logical child
    * with the SAME required distribution, so ReuseExchange (or AQE
    * stage reuse) collapses them: the shuffle is written once and read
    * twice, the one exchange WindowExec itself needs.
    */
  private def planJoinForm(
      windowExprs: Seq[NamedExpression],
      partitionSpec: Seq[Expression],
      child: LogicalPlan): SparkPlan = {
    val completeAggs = windowExprs.map {
      case Alias(WindowExpression(ae: AggregateExpression, _), _) => ae.copy(mode = Complete)
      case other => throw new IllegalStateException(s"not a window aggregate: $other")
    }
    val aggAttrs = completeAggs.map(_.resultAttribute)

    // Both join inputs must be the IDENTICAL subtree for the reuse to
    // fire, and everything above the shared exchange must key on plain
    // attributes (alias-aware partitioning propagation through the
    // aggregate is attribute-based). Attribute keys use the planned
    // child as-is; expression keys (e.g. the optimizer's
    // KnownFloatingPointNormalized wrappers around float columns) are
    // evaluated ONCE in a projection below the exchange — the shuffle
    // then carries the evaluated key column (per-row cost: one column).
    val nonAttr = partitionSpec.exists(!_.isInstanceOf[Attribute])
    val keyAliases0 = partitionSpec.map {
      case a: Attribute => None
      case e => Some(Alias(e, "_wkey")())
    }
    val shared: SparkPlan =
      if (!nonAttr) planLater(child)
      else ProjectExec(child.output ++ keyAliases0.flatten, planLater(child))
    val keys: Seq[Attribute] = partitionSpec.zip(keyAliases0).map {
      case (a: Attribute, _) => a
      case (_, Some(al)) => al.toAttribute
      case _ => throw new IllegalStateException("unreachable")
    }

    // fresh ids for the aggregate's key output — the join must tell
    // its two sides' key columns apart
    val keyAliases = keys.map(a => Alias(a, a.name)())
    val aggPlan = HashAggregateExec(
      requiredChildDistributionExpressions = Some(nullSafeKeys(keys)),
      isStreaming = false,
      numShufflePartitions = None,
      groupingExpressions = keys,
      aggregateExpressions = completeAggs,
      aggregateAttributes = aggAttrs,
      initialInputBufferOffset = 0,
      resultExpressions = keyAliases ++ aggAttrs,
      child = shared)
    val join = ShuffledHashJoinExec(
      leftKeys = nullSafeKeys(keys),
      rightKeys = nullSafeKeys(keyAliases.map(_.toAttribute)),
      joinType = Inner,
      buildSide = BuildRight,
      condition = None,
      left = shared,
      right = aggPlan,
      isSkewJoin = false)
    // restore the Window node's exact output: child columns + window
    // columns under their original expression ids
    val winCols = windowExprs.zip(aggAttrs).map { case (ne, a) =>
      Alias(a, ne.name)(exprId = ne.exprId)
    }
    ProjectExec(child.output ++ winCols, join)
  }

  /** Idempotently register on a live session (for sessions not built
    * with spark.sql.extensions=graft.GraftExtensions). */
  def install(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraStrategies
    if (!cur.contains(FramelessWindowStrategy))
      spark.experimental.extraStrategies = cur :+ FramelessWindowStrategy
  }
}
