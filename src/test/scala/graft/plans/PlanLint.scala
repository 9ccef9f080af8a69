package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, LambdaFunction, ScalaUDF}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join}
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec

/** The kernel-once plan lint. A kernel UDF (a `ScalaUDF`) is opaque to
  * Catalyst, which treats it as a free expression: alias substitution
  * copies it into pushed Filters and join conditions, and
  * CollapseProject copies it into each field read. Every copy is one
  * more kernel call per row. The lint walks a frame's optimized plan,
  * and the plan of every cached relation in it (a walk of the top-level
  * plan does not enter those), and reports:
  *  - a `ScalaUDF` in a Filter condition, or in a Join condition or key;
  *  - a `ScalaUDF` inside a `LambdaFunction` (run once per element);
  *  - the same canonicalized `ScalaUDF` twice.
  *
  * The fix in `graft.ops` is `KernelOnce`; [[allowList]] names the
  * calls that are meant to stay where the lint would flag them.
  */
object PlanLint {

  /** Calls of the kernel named `udfName` are exempt, for `reason`. */
  final case class Allowed(udfName: String, reason: String)

  val allowList: Seq[Allowed] = Seq(
    Allowed("bloom_might_contain",
      "Decontaminate.decontaminateBloom's Bloom test is the prefilter: " +
        "it is meant to run in the Filter below the exact join"))

  /** One line per finding; empty when the plan is clean. */
  def violations(df: DataFrame, allowed: Seq[Allowed] = allowList): Seq[String] = {
    val exempt = allowed.map(_.udfName).toSet
    def kernels(e: Expression): Seq[ScalaUDF] = e.collect {
      case u: ScalaUDF if !u.udfName.exists(exempt) => u
    }
    def show(u: ScalaUDF) = u.udfName.getOrElse(u.toString)
    val all = nodes(df.queryExecution.optimizedPlan)
    val inConditions = all.flatMap { n =>
      conditions(n).flatMap(kernels).map(u =>
        s"${show(u)} in the condition of ${n.nodeName}")
    }
    val inLambdas = all.flatMap(_.expressions.flatMap(_.collect {
      case l: LambdaFunction => kernels(l)
    }.flatten)).map(u => s"${show(u)} inside a lambda")
    val copied = all.flatMap(_.expressions.flatMap(kernels))
      .groupBy(_.canonicalized).values.filter(_.size > 1)
      .map(us => s"${show(us.head)} appears ${us.size} times").toSeq
    inConditions ++ inLambdas ++ copied
  }

  private def conditions(n: QueryPlan[_]): Seq[Expression] = n match {
    case f: Filter => Seq(f.condition)
    case j: Join => j.condition.toSeq
    case f: FilterExec => Seq(f.condition)
    case j: BaseJoinExec => j.leftKeys ++ j.rightKeys ++ j.condition
    case _ => Nil
  }

  /** Every node of `root`, entering each cached plan once (a persisted
    * frame read twice appears as two relations over one cache).
    */
  private def nodes(root: QueryPlan[_]): Seq[QueryPlan[_]] = {
    val seen = scala.collection.mutable.Set.empty[AnyRef]
    def cached(c: AnyRef, plan: QueryPlan[_]): Seq[QueryPlan[_]] =
      if (seen.exists(_ eq c)) Nil else { seen += c; walk(plan) }
    def walk(p: QueryPlan[_]): Seq[QueryPlan[_]] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case r: InMemoryRelation =>
        r +: cached(r.cacheBuilder, r.cacheBuilder.cachedPlan)
      case s: InMemoryTableScanExec =>
        s +: cached(s.relation.cacheBuilder, s.relation.cacheBuilder.cachedPlan)
      case other => other +: other.children.flatMap {
        case c: QueryPlan[_] => walk(c)
      }
    }
    walk(root)
  }
}
