package graft

import graft.functions.GraftFunctionBuilders
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions entry point: makes the ENTIRE native graft
  * SQL surface (CIGAR + sequence expressions, all 26 flag predicates,
  * compress_intervals, miint_version, bowtie2_available) first-class
  * in any session built with
  *   spark.sql.extensions=graft.GraftExtensions
  * (cluster-wide, no per-session registration call needed). The exact
  * same builders back MiintRegistry.registerAll — one definition in
  * GraftFunctionBuilders, so the two paths cannot drift. It injects
  * functions only: no planner strategy or rule, so every query plans
  * with Spark's own physical operators (a frameless window such as
  * woltka_ogu's COUNT(*) OVER (PARTITION BY ...) runs on WindowExec).
  *
  * Reference SQL surface: src/miint_extension.cpp:65-117.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    for (fn <- GraftFunctionBuilders.all)
      ext.injectFunction((FunctionIdentifier(fn.name),
        new ExpressionInfo("graft", null, fn.name, fn.usage, ""),
        fn.builder))
  }
}
