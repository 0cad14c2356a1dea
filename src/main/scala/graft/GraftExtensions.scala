package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.expr.FloatArrayKernel
import graft.functions.expr.FloatArrayKernel.{Dot, SqL2}

/** SparkSessionExtensions entry point: registers the [[FloatArrayKernel]]'s
  * dot and squared-L2 operations as the SQL functions `graft_dot` and
  * `graft_sql2`, so `spark.sql("SELECT graft_dot(a, b) ...")` works and
  * spark-submit users can opt in with
  * `--conf spark.sql.extensions=graft.GraftExtensions`, plus the
  * [[graft.plans.BandedHammingJoinRule]] optimizer rule that turns naive
  * `bit_count(a ^ b) <= k` joins into exact banded equi joins.
  *
  * DataFrame-API callers don't need the functions — [[graft.functions.VectorFns]]
  * builds the expressions directly.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => graft.plans.BandedHammingJoinRule)
    ext.injectOptimizerRule(_ => graft.plans.BucketedRangeJoinRule)
    Seq(
      ("graft_dot", Dot, "double-precision dot product of two float arrays"),
      ("graft_sql2", SqL2, "squared L2 distance of two float arrays (double precision)"))
      .foreach { case (name, op, usage) =>
        ext.injectFunction((
          new FunctionIdentifier(name),
          new ExpressionInfo(classOf[FloatArrayKernel].getName, null, name, s"$name(a, b) - $usage", ""),
          (children: Seq[Expression]) => FloatArrayKernel(children(0), children(1), op)))
      }
  }
}
