package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftshims.{DotProduct, Hash28Array, L2Norm}

/** Library entry point for Spark's extension mechanism — install with
  * `spark.sql.extensions=graft.GraftExtensions` (or
  * a session builder's `withExtensions(new GraftExtensions)`, or
  * `GraftSession.local(extensions = new GraftExtensions)`):
  *
  *  - SQL functions `vec_dot` / `vec_l2norm` (native codegen'd vector
  *    kernels, see [[graft.functions.VectorExpressions]]);
  *  - [[graft.plans.VectorKernelRule]], which rewrites the equivalent
  *    higher-order-function spellings users write by hand into those
  *    kernels.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "vec_dot"),
      (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("vec_l2norm"),
      new ExpressionInfo(classOf[L2Norm].getName, "vec_l2norm"),
      (exprs: Seq[Expression]) => L2Norm(exprs(0))))
    ext.injectFunction((
      FunctionIdentifier("vec_hash28"),
      new ExpressionInfo(classOf[Hash28Array].getName, "vec_hash28"),
      (exprs: Seq[Expression]) => Hash28Array(exprs(0))))
    ext.injectOptimizerRule(_ => graft.plans.VectorKernelRule)
    ext.injectParser((_, delegate) => new graft.plans.GraftSqlParser(delegate))
  }
}
