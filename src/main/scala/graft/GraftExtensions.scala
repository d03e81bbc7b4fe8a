package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.HistogramSketch

/** SparkSessionExtensions entry point — the cluster-idiomatic way to ship
  * the engine's custom expressions: `spark-submit --conf
  * spark.sql.extensions=graft.GraftExtensions ...` registers them in every
  * session of the application with no driver code changes (vs the
  * per-session [[graft.functions.HistogramSketch.register]]). Currently
  * injects:
  *
  *  - `histogram_sketch(col, lo, hi, bins)` — the one-pass mergeable
  *    histogram TypedImperativeAggregate behind the drift rules;
  *  - `graft_dot(a, b)` — the codegen'd array dot product behind the ANN
  *    similarity paths;
  *  - `topk_sketch(key, payload, k)` — the K-bounded deterministic
  *    top-K aggregate behind violation-sample caps.
  *
  * The quantile sketch needs no injection: it is Spark's built-in KLL
  * (`kll_sketch_agg_double` and its readers, see [[graft.functions.Kll]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("histogram_sketch"),
      new ExpressionInfo(classOf[HistogramSketch].getName, "histogram_sketch"),
      (exprs: Seq[Expression]) => HistogramSketch.fromExpressions(exprs)))
    ext.injectFunction((
      FunctionIdentifier("topk_sketch"),
      new ExpressionInfo(classOf[graft.functions.TopKSketch].getName, "topk_sketch"),
      (exprs: Seq[Expression]) => graft.functions.TopKSketch.fromExpressions(exprs)))
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[graft.functions.DotProduct].getName, "graft_dot"),
      (exprs: Seq[Expression]) => graft.functions.VectorOps.fromExpressions(exprs)))
  }
}
