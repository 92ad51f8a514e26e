package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions._

/** The engine's one install path: its native functions, planner rules
  * and as-of strategy, injected into a session as extensions. Every
  * [[GraftSession]] carries them; a cluster user gets the same session
  * by adding `spark.sql.extensions=graft.GraftExtensions` to
  * spark-submit. A session built without them cannot resolve
  * `graft_*` (the first call fails with `UNRESOLVED_ROUTINE`) and
  * plans the naive shapes the rules would rewrite.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, clazz, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(clazz.getName, name), builder))
    }
    // planner seam: rewrite the naive collect_list+sort second-max
    // idiom to the native two-slot aggregate (see SecondMaxRewrite)
    ext.injectOptimizerRule(_ => graft.plans.SecondMaxRewrite)
    // planner seam: bucket no-equi-key point-in-interval joins into
    // equi-joins so they never plan BNLJ (see RangeJoinRewrite)
    ext.injectOptimizerRule(s => graft.plans.RangeJoinRewrite(s))
    // whole-operator seam: the native as-of join physical operator
    // (logical AsOfJoin node -> one-pass sort-merge AsOfJoinExec)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}

object GraftExtensions {
  /** Every native function: (SQL name, implementing class, builder). */
  val functions: Seq[(String, Class[_], FunctionBuilder)] = Seq(
    ("graft_second_max", classOf[SecondMax], e => SecondMax(e.head)),
    ("graft_md5_prefix", classOf[Md5PrefixLong], e => Md5PrefixLong(e.head)),
    ("graft_kmv_kth", classOf[KmvKthHash], GraftFunctions.kmvBuilder),
    ("graft_fdot", classOf[FloatDot], e => FloatDot(e(0), e(1))),
    ("graft_char_bigrams", classOf[CharBigrams], e => CharBigrams(e.head)),
    ("graft_window_hashes", classOf[WindowHashes], WindowHashes.builder),
    ("graft_char_windows", classOf[CharWindows], CharWindows.builder),
    ("graft_token_ngrams", classOf[TokenNgrams], TokenNgrams.builder),
    ("graft_alnum_tokens", classOf[AlnumTokens], e => AlnumTokens(e.head)),
    ("graft_ldot", classOf[LongDot], e => LongDot(e(0), e(1))),
    ("graft_hilbert", classOf[HilbertIndex], e => HilbertIndex(e(0), e(1), e(2))),
    ("graft_fdotq", classOf[FloatDotQuant], e => FloatDotQuant(e(0), e(1))),
    ("graft_fl2", classOf[FloatL2], e => FloatL2(e(0), e(1))),
    ("graft_fl2q", classOf[FloatL2Quant], e => FloatL2Quant(e(0), e(1))),
    ("graft_pq_argmin", classOf[PqArgmin], GraftFunctions.pqArgminBuilder),
    ("graft_argmin_l2", classOf[ArgminL2], e => ArgminL2(e(0), e(1))),
    ("graft_vlsum", classOf[VecSumLong], e => VecSumLong(e(0)).toAggregateExpression()),
    ("graft_topk_min", classOf[TopKMin], GraftFunctions.topkBuilder))
}
