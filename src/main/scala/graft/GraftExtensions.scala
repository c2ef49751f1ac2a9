package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions._
import graft.plans.{AsOfJoinStrategy, GroupTopKStrategy, MvRewriteRule, SimJoinRewriteRule, SkylineStrategy, SmallSortRule, TopKRewriteRule}

/** Library entry point for `spark.sql.extensions=graft.GraftExtensions`
  * (a spark-submit or session-builder config): injects every graft
  * extension — the codegen'd scalar kernels as SQL functions, the
  * optimizer rules (window top-k, similarity join, materialized-view
  * rewrite), the planning strategies (GroupTopK, as-of join, skyline) and
  * the AQE query-stage prep rule [[graft.plans.SmallSortRule]] (a global
  * ORDER BY whose input AQE would read as one partition sorts in one task,
  * without the range-sampling job) —
  * at session build time, the idiomatic way a Spark library ships Catalyst
  * extensions. This is the only place they are armed: no operator or
  * loader registers a function, strategy or rule at run time.
  *
  * [[graft.Session.builder]] sets this class, so every session the repo
  * builds (Bench, Verify, the dev mains and the test session in SparkSpec)
  * runs with the extensions active; TopKRewriteSpec separately asserts the
  * rewrite is byte-identical to the window form.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, name)

  private def fn(e: SparkSessionExtensions, name: String,
                 builder: Seq[Expression] => Expression): Unit =
    e.injectFunction((FunctionIdentifier(name), info(name), builder))

  override def apply(e: SparkSessionExtensions): Unit = {
    fn(e, "graft_dot", exprs => DotProduct(exprs(0), exprs(1)))
    fn(e, "graft_sqdist_long", exprs => SqDistLong(exprs(0), exprs(1)))
    fn(e, "graft_dot_long", exprs => DotLong(exprs(0), exprs(1)))
    fn(e, "graft_tri_products", exprs => UpperTriProducts(exprs.head))
    fn(e, "graft_sub_long", exprs => SubLong(exprs(0), exprs(1)))
    fn(e, "graft_pq_encode", exprs => PqEncode(exprs(0), exprs(1)))
    fn(e, "graft_pq_lut", exprs => PqLut(exprs(0), exprs(1)))
    fn(e, "graft_pq_adist", exprs => PqAdist(exprs(0), exprs(1)))
    fn(e, "graft_shingle_hashes", exprs => ShingleHashes(exprs.head))
    fn(e, "graft_winnow_hashes", exprs => WinnowHashes(exprs.head))
    fn(e, "graft_md5_top60", exprs => Md5Top60(exprs.head))
    fn(e, "graft_minhash_bands", exprs => MinHashBands(exprs.head))
    fn(e, "graft_simhash60", exprs => SimHash60(exprs.head))
    fn(e, "graft_jaccard_sorted", exprs => JaccardSorted(exprs(0), exprs(1)))
    fn(e, "graft_bigrams", exprs => Bigrams(exprs.head))
    fn(e, "graft_skipgram_pairs", exprs => SkipgramPairs(exprs.head))
    fn(e, "graft_morton", exprs => MortonInterleave(exprs(0), exprs(1)))
    fn(e, "graft_hilbert", exprs => HilbertIndex(exprs(0), exprs(1)))
    e.injectOptimizerRule(_ => TopKRewriteRule)
    e.injectOptimizerRule(_ => SimJoinRewriteRule)
    e.injectOptimizerRule(_ => MvRewriteRule)
    e.injectPlannerStrategy(_ => GroupTopKStrategy)
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
    e.injectPlannerStrategy(_ => SkylineStrategy)
    e.injectQueryStagePrepRule(_ => SmallSortRule)
  }
}
