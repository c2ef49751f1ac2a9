package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec

/** Exact plan counts of a query's physical plan before adaptive
  * re-optimization (Exchanges inserted, no stage run yet): the noise-free
  * regression signal. */
object Fingerprint {
  def of(df: DataFrame): Map[String, Long] = {
    val plan: SparkPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan // the initial plan until it runs
      case p => p
    }
    val nodes = plan.collectWithSubqueries { case n => n }
    Map(
      "exchanges" -> nodes.count(_.isInstanceOf[ShuffleExchangeLike]).toLong,
      "broadcasts" -> nodes.count(_.isInstanceOf[BroadcastExchangeLike]).toLong,
      "joins" -> nodes.count(_.isInstanceOf[BaseJoinExec]).toLong,
      "codegen_fallbacks" -> nodes.map(_.expressions.map(_.collect { case e: CodegenFallback => e }.size).sum)
        .sum.toLong)
  }
}
