package graft

import graft.operators.WordCount
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.{CoalesceExec, GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.QueryStageExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** graft.plans.SmallSortRule: a global ORDER BY whose input AQE would read
  * as one partition sorts in one task, without the range-sampling job;
  * bigger sorts, sorts over joins and user range repartitions keep their
  * range exchange.
  */
class SmallSortRuleSpec extends SparkSpec {

  /** Every node of a final plan, descending into its query stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case q: QueryStageExec => nodes(q.plan)
    case _ => p.children.flatMap(nodes)
  })

  private def rangeExchanges(p: SparkPlan): Seq[ShuffleExchangeExec] = nodes(p).collect {
    case e @ ShuffleExchangeExec(_: RangePartitioning, _, _, _) => e
  }

  test("wordCount sorts in its reduce task: no range exchange in the final plan") {
    val plan = finalPlan(WordCount.wordCount(spark, sf))
    assert(rangeExchanges(plan).isEmpty, plan.treeString)
    assert(nodes(plan).exists(_.isInstanceOf[CoalesceExec]), plan.treeString)
  }

  test("a sort over a scan gets a single-partition exchange, not a coalesce") {
    val plan = finalPlan(WordCount.docTokenCounts(spark, sf))
    assert(rangeExchanges(plan).isEmpty, plan.treeString)
    assert(!nodes(plan).exists(_.isInstanceOf[CoalesceExec]), plan.treeString)
    assert(nodes(plan).exists {
      case ShuffleExchangeExec(SinglePartition, _, _, _) => true
      case _ => false
    }, plan.treeString)
  }

  private val aqe = "spark.sql.adaptive."
  private val minSize = aqe + "coalescePartitions.minPartitionSize"

  test("above AQE's one-partition size the range exchange stays and the rows are identical") {
    val small = WordCount.wordCount(spark, sf).collect().toSeq
    for (confs <- Seq(
        Seq(minSize -> "1"),
        Seq(aqe + "coalescePartitions.parallelismFirst" -> "false", minSize -> "1",
            aqe + "advisoryPartitionSizeInBytes" -> "1"),
        Seq(aqe + "coalescePartitions.enabled" -> "false"))) withConf(confs: _*) {
      val df = WordCount.wordCount(spark, sf)
      val plan = finalPlan(df)
      assert(rangeExchanges(plan).nonEmpty, s"$confs\n${plan.treeString}")
      assert(df.collect().toSeq == small, confs)
    }
  }

  test("under parallelismFirst the advisory size alone does not gate the rule") {
    // AQE still reads a shuffle below minPartitionSize as one partition
    withConf(aqe + "advisoryPartitionSizeInBytes" -> "1") {
      val plan = finalPlan(WordCount.wordCount(spark, sf))
      assert(rangeExchanges(plan).isEmpty, plan.treeString)
      assert(nodes(plan).exists(_.isInstanceOf[CoalesceExec]), plan.treeString)
    }
  }

  test("a sort over a shuffled join keeps its range exchange and its join tasks") {
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
        .join(Tables.orders(spark, sf).select("o_orderkey", "o_orderpriority"),
          col("l_orderkey") === col("o_orderkey"))
        .orderBy("l_orderkey", "l_quantity")
      val plan = finalPlan(j)
      assert(!nodes(plan).exists(_.isInstanceOf[CoalesceExec]), plan.treeString)
      assert(rangeExchanges(plan).nonEmpty, plan.treeString)
    }
  }

  test("a sort over a generator above a stage gets no coalesce") {
    val df = Tables.documents(spark, sf)
      .groupBy("lang").agg(collect_list("doc_id").as("ids"))
      .select(explode(col("ids")).as("doc_id"))
      .orderBy("doc_id")
    val plan = finalPlan(df)
    assert(!nodes(plan).exists(_.isInstanceOf[CoalesceExec]), plan.treeString)
  }

  test("top_term_per_doc tokenizes in more than one task and sorts with no exchange") {
    val plan = finalPlan(WordCount.topTermPerDoc(spark, sf))
    val tokenize = nodes(plan).collect { case g: GenerateExec => g }
    assert(tokenize.size == 1, plan.treeString)
    assert(tokenize.head.outputPartitioning.numPartitions > 1, plan.treeString)
    // the document range shuffle is the one exchange; the ORDER BY doc_id adds none
    assert(nodes(plan).collect { case e: ShuffleExchangeExec => e }.size == 1, plan.treeString)
    assert(!nodes(plan).exists(_.isInstanceOf[CoalesceExec]), plan.treeString)
  }

  test("repartitionByRange is never rewritten") {
    val docs = Tables.documents(spark, sf).select("doc_id")
    for (df <- Seq(docs.repartitionByRange(3, col("doc_id")),
                   docs.repartitionByRange(3, col("doc_id")).orderBy("doc_id"))) {
      val plan = finalPlan(df)
      val range = rangeExchanges(plan)
      assert(range.size == 1, plan.treeString)
      assert(range.head.outputPartitioning.numPartitions == 3, plan.treeString)
    }
  }
}
