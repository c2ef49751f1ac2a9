package graft

import graft.plans.{GroupTopK, GroupTopKExec, TopKRewriteRule}
import org.apache.spark.sql.DataFrame

/** The optimizer rule must transparently swap the row_number idiom for the
  * bounded-heap operator without changing any result. The shared session
  * injects the rule (GraftExtensions), so every baseline runs with it
  * excluded and asserts that its plan really is the window.
  */
class TopKRewriteSpec extends SparkSpec {

  /** Rows of `df` planned without [[TopKRewriteRule]]. */
  private def withoutRule(df: => DataFrame): Seq[org.apache.spark.sql.Row] =
    withConf("spark.sql.optimizer.excludedRules" -> TopKRewriteRule.ruleName) {
      val d = df
      assert(!d.queryExecution.optimizedPlan.exists(_.isInstanceOf[GroupTopK]),
        s"baseline still rewritten:\n${d.queryExecution.optimizedPlan}")
      d.collect().toSeq
    }

  private def windowTopK = {
    Tables.events(spark, sf).createOrReplaceTempView("ev_topk")
    spark.sql(
      """SELECT user_id, rn, event_id, value FROM (
        |  SELECT user_id, event_id, value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
        |  FROM ev_topk) t
        |WHERE rn <= 3 ORDER BY user_id, rn""".stripMargin)
  }

  test("rule rewrites the window idiom into GroupTopK") {
    // check the optimized logical plan: under AQE the physical tree is
    // wrapped in AdaptiveSparkPlanExec whose children don't traverse
    val plan = windowTopK.queryExecution.optimizedPlan
    assert(plan.exists(_.isInstanceOf[GroupTopK]),
      s"expected GroupTopK in:\n$plan")
  }

  test("rewritten plan returns exactly the window results") {
    val baseline = withoutRule(windowTopK)
    val rewritten = windowTopK
    assert(rewritten.queryExecution.optimizedPlan.exists(_.isInstanceOf[GroupTopK]))
    assert(rewritten.collect().toSeq == baseline)
  }

  test("physical plan composes a partial pass before the exchange") {
    val exec = windowTopK.queryExecution.executedPlan
    // AQE wraps the tree; the initial plan string still names every node
    assert(exec.toString.contains("GroupTopK"), exec.toString)
    val nodes = scala.collection.mutable.ArrayBuffer.empty[GroupTopKExec]
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => walk(a.inputPlan)
        case g: GroupTopKExec => nodes += g; g.children.foreach(walk)
        case other => other.children.foreach(walk)
      }
    }
    walk(exec)
    assert(nodes.map(_.partial).sorted == Seq(false, true),
      s"expected one partial + one final GroupTopKExec, got ${nodes.map(_.partial)} in:\n$exec")
    // the partial pass must sit below the exchange: its child is not one
    val partialNode = nodes.find(_.partial).get
    assert(!partialNode.child.toString.startsWith("Exchange"), partialNode.toString)
  }

  test("rn = 1 idiom rewrites to a k=1 GroupTopK with identical results") {
    Tables.events(spark, sf).createOrReplaceTempView("ev_topk")
    def top1 = spark.sql(
      """SELECT user_id, event_id, value FROM (
        |  SELECT user_id, event_id, value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
        |  FROM ev_topk) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin)
    val baseline = withoutRule(top1)
    assert(top1.queryExecution.optimizedPlan.exists {
      case g: GroupTopK => g.k == 1
      case _ => false
    }, s"expected k=1 GroupTopK in:\n${top1.queryExecution.optimizedPlan}")
    assert(top1.collect().toSeq == baseline)
  }

  test("rn = c for c > 1 selects a middle rank and must stay a window") {
    Tables.events(spark, sf).createOrReplaceTempView("ev_topk")
    val df = spark.sql(
      """SELECT user_id, event_id FROM (
        |  SELECT user_id, event_id,
        |         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
        |  FROM ev_topk) t
        |WHERE rn = 2""".stripMargin)
    assert(!df.queryExecution.optimizedPlan.exists(_.isInstanceOf[GroupTopK]))
    assert(df.count() > 0)
  }

  test("rule leaves non-matching filters untouched") {
    // rank used with a lower bound — not a top-k; must stay a window
    Tables.events(spark, sf).createOrReplaceTempView("ev_topk")
    val df = spark.sql(
      """SELECT * FROM (
        |  SELECT user_id, event_id,
        |         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
        |  FROM ev_topk) t
        |WHERE rn > 2""".stripMargin)
    assert(!df.queryExecution.optimizedPlan.exists(_.isInstanceOf[GroupTopK]))
    assert(df.count() > 0)
  }
}
