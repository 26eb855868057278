package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins `PlanMetrics.allNodes`: every physical node of an executed plan is
  * visited exactly once, by IDENTITY — same-result subtrees (the two
  * sides of a self-join) are distinct nodes whose metrics both count,
  * while a reused exchange is not expanded, so the bytes it moved count
  * once.
  */
class PlanMetricsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def withConf[T](kv: (String, String)*)(f: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach { case (k, o) => o.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** An aggregate joined with itself on its grouping key: both sides need
    * the same hash exchange, so exchange reuse turns one into a
    * ReusedExchangeExec. Broadcast is off so the join stays a sort-merge
    * join over the two exchanged sides.
    */
  private def selfJoin(): DataFrame = {
    val agg = spark.range(0, 4000)
      .select((col("id") % 97).as("k"), col("id").as("v"))
      .groupBy(col("k")).agg(sum(col("v")).as("s"))
    agg.as("a").join(agg.as("b"), col("a.k") === col("b.k"))
  }

  private def executedNodes(df: DataFrame): (Seq[SparkPlan], Map[String, Long]) = {
    df.collect()
    val qe = df.queryExecution
    (PlanMetrics.allNodes(qe.executedPlan), PlanMetrics.collect(qe))
  }

  private def assertIdentityUnique(nodes: Seq[SparkPlan]): Unit = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    nodes.foreach(n => assert(seen.add(n), s"node visited twice: ${n.nodeName}"))
  }

  private def shuffleBytes(n: SparkPlan): Long =
    n.metrics.get("shuffleBytesWritten").map(_.value).getOrElse(0L)

  test("self-join without reuse: same-result sides both count") {
    withConf("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.exchange.reuse" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val (nodes, m) = executedNodes(selfJoin())
      assertIdentityUnique(nodes)
      val exchanges = nodes.collect { case x: ShuffleExchangeExec => x }
      assert(exchanges.size === 2, s"expected one exchange per side, got ${exchanges.size}")
      // the two sides compute the same result (what exchange reuse keys
      // on), yet they are distinct nodes and both are visited
      assert(exchanges(0).sameResult(exchanges(1)) && !(exchanges(0) eq exchanges(1)))
      assert(exchanges.forall(x => shuffleBytes(x) > 0L))
      assert(m("shuffle_bytes") === exchanges.map(shuffleBytes).sum)
    }
  }

  test("reused exchange: its bytes count once") {
    withConf("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.exchange.reuse" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val (nodes, m) = executedNodes(selfJoin())
      assertIdentityUnique(nodes)
      assert(nodes.count(_.isInstanceOf[ReusedExchangeExec]) === 1,
        "the plan under test must contain a ReusedExchangeExec")
      val exchanges = nodes.collect { case x: ShuffleExchangeExec => x }
      assert(exchanges.size === 1, "a reused exchange must not be expanded")
      assert(shuffleBytes(exchanges.head) > 0L)
      assert(m("shuffle_bytes") === shuffleBytes(exchanges.head))
    }
  }

  test("AQE plan: stages are pierced, each node once, reused stage bytes once") {
    withConf("spark.sql.adaptive.enabled" -> "true",
        "spark.sql.exchange.reuse" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = selfJoin()
      val (nodes, m) = executedNodes(df)
      assert(df.queryExecution.executedPlan.isInstanceOf[
        org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec])
      assertIdentityUnique(nodes)
      // the walk reaches inside the materialized query stages
      assert(nodes.exists(_.isInstanceOf[
        org.apache.spark.sql.execution.adaptive.QueryStageExec]))
      val exchanges = nodes.collect { case x: ShuffleExchangeExec => x }
      assert(exchanges.size === 1, s"expected one exchange, got ${exchanges.size}")
      assert(shuffleBytes(exchanges.head) > 0L)
      assert(m("shuffle_bytes") === shuffleBytes(exchanges.head))
    }
  }
}
