package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.catalyst.expressions.aggregate.{Partial, PartialMerge}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Tables

/** PartialReduce (the reference's off-by-default
  * partial_reduce_below_network_shuffles rule): enabling it must insert a
  * PartialMerge hash aggregate below the shuffle and must never change
  * results; disabled (the default) it must leave plans untouched.
  */
class PartialReduceSpec extends AnyFunSuite {
  import SparkTestSession._

  private def aggModes(plan: SparkPlan): Seq[String] = {
    // Descend through AQE wrappers: plan.collect stops at query-stage
    // boundaries (stage plans are fields, not children).
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val inner: Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => walk(r.child)
        case _ => p.children.flatMap(walk)
      }
      p +: inner
    }
    walk(plan).collect {
      case h: HashAggregateExec if h.aggregateExpressions.nonEmpty =>
        h.aggregateExpressions.head.mode.toString
    }
  }

  private def highCard(s: SparkSession) =
    Tables.load(s, sf01, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast("long")).as("sum_qty"),
        count(lit(1)).as("n_items"))

  test("default off: no PartialMerge stage appears") {
    val df = highCard(spark)
    df.collect()
    val modes = aggModes(df.queryExecution.executedPlan)
    assert(modes.count(_ == "Partial") == 1, s"modes: $modes")
    assert(!modes.contains("PartialMerge"), s"modes: $modes")
  }

  test("enabled: PartialMerge inserted below the exchange, results identical") {
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.partialReduce", "true")
    val df = highCard(s2)
    val withRule = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val modes = aggModes(df.queryExecution.executedPlan)
    assert(modes.contains("PartialMerge"),
      s"expected a PartialMerge stage with the rule on; modes: $modes")
    assert(modes.contains("Partial") && modes.contains("Final"), s"modes: $modes")
    val baseline = highCard(spark).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(withRule.sameElements(baseline),
      "PartialReduce changed the aggregation result")
  }

  test("malformed spark.graft.partialReduce (=1) falls back to off, and " +
    "the query still returns rows") {
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.partialReduce", "1")
    val df = highCard(s2)
    assert(df.collect().nonEmpty)
    assert(!aggModes(df.queryExecution.executedPlan).contains("PartialMerge"))
  }

  test("boolConf reads only true/false; anything else is None") {
    import graft.engine.GraftSession.boolConf
    val s2 = spark.newSession()
    val key = "spark.graft.test.flag"
    assert(boolConf(s2, key).isEmpty)
    for ((v, want) <- Seq("true" -> Some(true), " FALSE " -> Some(false),
        "1" -> None, "yes" -> None, "" -> None)) {
      s2.conf.set(key, v)
      assert(boolConf(s2, key) == want, s"'$v'")
    }
  }
}
