package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session — Spark
  * startup dominates test wall-clock otherwise).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  /** Smallest fixture scale — correctness only, speed matters in tests. */
  val sfDir = "/root/testdata/sf0.001"

  /** All nodes of a physical plan, through AQE and its query stages. */
  def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case other                    => other.children
    }
    p +: kids.flatMap(allNodes)
  }

  /** `body` with `autoBroadcastJoinThreshold` set to `bytes`, so that
    * the delta's steering budget is `bytes / 64` keys.
    */
  def withBroadcastThreshold[A](bytes: Long)(body: => A): A = {
    val k = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(k)
    spark.conf.set(k, bytes.toString)
    try body finally saved match {
      case Some(v) => spark.conf.set(k, v)
      case None    => spark.conf.unset(k)
    }
  }

  /** Every query execution `body` runs, in order, with its result.
    * Listener events arrive in order, so once a marker query is reported
    * every execution before it has been.
    */
  def executionsOf[A](body: => A): (A, Seq[QueryExecution]) = {
    val seen = new LinkedBlockingQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit =
        seen.put(qe)
      def onFailure(name: String, qe: QueryExecution, e: Exception): Unit =
        seen.put(qe)
    }
    spark.listenerManager.register(listener)
    try {
      val result = body
      spark.range(1).toDF("marker").collect()
      (result, Iterator.continually(seen.poll(60, TimeUnit.SECONDS))
        .takeWhile(qe => qe != null &&
          !qe.analyzed.output.exists(_.name == "marker"))
        .toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.local("4", "graft-test")
}
