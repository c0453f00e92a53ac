package org.apache.spark.sql.graftbridge

import scala.reflect.ClassTag

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{DataSource, DataSourceUtils}
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat

/** Minimal bridge into `private[sql]` / `private[spark]` members — the
  * standard shim every Spark extension library ships. It exposes three
  * things: turning an injected custom [[LogicalPlan]] into a user-facing
  * DataFrame, running a task over every partition of a DataFrame's
  * physical plan as one SQL execution, and the schema checks Spark's CSV
  * file writer makes before it starts a job.
  */
object Bridge {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def analyzed(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  /** Whether a planner strategy of the given class is active. */
  def hasStrategy(spark: SparkSession, clazz: Class[_]): Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.planner.extraPlanningStrategies
      .exists(s => clazz.isAssignableFrom(s.getClass))

  /** Run `df` as ONE SQL execution named `name`: the task that `task`
    * builds (given the plan's partition count) runs on every partition
    * of the physical plan, at its natural parallelism, and `consume`
    * gets the per-partition results in partition order, on the driver,
    * inside that execution — so SQL metrics and `QueryExecutionListener`s
    * see exactly one execution, and a failure in `consume` fails it. The
    * results pass through the driver, bounded by
    * `spark.driver.maxResultSize`.
    */
  def runPartitions[U: ClassTag, A](df: DataFrame, name: String)(
      task: Int => (TaskContext, Iterator[InternalRow]) => U)(
      consume: Array[U] => A): A = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some(name)) {
      qe.executedPlan.resetMetrics()
      val rdd = qe.executedPlan.execute()
      consume(df.sparkSession.sparkContext.runJob(
        rdd, task(rdd.getNumPartitions)))
    }
  }

  /** The schema checks `df.write.csv(...)` makes before running: a
    * non-empty schema and only types the CSV format supports, each
    * failing with the writer's `AnalysisException`. Duplicate column
    * names are not rejected: Spark 4.1's CSV writer accepts them too.
    */
  def checkCsvWritable(df: DataFrame): Unit = {
    DataSource.validateSchema("csv", df.schema,
      df.sparkSession.sessionState.conf)
    DataSourceUtils.verifySchema(new CSVFileFormat, df.schema)
  }
}
