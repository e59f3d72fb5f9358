package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s.{JLong, JObject}
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

/** Per-operator metrics of what Spark actually executed. For each
  * successful query execution it prints one JSON line to stderr:
  *
  * {{{
  * {"planMetrics":"overwrite","durationMs":812,"operators":[
  *   {"name":"OverwriteByExpression","id":41,"metrics":{…}},
  *   {"name":"HashAggregate","id":57,"metrics":{"numOutputRows":10,"spillSize":0,…}},
  *   {"name":"Exchange","id":52,"metrics":{"shuffleBytesWritten":1180,"shuffleRecordsWritten":40,…}}, …]}
  * }}}
  *
  * `planMetrics` is the execution's function name (`overwrite` for a `noop`
  * write, `command` for a V1 file write, `collect`, …). The operators are
  * the final plan's nodes in pre-order, each with its id and every
  * `SQLMetric` under its key: rows, sizes in bytes, times in ms (a
  * nanosecond timer is converted; a metric no task set reads 0). Keeps no
  * state.
  *
  * Attached only through Spark's static `spark.sql.queryExecutionListeners`
  * key, which a `-Dspark.*` JVM property sets, e.g.
  * {{{
  * sbt 'set run / javaOptions += "-Dspark.sql.queryExecutionListeners=org.apache.spark.sql.graftbridge.PlanMetricsListener"' "runMain graft.Bench"
  * }}}
  */
class PlanMetricsListener(emit: String => Unit) extends QueryExecutionListener {
  def this() = this(line => System.err.println(line))

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    emit(PlanMetricsListener.line(funcName, qe.executedPlan, durationNs))

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object PlanMetricsListener {

  /** The operators of the final plan, in pre-order. A write command (V2
    * `V2TableWriteExec` or V1 `DataWritingCommandExec`) is listed and its
    * query follows as its child; an eagerly run command's result is
    * unwrapped to the command; an `AdaptiveSparkPlanExec` to its final
    * `executedPlan` and a `QueryStageExec` to the stage's `plan`, so no
    * wrapper hides the operators that ran. Subqueries follow their node.
    */
  private def operators(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => operators(a.executedPlan)
    case s: QueryStageExec => operators(s.plan)
    case c: CommandResultExec => operators(c.commandPhysicalPlan)
    case _ => p +: (p.children ++ p.subqueries).flatMap(operators)
  }

  private[graftbridge] def line(funcName: String, plan: SparkPlan, durationNs: Long): String =
    compact(render(
      ("planMetrics" -> funcName) ~
        ("durationMs" -> durationNs / 1000000) ~
        ("operators" -> operators(plan).map { op =>
          ("name" -> op.nodeName) ~
            ("id" -> op.id) ~
            ("metrics" -> JObject(op.metrics.toList.sortBy(_._1).map { case (k, m) =>
              val v = math.max(0L, m.value)
              k -> JLong(if (m.metricType == "nsTiming") v / 1000000 else v)
            }))
        })))
}
