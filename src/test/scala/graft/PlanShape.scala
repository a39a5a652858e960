package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Physical-plan probes for the late-materialized as-of shape, walked
  * through adaptive query stages and reused exchanges of an executed frame.
  */
object PlanShape {

  private def children(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case s: QueryStageExec => Seq(s.plan)
    case r: ReusedExchangeExec => Seq(r.child)
    case _ => p.children
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: children(p).flatMap(nodes)

  private def hasArray(dt: DataType): Boolean = dt match {
    case _: ArrayType => true
    case m: MapType => hasArray(m.keyType) || hasArray(m.valueType)
    case s: StructType => s.fields.exists(f => hasArray(f.dataType))
    case _ => false
  }

  /** Runs `df` (so adaptive plans are final) and returns its window count
    * and every Window, Sort or ShuffleExchange at or below a window whose
    * output carries an array-typed attribute.
    */
  def windowsAndWideBelow(df: DataFrame): (Int, Seq[String]) = {
    df.collect()
    val windows = nodes(df.queryExecution.executedPlan).collect { case w: WindowExec => w }
    val wide = windows.flatMap(nodes).distinct.collect {
      case n @ (_: WindowExec | _: SortExec | _: ShuffleExchangeExec)
          if n.output.exists(a => hasArray(a.dataType)) =>
        n.simpleString(200)
    }
    (windows.size, wide)
  }
}
