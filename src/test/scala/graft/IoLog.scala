package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InsertIntoHadoopFsRelationCommand, LogicalRelation}
import org.apache.spark.sql.util.QueryExecutionListener

/** Every successful Spark action, in delivery order: the paths it read,
  * the paths it wrote, and the data files its write added. Register it
  * before a streaming query starts: the query's session clones it. */
final class IoLog extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  val events = new ConcurrentLinkedQueue[(Seq[String], Seq[String], Long)]()
  override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit = {
    val reads = qe.analyzed.collect {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
        case _ => Nil
      }
    }.flatten
    val writes = qe.analyzed.collect {
      case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
    }
    val plan = qe.executedPlan match {
      case c: CommandResultExec => c.commandPhysicalPlan
      case p => p
    }
    val files = collectWithSubqueries(plan) { case w: DataWritingCommandExec =>
      w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
    events.add((reads, writes, files))
  }
  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
}
