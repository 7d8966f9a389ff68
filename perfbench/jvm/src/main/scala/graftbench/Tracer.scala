package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchAccess, SparkSession}
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InsertIntoHadoopFsRelationCommand, LogicalRelation}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark action as the QueryExecutionListener saw it. `span` is the
  * label the benchmark had set when the action ran: the batch query being
  * timed, or the GraftApp instance whose threads ran it. */
final case class ActionRec(qeId: Long, func: String, ms: Double, planMs: Long,
    reads: Seq[String], writes: Seq[String], rowsWritten: Long, exchanges: Int,
    span: String, failed: Boolean)

/** Stage-level totals per span, from the SparkListener. */
final class StageTotals {
  @volatile var stages = 0
  @volatile var shuffleWriteBytes = 0L
  @volatile var spillBytes = 0L
}

/** Spark's three public listeners, recording into memory only. Nothing is
  * written until the run ends; the untraced run never constructs this. */
final class Tracer extends AdaptiveSparkPlanHelper {
  val current = new AtomicReference[String]("")
  val actions = new ConcurrentLinkedQueue[ActionRec]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()
  private val execBatch = new ConcurrentHashMap[Long, Long]()
  private val execSpan = new ConcurrentHashMap[Long, String]()
  private val qeExec = new ConcurrentHashMap[Long, Long]()
  private val execEnd = new ConcurrentHashMap[Long, Long]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  val totals = new ConcurrentHashMap[String, StageTotals]()

  /** Streaming batch id whose thread ran a QueryExecution (-1 if none:
    * a command, the expiry sweep, a batch query). */
  def batchOf(qeId: Long): Long =
    Option(qeExec.get(qeId)).map(e => execBatch.getOrDefault(e, -1L)).getOrElse(-1L)

  /** Wall-clock end (epoch ms) of a QueryExecution's SQL execution, -1 if
    * unknown; it places a command's Spark actions between its arrival and
    * its reply. */
  def endOf(qeId: Long): Long =
    Option(qeExec.get(qeId)).map(e => execEnd.getOrDefault(e, -1L)).getOrElse(-1L)

  /** The span of the thread that ran a QueryExecution's jobs; an action
    * that ran no job keeps the span current when it was reported. */
  def spanOf(a: ActionRec): String =
    Option(qeExec.get(a.qeId)).flatMap(e => Option(execSpan.get(e))).getOrElse(a.span)

  private def rec(func: String, qe: QueryExecution, ns: Long, failed: Boolean): Unit = {
    val reads = qe.analyzed.collect {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
        case _ => Nil
      }
    }.flatten
    val writes = qe.analyzed.collect {
      case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
    }
    // a write's physical plan sits inside the eagerly run command's result node
    val plan: SparkPlan = qe.executedPlan match {
      case c: CommandResultExec => c.commandPhysicalPlan
      case p => p
    }
    // (with AQE on, the writing node can sit inside an adaptive plan)
    val rows = collectWithSubqueries(plan) { case d: DataWritingCommandExec =>
      d.cmd.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
    val exchanges = collectWithSubqueries(plan) { case e: ShuffleExchangeLike => e }.size
    val planMs = qe.tracker.phases.values.map(_.durationMs).sum
    actions.add(ActionRec(qe.id, func, ns / 1e6, planMs, reads, writes, rows,
      exchanges, current.get(), failed))
  }

  def attach(spark: SparkSession): Unit = {
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
        rec(func, qe, ns, failed = false)
      override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
        rec(func, qe, 0L, failed = true)
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val p = Option(j.properties)
        val span = p.flatMap(x => Option(x.getProperty("graftbench.span"))).getOrElse("")
        j.stageIds.foreach(s => stageSpan.put(s, span))
        for (x <- p; e <- Option(x.getProperty("spark.sql.execution.id"))) {
          execSpan.put(e.toLong, span)
          Option(x.getProperty("streaming.sql.batchId"))
            .foreach(b => execBatch.put(e.toLong, b.toLong))
        }
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case end: SparkListenerSQLExecutionEnd =>
          execEnd.put(end.executionId, end.time)
          PerfbenchAccess.queryExecution(end).foreach(qe => qeExec.put(qe.id, end.executionId))
        case _ => ()
      }
      private def totalsOf(stageId: Int): StageTotals =
        totals.computeIfAbsent(stageSpan.getOrDefault(stageId, ""), _ => new StageTotals)
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val t = totalsOf(s.stageInfo.stageId)
        t.synchronized(t.stages += 1)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
        val t = totalsOf(e.stageId)
        t.synchronized {
          t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    })
  }

  def allActions: Seq[ActionRec] = actions.asScala.toSeq
  def allProgress: Seq[StreamingQueryListener.QueryProgressEvent] = progress.asScala.toSeq
  def allTotals: Map[String, StageTotals] = totals.asScala.toMap
}
