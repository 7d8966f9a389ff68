package graft.streaming

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Effectively-once, delayed action dispatch — the reference's rule-action
  * firing (rules.rs:286-331: matched signup → mod-API endpoint call,
  * optionally delayed) as a restart-safe Spark sink.
  *
  * Structured Streaming's `foreachBatch` is at-least-once across restarts:
  * a batch that dispatched but crashed before the commit re-runs. A
  * [[DelayedDispatcher]] makes the side effect idempotent with two
  * append-only logs keyed by (event_id, rule_name), read once per start:
  * a pending log of every staged row and a dispatch log of every row acted
  * on, so a replayed batch stages and dispatches nothing again. The
  * remaining window is a crash BETWEEN `act` and the dispatch-log append:
  * that batch's due rows re-dispatch once on restart (dispatch-then-log
  * keeps at-least-once — the reference's mod-API calls are idempotent
  * bans/marks, where a duplicate POST is harmless and a LOST one is not;
  * logging first would invert that into at-most-once). The dispatch log
  * carries `batch_id` as the audit trail the reference keeps implicitly in
  * Zulip history.
  *
  * `act` stands in for the HTTP call (the reference's POST to the mod API);
  * it receives only rows never dispatched before.
  */
object ActionSink {

  /** Deterministic analog of the reference's randomized action delay
    * (eventhandler.rs:115: `thread_rng().gen_range(30..100) * 1000` ms,
    * drawn ONCE per event and shared by every action that event fires;
    * +1500 ms when the action is `close`, eventhandler.rs:174-178; no delay
    * at all when the rule sets no_delay or the action is not one of
    * engine/boost/ipban/close, eventhandler.rs:167-172). A hash of the
    * event id replaces the RNG draw so restarts, replays, and the oracle
    * all see the same deadline — same [30,100) s distribution, zero state. */
  def actionDelayUs(eventId: Column, action: Column, noDelay: Column): Column =
    when(noDelay ||
        !action.isInCollection(Seq("engine", "boost", "ipban", "close")), lit(0L))
      .otherwise(
        (lit(30L) + pmod(xxhash64(eventId), lit(70L))) * lit(1000000L) +
          when(action === "close", lit(1500000L)).otherwise(lit(0L)))

  /** Delayed effectively-once dispatch: rows are STAGED on arrival and only
    * acted on once the event-time clock (max `ts_us` staged so far — the
    * stream's own watermark) passes their `due_us` deadline. This executes
    * the reference's randomized hold (eventhandler.rs:180-186 sleeps the
    * spawned action task) without parking threads, through one
    * [[DelayedDispatcher]] built before the query starts.
    *
    * `matched` must carry `event_id`, `rule_name`, `ts_us`, and `due_us`
    * (= ts_us + [[actionDelayUs]]). Like the reference, an action with an
    * unreached deadline survives a crash: it is recovered from the pending
    * log, not lost with the process. A tail event whose deadline no later
    * event ever passes dispatches on the next batch after one arrives —
    * the event-time clock is the batch analog of wall-clock sleeping. */
  def dispatchDelayed(spark: SparkSession, matched: DataFrame, pendingDir: String,
      logDir: String, checkpointDir: String)(act: DataFrame => Unit): StreamingQuery = {
    val dispatcher = new DelayedDispatcher(spark, pendingDir, logDir)(act)
    matched.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) => dispatcher(batch, batchId) }
      .start()
  }

  /** Whether `dir` holds a committed data file. A log whose first append
    * died before its job commit holds only `_temporary` (hidden from Spark's
    * file index), so it has no rows and no schema to infer: it is empty.
    * Any other failure to list it propagates — a transient IO error must
    * not silently re-arm every past action. */
  private[streaming] def hasData(spark: SparkSession, dir: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(path) && fs.listStatus(path).exists { s =>
      val name = s.getPath.getName
      s.isFile && !name.startsWith("_") && !name.startsWith(".")
    }
  }
}

/** The state of one delayed-dispatch query, recovered ONCE and then only
  * appended to — the reference's in-memory action timers
  * (eventhandler.rs:180-186), made durable by two append-only parquet logs:
  * `pendingDir` (every staged row) and `logDir` (every dispatched row, with
  * its `batch_id`).
  *
  * Construction reads both logs once and recovers three things: the staged
  * `(event_id, rule_name)` keys, the waiting rows (staged, never
  * dispatched), and the event-time clock (max staged `ts_us`). After that a
  * micro-batch reads no log. It collects its rows once, dedupes them by key
  * on the driver, appends the never-staged ones to `pendingDir` as one
  * file, advances the clock, picks the due rows from the waiting rows in
  * memory, calls `act` on them and appends them to `logDir` as one file.
  * Memory changes only after each write has succeeded, so at every step the
  * logs are at least as far as memory and a crash recovers from them:
  *   - a replayed batch finds its rows staged and stages nothing;
  *   - a row staged but not dispatched is waiting again after a restart;
  *   - a crash between `act` and the dispatch-log append re-dispatches that
  *     batch's due rows once on restart (dispatch-then-log keeps
  *     at-least-once, as [[ActionSink]] documents), never again after.
  *
  * Memory is the staged-key set, which grows as fast as the pending log
  * already does, plus the waiting rows: at most rate × the longest hold.
  * A dispatcher serves one query; it is not thread-safe.
  */
final class DelayedDispatcher(spark: SparkSession, pendingDir: String, logDir: String)(
    act: DataFrame => Unit) {
  private type Key = (Long, String)
  private def key(r: Row): Key = (r.getAs[Long]("event_id"), r.getAs[String]("rule_name"))

  private val staged = mutable.HashSet.empty[Key]
  private val waiting = mutable.LinkedHashMap.empty[Key, Row]
  private var clock = Long.MinValue // max staged ts_us; nothing staged, nothing due
  // the pending rows' layout: the log's if there is one, else the first batch's
  private var schema: Option[StructType] = None

  locally {
    if (ActionSink.hasData(spark, pendingDir)) {
      val pending = spark.read.parquet(pendingDir)
      val rows = pending.collect()
      val dispatched =
        if (!ActionSink.hasData(spark, logDir)) Set.empty[Key]
        else spark.read.parquet(logDir).select("event_id", "rule_name").collect()
          .iterator.map(key).toSet
      schema = Some(pending.schema)
      rows.foreach { r =>
        val k = key(r)
        staged += k
        if (!dispatched(k)) waiting(k) = r
        clock = math.max(clock, r.getAs[Long]("ts_us"))
      }
    }
  }

  private def local(rows: Iterable[Row], s: StructType): DataFrame =
    spark.createDataFrame(rows.toSeq.asJava, s)

  // one file per append: local rows would otherwise be split across cores
  private def append(df: DataFrame, dir: String): Unit =
    df.coalesce(1).write.mode("append").parquet(dir)

  /** Stage one micro-batch and dispatch whatever it makes due. */
  def apply(batch: DataFrame, batchId: Long): Unit = {
    val s = schema.getOrElse(batch.schema)
    val fresh = mutable.LinkedHashMap.empty[Key, Row]
    batch.select(s.fieldNames.map(col).toSeq: _*).collect().foreach { r =>
      val k = key(r)
      if (!staged(k) && !fresh.contains(k)) fresh(k) = r
    }
    if (fresh.nonEmpty) {
      append(local(fresh.values, s), pendingDir)
      schema = Some(s)
      staged ++= fresh.keys
      waiting ++= fresh
      clock = math.max(clock, fresh.values.map(_.getAs[Long]("ts_us")).max)
    }
    val due = waiting.filter(_._2.getAs[Long]("due_us") <= clock)
    if (due.nonEmpty) {
      val rows = local(due.values, s)
      act(rows)
      append(rows.withColumn("batch_id", lit(batchId)), logDir)
      waiting --= due.keys
    }
  }
}
