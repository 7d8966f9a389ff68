package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{ActionSink, DelayedDispatcher}

/** Restart-safety: checkpointed streaming jobs resume without loss or
  * duplication, and the action dispatcher is effectively-once across
  * replays — the properties that let the reference program run unattended. */
class RecoverySpec extends AnyFunSuite {
  import SparkTest._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("grouped counts survive a stop/restart on the same checkpoint") {
    val srcDir = tmp("ev_incr")
    val ckpt = tmp("ckpt")
    val ev = Tables(spark, sf).events
    val schema = ev.schema
    def stream() = spark.readStream.schema(schema).parquet(srcDir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))

    // run 1 sees only the first half, then stops
    ev.filter(col("event_id") % 2 === 0).coalesce(1).write.mode("append").parquet(srcDir)
    val q1 = stream().writeStream.format("memory").queryName("rec1")
      .outputMode("complete").option("checkpointLocation", ckpt).start()
    try q1.processAllAvailable() finally q1.stop()
    val partial = spark.table("rec1").collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    // second half lands while the job is DOWN; the restart must recover its
    // aggregation state from the checkpoint and produce complete totals
    ev.filter(col("event_id") % 2 === 1).coalesce(1).write.mode("append").parquet(srcDir)
    val q2 = stream().writeStream.format("memory").queryName("rec2")
      .outputMode("complete").option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val resumed = spark.table("rec2").collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    val expected = ev.groupBy(col("event_type")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(resumed == expected, s"resumed run must complete the totals: $resumed vs $expected")
    assert(partial.values.sum < expected.values.sum, "first run saw only the first file")
  }

  test("live rule update: a stream-static match picks up a rules-file rewrite mid-stream") {
    // the reference mutates its rule set at runtime (rules.rs add/remove
    // while the stream runs); the Spark analog is a stream-static join
    // whose static side re-executes per micro-batch — a RuleStore.save
    // between batches must take effect without restarting the query
    val srcDir = tmp("ev_rules_live")
    val rulesDir = tmp("rules_live")
    val ev = Tables(spark, sf).events

    def rule(name: String, pattern: String) = rules.RuleRow(
      name, "username_contains", pattern, 0, enabled = true, suspOnly = false,
      noDelay = true, expiryUs = None, actions = "notify_zulip")

    val spark0 = spark
    import spark0.implicits._
    def rulesDf(rs: rules.RuleRow*) = rs.toSeq
      .map(r => (r.name, r.kind, r.pattern, r.numArg, r.enabled, r.suspOnly,
        r.noDelay, r.expiryUs, r.actions))
      .toDF("name", "kind", "pattern", "num_arg", "enabled", "susp_only",
        "no_delay", "expiry_us", "actions")

    rules.RuleStore.save(rulesDf(rule("r_v1", "ER_1")), rulesDir)

    // a plain stream-static join pins the static side's FILE LISTING at
    // plan time (an overwritten rules file turns into FAILED_READ_FILE,
    // verified empirically) — the production pattern for a live-updated
    // dim is re-loading it INSIDE foreachBatch, where each micro-batch
    // builds a fresh plan (and a fresh file index) for the dim
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    val q = events.Signups.derive(
        spark.readStream.schema(ev.schema).parquet(srcDir))
      .writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.join(rules.RuleStore.load(batch.sparkSession, rulesDir)
            .filter(col("enabled") && col("kind") === "username_contains"),
          expr("instr(upper(username), upper(pattern)) > 0"))
          .select(col("event_id"), col("name"))
          .collect()
          .foreach(r => got.add(r.getLong(0) -> r.getString(1)))
        ()
      }.start()
    try {
      // batch 1 under rules v1
      ev.filter(col("event_id") % 2 === 0).coalesce(1).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      val after1 = got.toArray(Array.empty[(Long, String)])
      assert(after1.nonEmpty && after1.forall(_._2 == "r_v1"))

      // rules REWRITTEN while the query keeps running
      rules.RuleStore.save(rulesDf(rule("r_v2", "ER_2")), rulesDir)

      // batch 2 must match under v2 only
      ev.filter(col("event_id") % 2 === 1).coalesce(1).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      val batch2 = got.toArray(Array.empty[(Long, String)]).filter(_._1 % 2 == 1)
      assert(batch2.nonEmpty, "batch 2 must produce matches")
      assert(batch2.forall(_._2 == "r_v2"),
        "post-rewrite micro-batches must match against the NEW rule set")
    } finally q.stop()
  }

  test("minhash dedup bucket ownership survives stop/restart and matches batch replay") {
    val srcDir = tmp("docs_incr")
    val ckpt = tmp("ckpt_mh")
    val docs = Tables(spark, sf).documents
    val schema = docs.schema
    def owners() = {
      val arrs = spark.readStream.schema(schema).parquet(srcDir)
        .select(col("doc_id"),
          graft.plans.ShingleHashes(col("text"), 3, distinct = true).as("hs_arr"))
      dedup.Dedup.bandRows(arrs)
        .groupBy(col("band"), col("key")).agg(min(col("doc_id")).as("keeper"))
    }
    docs.filter(col("doc_id") % 2 === 0).coalesce(1).write.mode("append").parquet(srcDir)
    val q1 = owners().writeStream.format("memory").queryName("mh1")
      .outputMode("complete").option("checkpointLocation", ckpt).start()
    try q1.processAllAvailable() finally q1.stop()
    // second half lands while the job is down; ownership state must recover
    docs.filter(col("doc_id") % 2 === 1).coalesce(1).write.mode("append").parquet(srcDir)
    val q2 = owners().writeStream.format("memory").queryName("mh2")
      .outputMode("complete").option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val resumed = spark.table("mh2").select("keeper").distinct()
      .collect().map(_.getLong(0)).sorted
    // min-ownership is order-independent, so recovery == one-shot batch
    val batch = dedup.Dedup.bandRows(
        docs.select(col("doc_id"),
          graft.plans.ShingleHashes(col("text"), 3, distinct = true).as("hs_arr")))
      .groupBy(col("band"), col("key")).agg(min(col("doc_id")).as("keeper"))
      .select("keeper").distinct().collect().map(_.getLong(0)).sorted
    assert(resumed.sameElements(batch))
  }

  test("dispatchDelayed holds actions until the event-time clock passes their deadline") {
    import spark.implicits._
    val srcDir = tmp("delay_src")
    val pendingDir = tmp("delay_pend") + "/pending"
    val logDir = tmp("delay_log") + "/log"

    def matchedStream() = {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("rule_name", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("action", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("no_delay", org.apache.spark.sql.types.BooleanType),
        org.apache.spark.sql.types.StructField("ts_us", org.apache.spark.sql.types.LongType)))
      spark.readStream.schema(schema).parquet(srcDir)
        .withColumn("due_us", col("ts_us") +
          graft.streaming.ActionSink.actionDelayUs(col("event_id"), col("action"), col("no_delay")))
    }
    def run(ckpt: String): Unit = {
      val q = graft.streaming.ActionSink.dispatchDelayed(
        spark, matchedStream(), pendingDir, logDir, ckpt)(_ => ())
      try q.processAllAvailable() finally q.stop()
    }
    // file 1: a delayed close at t=0 (deadline in [31.5, 101.5) s) and an
    // undelayed notify at t=10 s — the clock reaches 10 s, so only the
    // notify may dispatch; the close MUST still be pending
    Seq((1L, "r_close", "close", false, 0L), (2L, "r_notify", "notify", false, 10000000L))
      .toDF("event_id", "rule_name", "action", "no_delay", "ts_us")
      .coalesce(1).write.mode("append").parquet(srcDir)
    run(tmp("delay_ckpt1"))
    val after1 = spark.read.parquet(logDir).select("event_id").as[Long].collect().toSet
    assert(after1 == Set(2L), s"no dispatch before its deadline — got $after1")

    // file 2: a later event pushes the clock past every deadline
    Seq((3L, "r_notify", "notify", true, 200000000L))
      .toDF("event_id", "rule_name", "action", "no_delay", "ts_us")
      .coalesce(1).write.mode("append").parquet(srcDir)
    run(tmp("delay_ckpt2"))
    val after2 = spark.read.parquet(logDir).select("event_id").as[Long].collect().toSet
    assert(after2 == Set(1L, 2L, 3L), s"deadline passed -> dispatch, got $after2")

    // full replay on a FRESH checkpoint (at-least-once): nothing re-fires
    run(tmp("delay_ckpt3"))
    assert(spark.read.parquet(logDir).count() == 3, "effectively-once after restart")
  }

  test("RuleStore: a crash between delete and rename recovers from the staged dir") {
    import graft.rules.{RuleRow, Rules, RuleStore}
    val path = tmp("rulestore_crash") + "/rules.json"
    val rows = Seq(
      RuleRow("r1", "ip_match", "1.2.3.4", 0, enabled = true, suspOnly = false,
        noDelay = false, None, "notify"),
      RuleRow("r2", "username_contains", "bot", 0, enabled = true, suspOnly = false,
        noDelay = false, None, "notify"))
    RuleStore.save(Rules.dfFor(spark, rows), path)
    // simulate the crash window: the staged write landed, the old store was
    // deleted, the rename never happened
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val hPath = new org.apache.hadoop.fs.Path(path)
    val hStaged = new org.apache.hadoop.fs.Path(path + ".staged")
    assert(fs.rename(hPath, hStaged), "fixture: move store to staged")
    assert(!fs.exists(hPath))
    // load finishes the swap and sees every rule
    val names = RuleStore.load(spark, path)
      .select("name").collect().map(_.getString(0)).toSet
    assert(names == Set("r1", "r2"))
    assert(fs.exists(hPath) && !fs.exists(hStaged), "swap must be completed")
  }

  // ---- DelayedDispatcher: recover once, then append only --------------------

  private val spark0 = spark
  import spark0.implicits._

  /** Matched rows as the live loop stages them: (event_id, rule_name,
    * action, no_delay, ts_us) plus the deadline `due_us`. */
  private def matchedRows(rows: (Long, String, String, Boolean, Long)*): DataFrame =
    rows.toDF("event_id", "rule_name", "action", "no_delay", "ts_us")
      .withColumn("due_us", col("ts_us") +
        ActionSink.actionDelayUs(col("event_id"), col("action"), col("no_delay")))

  /** A `DataFrame => Unit` act that records the event ids it was given. */
  private final class Recorder {
    val got = new ConcurrentLinkedQueue[Long]()
    def act(df: DataFrame): Unit = df.select("event_id").as[Long].collect().foreach(got.add)
    def ids: Seq[Long] = got.asScala.toSeq.sorted
  }

  private def loggedIds(dir: String): Seq[Long] =
    spark.read.parquet(dir).select("event_id").as[Long].collect().toSeq.sorted

  private def dataFiles(dir: String): Int =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty[java.io.File])
      .count(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))

  test("DelayedDispatcher: a restart over existing logs recovers staged rows, dispatched keys and the clock") {
    val pendingDir = tmp("rec_pend") + "/pending"
    val logDir = tmp("rec_log") + "/log"

    // first process: a delayed close at t=0 (deadline in [31.5, 101.5) s)
    // stays pending; the undelayed notify at t=10 s, given twice in the
    // batch, dispatches once
    val first = new Recorder
    new DelayedDispatcher(spark, pendingDir, logDir)(first.act)(
      matchedRows((1L, "r_close", "close", false, 0L),
        (2L, "r_notify", "notify", false, 10000000L),
        (2L, "r_notify", "notify", false, 10000000L)), 0L)
    assert(first.ids == Seq(2L))
    // ...and a batch that was staged but crashed before its dispatch
    matchedRows((4L, "r_notify", "notify", true, 5000000L))
      .write.mode("append").parquet(pendingDir)

    // restart: a fresh dispatcher over the same logs
    val second = new Recorder
    val d = new DelayedDispatcher(spark, pendingDir, logDir)(second.act)
    // the replayed batch plus a new undelayed row at t=20 s: only the new
    // row stages; the crashed row 4 goes out; the dispatched row 2 does not
    // re-fire; the recovered clock (now 20 s) keeps close 1 pending
    d(matchedRows((1L, "r_close", "close", false, 0L),
      (2L, "r_notify", "notify", false, 10000000L),
      (3L, "r_notify", "notify", true, 20000000L)), 1L)
    assert(second.ids == Seq(3L, 4L))
    // a later event passes close 1's deadline
    d(matchedRows((5L, "r_notify", "notify", true, 200000000L)), 2L)
    assert(second.ids == Seq(1L, 3L, 4L, 5L))
    // a full replay changes nothing
    d(matchedRows((1L, "r_close", "close", false, 0L),
      (2L, "r_notify", "notify", false, 10000000L),
      (3L, "r_notify", "notify", true, 20000000L),
      (5L, "r_notify", "notify", true, 200000000L)), 3L)
    assert(second.ids == Seq(1L, 3L, 4L, 5L))
    assert(loggedIds(logDir) == Seq(1L, 2L, 3L, 4L, 5L), "each key dispatched exactly once")
    assert(loggedIds(pendingDir) == Seq(1L, 2L, 3L, 4L, 5L), "each key staged exactly once")
  }

  test("DelayedDispatcher: an act that throws mid-batch re-dispatches that batch once on restart, never after") {
    val srcDir = tmp("throw_src")
    val pendingDir = tmp("throw_pend") + "/pending"
    val logDir = tmp("throw_log") + "/log"
    val ckpt = tmp("throw_ckpt")
    def stream() = spark.readStream.schema(matchedRows().schema).parquet(srcDir)
    val got = new ConcurrentLinkedQueue[Long]()

    matchedRows((1L, "r_notify", "notify", true, 0L), (2L, "r_notify", "notify", true, 0L))
      .coalesce(1).write.mode("append").parquet(srcDir)
    // the first post succeeds, the second throws: the query dies mid-act
    val q1 = ActionSink.dispatchDelayed(spark, stream(), pendingDir, logDir, ckpt) { df =>
      val ids = df.select("event_id").as[Long].collect().sorted
      got.add(ids.head)
      throw new java.io.IOException("mod API down")
    }
    try intercept[StreamingQueryException](q1.processAllAvailable()) finally q1.stop()
    assert(got.asScala.toSeq == Seq(1L))

    // restart on the same checkpoint: the batch re-runs and its rows go out
    // (row 1 a second time, at-least-once); a later batch never repeats them
    def run(): Unit = {
      val q = ActionSink.dispatchDelayed(spark, stream(), pendingDir, logDir, ckpt) { df =>
        df.select("event_id").as[Long].collect().foreach(got.add)
      }
      try q.processAllAvailable() finally q.stop()
    }
    run()
    matchedRows((3L, "r_notify", "notify", true, 1000000L))
      .coalesce(1).write.mode("append").parquet(srcDir)
    run()
    run()
    val counts = got.asScala.toSeq.groupBy(identity).map { case (k, v) => k -> v.size }
    assert(counts == Map(1L -> 2, 2L -> 1, 3L -> 1), s"dispatch counts $counts")
    assert(loggedIds(logDir) == Seq(1L, 2L, 3L))
  }

  test("DelayedDispatcher: a log holding only an uncommitted _temporary append counts as empty") {
    val pendingDir = tmp("tmp_pend") + "/pending"
    val logDir = tmp("tmp_log") + "/log"
    // a crash during each log's first append: a task wrote its file under
    // _temporary, the job never committed. Row 1 is in both leftovers; had
    // they been read, it would count as dispatched and never go out.
    Seq(pendingDir, logDir).foreach { dir =>
      val staged = tmp("tmp_rows")
      matchedRows((1L, "r_notify", "notify", true, 0L))
        .withColumn("batch_id", lit(0L)).coalesce(1).write.mode("overwrite").parquet(staged)
      val part = new java.io.File(staged).listFiles().find(_.getName.startsWith("part-")).get
      val attempt = java.nio.file.Paths.get(dir, "_temporary", "0", "_temporary", "attempt_0")
      Files.createDirectories(attempt)
      Files.copy(part.toPath, attempt.resolve(part.getName))
    }
    val rec = new Recorder
    val d = new DelayedDispatcher(spark, pendingDir, logDir)(rec.act)
    d(matchedRows((1L, "r_notify", "notify", true, 0L)), 0L)
    assert(rec.ids == Seq(1L))
    assert(loggedIds(pendingDir) == Seq(1L) && loggedIds(logDir) == Seq(1L))
  }

  test("dispatchDelayed micro-batches scan neither log and append at most one file to each") {
    val srcDir = tmp("mech_src")
    val pendingDir = tmp("mech_pend") + "/pending"
    val logDir = tmp("mech_log") + "/log"
    val ckpt = tmp("mech_ckpt")
    def stream() = spark.readStream.schema(matchedRows().schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    def addFile(rows: (Long, String, String, Boolean, Long)*): Unit =
      matchedRows(rows: _*).coalesce(1).write.mode("append").parquet(srcDir)

    // an earlier run leaves both logs non-empty, so the restart recovers them
    addFile((1L, "r_close", "close", false, 0L), (2L, "r_notify", "notify", true, 0L))
    val q1 = ActionSink.dispatchDelayed(spark, stream(), pendingDir, logDir, ckpt)(_ => ())
    try q1.processAllAvailable() finally q1.stop()
    // three more files: three micro-batches, each staging and dispatching
    // several rows (local rows spread over every core unless coalesced)
    (3L to 5L).foreach(i => addFile((3 to 8).map(k =>
      (i * 10 + k, "r_notify", "notify", true, i * 60000000L)): _*))
    val filesBefore = dataFiles(pendingDir) + dataFiles(logDir)

    val io = new IoLog
    spark.listenerManager.register(io) // before start: the query's session clones it
    try {
      val q2 = ActionSink.dispatchDelayed(spark, stream(), pendingDir, logDir, ckpt)(_ => ())
      try q2.processAllAvailable() finally q2.stop()
      ListenerBusDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(io)

    def touches(paths: Seq[String], dir: String) = paths.exists(_.endsWith(dir))
    val events = io.events.asScala.toSeq
    val firstStage = events.indexWhere(e => touches(e._2, pendingDir))
    assert(firstStage >= 0, "the restarted query must stage rows")
    val scans = events.drop(firstStage).filter(e =>
      touches(e._1, pendingDir) || touches(e._1, logDir))
    assert(scans.isEmpty, s"micro-batches re-scanned a log: ${scans.map(_._1)}")
    val appends = events.filter(e => touches(e._2, pendingDir) || touches(e._2, logDir))
    assert(appends.count(e => touches(e._2, pendingDir)) == 3 &&
      appends.count(e => touches(e._2, logDir)) == 3, s"one append per log per batch: $appends")
    assert(appends.forall(_._3 <= 1), s"an append wrote more than one file: ${appends.map(_._3)}")
    assert(dataFiles(pendingDir) + dataFiles(logDir) - filesBefore == appends.map(_._3).sum)
    assert(loggedIds(logDir) == (Seq(1L, 2L) ++ (3L to 5L).flatMap(i => (3 to 8).map(i * 10 + _))))
  }
}
