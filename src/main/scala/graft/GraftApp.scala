package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.commands.CommandParser
import graft.rules.{RuleBook, RuleEngine, Rules, RuleStore}
import graft.streaming.{ActionSink, DelayedDispatcher, NdjsonIngest}
import graft.zulip.{ZulipClient, ZulipConf, ZulipRtm, ZulipSupervisor}

/** The reference program (main.rs:13-54) as ONE supervised composition —
  * every channel of the Rust process mapped to its Spark-native part:
  *
  *   - `eventstream::watch_event_stream` → the `http-ndjson` DataSourceV2
  *     signup stream ([[NdjsonIngest.fromHttp]]), silence-supervised by the
  *     source itself (status.rs:36-45's 90 s watchdog, checked every 15 s,
  *     as `silenceRestartMs`/`silenceCheckMs`).
  *   - `eventhandler::handle_events` → a foreachBatch loop that feeds each
  *     batch's usernames to the `seen` ring ([[RecentSignups]]), matches
  *     via the broadcast rule join against the in-memory rules
  *     ([[RuleBook]], loaded once at start), and dispatches through one
  *     [[DelayedDispatcher]] built at start (the randomized 30–100 s hold,
  *     effectively-once; it reads the pending and dispatch logs once per
  *     start, then only appends to them).
  *   - `zulip::rtm::connect_to_zulip` + `status::status_loop` → [[ZulipRtm]]
  *     under [[ZulipSupervisor]] (300 s ping watchdog), commands dispatched
  *     by [[commandDispatcher]] against the same [[RuleBook]].
  *   - `signup::rules::expiry_loop` → a sweep thread that runs
  *     [[RuleStore.sweepNotices]]/[[RuleStore.sweep]] on a cadence through
  *     the [[RuleBook]] and posts each once-only notice to the notify
  *     stream.
  *
  * Everything here is composition of independently-specced parts; the
  * GraftAppSpec exercises the whole loop against a live local fake feed +
  * fake Zulip: a command adds a rule, the very next event matches it, the
  * action dispatches, the expiry sweep notifies.
  */
object GraftApp {

  final case class Handles(
      events: StreamingQuery,
      zulip: Thread,
      expiry: Thread,
      stop: AtomicBoolean) {
    def shutdown(): Unit = {
      stop.set(true)
      events.stop()
      // await the worker threads — returning while a sweep's store mutation
      // is mid-save would let "after shutdown" readers race a live writer
      // (and a JVM exit then kill the daemon mid-overwrite). Never
      // interrupt them: an interrupted write is exactly the truncation the
      // staged save exists to avoid. Both loops poll `stop`, so the waits
      // are bounded by one sleep + one sweep.
      expiry.join(120000L)
      zulip.join(10000L)
      // a timed-out join means a wedged worker is STILL a live writer —
      // returning silently would re-open the exact after-shutdown
      // reader/writer race the joins exist to close; fail loudly instead
      // so the caller knows the store may still be mutating
      if (expiry.isAlive || zulip.isAlive)
        throw new IllegalStateException(
          "GraftApp.shutdown: worker thread(s) still alive after join " +
            s"timeout (expiry=${expiry.isAlive}, zulip=${zulip.isAlive}) — " +
            "the rules store may still have a live writer")
    }
  }

  /** Zulip command dispatch against the [[RuleBook]] the event pipeline
    * matches with, so a command's effect reaches the very next batch (the
    * reference's in-memory handoff, written through to the rules file). */
  def commandDispatcher(spark: SparkSession, book: RuleBook,
      seen: RecentSignups): CommandParser.Parsed => Option[String] = { p =>
    def saveAnd(f: DataFrame => DataFrame, reply: String): Option[String] = {
      book.mutate(f); Some(reply)
    }
    p.kind match {
      case "status" => Some("I'm alive!")
      case "list" =>
        val names = book.current.select(col("name")).collect().map(_.getString(0)).sorted
        Some(if (names.isEmpty) "No rules." else names.mkString(", "))
      case "show" =>
        val rows = book.current.filter(col("name") === p.name.get).toJSON.collect()
        Some(rows.headOption.getOrElse(s"No rule named ${p.name.get}"))
      case "remove" => saveAnd(RuleStore.remove(_, p.name.get),
        s"Rule ${p.name.get} removed.")
      case "enable_re" => saveAnd(RuleStore.setEnabled(_, p.name.get, enabled = true),
        "Rules enabled.")
      case "disable_re" => saveAnd(RuleStore.setEnabled(_, p.name.get, enabled = false),
        "Rules disabled.")
      case "renew" =>
        val newExp = Rules.nowUs + p.expiryDays.get.toLong * 86400L * 1000000L
        saveAnd(RuleStore.renew(_, p.name.get, newExp), s"Rule ${p.name.get} renewed.")
      case "add" =>
        CommandParser.toRuleRow(p, Rules.nowUs) match {
          case Some(row) =>
            try saveAnd(RuleStore.add(_, row, spark), s"Rule ${row.name} added.")
            catch { case e: IllegalArgumentException => Some(e.getMessage) }
          case None => Some("Could not compile rule")
        }
      case "test" =>
        // the Lua-criterion analog (rules test $code$): evaluate the SQL
        // predicate against the namechk synthetic user (lua.rs semantics)
        val verdict =
          try {
            import spark.implicits._
            Seq((0L, "testuser", "qwe@asd.zxc", "127.0.0.1",
                Option.empty[String], Option.empty[String], false, 0L))
              .toDF("event_id", "username", "email", "ip", "ua", "fingerprint",
                "susp_ip", "ts_us")
              .select(RuleEngine.sqlCriterion(p.value.get).as("v"))
              .head.get(0)
          } catch { case e: Exception => s"error: ${e.getMessage}" }
        Some(s"Result: $verdict")
      case "namechk" =>
        val hits = RuleEngine.namechk(spark, p.name.get, book.current).collect()
        Some(if (hits.isEmpty) "No rule matches that username."
        else hits.map(r => s"${r.getString(0)} -> ${r.getString(1)}").mkString("; "))
      case "seen" =>
        val n = seen.count(p.name.get)
        Some(if (n > 0) s"Seen: ${p.name.get} ($n events)" else "Username not seen recently")
      case _ => Some("Could not parse user command")
    }
  }

  /** Start the whole program. `feedUrl` is the NDJSON signup feed (the
    * reference's event stream); rules live at `conf.rulesPath` and are
    * loaded once, here (a store that cannot be loaded fails the start);
    * actions land in `workDir/dispatched` with the pending hold in
    * `workDir/pending`. */
  def start(
      spark: SparkSession,
      conf: ZulipConf,
      feedUrl: String,
      workDir: String,
      zulipBaseUrlOverride: Option[String] = None,
      sweepMs: Long = 15000L,
      zulipCheckMs: Long = 1000L,
      zulipSilenceRestartMs: Long = 300000L): Handles = {
    val book = new RuleBook(spark, conf.rulesPath)
    val seen = new RecentSignups
    val pendingDir = s"$workDir/pending"
    val logDir = s"$workDir/dispatched"
    val stop = new AtomicBoolean(false)
    val client = new ZulipClient(conf, zulipBaseUrlOverride)

    // the held actions: recovered from the logs once, here; each batch
    // then only appends to them
    val dispatcher = new DelayedDispatcher(spark, pendingDir, logDir)({ due =>
      due.collect().foreach { r =>
        client.postMessage(
          s"action ${r.getAs[String]("actions")} on ${r.getAs[String]("username")} " +
            s"(rule ${r.getAs[String]("rule_name")})",
          conf.zulipNotifyStream, conf.zulipNotifyTopic)
      }
    })
    // eventhandler.handle_events: per micro-batch, remember the signups,
    // match against the rules in memory, stamp deadlines, dispatch
    // effectively-once
    val signups = NdjsonIngest.fromHttp(spark, feedUrl)
      .withColumn("event_id",
        graft.functions.Portable.hash64(concat_ws("|", col("username"),
          col("email"), col("ip"))))
      .withColumn("ts_us", unix_micros(current_timestamp()))
    val events = signups.writeStream
      .option("checkpointLocation", s"$workDir/checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // read twice; cached so the source is scanned once, as a second scan
        // would count every row twice in the query's progress (numInputRows)
        val b = batch.persist()
        try {
          seen.add(b.select(col("username")).collect().map(_.getString(0)))
          val matched = RuleEngine.matches(b, book.current)
            .select(col("event_id"), col("name").as("rule_name"),
              col("username"), col("actions"), col("no_delay"), col("ts_us"))
            .withColumn("due_us", col("ts_us") + ActionSink.actionDelayUs(
              col("event_id"), col("actions"), col("no_delay")))
          dispatcher(matched, batchId)
        } finally b.unpersist()
      }
      .start()

    // zulip rtm + status_loop: supervised command connection
    val supervisor = new ZulipSupervisor(conf, client,
      ZulipRtm.parseOrError(commandDispatcher(spark, book, seen)),
      silenceRestartMs = zulipSilenceRestartMs, checkMs = zulipCheckMs)
    val zulipThread = supervisor.start(stop)

    val expiryThread = startExpirySweep(book, client, conf, sweepMs, stop)

    Handles(events, zulipThread, expiryThread, stop)
  }

  /** signup::rules::expiry_loop: once-only notices + expired-rule sweep,
    * every `sweepMs` until `stop` is set. A sweep that fails is posted to
    * the notify stream (and stderr), then the next sweep runs as usual.
    * The sleep is sliced so shutdown latency is ~200 ms + one in-flight
    * sweep, not the sweep cadence (an hourly-config sweep would otherwise
    * blow through shutdown's 120 s join and read as a wedged writer). */
  private[graft] def startExpirySweep(book: RuleBook, client: ZulipClient,
      conf: ZulipConf, sweepMs: Long, stop: AtomicBoolean): Thread = {
    val t = new Thread(() => {
      while (!stop.get()) {
        val end = System.currentTimeMillis() + sweepMs
        var left = sweepMs
        while (!stop.get() && left > 0) {
          Thread.sleep(math.min(200L, left))
          left = end - System.currentTimeMillis()
        }
        if (!stop.get()) {
          try {
            val now = Rules.nowUs
            // notice decision + counter advance are one atomic store mutation;
            // posting happens after the save (at-most-once notices, like the
            // reference, which posts from the same pass that mutates state)
            var notices = Array.empty[(String, String)]
            book.mutate { cur =>
              val noticed = RuleStore.sweepNotices(cur, now)
              notices = noticed.filter(col("notice").isNotNull)
                .select(col("name"), col("notice")).collect()
                .map(r => (r.getString(0), r.getString(1)))
              RuleStore.sweep(noticed.drop("notice"), now)
            }
            notices.foreach { case (name, notice) =>
              client.postMessage(s"Rule $name: $notice",
                conf.zulipNotifyStream, conf.zulipNotifyTopic)
            }
          } catch {
            case e: Exception =>
              val msg = s"expiry sweep failed: ${e.getMessage}"
              System.err.println(msg)
              client.postMessage(msg, conf.zulipNotifyStream, conf.zulipNotifyTopic)
          }
        }
      }
    }, "graft-expiry")
    t.setDaemon(true)
    t.start()
    t
  }
}

/** The `seen` memory: the usernames of the last 10 000 signups, the
  * reference's ring buffer (eventhandler.rs:90-116). One ring per
  * [[GraftApp.start]]; like the reference's, it is forgotten on restart. */
private[graft] final class RecentSignups {
  private val ring = new Array[String](10000)
  private var added = 0L

  def add(usernames: Iterable[String]): Unit = synchronized {
    usernames.foreach { u =>
      ring((added % ring.length).toInt) = u
      added += 1
    }
  }

  /** Signups among the last 10 000 whose username is exactly `username`. */
  def count(username: String): Int = synchronized(ring.count(username == _))
}
