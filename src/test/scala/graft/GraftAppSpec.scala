package graft

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.rules.{RuleBook, RuleRow, Rules, RuleStore}
import graft.zulip.{ZulipConf, ZulipRtm}

/** The whole reference program (main.rs:13-54) running as one composition
  * against a live fake feed + fake Zulip: a moderator command adds a rule
  * over Zulip, the very next signup on the event stream matches it, the
  * action dispatches effectively-once to the notify stream, and the expiry
  * sweep posts its once-only notice — every channel of the Rust process
  * exercised in a single run. */
class GraftAppSpec extends AnyFunSuite {
  import SparkTest._

  private def respond(ex: HttpExchange, body: String, status: Int = 200): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.getResponseBody.close()
  }

  test("GraftApp: Zulip command -> rule file -> stream match -> delayed dispatch -> expiry notice") {
    val work = java.nio.file.Files.createTempDirectory("graft_app").toString
    val rulesPath = s"$work/rules.json"

    // fake Zulip: poll 1 delivers the moderator's add-rule command
    val posted = new ConcurrentLinkedQueue[String]()
    val polls = new AtomicInteger(0)
    val zulip = HttpServer.create(new InetSocketAddress("localhost", 0), 0)
    zulip.createContext("/api/v1/register", (ex: HttpExchange) => {
      try respond(ex, """{"result":"success","queue_id":"q-1"}""") finally ex.close()
    })
    zulip.createContext("/api/v1/events", (ex: HttpExchange) => {
      try {
        // redeliver the command (fresh id each poll) until the bot replies —
        // the real server would hold undelivered queue events the same way
        val n = polls.incrementAndGet()
        val replied = posted.toArray(Array.empty[String])
          .exists(_.contains("content=Rule+e2e+added."))
        val batch =
          if (!replied) Seq(
            s"""{"id":$n,"type":"message","message":{"content":"@**graftbot** signup rules add e2e if username contains mal then notify","display_recipient":"cmd-stream","subject":"cmd-topic"}}""")
          else {
            Thread.sleep(100) // long-poll pacing
            Seq(s"""{"id":$n,"type":"heartbeat"}""")
          }
        respond(ex, s"""{"result":"success","events":[${batch.mkString(",")}]}""")
      } finally ex.close()
    })
    zulip.createContext("/api/v1/messages", (ex: HttpExchange) => {
      try {
        posted.add(new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
        respond(ex, """{"result":"success"}""")
      } finally ex.close()
    })
    zulip.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
    zulip.start()

    // fake signup feed: every (re)connection delivers one fresh signup
    val feedHits = new AtomicInteger(0)
    val feed = HttpServer.create(new InetSocketAddress("localhost", 0), 0)
    feed.createContext("/feed", (ex: HttpExchange) => {
      try {
        val n = feedHits.incrementAndGet()
        ex.sendResponseHeaders(200, 0)
        val os = ex.getResponseBody
        os.write((s"""{"t":"signup","username":"mal$n","email":"mal$n@x.example","ip":"9.9.9.$n"}""" + "\n")
          .getBytes(StandardCharsets.UTF_8))
        os.flush()
        os.close()
      } finally ex.close()
    })
    feed.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
    feed.start()

    val zport = zulip.getAddress.getPort
    val conf = ZulipConf.default.copy(
      rulesPath = rulesPath,
      zulipBotToken = "tok123",
      zulipBotId = "bot@example.org",
      zulipBotUsername = "graftbot",
      zulipCommandStream = "cmd-stream",
      zulipCommandTopic = "cmd-topic",
      zulipNotifyStream = "notify-stream",
      zulipNotifyTopic = "notify-topic",
      zulipUrl = s"localhost:$zport")

    // preseed the store with a non-matching rule already inside its expiry
    // notice window (expiring in 12 h at the fixed evaluation instant) so
    // the first sweep posts the once-only "expiring_soon"
    RuleStore.save(Rules.dfFor(spark, Seq(
      RuleRow("r_old", "ip_match", "1.2.3.4", 0, enabled = true, suspOnly = false,
        noDelay = false, Some(Rules.nowUs + 12L * 3600L * 1000000L), "notify"))),
      rulesPath)

    val handles = GraftApp.start(spark, conf,
      s"http://localhost:${feed.getAddress.getPort}/feed", work,
      zulipBaseUrlOverride = Some(s"http://localhost:$zport"),
      sweepMs = 500L, zulipCheckMs = 60000L, zulipSilenceRestartMs = 600000L)
    try {
      val deadline = System.currentTimeMillis() + 60000
      def all: Seq[String] = posted.toArray(Array.empty[String]).toSeq
      def done: Boolean =
        all.exists(_.contains("content=Rule+e2e+added.")) &&
          all.exists(m => m.contains("to=notify-stream") &&
            m.contains("content=action+notify+on+mal")) &&
          all.exists(_.contains("content=Rule+r_old%3A+expiring_soon"))
      while (!done && System.currentTimeMillis() < deadline) Thread.sleep(200)
      assert(all.exists(_.contains("content=Rule+e2e+added.")),
        s"command reply missing in $all")
      assert(all.exists(m => m.contains("to=notify-stream") &&
        m.contains("content=action+notify+on+mal")),
        s"dispatched action missing in $all")
      assert(all.exists(_.contains("expiring_soon")),
        s"expiry notice missing in $all")
      assert(handles.events.exception.isEmpty,
        s"streaming pipeline died: ${handles.events.exception}")
      // quiesce before reading the log — a first append still in flight has
      // an empty dir (schema inference fails) until its commit lands
      handles.events.processAllAvailable()
      handles.events.stop()
    } finally {
      handles.shutdown()
      zulip.stop(0)
      feed.stop(0)
    }
    // Post-shutdown reads: the app's own accesses go through its rules
    // lock, but this spec-side load doesn't — reading while the 500 ms
    // expiry sweep may be mid-overwrite (delete + _temporary + rename) can
    // see an empty dir. After shutdown no writer is live.
    // effectively-once: the dispatch log never carries a duplicate key
    val log = spark.read.parquet(s"$work/dispatched")
      .select("event_id", "rule_name").collect().map(_.toSeq)
    assert(log.distinct.length == log.length, "duplicate dispatch")
    // the store now holds both rules: the swept survivor and the added one
    val names = RuleStore.load(spark, rulesPath)
      .select("name").collect().map(_.getString(0)).toSet
    assert(names == Set("r_old", "e2e"))
  }

  test("GraftApp: a failed expiry sweep posts one notice to the notify stream") {
    val work = java.nio.file.Files.createTempDirectory("graft_app_sweep").toFile
    val storeDir = new java.io.File(work, "store")
    val rulesPath = s"$storeDir/rules.json"
    RuleStore.save(Rules.dfFor(spark, Seq(
      RuleRow("r_soon", "ip_match", "1.2.3.4", 0, enabled = true, suspOnly = false,
        noDelay = false, Some(Rules.nowUs + 12L * 3600L * 1000000L), "notify"))),
      rulesPath)
    val book = new RuleBook(spark, rulesPath)
    val loaded = book.current.collect().toSeq
    // the store's parent turns into a regular file: a save cannot write
    val aside = new java.io.File(work, "store.aside")
    assert(storeDir.renameTo(aside) && storeDir.createNewFile(), "fixture: block the store")

    // fake Zulip: the first failure notice records the book and puts the
    // store back, before its reply lets the sweep thread go on, so every
    // later sweep succeeds
    val posted = new ConcurrentLinkedQueue[String]()
    val atFailure = new java.util.concurrent.atomic.AtomicReference[Seq[Row]]()
    val zulip = HttpServer.create(new InetSocketAddress("localhost", 0), 0)
    zulip.createContext("/api/v1/messages", (ex: HttpExchange) => {
      try {
        val body = URLDecoder.decode(
          new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8),
          StandardCharsets.UTF_8)
        posted.add(body)
        if (body.contains("content=expiry sweep failed") &&
            atFailure.compareAndSet(null, book.current.collect().toSeq))
          assert(storeDir.delete() && aside.renameTo(storeDir), "fixture: unblock the store")
        respond(ex, """{"result":"success"}""")
      } finally ex.close()
    })
    zulip.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
    zulip.start()
    val base = s"http://localhost:${zulip.getAddress.getPort}"
    val conf = ZulipConf.default.copy(rulesPath = rulesPath,
      zulipNotifyStream = "notify-stream", zulipNotifyTopic = "notify-topic")
    def all: Seq[String] = posted.toArray(Array.empty[String]).toSeq
    def recovered = all.exists(_.contains("content=Rule r_soon: expiring_soon"))

    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val sweeper = GraftApp.startExpirySweep(book,
      new graft.zulip.ZulipClient(conf, Some(base)), conf, sweepMs = 300L, stop)
    try {
      // the sweep after the failure succeeds and posts its notice; a few
      // more sweeps then run on the repaired store
      val deadline = System.currentTimeMillis() + 60000
      while (!recovered && System.currentTimeMillis() < deadline) Thread.sleep(100)
      Thread.sleep(1500)
    } finally {
      stop.set(true)
      sweeper.join(60000)
      zulip.stop(0)
    }
    val failures = all.filter(_.contains("content=expiry sweep failed"))
    assert(recovered, s"no sweep succeeded after the failure: $all")
    assert(failures.size == 1, s"expected one failure notice, got $failures")
    assert(failures.head.contains("to=notify-stream") &&
      failures.head.contains(s"Parent path is not a directory: file:$storeDir"),
      s"notice lacks its stream or cause: $failures")
    // the failed save left memory as loaded: the notice it computed was not
    // consumed, so the next sweep posted it
    assert(atFailure.get == loaded, s"memory ran ahead of the store: ${atFailure.get}")
    assert(RuleStore.load(spark, rulesPath).select("exp_notification").head.getInt(0) == 1)
  }

  test("GraftApp: after start, micro-batches and commands never read the rules store and nothing writes events/") {
    val work = java.nio.file.Files.createTempDirectory("graft_app_io").toString
    val rulesPath = s"$work/rules.json"
    RuleStore.save(Rules.dfFor(spark, Seq(
      RuleRow("r_mal", "username_contains", "mal", 0, enabled = true, suspOnly = false,
        noDelay = true, None, "notify"))), rulesPath)

    // fake Zulip: once an action has gone out, one poll delivers four
    // commands (a write and three reads); later polls are heartbeats
    val posted = new ConcurrentLinkedQueue[String]()
    val delivered = new java.util.concurrent.atomic.AtomicBoolean(false)
    def all: Seq[String] = posted.toArray(Array.empty[String]).toSeq
    val zulip = HttpServer.create(new InetSocketAddress("localhost", 0), 0)
    zulip.createContext("/api/v1/register", (ex: HttpExchange) => {
      try respond(ex, """{"result":"success","queue_id":"q-1"}""") finally ex.close()
    })
    zulip.createContext("/api/v1/events", (ex: HttpExchange) => {
      try {
        Thread.sleep(100) // long-poll pacing
        val commands =
          if (!all.exists(_.contains("content=action notify on mal")) ||
              delivered.getAndSet(true)) Nil
          else Seq("signup rules add e2e if username contains xyz then notify",
            "signup rules show e2e", "signup rules list", "signup seen mal1")
        val events = commands.zipWithIndex.map { case (c, i) =>
          s"""{"id":$i,"type":"message","message":{"content":"@**graftbot** $c","display_recipient":"cmd-stream","subject":"cmd-topic"}}"""
        } :+ s"""{"id":${commands.size},"type":"heartbeat"}"""
        respond(ex, s"""{"result":"success","events":[${events.mkString(",")}]}""")
      } finally ex.close()
    })
    zulip.createContext("/api/v1/messages", (ex: HttpExchange) => {
      try {
        posted.add(URLDecoder.decode(
          new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8),
          StandardCharsets.UTF_8))
        respond(ex, """{"result":"success"}""")
      } finally ex.close()
    })
    zulip.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
    zulip.start()

    // fake feed: the first connection sends mal1..mal20, 100 ms apart
    val feedHits = new AtomicInteger(0)
    val feed = HttpServer.create(new InetSocketAddress("localhost", 0), 0)
    feed.createContext("/feed", (ex: HttpExchange) => {
      try {
        ex.sendResponseHeaders(200, 0)
        val os = ex.getResponseBody
        if (feedHits.incrementAndGet() == 1) (1 to 20).foreach { n =>
          os.write((s"""{"t":"signup","username":"mal$n","email":"mal$n@x.example","ip":"9.9.9.$n"}""" + "\n")
            .getBytes(StandardCharsets.UTF_8))
          os.flush()
          Thread.sleep(100)
        }
        os.close()
      } finally ex.close()
    })
    feed.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
    feed.start()

    val zport = zulip.getAddress.getPort
    val conf = ZulipConf.default.copy(
      rulesPath = rulesPath, zulipBotToken = "tok123", zulipBotId = "bot@example.org",
      zulipBotUsername = "graftbot", zulipCommandStream = "cmd-stream",
      zulipCommandTopic = "cmd-topic", zulipNotifyStream = "notify-stream",
      zulipNotifyTopic = "notify-topic", zulipUrl = s"localhost:$zport")
    val replies = Seq("content=Rule e2e added.", "content={\"name\":\"e2e\"",
      "content=e2e, r_mal", "content=Seen: mal1 (1 events)")

    val io = new IoLog
    spark.listenerManager.register(io) // before start: the query's session clones it
    try {
      val handles = GraftApp.start(spark, conf,
        s"http://localhost:${feed.getAddress.getPort}/feed", work,
        zulipBaseUrlOverride = Some(s"http://localhost:$zport"),
        sweepMs = 500L, zulipCheckMs = 60000L, zulipSilenceRestartMs = 600000L)
      try {
        val deadline = System.currentTimeMillis() + 60000
        def done = replies.forall(r => all.exists(_.contains(r))) &&
          all.count(_.contains("content=action notify on mal")) == 20
        while (!done && System.currentTimeMillis() < deadline) Thread.sleep(200)
        assert(handles.events.exception.isEmpty,
          s"streaming pipeline died: ${handles.events.exception}")
        handles.events.processAllAvailable()
        // each signup is read from the source once
        assert(handles.events.recentProgress.map(_.numInputRows).sum == 20)
      } finally {
        handles.shutdown()
        zulip.stop(0)
        feed.stop(0)
      }
      ListenerBusDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(io)

    replies.foreach(r => assert(all.exists(_.contains(r)), s"reply $r missing in $all"))
    assert(all.count(_.contains("content=action notify on mal")) == 20,
      s"one action per signup expected: $all")
    val events = io.events.asScala.toSeq
    val rulesReads = events.filter(_._1.exists(_.endsWith(rulesPath)))
    assert(rulesReads.size == 1, s"the store is loaded once, at start: $rulesReads")
    assert(events.exists(_._2.exists(_.endsWith(s"$work/pending"))), "no micro-batch staged")
    assert(events.exists(_._2.exists(_.endsWith(s"$work/rules.json.staged"))),
      "the add command did not write the store through")
    assert(!events.exists(_._2.exists(_.contains("/events"))), "a batch wrote an events log")
    assert(!new java.io.File(work, "events").exists())
    assert(RuleStore.load(spark, rulesPath).select("name").collect().map(_.getString(0))
      .toSet == Set("r_mal", "e2e"))
  }

  test("GraftApp: `seen` answers from a ring of the last 10 000 signups") {
    val rulesPath = java.nio.file.Files.createTempDirectory("graft_app_seen") + "/rules.json"
    RuleStore.save(Rules.dfFor(spark, Nil), rulesPath)
    val ring = new RecentSignups
    val reply = ZulipRtm.parseOrError(
      GraftApp.commandDispatcher(spark, new RuleBook(spark, rulesPath), ring))
    def seen(u: String) = reply(s"signup seen $u")

    // 10 000 signups: "first", "twice", u1..u9997, "twice"
    ring.add(Seq("first", "twice") ++ (1 to 9997).map(i => s"u$i") :+ "twice")
    assert(seen("first").contains("Seen: first (1 events)"))
    assert(seen("twice").contains("Seen: twice (2 events)"))
    assert(seen("u9997").contains("Seen: u9997 (1 events)"))
    assert(seen("firs").contains("Username not seen recently"), "exact match only")
    assert(seen("nobody").contains("Username not seen recently"))
    // the 10 001st evicts the oldest; the 10 002nd the older "twice"
    ring.add(Seq("last"))
    assert(seen("first").contains("Username not seen recently"))
    assert(seen("last").contains("Seen: last (1 events)"))
    assert(seen("twice").contains("Seen: twice (2 events)"))
    ring.add(Seq("next"))
    assert(seen("twice").contains("Seen: twice (1 events)"))
    assert(seen("u1").contains("Seen: u1 (1 events)"))
  }
}
