package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Exercises the custom `http-ndjson` DataSourceV2 streaming source against
  * a real chunked-HTTP server, including the drop-and-reconnect path the
  * reference handles (eventstream.rs:62-72). */
class HttpSourceSpec extends AnyFunSuite {
  import SparkTest._

  private def serve(path: String)(handler: (Int, HttpExchange) => Unit): (HttpServer, String) = {
    val server = HttpServer.create(new InetSocketAddress("localhost", 0), 0)
    val hits = new AtomicInteger(0)
    server.createContext(path, (ex: HttpExchange) => {
      try handler(hits.incrementAndGet(), ex) finally ex.close()
    })
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
    server.start()
    (server, s"http://localhost:${server.getAddress.getPort}$path")
  }

  private def chunked(ex: HttpExchange, lines: Seq[String]): Unit = {
    ex.sendResponseHeaders(200, 0) // length 0 => chunked transfer
    val os = ex.getResponseBody
    lines.foreach { l => os.write((l + "\n").getBytes(StandardCharsets.UTF_8)); os.flush() }
    os.close() // server drops the stream; client must reconnect
  }

  private def collectUntil(queryName: String, n: Int,
      q: org.apache.spark.sql.streaming.StreamingQuery): Array[Row] = {
    val deadline = System.currentTimeMillis() + 30000
    var rows = Array.empty[Row]
    while (rows.length < n && System.currentTimeMillis() < deadline) {
      q.processAllAvailable()
      rows = spark.table(queryName).collect()
      if (rows.length < n) Thread.sleep(100)
    }
    rows
  }

  test("http-ndjson: chunked lines stream in and survive a server drop") {
    val batch1 = Seq("""{"t":"signup","username":"u1"}""", """{"t":"signup","username":"u2"}""")
    val batch2 = Seq("""{"t":"signup","username":"u3"}""")
    val (server, url) = serve("/feed") { (hit, ex) =>
      hit match {
        case 1 => chunked(ex, batch1)
        case 2 => chunked(ex, batch2)
        case _ => chunked(ex, Nil) // drained: empty stream, client keeps retrying
      }
    }
    val q = spark.readStream.format("http-ndjson")
      .option("url", url).option("reconnectDelayMs", 100).load()
      .writeStream.format("memory").queryName("http_feed").outputMode("append").start()
    try {
      val rows = collectUntil("http_feed", 3, q)
      assert(rows.map(_.getAs[String]("value")).toSet == (batch1 ++ batch2).toSet,
        "all lines across both connections arrive exactly once")
      assert(rows.forall(_.getAs[java.sql.Timestamp]("recv_ts") != null))
    } finally { q.stop(); server.stop(0) }
  }

  test("http-ndjson sse mode: data: framing, multi-line events, comments skipped") {
    val sse = Seq(
      ": keepalive comment",
      "event: signup",
      "data: {\"part\":1,",
      "data: \"part2\":2}",
      "",
      "data: single",
      "")
    val (server, url) = serve("/sse") { (hit, ex) =>
      if (hit == 1) chunked(ex, sse) else chunked(ex, Nil)
    }
    val q = spark.readStream.format("http-ndjson")
      .option("url", url).option("mode", "sse").option("reconnectDelayMs", 100).load()
      .writeStream.format("memory").queryName("http_sse").outputMode("append").start()
    try {
      val rows = collectUntil("http_sse", 2, q)
      val vals = rows.map(_.getAs[String]("value")).toSet
      assert(vals == Set("{\"part\":1,\n\"part2\":2}", "single"), s"got $vals")
    } finally { q.stop(); server.stop(0) }
  }

  test("maxLinesPerTrigger bounds each micro-batch without losing lines") {
    val lines = (1 to 7).map(i => s"""{"n":$i}""")
    val (server, url) = serve("/paced") { (hit, ex) =>
      if (hit == 1) chunked(ex, lines) else chunked(ex, Nil)
    }
    val q = spark.readStream.format("http-ndjson")
      .option("url", url).option("reconnectDelayMs", 100)
      .option("maxLinesPerTrigger", 2).load()
      .writeStream.format("memory").queryName("http_paced").outputMode("append").start()
    try {
      val rows = collectUntil("http_paced", 7, q)
      assert(rows.map(_.getAs[String]("value")).toSet == lines.toSet,
        "rate-limited triggers must still deliver every line exactly once")
      assert(q.recentProgress.count(_.numInputRows > 0) >= 4,
        "7 lines at <=2/trigger need at least 4 non-empty batches")
    } finally { q.stop(); server.stop(0) }
  }

  test("checkpoint restart: re-running the uncommitted batch delivers empty, not a crash-loop") {
    // No live server needed: the restart path is pure offset bookkeeping.
    val s = new sources.HttpNdjsonMicroBatchStream("http://localhost:1/none",
      sse = false, reconnectDelayMs = 60000, readTimeoutMs = 0,
      numPartitions = 2, maxLinesPerTrigger = Long.MaxValue)
    try {
      // offset-log restore: committed batch ended at 3, uncommitted at 5 —
      // deserializeOffset rebases the fresh (empty) buffer to the max (5)
      s.deserializeOffset("3")
      s.deserializeOffset("5")
      // Spark re-runs the uncommitted batch [3,5): those lines died with
      // the previous process — it must come back empty so the query can
      // commit past it, not fail the require and crash-loop
      assert(s.planInputPartitions(sources.HttpLineOffset(3), sources.HttpLineOffset(5)).isEmpty)
      // a window STRADDLING the base with no journal to stitch from is a
      // bookkeeping bug (trimmed lines a batch still addresses), still loud
      intercept[IllegalStateException] {
        s.planInputPartitions(sources.HttpLineOffset(3), sources.HttpLineOffset(6))
      }
    } finally s.stop()
  }

  test("checkpoint journal: a killed process's uncommitted batch replays byte-identical") {
    // The exactly-once-without-Kafka contract: process A plans two batches,
    // commits only the first, dies. Process B restores the SAME checkpoint
    // while the feed is gone — Spark re-runs the uncommitted window, and the
    // journal must serve back the identical (value, recv_ts) rows that died
    // with A's buffer (the pre-journal behavior was a loud empty delivery).
    val lines = (1 to 5).map(i => s"""{"n":$i}""")
    val (server, url) = serve("/journal") { (hit, ex) =>
      if (hit == 1) chunked(ex, lines) else chunked(ex, Nil)
    }
    val replay = java.nio.file.Files.createTempDirectory("http_journal")
      .toString + "/graft-replay"
    def values(ps: Array[org.apache.spark.sql.connector.read.InputPartition]) =
      ps.flatMap(_.asInstanceOf[sources.HttpLinesPartition].rows).toSeq
    val a = new sources.HttpNdjsonMicroBatchStream(url, sse = false,
      reconnectDelayMs = 100, readTimeoutMs = 0, numPartitions = 2,
      maxLinesPerTrigger = Long.MaxValue, replayDir = Some(replay))
    var batch2 = Seq.empty[(String, Long)]
    try {
      val deadline = System.currentTimeMillis() + 30000
      var end = 0L
      while (end < 5 && System.currentTimeMillis() < deadline) {
        end = a.latestOffset().asInstanceOf[sources.HttpLineOffset].n
        if (end < 5) Thread.sleep(50)
      }
      assert(end == 5, s"tap must buffer all 5 lines, saw $end")
      val batch1 = values(a.planInputPartitions(
        sources.HttpLineOffset(0), sources.HttpLineOffset(3)))
      batch2 = values(a.planInputPartitions(
        sources.HttpLineOffset(3), sources.HttpLineOffset(5)))
      assert(batch1.map(_._1) == lines.take(3))
      assert(batch2.map(_._1) == lines.drop(3))
      a.commit(sources.HttpLineOffset(3))
      // committed journal entry pruned; the uncommitted one survives
      // (window files only — _committed/.crc are watermark bookkeeping)
      val left = new java.io.File(replay).list().filter(_.matches("\\d+-\\d+")).toSet
      assert(left == Set("3-5"), s"journal after commit(3): $left")
    } finally { a.stop(); server.stop(0) }

    // "fresh process": new instance, same journal, feed unreachable
    val b = new sources.HttpNdjsonMicroBatchStream("http://localhost:1/none",
      sse = false, reconnectDelayMs = 60000, readTimeoutMs = 0,
      numPartitions = 2, maxLinesPerTrigger = Long.MaxValue,
      replayDir = Some(replay))
    try {
      b.deserializeOffset("3")
      b.deserializeOffset("5")
      val replayed = values(b.planInputPartitions(
        sources.HttpLineOffset(3), sources.HttpLineOffset(5)))
      assert(replayed == batch2,
        s"replayed window must be byte-identical incl. recv_ts: $replayed vs $batch2")
      // once the engine commits the replayed batch, its journal entry goes
      b.commit(sources.HttpLineOffset(5))
      assert(new java.io.File(replay).list().filter(_.matches("\\d+-\\d+")).isEmpty)
    } finally b.stop()
  }

  test("query-level stop/restart on one checkpoint: no loss, no duplication") {
    val first = (1 to 4).map(i => s"""{"a":$i}""")
    val second = (5 to 7).map(i => s"""{"a":$i}""")
    // phase-gated feed: the tap reconnects as soon as a chunked response
    // ends, so "serve second on the next hit" would leak the second batch
    // into run 1 — the gate only opens it after run 1 has fully stopped
    val phase2 = new java.util.concurrent.atomic.AtomicBoolean(false)
    val served = new java.util.concurrent.atomic.AtomicInteger(0)
    val (server, url) = serve("/restart") { (hit, ex) =>
      if (hit == 1) chunked(ex, first)
      else if (phase2.get && served.compareAndSet(0, 1)) chunked(ex, second)
      else chunked(ex, Nil)
    }
    // memory sink refuses checkpoint recovery; foreachBatch supports it —
    // the production sink shape for this source anyway
    val ckpt = java.nio.file.Files.createTempDirectory("http_ckpt").toString
    val got = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def run(n: Int): Seq[String] = {
      val q = spark.readStream.format("http-ndjson")
        .option("url", url).option("reconnectDelayMs", 100).load()
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.select("value").collect().foreach(r => got.add(r.getString(0)))
          ()
        }
        .option("checkpointLocation", ckpt).start()
      try {
        val deadline = System.currentTimeMillis() + 30000
        while (got.size < n && System.currentTimeMillis() < deadline) {
          q.processAllAvailable(); Thread.sleep(100)
        }
      } finally q.stop()
      got.toArray(Array.empty[String]).toSeq
    }
    val got1 = run(first.size)
    assert(got1.sorted == first.sorted, s"run 1 must see exactly the first batch: $got1")
    phase2.set(true)
    val all =
      try run(first.size + second.size)
      finally server.stop(0)
    assert(all.sorted == (first ++ second).sorted,
      s"restart must lose nothing and duplicate nothing: $all")
  }

  test("silent-stream watchdog: a stalled connection times out and reconnects") {
    val (server, url) = serve("/stall") { (hit, ex) =>
      if (hit == 1) {
        // one line, then stall without closing — only the watchdog can save us
        ex.sendResponseHeaders(200, 0)
        val os = ex.getResponseBody
        os.write("{\"a\":1}\n".getBytes(StandardCharsets.UTF_8)); os.flush()
        Thread.sleep(5000)
        os.close()
      } else chunked(ex, Seq("{\"a\":2}"))
    }
    val q = spark.readStream.format("http-ndjson")
      .option("url", url).option("reconnectDelayMs", 100)
      .option("silenceTimeoutMs", 300).load()
      .writeStream.format("memory").queryName("http_stall").outputMode("append").start()
    try {
      val rows = collectUntil("http_stall", 2, q)
      assert(rows.map(_.getAs[String]("value")).toSet == Set("{\"a\":1}", "{\"a\":2}"),
        "watchdog must abandon the stalled connection and pick up the fresh stream")
    } finally { q.stop(); server.stop(0) }
  }

  test("event-silence supervisor: keepalives without events force a restart") {
    // hit 1: one event, then only SSE comments — bytes keep flowing, so a
    // byte-level read timeout never fires; only the event-silence watchdog
    // (status.rs:20-68) can declare the feed dead and restart it.
    val (server, url) = serve("/silent") { (hit, ex) =>
      if (hit == 1) {
        ex.sendResponseHeaders(200, 0)
        val os = ex.getResponseBody
        os.write("data: one\n\n".getBytes(StandardCharsets.UTF_8)); os.flush()
        try (1 to 50).foreach { _ =>
          os.write(": keepalive\n".getBytes(StandardCharsets.UTF_8)); os.flush()
          Thread.sleep(100)
        } catch { case _: Exception => () } // watchdog disconnected us — expected
        try os.close() catch { case _: Exception => () }
      } else chunked(ex, Seq("data: two", ""))
    }
    val q = spark.readStream.format("http-ndjson")
      .option("url", url).option("mode", "sse").option("reconnectDelayMs", 100)
      .option("silenceRestartMs", 400).option("silenceCheckMs", 100).load()
      .writeStream.format("memory").queryName("http_silent").outputMode("append").start()
    try {
      val rows = collectUntil("http_silent", 2, q)
      assert(rows.map(_.getAs[String]("value")).toSet == Set("one", "two"),
        "supervisor must restart the silent-but-alive connection and pick up the fresh stream")
    } finally { q.stop(); server.stop(0) }
  }

  test("full reference program live: HTTP tap -> rule engine -> matched actions") {
    // r_email_contains ('@MAIL3', ci, no expiry) must fire for the first
    // signup; the second matches no standing rule
    val lines = Seq(
      """{"t":"signup","username":"baddie","email":"bad@mail3.example","ip":"9.9.9.9","userAgent":"Mozilla/5.0 something long enough"}""",
      """{"t":"signup","username":"innocent","email":"b@y.io","ip":"8.8.8.8","userAgent":"Mozilla/5.0 something long enough"}""")
    val (server, url) = serve("/live") { (hit, ex) =>
      if (hit == 1) chunked(ex, lines) else chunked(ex, Nil)
    }
    val signups = graft.streaming.NdjsonIngest.fromHttp(spark, url, reconnectDelayMs = 100)
      .withColumn("fingerprint", org.apache.spark.sql.functions.coalesce(
        org.apache.spark.sql.functions.col("fingerprint"),
        org.apache.spark.sql.functions.lit("")))
    val matched = graft.rules.RuleEngine
      .matches(signups, graft.rules.Rules.df(spark))
      .select("username", "name", "actions")
    val q = matched.writeStream.format("memory").queryName("http_live")
      .outputMode("append").start()
    try {
      val rows = collectUntil("http_live", 1, q)
      assert(rows.exists(r => r.getAs[String]("username") == "baddie" &&
        r.getAs[String]("name") == "r_email_contains"),
        s"email rule must fire, got ${rows.mkString(",")}")
      assert(!rows.exists(_.getAs[String]("username") == "innocent"))
    } finally { q.stop(); server.stop(0) }
  }

  test("NdjsonIngest.fromHttp: end-to-end signup pipeline off the HTTP tap") {
    val lines = Seq(
      """{"t":"signup","username":"alice","email":"a@x.io","ip":"1.2.3.4","userAgent":"curl/7.1","suspIp":true}""",
      """garbage line""",
      """{"t":"other","username":"bob"}""",
      """{"t":"signup","username":"carol","email":"c@y.io","ip":"5.6.7.8"}""")
    val (server, url) = serve("/events") { (hit, ex) =>
      if (hit == 1) chunked(ex, lines) else chunked(ex, Nil)
    }
    val q = graft.streaming.NdjsonIngest.fromHttp(spark, url, reconnectDelayMs = 100)
      .writeStream.format("memory").queryName("http_signups").outputMode("append").start()
    try {
      val rows = collectUntil("http_signups", 2, q)
      assert(rows.map(_.getAs[String]("username")).toSet == Set("alice", "carol"))
    } finally { q.stop(); server.stop(0) }
  }

  test("NdjsonIngest.fromHttp arms the reference's 90 s event-silence watchdog") {
    val opts = graft.streaming.NdjsonIngest.fromHttp(spark, "http://localhost:1/feed")
      .queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.catalyst.streaming.StreamingRelationV2 => r.extraOptions
      }
    assert(opts.size == 1)
    assert(opts.head.getLong("silenceRestartMs", 0L) == 90000L &&
      opts.head.getLong("silenceCheckMs", 0L) == 15000L)
  }

  test("stop() returns on an open, silent feed and the reader thread exits cleanly") {
    val release = new CountDownLatch(1)
    val (server, url) = serve("/quiet") { (_, ex) =>
      // one line, then the connection stays open and silent
      ex.sendResponseHeaders(200, 0)
      val os = ex.getResponseBody
      os.write("{\"a\":1}\n".getBytes(StandardCharsets.UTF_8)); os.flush()
      release.await(120, TimeUnit.SECONDS)
    }
    val q = spark.readStream.format("http-ndjson")
      .option("url", url).option("reconnectDelayMs", 100).load()
      .writeStream.format("memory").queryName("http_quiet").outputMode("append").start()
    try {
      assert(collectUntil("http_quiet", 1, q).length == 1)
      val reader = Thread.getAllStackTraces.keySet.asScala
        .find(_.getName == s"http-ndjson-$url").get
      val uncaught = new AtomicReference[Throwable]()
      reader.setUncaughtExceptionHandler((_, e) => uncaught.set(e))
      val stopper = new Thread(() => q.stop())
      stopper.setDaemon(true)
      stopper.start()
      stopper.join(10000)
      assert(!stopper.isAlive, "stop() must return within 10 s while the feed is open")
      reader.join(10000)
      assert(!reader.isAlive, "the reader thread must exit once the source stops")
      assert(uncaught.get == null, s"the reader died with ${uncaught.get}")
    } finally {
      release.countDown() // the feed closes first, so a hung stop() still ends
      q.stop()
      server.stop(0)
    }
  }
}
