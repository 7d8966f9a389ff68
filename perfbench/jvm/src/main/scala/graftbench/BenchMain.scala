package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.Duration

import scala.io.Source
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import graft.{GraftApp, SparkEntry}
import graft.zulip.ZulipConf

/** The benchmark's JVM entry point. `run.py` launches it once per run with
  * `--mode live|batch`; it drives graft through the same calls a deployment
  * makes, writes one result JSON (and, traced, the recorded spans), and
  * exits. Arguments are `--key value` pairs; see `run.py` for the full set.
  */
object BenchMain {
  private implicit val formats: DefaultFormats.type = DefaultFormats

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val code =
      try { if (o("mode") == "live") live(o) else batch(o); 0 }
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] run failed: $e")
          e.printStackTrace()
          writeJson(o("out"), Map("error" -> e.toString))
          3
      }
    // a wedged daemon (e.g. a stream that would not stop) must not keep the
    // harness waiting: the result is already on disk
    Runtime.getRuntime.halt(code)
  }

  private def session(o: Map[String, String], tracer: Option[Tracer]): SparkSession = {
    val cpus = o("cpus")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o("tmp"))
      .config("spark.sql.warehouse.dir", s"${o("tmp")}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    tracer.foreach(_.attach(spark))
    spark
  }

  private def nowMs: Long = System.currentTimeMillis()

  /** Peak resident set of this JVM, from the kernel's high-water mark. */
  private def rssPeakKb: Long =
    Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def writeJson(path: String, v: Any): Unit = {
    val w = new PrintWriter(new File(path), StandardCharsets.UTF_8)
    try w.write(Serialization.write(v.asInstanceOf[AnyRef])) finally w.close()
  }

  private def writeSpans(spark: SparkSession, path: String, t: Tracer): Unit = {
    org.apache.spark.sql.PerfbenchAccess.drain(spark.sparkContext)
    val w = new PrintWriter(new File(path), StandardCharsets.UTF_8)
    try {
      t.allActions.foreach { a =>
        w.println(Serialization.write(Map("kind" -> "action", "qe" -> a.qeId,
          "batch" -> t.batchOf(a.qeId), "end_ms" -> t.endOf(a.qeId), "func" -> a.func,
          "ms" -> a.ms, "plan_ms" -> a.planMs, "reads" -> a.reads, "writes" -> a.writes,
          "rows" -> a.rowsWritten, "exchanges" -> a.exchanges, "span" -> t.spanOf(a),
          "failed" -> a.failed)))
      }
      t.allProgress.foreach(e => w.println(s"""{"kind":"progress","p":${e.progress.json}}"""))
      t.allTotals.foreach { case (span, s) =>
        w.println(Serialization.write(Map("kind" -> "stages", "span" -> span,
          "stages" -> s.stages, "shuffle_write_bytes" -> s.shuffleWriteBytes,
          "spill_bytes" -> s.spillBytes)))
      }
    } finally w.close()
  }

  // ---- live: GraftApp.start against the generator's feed and fake Zulip ----

  private val http = HttpClient.newBuilder().connectTimeout(Duration.ofSeconds(10)).build()

  private def ctl(gen: String, path: String, timeoutS: Int = 30): String =
    http.send(HttpRequest.newBuilder(URI.create(s"$gen$path"))
      .timeout(Duration.ofSeconds(timeoutS))
      .POST(HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.ofString()).body()

  /** Stop one GraftApp instance: the generator ends the feed first (an open,
    * silent feed makes the source's stop() block), then `shutdown` gets
    * `boundMs` to return before the run is failed. */
  private def stopBounded(gen: String, h: GraftApp.Handles, boundMs: Long): Long = {
    val t0 = nowMs
    ctl(gen, "/ctl/close_feed")
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val t = new Thread(() => try h.shutdown() catch { case e: Throwable => err.set(e) },
      "perfbench-stop")
    t.setDaemon(true)
    t.start()
    t.join(boundMs)
    if (t.isAlive)
      throw new IllegalStateException(s"GraftApp did not stop within $boundMs ms")
    if (err.get != null) throw err.get
    nowMs - t0
  }

  private def live(o: Map[String, String]): Unit = {
    val gen = o("gen")
    val setups = o("setups").toInt
    val boundMs = o("stop-bound-ms").toLong
    val tracer = if (o("trace") == "1") Some(new Tracer) else None
    val spark = session(o, tracer)
    val hostPort = URI.create(gen).getAuthority
    def conf(dir: String) = ZulipConf.default.copy(
      rulesPath = s"$dir/rules",
      zulipBotToken = "bench-token",
      zulipBotId = "graftbot@bench.invalid",
      zulipBotUsername = "graftbot",
      zulipCommandStream = "mod",
      zulipCommandTopic = "commands",
      zulipNotifyStream = "notify",
      zulipNotifyTopic = "actions",
      zulipLogStream = "log",
      zulipLogTopic = "log",
      zulipUrl = hostPort)
    val setupMs = Seq.newBuilder[Long]
    val stopMs = Seq.newBuilder[Long]
    var handles: GraftApp.Handles = null
    var dir = ""
    for (k <- 1 to setups) {
      val t0 = if (k == 1) o("launch-ms").toLong else nowMs
      dir = s"${o("work")}/instance$k"
      // GraftApp's stream, Zulip and sweep threads inherit this label
      spark.sparkContext.setLocalProperty("graftbench.span", s"instance$k")
      handles = GraftApp.start(spark, conf(dir), s"$gen/feed", dir,
        zulipBaseUrlOverride = Some(gen))
      val deadline = nowMs + 120000L
      while (handles.events.lastProgress == null) {
        handles.events.exception.foreach(e => throw e)
        if (nowMs > deadline) throw new IllegalStateException("no first batch in 120 s")
        Thread.sleep(10)
      }
      setupMs += nowMs - t0
      if (k < setups) stopMs += stopBounded(gen, handles, boundMs)
    }
    ctl(gen, "/ctl/start")
    ctl(gen, "/ctl/await_end", timeoutS = 170)
    val streamError = handles.events.exception.map(_.toString)
    stopMs += stopBounded(gen, handles, boundMs)
    val stateFiles = Files.walk(Paths.get(dir)).iterator().asScala.count(Files.isRegularFile(_))
    val stateBytes = Files.walk(Paths.get(dir)).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size(_)).sum
    tracer.foreach(t => writeSpans(spark, o("spans"), t))
    writeJson(o("out"), Map(
      "setup_ms" -> setupMs.result(), "stop_ms" -> stopMs.result(),
      "stream_error" -> streamError.getOrElse(""),
      "state_files_end" -> stateFiles, "state_bytes_end" -> stateBytes,
      "rss_peak_kb" -> rssPeakKb, "gc_ms" -> gcMs))
    spark.stop()
  }

  // ---- batch: SparkEntry.queries, each answer fully materialized ----------

  /** The package each SparkEntry query comes from — its batch module. */
  private lazy val moduleOf: Map[String, String] = Seq(
    "relational" -> graft.relational.Relational.queries,
    "events" -> graft.events.EventOps.queries,
    "rules" -> graft.rules.RuleQueries.queries,
    "enrich" -> graft.enrich.EnrichQueries.queries,
    "commands" -> graft.commands.CommandQueries.queries,
    "dedup" -> graft.dedup.Dedup.queries,
    "sim" -> graft.sim.Similarity.queries,
    "text" -> graft.text.TextOps.queries,
    "sample" -> graft.sample.Sampling.queries,
    "streaming" -> graft.streaming.StreamOps.queries,
    "multimodal" -> graft.multimodal.Multimodal.queries,
    "pipeline" -> graft.pipeline.Curate.queries,
    "sources" -> (graft.sources.WarcQueries.queries ++ graft.sources.CsvQueries.queries ++
      graft.sources.ParquetStats.queries),
    "web" -> graft.web.WebOps.queries,
  ).flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap.withDefaultValue("other")

  private def batch(o: Map[String, String]): Unit = {
    val sf = o("sf-dir")
    val outDir = o("answers")
    val names = Files.readAllLines(Paths.get(o("queries"))).asScala.map(_.trim)
      .filter(_.nonEmpty).toSeq
    val setups = o("setups").toInt
    val tracer = if (o("trace") == "1") Some(new Tracer) else None
    val setupMs = Seq.newBuilder[Long]
    var spark: SparkSession = null
    for (k <- 1 to setups) {
      val t0 = if (k == 1) o("launch-ms").toLong else nowMs
      spark = session(o, tracer)
      SparkEntry.queries(o("warmup"))(spark, sf).write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
      setupMs += nowMs - t0
      if (k < setups) spark.stop()
    }
    val results = names.map { name =>
      tracer.foreach(_.current.set(name))
      spark.sparkContext.setLocalProperty("graftbench.span", name)
      val t0 = System.nanoTime()
      var t1 = t0
      val error =
        try {
          val df = SparkEntry.queries(name)(spark, sf)
          t1 = System.nanoTime()
          df.write.mode("overwrite").parquet(s"$outDir/$name")
          ""
        } catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500) }
      val t2 = System.nanoTime()
      // traced: let the listener bus deliver this query's events before the
      // next query relabels the span
      if (tracer.isDefined) org.apache.spark.sql.PerfbenchAccess.drain(spark.sparkContext)
      spark.catalog.clearCache()
      Map("name" -> name, "module" -> moduleOf(name), "build_ms" -> (t1 - t0) / 1e6,
        "total_ms" -> (t2 - t0) / 1e6, "error" -> error)
    }
    spark.sparkContext.setLocalProperty("graftbench.span", null)
    writeJson(s"$outDir/oracle_sql.json", SparkEntry.oracleSql.filter(kv => names.contains(kv._1)))
    tracer.foreach(t => writeSpans(spark, o("spans"), t))
    writeJson(o("out"), Map("setup_ms" -> setupMs.result(), "queries" -> results,
      "rss_peak_kb" -> rssPeakKb, "gc_ms" -> gcMs))
    spark.stop()
  }
}
