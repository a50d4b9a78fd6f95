package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.execution.QueryExecution

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentLinkedQueue, Executors}
import scala.jdk.CollectionConverters._

/** Engine-side half of the benchmark. It hosts the engine exactly as a user
  * would run it, one session from `graft.Graft.session(cores)` serving
  * `graft.server.HttpSqlEndpoint`, `graft.streaming.EventIngest` and the
  * declared-query registry, and exposes a small control endpoint that the
  * load generator (`perfbench/run.py`) drives. Everything here calls the
  * engine's public functions and Spark's public listener and tracker APIs;
  * nothing in the engine is changed for the benchmark.
  *
  * Usage: Harness <cores> <span file>
  * Prints `PERFBENCH_CONTROL <port>` on stdout once the control endpoint
  * listens; every command is a POST of a JSON object to `/<command>`.
  */
object Harness {
  private val mapper = new ObjectMapper()

  private var cores = 1
  private val tracer = new Tracer
  private var spark: SparkSession = _
  private var broker: HttpServer = _
  private var exec: ExecListener = _
  private var ingestListener: IngestListener = _
  private var live: StreamingQuery = _
  @volatile private var collectQe = false
  private val qes = new ConcurrentLinkedQueue[ObjectNode]()

  def main(args: Array[String]): Unit = {
    cores = args(0).toInt
    val spanFile = args(1)
    watchMemory()
    val control = HttpServer.create(new InetSocketAddress("localhost", 0), 0)
    val done = new java.util.concurrent.CountDownLatch(1)
    val handlers: Map[String, JsonNode => ObjectNode] = Map(
      "setup" -> setup,
      "sql" -> directSql,
      "replay" -> replay,
      "stats" -> stats,
      "trace" -> { _ => tracer.enabled = true; mapper.createObjectNode() },
      "oracle_sql" -> oracleSql,
      "analytics_pass" -> analyticsPass,
      "ingest_catchup" -> ingestCatchup,
      "ingest_start" -> ingestStart,
      "ingest_stop" -> ingestStop,
      "shutdown" -> (_ => peakMemory()))
    control.createContext("/", (ex: HttpExchange) => {
      val name = ex.getRequestURI.getPath.stripPrefix("/")
      val body = mapper.readTree(new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
      val (status, out) =
        try handlers.get(name) match {
          case Some(h) => (200, h(body))
          case None => (404, error(s"unknown command $name"))
        } catch {
          case e: Exception =>
            e.printStackTrace()
            (500, error(s"${e.getClass.getName}: ${e.getMessage}"))
        }
      val bytes = mapper.writeValueAsBytes(out)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(status, bytes.length.toLong)
      val os = ex.getResponseBody
      try os.write(bytes) finally os.close()
      if (name == "shutdown") done.countDown()
    })
    control.setExecutor(Executors.newCachedThreadPool())
    control.start()
    println(s"PERFBENCH_CONTROL ${control.getAddress.getPort}")
    System.out.flush()
    done.await()
    control.stop(0)
    if (live != null && live.isActive) live.stop()
    if (broker != null) broker.stop(0)
    tracer.writeTo(spanFile)
    if (spark != null) spark.stop()
    System.exit(0)
  }

  private def error(msg: String): ObjectNode = {
    val n = mapper.createObjectNode(); n.put("error", msg); n
  }

  private def strings(n: JsonNode, field: String): Seq[String] =
    Option(n.get(field)).map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil)

  @volatile private var peakInUse = 0L

  /** After every collection, the memory the JVM still holds in use: every
    * pool's occupancy after the collection (heap and non-heap) plus direct
    * and mapped buffers. Its high-water mark moves with what the engine
    * keeps, not with when the collector chose to grow the heap. */
  private def watchMemory(): Unit = {
    import com.sun.management.GarbageCollectionNotificationInfo
    import java.lang.management.{BufferPoolMXBean, ManagementFactory}
    val buffers = ManagementFactory.getPlatformMXBeans(classOf[BufferPoolMXBean]).asScala
    val listener: javax.management.NotificationListener = (n, _) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val inUse = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum +
          buffers.map(_.getMemoryUsed).sum
        synchronized { peakInUse = math.max(peakInUse, inUse) }
      }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach(
      _.asInstanceOf[javax.management.NotificationEmitter].addNotificationListener(listener, null, null))
  }

  /** High-water marks: memory in use after collections (see watchMemory)
    * and the resident set of this process, from /proc. */
  private def peakMemory(): ObjectNode = {
    val n = mapper.createObjectNode()
    val hwm = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    n.put("peak_rss_kb", hwm)
    n.put("peak_in_use_kb", peakInUse / 1024)
    n
  }

  /** One engine bring-up per entry of `tmp_dirs`: a session from the
    * engine's factory, Pinot functions and graft rules registered, the
    * workload's tables as views with one scan each, and the declared
    * queries that build derived layouts. Each bring-up gets its own
    * `java.io.tmpdir`, so `Fingerprint.buildOnce` builds every layout
    * afresh inside the timed bring-up. The first bring-up is timed from JVM
    * start. The broker and the listeners attach to the last session. */
  private def setup(req: JsonNode): ObjectNode = {
    val data = req.get("data").asText()
    val tables = strings(req, "tables")
    val layoutQueries = strings(req, "layout_queries")
    val out = mapper.createObjectNode()
    val times = out.putArray("bringup_s")
    strings(req, "tmp_dirs").zipWithIndex.foreach { case (tmp, i) =>
      val t0 =
        if (i == 0) java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L
        else System.currentTimeMillis() * 1000000L
      if (spark != null) { spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession() }
      new java.io.File(tmp).mkdirs()
      System.setProperty("java.io.tmpdir", tmp)
      spark = graft.Graft.session(cores = cores, appName = "perfbench")
      graft.PinotFunctions.register(spark)
      graft.GraftExtensions.register(spark)
      tables.foreach { t =>
        val df = graft.sources.Tables.t(spark, data, t)
        df.createOrReplaceTempView(t)
        df.count()
      }
      layoutQueries.foreach { q =>
        graft.SparkEntry.queries(q)(spark, data).write.format("noop").mode("overwrite").save()
      }
      times.add((System.currentTimeMillis() * 1000000L - t0) / 1e9)
    }
    exec = new ExecListener(tracer)
    spark.sparkContext.addSparkListener(exec)
    ingestListener = new IngestListener(tracer, mapper)
    spark.streams.addListener(ingestListener)
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (collectQe) qes.add(PlanReadings.of(qe, mapper.createObjectNode()))
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    if (req.path("broker").asBoolean(false)) {
      broker = graft.server.HttpSqlEndpoint.start(spark, port = 0)
      out.put("broker_port", broker.getAddress.getPort)
    }
    out
  }

  /** Broker `SET k = v;` prefixes are options, not SQL: peel them off the
    * way the broker does before the text reaches the engine. */
  private val SetPrefix = """(?is)^\s*SET\s+\w+\s*=\s*[^;]*;(.*)$""".r
  private def stripSet(sql: String): String = sql match {
    case SetPrefix(rest) => stripSet(rest)
    case _ => sql
  }

  private def cell(a: ArrayNode, v: Any): Unit = v match {
    case null => a.addNull()
    case b: Boolean => a.add(b)
    case i: Int => a.add(i)
    case l: Long => a.add(l)
    case d: Double => a.add(d)
    case f: Float => a.add(f)
    case d: java.math.BigDecimal => a.add(d)
    case s: String => a.add(s)
    case d: java.sql.Date => a.add(d.toString)
    case t: java.sql.Timestamp =>
      a.add(java.sql.Timestamp.valueOf(java.time.LocalDateTime.ofInstant(
        t.toInstant, java.time.ZoneOffset.UTC)).toString)
    case other => a.add(other.toString)
  }

  private def rowsJson(rows: Array[Row], out: ObjectNode): Unit = {
    val arr = out.putArray("rows")
    rows.foreach { r =>
      val a = arr.addArray()
      (0 until r.length).foreach(i => cell(a, r.get(i)))
    }
  }

  /** The broker text answered by a direct `spark.sql` collect on the same
    * session: the reference the broker's answers are checked against. */
  private def directSql(req: JsonNode): ObjectNode = {
    val sql = graft.PinotFunctions.rewriteBroker(stripSet(req.get("sql").asText()))
    val out = mapper.createObjectNode()
    rowsJson(spark.sql(sql).collect(), out)
    out
  }

  /** In-process replay of one broker request, layer by layer: broker
    * rewrite, `spark.sql` (parse and analysis), then collect (optimization,
    * planning, execution) under the request's job group so the listener's
    * job and stage spans attach to it. Mirrors the broker's own
    * `limit(maxRows + 1)` so the plan is the one the broker ran. */
  private def replay(req: JsonNode): ObjectNode = {
    val id = req.get("req").asText()
    val group = s"bench-$id"
    val out = mapper.createObjectNode()
    val raw = stripSet(req.get("sql").asText())
    val r0 = System.nanoTime()
    val sql = tracer.span("broker.rewrite", id, id)(graft.PinotFunctions.rewriteBroker(raw))
    out.put("rewrite_us", (System.nanoTime() - r0) / 1e3)
    val sc = spark.sparkContext
    sc.setJobGroup(group, "perfbench replay", interruptOnCancel = false)
    try {
      val parsed = tracer.span("spark.sql", id, id)(spark.sql(sql))
      val df = parsed.limit(100001)
      val c0 = System.nanoTime()
      val rows = tracer.span("collect", id, id)(df.collect())
      out.put("collect_ms", (System.nanoTime() - c0) / 1e6)
      out.put("result_rows", rows.length)
      PlanReadings.of(df.queryExecution, out)
      // parsing and the text's own analysis ran on spark.sql's tracker; the
      // limit wrapper's tracker holds its analysis, optimization, planning
      val first = parsed.queryExecution.tracker.phases
      first.get("parsing").foreach(p => out.put("parsing_ms", p.durationMs))
      first.get("analysis").foreach(p => out.put("analysis_ms", p.durationMs + out.path("analysis_ms").asLong(0)))
      (first ++ df.queryExecution.tracker.phases.filter(_._1 != "analysis")).foreach { case (name, p) =>
        tracer.record(s"plan.$name", tracer.nextId("phase"), id, id,
          p.startTimeMs * 1000000L, p.endTimeMs * 1000000L)
      }
    } finally sc.clearJobGroup()
    out
  }

  private def stats(req: JsonNode): ObjectNode = {
    val snap = exec.snapshot(mapper)
    if (req.path("reset").asBoolean(false)) exec.reset()
    snap
  }

  private def oracleSql(req: JsonNode): ObjectNode = {
    val out = mapper.createObjectNode()
    val all = graft.SparkEntry.oracleSql
    strings(req, "queries").foreach(q => all.get(q).foreach(out.put(q, _)))
    out
  }

  /** One pass of declared queries in the given order, after `clearCache`
    * (cached intermediates live for one pass, so queries that share them
    * keep sharing). `oracle_dir` writes each result as parquet for the
    * DuckDB check; otherwise each result goes to the noop sink. A query
    * that throws is reported failed, never timed as a success. */
  private def analyticsPass(req: JsonNode): ObjectNode = {
    val data = req.get("data").asText()
    val oracleDir = Option(req.get("oracle_dir")).map(_.asText())
    val out = mapper.createObjectNode()
    val arr = out.putArray("queries")
    spark.catalog.clearCache()
    qes.clear()
    collectQe = tracer.enabled
    val sc = spark.sparkContext
    val passId = tracer.nextId("pass")
    strings(req, "queries").foreach { q =>
      val n = arr.addObject()
      n.put("name", q)
      sc.setJobGroup(s"bench-q-$q", q, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try {
        tracer.span(s"query.$q", passId, s"q-$q") {
          val df = graft.SparkEntry.queries(q)(spark, data)
          oracleDir match {
            case Some(d) => df.coalesce(1).write.mode("overwrite").parquet(s"$d/$q")
            case None => df.write.format("noop").mode("overwrite").save()
          }
        }
        n.put("ok", true)
      } catch {
        case e: Exception =>
          n.put("ok", false)
          n.put("error", s"${e.getClass.getName}: ${e.getMessage}".take(300))
      } finally sc.clearJobGroup()
      n.put("wall_s", (System.nanoTime() - t0) / 1e9)
    }
    if (tracer.enabled) {
      // QueryExecutionListener callbacks arrive on the listener bus; give
      // the last ones a moment before reading them
      Thread.sleep(500)
      val plans = out.putArray("plans")
      qes.forEach(p => plans.add(p))
    }
    collectQe = false
    out
  }

  private def ingestQuery(req: JsonNode, trigger: Trigger): StreamingQuery =
    graft.streaming.EventIngest.sealedSink(
      graft.streaming.EventIngest.readJsonLines(
        spark, req.get("source").asText(), req.get("max_files_per_trigger").asInt()),
      req.get("sink").asText(), req.get("checkpoint").asText(), trigger).start()

  /** Drain a pre-written backlog, as after `resumeConsumption`: one
    * available-now run of the ingest pipeline from the table's checkpoint. */
  private def ingestCatchup(req: JsonNode): ObjectNode = {
    ingestListener.clear()
    val t0 = System.nanoTime()
    val q = tracer.span("ingest.catchup", "ingest", "ingest") {
      val q = ingestQuery(req, Trigger.AvailableNow())
      q.awaitTermination()
      q
    }
    val out = mapper.createObjectNode()
    out.put("wall_s", (System.nanoTime() - t0) / 1e9)
    q.exception.foreach(e => out.put("error", e.getMessage.take(300)))
    out.put("rows", ingestListener.committedRows)
    ingestListener.toJson(out.putArray("progress"))
    ingestListener.clear()
    out
  }

  private def ingestStart(req: JsonNode): ObjectNode = {
    ingestListener.clear()
    live = ingestQuery(req, Trigger.ProcessingTime(req.get("trigger_ms").asLong()))
    mapper.createObjectNode()
  }

  /** Wait until every written row is committed (or the timeout passes),
    * stop the stream, and read the sink back for the exactly-once check. */
  private def ingestStop(req: JsonNode): ObjectNode = {
    val expect = req.get("expect_rows").asLong()
    val deadline = System.nanoTime() + (req.get("timeout_s").asDouble() * 1e9).toLong
    while (ingestListener.committedRows < expect && System.nanoTime() < deadline && live.isActive)
      Thread.sleep(50)
    val out = mapper.createObjectNode()
    live.exception.foreach(e => out.put("error", e.getMessage.take(300)))
    live.stop()
    ingestListener.toJson(out.putArray("progress"))
    import org.apache.spark.sql.functions._
    val r = spark.read.parquet(req.get("sink").asText())
      .agg(count(lit(1)), coalesce(sum(col("price")), lit(0L))).head()
    out.put("rows", r.getLong(0))
    out.put("price_sum", r.getLong(1))
    out
  }
}
