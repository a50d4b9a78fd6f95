package graft.server

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{Executors, ScheduledThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

/** The reference's ACTUAL broker wire protocol (SURVEY.md §2.1 S11): HTTP
  * `POST /query/sql` with a `{"sql": "..."}` body, answered in the Pinot
  * broker response shape — `resultTable.dataSchema.{columnNames,
  * columnDataTypes}` + `resultTable.rows` + `exceptions` + counters
  * (`/root/reference/lib/apache-pinot-solution-stack.ts:714-728`: ALB →
  * broker port 8099, health-check path `/query/sql`). The Thrift JDBC server
  * ([[SqlEndpoint]]) covers S12/Tableau; this endpoint is what the
  * reference's Query-console and REST users (`README.md:110`) speak.
  *
  * Built on the JDK's HttpServer (no extra dependency) over a shared
  * SparkSession — `spark.sql` is thread-safe, so a cached thread pool gives
  * broker-style concurrency; Spark itself schedules the underlying jobs
  * FAIR/FIFO across them. Serialized result rows are capped (`maxRows`) the
  * way any broker bounds its response payload; the cap is reported via the
  * `numRowsResultSet` vs `truncated` fields rather than silently.
  */
object HttpSqlEndpoint {

  private val mapper = new ObjectMapper()

  /** Pinot `columnDataTypes` name for a Spark SQL type (the broker's
    * response vocabulary — LONG/INT/FLOAT/DOUBLE/STRING/BOOLEAN/TIMESTAMP/
    * BYTES/BIG_DECIMAL and their _ARRAY forms). */
  private[server] def pinotType(dt: DataType): String = dt match {
    case LongType => "LONG"
    case IntegerType | ShortType | ByteType => "INT"
    case FloatType => "FLOAT"
    case DoubleType => "DOUBLE"
    case StringType => "STRING"
    case BooleanType => "BOOLEAN"
    case TimestampType | TimestampNTZType | DateType => "TIMESTAMP"
    case BinaryType => "BYTES"
    case _: DecimalType => "BIG_DECIMAL"
    case ArrayType(e, _) => pinotType(e) + "_ARRAY"
    case _ => "JSON"
  }

  /** Row cell → Jackson value (timestamps/dates as strings, like the Pinot
    * broker; binary as hex; arrays/structs recursively). */
  private def jsonCell(node: ArrayNode, v: Any): Unit = v match {
    case null => node.addNull()
    case b: Boolean => node.add(b)
    case i: Int => node.add(i)
    case l: Long => node.add(l)
    case s: Short => node.add(s.toInt)
    case b: Byte => node.add(b.toInt)
    case f: Float => node.add(f)
    case d: Double => node.add(d)
    case d: java.math.BigDecimal => node.add(d)
    case d: scala.math.BigDecimal => node.add(d.bigDecimal)
    case s: String => node.add(s)
    case b: Array[Byte] => node.add(b.map("%02x".format(_)).mkString)
    case seq: scala.collection.Seq[_] =>
      val arr = node.addArray(); seq.foreach(jsonCell(arr, _))
    // TIMESTAMP cells render as `java.sql.Timestamp.toString` ("yyyy-MM-dd
    // HH:mm:ss.f"), the Pinot broker's TIMESTAMP wire format — pinned to
    // the UTC session zone regardless of JVM default zone or the
    // spark.sql.datetime.java8API setting (which flips the cell class).
    case t: java.sql.Timestamp => node.add(utcTimestampString(t.toInstant))
    case i: java.time.Instant => node.add(utcTimestampString(i))
    case ldt: java.time.LocalDateTime => node.add(java.sql.Timestamp.valueOf(ldt).toString)
    case d: java.sql.Date => node.add(d.toString)
    case ld: java.time.LocalDate => node.add(ld.toString)
    case other => node.add(other.toString) // Row, Map
  }

  private def utcTimestampString(i: java.time.Instant): String =
    java.sql.Timestamp.valueOf(
      java.time.LocalDateTime.ofInstant(i, java.time.ZoneOffset.UTC)).toString

  /** Sum of (numOutputRows, numFiles) across the executed plan's file
    * scans — the broker's numDocsScanned / numSegmentsQueried analogs. */
  private def scanCounters(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case f: FileSourceScanExec => Seq(f)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case o => o.children.flatMap(scans)
    }
    try {
      val ss = scans(df.queryExecution.executedPlan)
      (ss.map(s => s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum,
        ss.map(s => s.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum)
    } catch { case _: Exception => (0L, 0L) } // counters are best-effort
  }

  private def errorResponse(code: Int, msg: String): ObjectNode = {
    val root = mapper.createObjectNode()
    root.putObject("resultTable") // empty table keeps clients shape-stable
      .putObject("dataSchema").putArray("columnNames")
    val ex = root.putArray("exceptions").addObject()
    ex.put("errorCode", code)
    ex.put("message", msg)
    root.put("numRowsResultSet", 0)
    root
  }

  private val ExplainRe = """(?is)\s*EXPLAIN\s+PLAN\s+FOR\s+(.*)""".r

  /** Pinot `EXPLAIN PLAN FOR <query>` (broker-parsed, answered in the same
    * resultTable shape with columns Operator/Operator_Id/Parent_Id): here
    * the operators are the lines of Spark's physical plan, linearized —
    * Operator_Id is the line index and Parent_Id the previous line (-1 at
    * the root), which matches how Pinot renders its single-chain segment
    * plans. */
  private def explainAnswer(spark: SparkSession, inner: String): ObjectNode = {
    // EXPLAIN must only PLAN: spark.sql() executes commands (DDL/DML)
    // eagerly, so a side-effecting inner statement is rejected before it
    // can run — Pinot's EXPLAIN PLAN FOR never executes either
    val parsed = spark.sessionState.sqlParser.parsePlan(inner)
    val sideEffecting =
      parsed.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Command] ||
        parsed.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.InsertIntoStatement] ||
        parsed.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.ParsedStatement]
    if (sideEffecting)
      throw new IllegalArgumentException(
        "EXPLAIN PLAN FOR only accepts queries, not commands")
    val plan = spark.sql(inner).queryExecution.executedPlan.treeString
    val root = mapper.createObjectNode()
    val table = root.putObject("resultTable")
    val schema = table.putObject("dataSchema")
    val names = schema.putArray("columnNames")
    val types = schema.putArray("columnDataTypes")
    Seq("Operator" -> "STRING", "Operator_Id" -> "INT", "Parent_Id" -> "INT").foreach {
      case (n, t) => names.add(n); types.add(t)
    }
    val out = table.putArray("rows")
    val lines = plan.split('\n').filter(_.trim.nonEmpty)
    // Parent_Id from the tree-drawing indentation: a line's parent is the
    // most recent line with a shorter operator prefix ("+-"/":-" depth),
    // which is correct for branching (join/union) plans too
    def depth(l: String): Int = {
      val i = l.indexWhere(c => c != ' ' && c != ':' && c != '+' && c != '-')
      if (i < 0) 0 else i
    }
    val stack = scala.collection.mutable.Stack[(Int, Int)]() // (depth, id)
    lines.zipWithIndex.foreach { case (line, i) =>
      val d = depth(line)
      while (stack.nonEmpty && stack.top._1 >= d) stack.pop()
      val parent = if (stack.isEmpty) -1 else stack.top._2
      stack.push((d, i))
      val r = out.addArray(); r.add(line); r.add(i); r.add(parent)
    }
    root.putArray("exceptions")
    root.put("numRowsResultSet", lines.length)
    root
  }

  /** Parse Pinot's `queryOptions` request field: `"k1=v1;k2=v2"`. Unknown
    * keys are accepted and ignored, as the broker does. */
  private[server] def parseOptions(s: String): Map[String, String] =
    s.split(';').iterator.map(_.trim).filter(_.contains("="))
      .map { kv => val i = kv.indexOf('='); kv.take(i).trim -> kv.drop(i + 1).trim }
      .toMap

  private val SetStmtRe = """(?is)^\s*SET\s+(\w+)\s*=\s*('[^']*'|"[^"]*"|[^;]+?)\s*;(.*)""".r

  /** Pinot's in-query option syntax — `SET key = value; SELECT ...` — is
    * broker-parsed, not SQL: peel leading SET statements into queryOptions
    * (they override same-named options from the request body, as in Pinot)
    * and hand the remainder to the engine. */
  private[server] def extractSetOptions(sql: String): (String, Map[String, String]) = {
    var rest = sql
    val opts = Map.newBuilder[String, String]
    var matched = true
    while (matched) rest match {
      case SetStmtRe(k, v, tail) =>
        val unquoted =
          if (v.length >= 2 && (v.head == '\'' || v.head == '"') && v.last == v.head)
            v.substring(1, v.length - 1)
          else v
        opts += (k -> unquoted)
        rest = tail
      case _ => matched = false
    }
    (rest, opts.result())
  }

  /** One daemon thread for every request's deadline: a timed request
    * schedules the cancel of its job group here instead of running on a
    * thread of its own. A request that finishes first removes its
    * deadline, so the queue holds only requests still running. */
  private val deadlines = {
    val pool = new ScheduledThreadPoolExecutor(1, (r: Runnable) => {
      val t = new Thread(r, "graft-http-sql-deadlines")
      t.setDaemon(true)
      t
    })
    pool.setRemoveOnCancelPolicy(true)
    pool
  }

  /** Execute `sql` on `spark` and render the Pinot broker response JSON.
    * Every request runs on the calling thread under its own job group.
    * `queryOptions` honors `timeoutMs` (Pinot's per-query broker timeout):
    * the deadline cancels the group's running and future Spark jobs (no
    * orphaned work) and the request answers in-band with Pinot's
    * execution-timeout error class (code 235), still HTTP 200. */
  private[server] def answer(spark: SparkSession, rawSql: String, maxRows: Int,
      requestOptions: Map[String, String] = Map.empty): ObjectNode = {
    val sc = spark.sparkContext
    val group = s"graft-http-sql-${java.util.UUID.randomUUID()}"
    val expiredAfterMs = new AtomicLong(-1L) // set when the deadline fires
    def timedOut(): ObjectNode = errorResponse(235,
      s"query timed out after ${expiredAfterMs.get} ms (queryOptions timeoutMs)")
    try {
      val (sql0, setOptions) = extractSetOptions(rawSql)
      // broker canonicalizations: GAPFILL table-function spelling +
      // string-unit timestampAdd/timestampDiff (Spark's parser owns those
      // names and rejects quoted units)
      val sql = graft.PinotFunctions.rewriteBroker(sql0)
      val queryOptions = requestOptions ++ setOptions // SET wins, as in Pinot
      sql match {
        case ExplainRe(inner) => return explainAnswer(spark, inner)
        case _ =>
      }
      val t0 = System.nanoTime()
      // job groups are thread-local: the group covers this thread's jobs
      // and the adaptive stages it submits, and nothing else
      sc.setJobGroup(group, sql, interruptOnCancel = true)
      val df = spark.sql(sql)
      val limited = df.limit(maxRows + 1) // counters read from THIS execution
      val deadline = queryOptions.get("timeoutMs").map(_.toLong).map { t =>
        deadlines.schedule(new Runnable {
          override def run(): Unit = {
            expiredAfterMs.set(t)
            sc.cancelJobGroupAndFutureJobs(group)
          }
        }, t, TimeUnit.MILLISECONDS)
      }
      val rows = try limited.collect() finally deadline.foreach(_.cancel(false))
      if (expiredAfterMs.get >= 0) return timedOut()
      val (docsScanned, segmentsQueried) = scanCounters(limited)
      val truncated = rows.length > maxRows
      val emit = if (truncated) rows.take(maxRows) else rows
      val root = mapper.createObjectNode()
      val table = root.putObject("resultTable")
      val schema = table.putObject("dataSchema")
      val names = schema.putArray("columnNames")
      val types = schema.putArray("columnDataTypes")
      df.schema.fields.foreach { f => names.add(f.name); types.add(pinotType(f.dataType)) }
      val out = table.putArray("rows")
      emit.foreach { r =>
        val rowNode = out.addArray()
        (0 until r.length).foreach(i => jsonCell(rowNode, r.get(i)))
      }
      root.putArray("exceptions")
      root.put("numRowsResultSet", emit.length)
      root.put("truncated", truncated)
      root.put("timeUsedMs", (System.nanoTime() - t0) / 1000000L)
      // Pinot broker counters: rows emitted by the file scans and files
      // (segment analogs) opened — read from the SAME QueryExecution that
      // served the rows (cached/in-memory relations contribute 0: no scan)
      root.put("numDocsScanned", docsScanned)
      root.put("numSegmentsQueried", segmentsQueried)
      root
    } catch {
      // a query whose deadline fired fails with the cancellation
      case _: Exception if expiredAfterMs.get >= 0 => timedOut()
      // Pinot SQL errors come back in-band as QueryException entries, not
      // as HTTP failures — error code 150 = SQL parsing/execution
      case e: Exception => errorResponse(150, String.valueOf(e.getMessage))
    } finally sc.clearJobGroup()
  }

  private def respond(ex: HttpExchange, status: Int, body: ObjectNode): Unit = {
    val bytes = mapper.writeValueAsBytes(body)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  /** Start the broker endpoint; `port = 0` binds an ephemeral port. Returns
    * the running server (stop with `server.stop(0)`); the bound port is
    * `server.getAddress.getPort`.
    *
    * `realtimeTables` wires the CONTROLLER-side lifecycle surface for
    * realtime tables (Pinot `POST /tables/{name}/pauseConsumption` /
    * `resumeConsumption`): each entry maps a table name to a starter that
    * (re)creates its ingest StreamingQuery from the table's checkpoint.
    * Pause stops the running query (sealed segments keep serving — the
    * storage/compute split makes this a consumption toggle, not an
    * availability event); resume starts a fresh query that picks up from
    * the checkpoint with nothing lost — exactly Pinot's pause/resume
    * contract (consumption halts, data already ingested stays queryable,
    * resume continues from the last consumed offset). */
  def start(spark: SparkSession, port: Int = 8099, maxRows: Int = 100000,
      realtimeTables: Map[String, () => org.apache.spark.sql.streaming.StreamingQuery] =
        Map.empty,
      controllerTables: Map[String, String] = Map.empty,
      instances: Seq[String] = Nil): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress("localhost", port), 0)
    val controller = new ControllerRest(spark, controllerTables, instances)
    if (realtimeTables.nonEmpty || controllerTables.nonEmpty) {
      val running = new java.util.concurrent.ConcurrentHashMap[
        String, org.apache.spark.sql.streaming.StreamingQuery]()
      val TableOp = """/tables/([^/]+)/(pauseConsumption|resumeConsumption|consumingSegmentsInfo)""".r
      val RebalanceOp = """/tables/([^/]+)/rebalance/?""".r
      server.createContext("/tables/", new HttpHandler {
        override def handle(ex: HttpExchange): Unit =
          try {
            val node = mapper.createObjectNode()
            ex.getRequestURI.getPath match {
              case TableOp(name, op) if realtimeTables.contains(name) =>
                val active = Option(running.get(name)).filter(_.isActive)
                op match {
                  case "pauseConsumption" =>
                    active.foreach(_.stop())
                    running.remove(name)
                    node.put("tableName", name)
                    node.put("consuming", false)
                    node.put("description",
                      "consumption paused; sealed segments keep serving")
                  case "resumeConsumption" =>
                    val q = active.getOrElse {
                      val started = realtimeTables(name)()
                      running.put(name, started)
                      started
                    }
                    node.put("tableName", name)
                    node.put("consuming", q.isActive)
                    node.put("description", "consumption resumed from checkpoint")
                  case _ => // consumingSegmentsInfo
                    node.put("tableName", name)
                    node.put("consuming", active.nonEmpty)
                }
                respond(ex, 200, node)
              // Pinot `POST /tables/{t}/rebalance?type=...&dryRun=...` — the
              // reference's scale-in Lambda (stack.ts:424-441). Metadata-only
              // here (storage/compute split), so status is terminal in-line.
              case RebalanceOp(name)
                  if ex.getRequestMethod == "POST" && controller.hasTable(name) =>
                val dryRun = Option(ex.getRequestURI.getQuery).exists(
                  _.split('&').contains("dryRun=true"))
                val (status, nSegs, moved) = controller.rebalance(name, dryRun)
                node.put("jobId", s"graft-rebalance-$name-${System.nanoTime()}")
                node.put("status", status)
                node.put("description",
                  if (status == "FAILED") "no tagged instance is assignment-eligible"
                  else s"rebalance is metadata-only on shared storage: $moved of $nSegs segments reassigned")
                node.put("numSegments", nSegs)
                node.put("segmentsMoved", moved)
                node.put("dryRun", dryRun)
                respond(ex, 200, node)
              case _ =>
                respond(ex, 404, errorResponse(404, "unknown table or operation"))
            }
          } catch {
            case e: Exception => respond(ex, 500, errorResponse(500, String.valueOf(e.getMessage)))
          }
      })
    }
    if (controllerTables.nonEmpty) {
      // GET /tables — the Lambda's table enumeration ({"tables": [...]})
      server.createContext("/tables", new HttpHandler {
        override def handle(ex: HttpExchange): Unit = {
          val node = mapper.createObjectNode()
          val arr = node.putArray("tables")
          controller.tableNames.foreach(arr.add)
          respond(ex, 200, node)
        }
      })
      // GET /segments/{t}/servers — the Lambda's drain poll: a JSON array
      // whose head holds serverToSegmentsMap (stack.ts:446-463)
      val SegServers = """/segments/([^/]+)/servers""".r
      server.createContext("/segments/", new HttpHandler {
        override def handle(ex: HttpExchange): Unit =
          ex.getRequestURI.getPath match {
            case SegServers(name) if controller.hasTable(name) =>
              val root = mapper.createObjectNode()
              root.put("tableName", name)
              val m = root.putObject("serverToSegmentsMap")
              controller.serverToSegmentsMap(name).toSeq.sortBy(_._1).foreach {
                case (srv, segs) =>
                  val a = m.putArray(srv); segs.foreach(a.add)
              }
              val body = mapper.createArrayNode().add(root)
              val bytes = mapper.writeValueAsBytes(body)
              ex.getResponseHeaders.set("Content-Type", "application/json")
              ex.sendResponseHeaders(200, bytes.length.toLong)
              val os = ex.getResponseBody
              try os.write(bytes) finally os.close()
            case _ => respond(ex, 404, errorResponse(404, "unknown table"))
          }
      })
      // PUT /instances/{i}/updateTags?tags=... + DELETE /instances/{i} —
      // the Lambda's first and last calls (stack.ts:410-412,466-471)
      val TagOp = """/instances/([^/]+)/updateTags""".r
      val InstOp = """/instances/([^/]+)""".r
      server.createContext("/instances/", new HttpHandler {
        override def handle(ex: HttpExchange): Unit = {
          val node = mapper.createObjectNode()
          (ex.getRequestMethod, ex.getRequestURI.getPath) match {
            case ("PUT", TagOp(i)) =>
              val tags = Option(ex.getRequestURI.getQuery).toSeq
                .flatMap(_.split('&')).collectFirst {
                  case kv if kv.startsWith("tags=") => kv.drop(5)
                }.filter(_.nonEmpty).toSeq.flatMap(_.split(',').toSeq)
              controller.updateTags(i, tags)
              node.put("instanceName", i)
              node.put("status", "updated")
              val arr = node.putArray("tags"); tags.foreach(arr.add)
              respond(ex, 200, node)
            case ("DELETE", InstOp(i)) =>
              controller.deleteInstance(i) match {
                case Right(_) =>
                  node.put("status", s"Successfully deleted instance $i")
                  respond(ex, 200, node)
                case Left(msg) => respond(ex, 409, errorResponse(409, msg))
              }
            case _ => respond(ex, 404, errorResponse(404, "unknown instance operation"))
          }
        }
      })
    }
    server.createContext("/query/sql", new HttpHandler {
      override def handle(ex: HttpExchange): Unit =
        try {
          ex.getRequestMethod match {
            case "POST" =>
              val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
              val tree = mapper.readTree(body)
              val sqlNode = tree.get("sql")
              val optsNode = tree.get("queryOptions")
              val opts =
                if (optsNode != null && optsNode.isTextual) parseOptions(optsNode.asText())
                else Map.empty[String, String]
              if (sqlNode == null || !sqlNode.isTextual)
                respond(ex, 400, errorResponse(150, "request body must be {\"sql\": \"...\"}"))
              else respond(ex, 200, answer(spark, sqlNode.asText(), maxRows, opts))
            case _ =>
              // the reference ALB health-checks GET /query/sql
              // (apache-pinot-solution-stack.ts:725-727) — answer 200
              respond(ex, 200, errorResponse(0, "healthy: POST {\"sql\": ...} to query"))
          }
        } catch {
          case e: Exception => respond(ex, 500, errorResponse(500, String.valueOf(e.getMessage)))
        }
    })
    server.setExecutor(Executors.newCachedThreadPool())
    server.start()
    server
  }
}
