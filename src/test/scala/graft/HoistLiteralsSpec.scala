package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.plans.HoistedLiteral
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GreaterThan, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GeneratePredicate
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import scala.reflect.runtime.universe.TypeTag

/** plans.HoistLiterals: per-request numeric, date and timestamp literals in
  * Filter and Project reach generated code through the `references` array,
  * so a query that differs from an earlier one only in those values reuses
  * its compiled classes — with answers, scan pushdown, broker counters and
  * EXPLAIN text unchanged. */
class HoistLiteralsSpec extends GraftSuite {

  /** One hoisted type: edge values, a generator, and Spark SQL's comparison
    * and value identity written as plain Scala. */
  private case class Case[T](name: String, specials: Seq[T], gen: Gen[T],
      cmp: (T, T) => Int, same: (T, T) => Boolean, array: Seq[T] => Column)

  private def mk[T: TypeTag](name: String, specials: Seq[T], any: Gen[T], cmp: (T, T) => Int,
      same: (T, T) => Boolean = (a: T, b: T) => a == b): Case[T] =
    Case(name, specials, Gen.frequency(1 -> Gen.oneOf(specials), 2 -> any), cmp, same,
      (xs: Seq[T]) => typedLit(xs))

  // Spark orders floating point with -0.0 = 0.0 and NaN = NaN above +Inf;
  // a literal keeps its exact bits
  private def cmpD(a: Double, b: Double): Int = if (a == b) 0 else java.lang.Double.compare(a, b)
  private def cmpF(a: Float, b: Float): Int = if (a == b) 0 else java.lang.Float.compare(a, b)

  private val microsRange = Gen.choose(-62135596800000000L, 253402300799999999L)
  private def instant(micros: Long): Instant =
    Instant.ofEpochSecond(Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L)

  private val cases: Seq[Case[_]] = Seq(
    mk[Int]("int", Seq(Int.MinValue, Int.MaxValue, 0, -1, 1), Gen.choose(Int.MinValue, Int.MaxValue),
      Integer.compare),
    mk[Long]("long", Seq(Long.MinValue, Long.MaxValue, 0L, -1L), Gen.choose(Long.MinValue, Long.MaxValue),
      java.lang.Long.compare),
    mk[Short]("short", Seq(Short.MinValue, Short.MaxValue, 0.toShort), Gen.choose(Short.MinValue, Short.MaxValue),
      java.lang.Short.compare),
    mk[Byte]("byte", Seq(Byte.MinValue, Byte.MaxValue, 0.toByte), Gen.choose(Byte.MinValue, Byte.MaxValue),
      java.lang.Byte.compare),
    mk[Float]("float",
      Seq(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity, -0.0f, 0.0f, Float.MinPositiveValue, Float.MaxValue),
      Gen.choose(-1e6f, 1e6f), cmpF,
      (a: Float, b: Float) => java.lang.Float.floatToIntBits(a) == java.lang.Float.floatToIntBits(b)),
    mk[Double]("double",
      Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, -0.0, 0.0, Double.MinPositiveValue, Double.MaxValue),
      Gen.choose(-1e12, 1e12), cmpD,
      (a: Double, b: Double) => java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b)),
    mk[LocalDate]("date",
      Seq(LocalDate.of(1969, 12, 31), LocalDate.of(1970, 1, 1), LocalDate.of(1900, 1, 1),
        LocalDate.of(1582, 10, 4), LocalDate.of(1, 1, 1), LocalDate.of(9999, 12, 31)),
      Gen.choose(-719162L, 2932896L).map(LocalDate.ofEpochDay), (a: LocalDate, b: LocalDate) => a.compareTo(b)),
    mk[Instant]("timestamp",
      Seq(instant(-1L), Instant.EPOCH, Instant.parse("1900-01-01T00:00:00Z"),
        Instant.parse("1582-10-10T12:00:00Z"), instant(-62135596800000000L), instant(253402300799999999L)),
      microsRange.map(instant), (a: Instant, b: Instant) => a.compareTo(b)),
    mk[LocalDateTime]("timestamp_ntz",
      Seq(LocalDateTime.of(1969, 12, 31, 23, 59, 59, 999999000), LocalDateTime.of(1970, 1, 1, 0, 0),
        LocalDateTime.of(1900, 1, 1, 0, 0), LocalDateTime.of(1, 1, 1, 0, 0)),
      microsRange.map(m => LocalDateTime.ofInstant(instant(m), ZoneOffset.UTC)),
      (a: LocalDateTime, b: LocalDateTime) => a.compareTo(b)))

  private def samples[T](g: Gen[T], n: Int, seed: Long): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(seed * 1000 + i)))

  /** Dates and timestamps collect as java.time values, exact before 1970
    * and before the Gregorian cutover. */
  private lazy val session: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.datetime.java8API.enabled", "true")
    s
  }

  /** Row `k` holds `rows(k)` in `v`; the values arrive as one array
    * reference, so only the compared literal varies between queries. */
  private def frame[T](c: Case[T], rows: Seq[T]): DataFrame =
    session.range(rows.size).select(col("id").cast("int").as("k"),
      element_at(c.array(rows), col("id").cast("int") + 1).as("v"))

  private def filtered[T](c: Case[T], rows: Seq[T], x: T): DataFrame =
    frame(c, rows).filter(col("v") > lit(x)).select("k")

  private def projected[T](c: Case[T], rows: Seq[T], x: T): DataFrame =
    frame(c, rows).select(col("k"), (col("v") === lit(x)).as("eq"), (col("v") < lit(x)).as("lt"),
      lit(x).as("x"))

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case o => o +: o.children.flatMap(nodes)
  }

  private def hoisted(p: SparkPlan): Seq[HoistedLiteral] = nodes(p).flatMap {
    case f: FilterExec => Seq(f.condition)
    case pr: ProjectExec => pr.projectList
    case _ => Nil
  }.flatMap(_.collect { case h: HoistedLiteral => h })

  test("the rule is installed on every GraftSuite session and the sessions derived from it") {
    assert(GraftExtensions.injected(spark))
    assert(GraftExtensions.injected(session))
    val df = filtered(cases.head.asInstanceOf[Case[Int]], Seq(1, 2, 3), 2)
    df.collect()
    assert(hoisted(df.queryExecution.executedPlan).map(_.literal).contains(Literal(2)))
  }

  test("generated code no longer spells the literal: the second value compiles nothing") {
    // nonces keep an earlier test or suite from having compiled these shapes
    val nonce = (System.nanoTime() & 0xffffff).toInt + 1000
    def pred(e: Expression) = GeneratePredicate.generate(GreaterThan(BoundReference(0, IntegerType, true), e), false)
    def cost(e: Expression): Long = { val c0 = compiles(); pred(e); compiles() - c0 }
    assert(cost(Literal(nonce)) === 1L)
    assert(cost(Literal(nonce + 1)) === 1L, "an inline literal changes the source")
    cost(HoistedLiteral(Literal(nonce)))
    assert(cost(HoistedLiteral(Literal(nonce + 1))) === 0L)
    val p = pred(HoistedLiteral(Literal(nonce)))
    assert(p.eval(InternalRow(nonce + 1)) && !p.eval(InternalRow(nonce)))
  }

  test("(a) per hoisted type, a query differing only in the literal adds no compilation") {
    cases.foreach { case c: Case[t] =>
      val Seq(x1, x2) = samples(c.gen, 40, 7).distinct.take(2)
      filtered(c, c.specials, x1).collect(); projected(c, c.specials, x1).collect()
      val before = compiles()
      val df = filtered(c, c.specials, x2)
      df.collect(); projected(c, c.specials, x2).collect()
      assert(compiles() - before === 0L, s"${c.name}: $x1 then $x2 recompiled")
      assert(hoisted(df.queryExecution.executedPlan).nonEmpty, c.name)
    }
  }

  test("(b) property: filter and project over hoisted literals equal plain Scala evaluation") {
    cases.foreach { case c: Case[t] =>
      samples(c.gen, 12, 11).zipWithIndex.foreach { case (x, i) =>
        val rows = c.specials ++ samples(c.gen, 8, 100 + i)
        val kept = filtered(c, rows, x).collect().map(_.getInt(0)).toSet
        assert(kept === rows.indices.filter(k => c.cmp(rows(k), x) > 0).toSet, s"${c.name} v > $x")
        projected(c, rows, x).collect().foreach { r =>
          val ord = c.cmp(rows(r.getInt(0)), x)
          assert(r.getBoolean(1) === (ord == 0), s"${c.name} ${rows(r.getInt(0))} = $x")
          assert(r.getBoolean(2) === (ord < 0), s"${c.name} ${rows(r.getInt(0))} < $x")
          assert(c.same(r.get(3).asInstanceOf[t], x), s"${c.name} literal $x came back as ${r.get(3)}")
        }
      }
    }
  }

  /** A session over `base`'s extensions with the probe table as a view.
    * Scan text is left untruncated: truncation at a fixed length would cut
    * the two sessions' renderings at different places once expression ids
    * of different widths are masked. */
  private def withView(base: SparkSession): SparkSession = {
    val s = base.newSession()
    s.conf.set("spark.sql.maxMetadataStringLength", "10000")
    s.read.parquet(partitioned).createOrReplaceTempView("hoist_t")
    s
  }

  private lazy val graftSession = withView(spark)

  // a session over the same SparkContext built without GraftExtensions:
  // the unhoisted plans to compare against
  private lazy val plain: SparkSession = {
    val s = SparkSession.builder().create() // joins the running SparkContext
    SparkSession.setActiveSession(spark)
    SparkSession.setDefaultSession(spark)
    withView(s)
  }

  private lazy val partitioned: String = {
    val dir = Files.createTempDirectory("graft-hoist").toString + "/t"
    spark.range(400).select(col("id"), (col("id") % 8).cast("int").as("part"),
      (col("id") * 1.5).as("price"), date_from_unix_date((col("id") % 40).cast("int")).as("d"),
      timestamp_seconds(col("id") - 200).as("ts"))
      .write.partitionBy("part").parquet(dir)
    dir
  }

  private val probe =
    "SELECT id, price, d, ts, id * 3 AS id3 FROM hoist_t " +
      "WHERE part IN (2, 5) AND price > 120.5 AND id < 390 " +
      "AND d >= DATE'1970-01-10' AND ts < TIMESTAMP'1970-01-01 00:02:30'"

  private val mapper = new ObjectMapper()
  private val client = HttpClient.newHttpClient()

  private def withBroker[A](s: SparkSession)(f: (String => JsonNode) => A): A = {
    val server = graft.server.HttpSqlEndpoint.start(s, port = 0)
    try f { sql =>
      val body = mapper.createObjectNode().put("sql", sql)
      val req = HttpRequest.newBuilder(URI.create(s"http://localhost:${server.getAddress.getPort}/query/sql"))
        .POST(HttpRequest.BodyPublishers.ofString(mapper.writeValueAsString(body), StandardCharsets.UTF_8))
        .build()
      mapper.readTree(client.send(req, HttpResponse.BodyHandlers.ofString()).body())
    } finally server.stop(0)
  }

  private def scanOf(s: SparkSession): FileSourceScanExec = {
    val df = s.sql(probe)
    df.collect()
    nodes(df.queryExecution.executedPlan).collectFirst { case f: FileSourceScanExec => f }.get
  }

  private def withoutExprIds(s: String): String = s.replaceAll("#\\d+", "#")

  test("(c) scans keep their pushed literals and broker counters match the unhoisted session") {
    assert(GraftExtensions.injected(graftSession) && !GraftExtensions.injected(plain))
    val (mine, theirs) = (withBroker(graftSession)(_(probe)), withBroker(plain)(_(probe)))
    assert(mine.get("exceptions").size() === 0, mine.toString)
    def rows(r: JsonNode): Seq[String] = {
      val rs = r.get("resultTable").get("rows")
      (0 until rs.size()).map(i => rs.get(i).toString).sorted
    }
    assert(mine.get("resultTable").get("dataSchema") === theirs.get("resultTable").get("dataSchema"))
    assert(rows(mine).nonEmpty && rows(mine) === rows(theirs))
    Seq("numSegmentsQueried", "numDocsScanned").foreach(k => assert(mine.get(k) === theirs.get(k), k))
    val segments = mine.get("numSegmentsQueried").asLong()
    val files = { val w = Files.walk(java.nio.file.Paths.get(partitioned))
      try w.filter(_.toString.endsWith(".parquet")).count() finally w.close() }
    assert(segments > 0 && segments < files, s"partitions pruned: $segments of $files files")

    val (scan, plainScan) = (scanOf(graftSession), scanOf(plain))
    val pushed = scan.metadata("PushedFilters")
    assert(pushed === plainScan.metadata("PushedFilters"))
    Seq("120.5", "390", "1970-01-10", "1970-01-01 00:02:30").foreach(v => assert(pushed.contains(v), pushed))
    assert(withoutExprIds(scan.metadata("PartitionFilters")) ===
      withoutExprIds(plainScan.metadata("PartitionFilters")))
    assert(scan.metrics("numFiles").value === segments)
  }

  test("(d) EXPLAIN PLAN FOR renders hoisted plans byte-identically to unhoisted ones") {
    val plan = graftSession.sql(probe).queryExecution.executedPlan
    val literals = hoisted(plan)
    assert(literals.map(_.literal.value.toString).toSet.contains("3"), plan.treeString)
    val unhoisted = plan.transformAllExpressions { case h: HoistedLiteral => h.literal }
    assert(hoisted(unhoisted).isEmpty)
    assert(plan.treeString === unhoisted.treeString)

    def explain(ask: String => JsonNode): Seq[String] = {
      val rows = ask(s"EXPLAIN PLAN FOR $probe").get("resultTable").get("rows")
      (0 until rows.size()).map(i => rows.get(i).get(0).asText())
    }
    val (mine, theirs) = (withBroker(graftSession)(explain), withBroker(plain)(explain))
    assert(mine.nonEmpty)
    assert(mine.map(withoutExprIds) === theirs.map(withoutExprIds))
  }
}
