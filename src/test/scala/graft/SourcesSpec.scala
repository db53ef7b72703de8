package graft

import java.net.InetSocketAddress
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources._

/** Ingest-layer specs against a real in-JVM HTTP server — exercises the
  * reference semantics end-to-end: Bearer auth, CSV pinned schemas,
  * empty-relation fallback, pagination termination, retry-same-page,
  * no retry of a malformed request, and arrival_idx assignment.
  */
class SourcesSpec extends SparkSpec {

  private def withServer(routes: Map[String, HttpExchange => (Int, String)])(
      body: String => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    routes.foreach { case (path, handler) =>
      server.createContext(path, (ex: HttpExchange) => {
        val (code, resp) = handler(ex)
        val bytes = resp.getBytes("UTF-8")
        ex.sendResponseHeaders(code, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      })
    }
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}")
    finally server.stop(0)
  }

  private def pageJson(page: Int, limit: Int, total: Int): String = {
    val start = page * limit
    val n = math.max(0, math.min(limit, total - start))
    val rows = (0 until n).map(i =>
      s"""{"transaction_id": ${start + i}, "amount": "${start + i}.50"}""")
    s"""{"results": [${rows.mkString(",")}]}"""
  }

  test("CSV source: Bearer header sent, pinned schema applied") {
    val seenAuth = new java.util.concurrent.atomic.AtomicReference[String]("")
    withServer(Map("/download/accounts.csv" -> { ex =>
      seenAuth.set(ex.getRequestHeaders.getFirst("Authorization"))
      (200, "account_id,client_id\n1,c1\n2,c2\n")
    })) { base =>
      val df = CsvHttpSource.read(spark, s"$base/download/accounts.csv",
        RefSchemas.accounts, new HttpFetch(bearerToken = Some("tok123")))
      assert(seenAuth.get() === "Bearer tok123")
      assert(df.schema === RefSchemas.accounts)
      assert(df.orderBy("account_id").collect().map(_.getLong(0)).toSeq === Seq(1L, 2L))
    }
  }

  test("CSV source: quoted embedded newlines stay inside their record") {
    // pandas.read_csv parses this as TWO records, the first with a
    // multi-line address — the rebuild must agree (VERDICT round-2 §gap 1)
    val csv = "client_id,address\n" +
      "c1,\"12 Main St\nApt 4\"\n" +
      "c2,\"plain\"\n"
    withServer(Map("/clients.csv" -> { _ => (200, csv) })) { base =>
      val schema = StructType(Seq(
        StructField("client_id", StringType), StructField("address", StringType)))
      val df = CsvHttpSource.read(spark, s"$base/clients.csv",
        schema, new HttpFetch())
      val rows = df.orderBy("client_id").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      assert(rows === Seq(("c1", "12 Main St\nApt 4"), ("c2", "plain")))
    }
  }

  test("CSV source: doubled-quote escape unescapes end-to-end (ADVICE r4)") {
    // pandas parses "y ""q""" as the VALUE y "q" — the reader must set
    // escape=quote or the doubled quotes survive into the parsed field
    val csv = "client_id,desc\n" +
      "c1,\"y \"\"q\"\"\"\n" +
      "c2,\"a\nb \"\"x\"\" c\"\n"
    withServer(Map("/q.csv" -> { _ => (200, csv) })) { base =>
      val schema = StructType(Seq(
        StructField("client_id", StringType), StructField("desc", StringType)))
      val df = CsvHttpSource.read(spark, s"$base/q.csv", schema, new HttpFetch())
      val rows = df.orderBy("client_id").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      assert(rows === Seq(("c1", "y \"q\""), ("c2", "a\nb \"x\" c")))
    }
  }

  test("splitRecords: RFC 4180 quote/newline/CRLF handling") {
    val got = CsvHttpSource.splitRecords(
      "a,b\r\n1,\"x\r\ny \"\"q\"\"\"\r\n2,z\n")
    assert(got === IndexedSeq("a,b", "1,\"x\r\ny \"\"q\"\"\"", "2,z"))
  }

  test("splitRecords: stray quote in an unquoted field stays literal") {
    // pandas parses desc='5\" nail' as plain data — a mid-field quote
    // must not open quoting and swallow the following newline
    val got = CsvHttpSource.splitRecords("id,desc\nc1,5\" nail\nc2,x\n")
    assert(got === IndexedSeq("id,desc", "c1,5\" nail", "c2,x"))
  }

  test("CSV source: failure degrades to empty relation with schema (S4)") {
    withServer(Map("/bad.csv" -> { _ => (500, "boom") })) { base =>
      val df = CsvHttpSource.readOrEmpty(spark, s"$base/bad.csv",
        RefSchemas.clients, new HttpFetch())
      assert(df.schema === RefSchemas.clients)
      assert(df.count() === 0)
    }
  }

  test("paginated source: short page terminates, arrival_idx is dense page order") {
    withServer(Map("/tx" -> { ex =>
      val q = ex.getRequestURI.getQuery // page=N&limit=M
      val page = q.split("&").find(_.startsWith("page=")).get.drop(5).toInt
      (200, pageJson(page, 10, total = 25))
    })) { base =>
      val df = PaginatedJsonSource.read(spark, s"$base/tx", new HttpFetch(),
        limit = 10, maxPages = 300)
      assert(df.count() === 25)
      val idx = df.orderBy("arrival_idx").select("arrival_idx", "transaction_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(idx === (0 until 25).map(i => (i.toLong, i.toLong)))
    }
  }

  test("readRaw: raw rows in page order across defaultParallelism partitions; no element is None") {
    withServer(Map(
      "/tx" -> { ex =>
        val page = ex.getRequestURI.getQuery.split("&")
          .find(_.startsWith("page=")).get.drop(5).toInt
        (200, pageJson(page, 10, total = 25))
      },
      "/none" -> { _ => (200, """{"results": []}""") })) { base =>
      val raw = PaginatedJsonSource.readRaw(spark, s"$base/tx", new HttpFetch(), limit = 10).get
      val parallelism = spark.sparkContext.defaultParallelism
      assert(raw.rdd.getNumPartitions === parallelism)
      assert(raw.rdd.mapPartitions(it => Iterator(it.size)).collect().count(_ > 0) === parallelism)
      val rows = raw.orderBy("arrival_idx").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(rows.map(_._1) === (0L until 25L)) // dense: page * limit + position
      rows.foreach { case (i, json) =>
        assert(json.startsWith(s"""{"transaction_id": $i,"""), s"row $i holds $json") }
      // sized like a LocalRelation of the same rows, so joins still broadcast it
      val s = spark; import s.implicits._
      assert(raw.queryExecution.optimizedPlan.stats.sizeInBytes ===
        rows.toDF("arrival_idx", "raw").queryExecution.optimizedPlan.stats.sizeInBytes)

      assert(PaginatedJsonSource.readRaw(spark, s"$base/none", new HttpFetch(), limit = 10).isEmpty)
      assert(PaginatedJsonSource.read(spark, s"$base/none", new HttpFetch(), limit = 10)
        .schema.isEmpty)
    }
  }

  test("paginated source: 301-page/1000-row cap at reference cardinality") {
    // The reference's envelope (main.py:96-101): limit=1000, pages
    // 0..300 inclusive, terminate on short page OR page-count cap. This
    // server NEVER serves a short page — an unbounded feed — so the cap
    // alone must stop ingestion at exactly 301 requests / 301,000 rows,
    // the boundary the reference's loop actually runs at.
    val requests = new AtomicInteger(0)
    withServer(Map("/cap" -> { ex =>
      requests.incrementAndGet()
      val page = ex.getRequestURI.getQuery.split("&")
        .find(_.startsWith("page=")).get.drop(5).toInt
      (200, pageJson(page, 1000, total = Int.MaxValue))
    })) { base =>
      val df = PaginatedJsonSource.read(spark, s"$base/cap", new HttpFetch(),
        limit = 1000, maxPages = 300)
      assert(requests.get() === 301, "cap must stop fetching after page 300")
      assert(df.count() === 301000L)
      val bounds = df.agg(min("arrival_idx"), max("arrival_idx"),
        countDistinct("arrival_idx")).collect()(0)
      assert((bounds.getLong(0), bounds.getLong(1), bounds.getLong(2)) ===
        ((0L, 300999L, 301000L))) // dense arrival order across the whole envelope
    }
  }

  test("paginated source: fetch error retries the SAME page, bounded") {
    val calls = new AtomicInteger(0)
    withServer(Map("/flaky" -> { ex =>
      val page = ex.getRequestURI.getQuery.split("&")
        .find(_.startsWith("page=")).get.drop(5).toInt
      if (page == 1 && calls.incrementAndGet() == 1) (500, "transient")
      else (200, pageJson(page, 5, total = 8))
    })) { base =>
      val df = PaginatedJsonSource.read(spark, s"$base/flaky", new HttpFetch(),
        limit = 5, maxPages = 300, retrySleepMillis = 10)
      assert(df.count() === 8) // page 1 succeeded on retry, no rows lost
    }
  }

  test("paginated source: unbounded failure raises after maxRetries") {
    withServer(Map("/dead" -> { _ => (500, "nope") })) { base =>
      val e = intercept[RuntimeException] {
        PaginatedJsonSource.read(spark, s"$base/dead", new HttpFetch(),
          limit = 5, maxRetriesPerPage = 2, retrySleepMillis = 1)
      }
      assert(e.getMessage.contains("after 2 retries"))
    }
  }

  test("paginated source: a malformed request is tried once, not retried") {
    // no API_BASE_URL leaves a scheme-less URL; HttpRequest rejects it with
    // IllegalArgumentException, which no retry can cure
    val calls = new AtomicInteger(0)
    val fetch = new HttpFetch() {
      override def getString(url: String): String = {
        calls.incrementAndGet()
        super.getString(url)
      }
    }
    intercept[IllegalArgumentException] {
      PaginatedJsonSource.readRaw(spark, "/transactions", fetch, retrySleepMillis = 1)
    }
    assert(calls.get() === 1)
  }

  test("pageElements handles nesting, escapes, bare arrays, and scalars") {
    assert(PaginatedJsonSource.pageElements("""{"results": []}""") === Seq.empty)
    assert(PaginatedJsonSource.pageElements(
      """{"results": [{"a": "x,]}\" y", "b": {"c": [1,2]}}, {"d": 2}]}""")
      === Seq("""{"a": "x,]}\" y", "b": {"c": [1,2]}}""", """{"d": 2}"""))
    assert(PaginatedJsonSource.pageElements("""[{"a": 1}]""") === Seq("""{"a": 1}"""))
    // scalar elements must not be dropped (pd.DataFrame accepts them)
    assert(PaginatedJsonSource.pageElements("""{"results": [1, 2, 3]}""")
      === Seq("1", "2", "3"))
    assert(PaginatedJsonSource.pageElements("""{"results": ["a,b", true, null]}""")
      === Seq("\"a,b\"", "true", "null"))
  }
}
