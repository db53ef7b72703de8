package graft

import java.net.InetSocketAddress

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Window}
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.{HttpFetch, PaginatedJsonSource, RefSchemas}

/** End-to-end pipeline spec: a stub challenge API (two CSVs + paginated
  * transactions with planted duplicates and dirty amounts) → Pipeline.run
  * → assert the completion line, dedup/coercion semantics, and all three
  * views through spark.sql.
  */
class PipelineSpec extends SparkSpec {

  // 5 rows page 0, 2 rows page 1 (short → stop). Duplicate key
  // (timestamp, account_id) across rows 1/2 — first (arrival) wins.
  // Row 4 has a dirty amount → coerced to 0.
  private val txRows = Seq(
    """{"transaction_id": 1, "timestamp": "2024-01-01 10:00:00", "account_id": 10, "amount": "5.00", "type": "buy", "medium": "card"}""",
    """{"transaction_id": 2, "timestamp": "2024-01-01 10:00:00", "account_id": 10, "amount": "9.99", "type": "buy", "medium": "card"}""",
    """{"transaction_id": 3, "timestamp": "2024-01-02 11:00:00", "account_id": 11, "amount": "7.25", "type": "sell", "medium": "app"}""",
    """{"transaction_id": 4, "timestamp": "2024-01-03 12:00:00", "account_id": 12, "amount": "garbage", "type": "buy", "medium": "card"}""",
    """{"transaction_id": 5, "timestamp": "2024-02-05 09:00:00", "account_id": 10, "amount": "1.10", "type": "buy", "medium": "app"}""",
    """{"transaction_id": 6, "timestamp": "2024-02-06 09:00:00", "account_id": 10, "amount": "2.20", "type": "buy", "medium": "app"}""",
    """{"transaction_id": 7, "timestamp": "2024-02-07 09:00:00", "account_id": 10, "amount": "3.30", "type": "buy", "medium": "app"}""")

  private val views = Seq("client_transaction_counts", "monthly_transaction_summary",
    "high_transaction_accounts")

  private def serve(body: String => Unit): Unit = serveTx(txRows)(body)

  /** The stub API with `rows` as the transactions feed. */
  private def serveTx(rows: Seq[String])(body: String => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    def reply(ex: HttpExchange, code: Int, resp: String): Unit = {
      val b = resp.getBytes("UTF-8")
      ex.sendResponseHeaders(code, b.length)
      ex.getResponseBody.write(b); ex.close()
    }
    server.createContext("/download/accounts.csv", (ex: HttpExchange) =>
      reply(ex, 200, "account_id,client_id\n10,c1\n11,c1\n12,c2\n13,c3\n"))
    server.createContext("/download/clients.csv", (ex: HttpExchange) =>
      reply(ex, 200,
        "client_id,client_name,client_email,client_birth_date\n" +
          "c1,Ann,ann@x.io,1990-01-01\nc2,Bob,bob@x.io,1985-05-05\nc3,Cyd,cyd@x.io,2000-12-31\n"))
    server.createContext("/transactions", (ex: HttpExchange) => {
      val qp = ex.getRequestURI.getQuery.split("&")
      val page = qp.find(_.startsWith("page=")).get.drop(5).toInt
      // honor the requested page size like a real API: limit=5 callers
      // exercise the multi-page path (5 + 2 rows), default-limit
      // callers (graft.Main) get everything in one short page
      val lim = qp.find(_.startsWith("limit=")).map(_.drop(6).toInt).getOrElse(5)
      val pageRows = rows.slice(page * lim, page * lim + lim)
      reply(ex, 200, s"""{"results": [${pageRows.mkString(",")}]}""")
    })
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}")
    finally server.stop(0)
  }

  test("full pipeline: ingest, clean, views, completion line") {
    serve { base =>
      val r = Pipeline.run(spark, base, Some("tok"), limit = 5, retrySleepMillis = 1)
      // tx 2 dropped as duplicate of (ts, account) key; 7 raw → 6 clean
      assert(r === Pipeline.Result(clients = 3, accounts = 4, transactions = 6))
      assert(r.completionLine === "ZYLYTY Data Import Completed [3, 4, 6]")

      // dedup kept the FIRST arrival (amount 5.00, not 9.99)
      val kept = spark.sql(
        "SELECT amount FROM transactions WHERE transaction_id = 1").collect()
      assert(kept.map(_.getDecimal(0).toString).toSeq === Seq("5.00"))
      assert(spark.sql("SELECT * FROM transactions WHERE transaction_id = 2").count() === 0)
      // dirty amount coerced to zero, row kept
      assert(spark.sql("SELECT amount FROM transactions WHERE transaction_id = 4")
        .head().getDecimal(0).toString === "0.00")

      // view 1: per-client counts over the inner-join chain
      val v1 = spark.sql("SELECT * FROM client_transaction_counts").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(v1 === Seq(("c1", 5L), ("c2", 1L))) // c3 has no transactions → excluded
      // view 2: month rendered yyyy-MM-01
      val v2 = spark.sql("SELECT month, client_email, total_amount FROM monthly_transaction_summary").collect()
      assert(v2.forall(_.getString(0).endsWith("-01")))
      // view 3: HAVING > 2 — account 10 has 3 tx in 2024-02? no: 3 in Feb
      val v3 = spark.sql("SELECT * FROM high_transaction_accounts").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      assert(v3 === Seq(("2024-02-01", 10L, 3L)))
    }
  }

  test("empty first transactions page: run completes with three empty views") {
    serveTx(Seq.empty) { base =>
      val r = Pipeline.run(spark, base, Some("tok"), limit = 5, retrySleepMillis = 1)
      assert(r.completionLine === "ZYLYTY Data Import Completed [3, 4, 0]")
      assert(spark.table("transactions").columns.toSeq ===
        RefSchemas.transactions.fieldNames.toSeq)
      views.foreach(v => assert(spark.table(v).count() === 0, s"$v must be empty"))
    }
  }

  test("the three tables are landed once: counts, views and sink read landed rows") {
    serve { base =>
      Pipeline.run(spark, base, Some("tok"), limit = 5, retrySleepMillis = 1)
      Seq("accounts", "clients", "transactions").foreach { t =>
        val plan = spark.table(t).queryExecution.optimizedPlan
        assert(plan.collectFirst { case l: LocalRelation => l }.isEmpty,
          s"$t still re-plans the driver-built ingest relation:\n$plan")
        assert(plan.collectFirst { case w: Window => w }.isEmpty,
          s"$t still re-runs the dedup window:\n$plan")
        plan.collectLeaves() match {
          case Seq(leaf: LogicalRDD) =>
            assert(leaf.rdd.isCheckpointed, s"$t's leaf RDD is not the landed one:\n$plan")
          case leaves => fail(s"$t must read one landed RDD, got leaves $leaves:\n$plan")
        }
      }
    }
  }

  test("the landed CSV tables estimate their size from their rows, below the broadcast threshold") {
    serve { base =>
      Pipeline.run(spark, base, Some("tok"), limit = 5, retrySleepMillis = 1)
      val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
      Seq("accounts", "clients").foreach { t =>
        val size = spark.table(t).queryExecution.optimizedPlan.stats.sizeInBytes
        assert(size > 0 && size < threshold,
          s"$t estimates $size bytes; broadcast threshold $threshold")
      }
    }
  }

  test("every job run submits belongs to an SQL execution; transactions land off a parse, " +
      "not a LocalRelation") {
    serve { base =>
      // the optimized plan of each table run lands (localCheckpoint)
      val landed = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
      val onLanding = new QueryExecutionListener {
        def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
          if (funcName == "localCheckpoint") landed.add(qe.optimizedPlan)
        def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
      }
      spark.listenerManager.register(onLanding)
      val ids = try sqlExecutionIdsDuring(
        Pipeline.run(spark, base, Some("tok"), limit = 5, retrySleepMillis = 1))
      finally spark.listenerManager.unregister(onLanding)
      assert(ids.nonEmpty && ids.forall(_.isDefined),
        s"${ids.count(_.isEmpty)} of ${ids.size} jobs ran outside an SQL execution")
      val tx = landed.toArray(Array.empty[LogicalPlan]).toSeq
        .filter(_.output.map(_.name).contains("transaction_id"))
      assert(tx.size === 1, s"expected one transactions landing, got ${tx.size}")
      assert(tx.head.collectFirst { case l: LocalRelation => l }.isEmpty,
        s"the transactions landing parses a driver-built LocalRelation:\n${tx.head}")
    }
  }

  test("the pinned-schema parse of run equals cleanTransactions over the inferred parse") {
    // a JSON-number amount, an unknown extra field, an element without
    // `medium`, a dirty amount and a duplicate (timestamp, account_id) key
    val feed = Seq(
      """{"transaction_id": 1, "timestamp": "2024-01-01 10:00:00", "account_id": 10, "amount": 12.5, "type": "buy", "medium": "card", "note": "x"}""",
      """{"transaction_id": 2, "timestamp": "2024-01-01 10:00:00", "account_id": 10, "amount": "9.99", "type": "buy", "medium": "card"}""",
      """{"transaction_id": 3, "timestamp": "2024-01-02 11:00:00", "account_id": 11, "amount": "7.25", "type": "sell"}""",
      """{"transaction_id": 4, "timestamp": "2024-01-03 12:00:00", "account_id": 12, "amount": "garbage", "type": "buy", "medium": "app"}""")
    serveTx(feed) { base =>
      val inferred = Pipeline.cleanTransactions(spark, PaginatedJsonSource.read(
        spark, s"$base/transactions", new HttpFetch(), limit = 5, retrySleepMillis = 1))
        .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
      Pipeline.run(spark, base, Some("tok"), limit = 5, retrySleepMillis = 1)
      val pinned = spark.table("transactions")
        .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
      assert(pinned === inferred)
      assert(pinned.map(r => (r.head, r(3).toString, r(5))) ===
        Seq((1L, "12.50", "card"), (3L, "7.25", null), (4L, "0.00", "app")))
    }
  }

  test("the three counts come from one aggregate of at most two jobs") {
    serve { base =>
      val r = Pipeline.run(spark, base, Some("tok"), limit = 5, retrySleepMillis = 1)
      val Seq(clients, accounts, transactions) =
        Seq("clients", "accounts", "transactions").map(spark.table)
      var again: Pipeline.Result = null
      val jobs = jobsDuring { again = Pipeline.counts(clients, accounts, transactions) }
      assert(again === r)
      assert(again === Pipeline.Result(clients.count(), accounts.count(), transactions.count()))
      assert(jobs <= 2, s"the three counts took $jobs jobs")
    }
  }

  test("live JDBC round-trip (embedded Derby): append x3, read-back, re-append, overwrite") {
    serve { base =>
      Pipeline.run(spark, base, Some("tok"), limit = 5, retrySleepMillis = 1)
      // embedded in-JVM database — the same .jdbc() writer path the
      // reference drives at Postgres, executed for real
      System.setProperty("derby.stream.error.file",
        new java.io.File(System.getProperty("java.io.tmpdir"), "derby.log").getPath)
      val url = "jdbc:derby:memory:graft_pipeline_spec;create=true"
      val props = new java.util.Properties()
      props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      try {
        val expect = Seq("accounts", "clients", "transactions")
          .map(t => t -> spark.table(t)).toMap

        // K1: typed append ×3 (reference main.py:129-172)
        Pipeline.saveTablesJdbc(spark, url, props, numPartitions = 2)
        expect.foreach { case (t, src) =>
          val back = spark.read.jdbc(url, t, props)
          // the pinned column-type DDL round-trips: same field names and
          // Spark types (BIGINT→long, VARCHAR→string, DECIMAL(10,2),
          // TIMESTAMP, DATE), case-insensitively on names
          assert(back.schema.fields.map(f => (f.name.toLowerCase, f.dataType)).toSeq ===
            src.schema.fields.map(f => (f.name.toLowerCase, f.dataType)).toSeq,
            s"$t schema must survive the JDBC round-trip")
          // and so do the values
          assert(back.collect().map(_.toSeq).toSet === src.collect().map(_.toSeq).toSet,
            s"$t rows must survive the JDBC round-trip")
        }

        // append into EXISTING tables (the reference's daily rerun): rows add up
        Pipeline.saveTablesJdbc(spark, url, props, numPartitions = 2)
        expect.foreach { case (t, src) =>
          assert(spark.read.jdbc(url, t, props).count() === 2 * src.count())
        }

        // K2: overwrite resets to one copy
        Pipeline.saveTablesJdbc(spark, url, props, overwrite = true, numPartitions = 2)
        expect.foreach { case (t, src) =>
          val back = spark.read.jdbc(url, t, props)
          assert(back.count() === src.count())
          assert(back.collect().map(_.toSeq).toSet === src.collect().map(_.toSeq).toSet)
        }
      } finally {
        // drop the in-memory database so reruns in one JVM start clean
        try java.sql.DriverManager.getConnection(
          "jdbc:derby:memory:graft_pipeline_spec;drop=true")
        catch { case _: java.sql.SQLException => () } // 08006 = dropped OK
      }
    }
  }

  test("pipeline survives a dead transactions endpoint (S4 empty fallback)") {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: HttpExchange) => {
      ex.sendResponseHeaders(500, -1); ex.close()
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      // the transactions failure is logged like the CSV failures
      val err = new java.io.ByteArrayOutputStream()
      val stderr = System.err
      System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
      val r = try Pipeline.run(spark, base, None, limit = 5,
        maxPages = 1, retrySleepMillis = 1) finally System.setErr(stderr)
      assert(r === Pipeline.Result(0, 0, 0))
      assert(r.completionLine === "ZYLYTY Data Import Completed [0, 0, 0]")
      val logged = err.toString("UTF-8")
      assert(logged.contains(s"[graft] csv ingest failed for $base/download/accounts.csv: "))
      assert(logged.contains(s"[graft] transactions ingest failed for $base/transactions: "),
        s"stderr was:\n$logged")
    } finally server.stop(0)
  }

  test("graft.Main entrypoint: env config, config echo, ETL, completion " +
      "line on stdout — the runnable program end to end") {
    serve { base =>
      val lines = scala.collection.mutable.ArrayBuffer[String]()
      val env = Map("API_BASE_URL" -> base, "ADMIN_API_KEY" -> "tok")
      val r = Main.run(spark, env.get, lines += _)
      assert(r === Pipeline.Result(clients = 3, accounts = 4, transactions = 6))
      // config echo parity (main.py:32-38): every line present, unset →
      // null — but secrets are MASKED (SURVEY.md §5 forbids replicating
      // the reference's verbatim key/password echo): the set key prints
      // ****, the unset password prints null, and the raw token value
      // never reaches stdout on any line.
      assert(lines.contains("Admin API Key: ****"))
      assert(lines.contains("Database Password: null"))
      assert(!lines.exists(l => l.contains("tok") && l.startsWith("Admin")))
      assert(lines.contains("Database Host: null"))
      assert(lines.contains(s"API Base URL: $base"))
      // the completion line is the LAST thing printed (main.py:58)
      assert(lines.last === "ZYLYTY Data Import Completed [3, 4, 6]")
    }
  }

  test("graft.Main entrypoint: no API_BASE_URL degrades every ingest to the " +
      "S4 fallback and still completes") {
    val lines = scala.collection.mutable.ArrayBuffer[String]()
    val r = Main.run(spark, Map.empty[String, String].get, lines += _)
    assert(r === Pipeline.Result(0, 0, 0))
    assert(lines.contains("API Base URL: null"))
    assert(lines.last === "ZYLYTY Data Import Completed [0, 0, 0]")
  }

  test("graft.Main entrypoint: DB_* env routes the load through the live " +
      "JDBC sink (GRAFT_JDBC_URL override, embedded Derby)") {
    serve { base =>
      System.setProperty("derby.stream.error.file",
        new java.io.File(System.getProperty("java.io.tmpdir"), "derby.log").getPath)
      val url = "jdbc:derby:memory:graft_main_spec;create=true"
      val env = Map(
        "API_BASE_URL" -> base, "ADMIN_API_KEY" -> "tok",
        "DB_HOST" -> "h", "DB_PORT" -> "5432", "DB_USERNAME" -> "u",
        "DB_PASSWORD" -> "p", "DB_NAME" -> "d",
        "GRAFT_JDBC_URL" -> url,
        "GRAFT_JDBC_DRIVER" -> "org.apache.derby.jdbc.EmbeddedDriver")
      try {
        // Derby ignores the password but scopes tables to the USER's
        // schema — read back as the same user Main wrote as
        val props = new java.util.Properties()
        props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
        props.setProperty("user", "u")
        props.setProperty("password", "p")
        val r = Main.run(spark, env.get, _ => ())
        assert(spark.read.jdbc(url, "transactions", props).count() === r.transactions)
        assert(spark.read.jdbc(url, "clients", props).count() === r.clients)
        assert(spark.read.jdbc(url, "accounts", props).count() === r.accounts)
      } finally {
        try java.sql.DriverManager.getConnection(
          "jdbc:derby:memory:graft_main_spec;drop=true")
        catch { case _: java.sql.SQLException => () }
      }
    }
  }

  test("packaging parity: the app jar runs through spark-submit — masked " +
      "config echo, ETL against the stub API, completion line (the " +
      "reference's `docker run` contract, Dockerfile:13)") {
    val sparkHome = new java.io.File("/opt/spark")
    assume(sparkHome.isDirectory && new java.io.File(sparkHome, "bin/spark-submit").canExecute,
      "no Spark distribution on this host")
    serve { base =>
      // jar the compiled classes — byte-identical content to the `sbt
      // package` artifact a user ships (graft has no non-Spark deps, so
      // the THIN jar is the complete spark-submit deployable; a fat
      // assembly would only re-bundle jars the cluster already provides)
      val classesDir = new java.io.File(
        Main.getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
      assume(classesDir.isDirectory, s"classes not exploded: $classesDir")
      val jar = java.io.File.createTempFile("graft-app", ".jar")
      val jos = new java.util.jar.JarOutputStream(
        new java.io.FileOutputStream(jar))
      def add(f: java.io.File, prefix: String): Unit =
        if (f.isDirectory) f.listFiles.foreach(c => add(c, prefix + f.getName + "/"))
        else {
          jos.putNextEntry(new java.util.jar.JarEntry(prefix + f.getName))
          java.nio.file.Files.copy(f.toPath, jos)
          jos.closeEntry()
        }
      classesDir.listFiles.foreach(c => add(c, ""))
      jos.close()
      try {
        val pb = new ProcessBuilder(
          new java.io.File(sparkHome, "bin/spark-submit").getPath,
          "--class", "graft.Main", "--master", "local[2]",
          "--conf", "spark.ui.enabled=false",
          "--conf", "spark.sql.shuffle.partitions=4",
          jar.getPath)
        pb.environment().put("SPARK_HOME", sparkHome.getPath)
        pb.environment().put("SPARK_SCALA_VERSION", "2.13")
        pb.environment().put("API_BASE_URL", base)
        pb.environment().put("ADMIN_API_KEY", "tok")
        pb.redirectErrorStream(true)
        val p = pb.start()
        // drain concurrently: spark-submit's log volume would fill the
        // pipe buffer and deadlock a plain waitFor
        val buf = new java.io.ByteArrayOutputStream()
        val drainer = new Thread(() => p.getInputStream.transferTo(buf))
        drainer.setDaemon(true); drainer.start()
        val done = p.waitFor(240, java.util.concurrent.TimeUnit.SECONDS)
        if (!done) p.destroyForcibly()
        drainer.join(5000)
        val out = new String(buf.toByteArray, "UTF-8")
        assert(done, s"spark-submit timed out:\n${out.takeRight(4000)}")
        assert(p.exitValue === 0, s"spark-submit failed:\n${out.takeRight(4000)}")
        // the container contract end to end: masked echo, no secret
        // leak, ETL counts in the completion line
        assert(out.contains("=== Hello ZYLYTY! ==="))
        assert(out.contains("Admin API Key: ****"))
        assert(!out.contains("Admin API Key: tok"))
        assert(out.contains(s"API Base URL: $base"))
        assert(out.contains("ZYLYTY Data Import Completed [3, 4, 6]"))
      } finally jar.delete()
    }
  }
}
