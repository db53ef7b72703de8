package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.SparkSession

import graft.{Pipeline, SparkEntry}
import graft.sources.{CsvHttpSource, HttpFetch, PaginatedJsonSource, RefSchemas}

/** One timed call. `run(pass, probe)` returns whether the output was correct;
  * with a probe it records its calls as spans. */
final case class Op(name: String, run: (Int, Option[Probe]) => Boolean)

trait Workload extends AutoCloseable {
  /** The ops of pass `pass`, in the order they run. */
  def ops(pass: Int): Seq[Op]
  /** Per-layer metrics of the stub API and the source calls (zero unless `etl_ingest`). */
  def layerMetrics(probe: Probe, passes: Int): Seq[(String, Double, String)] =
    Seq(("sources.requests", 0.0, "count"), ("sources.fetch_mb", 0.0, "MB"),
      ("sources.server_busy_s", 0.0, "s"), ("sources.pages_s", 0.0, "s"), ("sources.csv_s", 0.0, "s"))
  def close(): Unit = ()
}

/** Ops attempted and failed (raised, or returned a wrong answer). */
final class Tally {
  var attempted = 0
  var failed = 0
  def apply(ok: Boolean): Unit = { attempted += 1; if (!ok) failed += 1 }
}

final case class PassRec(pass: Int, traced: Boolean, wall: Double, cpu: Double,
                         opSeconds: Seq[(String, Double)])

/** Entry point; `run.py` builds the classpath and passes the arguments. */
object Bench {
  /** The fewest timed passes an untraced run makes. A pass takes 7-17 s on
    * a 4-core host after 20-50 s of set-up; run-to-run drift of the host
    * dominates the spread, so a second pass would lengthen every run
    * without making the figures steadier. */
  val MinPasses = 1
  /** A traced run makes at least this many untraced and as many traced
    * passes, so a linear drift cancels in the overhead estimate. */
  val MinTracedPasses = 2
  /** Key → the module that implements it (the layer its time is charged to):
    * one read key per operator module, on indexes the first pass builds, and
    * one rebuild-by-design key that writes epochs and replays a stream on
    * every call. q_curation_funnel's costly first call (it builds the shingle
    * index) falls in the untimed first pass. */
  val QueryMix: Seq[(String, String)] = Seq(
    "q_client_txn_counts" -> "RefViews", "q_dedup_first" -> "Cleaning",
    "q_cube_orders" -> "RelOps", "q_event_windows" -> "EventOps",
    "q_minhash_lsh" -> "DedupOps", "q_ivfpq_topk" -> "SimilarityOps",
    "q_keyword_search" -> "TextOps", "q_dq_checks" -> "GovernanceOps",
    "q_curation_funnel" -> "CurationPipeline", "q_mv_lifecycle" -> "plans")
  /** Keys whose answers `expected.json` pins. */
  val Pinned: Seq[String] = QueryMix.map(_._1)
  val Modules: Seq[String] = QueryMix.map(_._2).distinct

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, tables: String, traceOut: String, expected: String,
                        pinDir: Option[String], recordClasses: Boolean)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(m.getOrElse("workload", "query_mix"), m.getOrElse("seed", "1").toLong,
      m.getOrElse("seconds", "5").toDouble, m.getOrElse("trace", "0") == "1",
      need("work"), m.getOrElse("tables", ""), m.getOrElse("trace-out", ""),
      m.getOrElse("expected", ""), m.get("pin-dir"), m.getOrElse("record-classes", "0") == "1")
  }

  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
  }

  /** query_mix: keys over the sf0.01 testdata tables, each result hashed
    * and compared with its pinned answer. */
  final class KeyWorkload(spark: SparkSession, keys: Seq[(String, String)], seed: Long,
                          dataDir: String, expected: Map[String, String]) extends Workload {
    private val queries = SparkEntry.queries
    def ops(pass: Int): Seq[Op] =
      new scala.util.Random(seed * 1000003L + pass).shuffle(keys).map { case (key, module) =>
        Op(key, (p, probe) => {
          def call() = {
            val df = queries(key)(spark, dataDir)
            Canon.hashRows(df.columns.toSeq, df.collect())
          }
          val got = probe.fold(call())(_.span(p, module, key)(call()))
          val ok = expected.get(key).contains(got)
          if (!ok) System.err.println(s"[perfbench] $key: hash $got, expected ${expected.get(key)}")
          ok
        })
      }
  }

  /** etl_ingest: the reference flow against the stub API. */
  final class EtlWorkload(spark: SparkSession, seed: Long, sinkDir: String) extends Workload {
    private val data = EtlStub.generate(seed)
    private val server = new StubServer(data)
    /** Requests, bytes and busy nanoseconds the stub served during traced passes. */
    private var served = (0L, 0L, 0L)
    private def counters = (server.requests.get, server.bytes.get, server.busyNanos.get)

    /** `Pipeline.run`, composed from its public pieces so each is a span. */
    private def tracedRun(p: Probe, pass: Int): Pipeline.Result = {
      val base = server.baseUrl
      val fetch = new HttpFetch(bearerToken = Some("perfbench"))
      def csv(name: String, schema: org.apache.spark.sql.types.StructType) =
        p.span(pass, "sources", "CsvHttpSource.readOrEmpty")(
          CsvHttpSource.readOrEmpty(spark, s"$base/download/$name.csv", schema, fetch))
      val accounts = csv("accounts", RefSchemas.accounts)
      val clients = csv("clients", RefSchemas.clients)
      val rawTx = p.span(pass, "sources", "PaginatedJsonSource.read")(Try(
        PaginatedJsonSource.read(spark, s"$base/transactions", fetch)).getOrElse(
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq()))))
      val transactions = p.span(pass, "Cleaning", "cleanTransactions")(
        Pipeline.cleanTransactions(spark, rawTx))
      accounts.createOrReplaceTempView("accounts")
      clients.createOrReplaceTempView("clients")
      transactions.createOrReplaceTempView("transactions")
      p.span(pass, "views", "createViews")(Pipeline.createViews(spark))
      p.span(pass, "views", "counts")(
        Pipeline.Result(clients.count(), accounts.count(), transactions.count()))
    }

    def ops(pass: Int): Seq[Op] = Seq(Op("etl_flow", (p, probe) => {
      val before = counters
      val result = probe.fold(Pipeline.run(spark, server.baseUrl, Some("perfbench")))(
        tracedRun(_, p))
      val hashes = EtlStub.Views.map { v =>
        def collect() = {
          val df = spark.table(v)
          v -> Canon.hashRows(df.columns.toSeq, df.collect())
        }
        probe.fold(collect())(_.span(p, "views", s"collect $v")(collect()))
      }.toMap
      probe.fold(Pipeline.saveTables(spark, sinkDir))(
        _.span(p, "sink", "saveTables")(Pipeline.saveTables(spark, sinkDir)))
      if (probe.isDefined) {
        val after = counters
        served = (served._1 + after._1 - before._1, served._2 + after._2 - before._2,
          served._3 + after._3 - before._3)
      }
      val ok = result.completionLine == data.expected.completionLine &&
        hashes == data.expected.viewHashes
      if (!ok) System.err.println(s"[perfbench] etl: ${result.completionLine} $hashes, " +
        s"expected ${data.expected}")
      ok
    }))

    override def layerMetrics(probe: Probe, passes: Int): Seq[(String, Double, String)] = {
      val (r, b, busy) = served
      val src = probe.spans.filter(_.layer == "sources")
      Seq(("sources.requests", r.toDouble / passes, "count"),
        ("sources.fetch_mb", b / 1e6 / passes, "MB"),
        ("sources.server_busy_s", busy / 1e9 / passes, "s"),
        ("sources.pages_s", src.filter(_.name == "PaginatedJsonSource.read").map(_.seconds).sum / passes, "s"),
        ("sources.csv_s", src.filter(_.name == "CsvHttpSource.readOrEmpty").map(_.seconds).sum / passes, "s"))
    }
    override def close(): Unit = server.close()
  }

  /** Runs one op; an op that raises counts as a wrong answer. */
  def runOp(op: Op, pass: Int, probe: Option[Probe]): Boolean =
    try op.run(pass, probe) catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] ${op.name} failed: $e"); false
    }

  private def processCpu: Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Heap in use once three collections in a row agree within 1%. Spark
    * frees shuffle and broadcast blocks asynchronously after a collection
    * finds them unreachable, so two quick reads can agree too early. */
  def settledHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def used = { System.gc(); Thread.sleep(250); mem.getHeapMemoryUsage.getUsed / 1e6 }
    val reads = ArrayBuffer(used, used, used)
    def settled = reads.takeRight(3).max <= 1.01 * reads.takeRight(3).min
    while (reads.size < 12 && !settled) reads += used
    reads.last
  }

  def hostFacts(spark: SparkSession): Seq[(String, String)] = Seq(
    "nproc" -> Runtime.getRuntime.availableProcessors.toString,
    "cpu" -> Try(scala.io.Source.fromFile("/proc/cpuinfo").getLines()
      .find(_.startsWith("model name")).map(_.split(":", 2)(1).trim).getOrElse("?")).getOrElse("?"),
    "jdk" -> System.getProperty("java.version"),
    "spark" -> spark.version)

  def readExpected(path: String): Map[String, String] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))
    val answers = root.get("answers")
    answers.fieldNames().asScala.map(k => k -> answers.get(k).asText).toMap
  }

  def json(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val spark = session(opts.work)
    spark.sparkContext.setLogLevel("ERROR")
    try opts.pinDir match {
      case Some(dir) => pin(spark, opts.tables, dir)
      case None if opts.recordClasses => loadClasses(spark, opts)
      case None => bench(spark, opts)
    } finally spark.stop()
  }

  def workload(spark: SparkSession, o: Opts): Workload = o.workload match {
    case "query_mix" => new KeyWorkload(spark, QueryMix, o.seed, o.tables, readExpected(o.expected))
    case "etl_ingest" => new EtlWorkload(spark, o.seed, s"${o.work}/sink")
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Makes the first pass of every workload, so that the JVM recording the
    * class-data sharing archive loads the classes a run loads. */
  def loadClasses(spark: SparkSession, o: Opts): Unit =
    Seq("etl_ingest", "query_mix").foreach { w =>
      val wl = workload(spark, o.copy(workload = w))
      try wl.ops(0).foreach(runOp(_, 0, None)) finally wl.close()
    }

  /** Writes the oracle SQL and Spark's answer hashes over `tables` to
    * `dir`, for `pin.py`. */
  def pin(spark: SparkSession, tables: String, dir: String): Unit = {
    new java.io.File(dir).mkdirs()
    val hashes = Pinned.map { k =>
      val df = SparkEntry.queries(k)(spark, tables)
      k -> Canon.hashRows(df.columns.toSeq, df.collect())
    }
    def obj(kv: Seq[(String, String)]) = kv.map { case (k, v) => s"  ${json(k)}: ${json(v)}" }
      .mkString("{\n", ",\n", "\n}\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "oracle_sql.json"),
      obj(Pinned.map(k => k -> SparkEntry.oracleSql(k))))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "spark_hashes.json"), obj(hashes))
  }

  def bench(spark: SparkSession, o: Opts): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    System.err.println(f"[perfbench] session ready at ${(System.currentTimeMillis() - jvmStart) / 1000.0}%.2f s; " +
      hostFacts(spark).map { case (k, v) => s"$k=$v" }.mkString(", "))
    val wl = workload(spark, o)
    val tally = new Tally
    var traceComplete = true // a traced run that lost listener events is invalid
    val probe = new Probe(spark)
    val cores = Runtime.getRuntime.availableProcessors
    def pass(i: Int, traced: Boolean): PassRec = {
      System.gc()
      if (traced) probe.attach()
      val cpu0 = processCpu
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val times = wl.ops(i).map { op =>
        val s = System.nanoTime()
        tally(runOp(op, i, if (traced) Some(probe) else None))
        op.name -> (System.nanoTime() - s) / 1e9
      }
      val rec = PassRec(i, traced, (System.nanoTime() - t0) / 1e9, processCpu - cpu0, times)
      if (traced) {
        probe.spans += Span(i, "pass", "pass", ms0, System.currentTimeMillis(), rec.wall)
        if (!probe.detach()) traceComplete = false // the bus did not drain in time
      }
      System.err.println(f"[perfbench] pass $i%d${if (traced) " traced" else ""}%s: ${rec.wall}%.3f s " +
        times.map { case (n, t) => f"$n=$t%.2f" }.mkString(" "))
      rec
    }

    val passes = ArrayBuffer.empty[PassRec]
    var heapMb = 0.0
    var setupS = 0.0
    val dropped0 = Probe.droppedEvents(spark.sparkContext)
    try {
      pass(0, traced = false)
      setupS = (System.currentTimeMillis() - jvmStart) / 1000.0
      // Pass times keep falling for five or more passes (JIT). The timed
      // passes follow the first one directly, so every run is measured at
      // the same point of that curve.
      val t0 = System.nanoTime()
      var i = 1
      def untraced = passes.count(!_.traced)
      def traced = passes.count(_.traced)
      val minPasses = if (o.trace) MinTracedPasses else MinPasses
      while ((System.nanoTime() - t0) / 1e9 < o.seconds || untraced < minPasses ||
          (o.trace && traced < minPasses)) {
        // untraced, traced, traced, untraced, ...: a linear drift cancels in the overhead
        passes += pass(i, traced = o.trace && Set(2, 3)(i % 4))
        i += 1
      }
      heapMb = settledHeapMb()
    } finally wl.close()
    val dropped = Probe.droppedEvents(spark.sparkContext) - dropped0

    val plain = passes.filterNot(_.traced)
    val opNames = plain.head.opSeconds.map(_._1).distinct
    val metrics: Seq[(String, Double, String)] = if (!o.trace) Seq(
      ("setup_s", setupS, "s"),
      ("run_s", Stats.median(plain.map(_.wall).toSeq), "s"),
      ("op_geomean_s", Stats.geomean(opNames.map(n =>
        Stats.median(plain.flatMap(_.opSeconds.filter(_._1 == n).map(_._2)).toSeq))), "s"),
      ("cpu_s", Stats.median(plain.map(_.cpu).toSeq), "s"),
      ("retained_heap_mb", heapMb, "MB"))
    else {
      val tracedPasses = passes.filter(_.traced)
      val n = tracedPasses.size.toDouble
      val all = probe.jobList
      val passSpans = probe.spans.filter(_.layer == "pass").toSeq
      def layer(l: String, name: String => Boolean = _ => true) =
        probe.spans.filter(s => s.layer == l && name(s.name)).toSeq
      val isKey = (s: String) => s.startsWith("q_")
      val modules = Modules.flatMap { m =>
        val ss = layer(m, isKey)
        val js = probe.jobsIn(ss)
        Seq((s"$m.op_s", ss.map(_.seconds).sum / n, "s"),
          (s"$m.jobs", probe.jobsIn(layer(m)).size / n, "count"),
          (s"$m.driver_gap_s", probe.driverGap(ss) / n, "s"),
          (s"$m.shuffle_mb", probe.shuffleMb(js) / n, "MB"))
      }
      def step(l: String) = {
        val ss = layer(l)
        (ss, probe.jobsIn(ss))
      }
      val (viewSpans, viewJobs) = step("views")
      val (sinkSpans, sinkJobs) = step("sink")
      val (srcSpans, srcJobs) = step("sources")
      val cleaning = layer("Cleaning", _ == "cleanTransactions")
      val layoutJobs = probe.jobsFromFrame("Layout")
      val batches = probe.batches.asScala.toSeq
      val wallSum = tracedPasses.map(_.wall).sum
      modules ++ Seq(
        ("sources.jobs", srcJobs.size / n, "count"),
        ("Cleaning.s", cleaning.map(_.seconds).sum / n, "s"),
        ("views.s", viewSpans.map(_.seconds).sum / n, "s"),
        ("views.jobs", viewJobs.size / n, "count"),
        ("views.driver_gap_s", probe.driverGap(viewSpans) / n, "s"),
        ("views.shuffle_mb", probe.shuffleMb(viewJobs) / n, "MB"),
        ("sink.s", sinkSpans.map(_.seconds).sum / n, "s"),
        ("sink.jobs", sinkJobs.size / n, "count"),
        ("sink.write_mb", probe.outputMb(sinkJobs) / n, "MB"),
        ("Layout.write_s", probe.execSecondsFromFrame("Layout") / n, "s"),
        ("Layout.write_jobs", layoutJobs.size / n, "count"),
        ("Layout.write_mb", probe.outputMb(layoutJobs) / n, "MB"),
        ("Layout.publish_jobs", probe.jobsFromFrame("Layout", Some("publishEpoch")).size / n, "count"),
        ("streaming.batches", batches.size / n, "count"),
        ("streaming.batch_s", batches.map(_.seconds).sum / n, "s"),
        ("streaming.rows", batches.map(_.rows).sum / n, "count"),
        ("spark.jobs", all.size / n, "count"),
        ("spark.stages", probe.stageCount(all) / n, "count"),
        ("spark.tasks", probe.taskCount(all) / n, "count"),
        ("spark.job_s", probe.jobSeconds(all) / n, "s"),
        ("spark.driver_gap_s", probe.driverGap(passSpans) / n, "s"),
        ("spark.executor_run_s", probe.executorRunS(all) / n, "s"),
        ("spark.executor_cpu_s", probe.executorCpuS(all) / n, "s"),
        ("spark.gc_s", probe.gcS(all) / n, "s"),
        ("spark.shuffle_write_mb", probe.shuffleMb(all) / n, "MB"),
        ("spark.spill_mb", probe.spillMb(all) / n, "MB"),
        ("spark.busy_frac", probe.executorRunS(all) / (wallSum * cores), "ratio"),
        ("trace.overhead_frac", Stats.median(tracedPasses.map(_.wall).toSeq) /
          Stats.median(plain.map(_.wall).toSeq) - 1, "ratio"),
        ("trace.dropped_events", dropped.toDouble, "count")
      ) ++ wl.layerMetrics(probe, tracedPasses.size)
    }
    if (dropped > 0) traceComplete = false
    if (o.trace && o.traceOut.nonEmpty) writeTrace(o, spark, probe, passes.toSeq, metrics)
    val walls = plain.map(_.wall).toSeq
    if (walls.size >= 2) {
      val (q1, q3) = Stats.quartiles(walls)
      System.err.println(f"[perfbench] ${o.workload} untimed setup $setupS%.2f s; " +
        f"${walls.size} timed passes, median ${Stats.median(walls)}%.3f s, q1 $q1%.3f, q3 $q3%.3f")
    }
    val m = metrics.map { case (k, v, u) => s"${json(k)}: {\"value\": $v, \"unit\": ${json(u)}}" }
    println(s"""{"correct": ${tally.failed == 0 && traceComplete}, "attempted": ${tally.attempted}, """ +
      s""""failed": ${tally.failed}, """ +
      s""""metrics": {${m.mkString(", ")}}}""")
  }

  /** Spans, jobs and host facts of a traced run, as one JSON file. */
  def writeTrace(o: Opts, spark: SparkSession, probe: Probe, passes: Seq[PassRec],
                 metrics: Seq[(String, Double, String)]): Unit = {
    val sb = new StringBuilder
    sb ++= s"""{"workload": ${json(o.workload)}, "seed": ${o.seed},\n"host": {"""
    sb ++= hostFacts(spark).map { case (k, v) => s"${json(k)}: ${json(v)}" }.mkString(", ")
    sb ++= "},\n\"passes\": [" + passes.map(p => s"""{"pass": ${p.pass}, "traced": ${p.traced}, """ +
      s""""wall_s": ${p.wall}, "cpu_s": ${p.cpu}}""").mkString(",\n  ") + "],\n"
    sb ++= "\"metrics\": {" + metrics.map { case (k, v, u) => s"${json(k)}: [$v, ${json(u)}]" }
      .mkString(", ") + "},\n"
    sb ++= "\"spans\": [" + probe.spans.map(s => s"""{"pass": ${s.pass}, "layer": ${json(s.layer)}, """ +
      s""""name": ${json(s.name)}, "start_ms": ${s.startMs}, "end_ms": ${s.endMs}, "s": ${s.seconds}}""")
      .mkString(",\n  ") + "],\n"
    sb ++= "\"jobs\": [" + probe.jobList.map(j => s"""{"id": ${j.id}, "start_ms": ${j.startMs}, """ +
      s""""end_ms": ${j.endMs}, "sql_exec": ${j.execId.getOrElse(-1)}, "frame": ${json(j.execId
        .flatMap(e => Option(probe.sqlExecs.get(e))).flatMap(_.frame).map(f => s"${f._1}.${f._2}")
        .getOrElse(""))}}""").mkString(",\n  ") + "]}\n"
    val f = new java.io.File(o.traceOut)
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath, sb.toString)
    System.err.println(s"[perfbench] trace written to ${o.traceOut}")
  }
}
