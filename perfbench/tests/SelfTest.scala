package perfbench

import org.apache.spark.sql.SparkSession

/** Tests of the benchmark's own code. Run with `python3 perfbench/run.py --self-test`;
  * exits non-zero if any check fails. */
object SelfTest {
  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = scala.util.Try(cond).getOrElse(false)
    if (!ok) failures += 1
    println(s"${if (ok) "ok  " else "FAIL"} $name")
  }

  private def close(a: Double, b: Double) = math.abs(a - b) < 1e-9

  def main(args: Array[String]): Unit = {
    // medians and quartiles (quartiles as Python's statistics.quantiles(xs, n=4))
    check("median of odd count")(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    check("median of even count")(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    check("quartiles of 1..10") {
      val (q1, q3) = Stats.quartiles((1 to 10).map(_.toDouble))
      close(q1, 2.75) && close(q3, 8.25)
    }
    check("quartiles of 5 values") {
      val (q1, q3) = Stats.quartiles(Seq(10.0, 1.0, 7.0, 3.0, 5.0))
      close(q1, 2.0) && close(q3, 8.5)
    }
    check("quartiles of 2 values") {
      val (q1, q3) = Stats.quartiles(Seq(1.0, 2.0))
      close(q1, 0.75) && close(q3, 2.25)
    }

    // geometric mean
    check("geomean")(close(Stats.geomean(Seq(2.0, 8.0, 4.0)), 4.0))
    check("geomean rejects zero")(scala.util.Try(Stats.geomean(Seq(0.0, 1.0))).isFailure)

    // interval union behind the driver gap
    check("union merges overlaps")(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L)), 0, 100) == 20)
    check("union counts nested intervals once")(Stats.unionLength(Seq((0L, 10L), (2L, 3L)), 0, 100) == 10)
    check("union clips to the window")(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L)), 8, 22) == 9)
    check("union of nothing")(Stats.unionLength(Nil, 0, 10) == 0)
    check("driver gap charges jobs by submission time") {
      val p = new Probe(null)
      p.jobs.put(1, JobRec(1, 1000, 1400, Nil, None))
      p.jobs.put(2, JobRec(2, 1300, 1600, Nil, None))
      p.jobs.put(3, JobRec(3, 2100, 2200, Nil, None)) // after the span: not its job
      val s = Span(0, "RelOps", "q_x", 1000, 2000, 1.0)
      p.jobsIn(Seq(s)).map(_.id) == Seq(1, 2) && close(p.driverGap(Seq(s)), 0.4)
    }

    // call-site attribution to modules
    val publish = Seq(
      "org.apache.spark.sql.classic.DataFrameWriter.saveAsTable(DataFrameWriter.scala:120)",
      "graft.operators.Layout$.publishEpoch(Layout.scala:340)",
      "graft.operators.TextOps$.searchLifecycle(TextOps.scala:3170)").mkString("\n")
    check("first graft frame names Layout.publishEpoch")(
      Stats.firstGraftFrame(publish).contains(("Layout", "publishEpoch")))
    val lambda = Seq(
      "org.apache.spark.sql.Dataset.collect(Dataset.scala:10)",
      "graft.operators.SimilarityOps$.$anonfun$hnswLifecycle$3(SimilarityOps.scala:2330)",
      "graft.operators.Layout$.$anonfun$inParallel$1(Layout.scala:90)").mkString("\n")
    check("a lambda is charged to its enclosing method")(
      Stats.firstGraftFrame(lambda).contains(("SimilarityOps", "hnswLifecycle")))
    check("no graft frame")(Stats.firstGraftFrame("org.apache.spark.sql.Dataset.count(Dataset.scala:1)").isEmpty)
    check("jobs follow their SQL execution's frame") {
      val p = new Probe(null)
      p.sqlExecs.put(7L, SqlExec(0, 10, Stats.firstGraftFrame(publish)))
      p.sqlExecs.put(8L, SqlExec(0, 10, Stats.firstGraftFrame(lambda)))
      p.jobs.put(1, JobRec(1, 0, 5, Nil, Some(7L)))
      p.jobs.put(2, JobRec(2, 0, 5, Nil, Some(8L)))
      p.jobs.put(3, JobRec(3, 0, 5, Nil, None))
      p.jobsFromFrame("Layout").map(_.id) == Seq(1) &&
        p.jobsFromFrame("Layout", Some("publishEpoch")).map(_.id) == Seq(1) &&
        p.jobsFromFrame("Layout", Some("rotateEpoch")).isEmpty
    }

    // answer hashes: pin.py gives b7f697494fd91331 for the same row
    check("canonical hash matches pin.py") {
      Canon.hash(Seq("b", "a", "t", "d", "s", "x", "l"), Seq(Seq(1L, -1e-7,
        java.time.LocalDateTime.of(2024, 1, 2, 3, 4, 5, 6000), java.time.LocalDate.of(2024, 1, 2),
        "x\ty", null, Seq[Any](1L, 0.0078125)))) == "b7f697494fd91331"
    }
    check("six-decimal numbers round half-even")(
      Canon.number(0.0078125) == "0.007812" && Canon.number(-1e-7) == "0.000000")

    // the stub API's expected answers follow the reference semantics
    check("etl model: duplicates dropped, counts in the completion line") {
      val d = EtlStub.generate(3, clients = 20, accounts = 50, transactions = 2500)
      val Seq(c, a, t) = "\\[(.*)\\]".r.findFirstMatchIn(d.expected.completionLine).get
        .group(1).split(", ").toSeq.map(_.toInt)
      c == 20 && a == 50 && t < 2500 && t > 2350 && d.pages.size == 3
    }

    // failure counting, on a real session and one real key
    val work = java.nio.file.Files.createTempDirectory("perfbench-selftest").toString
    val spark = Bench.session(work)
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val data = "perfbench/data/sf0.01"
      val expected = Bench.readExpected("perfbench/expected.json")
      val key = Seq("q_client_txn_counts" -> "RefViews")
      def tallyOf(answers: Map[String, String]): Tally = {
        val w = new Bench.KeyWorkload(spark, key, 1, data, answers)
        val t = new Tally
        w.ops(0).foreach(op => t(Bench.runOp(op, 0, None)))
        t
      }
      check("pinned answer passes") {
        val t = tallyOf(expected)
        t.attempted == 1 && t.failed == 0
      }
      check("a planted wrong answer counts as a failure") {
        val t = tallyOf(Map("q_client_txn_counts" -> "0000000000000000"))
        t.attempted == 1 && t.failed == 1
      }
      check("an op that raises counts as a failure") {
        val t = new Tally
        t(Bench.runOp(Op("boom", (_, _) => sys.error("boom")), 0, None))
        t.attempted == 1 && t.failed == 1
      }
    } finally spark.stop()

    println(if (failures == 0) "all checks passed" else s"$failures checks failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
