package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared session for the whole forked test JVM — per-suite sessions
  * would dominate test wall time. Config mirrors Verify/Bench.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // static conf — needed by LayoutSpec's saveAsTable bucketing test
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf0001 = "/root/testdata/sf0.001"
  // Larger scales, used only by the drift tripwire (TestdataSchemaSpec):
  // hoisted here so a testdata relocation is a one-line change, visibly
  // distinct from real schema drift.
  val sf001 = "/root/testdata/sf0.01"
  val sf01  = "/root/testdata/sf0.1"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sf: String = TestSpark.sf0001

  /** Spark jobs submitted while `body` runs. The listener bus delivers
    * job events asynchronously, so it is drained before the listener is
    * attached (earlier jobs must not count) and again before the count is
    * read; each wait is bounded, and a timeout fails the test. */
  def jobsDuring(body: => Any): Int = jobStartsDuring(body).size

  /** The `spark.sql.execution.id` of each job submitted while `body` runs,
    * as [[jobsDuring]] sees them; `None` for a job no SQL execution ran. */
  def sqlExecutionIdsDuring(body: => Any): Seq[Option[String]] =
    jobStartsDuring(body).map(e =>
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id"))))

  private def jobStartsDuring(body: => Any): Seq[SparkListenerJobStart] = {
    val sc = spark.sparkContext
    def drain(): Unit = {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      try bus.getClass.getMethod("waitUntilEmpty", classOf[Long]).invoke(bus, Long.box(30000L))
      catch { case e: java.lang.reflect.InvocationTargetException =>
        fail("the listener bus did not drain within 30 s", e.getCause) }
    }
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e)
    }
    drain()
    sc.addSparkListener(listener)
    try { body; drain() }
    finally sc.removeSparkListener(listener)
    jobs.toArray(Array.empty[SparkListenerJobStart]).toSeq
  }
}
