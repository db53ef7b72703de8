package graft

import java.util.concurrent.{Callable, CountDownLatch, ExecutionException, Executors, TimeUnit}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec

import graft.plans.{CmsJoinPlanner, MvRewrite}

/** A rewrite key shares its session with every other query on it: while
  * the key runs on one thread, a query planned on another must plan as
  * written and read the session's own confs. Each round runs a key on
  * one thread of a 2-thread pool and plans its base twin on the other,
  * again and again until the key has returned. */
class RewriteConcurrencySpec extends SparkSpec {

  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"
  private val Rounds = 10

  // sparkPlan, not executedPlan: AQE hides the inner tree (the
  // MvRewriteSpec precedent)
  private def scanPaths(df: DataFrame): Seq[String] =
    df.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.toString)
    }.flatten

  test("a rewrite key and its base twin on one session: the twin plans as " +
      "written and reads the session's own broadcast threshold") {
    val threshold = spark.conf.get(Threshold)
    val mvRows = MvRewrite.monthlyRevenueBase(spark, sf).collect().toSeq
    val cmsRows = CmsJoinPlanner.priorityRollupBase(spark, sf).collect().toSeq
    val pool = Executors.newFixedThreadPool(2)
    def alongside(key: => Unit)(twin: => Unit): Unit = {
      val started = new CountDownLatch(1)
      val k = pool.submit(new Callable[Unit] { def call(): Unit = { started.await(); key } })
      val t = pool.submit(new Callable[Unit] {
        def call(): Unit = { started.countDown(); do twin while (!k.isDone) }
      })
      try { t.get(120, TimeUnit.SECONDS); k.get(120, TimeUnit.SECONDS) }
      catch { case e: ExecutionException => throw e.getCause }
    }
    try {
      for (_ <- 1 to Rounds) {
        alongside {
          val served = MvRewrite.monthlyRevenue(spark, sf)
          val paths = scanPaths(served)
          assert(paths.nonEmpty && paths.forall(_.contains(MvRewrite.mvTable(sf))),
            s"q_mv_rewrite must scan only the MV: $paths")
          assert(served.collect().toSeq === mvRows)
        } {
          val paths = scanPaths(MvRewrite.monthlyRevenueBase(spark, sf))
          assert(paths.exists(_.contains("orders.parquet")),
            s"the base twin was planned against the MV: $paths")
        }
        alongside {
          assert(CmsJoinPlanner.cmsPlannedJoin(spark, sf).collect().toSeq === cmsRows)
        } {
          assert(spark.conf.get(Threshold) === threshold,
            "the base twin read a broadcast threshold the key had set")
          CmsJoinPlanner.priorityRollupBase(spark, sf).queryExecution.sparkPlan
        }
      }
    } finally pool.shutdownNow()
    assert(spark.experimental.extraOptimizations.isEmpty)
    assert(spark.conf.get(Threshold) === threshold)
  }
}
