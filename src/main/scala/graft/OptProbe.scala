package graft

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Optimization-round measurement harness: runs named queries under the
  * EXACT Bench session configs with a SparkListener recording every
  * job's wall time and first-stage callsite, so a key's cost decomposes
  * into its constituent Spark jobs (writes, collects, streaming
  * micro-batches) without the UI. Guide §1.1/§1.5 (measure first, label
  * jobs); read-only diagnostics — never part of a query path.
  *
  * Usage: SPARK_GRAFT_SF_DIR=… SPARK_GRAFT_CPUS=32 \
  *   sbt "runMain graft.OptProbe q_merge_on_read[,q_x] [repeats]"
  */
object OptProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val repeats = if (args.length > 1) args(1).toInt else 2
    val spark = GraftSession()

    case class J(id: Int, t0: Long, t1: Long, site: String, stages: Int,
      stageNames: Seq[String])
    // ONE lock for listener callbacks and the main thread's
    // clear/snapshot (r15 advice): the callbacks previously
    // synchronized on the listener instance while main synchronized on
    // the OptProbe object — two monitors over the same buffer.
    val lock = new Object
    val jobs = mutable.ArrayBuffer[J]()
    val starts = mutable.Map[Int, (Long, String, Int, Seq[String])]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = lock.synchronized {
        val site = js.stageInfos.lastOption.map(_.name).getOrElse("?")
        starts(js.jobId) =
          (js.time, site, js.stageInfos.size,
            js.stageInfos.map(s => s"${s.name}#${s.numTasks}t").toSeq)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = lock.synchronized {
        starts.remove(je.jobId).foreach { case (t0, site, ns, sn) =>
          jobs += J(je.jobId, t0, je.time, site, ns, sn)
        }
      }
    })

    // warmup, as in Bench
    try {
      spark.range(1000).selectExpr("sum(id)").collect()
      SparkEntry.queries.get("q_count").foreach(f => f(spark, sfDir).count())
    } catch { case _: Throwable => () }

    names.foreach { q =>
      (1 to repeats).foreach { r =>
        synchronized { jobs.clear() }
        val w0 = System.nanoTime()
        SparkEntry.queries(q)(spark, sfDir).count()
        val wall = (System.nanoTime() - w0) / 1e9
        // settle: listener events are async
        Thread.sleep(300)
        val snap = synchronized { jobs.toVector.sortBy(_.t0) }
        val sumJ = snap.map(j => j.t1 - j.t0).sum / 1e3
        println(f"[probe] ===== $q pass $r wall=$wall%.3f s, ${snap.size} jobs, sum(job)=$sumJ%.3f s =====")
        snap.foreach { j =>
          println(f"[probe]   ${(j.t1 - j.t0) / 1e3}%7.3f s  ${j.stages}%2d stg  ${j.site.take(110)}")
          if (j.t1 - j.t0 > 300)
            j.stageNames.foreach(n => println(s"[probe]       stage: ${n.take(130)}"))
        }
      }
    }
    spark.stop()
  }
}
