package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** A call into one public function, timed by the benchmark: `layer` is the
  * module it belongs to (or an ETL step), `name` the function or key. */
final case class Span(pass: Int, layer: String, name: String, startMs: Long, endMs: Long,
                      seconds: Double)

final case class JobRec(id: Int, startMs: Long, var endMs: Long, stages: Seq[Int],
                        execId: Option[Long])
final case class StageRec(tasks: Int, runMs: Long, cpuNs: Long, gcMs: Long,
                          shuffleWriteBytes: Long, spillBytes: Long, outputBytes: Long)
final case class SqlExec(startMs: Long, var endMs: Long, frame: Option[(String, String)])
final case class Batch(seconds: Double, rows: Long)

/** One `SparkListener` and one `StreamingQueryListener`, attached only
  * during traced passes. Everything is kept in memory; `Bench` reads it
  * after draining the listener bus. */
final class Probe(spark: SparkSession) {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageRec]()
  val sqlExecs = new ConcurrentHashMap[Long, SqlExec]()
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()
  val spans = ArrayBuffer.empty[Span]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val exec = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      jobs.put(e.jobId, JobRec(e.jobId, e.time, -1L, e.stageIds, exec))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) stages.put(i.stageId, StageRec(i.numTasks, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.outputMetrics.bytesWritten))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        sqlExecs.put(s.executionId, SqlExec(s.time, -1L, Stats.firstGraftFrame(s.details)))
      case s: SparkListenerSQLExecutionEnd =>
        Option(sqlExecs.get(s.executionId)).foreach(_.endMs = s.time)
      case _ =>
    }
  }

  private val streamListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      batches.add(Batch(e.progress.batchDuration / 1000.0, e.progress.numInputRows))
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  /** Drains the bus (bounded), then detaches. False if the wait timed out. */
  def detach(): Boolean = {
    val drained = Probe.drain(spark.sparkContext, 30000)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    drained
  }

  /** Times one call and records it as a span. */
  def span[T](pass: Int, layer: String, name: String)(body: => T): T = {
    val ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally spans.synchronized {
      spans += Span(pass, layer, name, ms, System.currentTimeMillis(), (System.nanoTime() - t0) / 1e9)
    }
  }

  def jobList: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.id)

  private def stageSum(js: Seq[JobRec])(f: StageRec => Double): Double =
    js.flatMap(_.stages).distinct.flatMap(s => Option(stages.get(s))).map(f).sum

  /** Jobs whose submission falls inside one of `ss` (a job is charged to
    * the call whose action launched it). */
  def jobsIn(ss: Seq[Span]): Seq[JobRec] =
    jobList.filter(j => ss.exists(s => j.startMs >= s.startMs && j.startMs <= s.endMs))

  /** Wall time of `ss` that no job of theirs covers. */
  def driverGap(ss: Seq[Span]): Double = ss.map { s =>
    val own = jobsIn(Seq(s)).map(j => (j.startMs, if (j.endMs < 0) s.endMs else j.endMs))
    s.seconds - Stats.unionLength(own, s.startMs, s.endMs) / 1000.0
  }.sum

  def shuffleMb(js: Seq[JobRec]): Double = stageSum(js)(_.shuffleWriteBytes) / 1e6
  def outputMb(js: Seq[JobRec]): Double = stageSum(js)(_.outputBytes) / 1e6
  def stageCount(js: Seq[JobRec]): Int = js.flatMap(_.stages).distinct.count(stages.containsKey)
  def taskCount(js: Seq[JobRec]): Double = stageSum(js)(_.tasks)
  def executorRunS(js: Seq[JobRec]): Double = stageSum(js)(_.runMs) / 1000.0
  def executorCpuS(js: Seq[JobRec]): Double = stageSum(js)(_.cpuNs) / 1e9
  def gcS(js: Seq[JobRec]): Double = stageSum(js)(_.gcMs) / 1000.0
  def spillMb(js: Seq[JobRec]): Double = stageSum(js)(_.spillBytes) / 1e6
  def jobSeconds(js: Seq[JobRec]): Double =
    js.filter(_.endMs >= 0).map(j => j.endMs - j.startMs).sum / 1000.0

  /** Jobs that ran inside SQL executions whose innermost `graft.` frame is in `module`. */
  def jobsFromFrame(module: String, method: Option[String] = None): Seq[JobRec] = {
    val execs = sqlExecs.asScala.collect {
      case (id, x) if x.frame.exists(f => f._1 == module && method.forall(_ == f._2)) => id
    }.toSet
    jobList.filter(_.execId.exists(execs))
  }

  def execSecondsFromFrame(module: String): Double = sqlExecs.values.asScala.collect {
    case x if x.frame.exists(_._1 == module) && x.endMs >= 0 => (x.endMs - x.startMs) / 1000.0
  }.sum
}

object Probe {
  private def bus(sc: SparkContext): AnyRef = sc.getClass.getMethod("listenerBus").invoke(sc)

  /** Waits at most `ms` for every listener queue to empty. */
  def drain(sc: SparkContext, ms: Long): Boolean = {
    val b = bus(sc)
    try { b.getClass.getMethod("waitUntilEmpty", classOf[Long]).invoke(b, Long.box(ms)); true }
    catch { case e: java.lang.reflect.InvocationTargetException
        if e.getCause.isInstanceOf[java.util.concurrent.TimeoutException] => false }
  }

  /** Events the listener bus has dropped so far, summed over its queues. */
  def droppedEvents(sc: SparkContext): Long = {
    val b = bus(sc)
    val qf = b.getClass.getDeclaredField("queues"); qf.setAccessible(true)
    qf.get(b).asInstanceOf[java.util.List[AnyRef]].asScala.map { q =>
      val f = q.getClass.getDeclaredField("droppedEventsCounter"); f.setAccessible(true)
      f.get(q).asInstanceOf[java.util.concurrent.atomic.AtomicLong].get
    }.sum
  }
}
