package graft

import org.apache.spark.sql.functions._

import graft.operators.Materialize

/** Executor-kill fault-injection proof for the Materialize seam — the
  * experiment behind the round-11 localCheckpoint sweep's claim, run
  * for real instead of argued: under `local-cluster` (separate executor
  * JVMs), materialize a corpus-sized frame, `kill -9` one executor
  * BETWEEN jobs (so half the materialized partitions die with it),
  * then consume the frame.
  *
  *  - `reliable` mode (checkpoint dir set → Materialize.corpus takes
  *    persist+checkpoint): the consumer must SUCCEED with the exact
  *    expected aggregate — lost partitions re-read from the checkpoint
  *    files, which live on the shared filesystem, not in the dead
  *    JVM's block manager.
  *  - `local` mode (no checkpoint dir → localCheckpoint, the pre-sweep
  *    behavior at every corpus-sized site): the consumer must FAIL —
  *    the blocks existed only in the dead executor's store and the
  *    truncated lineage cannot recompute them. This is the NEGATIVE
  *    CONTROL: it proves the kill actually destroys state, so the
  *    reliable pass is evidence and not vacuity (the watermark-control
  *    discipline from CrossoverBench section E).
  *
  * Requires the local-cluster env (SPARK_HOME, SPARK_SCALA_VERSION,
  * SPARK_GRAFT_JARS); run both modes via:
  *   sbt "runMain graft.FaultProof reliable" / "... local"
  */
object FaultProof {

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("reliable")
    require(mode == "reliable" || mode == "local", s"unknown mode $mode")
    require(sys.env.contains("SPARK_GRAFT_JARS"),
      "SPARK_GRAFT_JARS must point at the sbt-packaged jar")
    // the negative control needs localCheckpoint, i.e. no checkpoint dir
    require(mode == "reliable" || !sys.env.contains("SPARK_GRAFT_CHECKPOINT_DIR"),
      "local mode must run without SPARK_GRAFT_CHECKPOINT_DIR")
    val spark = GraftSession(Some("local-cluster[2,4,4096]"))
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    spark.sparkContext.setLogLevel("ERROR")
    if (mode == "reliable" && spark.sparkContext.getCheckpointDir.isEmpty)
      spark.sparkContext.setCheckpointDir("/dev/shm/graft-faultproof")

    import spark.implicits._
    val n = 4000000L
    // corpus-sized frame: ~4M rows of (id, md5) spread over 16 partitions
    // on both executors; expected aggregate known in closed form
    val frame = spark.range(n).repartition(16)
      .select(col("id"), md5(col("id").cast("string")).as("h"))
    val mat = Materialize.corpus(frame)
    println(s"[fault] materialized ${mat.count()} rows (mode=$mode)")

    // kill one executor JVM — a real SIGKILL to a separate process,
    // between jobs, so the loss is of MATERIALIZED state, not a task
    // local-cluster workers fork their executors from this JVM, so only
    // its descendants are candidates (a shell whose command line merely
    // mentions the executor class must never be the victim)
    val victims = ProcessHandle.current().descendants().filter { p =>
      p.info().commandLine()
        .map[Boolean](_.contains("CoarseGrainedExecutorBackend"))
        .orElse(false)
    }.toList
    require(!victims.isEmpty, "no executor process found to kill")
    val victim = victims.get(0)
    println(s"[fault] killing executor pid ${victim.pid()} " +
      s"(of ${victims.size()} executors)")
    victim.destroyForcibly()
    victim.onExit().join()
    Thread.sleep(2000) // let the master register the loss

    val expected = n * (n - 1) / 2
    val outcome =
      try {
        val got = mat.agg(sum(col("id"))).head().getLong(0)
        if (got == expected) Right(got)
        else Left(s"wrong aggregate after recovery: $got != $expected")
      } catch { case e: Throwable =>
        Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      }
    (mode, outcome) match {
      case ("reliable", Right(got)) =>
        println(s"[fault] reliable: consumer SUCCEEDED after executor kill " +
          s"(sum=$got, exact) PASS")
      case ("reliable", Left(err)) =>
        println(s"[fault] reliable: consumer FAILED after executor kill — " +
          s"the survive-executor-loss claim is FALSE: $err FAIL")
        spark.stop(); sys.exit(1)
      case ("local", Left(err)) =>
        println(s"[fault] local: consumer failed as designed (localCheckpoint " +
          s"blocks died with the executor: ${err.take(160)}) PASS " +
          "(negative control — the kill really destroys state)")
      case ("local", Right(_)) =>
        println("[fault] local: consumer unexpectedly SUCCEEDED — the kill " +
          "did not destroy state; the reliable pass proves nothing FAIL")
        spark.stop(); sys.exit(1)
    }
    spark.stop()
  }
}
