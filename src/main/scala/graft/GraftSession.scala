package graft

import org.apache.spark.sql.SparkSession

/** The one place an entry point's SparkSession is built. Every main
  * (Bench, Verify, OptProbe, StressBench, CrossoverBench, FaultProof,
  * Plans) gets its session from [[apply]]; `graft.Main` takes only the
  * master rule, through [[builder]].
  *
  * Session knobs (environment):
  *   - `SPARK_GRAFT_CPUS` — local cores and shuffle width (default: the
  *     JVM's available processors).
  *   - `SPARK_GRAFT_MASTER` — master URL (default `local[cpus]`). Never
  *     replaces a `spark.master` that spark-submit already set.
  *   - `SPARK_GRAFT_WAREHOUSE` — warehouse dir (default: tmpfs when
  *     `/dev/shm` exists, else Spark's own default).
  *   - `SPARK_GRAFT_JARS` — `spark.jars` for a `local-cluster` master, so
  *     the separate executor JVMs can load graft classes.
  *   - `SPARK_GRAFT_CHECKPOINT_DIR` — a RELIABLE checkpoint dir, which
  *     flips every Materialize.corpus site from localCheckpoint to
  *     persist+checkpoint (the cluster-safe path).
  *
  * A `local-cluster` master also needs SPARK_HOME and
  * SPARK_SCALA_VERSION=2.13 in the environment (the launcher cannot
  * infer them outside a distribution layout).
  */
object GraftSession {

  private val Shm = "/dev/shm"

  /** A resolved session: `master` is None when spark-submit already set
    * one; `tmpDir` becomes `java.io.tmpdir` before the session starts. */
  final case class Settings(master: Option[String], cpus: Int,
      conf: Map[String, String], tmpDir: Option[String],
      checkpointDir: Option[String])

  /** Pure resolution of the session from the environment, the JVM's
    * system properties, its core count and whether tmpfs exists. */
  def resolve(env: Map[String, String], props: Map[String, String],
      processors: Int, shm: Boolean,
      defaultMaster: Option[String] = None): Settings = {
    val cpus = env.get("SPARK_GRAFT_CPUS").fold(processors)(_.trim.toInt)
    val master =
      if (props.contains("spark.master")) None
      else Some(env.get("SPARK_GRAFT_MASTER").orElse(defaultMaster)
        .getOrElse(s"local[$cpus]"))
    // separate executor JVMs load graft classes from the packaged jar.
    // Their JDK module options need nothing here: SparkContext prepends
    // JavaModuleOptions.defaultModuleOptions() to the executor's
    // extraJavaOptions itself.
    val jars = env.get("SPARK_GRAFT_JARS")
      .filter(_ => master.exists(_.startsWith("local-cluster")))
    // Shuffle/checkpoint spill to tmpfs: this host's virtual disk
    // has erratic latency that dominates shuffle-heavy query variance;
    // RAM-backed local dirs are the single-node analog of proper local
    // SSDs on executors.
    //
    // The persisted-index warehouse rides tmpfs too: the 17
    // rebuild-by-design lifecycle keys write several epoch+sidecar
    // tables per call, and those saveAsTable writes — not the compute —
    // are where the documented multi-second disk stalls land (r13:
    // 70-80 s of every full pass was the lifecycle family, swinging
    // 3-6x run-to-run). A full-pass warehouse is ~300 MB. On a real
    // cluster this is object-store/HDFS bandwidth, not a local disk's
    // pathology.
    val warehouse = env.get("SPARK_GRAFT_WAREHOUSE")
      .orElse(Option.when(shm)(s"$Shm/graft-warehouse"))
    Settings(master, cpus,
      Map(
        "spark.sql.shuffle.partitions" -> cpus.toString,
        "spark.ui.enabled" -> "false",
        "spark.sql.session.timeZone" -> "UTC",
        // events.ts is TIMESTAMP(NANOS) parquet — read as long,
        // converted to µs TimestampType in Tables.events
        "spark.sql.legacy.parquet.nanosAsLong" -> "true") ++
        Option.when(shm)("spark.local.dir" -> s"$Shm/graft-spark") ++
        warehouse.map("spark.sql.warehouse.dir" -> _) ++ jars.map("spark.jars" -> _),
      // Temp streaming checkpoints (and any other JVM temp files) on
      // tmpfs: a CONF-level checkpointLocation disables Spark's
      // temp-checkpoint fast path (measured +2.4 s per stateful-agg
      // lifecycle call), so relocate java.io.tmpdir instead — temp
      // semantics (auto-delete on stop) preserved, stalling disk avoided.
      Option.when(shm)(s"$Shm/graft-tmp"),
      env.get("SPARK_GRAFT_CHECKPOINT_DIR"))
  }

  private def current(defaultMaster: Option[String]): Settings =
    resolve(sys.env, sys.props.toMap, Runtime.getRuntime.availableProcessors,
      new java.io.File(Shm).isDirectory, defaultMaster)

  /** A builder carrying only the master rule — the whole of graft.Main's
    * set-up, so a spark-submit run keeps exactly the submitted conf. */
  def builder(): SparkSession.Builder = builderOf(current(None))

  private def builderOf(s: Settings): SparkSession.Builder = {
    val b = SparkSession.builder()
    s.master.foreach(b.master)
    b
  }

  /** The session every harness main runs on; `defaultMaster` replaces
    * `local[cpus]` when `SPARK_GRAFT_MASTER` is unset. Log level WARN. */
  def apply(defaultMaster: Option[String] = None): SparkSession = {
    val s = current(defaultMaster)
    s.tmpDir.foreach { d =>
      new java.io.File(d).mkdirs()
      System.setProperty("java.io.tmpdir", d)
    }
    val spark = builderOf(s).config(s.conf).getOrCreate()
    s.checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
