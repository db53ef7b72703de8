package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[GraftSession.resolve]] is pure: env and system properties in,
  * master/cores/conf out — no session is started here. */
class GraftSessionSpec extends AnyFunSuite {

  private def resolve(env: Map[String, String] = Map.empty,
      props: Map[String, String] = Map.empty, shm: Boolean = true,
      defaultMaster: Option[String] = None) =
    GraftSession.resolve(env, props, processors = 6, shm = shm, defaultMaster)

  test("SPARK_GRAFT_CPUS unset: the processor count drives master and shuffle width") {
    val s = resolve()
    assert(s.cpus === 6)
    assert(s.master === Some("local[6]"))
    assert(s.conf("spark.sql.shuffle.partitions") === "6")
  }

  test("SPARK_GRAFT_CPUS set: it drives both the master and the shuffle width") {
    val s = resolve(Map("SPARK_GRAFT_CPUS" -> "3"))
    assert(s.cpus === 3)
    assert(s.master === Some("local[3]"))
    assert(s.conf("spark.sql.shuffle.partitions") === "3")
  }

  test("fixed confs: UI off, UTC session time zone, nanos read as long") {
    val c = resolve(shm = false).conf
    assert(c("spark.ui.enabled") === "false")
    assert(c("spark.sql.session.timeZone") === "UTC")
    assert(c("spark.sql.legacy.parquet.nanosAsLong") === "true")
  }

  test("tmpfs routing: temp dir, local dir and warehouse on /dev/shm; none without it") {
    val s = resolve()
    assert(s.tmpDir === Some("/dev/shm/graft-tmp"))
    assert(s.conf("spark.local.dir") === "/dev/shm/graft-spark")
    assert(s.conf("spark.sql.warehouse.dir") === "/dev/shm/graft-warehouse")
    val plain = resolve(shm = false)
    assert(plain.tmpDir === None)
    assert(!plain.conf.contains("spark.local.dir"))
    assert(!plain.conf.contains("spark.sql.warehouse.dir"))
  }

  test("SPARK_GRAFT_WAREHOUSE wins over the tmpfs default") {
    val env = Map("SPARK_GRAFT_WAREHOUSE" -> "/data/wh")
    assert(resolve(env).conf("spark.sql.warehouse.dir") === "/data/wh")
    assert(resolve(env, shm = false).conf("spark.sql.warehouse.dir") === "/data/wh")
  }

  test("local-cluster master: spark.jars from SPARK_GRAFT_JARS, no hand-set executor options") {
    val env = Map("SPARK_GRAFT_MASTER" -> "local-cluster[2,4,4096]",
      "SPARK_GRAFT_JARS" -> "/jars/graft.jar")
    val s = resolve(env)
    assert(s.master === Some("local-cluster[2,4,4096]"))
    assert(s.conf("spark.jars") === "/jars/graft.jar")
    // SparkContext prepends JavaModuleOptions.defaultModuleOptions() to
    // the executor options itself; setting them here would double them
    assert(!s.conf.contains("spark.executor.extraJavaOptions"))
    // a caller's default master counts the same as the env var
    assert(resolve(Map("SPARK_GRAFT_JARS" -> "/jars/graft.jar"),
      defaultMaster = Some("local-cluster[2,4,4096]")).conf.contains("spark.jars"))
    // a local master does not ship the jar, even with SPARK_GRAFT_JARS set
    assert(!resolve(Map("SPARK_GRAFT_JARS" -> "/jars/graft.jar")).conf.contains("spark.jars"))
  }

  test("an existing spark.master is never replaced") {
    val props = Map("spark.master" -> "yarn")
    assert(resolve(props = props).master === None)
    assert(resolve(Map("SPARK_GRAFT_MASTER" -> "local[2]"), props).master === None)
    assert(resolve(props = props, defaultMaster = Some("local-cluster[2,4,4096]"))
      .master === None)
  }

  test("SPARK_GRAFT_CHECKPOINT_DIR sets the reliable checkpoint dir; unset leaves none") {
    assert(resolve(Map("SPARK_GRAFT_CHECKPOINT_DIR" -> "/ckpt")).checkpointDir ===
      Some("/ckpt"))
    assert(resolve().checkpointDir === None)
  }
}
