package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Canonical readers for the driver testdata tables (TESTDATA.md).
  *
  * Every `SparkEntry.queries` builder reads through here so that scan-level
  * concerns (vectorized parquet reader, column pruning, partition sizing)
  * are applied uniformly. At 100 TB these would be external catalog tables
  * (partitioned + bucketed); at test scale they are single parquet files —
  * the query code is identical either way because everything downstream is
  * declarative DataFrame API.
  */
object Tables {
  /** All table names present in a testdata sf directory. */
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Reads one table, inferring its parquet schema only on first use.
    *
    * Inference reads the footer in a Spark job of its own, even for one
    * file, and at bench scale that job and the driver time around it are
    * a large share of a light key's call. So the inferred schema is kept
    * and every later read passes it in, which starts no job. The schema
    * is served again only while all of these hold:
    *
    *  - the files are the same: the qualified path, and every leaf file's
    *    path, length and modification time (a table rewritten in place,
    *    or a re-written Spark directory, is inferred afresh);
    *  - the confs Spark's parquet schema conversion reads have the same
    *    values: every conf set under `spark.sql.parquet.*`,
    *    `spark.sql.legacy.parquet.*` and `spark.sql.variant.*`, and
    *    `spark.sql.caseSensitive` (so toggling, e.g., `nanosAsLong` or
    *    `binaryAsString` never serves a stale type).
    *
    * The cache is JVM-wide, not per session: a stream's `foreachBatch`
    * runs on a cloned session, which a per-session cache would miss on
    * every batch. It holds one schema per path and conf set, never rows.
    */
  def read(spark: SparkSession, sfDir: String, name: String): DataFrame =
    readParquet(spark, s"$sfDir/$name.parquet")._1

  private[graft] final case class Leaf(path: String, length: Long, modified: Long)

  /** (qualified path, schema confs) → (the leaves it was inferred from, schema). */
  private val schemas =
    new ConcurrentHashMap[(String, Seq[(String, String)]), (Seq[Leaf], StructType)]()

  private def schemaConfs(spark: SparkSession): Seq[(String, String)] =
    spark.conf.getAll.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") ||
        k.startsWith("spark.sql.variant.") || k == "spark.sql.caseSensitive"
    }.sorted

  /** The qualified `path` and its leaf files sorted by path, or None when
    * `path` cannot be listed. The schema cache keys on this listing, and
    * `Layout.baseFingerprint` fingerprints a table with it.
    */
  private[graft] def leaves(spark: SparkSession, path: String): Option[(String, Seq[Leaf])] =
    scala.util.Try {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(p, true)
      val leaves = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(f => Leaf(f.getPath.toString, f.getLen, f.getModificationTime)).toVector.sortBy(_.path)
      (fs.makeQualified(p).toString, leaves)
    }.toOption

  /** The table at `path` and, when it could be listed, its total bytes. A
    * path that cannot be listed goes to Spark as is, so its error stays Spark's.
    */
  private def readParquet(spark: SparkSession, path: String): (DataFrame, Option[Long]) = {
    leaves(spark, path) match {
      case None => (spark.read.parquet(path), None)
      case Some((qualified, leaves)) =>
        val key = (qualified, schemaConfs(spark))
        val bytes = Some(leaves.map(_.length).sum)
        Option(schemas.get(key)).collect { case (`leaves`, schema) => schema } match {
          case Some(schema) => (spark.read.schema(schema).parquet(path), bytes)
          case None =>
            val df = spark.read.parquet(path)
            schemas.put(key, (leaves, df.schema))
            (df, bytes)
        }
    }
  }

  /** Parquet splits at row-group boundaries, so a small single-row-group
    * file scans as ONE partition — and every row-local heavy stage
    * downstream (shingling, md5 signatures, tokenization) then runs on
    * one core regardless of cluster size. When the file is small enough
    * that the scan must be that narrow, fan out once to the session's
    * parallelism. The check reuses the file listing `read` already made
    * (NOT `df.rdd.getNumPartitions`, which compiles the whole plan); at real
    * scale tables are far over the threshold and this is a no-op.
    *
    * OPT-IN at the operator layer (the `*Fanned` readers), never baked
    * into every read: cheap aggregation queries whose first shuffle
    * redistributes anyway (e.g. a 5-group json_extract) only pay for the
    * extra exchange — baking it in regressed such queries 8× in round 2.
    * Catalyst's ColumnPruning pushes projections below the round-robin
    * Repartition, so fanning never shuffles columns the query drops.
    */
  private def ensureParallelism(spark: SparkSession, read: (DataFrame, Option[Long])): DataFrame = {
    val (df, bytes) = read
    if (bytes.exists(_ < 32L * 1024 * 1024)) df.repartition(spark.sparkContext.defaultParallelism)
    else df
  }

  /** `documents` fanned to full parallelism — for operators whose
    * row-local work (shingling, signature hashing, regex scoring)
    * dominates and happens BEFORE any shuffle.
    */
  def documentsFanned(spark: SparkSession, sfDir: String): DataFrame =
    ensureParallelism(spark, readParquet(spark, s"$sfDir/documents.parquet"))

  /** `embeddings` fanned to full parallelism — for vector-scoring
    * operators (the O(d) per-row arithmetic runs pre-shuffle).
    */
  def embeddingsFanned(spark: SparkSession, sfDir: String): DataFrame =
    ensureParallelism(spark, readParquet(spark, s"$sfDir/embeddings.parquet"))

  // There is deliberately NO eventsFanned: every event operator was
  // benched both ways at sf0.1 and the unfanned reads win — the event
  // queries shuffle almost immediately (windowed agg, per-user window,
  // 5-group json rollup), so a read-side fan-out only adds an exchange
  // (q_event_windows 1.86 s fanned → 0.44 s unfanned; q_user_sessions
  // 2.29 s → 0.67 s). Revisit only for an operator with heavy row-local
  // work BEFORE its first shuffle, which is what documentsFanned /
  // embeddingsFanned exist for.

  /** `events.ts` arrives in whichever parquet encoding the testdata
    * generator last used; normalize every known encoding to a session-zoned
    * microsecond TimestampType so every downstream event operator (and its
    * DuckDB oracle twin, which reads the same file and casts to TIMESTAMP)
    * sees identical values:
    *
    *  - TIMESTAMP(NANOS): Spark's reader rejects it outright
    *    ([PARQUET_TYPE_ILLEGAL]) unless the session sets
    *    `spark.sql.legacy.parquet.nanosAsLong=true` (Verify/Bench do); the
    *    column then arrives as LongType nanos and is floor-truncated here.
    *  - timestamp[us] WITHOUT timezone: Spark 4 reads TIMESTAMP_NTZ, which
    *    time-arithmetic functions (`unix_micros` et al.) reject. Sessions
    *    pin UTC (build.sbt javaOptions + session timeZone), so casting to
    *    session-zoned TimestampType is value-preserving and matches DuckDB's
    *    `CAST(ts AS TIMESTAMP)` on the same file.
    *  - timestamp[us] WITH timezone: already TimestampType — pass through.
    */
  private def eventsWithTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // Floor division (not `div`, which truncates toward zero): DuckDB's
        // TIMESTAMP_NS → TIMESTAMP conversion floors, so pre-1970 nanos
        // must floor here too. pmod keeps the arithmetic in exact longs —
        // a double floor(ts/1000.0) would lose precision above 2^53.
        df.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("(ts - pmod(ts, 1000)) div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.col("ts")
            .cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  def customer(spark: SparkSession, sfDir: String): DataFrame   = read(spark, sfDir, "customer")
  def orders(spark: SparkSession, sfDir: String): DataFrame     = read(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame   = read(spark, sfDir, "lineitem")
  def events(spark: SparkSession, sfDir: String): DataFrame =
    eventsWithTs(read(spark, sfDir, "events"))
  def documents(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "embeddings")
  def nation(spark: SparkSession, sfDir: String): DataFrame     = read(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame     = read(spark, sfDir, "region")
  def supplier(spark: SparkSession, sfDir: String): DataFrame   = read(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame       = read(spark, sfDir, "part")
}
