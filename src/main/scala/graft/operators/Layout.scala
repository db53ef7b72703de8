package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Storage-layout and shuffle-shaping utilities — the techniques that
  * decide whether a 100 TB join is one pass or a meltdown:
  *
  *  - **Bucketing** pre-shuffles a table ONCE at write time; two tables
  *    bucketed by the same key into the same bucket count then
  *    sort-merge-join with NO exchange on either side (asserted by
  *    LayoutSpec on the physical plan). The write cost amortizes over
  *    every subsequent join/aggregation on that key.
  *  - **Salting** breaks a skewed join key into `salt` sub-keys: the
  *    dimension side replicates ×salt (cheap — dims are small), the
  *    fact side picks a deterministic pseudo-random salt per row, so a
  *    hot key's rows spread over `salt` reducers instead of one. AQE's
  *    skew-join handles moderate skew automatically; explicit salting
  *    is for the pathological keys AQE's split granularity can't fix.
  */
object Layout {

  /** Sessions that probe persisted bucketed indexes pin bucketed reads
    * on: Spark's DisableUnnecessaryBucketedScan demotes a bucketed scan
    * when no operator requires the bucket distribution, which silently
    * drops bucket pruning (IN-filter probes) and scan-side co-location
    * (anti-join probes) — exactly what the index exists to provide.
    * SESSION-WIDE and deliberately never restored: a per-query toggle
    * would make other queries' plans depend on execution order, and
    * the only bucketed tables in this library are the index tables
    * themselves, so pinning cannot affect a non-index scan.
    */
  def pinBucketedReads(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")

  /** Resolved filesystem location of a managed table. When the table is
    * in the catalog, the CATALOG's metadata is authoritative — under a
    * Hive metastore or a non-default database the location is not
    * `<warehouse>/<name>` and deriving it would point at (and worse,
    * delete) the wrong path. The derived warehouse path is kept only as
    * the fallback for catalog-forgotten leftovers (default database of
    * the default catalog — the only place the in-memory catalog ever
    * put them).
    */
  private[graft] def tableLocation(spark: SparkSession, table: String): org.apache.hadoop.fs.Path =
    if (spark.catalog.tableExists(table))
      new org.apache.hadoop.fs.Path(spark.sessionState.catalog
        // PARSE the identifier: TableIdentifier(table) would treat a
        // qualified "db.t" as one literal name in the current database
        // and miss (or worse, later delete) the real table's location
        .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(table))
        .location)
    else
      new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)

  /** Clear the on-disk location of a (possibly dropped) managed table
    * — used to clear leftovers from a dead session before rebuilding:
    * the default in-memory catalog forgets tables at session end, but
    * their files remain in the warehouse.
    */
  def clearStaleTableLocation(spark: SparkSession, table: String): Unit = {
    val loc = tableLocation(spark, table)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  /** Run INDEPENDENT actions (typically the sidecar-table writes of
    * one epoch build or one micro-batch append) concurrently on a
    * bounded pool — guide §2.6 (overlap independent jobs): Spark's
    * scheduler happily runs several jobs at once inside one
    * application; actions are only sequential because the driver
    * calls them sequentially. For a multi-table epoch write this
    * overlaps not just the executor compute but the DRIVER-side cost
    * of each write — plan analysis, the commit protocol's file moves,
    * the catalog update — which runs on the calling thread after the
    * job ends and is the dominant per-write cost at bench scale
    * (OptProbe r16: wall − Σjob ≈ 2-4 s on every multi-write
    * lifecycle key).
    *
    * Contract: units must be MUTUALLY independent — none may read a
    * table another unit writes, and shared input frames must be
    * materialized (localCheckpoint/persist-and-forced) so concurrent
    * actions cannot race their computation. Exceptions propagate:
    * all units settle, then the first failure rethrows. Returns each
    * unit's result in unit order, whatever order they finish in.
    */
  def inParallel[A](units: (() => A)*): Seq[A] = {
    if (units.size <= 1) return units.map(_())
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(units.size, 4))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val fs = units.map(u => Future(u()))
      // settle ALL units (a failed write must not leave a sibling
      // mid-flight when the caller's finally runs), then rethrow
      val results = fs.map(f => Await.ready(f, Duration.Inf).value.get)
      results.map(_.get)
    } finally pool.shutdown()
  }

  /** Write `df` bucketed + sorted by `key` as a saved table — the
    * co-location contract later joins rely on.
    */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write
      .format("parquet")
      .bucketBy(buckets, key)
      .sortBy(key)
      .mode("overwrite")
      .saveAsTable(table)

  /** The shared idempotent-build protocol of every persisted index:
    * pin bucketed reads, and when the table is absent from this
    * session's catalog, clear any leftover location from a dead
    * session and run `build`. One place to fix the protocol instead
    * of one copy per index type.
    */
  def ensureTable(spark: SparkSession, name: String)(build: String => Unit): String = {
    pinBucketedReads(spark)
    if (!spark.catalog.tableExists(name)) {
      clearStaleTableLocation(spark, name)
      build(name) // the closure receives the SAME name the guard checked
    }
    name
  }

  /** Metadata-only freshness fingerprint of `tables` under `sfDir`: md5
    * over `version` and every leaf file's (path, length, modification
    * time), from the same listing [[graft.Tables.read]] makes. A probe
    * that scanned the base tables would cost what a derived table exists
    * to save; the file listing is the signal warehouse MV engines key
    * refresh on. A table that cannot be listed enters as `absent:<t>`. */
  def baseFingerprint(spark: SparkSession, sfDir: String, tables: Seq[String],
      version: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(s"$version;".getBytes("UTF-8"))
    for (t <- tables) graft.Tables.leaves(spark, s"$sfDir/$t.parquet") match {
      case Some((_, leaves)) => leaves.foreach(l =>
        md.update(s"${l.path}|${l.length}|${l.modified};".getBytes("UTF-8")))
      case None => md.update(s"absent:$t".getBytes("UTF-8"))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** [[ensureTable]] for a table derived from base tables: `name` is
    * built once per CONTENT of `tables` under `sfDir`, not once per
    * path. A 1-row sidecar `<name>_fp` holds the [[baseFingerprint]] at
    * build time; a missing, empty or different sidecar drops and
    * rebuilds `name` instead of serving it stale (a corpus regenerated
    * under the same path). The sidecar is written AFTER the table, so a
    * crash between the two re-runs the build. Bump `version` when the
    * built table's schema changes, so a persisted older one rebuilds. */
  def ensureFresh(spark: SparkSession, name: String, sfDir: String,
      tables: Seq[String], version: String)(build: String => Unit): String = {
    val fpName = name + "_fp"
    val fp = baseFingerprint(spark, sfDir, tables, version)
    // take(1).headOption: a ZERO-ROW sidecar (partial failure between
    // table creation and data commit) must read as stale, not throw
    val stale = spark.catalog.tableExists(name) &&
      (!spark.catalog.tableExists(fpName) ||
        spark.table(fpName).take(1).headOption.forall(_.getString(0) != fp))
    if (stale) {
      spark.sql(s"DROP TABLE IF EXISTS $fpName")
      spark.sql(s"DROP TABLE IF EXISTS $name")
    }
    ensureTable(spark, name) { n =>
      build(n)
      spark.sql(s"DROP TABLE IF EXISTS $fpName") // any orphaned sidecar
      ensureTable(spark, fpName) { f =>
        import spark.implicits._
        Seq(fp).toDF("fp").write.format("parquet").saveAsTable(f)
      }
    }
  }

  // ---------------------------------------------------------------------
  // Epoch-versioned indexes
  //
  // A persisted index under daily maintenance needs SNAPSHOTS, not
  // in-place overwrite: a rebuild must not disturb running probes, a bad
  // build must be revertible, and yesterday's training run must be
  // reproducible against yesterday's index. The epoch layer gives each
  // index a family of immutable physical tables `<base>_e<N>` (plus any
  // sidecar tables `<base>_e<N><suffix>`, e.g. the IVF codebook) and a
  // one-row pointer table `<base>_ptr` naming the current epoch:
  //
  //  - a ROTATION builds epoch N+1 in full while epoch N stays published
  //    and readable (probe-under-old-epoch is spec-proven), then flips
  //    the pointer. A crash mid-build leaves the pointer — and every
  //    reader — on the complete epoch N; there is never an instant
  //    without a complete published index (unlike drop→rename, which has
  //    a no-table window).
  //  - a reader that RESOLVED an epoch table keeps a stable snapshot:
  //    epoch tables are never mutated after publication (appends go to
  //    the current epoch only — the append-maintained dedup index
  //    resolves its table per batch), so plans pinned to an old epoch
  //    replay identically until that epoch is pruned.
  //  - ROLLBACK is a pointer flip back to the previous retained epoch.
  //
  // Single-writer, like the rest of the index layer: the pointer flip is
  // a one-row table overwrite (drop+recreate under the v1 catalog), so
  // concurrent BUILDERS would race; readers in the flip window should
  // retry. Retention is explicit ([[pruneEpochs]]) — rollback reaches
  // exactly as far as retention keeps.
  // ---------------------------------------------------------------------

  /** Write `df` as parquet into a fresh temp directory, hand the path to
    * `use`, and delete the directory afterwards — the arrivals-staging
    * protocol of the lifecycle keys (each call stages half a corpus for
    * its streaming file source; without cleanup a bench session leaks
    * one staged copy per invocation).
    */
  def withStagedParquet[T](df: DataFrame, prefix: String)(use: String => T): T =
    withStagedDir(df.sparkSession, prefix) { dir =>
      df.write.mode("overwrite").parquet(dir)
      use(dir)
    }

  /** A fresh temp directory handed to `use` and deleted afterwards —
    * the staging primitive under [[withStagedParquet]], exposed for
    * callers staging OTHER formats (the file-format round-trip gate
    * writes CSV/JSONL/ORC through it). Stages on tmpfs when the host
    * has it: staged copies are written and read back within one call,
    * and this host's disk has the documented multi-second write stalls
    * (see Bench.scala) — exactly the I/O pattern that eats wall-clock
    * for no proof value. Deleted in the finally either way.
    */
  def withStagedDir[T](spark: SparkSession, prefix: String)(use: String => T): T = {
    val shm = new java.io.File("/dev/shm")
    val dir = (if (shm.isDirectory)
      java.nio.file.Files.createTempDirectory(shm.toPath.resolve("."), prefix)
    else java.nio.file.Files.createTempDirectory(prefix)).toString
    try use(dir)
    finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      scala.util.Try(p.getFileSystem(
        spark.sparkContext.hadoopConfiguration).delete(p, true)) match {
        case scala.util.Failure(e) =>
          // A swallowed failure here leaks one staged copy per
          // invocation with no signal — surface it.
          org.slf4j.LoggerFactory.getLogger(getClass)
            .warn(s"withStagedDir: failed to delete staged dir $dir", e)
        case scala.util.Success(deleted) =>
          if (!deleted)
            org.slf4j.LoggerFactory.getLogger(getClass)
              .warn(s"withStagedDir: staged dir $dir not deleted (fs returned false)")
      }
    }
  }

  /** Stage `df` as parquet and replay it through a file-source stream
    * with the lifecycle keys' shared discipline: micro-batch shuffle
    * width pinned to 4 (streaming state is keyed by the operator's
    * state key, not corpus-wide rows; the session width is restored in
    * finally), `maxFilesPerTrigger` 2 over a 4-file staging so the
    * replay genuinely crosses micro-batch boundaries, and the stream
    * drained and stopped before returning. `mkStream` receives the
    * streaming frame and must `start()` the query.
    *
    * The pinned width stays set until the stream is drained AND
    * stopped: StreamExecution clones the session conf asynchronously on
    * the query thread, so restoring as soon as `start()` returns races
    * the clone and micro-batches (and the state-store partition count)
    * could silently run at the session width instead.
    */
  def replayAsStream(df: DataFrame, prefix: String)(
      mkStream: DataFrame => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val spark = df.sparkSession
    withStagedParquet(df.repartition(4), prefix) { dir =>
      withReplayConf(spark) {
        val stream = mkStream(spark.readStream.schema(df.schema)
          .option("maxFilesPerTrigger", 2).parquet(dir))
        try stream.processAllAvailable() finally stream.stop()
      }
    }
  }

  /** The lifecycle-replay stream conf, pinned for the duration of
    * `body` and restored after (shared by [[replayAsStream]] and the
    * inline stateful-replay sites in EventOps):
    *
    *  - micro-batch shuffle width 4 — streaming state is keyed by the
    *    operator's state key, not corpus-wide rows (each site's own
    *    scaladoc states its bound); the pin must outlive the stream's
    *    drain+stop because StreamExecution clones the session conf
    *    asynchronously on the query thread.
    *  - no-data micro-batches OFF (r15 optimization round): every
    *    lifecycle drain is `processAllAvailable` + explicit sentinel
    *    batches, and the sentinel protocol DOCUMENTEDLY never relies
    *    on the engine's optional no-data batch (each sentinel is its
    *    own real-data batch) — so the extra no-data batch after each
    *    drain only paid one more round of offset-log commits and
    *    state-store snapshots per stream, measured ~0.1-0.3 s each on
    *    the stateful lifecycles. Production posture unchanged: an
    *    always-on stream wants no-data batches for timely watermark
    *    emission; a bounded replay that forces emission with real
    *    sentinel rows does not.
    */
  private[graft] def withReplayConf[T](spark: SparkSession)(body: => T): T = {
    val pins = Seq("spark.sql.shuffle.partitions" -> "4",
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")
    val olds = pins.map { case (k, _) => k -> spark.conf.getOption(k) }
    pins.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Catalog-name tag for one corpus directory: the human-readable
    * sanitized form plus a short hash of the RAW string. The sanitizer
    * alone is non-injective (`data/sf0.01` and `data/sf0_01` both map to
    * `data_sf0_01`), and a collision would silently serve one corpus's
    * persisted index to the other; the hash (String.hashCode — a
    * spec-pinned, JVM-stable algorithm) makes the mapping injective up
    * to 32-bit collisions on the raw path.
    */
  def corpusTag(sfDir: String): String =
    sfDir.replaceAll("[^a-zA-Z0-9]", "_") + f"_${sfDir.hashCode & 0xFFFFFFFFL}%08x"

  /** Physical table name of one epoch of an index family. */
  def epochTable(base: String, epoch: Int): String = s"${base}_e$epoch"

  private def ptrTable(base: String): String = base + "_ptr"

  /** Session-scoped pointer-read cache (r15 optimization round, guide
    * §5 — the driver should do almost no per-call work): every
    * [[currentEpoch]] read was a full `spark.table(ptr).head()` —
    * analysis + one Spark job — and a bench pass resolves pointers
    * ~100 times across the index families, all for 1-row tables this
    * same session last wrote. The cache short-circuits the job; it is
    * VALIDATED against the catalog on every hit (both the pointer
    * table and the cached epoch's table must still exist — two
    * in-memory catalog lookups, no job), so an external DROP of either
    * (CrossoverBench resets families by dropping `_ptr` directly)
    * falls back to the real read. The pointer table itself is only
    * ever written through [[publishEpoch]] (single-writer, documented
    * above), which updates the cache in the same call; a foreachBatch
    * micro-batch session clone is a different map key and simply reads
    * uncached. Keys are weak on the session so test sessions don't
    * accumulate. */
  private val ptrCache =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, Integer]]()
  private def cacheOf(spark: SparkSession)
      : java.util.concurrent.ConcurrentHashMap[String, Integer] =
    ptrCache.synchronized {
      var m = ptrCache.get(spark)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
        ptrCache.put(spark, m)
      }
      m
    }

  /** The published epoch of an index family, if any. */
  def currentEpoch(spark: SparkSession, base: String): Option[Int] = {
    val c = cacheOf(spark)
    Option(c.get(base)) match {
      case Some(e) if spark.catalog.tableExists(ptrTable(base)) &&
          spark.catalog.tableExists(epochTable(base, e.intValue)) =>
        Some(e.intValue)
      case _ =>
        c.remove(base)
        if (spark.catalog.tableExists(ptrTable(base))) {
          val e = spark.table(ptrTable(base)).head().getInt(0)
          c.put(base, e)
          Some(e)
        } else None
    }
  }

  /** The published epoch's physical table name, if any. */
  def currentEpochTable(spark: SparkSession, base: String): Option[String] =
    currentEpoch(spark, base).map(epochTable(base, _))

  /** `private[graft]`: [[graft.operators.GovernanceOps.timeTravel]]
    * restores the pointer after its rollback probe. */
  private[graft] def publishEpoch(spark: SparkSession, base: String, epoch: Int): Unit = {
    val p = ptrTable(base)
    if (!spark.catalog.tableExists(p)) clearStaleTableLocation(spark, p)
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    spark.createDataFrame(
        java.util.Collections.singletonList(org.apache.spark.sql.Row(epoch)),
        StructType(Seq(StructField("epoch", IntegerType, nullable = false))))
      .write.format("parquet").mode("overwrite").saveAsTable(p)
    // Keep the pointer cache coherent ACROSS SESSIONS of this JVM
    // (r15 advice): a publish from a cloned session (e.g. inside a
    // foreachBatch micro-batch) must not leave a sibling session's
    // cached entry serving a stale epoch whose table retention still
    // retains — drop every other session's entry for this family so
    // their next resolve re-reads the pointer table. Sessions sharing
    // one in-JVM catalog are exactly the sessions that can see this
    // write; a cross-JVM writer needs a shared metastore, where the
    // in-memory catalog (and so this cache) does not apply.
    ptrCache.synchronized {
      val it = ptrCache.values().iterator()
      while (it.hasNext) it.next().remove(base)
    }
    cacheOf(spark).put(base, epoch)
  }

  /** Build the NEXT epoch of an index family and flip the pointer to it.
    * The previous epoch stays published — and its tables untouched —
    * for the entire duration of `build`; only the final pointer write
    * makes the new epoch visible to resolvers. `build` receives the new
    * epoch's main table name and must also create every sidecar
    * (`name + suffix` for each of `sidecars`) — the whole epoch
    * publishes atomically-or-not-at-all with respect to the pointer.
    */
  def rotateEpoch(spark: SparkSession, base: String, sidecars: Seq[String] = Nil)
      (build: String => Unit): String = {
    pinBucketedReads(spark)
    val next = currentEpoch(spark, base).map(_ + 1).getOrElse(0)
    val t = epochTable(base, next)
    (t +: sidecars.map(t + _)).foreach { n =>
      spark.sql(s"DROP TABLE IF EXISTS $n")
      clearStaleTableLocation(spark, n)
    }
    build(t)
    publishEpoch(spark, base, next)
    t
  }

  /** Idempotent resolve-or-build of an epoch-versioned index: return the
    * published epoch's table when it — and every sidecar — actually
    * exists; otherwise build and publish a fresh epoch. Requiring the
    * sidecars closes the half-present-index hole: an index whose
    * codebook was dropped while the assignments survived must rebuild,
    * not fail at probe time.
    */
  def ensureEpochIndex(spark: SparkSession, base: String, sidecars: Seq[String] = Nil)
      (build: String => Unit): String = {
    pinBucketedReads(spark)
    currentEpochTable(spark, base) match {
      case Some(t) if (t +: sidecars.map(t + _)).forall(spark.catalog.tableExists) => t
      case _ => rotateEpoch(spark, base, sidecars)(build)
    }
  }

  /** Flip the pointer back to the newest retained epoch below the
    * current one — the undo of a bad rotation. Fails (by design) when
    * nothing older is retained; rollback reach IS the retention policy.
    */
  def rollbackEpoch(spark: SparkSession, base: String): String = {
    val cur = currentEpoch(spark, base)
      .getOrElse(sys.error(s"no published epoch for $base"))
    val prev = (cur - 1 to 0 by -1)
      .find(e => spark.catalog.tableExists(epochTable(base, e)))
      .getOrElse(sys.error(s"no retained epoch below $cur for $base"))
    publishEpoch(spark, base, prev)
    epochTable(base, prev)
  }

  /** Retention: drop every epoch of the family except the newest `keep`
    * retained ones at or below the published epoch (epochs above the
    * pointer — e.g. after a rollback — are dropped too: they are the
    * rolled-back builds). Never drops the published epoch.
    */
  def pruneEpochs(spark: SparkSession, base: String, keep: Int,
      sidecars: Seq[String] = Nil): Unit = {
    require(keep >= 1, "must retain at least the published epoch")
    val cur = currentEpoch(spark, base).getOrElse(return)
    val retained = (cur to 0 by -1)
      .filter(e => spark.catalog.tableExists(epochTable(base, e)))
      .take(keep).toSet
    val known = spark.catalog.listTables().collect().map(_.name)
      .flatMap { n =>
        val p = s"${base}_e(\\d+)".r
        n match { case p(e) => Some(e.toInt); case _ => None }
      }
    known.filterNot(retained).foreach { e =>
      (epochTable(base, e) +: sidecars.map(epochTable(base, e) + _)).foreach { n =>
        spark.sql(s"DROP TABLE IF EXISTS $n")
      }
    }
  }

  /** Drop an entire epoch family — pointer, every epoch, every sidecar —
    * and clear their locations. Test/maintenance utility.
    */
  def dropEpochFamily(spark: SparkSession, base: String,
      sidecars: Seq[String] = Nil): Unit = {
    val p = s"${base}_e(\\d+)".r
    val epochs = spark.catalog.listTables().collect().map(_.name)
      .flatMap { n => n match { case p(e) => Some(e.toInt); case _ => None } }
    val all = ptrTable(base) +:
      epochs.flatMap(e => epochTable(base, e) +: sidecars.map(epochTable(base, e) + _)).toSeq
    all.foreach { n =>
      spark.sql(s"DROP TABLE IF EXISTS $n")
      clearStaleTableLocation(spark, n)
    }
  }
}
