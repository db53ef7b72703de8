package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Data-governance operators — the pipeline-management surface a 100 TB
  * deployment runs AROUND the analytical queries: CDC application
  * (slowly-changing-dimension merge, keep-latest upsert), cross-system
  * table fingerprinting (order-independent checksums for migration /
  * replication validation), and column profiling (the stats a catalog
  * publishes per dataset). None of these exist in the reference (a
  * fixed 3-view ETL, main.py:183-221) — they are the §2b "operations a
  * large-scale training-data pipeline would need" for the data
  * OPERATIONS side: before a corpus is curated it is ingested,
  * validated against its source, and profiled.
  *
  * Scale shapes:
  *  - SCD2 merge: two window passes over ONE hash exchange on the
  *    dimension key (the second window re-sorts within unchanged
  *    partitions — no second shuffle). Change feeds partition by
  *    business key at any scale.
  *  - Upsert snapshot: pure aggregation (`max_by` over a composite
  *    ordering struct) — partial-aggregatable, so the shuffle carries
  *    one candidate row per key per mapper, never the full feed. This
  *    is the shape that beats the window-rank form at 100 TB (no
  *    corpus-wide sort, combiner-reduced).
  *  - Checksum: embarrassingly parallel scan → 56-bit md5 prefix per
  *    row → one exact decimal sum; commutative, so partition order,
  *    file layout, and cluster topology cannot change the result —
  *    which is the point: source and replica hash identically or the
  *    migration is broken.
  *  - Profile: ONE scan fans out per-column aggregates; the multi
  *    count-distinct plans as an Expand (×k columns). At 100 TB swap
  *    exact distinct for the HLL sketch (see
  *    [[RelOps.approxDistinctUsersGated]] — same gated pattern); the
  *    min/max/null aggregates stay exact and combiner-reduced.
  */
object GovernanceOps {

  // ---------------------------------------------------------------- SCD2

  /** The `orders` feed read as a CDC change stream for a customer
    * dimension: key = o_custkey, change time = o_orderdate,
    * monotone tiebreaker = o_orderkey (unique), tracked attribute =
    * o_orderpriority ("tier"). */
  private def changeFeed(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir).select(
      col("o_custkey").as("client_id"),
      col("o_orderdate").as("ts"),
      col("o_orderkey").as("seq"),
      col("o_orderpriority").as("tier"))

  /** SCD Type-2 dimension build from a change feed: per key, collapse
    * consecutive runs of the same attribute value into versioned
    * validity intervals `[valid_from, valid_to)` with `valid_to = NULL`
    * + `is_current = true` on the open tail. Change-point detection is
    * `lag() != value`; version numbers are the running sum of change
    * points — the standard two-window SCD2 plan, both windows on the
    * SAME partition key so the whole operator costs one exchange.
    *
    * Same-instant changes (two feed rows at one ts, ordered by seq)
    * produce a ZERO-WIDTH closed version — `valid_to == valid_from` —
    * which is the honest record: the value held for an instant. A
    * temporal `BETWEEN valid_from AND valid_to - ε` probe never sees
    * it; the version history keeps it.
    */
  def scd2Merge(spark: SparkSession, sfDir: String): DataFrame =
    scd2Over(changeFeed(spark, sfDir))
      .orderBy(col("client_id"), col("version"))

  /** The SCD2 transform factored over any (client_id, ts, seq, tier)
    * feed — reused by the lifecycle key, whose streamed half must feed
    * the IDENTICAL transform. */
  private[graft] def scd2Over(changes: DataFrame): DataFrame = {
    val byVersion = Window.partitionBy(col("client_id")).orderBy(col("version"))
    scd2Versions(changes)
      .withColumn("valid_to", lead(col("valid_from"), 1).over(byVersion))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** The version core of [[scd2Over]] — `(client_id, version, tier,
    * valid_from)` without the valid_to/is_current interval pass, which
    * [[pitJoin]] consumes directly (versions tile, so the as-of pick
    * never needs valid_to; building it just to discard it would add a
    * window pass to the fact plan). */
  private def scd2Versions(changes: DataFrame): DataFrame = {
    val byTime = Window.partitionBy(col("client_id")).orderBy(col("ts"), col("seq"))
    val cum = byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    changes
      .withColumn("prev_tier", lag(col("tier"), 1).over(byTime))
      .withColumn("chg",
        when(col("prev_tier").isNull || col("prev_tier") =!= col("tier"), 1L)
          .otherwise(0L))
      .withColumn("version", sum(col("chg")).over(cum))
      .filter(col("chg") === 1L)
      .select(col("client_id"), col("version"), col("tier"),
        col("ts").as("valid_from"))
  }

  /** Oracle CTE chain ending in `vers(client_id, version, tier,
    * valid_from)` — the SCD2 version rows; shared by [[scd2MergeSql]]
    * and [[pitJoinSql]]. */
  private val scd2VersionCtes: String =
    """c AS (
      |  SELECT o_custkey AS client_id, o_orderdate AS ts,
      |         o_orderkey AS seq, o_orderpriority AS tier
      |  FROM orders
      |), m AS (
      |  SELECT client_id, ts, seq, tier,
      |    CASE WHEN LAG(tier) OVER w IS NULL
      |           OR LAG(tier) OVER w <> tier THEN 1 ELSE 0 END AS chg
      |  FROM c WINDOW w AS (PARTITION BY client_id ORDER BY ts, seq)
      |), v AS (
      |  SELECT client_id, tier, ts AS valid_from, chg,
      |    CAST(SUM(chg) OVER (PARTITION BY client_id ORDER BY ts, seq
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS version
      |  FROM m
      |), vers AS (
      |  SELECT client_id, version, tier, valid_from FROM v WHERE chg = 1
      |)""".stripMargin

  val scd2MergeSql: String =
    s"""WITH $scd2VersionCtes
       |SELECT client_id, version, tier, valid_from, valid_to,
       |       valid_to IS NULL AS is_current
       |FROM (
       |  SELECT client_id, version, tier, valid_from,
       |    LEAD(valid_from) OVER (PARTITION BY client_id ORDER BY version) AS valid_to
       |  FROM vers)
       |ORDER BY client_id, version""".stripMargin

  private[graft] def scd2LifecycleBase(sfDir: String): String =
    "graft_scd2_lc_" + Layout.corpusTag(sfDir)

  /** The CDC/SCD2 LIFECYCLE under the oracle — stream ≡ batch proof
    * #10: EVEN client_ids' change records batch-written into a fresh
    * change-log epoch; ODD client_ids replayed as a file stream
    * through [[graft.streaming.CdcStream.appendChangesStream]] (the
    * production CDC-ingestion shape — stateless per-batch appends with
    * per-batch epoch resolve); then the SCD2 dimension is built from
    * the ACCUMULATED log by the UNCHANGED [[scd2Over]] under the
    * verbatim [[scd2MergeSql]] oracle. Deterministic by construction:
    * the dimension is a pure function of the change-record SET (each
    * key's rows sort by (ts, seq) inside the build), so batch
    * boundaries and replay order cannot reach the hash — no watermark,
    * no sentinel, no survivor choice. Rotates a fresh epoch every call
    * and prunes to two.
    */
  def scd2Lifecycle(spark: SparkSession, sfDir: String): DataFrame = {
    val base = scd2LifecycleBase(sfDir)
    val feed = changeFeed(spark, sfDir)
    val t = Layout.rotateEpoch(spark, base) { name =>
      feed.filter(col("client_id") % 2 === 0)
        .write.format("parquet").mode("overwrite").saveAsTable(name)
    }
    Layout.replayAsStream(feed.filter(col("client_id") % 2 =!= 0), "graft-scd2lc") {
      stream => graft.streaming.CdcStream.appendChangesStream(stream, base)
    }
    Layout.pruneEpochs(spark, base, keep = 2)
    scd2Over(spark.table(t)).orderBy(col("client_id"), col("version"))
  }

  /** POINT-IN-TIME (temporal) join — the operation an SCD2 dimension
    * exists FOR: each fact row joined to the dimension version in
    * effect at the fact's event time. Facts here are lineitems (ship
    * events) resolved to their customer; the dimension is the
    * [[scd2Over]] tier history; "in effect at ts" = the version with
    * the greatest valid_from ≤ ts, ties (zero-width same-instant
    * versions) to the HIGHEST version — the deterministic pick, so
    * version rows first reduce to one per (client, valid_from) by
    * max_by(version).
    *
    * Plan: the as-of UNION trick ([[EventOps.asofClickPurchase]]'s
    * shape): version rows and fact rows union into one frame, ONE
    * shuffle on client_id, per-partition sort by (ts, kind, version)
    * with versions ordered before facts at equal ts (a fact AT a
    * version boundary takes the new version — inclusive valid_from),
    * and `last(_, ignoreNulls)` carries the current version onto every
    * fact row. No range join, no per-fact probe: at 100 TB this is the
    * ONLY shape that joins a billion facts to a versioned dimension in
    * one exchange. The oracle is DuckDB's native ASOF LEFT JOIN with
    * the extra client equality — an independent implementation of the
    * same semantics.
    */
  def pitJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val versions = scd2Versions(changeFeed(spark, sfDir))
      .groupBy(col("client_id"), col("valid_from"))
      .agg(max_by(struct(col("version"), col("tier")), col("version")).as("x"))
      .select(col("client_id"), col("valid_from").as("ts"),
        col("x.version").as("version"), col("x.tier").as("tier"))
    val facts = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
      .join(Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("client_id"), col("l_shipdate").as("ts"),
        col("l_orderkey"), col("l_linenumber"))
    pitOver(versions, facts)
      // (l_orderkey, l_linenumber) is NOT unique in the fixtures —
      // ship_ts makes the presentation order total up to fully
      // identical rows (same key + same ts ⇒ same version ⇒ same row)
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("ship_ts"))
  }

  /** The as-of union core of [[pitJoin]], factored over any
    * `versions(client_id, ts, version, tier)` (one row per (client,
    * ts)) and `facts(client_id, ts, l_orderkey, l_linenumber)` — so
    * the spec can plant boundary fixtures (fact AT a version instant,
    * zero-width tie instants) the corpus only thinly exercises. */
  private[graft] def pitOver(versions: DataFrame, facts: DataFrame): DataFrame = {
    val tagged = versions
      .select(col("client_id"), col("ts"), lit(0).as("kind"),
        col("version"), col("tier"),
        lit(null).cast("long").as("l_orderkey"),
        lit(null).cast("int").as("l_linenumber"))
      .unionByName(facts
        .select(col("client_id"), col("ts"), lit(1).as("kind"),
          lit(null).cast("long").as("version"),
          lit(null).cast("string").as("tier"),
          col("l_orderkey"), col("l_linenumber")))
    val w = Window.partitionBy(col("client_id"))
      .orderBy(col("ts"), col("kind"), col("version"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("version_at", last(col("version"), ignoreNulls = true).over(w))
      .withColumn("tier_at", last(col("tier"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(col("l_orderkey"), col("l_linenumber"), col("client_id"),
        col("ts").as("ship_ts"), col("version_at"), col("tier_at"))
  }

  val pitJoinSql: String =
    s"""WITH $scd2VersionCtes, vd AS (
       |  SELECT client_id, valid_from, version, tier FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY client_id, valid_from
       |      ORDER BY version DESC) AS rn FROM vers)
       |  WHERE rn = 1
       |), f AS (
       |  SELECT o.o_custkey AS client_id, l.l_shipdate AS ship_ts,
       |         l.l_orderkey, l.l_linenumber
       |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       |)
       |SELECT f.l_orderkey, f.l_linenumber, f.client_id, f.ship_ts,
       |       vd.version AS version_at, vd.tier AS tier_at
       |FROM f ASOF LEFT JOIN vd
       |  ON f.client_id = vd.client_id AND f.ship_ts >= vd.valid_from
       |ORDER BY f.l_orderkey, f.l_linenumber, f.ship_ts""".stripMargin

  // -------------------------------------------------------------- upsert

  /** CDC keep-latest upsert snapshot: the current row per key under the
    * total change order (ts, seq) — the MERGE-into-snapshot semantics —
    * computed as a pure aggregation (`max_by` over the composite
    * ordering struct), NOT a window rank: partial aggregation reduces
    * each mapper's feed to one candidate per key before the shuffle, so
    * the exchange carries |keys| rows regardless of feed size. The
    * oracle expresses the same semantics in the portable
    * ROW_NUMBER() = 1 form; (ts, seq) is unique, so both forms pick the
    * same row.
    */
  def cdcUpsert(spark: SparkSession, sfDir: String): DataFrame =
    latestSnapshot(changeFeed(spark, sfDir))
      .orderBy(col("client_id"))

  /** Keep-latest state per key from a change feed — the `max_by` over a
    * composite (ts, seq) ordering struct. Pure aggregation: partial-
    * aggregatable, combiner-reduced, one hash exchange on the key.
    * Shared by [[cdcUpsert]] (the snapshot product) and
    * [[snapshotDiff]] (which builds one snapshot per replica). */
  private def latestSnapshot(feed: DataFrame): DataFrame =
    feed.groupBy(col("client_id"))
      .agg(max_by(
        struct(col("ts"), col("seq"), col("tier")),
        struct(col("ts"), col("seq"))).as("last"))
      .select(col("client_id"), col("last.tier").as("tier"),
        col("last.ts").as("updated_at"), col("last.seq").as("last_seq"))

  val cdcUpsertSql: String =
    """SELECT o_custkey AS client_id, o_orderpriority AS tier,
      |       o_orderdate AS updated_at, o_orderkey AS last_seq
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
      |        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |      FROM orders)
      |WHERE rn = 1
      |ORDER BY client_id""".stripMargin

  private[graft] def upsertLifecycleBase(sfDir: String): String =
    "graft_ups_lc_" + Layout.corpusTag(sfDir)

  /** The keep-latest-UPSERT lifecycle under the oracle — stream ≡
    * batch proof #12, and the first over CUSTOM KEYED STREAMING STATE
    * (`flatMapGroupsWithState`, not a built-in aggregate or join):
    * EVEN client_ids bootstrapped as a batch snapshot (one keep-latest
    * row each — the production "initial load" shape) into a fresh
    * epoch; ODD client_ids replayed through
    * [[graft.streaming.CdcStream.upsertStateStream]], whose per-key
    * state emits every improvement into the same epoch. The final
    * serve is ONE keep-latest reduce over the accumulated rows under
    * the verbatim [[cdcUpsertSql]] oracle.
    *
    * Why the final reduce doesn't weaken the proof: emissions are
    * always REAL feed rows, and a key's true latest record always
    * strictly improves the stream state on arrival, so it always
    * emits — the reduce can only land on the true latest if the state
    * discipline actually tracked it (keep-first, or a missed
    * improvement, leaves the latest un-emitted and fails the hash).
    * Deterministic regardless of file replay order: max by (ts, seq)
    * is order-free. Rotates a fresh epoch every call and prunes to two.
    */
  def upsertLifecycle(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = upsertLifecycleBase(sfDir)
    val feed = changeFeed(spark, sfDir)
    val t = Layout.rotateEpoch(spark, base) { name =>
      latestSnapshot(feed.filter(col("client_id") % 2 === 0))
        .select(col("client_id"), col("updated_at").as("ts"),
          col("last_seq").as("seq"), col("tier"))
        .write.format("parquet").mode("overwrite").saveAsTable(name)
    }
    Layout.replayAsStream(feed.filter(col("client_id") % 2 =!= 0), "graft-upslc") {
      stream =>
        graft.streaming.CdcStream.upsertStateStream(
          stream.as[graft.streaming.CdcStream.ChangeRec], base)
    }
    Layout.pruneEpochs(spark, base, keep = 2)
    latestSnapshot(spark.table(t)).orderBy(col("client_id"))
  }

  // ------------------------------------------------------- snapshot diff

  /** Cutoff splitting the orders feed into the two replicas' slices —
    * mid-range of the fixtures' 1995..2001 span, so both sides hold
    * exclusive keys and shared-key value drift. */
  private val DiffCut = "1998-01-01"

  /** Snapshot diff — the row-level companion to [[tableChecksum]]: the
    * checksum says WHETHER two replicas diverged; the diff says WHERE.
    * Each replica's state is its keep-latest snapshot
    * ([[latestSnapshot]] — replica A saw the feed before [[DiffCut]],
    * replica B the feed from it on); the diff is a full-outer join on
    * the key classifying every row as `added` (B only), `removed`
    * (A only), or `changed` (both, tracked attribute differs) —
    * matching rows are dropped, so the output IS the drift.
    *
    * Scale shape: two combiner-reduced hash aggregations, one exchange
    * each on `client_id`; the full-outer join REUSES that partitioning
    * (both sides arrive hash-partitioned on the join key, so
    * EnsureRequirements inserts no third exchange — machine-checked by
    * the spec's exchange audit). Output is bounded by the drifted keys,
    * not the feed: at 100 TB the join carries one row per key per side.
    */
  def snapshotDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val feed = changeFeed(spark, sfDir)
    snapshotDiffOver(
      feed.filter(col("ts") < lit(DiffCut).cast("timestamp")),
      feed.filter(col("ts") >= lit(DiffCut).cast("timestamp")))
  }

  /** The diff factored over any two (client_id, ts, seq, tier) feeds —
    * exposed for the spec's planted-status and empty-diff controls. */
  private[graft] def snapshotDiffOver(a: DataFrame, b: DataFrame): DataFrame = {
    val sa = latestSnapshot(a).select(col("client_id"), col("tier").as("tier_a"))
    val sb = latestSnapshot(b).select(col("client_id"), col("tier").as("tier_b"))
    sa.join(sb, Seq("client_id"), "full_outer")
      .withColumn("status",
        when(col("tier_a").isNull, lit("added"))
          .when(col("tier_b").isNull, lit("removed"))
          .otherwise(lit("changed")))
      // equal tracked values on a shared key are NOT drift — drop them
      // (tier is non-null within each side, so <=> is a plain compare)
      .filter(!(col("tier_a") <=> col("tier_b")))
      .select(col("client_id"), col("status"), col("tier_a"), col("tier_b"))
      .orderBy(col("client_id"))
  }

  val snapshotDiffSql: String =
    """WITH a AS (
      |  SELECT o_custkey AS client_id, o_orderpriority AS tier_a
      |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
      |          ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |        FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01')
      |  WHERE rn = 1
      |), b AS (
      |  SELECT o_custkey AS client_id, o_orderpriority AS tier_b
      |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
      |          ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |        FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01')
      |  WHERE rn = 1
      |)
      |SELECT client_id,
      |       CASE WHEN tier_a IS NULL THEN 'added'
      |            WHEN tier_b IS NULL THEN 'removed'
      |            ELSE 'changed' END AS status,
      |       tier_a, tier_b
      |FROM a FULL JOIN b USING (client_id)
      |WHERE tier_a IS DISTINCT FROM tier_b
      |ORDER BY client_id""".stripMargin

  // ------------------------------------------------------------ checksum

  /** Column canonicalization kinds shared by the Spark builder and the
    * oracle builder — ONE source of truth, so the two engines hash the
    * same canonical string by construction:
    *  - int: integral → decimal string
    *  - str: as-is
    *  - dbl: floor(x*100) as BIGINT (exact: both engines run the same
    *    IEEE-double multiply and floor; the fixtures' doubles are
    *    2-decimal money/metric values)
    *  - ts : epoch microseconds (tz-free exact integer; Spark
    *    `unix_micros` ≡ DuckDB `epoch_us` on the µs-normalized column)
    * Each field is LENGTH-PREFIXED after conversion — `V<bytes>:<value>`
    * (UTF-8 byte length: Spark `octet_length` ≡ DuckDB `strlen`), NULL
    * a bare `N` — so the canonical string is prefix-free: a separator
    * character INSIDE a value cannot shift content across a field
    * boundary (("a|b","c") vs ("a","b|c") hash differently), and no
    * real value can alias NULL. A plain concat_ws would have both
    * failure modes — exactly the corruption classes a migration
    * checksum exists to catch.
    */
  private val checksumTables: Seq[(String, Seq[(String, String)])] = Seq(
    "customer" -> Seq("c_custkey" -> "int", "c_name" -> "str",
      "c_nationkey" -> "int", "c_acctbal" -> "dbl", "c_mktsegment" -> "str"),
    "documents" -> Seq("doc_id" -> "int", "text" -> "str", "lang" -> "str",
      "source" -> "str", "n_chars" -> "int"),
    "events" -> Seq("event_id" -> "int", "ts" -> "ts", "user_id" -> "int",
      "event_type" -> "str", "value" -> "dbl", "props" -> "str"),
    "lineitem" -> Seq("l_orderkey" -> "int", "l_partkey" -> "int",
      "l_suppkey" -> "int", "l_linenumber" -> "int", "l_quantity" -> "dbl",
      "l_extendedprice" -> "dbl", "l_discount" -> "dbl", "l_tax" -> "dbl",
      "l_returnflag" -> "str", "l_linestatus" -> "str", "l_shipdate" -> "ts"),
    "nation" -> Seq("n_nationkey" -> "int", "n_name" -> "str",
      "n_regionkey" -> "int"),
    "orders" -> Seq("o_orderkey" -> "int", "o_custkey" -> "int",
      "o_orderstatus" -> "str", "o_totalprice" -> "dbl",
      "o_orderdate" -> "ts", "o_orderpriority" -> "str"))

  private def canonColumn(name: String, kind: String): Column = {
    val c = col(name)
    val s = kind match {
      case "int" => c.cast("string")
      case "str" => c
      case "dbl" => floor(c * lit(100)).cast("long").cast("string")
      // parquet µs-without-tz arrives as TIMESTAMP_NTZ, which
      // unix_micros rejects; the session pins UTC, so the cast is
      // value-preserving (the Tables.events precedent)
      case "ts"  => unix_micros(c.cast("timestamp")).cast("string")
    }
    when(s.isNull, lit("N"))
      .otherwise(concat(lit("V"), octet_length(s).cast("string"), lit(":"), s))
  }

  private def canonSqlColumn(name: String, kind: String): String = {
    val s = kind match {
      case "int" => s"CAST($name AS VARCHAR)"
      case "str" => name
      case "dbl" => s"CAST(CAST(floor($name * 100) AS BIGINT) AS VARCHAR)"
      case "ts"  => s"CAST(epoch_us(CAST($name AS TIMESTAMP)) AS VARCHAR)"
    }
    s"CASE WHEN ($s) IS NULL THEN 'N' ELSE 'V' || strlen($s) || ':' || ($s) END"
  }

  /** Order-independent 56-bit row-hash checksum per row: md5 of the
    * '|'-joined canonical row string, first 14 hex chars as a BIGINT.
    * Exposed for the spec's permutation/sensitivity controls. */
  private[graft] def rowHash(cols: Seq[(String, String)]): Column =
    conv(substring(md5(concat_ws("|",
      cols.map { case (n, k) => canonColumn(n, k) }: _*)), 1, 14), 16, 10)
      .cast("long")

  /** Table fingerprints for migration / replication validation: per
    * table, the row count and the SUM of per-row 56-bit hashes as an
    * exact DECIMAL(38,0) (rendered as a string so the value is
    * engine-portable). Addition is commutative, so the checksum is
    * invariant under row order, partitioning, file layout, and cluster
    * topology — two systems holding the same logical rows produce the
    * same line, full stop. One embarrassingly-parallel scan per table,
    * one 1-row aggregate; nothing here changes shape at 100 TB.
    */
  def tableChecksum(spark: SparkSession, sfDir: String): DataFrame =
    checksumTables.map { case (table, cols) =>
      val df = table match {
        // events reads through the µs normalization in Tables.events
        case "events" => Tables.events(spark, sfDir)
        case t        => Tables.read(spark, sfDir, t)
      }
      df.select(rowHash(cols).as("hv"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("hv").cast("decimal(38,0)")).cast("string").as("checksum"))
        .select(lit(table).as("table_name"), col("n_rows"), col("checksum"))
    }.reduce(_ unionAll _)
      .orderBy(col("table_name"))

  val tableChecksumSql: String =
    checksumTables.map { case (table, cols) =>
      val row = cols.map { case (n, k) => canonSqlColumn(n, k) }
        .mkString("CONCAT_WS('|', ", ", ", ")")
      s"""SELECT '$table' AS table_name,
         |  CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(CAST(SUM(CAST(CONCAT('0x', substring(md5($row), 1, 14)) AS BIGINT))
         |    AS DECIMAL(38,0)) AS VARCHAR) AS checksum
         |FROM $table""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY table_name")

  // ----------------------------------------------------------- anomalies

  /** Robust outlier monitoring per group — the data-quality tripwire a
    * pipeline runs on every ingest: per event_type, the median and the
    * MAD (median absolute deviation — robust to the very outliers it
    * hunts, unlike stddev) of the value column, plus the count of rows
    * beyond 5×MAD. ALL arithmetic in exact integer-cents space:
    * values floor to cents, and percentile interpolation over integers
    * yields halves/quarters — exact binary fractions — so the median,
    * the MAD, and every boundary comparison are bit-identical
    * cross-engine (the q_doc_quantiles precedent, hardened: no data
    * value can sit one ulp from the 5×MAD fence).
    *
    * Plan: two aggregation passes over the same 2-column scan (medians
    * need the first pass's result to center the second), the 5-row
    * median table broadcast back. At 100 TB the exact percentile
    * switches to the KLL sketch per the q_doc_quantiles_approx
    * precedent; the fence count stays a row-local predicate.
    */
  def anomalyMad(spark: SparkSession, sfDir: String): DataFrame = {
    import Materialize.CorpusSyntax
    val e = Tables.events(spark, sfDir)
      .select(col("event_type"),
        floor(col("value") * lit(100)).cast("long").as("cents"))
    val med = e.groupBy(col("event_type"))
      .agg(percentile(col("cents"), lit(0.5)).as("med_cents"))
    // centered deviations feed BOTH the MAD aggregate and the fence
    // count — materialize once (corpus-sized: one narrow row per event)
    val dev = e.join(broadcast(med), "event_type")
      .select(col("event_type"), col("med_cents"),
        abs(col("cents") - col("med_cents")).as("dev"))
      .corpusCheckpoint()
    val stats = dev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        // first() is order-nondeterministic in general; safe here
        // because med_cents is constant within each group (joined
        // from the per-type median frame) — any row yields the value
        first(col("med_cents")).as("med_cents"),
        percentile(col("dev"), lit(0.5)).as("mad_cents"))
    val outliers = dev
      .join(broadcast(stats.select(col("event_type"), col("mad_cents"))),
        "event_type")
      .groupBy(col("event_type"))
      .agg(sum(when(col("dev") > col("mad_cents") * 5, 1L).otherwise(0L))
        .as("n_outliers"))
    stats.join(outliers, "event_type")
      .select(col("event_type"), col("n_events"), col("med_cents"),
        col("mad_cents"), col("n_outliers"))
      .orderBy(col("event_type"))
  }

  val anomalyMadSql: String =
    """WITH c AS (
      |  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS cents
      |  FROM events
      |), m AS (
      |  SELECT event_type, quantile_cont(cents, 0.5) AS med_cents
      |  FROM c GROUP BY event_type
      |), d AS (
      |  SELECT c.event_type, abs(c.cents - m.med_cents) AS dev, m.med_cents
      |  FROM c JOIN m ON c.event_type = m.event_type
      |), s AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
      |    ANY_VALUE(med_cents) AS med_cents,
      |    quantile_cont(dev, 0.5) AS mad_cents
      |  FROM d GROUP BY event_type
      |)
      |SELECT s.event_type, s.n_events, s.med_cents, s.mad_cents,
      |  CAST(SUM(CASE WHEN d.dev > s.mad_cents * 5 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_outliers
      |FROM s JOIN d ON s.event_type = d.event_type
      |GROUP BY 1, 2, 3, 4
      |ORDER BY s.event_type""".stripMargin

  /** WINSORIZATION — the per-group quantile clipping every tabular
    * featurization pipeline runs before a heavy tail poisons a model
    * (cap each event's value at its type's [1/16, 15/16] quantiles).
    * The bound fractions are DYADIC SIXTEENTHS by design, the
    * [[q_equidepth_histogram]]/[[docQuantiles]] exactness rule: type-7
    * interpolation computes h = (n−1)·p, and a dyadic p makes every
    * interpolated bound an exact binary fraction of integer cents —
    * bit-identical in both engines, no data value ever one ulp from a
    * clip fence (the conventional 1%/99% fractions interpolate in
    * hundredths, which ARE lossy in binary floating point). The gated
    * sum carries 16·clip(cents) — an exact integer both engines must
    * reproduce digit for digit (|16·w| bounded far under 2^53).
    *
    * Plan: one pass computes the per-type exact percentile bounds
    * (map-side-combinable percentile state), the k-row bounds frame
    * broadcasts back onto the second pass — the [[anomalyMad]] shape.
    * At 100 TB the exact percentile switches to the KLL sketch per the
    * q_doc_quantiles_approx precedent; clipping stays a row-local
    * predicate against broadcast bounds.
    */
  def winsorize(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
      .select(col("event_type"), floor(col("value") * 100).cast("long").as("cents"))
    val bounds = e.groupBy(col("event_type"))
      .agg(percentile(col("cents"), lit(0.0625)).as("lo"),
        percentile(col("cents"), lit(0.9375)).as("hi"))
    e.join(broadcast(bounds), "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n_rows"),
        sum(when(col("cents") < col("lo"), 1L).otherwise(0L))
          .cast("long").as("n_clipped_lo"),
        sum(when(col("cents") > col("hi"), 1L).otherwise(0L))
          .cast("long").as("n_clipped_hi"),
        sum((greatest(col("lo"), least(col("hi"), col("cents").cast("double")))
          * 16d).cast("long")).cast("long").as("wsum16"))
      .orderBy(col("event_type"))
  }

  val winsorizeSql: String =
    """WITH e AS (
      |  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS cents
      |  FROM events
      |), b AS (
      |  SELECT event_type, quantile_cont(cents, 0.0625) AS lo,
      |    quantile_cont(cents, 0.9375) AS hi
      |  FROM e GROUP BY event_type
      |)
      |SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CASE WHEN e.cents < b.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_lo,
      |  CAST(SUM(CASE WHEN e.cents > b.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_hi,
      |  CAST(SUM(CAST(GREATEST(b.lo, LEAST(b.hi, CAST(e.cents AS DOUBLE))) * 16
      |    AS BIGINT)) AS BIGINT) AS wsum16
      |FROM e JOIN b ON e.event_type = b.event_type
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------- profile

  private val profileColumns =
    Seq("doc_id", "text", "lang", "source", "n_chars")

  /** Catalog-grade column profile of `documents`: per column, the null
    * count, exact distinct count, and min/max (rendered as strings so
    * one long-format frame carries every column's stats). ONE scan: all
    * aggregates run in a single Aggregate node (the k distinct counts
    * expand the input ×k — the exact-profile cost; at 100 TB the
    * distinct column switches to the HLL sketch, the rest is unchanged),
    * then `stack` pivots the 1-row wide result to long form.
    */
  def profileStats(spark: SparkSession, sfDir: String): DataFrame =
    profileOver(Tables.documents(spark, sfDir), profileColumns)

  /** The one-scan profiler over any frame/column list — factored so
    * the spec can exercise the null-counting path on a planted frame
    * (the corpus `documents` table happens to contain no NULLs). */
  private[graft] def profileOver(d: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(
        (count(lit(1)) - count(col(c))).as(s"${c}_nulls"),
        count_distinct(col(c)).as(s"${c}_distinct"),
        min(col(c)).cast("string").as(s"${c}_min"),
        max(col(c)).cast("string").as(s"${c}_max"))
    }
    val stack = cols
      .map(c => s"'$c', ${c}_nulls, ${c}_distinct, ${c}_min, ${c}_max")
      .mkString(s"stack(${cols.size}, ", ", ",
        ") AS (column_name, n_nulls, n_distinct, min_val, max_val)")
    d.agg(count(lit(1)).as("n_rows"), aggs: _*)
      .selectExpr(stack, "n_rows")
      .orderBy(col("column_name"))
  }

  val profileStatsSql: String =
    profileColumns.map { c =>
      s"""SELECT '$c' AS column_name,
         |  CAST(COUNT(*) - COUNT($c) AS BIGINT) AS n_nulls,
         |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
         |  CAST(MIN($c) AS VARCHAR) AS min_val,
         |  CAST(MAX($c) AS VARCHAR) AS max_val,
         |  CAST(COUNT(*) AS BIGINT) AS n_rows
         |FROM documents""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name")

  // ----------------------------------------------------------- FK inference

  /** Candidate (child, parent) column pairs swept by [[fkInference]]:
    * the seven true TPC-H-shape foreign keys plus a negative control
    * (orders.o_orderkey → customer.c_custkey: the orderkey range
    * exceeds the custkey range, so containment fails and the row must
    * come out `inferred = false` per the DATA, not per a hardcoded
    * answer key). */
  private val fkCandidates: Seq[(String, String, String, String)] = Seq(
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("orders", "o_orderkey", "customer", "c_custkey"))

  /** Foreign-key inference — the catalog-discovery pass a governance
    * layer runs over an undocumented lake: for each candidate column
    * pair, measure value CONTAINMENT (what fraction of the child's
    * distinct values exist in the parent column) and parent UNIQUENESS;
    * an FK is inferred when containment is total and the parent column
    * is a key. Both signals come from the data — the candidate list
    * only bounds the sweep (in production: all same-typed column pairs
    * passing a sketch-level prefilter).
    *
    * Scale, per pair: the child side reduces to its distinct values
    * map-side (combiner) before one shuffle; containment is a LEFT SEMI
    * join at the distinct grain (broadcast when the parent is a small
    * dimension, SMJ otherwise — Catalyst's call); parent uniqueness is
    * one combiner-reduced aggregate. Nothing touches full-fact-table
    * grain except the initial scans, which prune to ONE column each.
    */
  def fkInference(spark: SparkSession, sfDir: String): DataFrame = {
    val pairRows = fkCandidates.map { case (ct, cc, pt, pc) =>
      val child = Tables.read(spark, sfDir, ct)
        .select(col(cc).cast("long").as("v")).filter(col("v").isNotNull)
      val parent = Tables.read(spark, sfDir, pt)
        .select(col(pc).cast("long").as("v")).filter(col("v").isNotNull)
      val childD = child.distinct()
      val contained = childD.join(parent, Seq("v"), "left_semi")
      val stats = childD.agg(count(lit(1)).as("n_child_distinct"))
        .crossJoin(contained.agg(count(lit(1)).as("n_contained")))
        .crossJoin(parent.agg(count(lit(1)).as("n_parent"),
          count_distinct(col("v")).as("n_parent_distinct")))
      stats.select(
        lit(s"$ct.$cc").as("child_col"),
        lit(s"$pt.$pc").as("parent_col"),
        col("n_child_distinct"), col("n_contained"),
        col("n_parent"), col("n_parent_distinct"),
        (col("n_contained").cast("double") / col("n_child_distinct")).as("containment"),
        (col("n_contained") === col("n_child_distinct") &&
          col("n_parent_distinct") === col("n_parent")).as("inferred"))
    }
    pairRows.reduce(_ unionAll _).orderBy(col("child_col"), col("parent_col"))
  }

  val fkInferenceSql: String =
    fkCandidates.map { case (ct, cc, pt, pc) =>
      s"""SELECT '$ct.$cc' AS child_col, '$pt.$pc' AS parent_col,
         |  (SELECT CAST(COUNT(DISTINCT CAST($cc AS BIGINT)) AS BIGINT) FROM $ct) AS n_child_distinct,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM
         |     (SELECT DISTINCT CAST($cc AS BIGINT) AS v FROM $ct WHERE $cc IS NOT NULL) c
         |     WHERE c.v IN (SELECT CAST($pc AS BIGINT) FROM $pt)) AS n_contained,
         |  (SELECT CAST(COUNT($pc) AS BIGINT) FROM $pt) AS n_parent,
         |  (SELECT CAST(COUNT(DISTINCT CAST($pc AS BIGINT)) AS BIGINT) FROM $pt) AS n_parent_distinct""".stripMargin
    }.mkString(
      "WITH pairs AS (\n", "\nUNION ALL\n",
      """
        |)
        |SELECT child_col, parent_col, n_child_distinct, n_contained,
        |  n_parent, n_parent_distinct,
        |  CAST(n_contained AS DOUBLE) / n_child_distinct AS containment,
        |  (n_contained = n_child_distinct AND n_parent_distinct = n_parent) AS inferred
        |FROM pairs ORDER BY child_col, parent_col""".stripMargin)

  // --------------------------------------------------- RFM segmentation

  /** RFM customer segmentation — the classic lifecycle-marketing
    * partition: per customer, Recency (days since last order),
    * Frequency (order count), Monetary (lifetime cents); each scored
    * 1-4 against the population's QUARTILE boundaries; segments
    * labeled from the score triple. Quartiles (not quintiles) on
    * purpose: 0.25/0.5/0.75 are exact binary fractions, so the
    * interpolated boundaries over integer inputs are bit-identical
    * cross-engine (the q_anomaly_mad discipline extended from the
    * median to all three quartiles).
    *
    * Scale: one combiner-reduced aggregate to customer grain, one
    * 1-row quartile aggregate over it broadcast back (allowlisted
    * 1×n cross), row-local scoring, and a ≤64-cell final rollup.
    * Output at the segment grain — corpus-size-independent.
    */
  def rfmSegments(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val anchor = o.agg(max(to_date(col("o_orderdate")))).head().getDate(0)
    val perCust = o.groupBy(col("o_custkey"))
      .agg(
        datediff(lit(anchor), max(to_date(col("o_orderdate")))).cast("long").as("r"),
        count(lit(1)).as("f"),
        sum(floor(col("o_totalprice") * 100).cast("long")).as("m"))
    val qs = perCust.agg(
      percentile(col("r"), lit(0.25)).as("r1"), percentile(col("r"), lit(0.5)).as("r2"),
      percentile(col("r"), lit(0.75)).as("r3"),
      percentile(col("f"), lit(0.25)).as("f1"), percentile(col("f"), lit(0.5)).as("f2"),
      percentile(col("f"), lit(0.75)).as("f3"),
      percentile(col("m"), lit(0.25)).as("m1"), percentile(col("m"), lit(0.5)).as("m2"),
      percentile(col("m"), lit(0.75)).as("m3"))
    def upScore(v: Column, b1: Column, b2: Column, b3: Column): Column =
      lit(1L) + when(v > b1, 1L).otherwise(0L) +
        when(v > b2, 1L).otherwise(0L) + when(v > b3, 1L).otherwise(0L)
    def downScore(v: Column, b1: Column, b2: Column, b3: Column): Column =
      lit(1L) + when(v < b3, 1L).otherwise(0L) +
        when(v < b2, 1L).otherwise(0L) + when(v < b1, 1L).otherwise(0L)
    perCust.crossJoin(broadcast(qs)) // 1-row boundary panel
      .select(
        downScore(col("r"), col("r1"), col("r2"), col("r3")).as("r_score"),
        upScore(col("f"), col("f1"), col("f2"), col("f3")).as("f_score"),
        upScore(col("m"), col("m1"), col("m2"), col("m3")).as("m_score"))
      .withColumn("segment",
        when(col("r_score") >= 3 && col("f_score") >= 3 && col("m_score") >= 3, "champion")
          .when(col("r_score") >= 3 && col("f_score") >= 2, "loyal")
          .when(col("r_score") >= 3, "recent")
          .when(col("f_score") >= 3 && col("m_score") >= 3, "at_risk_valuable")
          .otherwise("hibernating"))
      .groupBy(col("r_score"), col("f_score"), col("m_score"), col("segment"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("r_score"), col("f_score"), col("m_score"))
  }

  val rfmSegmentsSql: String =
    """WITH per_cust AS (
      |  SELECT o_custkey,
      |    CAST(date_diff('day', MAX(CAST(o_orderdate AS DATE)),
      |      (SELECT MAX(CAST(o_orderdate AS DATE)) FROM orders)) AS BIGINT) AS r,
      |    CAST(COUNT(*) AS BIGINT) AS f,
      |    CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS m
      |  FROM orders GROUP BY 1
      |), qs AS (
      |  SELECT
      |    quantile_cont(r, 0.25) AS r1, quantile_cont(r, 0.5) AS r2, quantile_cont(r, 0.75) AS r3,
      |    quantile_cont(f, 0.25) AS f1, quantile_cont(f, 0.5) AS f2, quantile_cont(f, 0.75) AS f3,
      |    quantile_cont(m, 0.25) AS m1, quantile_cont(m, 0.5) AS m2, quantile_cont(m, 0.75) AS m3
      |  FROM per_cust
      |), scored AS (
      |  SELECT
      |    1 + CASE WHEN r < r3 THEN 1 ELSE 0 END + CASE WHEN r < r2 THEN 1 ELSE 0 END
      |      + CASE WHEN r < r1 THEN 1 ELSE 0 END AS r_score,
      |    1 + CASE WHEN f > f1 THEN 1 ELSE 0 END + CASE WHEN f > f2 THEN 1 ELSE 0 END
      |      + CASE WHEN f > f3 THEN 1 ELSE 0 END AS f_score,
      |    1 + CASE WHEN m > m1 THEN 1 ELSE 0 END + CASE WHEN m > m2 THEN 1 ELSE 0 END
      |      + CASE WHEN m > m3 THEN 1 ELSE 0 END AS m_score
      |  FROM per_cust, qs
      |)
      |SELECT CAST(r_score AS BIGINT) AS r_score, CAST(f_score AS BIGINT) AS f_score,
      |  CAST(m_score AS BIGINT) AS m_score,
      |  CASE WHEN r_score >= 3 AND f_score >= 3 AND m_score >= 3 THEN 'champion'
      |       WHEN r_score >= 3 AND f_score >= 2 THEN 'loyal'
      |       WHEN r_score >= 3 THEN 'recent'
      |       WHEN f_score >= 3 AND m_score >= 3 THEN 'at_risk_valuable'
      |       ELSE 'hibernating' END AS segment,
      |  CAST(COUNT(*) AS BIGINT) AS n_customers
      |FROM scored
      |GROUP BY 1, 2, 3, 4
      |ORDER BY r_score, f_score, m_score""".stripMargin

  // ----------------------------------------------------- DQ expectations

  /** Data-quality expectations suite — the dbt-test / Great-
    * Expectations panel a pipeline gates ingestion on: each row is one
    * named assertion over `orders` with its violation count and
    * verdict. Checks: key not-null, key uniqueness, measure
    * non-negativity, date range, status domain, and referential
    * integrity to `customer` (a real anti-join, not a constant).
    *
    * Scale: every check is a combiner-reduced aggregate over a pruned
    * scan; the FK check is a LEFT ANTI join on the key (broadcast when
    * the dimension is small — Catalyst's call). The verdicts come from
    * the DATA; planting a violation flips a row (spec-proven on a
    * planted frame).
    */
  def dqChecks(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    def checkRow(name: String, violations: DataFrame): DataFrame =
      violations.agg(coalesce(sum(lit(1L)), lit(0L)).as("n_violations"))
        .select(lit(name).as("check_name"), col("n_violations"),
          (col("n_violations") === 0L).as("pass"))
    val dupKeys = o.groupBy(col("o_orderkey")).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
    val rows = Seq(
      checkRow("orderkey_not_null", o.filter(col("o_orderkey").isNull)),
      checkRow("orderkey_unique", dupKeys),
      checkRow("totalprice_nonnegative", o.filter(col("o_totalprice") < 0)),
      checkRow("orderdate_in_range", o.filter(
        col("o_orderdate") < lit("1990-01-01").cast("timestamp") ||
          col("o_orderdate") >= lit("2010-01-01").cast("timestamp"))),
      checkRow("status_in_domain", o.filter(
        !col("o_orderstatus").isin("O", "F", "P"))),
      checkRow("custkey_fk_valid", o.select(col("o_custkey"))
        .join(c.select(col("c_custkey").as("o_custkey")), Seq("o_custkey"), "left_anti")))
    rows.reduce(_ unionAll _).orderBy(col("check_name"))
  }

  val dqChecksSql: String =
    """WITH checks AS (
      |  SELECT 'orderkey_not_null' AS check_name,
      |    CAST(COUNT(*) FILTER (WHERE o_orderkey IS NULL) AS BIGINT) AS n_violations
      |  FROM orders
      |  UNION ALL
      |  SELECT 'orderkey_unique',
      |    CAST(COUNT(*) AS BIGINT)
      |  FROM (SELECT o_orderkey FROM orders GROUP BY 1 HAVING COUNT(*) > 1)
      |  UNION ALL
      |  SELECT 'totalprice_nonnegative',
      |    CAST(COUNT(*) FILTER (WHERE o_totalprice < 0) AS BIGINT)
      |  FROM orders
      |  UNION ALL
      |  SELECT 'orderdate_in_range',
      |    CAST(COUNT(*) FILTER (WHERE o_orderdate < TIMESTAMP '1990-01-01'
      |      OR o_orderdate >= TIMESTAMP '2010-01-01') AS BIGINT)
      |  FROM orders
      |  UNION ALL
      |  SELECT 'status_in_domain',
      |    CAST(COUNT(*) FILTER (WHERE o_orderstatus NOT IN ('O','F','P')) AS BIGINT)
      |  FROM orders
      |  UNION ALL
      |  SELECT 'custkey_fk_valid',
      |    CAST(COUNT(*) AS BIGINT)
      |  FROM orders o WHERE NOT EXISTS
      |    (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
      |)
      |SELECT check_name, n_violations, n_violations = 0 AS pass
      |FROM checks ORDER BY check_name""".stripMargin

  // ------------------------------------------------------ shard balance

  /** Hash-shard assignment audit — the balance check a layout planner
    * runs before committing a partitioning key: assign every document
    * to one of 32 shards by a content-independent hash of its key
    * (md5 prefix — the repo's engine-portable hash idiom), and report
    * per-shard row/byte loads plus each shard's deviation from the
    * ideal. A skewed key choice surfaces here BEFORE it becomes a
    * straggler executor.
    *
    * Scale: one row-local hash projection under a 32-group
    * combiner-reduced aggregate; the ideal-load reference is a 1-row
    * total broadcast back onto the 32 shard rows (the house 1×32
    * cross, allowlisted). Nothing global, nothing skewed by
    * construction — which is exactly what the output verifies.
    */
  def shardAssignment(spark: SparkSession, sfDir: String): DataFrame = {
    val shards = Tables.documents(spark, sfDir)
      .select(
        (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 32).as("shard"),
        col("n_chars"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
    val total = shards.agg(sum(col("n_docs")).as("total_docs"))
    shards.crossJoin(broadcast(total)) // 32×1 — bounded, allowlisted
      .select(col("shard"), col("n_docs"), col("n_chars"),
        (col("n_docs").cast("double") * 32 / col("total_docs")).as("load_ratio"))
      .orderBy(col("shard"))
  }

  val shardAssignmentSql: String =
    """WITH g AS (
      |  SELECT CAST(CONCAT('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 32 AS shard,
      |         CAST(COUNT(*) AS BIGINT) AS n_docs,
      |         CAST(SUM(n_chars) AS BIGINT) AS n_chars
      |  FROM documents GROUP BY 1
      |)
      |SELECT shard, n_docs, n_chars,
      |  CAST(n_docs AS DOUBLE) * 32 / SUM(n_docs) OVER () AS load_ratio
      |FROM g ORDER BY shard""".stripMargin

  // ------------------------------------------- equi-depth histogram

  /** EQUI-DEPTH histogram of order totals — the statistic ANALYZE
    * actually stores for an optimizer's selectivity estimates
    * (equi-WIDTH, [[graft.operators.RelOps]]'s q_numeric_histogram
    * sibling, wastes buckets on empty ranges under skew; equi-depth
    * puts ~N/16 rows in each). Boundaries are the exact type-7
    * interpolated quantiles at k/16 over INTEGER CENTS: every
    * interpolation fraction is a multiple of 1/16 — an exact binary
    * fraction — so `16·quantile` is an exact integer both engines must
    * reproduce digit for digit (the RFM-quartile discipline at
    * power-of-two grain). Output per bucket: (lo, hi] boundaries in
    * 16th-cent units plus the exact member count (bucket 1 inclusive
    * of the minimum); ties can legitimately skew counts, which the
    * oracle pins exactly rather than asserting a bound.
    *
    * Plan: one percentile aggregate (1 row), a 17-value bounded driver
    * collect, then ONE corpus pass assigning buckets via a row-local
    * 16-arm CASE ladder (codegen'd — no 16-row range join, no BNLJ, no
    * global sort) into a 16-group aggregate joined back onto the
    * boundary frame.
    */
  def equidepthHistogram(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .select(round(col("o_totalprice") * 100).cast("long").as("c"))
    val ps = (0 to 16).map(k => s"${k}d/16d").mkString(", ")
    val b16 = o.agg(expr(s"percentile(c, array($ps))")).head()
      .getSeq[Double](0).map(v => math.round(v * 16)) // exact dyadics
    val s = spark; import s.implicits._
    val buckets = (1 to 16)
      .map(k => (k.toLong, b16(k - 1), b16(k)))
      .toDF("bucket", "lo_16ths", "hi_16ths")
    val c16 = col("c") * 16
    val ladder = (1 to 15).foldRight(lit(16L)) { (k, rest) =>
      when(c16 <= b16(k), k.toLong).otherwise(rest)
    }
    val counts = o.select(ladder.as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_rows"))
    buckets.join(counts, Seq("bucket"), "left")
      .select(col("bucket"), col("lo_16ths"), col("hi_16ths"),
        coalesce(col("n_rows"), lit(0L)).as("n_rows"))
      .orderBy(col("bucket"))
  }

  val equidepthHistogramSql: String =
    """WITH v AS (
      |  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c FROM orders
      |), q AS (
      |  -- constant dyadic quantile list: k/16 for k = 0..16, all exact
      |  SELECT quantile_cont(c, [0.0, 0.0625, 0.125, 0.1875, 0.25, 0.3125,
      |    0.375, 0.4375, 0.5, 0.5625, 0.625, 0.6875, 0.75, 0.8125, 0.875,
      |    0.9375, 1.0]) AS qs
      |  FROM v
      |), b AS (
      |  SELECT CAST(t.k AS BIGINT) AS k,
      |    CAST(ROUND(qs[t.k + 1] * 16) AS BIGINT) AS b16
      |  FROM q, range(0, 17) t(k)
      |), asg AS (
      |  SELECT (SELECT MIN(b.k) FROM b WHERE b.k >= 1 AND v.c * 16 <= b.b16)
      |    AS bucket
      |  FROM v
      |), g AS (
      |  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_rows FROM asg GROUP BY 1
      |)
      |SELECT CAST(hi.k AS BIGINT) AS bucket, lo.b16 AS lo_16ths,
      |  hi.b16 AS hi_16ths, COALESCE(g.n_rows, 0) AS n_rows
      |FROM b hi
      |JOIN b lo ON lo.k = hi.k - 1
      |LEFT JOIN g ON g.bucket = hi.k
      |WHERE hi.k >= 1
      |ORDER BY bucket""".stripMargin

  // ------------------------------------------------------------- Z-order

  /** Bit-interleave of two 8-bit bucket coordinates into a 16-bit
    * Z-value, as a column expression — built identically (term by
    * term) for the SQL oracle by [[zInterleaveSql]]. */
  private def zInterleave(x: Column, y: Column): Column =
    (0 until 8).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i + 1) +
        shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i)
    }.reduce(_ + _)

  private def zInterleaveSql(x: String, y: String): String =
    (0 until 8).map { i =>
      s"((($x >> $i) & 1) << ${2 * i + 1}) + ((($y >> $i) & 1) << ${2 * i})"
    }.mkString(" + ")

  /** Z-order layout planning — what OPTIMIZE ZORDER BY (custkey,
    * orderdate) computes before it rewrites files: bucket both
    * clustering dimensions to 8 bits (min/max-anchored equi-width,
    * exact integer math), interleave into a 16-bit Z-value, assign
    * rows to 64 equal-size output files in Z order, and emit each
    * file's min/max extent per dimension — the stats a reader's file
    * pruner would consult. The spec proves the point of the exercise:
    * under a one-customer-bucket predicate the Z-ordered extents prune
    * ~7/8 of files while date-linear extents prune none.
    *
    * Scale: the global Z-rank is NOT a global sort — Z is a BOUNDED
    * 16-bit domain, so ranking decomposes into a Z-histogram
    * (combiner-reduced groupBy, ≤65,536 rows at ANY corpus size), a
    * driver-side exclusive prefix scan over it (bounded by the domain,
    * not the data), a broadcast join of the per-Z rank base, and a
    * row_number PARTITIONED by Z. The ntile arithmetic is then
    * row-local; the oracle uses DuckDB's native NTILE over a real sort
    * — two independent formulations that must agree exactly.
    */
  def zorderLayout(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey").cast("long").as("k"),
        to_date(col("o_orderdate")).as("d"))
    zAssign(o).groupBy(col("file_id"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("x")).as("x_min"), max(col("x")).as("x_max"),
        min(col("y")).as("y_min"), max(col("y")).as("y_max"))
      .orderBy(col("file_id"))
  }

  /** Row→file Z-order assignment for ANY (o_orderkey, k, d, …) frame —
    * the ONE layout definition shared by [[zorderLayout]] (the planning
    * key), [[ensureZonemapIndex]]'s physical build, and the zone-map
    * lifecycle's bulk epoch, so the PLANNED layout and the WRITTEN
    * layout cannot drift. Passthrough columns survive; adds x, y
    * (8-bit bucket coords anchored on the input's own min/max) and
    * file_id 1..64 — an exact NTILE(64) over (z, o_orderkey) built as
    * a Z-histogram (combiner-reduced groupBy, ≤ 2¹⁶ rows at ANY corpus
    * size), a driver exclusive prefix scan bounded by the domain,
    * broadcast rank bases, and a row_number PARTITIONED by z — never a
    * global sort (see [[zorderLayout]]'s scaladoc for the decomposition
    * argument).
    */
  private[graft] def zAssign(rows: DataFrame): DataFrame = {
    // bounds collect: one 4-column row — the min/max anchors any
    // equi-width bucketing needs (recompute-safe, 1 row)
    val b = rows.agg(min(col("k")), max(col("k")), min(col("d")), max(col("d"))).head()
    if (b.isNullAt(0)) // empty input: no anchors, no files
      return rows.withColumn("x", lit(0L)).withColumn("y", lit(0L))
        .withColumn("file_id", lit(1L)).filter(lit(false))
    val (kMin, kMax) = (b.getLong(0), b.getLong(1))
    val (dMin, dMax) = (b.getDate(2), b.getDate(3))
    val kSpan = kMax - kMin + 1
    val coords = rows
      .withColumn("x", expr(s"((k - $kMin) * 256) div $kSpan"))
      .withColumn("y",
        expr(s"(datediff(d, date'$dMin') * 256) div ${daysBetween(dMin, dMax) + 1}"))
    val zed = coords.withColumn("z", zInterleave(col("x"), col("y")))
    // Z-histogram → driver exclusive scan → broadcast rank bases.
    // Bounded by the 2^16 Z domain at any corpus size, not by the data.
    val hist = zed.groupBy(col("z")).agg(count(lit(1)).as("c"))
      .orderBy(col("z")).collect()
    val n = hist.map(_.getLong(1)).sum
    var acc = 0L
    val bases = hist.map { r =>
      val t = (r.getLong(0), acc); acc += r.getLong(1); t
    }.toSeq
    val baseDf = broadcast(
      rows.sparkSession.createDataFrame(bases).toDF("z", "rank_base"))
    // ntile(64) replicated exactly: first n%64 files get size+1 rows
    val (size, rem) = (n / 64, n % 64)
    val cut = rem * (size + 1)
    zed.join(baseDf, "z")
      .withColumn("rank0", col("rank_base") +
        row_number().over(Window.partitionBy(col("z")).orderBy(col("o_orderkey"))) - 1)
      .withColumn("file_id",
        when(col("rank0") < cut, expr(s"rank0 div ${size + 1}"))
          .otherwise(lit(rem) + expr(s"(rank0 - $cut) div ${math.max(size, 1)}")) + 1L)
      .drop("z", "rank_base", "rank0")
  }

  private def daysBetween(a: java.sql.Date, b: java.sql.Date): Long =
    java.time.temporal.ChronoUnit.DAYS.between(a.toLocalDate, b.toLocalDate)

  // ------------------------------------------------- compaction planning

  /** Target compacted-file size for [[compactionPlan]] — 256 KiB against
    * the testdata's KB-scale partition "files" (a production table
    * service uses 128 MiB–1 GiB; the arithmetic is identical). */
  private[graft] val CompactionTargetBytes = 262144L

  /** Small-file COMPACTION planning — the bin-packing step a lakehouse
    * table service (Delta OPTIMIZE, Iceberg rewrite_data_files) runs
    * before rewriting: given the small-file inventory, assign files to
    * target-sized output bins. Inventory here = one "file" per
    * (event_type, day) hive-partition cell of events, bytes = payload
    * octet length + fixed row overhead. The packing rule is the
    * standard sorted next-fit: order files by (bytes DESC, key) and cut
    * the exclusive running sum at target boundaries —
    * `bin = cum_before div target`. Two structural guarantees follow
    * (spec-asserted on the corpus AND a crafted fixture):
    * n_bins ≤ ⌈total/target⌉ (never more output files than ideal), and
    * every bin's total < target + max_file_bytes (next-fit's additive
    * overshoot bound).
    *
    * Scale: the inventory is FILE-GRAIN METADATA — a 100 TB table at
    * 128 MiB files is ~800K rows, and the plan never touches data. The
    * running sum still refuses a global window (the plan-audit
    * invariant): bytes bit-length is a BOUNDED partition key (≤64
    * classes, and class k's every file strictly outranks class k−1's,
    * so concatenating classes descending IS the global bytes-DESC
    * order), giving the zorder/skyline decomposition — per-class
    * PARTITIONED windows + a ≤64-row driver prefix scan + broadcast
    * class bases. The oracle computes the same sum with DuckDB's
    * native global window — two independent formulations that must
    * agree to the byte.
    */
  def compactionPlan(spark: SparkSession, sfDir: String): DataFrame = {
    val inv = Tables.events(spark, sfDir)
      .groupBy(col("event_type"),
        to_date(date_trunc("day", col("ts"))).as("day"))
      .agg(sum(octet_length(col("props")) + lit(48L)).as("bytes"))
    compactionBins(inv, CompactionTargetBytes)
  }

  /** Library core of [[compactionPlan]]: bin assignment for any
    * (event_type, day, bytes) inventory frame — factored out so specs
    * can drive crafted inventories (bigger-than-target files, exact
    * boundary hits). */
  private[graft] def compactionBins(inventory: DataFrame, target: Long): DataFrame = {
    val spark = inventory.sparkSession
    val inv = inventory.localCheckpoint() // file-grain metadata rows
    // size class = bit length of bytes — exact integer log2 bucketing
    // (a double log2 could misbucket at power-of-two boundaries)
    val classed = inv.withColumn("sc",
      length(conv(col("bytes"), 10, 2)).cast("long"))
    val classTotals = classed.groupBy(col("sc")).agg(sum(col("bytes")).as("cb"))
      .orderBy(col("sc").desc).collect() // ≤64 rows at any corpus size
    var acc = 0L
    val bases = classTotals.map { r =>
      val t = (r.getLong(0), acc); acc += r.getLong(1); t
    }.toSeq
    val baseDf = broadcast(
      spark.createDataFrame(bases).toDF("sc", "base"))
    val w = Window.partitionBy(col("sc"))
      .orderBy(col("bytes").desc, col("event_type"), col("day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    classed.join(baseDf, "sc")
      .withColumn("cum_before",
        col("base") + coalesce(sum(col("bytes")).over(w), lit(0L)))
      .withColumn("bin", expr(s"cum_before div $target"))
      .select(col("event_type"), col("day"), col("bytes"),
        col("cum_before"), col("bin"))
      .orderBy(col("bytes").desc, col("event_type"), col("day"))
  }

  val compactionPlanSql: String =
    s"""WITH inv AS (
       |  SELECT event_type,
       |    CAST(date_trunc('day', ts) AS DATE) AS day,
       |    CAST(SUM(strlen(props) + 48) AS BIGINT) AS bytes -- strlen = BYTE length (Spark octet_length)
       |  FROM events GROUP BY 1, 2
       |), c AS (
       |  SELECT event_type, day, bytes,
       |    CAST(COALESCE(SUM(bytes) OVER (
       |      ORDER BY bytes DESC, event_type, day
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS cum_before
       |  FROM inv
       |)
       |SELECT event_type, day, bytes, cum_before,
       |  cum_before // $CompactionTargetBytes AS bin
       |FROM c ORDER BY bytes DESC, event_type, day""".stripMargin

  val zorderLayoutSql: String =
    s"""WITH b AS (
       |  SELECT MIN(o_custkey) AS kmin, MAX(o_custkey) AS kmax,
       |         MIN(CAST(o_orderdate AS DATE)) AS dmin,
       |         MAX(CAST(o_orderdate AS DATE)) AS dmax
       |  FROM orders
       |), e AS (
       |  SELECT o_orderkey,
       |    ((o_custkey - kmin) * 256) // (kmax - kmin + 1) AS x,
       |    (date_diff('day', dmin, CAST(o_orderdate AS DATE)) * 256)
       |      // (date_diff('day', dmin, dmax) + 1) AS y
       |  FROM orders, b
       |), z AS (
       |  SELECT o_orderkey, x, y, ${zInterleaveSql("x", "y")} AS z FROM e
       |), t AS (
       |  SELECT x, y, CAST(NTILE(64) OVER (ORDER BY z, o_orderkey) AS BIGINT) AS file_id
       |  FROM z
       |)
       |SELECT file_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  MIN(x) AS x_min, MAX(x) AS x_max, MIN(y) AS y_min, MAX(y) AS y_max
       |FROM t GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------ zone-map file skipping

  /** Sidecar suffix of the zone-map index families. */
  private[graft] val ZmapSuffix = "_zmap"

  /** The (o_orderkey, k, d, prio, cents) projection every zone-map path
    * shares: the two clustering dimensions plus the serve columns, cents
    * as the exact-integer money discipline (`floor(price·100)`). */
  private[graft] def ordersKd(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir).select(
      col("o_orderkey"),
      col("o_custkey").cast("long").as("k"),
      to_date(col("o_orderdate")).as("d"),
      col("o_orderpriority").as("prio"),
      floor(col("o_totalprice") * 100).cast("long").as("cents"))

  /** One zone-map row per physical file: the min/max VALUE extents a
    * reader's pruner consults, plus the row count — FILE-GRAIN metadata
    * (64 rows for the bulk layout + one per appended batch; a 100 TB
    * table at 128 MiB files is ~800K rows, and the pruner never touches
    * data). */
  private[graft] def zmapOf(assigned: DataFrame): DataFrame =
    assigned.groupBy(col("file_id"))
      .agg(min(col("k")).as("k_min"), max(col("k")).as("k_max"),
        min(col("d")).as("d_min"), max(col("d")).as("d_max"),
        count(lit(1)).as("n_rows"))

  /** Physically write one zone-map epoch: the Z-assigned rows land as
    * ONE parquet file per file_id (a `repartition(64, file_id)` ahead
    * of `partitionBy` keeps each file_id in exactly one task, so each
    * partition directory holds exactly one file), and the `_zmap`
    * sidecar records each file's value extents — aggregated from a
    * READ-BACK of the written table, so the stats ledger what is
    * physically on disk rather than what the writer intended (the
    * distinction a partial write failure exposes). */
  private[graft] def buildZonemapEpoch(spark: SparkSession, name: String,
      rows: DataFrame): Unit = {
    zAssign(rows)
      .select(col("o_orderkey"), col("k"), col("d"), col("prio"),
        col("cents"), col("file_id"))
      .repartition(64, col("file_id"))
      .write.format("parquet").partitionBy("file_id")
      .mode("overwrite").saveAsTable(name)
    zmapOf(spark.table(name)).write.format("parquet").mode("overwrite")
      .saveAsTable(name + ZmapSuffix)
  }

  /** [[buildZonemapEpoch]] returning the written epoch's rows,
    * materialized from ONE physical read-back that serves BOTH the
    * `_zmap` sidecar aggregation and the caller's post-build consumer
    * (r16, guide §2.4 — [[mergeOnRead]]'s convergence probe previously
    * re-scanned the freshly written 64-file table the sidecar
    * aggregation had just read in full; at 100 TB that second scan is
    * corpus-sized). The stats still ledger what is physically on disk
    * — the checkpoint IS the read-back.
    */
  private[graft] def buildZonemapEpochReadBack(spark: SparkSession,
      name: String, rows: DataFrame): DataFrame = {
    zAssign(rows)
      .select(col("o_orderkey"), col("k"), col("d"), col("prio"),
        col("cents"), col("file_id"))
      .repartition(64, col("file_id"))
      .write.format("parquet").partitionBy("file_id")
      .mode("overwrite").saveAsTable(name)
    import Materialize.CorpusSyntax
    val back = spark.table(name).corpusCheckpoint()
    zmapOf(back).write.format("parquet").mode("overwrite")
      .saveAsTable(name + ZmapSuffix)
    back
  }

  private[graft] def zonemapBase(sfDir: String): String =
    "graft_zmap_" + Layout.corpusTag(sfDir)

  /** Resolve-or-build the persisted zone-map index family over orders
    * (build once per corpus; probes across calls reuse the epoch). */
  private[graft] def ensureZonemapIndex(spark: SparkSession, sfDir: String): String =
    Layout.ensureEpochIndex(spark, zonemapBase(sfDir), Seq(ZmapSuffix)) { name =>
      buildZonemapEpoch(spark, name, ordersKd(spark, sfDir))
    }

  /** The probe box from explicit corpus anchors: custkey slice
    * [2/8, 3/8) × orderdate slice [1/4, 2/4) — exact integer arithmetic
    * both engines reproduce (truncating division on positive operands,
    * identical in Scala `/`, Spark `div`, and DuckDB `//`). Under the
    * Z-curve this box pins the top four interleaved bits (x₇=0 x₆=1,
    * y₇=0 y₆=1), so it covers ~1/16 of the Z range — the shape where
    * clustered extents prune hard. */
  private[graft] def boxOf(kMin: Long, kMax: Long,
      dMin: java.sql.Date, dMax: java.sql.Date)
      : (Long, Long, java.sql.Date, java.sql.Date) = {
    val kSpan = kMax - kMin + 1
    val dSpan = daysBetween(dMin, dMax) + 1
    (kMin + kSpan * 2 / 8, kMin + kSpan * 3 / 8 - 1,
      java.sql.Date.valueOf(dMin.toLocalDate.plusDays(dSpan * 1 / 4)),
      java.sql.Date.valueOf(dMin.toLocalDate.plusDays(dSpan * 2 / 4 - 1)))
  }

  /** The probe box derived from the BASE table — the specs' reference
    * twin of the sidecar-derived box [[zonemapServe]] actually uses
    * (they must agree exactly: zone maps ledger actual row extents, so
    * the sidecar's global min/max IS the corpus min/max). */
  private[graft] def zonemapBox(spark: SparkSession, sfDir: String)
      : (Long, Long, java.sql.Date, java.sql.Date) = {
    val b = Tables.orders(spark, sfDir).agg(
      min(col("o_custkey").cast("long")), max(col("o_custkey").cast("long")),
      min(to_date(col("o_orderdate"))), max(to_date(col("o_orderdate")))).head()
    boxOf(b.getLong(0), b.getLong(1), b.getDate(2), b.getDate(3))
  }

  /** The extent-overlap test against a probe box — THE pruning rule,
    * shared verbatim by the serve path, the specs, and (transcribed)
    * the oracle: a file survives iff its [min,max] extents intersect
    * the box on BOTH dimensions. */
  private[graft] def zmapOverlaps(kLo: Long, kHi: Long,
      dLo: java.sql.Date, dHi: java.sql.Date): Column =
    col("k_max") >= kLo && col("k_min") <= kHi &&
      col("d_max") >= lit(dLo) && col("d_min") <= lit(dHi)

  /** Prune + read + residual-filter + aggregate against one zone-map
    * epoch — a METADATA-ONLY plan up to the pruned scan, with NO
    * per-file driver state at any inventory size: the only driver
    * materialization is a 1-row aggregate of the sidecar (corpus
    * anchors → the probe box) plus two file-grain counts. The skip
    * decision itself never leaves the cluster — the data scan LEFT
    * SEMI joins (broadcast) the filtered sidecar on the PARTITION
    * column file_id, and dynamic partition pruning turns the broadcast
    * side into a runtime partition filter
    * (`dynamicpruningexpression(file_id IN ...)` in the scan's
    * PartitionFilters, spec-asserted), so pruned files are never even
    * listed. At lakehouse inventories (~800K files / 100 TB at 128 MiB)
    * this is the shape that survives: the former driver collect +
    * literal `isin` predicate would put every file_id in the PLAN
    * (r14 verdict's one standing scale-killer, retired here); the
    * broadcast of the FILTERED sidecar is bounded by the survivors of
    * an ~1/16-selective box — and CrossoverBench section Z executes the
    * decision at a 100K/250K-file synthetic inventory to prove the
    * plan stays O(1)-sized while the literal path grows linearly. The
    * row-level residual re-applies the predicate inside surviving
    * files (zone maps are conservative: an overlapping extent does not
    * mean every row matches). Returns (served aggregate, files
    * scanned, files total, box). */
  private[graft] def zonemapServe(spark: SparkSession, t: String)
      : (DataFrame, Long, Long, (Long, Long, java.sql.Date, java.sql.Date)) = {
    val zm = spark.table(t + ZmapSuffix)
    val a = zm.agg(min(col("k_min")), max(col("k_max")),
      min(col("d_min")), max(col("d_max")),
      count(lit(1))).head() // 1 row: corpus anchors + file total
    val box @ (kLo, kHi, dLo, dHi) =
      boxOf(a.getLong(0), a.getLong(1), a.getDate(2), a.getDate(3))
    val hits = zm.filter(zmapOverlaps(kLo, kHi, dLo, dHi)).select(col("file_id"))
    val scanned = hits.count() // file-grain aggregate, not per-file state
    val served = spark.table(t)
      .join(broadcast(hits), Seq("file_id"), "left_semi")
      .filter(col("k").between(kLo, kHi) &&
        col("d").between(lit(dLo), lit(dHi)))
      .groupBy(col("prio"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents"))
    (served, scanned, a.getLong(4), box)
  }

  /** ZONE-MAP FILE SKIPPING — the scan path that CONSUMES the Z-order
    * layout ([[zorderLayout]] plans extents; this key WRITES the
    * 64-file clustered table plus its `_zmap` min/max sidecar and
    * answers a 2-D box predicate by reading ONLY the files whose
    * extents overlap). This is the mechanism a lakehouse reader
    * (Delta/Iceberg data skipping, parquet row-group pruning writ
    * large) uses to make a 100 TB scan proportional to the predicate's
    * selectivity instead of the table size — and it prunes on VALUE
    * extents of non-partition columns, which hive-style partition
    * pruning cannot express.
    *
    * The gate covers the PRUNING DECISION itself, not only the query
    * result: the served rows carry files_scanned/files_total, and the
    * oracle recomputes the same counts by replaying the layout (the
    * proven NTILE twin of [[zorderLayoutSql]]), deriving each file's
    * extents, and running the same overlap rule — a wrong or drifted
    * zone map flips the row red even when the answer happens to be
    * right. Correctness never depends on the pruner: the row-level
    * residual inside surviving files makes skipping semantics-
    * preserving (spec-asserted: pruned-away files contain zero
    * matching rows; rule-off full-scan identity).
    */
  def zonemapPrune(spark: SparkSession, sfDir: String): DataFrame = {
    val t = ensureZonemapIndex(spark, sfDir)
    val (served, scanned, total, _) = zonemapServe(spark, t)
    served
      .withColumn("files_scanned", lit(scanned))
      .withColumn("files_total", lit(total))
      .orderBy(col("prio"))
  }

  /** Shared oracle CTE block: corpus anchors + the probe box. */
  private def zonemapBoxSql: String =
    """b AS (
      |  SELECT MIN(o_custkey) AS kmin, MAX(o_custkey) AS kmax,
      |         MIN(CAST(o_orderdate AS DATE)) AS dmin,
      |         MAX(CAST(o_orderdate AS DATE)) AS dmax
      |  FROM orders
      |), box AS (
      |  SELECT kmin + ((kmax - kmin + 1) * 2) // 8 AS klo,
      |         kmin + ((kmax - kmin + 1) * 3) // 8 - 1 AS khi,
      |         dmin + CAST(((date_diff('day', dmin, dmax) + 1) * 1) // 4
      |                     AS INTEGER) AS dlo,
      |         dmin + CAST(((date_diff('day', dmin, dmax) + 1) * 2) // 4 - 1
      |                     AS INTEGER) AS dhi
      |  FROM b
      |)""".stripMargin

  val zonemapPruneSql: String =
    s"""WITH $zonemapBoxSql, e AS (
       |  SELECT o_orderkey, o_custkey AS k, CAST(o_orderdate AS DATE) AS d,
       |    ((o_custkey - kmin) * 256) // (kmax - kmin + 1) AS x,
       |    (date_diff('day', dmin, CAST(o_orderdate AS DATE)) * 256)
       |      // (date_diff('day', dmin, dmax) + 1) AS y
       |  FROM orders, b
       |), z AS (
       |  SELECT o_orderkey, k, d, ${zInterleaveSql("x", "y")} AS zv FROM e
       |), t AS (
       |  SELECT k, d,
       |    CAST(NTILE(64) OVER (ORDER BY zv, o_orderkey) AS BIGINT) AS file_id
       |  FROM z
       |), zm AS (
       |  SELECT file_id, MIN(k) AS k_min, MAX(k) AS k_max,
       |         MIN(d) AS d_min, MAX(d) AS d_max
       |  FROM t GROUP BY 1
       |), fs AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS files_scanned FROM zm, box
       |  WHERE k_max >= klo AND k_min <= khi AND d_max >= dlo AND d_min <= dhi
       |), ft AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS files_total FROM zm
       |)
       |SELECT o_orderpriority AS prio, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
       |  files_scanned, files_total
       |FROM orders, box, fs, ft
       |WHERE o_custkey BETWEEN klo AND khi
       |  AND CAST(o_orderdate AS DATE) BETWEEN dlo AND dhi
       |GROUP BY 1, 4, 5
       |ORDER BY 1""".stripMargin

  /** Per-batch maintenance of a zone-map epoch: the streamed rows land
    * as ONE new file (a fresh file_id partition, `1000 + batchId` so
    * appended files can never collide with the bulk layout's 1..64) and
    * the `_zmap` sidecar gains that file's extent row — computed from
    * the SAME materialized batch the data append consumed. Zone maps
    * are what make this maintainable without a rewrite: a new file's
    * stats are purely LOCAL to the batch (min/max/count), so ingest
    * appends metadata instead of re-clustering — exactly how a
    * lakehouse table absorbs arrivals between OPTIMIZE runs (appended
    * files carry batch-grain extents until the next re-cluster). */
  private[graft] def appendZonemapBatch(name: String, batch: DataFrame,
      batchId: Long): Unit = {
    val rows = batch
      .select(col("o_orderkey"), col("k"), col("d"), col("prio"), col("cents"))
      .withColumn("file_id", lit(1000L + batchId))
      .localCheckpoint() // materialize BEFORE appending (appendLoop discipline)
    if (!rows.isEmpty) {
      // two independent appends of the SAME materialized batch —
      // overlapped (guide §2.6). insertInto: position-based,
      // dynamic-partition append — the select above lists columns in
      // the table's physical order (partition column last)
      Layout.inParallel(
        () => rows.coalesce(1).write.mode("append").insertInto(name),
        () => zmapOf(rows).write.format("parquet").mode("append")
          .saveAsTable(name + ZmapSuffix))
    }
    rows.unpersist()
  }

  private[graft] def zonemapLifecycleBase(sfDir: String): String =
    "graft_zmaplc_" + Layout.corpusTag(sfDir)

  /** Stream ≡ batch LIFECYCLE #17 — ZONE-MAP MAINTENANCE UNDER INGEST:
    * even o_orderkeys bulk-build a Z-clustered epoch (the UNCHANGED
    * [[buildZonemapEpoch]] path, anchored on its own rows); the odd
    * half replays as a parquet-source stream through
    * [[graft.streaming.LayoutStream.appendZonemapStream]] — per batch
    * ONE appended data file plus ONE appended extent row, NO streaming
    * state store (stats are batch-local). Serving runs the UNCHANGED
    * [[zonemapServe]] probe over the final 64+B-file state: the
    * aggregate must equal the full-corpus predicate oracle (pruning is
    * conservative regardless of HOW rows are laid out), and the
    * did_prune bound boolean asserts the maintained sidecar still
    * skipped at least one file. Rotates a fresh epoch per call, prunes
    * to two.
    */
  /** Runs on the `o_orderkey % 4 = 0` quarter (the [[mergeOnRead]]
    * sub-corpus discipline, r15): evens of the quarter bulk-build, the
    * odd eighth streams in. The maintenance claim is corpus-size
    * invariant; the rebuild-per-call cost is not. */
  def zonemapLifecycle(spark: SparkSession, sfDir: String): DataFrame = {
    val base = zonemapLifecycleBase(sfDir)
    val o = ordersKd(spark, sfDir).filter(col("o_orderkey") % 4 === 0)
    val t = Layout.rotateEpoch(spark, base, Seq(ZmapSuffix)) { name =>
      buildZonemapEpoch(spark, name, o.filter(col("o_orderkey") % 8 === 0))
    }
    Layout.replayAsStream(o.filter(col("o_orderkey") % 8 =!= 0), "graft-zmaplc") {
      sdf => graft.streaming.LayoutStream.appendZonemapStream(sdf, base)
    }
    Layout.pruneEpochs(spark, base, keep = 2, sidecars = Seq(ZmapSuffix))
    val (served, scanned, total, _) = zonemapServe(spark, t)
    served
      .withColumn("did_prune", lit(scanned < total))
      .orderBy(col("prio"))
  }

  val zonemapLifecycleSql: String =
    """WITH o4 AS (
      |  SELECT o_custkey AS k, CAST(o_orderdate AS DATE) AS d,
      |    o_orderpriority AS prio,
      |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders WHERE o_orderkey % 4 = 0
      |), b AS (
      |  SELECT MIN(k) AS kmin, MAX(k) AS kmax,
      |         MIN(d) AS dmin, MAX(d) AS dmax
      |  FROM o4
      |), box AS (
      |  SELECT kmin + ((kmax - kmin + 1) * 2) // 8 AS klo,
      |         kmin + ((kmax - kmin + 1) * 3) // 8 - 1 AS khi,
      |         dmin + CAST(((date_diff('day', dmin, dmax) + 1) * 1) // 4
      |                     AS INTEGER) AS dlo,
      |         dmin + CAST(((date_diff('day', dmin, dmax) + 1) * 2) // 4 - 1
      |                     AS INTEGER) AS dhi
      |  FROM b
      |)
      |SELECT prio, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(cents) AS BIGINT) AS cents,
      |  TRUE AS did_prune
      |FROM o4, box
      |WHERE k BETWEEN klo AND khi AND d BETWEEN dlo AND dhi
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  private[graft] def zonemapOptimizeBase(sfDir: String): String =
    "graft_zmopt_" + Layout.corpusTag(sfDir)

  /** OPTIMIZE — the third act of the zone-map story, the re-cluster a
    * lakehouse table service runs after ingest has degraded the layout:
    * even o_orderkeys bulk-build a Z-clustered epoch, the odd half then
    * lands as two batch-grain ingest files (the [[appendZonemapBatch]]
    * path — their extents span the whole key domain, so the pruner must
    * scan them for ANY box), and OPTIMIZE rebuilds the clustered layout
    * from the TABLE'S OWN ROWS through the UNCHANGED
    * [[buildZonemapEpoch]] path into a fresh epoch (the old epoch stays
    * published until the pointer flips — an OPTIMIZE never blocks
    * readers). Because Z-assignment is a pure function of the row SET
    * (ranks over (z, o_orderkey) are storage-order-independent), the
    * optimized state is BIT-IDENTICAL to a from-scratch build of the
    * full corpus — so this key is gated by the VERBATIM
    * [[zonemapPruneSql]] oracle, files_scanned/files_total included:
    * the gate proves ingest → OPTIMIZE → probe converges exactly to the
    * one-shot clustered layout, skip efficiency restored (the spec
    * additionally asserts the DEGRADED state scanned strictly more
    * files than the optimized one).
    */
  /** Runs on the `o_orderkey % 4 = 0` quarter (the [[mergeOnRead]]
    * sub-corpus discipline, r15): evens of the quarter bulk-build, the
    * odd eighth lands as two ingest files. Convergence to the one-shot
    * clustered layout is corpus-size invariant; the two epoch builds
    * are not. */
  def zonemapOptimize(spark: SparkSession, sfDir: String): DataFrame = {
    val base = zonemapOptimizeBase(sfDir)
    val o = ordersKd(spark, sfDir).filter(col("o_orderkey") % 4 === 0)
    // Act 1: clustered bulk of the even half of the quarter
    val t0 = Layout.rotateEpoch(spark, base, Seq(ZmapSuffix)) { name =>
      buildZonemapEpoch(spark, name, o.filter(col("o_orderkey") % 8 === 0))
    }
    // Act 2: ingest — the odd eighth arrives as two batch-grain files
    val odd = o.filter(col("o_orderkey") % 8 =!= 0)
    appendZonemapBatch(t0, odd.filter(col("o_orderkey") % 16 === 4), 0L)
    appendZonemapBatch(t0, odd.filter(col("o_orderkey") % 16 === 12), 1L)
    // Act 3: OPTIMIZE — re-cluster from the table's own rows
    val t1 = Layout.rotateEpoch(spark, base, Seq(ZmapSuffix)) { name =>
      buildZonemapEpoch(spark, name, spark.table(t0)
        .select(col("o_orderkey"), col("k"), col("d"), col("prio"), col("cents")))
    }
    Layout.pruneEpochs(spark, base, keep = 2, sidecars = Seq(ZmapSuffix))
    val (served, scanned, total, _) = zonemapServe(spark, t1)
    served
      .withColumn("files_scanned", lit(scanned))
      .withColumn("files_total", lit(total))
      .orderBy(col("prio"))
  }

  /** The optimized state IS the one-shot clustered state — the
    * [[zonemapPruneSql]] replay (box, NTILE layout twin, overlap rule,
    * file counts) anchored on the key's quarter sub-corpus. */
  val zonemapOptimizeSql: String =
    s"""WITH o4 AS (
       |  SELECT o_orderkey, o_custkey AS k, CAST(o_orderdate AS DATE) AS d,
       |    o_orderpriority AS prio,
       |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
       |  FROM orders WHERE o_orderkey % 4 = 0
       |), b AS (
       |  SELECT MIN(k) AS kmin, MAX(k) AS kmax,
       |         MIN(d) AS dmin, MAX(d) AS dmax
       |  FROM o4
       |), box AS (
       |  SELECT kmin + ((kmax - kmin + 1) * 2) // 8 AS klo,
       |         kmin + ((kmax - kmin + 1) * 3) // 8 - 1 AS khi,
       |         dmin + CAST(((date_diff('day', dmin, dmax) + 1) * 1) // 4
       |                     AS INTEGER) AS dlo,
       |         dmin + CAST(((date_diff('day', dmin, dmax) + 1) * 2) // 4 - 1
       |                     AS INTEGER) AS dhi
       |  FROM b
       |), e AS (
       |  SELECT o_orderkey, k, d,
       |    ((k - kmin) * 256) // (kmax - kmin + 1) AS x,
       |    (date_diff('day', dmin, d) * 256)
       |      // (date_diff('day', dmin, dmax) + 1) AS y
       |  FROM o4, b
       |), z AS (
       |  SELECT o_orderkey, k, d, ${zInterleaveSql("x", "y")} AS zv FROM e
       |), t AS (
       |  SELECT k, d,
       |    CAST(NTILE(64) OVER (ORDER BY zv, o_orderkey) AS BIGINT) AS file_id
       |  FROM z
       |), zm AS (
       |  SELECT file_id, MIN(k) AS k_min, MAX(k) AS k_max,
       |         MIN(d) AS d_min, MAX(d) AS d_max
       |  FROM t GROUP BY 1
       |), fs AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS files_scanned FROM zm, box
       |  WHERE k_max >= klo AND k_min <= khi AND d_max >= dlo AND d_min <= dhi
       |), ft AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS files_total FROM zm
       |)
       |SELECT prio, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  CAST(SUM(cents) AS BIGINT) AS cents,
       |  files_scanned, files_total
       |FROM o4, box, fs, ft
       |WHERE k BETWEEN klo AND khi AND d BETWEEN dlo AND dhi
       |GROUP BY 1, 4, 5
       |ORDER BY 1""".stripMargin

  // --------------------------------- dynamic partition pruning (runtime)

  private[graft] def dppBase(sfDir: String): String =
    "graft_dpp_" + Layout.corpusTag(sfDir)

  /** Hive-partitioned fact epoch for the DPP gate: orders by month —
    * the canonical star-schema fact layout (one directory per month;
    * `repartition(m)` keeps each month in one task → one file). */
  private[graft] def ensureDppIndex(spark: SparkSession, sfDir: String): String =
    Layout.ensureEpochIndex(spark, dppBase(sfDir)) { name =>
      Tables.orders(spark, sfDir).select(
          col("o_orderkey"),
          col("o_orderpriority").as("prio"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"),
          to_date(date_trunc("month", to_date(col("o_orderdate")))).as("m"))
        .repartition(col("m"))
        .write.format("parquet").partitionBy("m")
        .mode("overwrite").saveAsTable(name)
    }

  /** DYNAMIC PARTITION PRUNING EXECUTED — the star-schema runtime
    * prune, gated (the r14 verdict's ask: LayoutSpec asserted static
    * PartitionFilters, but the runtime dim-filter → fact-partition
    * prune was never oracle-gated). The fact table is Hive-partitioned
    * by month; the dim side is the per-month totals with a
    * DATA-DEPENDENT filter (total cents ≡ 0 mod 3) that is opaque to
    * static analysis — `InferFiltersFromConstraints` cannot rewrite it
    * onto the fact side because the surviving month set exists only
    * after the dim aggregate RUNS. Only runtime DPP can skip the fact
    * partitions: the broadcast of the filtered dim feeds a
    * `dynamicpruningexpression(m IN ...)` partition filter on the scan
    * (spec-asserted, with listed-partitions == months_scanned).
    *
    * The gate covers the skip decision like q_zonemap_prune does:
    * months_scanned/months_total ride the output, and the oracle
    * recomputes both from the same per-month totals — a fact row
    * leaking through from a month the dim filter rejected flips the
    * aggregate AND the counts. At 100 TB this is THE mechanism that
    * makes dimension-filtered fact queries proportional to the
    * qualifying partitions instead of the table: no driver literal,
    * no manual partition list, one broadcast reused as the runtime
    * filter. */
  def dppPrune(spark: SparkSession, sfDir: String): DataFrame = {
    val t = ensureDppIndex(spark, sfDir)
    val fact = spark.table(t)
    val dim = fact.groupBy(col("m")).agg(sum(col("cents")).as("tot"))
    val sel = dim.filter(pmod(col("tot"), lit(3L)) === 0L).select(col("m"))
    val counts = broadcast(
      sel.agg(count(lit(1)).as("months_scanned"))
        .crossJoin(dim.agg(count(lit(1)).as("months_total"))))
    fact.join(broadcast(sel), Seq("m"))
      .groupBy(col("prio"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents"))
      .crossJoin(counts) // broadcast 1-row counts frame
      .orderBy(col("prio"))
  }

  val dppPruneSql: String =
    """WITH f AS (
      |  SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS m,
      |    o_orderpriority AS prio,
      |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders
      |), d AS (
      |  SELECT m, SUM(cents) AS tot FROM f GROUP BY 1
      |), sel AS (
      |  SELECT m FROM d WHERE tot % 3 = 0
      |), ms AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS months_scanned FROM sel
      |), mt AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS months_total FROM d
      |)
      |SELECT prio, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(cents) AS BIGINT) AS cents, months_scanned, months_total
      |FROM f JOIN sel USING (m), ms, mt
      |GROUP BY 1, 4, 5
      |ORDER BY 1""".stripMargin

  // --------------------------------------- merge-on-read DELETE / MERGE

  /** Tombstone sidecar suffix — the deletion-vector analog at key
    * grain: each row (o_orderkey, upto_file) voids every stored version
    * of that key in files ≤ upto_file. Real DV formats (Delta deletion
    * vectors, Iceberg position deletes) void (file, offset) pairs; the
    * key+sequence form carries the same read/OPTIMIZE semantics while
    * staying expressible to the SQL oracle, and file_id doubles as the
    * commit sequence (bulk = 1..64, ingest appends = 1000+batch). */
  private[graft] val DvSuffix = "_dv"

  private[graft] def morBase(sfDir: String): String =
    "graft_mor_" + Layout.corpusTag(sfDir)

  /** An ABSENT `_dv` sidecar IS the empty tombstone set — a fresh or
    * freshly-OPTIMIZEd epoch writes no sidecar at all (one fewer
    * write job per epoch; the first DELETE creates it via append). */
  private[graft] def dvOf(spark: SparkSession, t: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    if (spark.catalog.tableExists(t + DvSuffix)) spark.table(t + DvSuffix)
    else spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("o_orderkey", LongType),
        StructField("upto_file", LongType))))
  }

  /** DELETE as metadata: tombstones append to the `_dv` sidecar; no
    * data file is rewritten (the merge-on-read contract — deletes cost
    * O(deleted keys), not O(table)). */
  private[graft] def appendTombstones(spark: SparkSession, t: String,
      keys: DataFrame, uptoFile: Long): Unit =
    keys.select(col("o_orderkey"))
      .withColumn("upto_file", lit(uptoFile))
      .write.format("parquet").mode("append").saveAsTable(t + DvSuffix)

  /** The merge-on-read scan: every stored row version, minus the ones a
    * tombstone voids — a broadcast LEFT ANTI join on the key with the
    * sequence residual (file_id ≤ upto_file keeps a key's POST-merge
    * version visible while its tombstoned pre-merge version dies).
    * Scale: the `_dv` sidecar is bounded by deletes SINCE the last
    * OPTIMIZE (which folds it to empty), so broadcast is the right
    * default; a delete backlog past the broadcast threshold drops the
    * hint and runs the same anti-join as a shuffle on o_orderkey. */
  private[graft] def morRead(spark: SparkSession, t: String): DataFrame = {
    val data = spark.table(t)
    val dv = dvOf(spark, t)
    data.join(broadcast(dv),
      data("o_orderkey") === dv("o_orderkey") &&
        data("file_id") <= dv("upto_file"), "left_anti")
  }

  private def morRows(df: DataFrame): DataFrame =
    df.select(col("o_orderkey"), col("k"), col("d"), col("prio"), col("cents"))

  /** 1-row frame `n_diff` = |a ∖ b| + |b ∖ a| under MULTISET semantics
    * — the size of the symmetric difference the convergence/rollback
    * probes previously computed as `a.exceptAll(b) ∪ b.exceptAll(a)`.
    * Σ|count_a − count_b| over full-row groups is the same quantity by
    * definition (ExceptAll IS per-row-value count subtraction), but
    * plans as ONE aggregate per side + one null-safe full-outer join
    * instead of Spark's two aggregate+join+generate ExceptAll subtrees
    * that each re-scan both inputs (guide §2.4 — the generate stage
    * re-materialized row multiplicities only for a count to consume).
    * Exact, not probabilistic: no hashing, the full row is the group
    * key, null-safe like ExceptAll's own grouping. */
  private[graft] def multisetDiffCount(a: DataFrame, b: DataFrame): DataFrame = {
    // TAGGED-UNION form (r16, guide §2.4): the r15 shape aggregated
    // each side separately and full-outer-joined the counts — two
    // exchanges plus a join. Tagging each side with (1,0)/(0,1)
    // indicator columns and aggregating the UNION computes the same
    // per-row-value (count_a, count_b) pair with ONE exchange, and the
    // union partial-aggregates map-side before it. GROUP BY and the
    // former null-safe join condition agree on null/NaN grouping, so
    // the quantity is unchanged (still pinned by the GovernanceOpsSpec
    // randomized property test against exceptAll-both-ways).
    val cols = a.columns.toSeq
    a.select(cols.map(col) :+ lit(1L).as("__a") :+ lit(0L).as("__b"): _*)
      .unionByName(
        b.select(cols.map(col) :+ lit(0L).as("__a") :+ lit(1L).as("__b"): _*))
      .groupBy(cols.map(col): _*)
      .agg(sum(col("__a")).as("__na"), sum(col("__b")).as("__nb"))
      .agg(coalesce(sum(abs(col("__na") - col("__nb"))), lit(0L)).as("n_diff"))
  }

  /** MERGE-ON-READ — the lakehouse DELETE/MERGE primitive executed end
    * to end on the zone-map table family: (1) bulk-build a Z-clustered
    * epoch of the full corpus with an empty tombstone sidecar; (2)
    * DELETE every o_orderkey ≡ 3 (mod 7) — tombstones only, zero data
    * files touched; (3) MERGE (upsert) every key ≡ 5 (mod 7) with
    * cents+11 — tombstone the stored version, land the new version as
    * one ingest file through the UNCHANGED [[appendZonemapBatch]] path
    * (its extent row joins the `_zmap` sidecar like any arrival); (4)
    * OPTIMIZE folds the tombstones into a rewritten epoch — the
    * [[zonemapOptimize]] convergence discipline: re-cluster from the
    * MERGED READ's own rows, publish, sidecar reset to empty.
    *
    * The gate covers all four acts at once: the served aggregate runs
    * the UNCHANGED [[zonemapServe]] box probe over the OPTIMIZED epoch,
    * and the oracle replays the tombstone-filtered, merge-applied
    * corpus through the verbatim layout replay of [[zonemapPruneSql]] —
    * files_scanned/files_total included, so the optimized layout must
    * be BIT-IDENTICAL to a one-shot clustered build of the post-merge
    * corpus (rank determinism makes that well-defined). mor_converged
    * additionally pins ROW-multiset equality between the pre-OPTIMIZE
    * merge-on-read view and the optimized table
    * ([[multisetDiffCount]] — the exact symmetric-difference size,
    * equal by definition to the former except-both-ways count), and
    * dv_remaining proves the fold emptied the sidecar.
    */
  /** The key runs on the deterministic `% 4 = 0` QUARTER of orders
    * (the hnsw/zonemap sub-corpus discipline): the merge-on-read
    * claims — tombstones void, sequences order versions, OPTIMIZE
    * converges bit-identically — are corpus-size invariant, while the
    * two epoch builds the gate requires are linear in corpus; the
    * quarter sets suite cost, not proof strength. The oracle applies
    * the same predicate before replaying the layout. */
  def mergeOnRead(spark: SparkSession, sfDir: String): DataFrame = {
    val base = morBase(sfDir)
    val o = ordersKd(spark, sfDir).filter(col("o_orderkey") % 4 === 0)
    // Act 1: bulk epoch — clustered, no tombstone sidecar (absent = empty)
    val t0 = Layout.rotateEpoch(spark, base, Seq(ZmapSuffix, DvSuffix)) { name =>
      buildZonemapEpoch(spark, name, o)
    }
    // Acts 2+3 in ONE metadata append: DELETE tombstones (keys ≡ 3 mod
    // 7) and the MERGE's voiding tombstones (keys ≡ 5) — a real engine
    // commits a MERGE's deletes and inserts in one transaction anyway.
    // The tombstone append and the ingest-file append touch disjoint
    // tables off source-derived frames — overlapped (guide §2.6).
    val upd = o.filter(col("o_orderkey") % 7 === 5)
      .withColumn("cents", col("cents") + 11L)
    Layout.inParallel(
      () => appendTombstones(spark, t0,
        o.filter(col("o_orderkey") % 7 === 3).unionByName(
          upd.select(o.columns.map(col): _*)), uptoFile = 64L),
      () => appendZonemapBatch(t0, upd, batchId = 0L))
    // materialize the merge-on-read view ONCE: the OPTIMIZE build and
    // both sides of the convergence diff read it
    import Materialize.CorpusSyntax
    val pre = morRows(morRead(spark, t0)).corpusCheckpoint()
    // Act 4: OPTIMIZE — fold tombstones into a rewritten epoch (no
    // sidecar written: the fold leaves the empty tombstone set absent).
    // The build's own read-back doubles as the convergence probe's
    // post-state (one 64-file scan instead of two — guide §2.4).
    var postBack: DataFrame = null
    val t1 = Layout.rotateEpoch(spark, base, Seq(ZmapSuffix, DvSuffix)) { name =>
      postBack = buildZonemapEpochReadBack(spark, name, pre)
    }
    Layout.pruneEpochs(spark, base, keep = 2, sidecars = Seq(ZmapSuffix, DvSuffix))
    val post = morRows(postBack)
    val flags = broadcast(
      multisetDiffCount(pre, post) // exact symmetric-difference size
        .crossJoin(dvOf(spark, t1).agg(count(lit(1)).as("dv_remaining")))
        .select((col("n_diff") === 0L).as("mor_converged"),
          col("dv_remaining")))
    val (served, scanned, total, _) = zonemapServe(spark, t1)
    served
      .withColumn("files_scanned", lit(scanned))
      .withColumn("files_total", lit(total))
      .crossJoin(flags) // broadcast 1-row flags frame
      .orderBy(col("prio"))
  }

  /** The post-merge corpus replayed through the verbatim zone-map
    * layout + probe oracle: DELETE drops keys ≡3 (mod 7), MERGE adds
    * 11 cents to keys ≡5 (mod 7), and the NTILE(64) layout re-ranks
    * over what remains — exactly what OPTIMIZE converged to. */
  val mergeOnReadSql: String =
    s"""WITH m AS (
       |  SELECT o_orderkey, o_custkey AS k, CAST(o_orderdate AS DATE) AS d,
       |    o_orderpriority AS prio,
       |    CAST(floor(o_totalprice * 100) AS BIGINT)
       |      + CASE WHEN o_orderkey % 7 = 5 THEN 11 ELSE 0 END AS cents
       |  FROM orders WHERE o_orderkey % 4 = 0 AND o_orderkey % 7 <> 3
       |), b AS (
       |  SELECT MIN(k) AS kmin, MAX(k) AS kmax,
       |         MIN(d) AS dmin, MAX(d) AS dmax
       |  FROM m
       |), box AS (
       |  SELECT kmin + ((kmax - kmin + 1) * 2) // 8 AS klo,
       |         kmin + ((kmax - kmin + 1) * 3) // 8 - 1 AS khi,
       |         dmin + CAST(((date_diff('day', dmin, dmax) + 1) * 1) // 4
       |                     AS INTEGER) AS dlo,
       |         dmin + CAST(((date_diff('day', dmin, dmax) + 1) * 2) // 4 - 1
       |                     AS INTEGER) AS dhi
       |  FROM b
       |), e AS (
       |  SELECT o_orderkey, k, d,
       |    ((k - kmin) * 256) // (kmax - kmin + 1) AS x,
       |    (date_diff('day', dmin, d) * 256)
       |      // (date_diff('day', dmin, dmax) + 1) AS y
       |  FROM m, b
       |), z AS (
       |  SELECT o_orderkey, k, d, ${zInterleaveSql("x", "y")} AS zv FROM e
       |), t AS (
       |  SELECT k, d,
       |    CAST(NTILE(64) OVER (ORDER BY zv, o_orderkey) AS BIGINT) AS file_id
       |  FROM z
       |), zm AS (
       |  SELECT file_id, MIN(k) AS k_min, MAX(k) AS k_max,
       |         MIN(d) AS d_min, MAX(d) AS d_max
       |  FROM t GROUP BY 1
       |), fs AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS files_scanned FROM zm, box
       |  WHERE k_max >= klo AND k_min <= khi AND d_max >= dlo AND d_min <= dhi
       |), ft AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS files_total FROM zm
       |)
       |SELECT prio, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  CAST(SUM(cents) AS BIGINT) AS cents,
       |  files_scanned, files_total,
       |  TRUE AS mor_converged, CAST(0 AS BIGINT) AS dv_remaining
       |FROM m, box, fs, ft
       |WHERE k BETWEEN klo AND khi AND d BETWEEN dlo AND dhi
       |GROUP BY 1, 4, 5
       |ORDER BY 1""".stripMargin

  private[graft] def morLifecycleBase(sfDir: String): String =
    "graft_morlc_" + Layout.corpusTag(sfDir)

  /** Stream ≡ batch LIFECYCLE — TOMBSTONES UNDER INGEST: the DELETE
    * side of merge-on-read maintained by a stream. Bulk-build the full
    * clustered epoch, then replay the delete set (keys ≡ 3 mod 7) as a
    * parquet-source stream whose every micro-batch appends its keys to
    * the `_dv` sidecar through
    * [[graft.streaming.LayoutStream.appendTombstoneStream]] — metadata
    * appends only, NO data file rewritten, NO streaming state store
    * (a tombstone is batch-local). The final merge-on-read scan over
    * the accumulated sidecar must equal the predicate oracle on the
    * base table, and did_tombstone asserts the stream really landed
    * voiding rows (a lost batch reads extra rows and flips the hash).
    */
  def mergeOnReadLifecycle(spark: SparkSession, sfDir: String): DataFrame = {
    val base = morLifecycleBase(sfDir)
    // the quarter corpus, the [[mergeOnRead]] sub-corpus discipline
    val o = ordersKd(spark, sfDir).filter(col("o_orderkey") % 4 === 0)
    val t = Layout.rotateEpoch(spark, base, Seq(ZmapSuffix, DvSuffix)) { name =>
      buildZonemapEpoch(spark, name, o) // no `_dv`: absent = empty set
    }
    Layout.replayAsStream(
      o.filter(col("o_orderkey") % 7 === 3).select(col("o_orderkey")),
      "graft-morlc") { sdf =>
      graft.streaming.LayoutStream.appendTombstoneStream(sdf, base, 64L)
    }
    Layout.pruneEpochs(spark, base, keep = 2, sidecars = Seq(ZmapSuffix, DvSuffix))
    val nDv = broadcast(dvOf(spark, t)
      .agg(count(lit(1)).as("n_dv"))
      .select((col("n_dv") > 0L).as("did_tombstone")))
    morRead(spark, t)
      .groupBy(col("prio"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents"))
      .crossJoin(nDv) // broadcast 1-row flag frame
      .orderBy(col("prio"))
  }

  val mergeOnReadLifecycleSql: String =
    """SELECT o_orderpriority AS prio, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
      |  TRUE AS did_tombstone
      |FROM orders WHERE o_orderkey % 4 = 0 AND o_orderkey % 7 <> 3
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------ copy-on-write UPDATE

  private[graft] def cowBase(sfDir: String): String =
    "graft_cow_" + Layout.corpusTag(sfDir)

  /** The priority value the COW UPDATE assigns inside the probe box —
    * sorts before every natural 'N-...' priority so the new group
    * leads the gated output. */
  private[graft] val CowPrio = "0-COW"

  /** COPY-ON-WRITE UPDATE — the rewrite-path complement of
    * [[mergeOnRead]], i.e. Delta/Iceberg's other row-change strategy:
    * instead of tombstoning into a sidecar, the files CONTAINING
    * matched rows are rewritten in place and every other file's bytes
    * never move. The pruning decision is the zone-map overlap rule
    * verbatim ([[zmapOverlaps]] against the [[boxOf]] probe box), so a
    * selective UPDATE touches ~files_rewritten of 64 — at a 100 TB
    * inventory the rewrite cost is proportional to the predicate's
    * file footprint, not the table (the same survival property as
    * [[zonemapPrune]]'s reads; CrossoverBench §Z covers the decision
    * at 100K files). The rewrite itself is a DYNAMIC PARTITION
    * OVERWRITE of exactly the candidate file_id partitions: read the
    * candidates through the broadcast-semi-join prune, apply the
    * update expression row-locally, `insertInto` under
    * partitionOverwriteMode=dynamic — untouched partitions are not
    * even listed. Sidecar maintenance recomputes the rewritten files'
    * `_zmap` rows from the rewritten rows (k/d extents happen to be
    * update-invariant here; the ledger must record what is physically
    * on disk, so it recomputes rather than assumes — the
    * [[buildZonemapEpoch]] read-back discipline).
    *
    * The UPDATE expression (`prio := '0-COW'` inside the box) is
    * deliberately IDEMPOTENT, which lets the key serve from one
    * ensure-built epoch across calls (bench re-runs converge to the
    * same state) instead of paying a rebuild per call. Gate: the full
    * post-update state aggregated by prio — the '0-COW' group counts
    * exactly the in-box rows, every other group proves untouched files
    * still serve — plus files_rewritten/files_total replayed by the
    * oracle through the NTILE layout twin, plus `cow_exact`, a
    * Spark-evaluated except-both-ways equality of the physical state
    * against the logical UPDATE of the corpus (FALSE flips the driver
    * hash red).
    *
    * Runs on the `o_orderkey % 4 = 0` quarter (the [[mergeOnRead]]
    * sub-corpus discipline — the rewrite claims are corpus-size
    * invariant).
    */
  def copyOnWrite(spark: SparkSession, sfDir: String): DataFrame = {
    val quarter = ordersKd(spark, sfDir).filter(col("o_orderkey") % 4 === 0)
    val t = Layout.ensureEpochIndex(spark, cowBase(sfDir), Seq(ZmapSuffix)) {
      name => buildZonemapEpoch(spark, name, quarter)
    }
    val zm = spark.table(t + ZmapSuffix)
    val a = zm.agg(min(col("k_min")), max(col("k_max")),
      min(col("d_min")), max(col("d_max")), count(lit(1))).head()
    val (kLo, kHi, dLo, dHi) =
      boxOf(a.getLong(0), a.getLong(1), a.getDate(2), a.getDate(3))
    val hits = zm.filter(zmapOverlaps(kLo, kHi, dLo, dHi)).select(col("file_id"))
    val rewritten = hits.count() // file-grain count, not per-file state
    val inBox = col("k").between(kLo, kHi) &&
      col("d").between(lit(dLo), lit(dHi))
    // read ONLY the candidate files (the zonemapServe prune shape),
    // update row-locally, and materialize BEFORE the overwrite — the
    // read plan must never list files the write is replacing
    val upd = spark.table(t)
      .join(broadcast(hits), Seq("file_id"), "left_semi")
      .withColumn("prio", when(inBox, lit(CowPrio)).otherwise(col("prio")))
      .select(col("o_orderkey"), col("k"), col("d"), col("prio"),
        col("cents"), col("file_id"))
      .localCheckpoint()
    // A session pin, not a write option, on purpose. On Spark 4.1 an
    // `.option("partitionOverwriteMode", "dynamic")` on `insertInto` is
    // ignored for this session parquet table, and the static overwrite
    // then wipes the untouched partitions; `writeTo(t)
    // .overwritePartitions()` throws "Cannot write into v1 table".
    val prevMode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    try {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      upd.write.mode("overwrite").insertInto(t)
    } finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", prevMode)
    // stats maintenance: rewritten files' ledger rows recomputed from
    // the rewritten rows; survivors keep theirs (checkpointed — the
    // sidecar overwrite below reads them)
    val keptZm = zm.join(broadcast(hits), Seq("file_id"), "left_anti")
      .localCheckpoint()
    keptZm.unionByName(zmapOf(upd)).coalesce(1)
      .write.format("parquet").mode("overwrite").saveAsTable(t + ZmapSuffix)
    // convergence: physical state ≡ logical UPDATE of the corpus
    val expect = quarter
      .withColumn("prio", when(inBox, lit(CowPrio)).otherwise(col("prio")))
    val got = spark.table(t)
      .select(col("o_orderkey"), col("k"), col("d"), col("prio"), col("cents"))
    val ok = broadcast(
      multisetDiffCount(got, expect) // exact symmetric-difference size
        .select((col("n_diff") === 0L).as("cow_exact")))
    spark.table(t).groupBy(col("prio"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents"))
      .withColumn("files_rewritten", lit(rewritten))
      .withColumn("files_total", lit(a.getLong(4)))
      .crossJoin(ok) // broadcast 1-row flag frame
      .orderBy(col("prio"))
  }

  /** Oracle: the quarter corpus' layout replayed through the NTILE
    * twin for the file counts, the UPDATE replayed as a CASE over the
    * probe box for the state, and the convergence claim as a literal
    * (FALSE on the Spark side is the intended hash mismatch). */
  val copyOnWriteSql: String =
    s"""WITH o4 AS (
       |  SELECT o_orderkey, o_custkey AS k, CAST(o_orderdate AS DATE) AS d,
       |    o_orderpriority AS prio,
       |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
       |  FROM orders WHERE o_orderkey % 4 = 0
       |), b AS (
       |  SELECT MIN(k) AS kmin, MAX(k) AS kmax,
       |         MIN(d) AS dmin, MAX(d) AS dmax
       |  FROM o4
       |), box AS (
       |  SELECT kmin + ((kmax - kmin + 1) * 2) // 8 AS klo,
       |         kmin + ((kmax - kmin + 1) * 3) // 8 - 1 AS khi,
       |         dmin + CAST(((date_diff('day', dmin, dmax) + 1) * 1) // 4
       |                     AS INTEGER) AS dlo,
       |         dmin + CAST(((date_diff('day', dmin, dmax) + 1) * 2) // 4 - 1
       |                     AS INTEGER) AS dhi
       |  FROM b
       |), e AS (
       |  SELECT o_orderkey, k, d,
       |    ((k - kmin) * 256) // (kmax - kmin + 1) AS x,
       |    (date_diff('day', dmin, d) * 256)
       |      // (date_diff('day', dmin, dmax) + 1) AS y
       |  FROM o4, b
       |), z AS (
       |  SELECT o_orderkey, k, d, ${zInterleaveSql("x", "y")} AS zv FROM e
       |), t AS (
       |  SELECT k, d,
       |    CAST(NTILE(64) OVER (ORDER BY zv, o_orderkey) AS BIGINT) AS file_id
       |  FROM z
       |), zm AS (
       |  SELECT file_id, MIN(k) AS k_min, MAX(k) AS k_max,
       |         MIN(d) AS d_min, MAX(d) AS d_max
       |  FROM t GROUP BY 1
       |), fr AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS files_rewritten FROM zm, box
       |  WHERE k_max >= klo AND k_min <= khi AND d_max >= dlo AND d_min <= dhi
       |), ft AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS files_total FROM zm
       |), u AS (
       |  SELECT CASE WHEN k BETWEEN klo AND khi AND d BETWEEN dlo AND dhi
       |           THEN '$CowPrio' ELSE prio END AS prio, cents
       |  FROM o4, box
       |)
       |SELECT prio, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  CAST(SUM(cents) AS BIGINT) AS cents,
       |  files_rewritten, files_total, TRUE AS cow_exact
       |FROM u, fr, ft
       |GROUP BY 1, 4, 5
       |ORDER BY 1""".stripMargin

  // ------------------------------------------------ time travel / rollback

  private[graft] def ttBase(sfDir: String): String =
    "graft_tt_" + Layout.corpusTag(sfDir)

  /** TIME TRAVEL + ROLLBACK under the oracle — the read-side payoff of
    * the epoch layout every index family here already uses (Delta
    * `VERSION AS OF` / Iceberg snapshot reads): retained epochs ARE
    * queryable versions, and the publish pointer makes rollback a
    * 1-row metadata flip ([[Layout.rollbackEpoch]] — which until this
    * key existed in the layout API but was never driver-gated). Two
    * deterministic versions of the quarter corpus are ensure-built
    * once (v0 = the even-eighth bulk, v1 = the full quarter — an
    * ingest between the snapshots); every call then reads BOTH
    * versions as-of their epochs, rolls the pointer back, PROVES the
    * published resolver now serves the v0 state (`rolled_back_ok`,
    * Spark-evaluated except-both-ways), and restores the pointer —
    * reads never block, nothing is rewritten, exactly the production
    * mechanics. At 100 TB a version read is one pointer lookup + the
    * epoch's own pruned scan; retention is [[Layout.pruneEpochs]]'s
    * existing policy.
    */
  /** Ensure the deterministic two-version history (v0 = the even
    * eighth, v1 = the full quarter) — shared by [[timeTravel]] and
    * [[changeFeed2]]; calls after the first pay reads only. */
  private def ensureTtHistory(spark: SparkSession, sfDir: String): Int = {
    val base = ttBase(sfDir)
    val o = ordersKd(spark, sfDir).filter(col("o_orderkey") % 4 === 0)
    def writeVersion(rows: DataFrame)(name: String): Unit =
      rows.select(col("o_orderkey"), col("k"), col("d"), col("prio"),
        col("cents")).repartition(4)
        .write.format("parquet").mode("overwrite").saveAsTable(name)
    val cur0 = Layout.currentEpoch(spark, base)
    if (!cur0.exists(c => c >= 1 &&
        spark.catalog.tableExists(Layout.epochTable(base, c)) &&
        spark.catalog.tableExists(Layout.epochTable(base, c - 1)))) {
      Layout.rotateEpoch(spark, base)(
        writeVersion(o.filter(col("o_orderkey") % 8 === 0)))
      Layout.rotateEpoch(spark, base)(writeVersion(o))
    }
    Layout.currentEpoch(spark, base).get
  }

  def timeTravel(spark: SparkSession, sfDir: String): DataFrame = {
    val base = ttBase(sfDir)
    val cur = ensureTtHistory(spark, sfDir)
    val (v0, v1) = (Layout.epochTable(base, cur - 1), Layout.epochTable(base, cur))
    // rollback probe: flip the pointer back, the PUBLISHED resolver
    // must serve the v0 state, then restore the pointer
    Layout.rollbackEpoch(spark, base)
    val publishedAfterRollback = Layout.currentEpochTable(spark, base).get
    val asPublished = spark.table(publishedAfterRollback)
    val okDf = broadcast(
      multisetDiffCount(asPublished, spark.table(v0))
        .select((col("n_diff") === 0L && lit(publishedAfterRollback == v0))
          .as("rolled_back_ok")))
    Layout.publishEpoch(spark, base, cur)
    def agg(t: String, v: Int) = spark.table(t)
      .groupBy(col("prio"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents"))
      .withColumn("version", lit(v))
    agg(v0, 0).unionByName(agg(v1, 1))
      .select(col("version"), col("prio"), col("n_rows"), col("cents"))
      .crossJoin(okDf) // broadcast 1-row flag frame
      .orderBy(col("version"), col("prio"))
  }

  /** Oracle: both snapshot states replayed by their predicates; the
    * rollback claim as a literal. */
  val timeTravelSql: String =
    """WITH o4 AS (
      |  SELECT o_orderkey, o_orderpriority AS prio,
      |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders WHERE o_orderkey % 4 = 0
      |)
      |SELECT 0 AS version, prio, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(cents) AS BIGINT) AS cents, TRUE AS rolled_back_ok
      |FROM o4 WHERE o_orderkey % 8 = 0 GROUP BY 2
      |UNION ALL
      |SELECT 1, prio, CAST(COUNT(*) AS BIGINT),
      |  CAST(SUM(cents) AS BIGINT), TRUE
      |FROM o4 GROUP BY 2
      |ORDER BY 1, 2""".stripMargin

  // ------------------------------------------- vacuum / change feed

  private[graft] def vacBase(sfDir: String): String =
    "graft_vac_" + Layout.corpusTag(sfDir)

  /** How many epochs the VACUUM key writes before retention runs. */
  private[graft] val VacEpochs = 4

  /** `o_orderpriority`'s domain: TPC-H has five order priorities. */
  private[graft] val OrderPriorities = 5

  /** VACUUM / RETENTION under the oracle — the destructive half of the
    * table service ([[zonemapOptimize]] rewrites, [[timeTravel]] reads
    * history, this key BOUNDS history): [[Layout.pruneEpochs]] ran
    * after every lifecycle rotate but its contract — drop everything
    * except the newest `keep` retained epochs, never the published
    * one, rollback reach = retention — was spec-only. Here it is the
    * gated claim: [[VacEpochs]] deterministic epoch versions of the
    * quarter corpus' prio aggregate are written (v_i = the aggregate
    * over keys `% 4 = 0` with `o_orderkey % 8 < 8 - i` — strictly
    * shrinking states so every version is distinguishable), VACUUM
    * prunes to keep=2, and the gate carries the PUBLISHED state (the
    * newest version, oracle-replayed) plus three Spark-evaluated
    * booleans: exactly 2 epochs retained with the older ones' tables
    * really dropped from the catalog (`vacuumed_ok`), rollback still
    * reaches the one retained predecessor and serves ITS state
    * (`rollback_reaches` — pointer restored after the probe), and a
    * second rollback attempt past retention FAILS as designed
    * (`beyond_reach_fails` — vacuuming IS the loss of that reach).
    * Epoch content is a 5-row aggregate, so the key prices the
    * RETENTION MECHANICS, not data volume — at 100 TB a vacuum is
    * exactly this catalog walk plus the dropped files' deletes.
    */
  def vacuum(spark: SparkSession, sfDir: String): DataFrame = {
    val base = vacBase(sfDir)
    import spark.implicits._
    val o = ordersKd(spark, sfDir).filter(col("o_orderkey") % 4 === 0)
    // ONE corpus pass computes every version's 5-row aggregate as
    // conditional counts/sums (r16, guide §2.4 — the four rotations
    // each re-aggregated the quarter for a 5-row table, and the
    // rollback probe aggregated it a fifth time; the per-epoch WRITES
    // — the retention mechanics this key prices — are unchanged).
    // count(when) ≡ count over the filtered rows; a prio with no
    // surviving rows is dropped below, exactly as the former
    // filter-then-groupBy emitted no row for it.
    val verCols = (0 until VacEpochs).flatMap { i =>
      val keep = col("o_orderkey") % 8 < (8 - i)
      Seq(count(when(keep, lit(1))).as(s"n_$i"),
        sum(when(keep, col("cents"))).as(s"c_$i"))
    }
    // one driver row per prio: collect at most one past the domain, and
    // fail on it instead of pulling an unbounded aggregate to the driver
    val verRows = o.groupBy(col("prio"))
      .agg(verCols.head, verCols.tail: _*).limit(OrderPriorities + 1).collect()
    if (verRows.length > OrderPriorities)
      throw new IllegalStateException(
        s"q_vacuum: more than $OrderPriorities o_orderpriority values in $sfDir")
    def version(i: Int): DataFrame =
      verRows.filter(_.getLong(1 + 2 * i) > 0L)
        .map(r => (r.getString(0), r.getLong(1 + 2 * i), r.getLong(2 + 2 * i)))
        .toSeq.toDF("prio", "n_rows", "cents")
    // write the deterministic history fresh every call — the epochs
    // are 5-row tables, so the rebuild prices retention, not data
    (0 until VacEpochs).foreach { i =>
      Layout.rotateEpoch(spark, base) { name =>
        version(i).coalesce(1)
          .write.format("parquet").mode("overwrite").saveAsTable(name)
      }
    }
    val cur = Layout.currentEpoch(spark, base).get
    Layout.pruneEpochs(spark, base, keep = 2)
    val retained = (0 to cur)
      .count(e => spark.catalog.tableExists(Layout.epochTable(base, e)))
    val droppedGone = (0 to cur - 2)
      .forall(e => !spark.catalog.tableExists(Layout.epochTable(base, e)))
    // rollback reach: the one retained predecessor serves its state…
    Layout.rollbackEpoch(spark, base)
    val prevT = Layout.currentEpochTable(spark, base).get
    val prev = spark.table(prevT)
    val prevExpect = version(VacEpochs - 2)
    val reachOk = prevT == Layout.epochTable(base, cur - 1) &&
      multisetDiffCount(prev, prevExpect).head().getLong(0) == 0L // one action, not two isEmpty probes
    // …and reach beyond retention fails as designed
    val beyondFails =
      try { Layout.rollbackEpoch(spark, base); false }
      catch { case _: RuntimeException => true }
    Layout.publishEpoch(spark, base, cur)
    spark.table(Layout.epochTable(base, cur))
      .withColumn("vacuumed_ok", lit(retained == 2 && droppedGone))
      .withColumn("rollback_reaches", lit(reachOk))
      .withColumn("beyond_reach_fails", lit(beyondFails))
      .orderBy(col("prio"))
  }

  /** Oracle: the newest version's state (keys `% 8 < 5` of the
    * quarter), retention claims as literals. */
  val vacuumSql: String =
    """SELECT o_orderpriority AS prio, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
      |  TRUE AS vacuumed_ok, TRUE AS rollback_reaches,
      |  TRUE AS beyond_reach_fails
      |FROM orders WHERE o_orderkey % 4 = 0 AND o_orderkey % 8 < 5
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** CHANGE DATA FEED between adjacent versions — the read-side diff a
    * lakehouse CDF query (`table_changes(v0, v1)`) serves, executed
    * over [[timeTravel]]'s OWN ensure-built two-version history (one
    * history family, two consumers — the build-sharing discipline):
    * the diff is computed IN-ENGINE as one per-row-value count
    * comparison between the epoch tables (inserts = v1∖v0, deletes =
    * v0∖v1 — multiset semantics, so changed rows appear as
    * delete+insert pairs; the count form is definitionally the same
    * change set the former exceptAll pair produced, in one aggregate
    * per side instead of two generate subtrees), rolled up by
    * (op, prio). The oracle replays the change set from the
    * version predicates — v1∖v0 = the odd-eighth delta, v0∖v1 = ∅ —
    * so a diff that invents, loses, or mislabels a row hash-mismatches.
    * At 100 TB the same exceptAll plans as one co-partitioned
    * hash-anti per side over the two epochs' files; a production CDF
    * would serve from the commit log instead of diffing — the
    * [[mergeOnRead]] `_dv` sidecar IS that log for deletes — but the
    * diff form is the oracle-checkable ground truth both must equal.
    */
  def changeFeed2(spark: SparkSession, sfDir: String): DataFrame = {
    val base = ttBase(sfDir)
    val cur = ensureTtHistory(spark, sfDir)
    val v0 = spark.table(Layout.epochTable(base, cur - 1))
    val v1 = spark.table(Layout.epochTable(base, cur))
    // multiset diff as ONE count comparison (the multisetDiffCount
    // shape, kept inline because the change set itself — per-row-value
    // multiplicities, not just its size — feeds the rollup): __d > 0 is
    // an insert with multiplicity __d, __d < 0 a delete with
    // multiplicity −__d; exactly what the two ExceptAll generates
    // re-materialized row by row before aggregating (guide §2.4).
    val cols = v1.columns.toSeq
    // one subtree for BOTH ops: a row value's count delta has a single
    // sign, so op is a row-local CASE — a union of insert/delete
    // branches would duplicate the whole diff subtree (Spark does not
    // share DataFrame union branches), re-scanning and re-aggregating
    // both epochs once per op. TAGGED-UNION aggregate (r16, the
    // multisetDiffCount shape): one exchange with map-side partials
    // instead of two aggregates + a null-safe full-outer join.
    val d = v1.select(cols.map(col) :+ lit(1L).as("__a") :+ lit(0L).as("__b"): _*)
      .unionByName(
        v0.select(cols.map(col) :+ lit(0L).as("__a") :+ lit(1L).as("__b"): _*))
      .groupBy(cols.map(col): _*)
      .agg(sum(col("__a")).as("__n1"), sum(col("__b")).as("__n0"))
      .select(cols.map(col) :+
        (col("__n1") - col("__n0")).as("__d"): _*)
    d.filter(col("__d") =!= 0L)
      .select(when(col("__d") > 0, lit("insert")).otherwise(lit("delete")).as("op"),
        col("prio"), abs(col("__d")).as("__m"), col("cents"))
      .groupBy(col("op"), col("prio"))
      .agg(sum(col("__m")).as("n_rows"),
        sum(col("__m") * col("cents")).as("cents"))
      .orderBy(col("op"), col("prio"))
  }

  /** Oracle: the v0→v1 change set from the version predicates — the
    * odd-eighth arrivals, all inserts. */
  val changeFeed2Sql: String =
    """SELECT 'insert' AS op, o_orderpriority AS prio,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      |FROM orders WHERE o_orderkey % 4 = 0 AND o_orderkey % 8 <> 0
      |GROUP BY 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------ bloom file skipping

  private[graft] def bloomBase(sfDir: String): String =
    "graft_bloomidx_" + Layout.corpusTag(sfDir)

  /** Bloom sidecar geometry: m bits per file / k hashes. Sized for the
    * test corpus' ≤ ~600 keys/file at sf0.1 (load ≈ 0.25 set bits →
    * FP ≈ 0.4%); a production table service scales m with file row
    * count (SSB-style blocked blooms) — the probe below is geometry-
    * independent. */
  private[graft] val BloomBits = 8192L
  private[graft] val BloomHashes = 4

  private[graft] def bloomPositions(key: Column): Column =
    array((0 until BloomHashes).map(i =>
      pmod(xxhash64(key, lit(i)), lit(BloomBits))): _*)

  /** One long-format bloom row per (file, word): OR of the 64-bit
    * words covering every key's [[BloomHashes]] positions — built with
    * one explode + map-side-combinable BIT_OR, no driver state. */
  private[graft] def bloomSidecarOf(data: DataFrame): DataFrame =
    data.select(col("file_id"),
        explode(bloomPositions(col("o_orderkey"))).as("pos"))
      .select(col("file_id"), (col("pos") / 64).cast("int").as("word"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").as("mask"))
      .groupBy(col("file_id"), col("word"))
      .agg(expr("bit_or(mask)").as("bits"))

  /** BLOOM-FILTER FILE SKIPPING — the membership complement of the
    * zone map: min/max extents prune RANGE predicates on the
    * clustering columns, but a point lookup on a column the layout
    * does NOT cluster by (here o_orderkey, which the Z-order on (k,d)
    * scatters uniformly) overlaps every extent — the zone map is
    * blind. A per-file Bloom sidecar answers exactly that: file-grain
    * membership with zero false negatives and a bounded false-positive
    * rate (Delta/Iceberg bloom column stats, ClickHouse bloom skip
    * indexes). Build: one pass, [[BloomHashes]] xxhash64 positions per
    * key, OR-folded into [[BloomBits]]-bit per-file bitmaps stored
    * long-format (file_id, word, bits) — ≤ 128 sidecar rows per file,
    * metadata-scale at any inventory. Probe: the planted keys' bit
    * positions are checked against the sidecar (a metadata-only join —
    * a file survives for a key iff ALL k bits are set), and the data
    * scan reads ONLY surviving files via the broadcast-semi-join /
    * DPP shape of [[zonemapServe]], with the exact predicate
    * re-applied as the residual.
    *
    * Gate (the q_approx_distinct bound-boolean discipline): the hashed
    * rows are the EXACT lookup results for 5 planted present keys +
    * 1 absent key (found counts and cents the oracle replays), plus
    * `bloom_pruned` — a Spark-evaluated claim that the probe scanned a
    * strict subset of files AND every present key's result came
    * through the prune (a false negative loses a row and flips the
    * hash red; the FP rate only moves files_scanned, which is
    * deliberately NOT hashed — bloom FPs are seed-determined, not
    * semantics).
    */
  def bloomSkip(spark: SparkSession, sfDir: String): DataFrame = {
    val quarter = ordersKd(spark, sfDir).filter(col("o_orderkey") % 4 === 0)
    val t = Layout.ensureEpochIndex(spark, bloomBase(sfDir),
        Seq(ZmapSuffix, "_bloom")) { name =>
      buildZonemapEpoch(spark, name, quarter)
      bloomSidecarOf(spark.table(name))
        .write.format("parquet").mode("overwrite").saveAsTable(name + "_bloom")
    }
    bloomProbe(spark, t, quarter)
  }

  /** The probe half of [[bloomSkip]], shared with
    * [[bloomSkipLifecycle]] so the gate cannot drift between the
    * one-shot and streamed index states. */
  private[graft] def bloomProbe(spark: SparkSession, t: String,
      quarter: DataFrame): DataFrame = {
    // planted lookups: the 5 smallest corpus keys + one absent key —
    // deterministic, oracle-replayable (bounded collect: 6 longs)
    val kb = quarter.agg(max(col("o_orderkey"))).head().getLong(0)
    val present = quarter.select(col("o_orderkey")).orderBy(col("o_orderkey"))
      .limit(5).collect().map(_.getLong(0)).toSeq
    val keys = present :+ (kb + 1)
    import spark.implicits._
    val kdf = keys.toDF("key")
      .select(col("key"), explode(bloomPositions(col("key"))).as("pos"))
      .select(col("key"), (col("pos") / 64).cast("int").as("word"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").as("mask"))
    // membership: a file survives for a key iff ALL k positions hit —
    // metadata-only (≤ 6·k probe rows × ≤ files·128 sidecar rows)
    val blm = spark.table(t + "_bloom")
    val cand = kdf.join(blm, Seq("word"))
      .filter((col("bits").bitwiseAND(col("mask"))) === col("mask"))
      .groupBy(col("key"), col("file_id"))
      .agg(count(lit(1)).as("hits"))
      .filter(col("hits") === BloomHashes)
      .select(col("key"), col("file_id"))
    val files = cand.select(col("file_id")).distinct()
    val scanned = files.count()
    // files_total from the `_zmap` sidecar (one row per physical file,
    // maintained by build and append alike) — the former
    // distinct-count over the DATA table re-scanned the corpus for a
    // file-grain fact the metadata ledger already holds (guide §6:
    // metadata answers metadata questions; at an 800K-file inventory
    // the sidecar count is file-grain either way, but the data scan
    // was corpus-grain). DISTINCT file_id (r15 advice): a retried
    // micro-batch re-appending its extent row (append sinks are not
    // idempotent) must not inflate the total and weaken the
    // scanned < total pruning gate.
    val total = spark.table(t + ZmapSuffix)
      .select(col("file_id")).distinct().count()
    // pruned scan + exact residual; left join back so the absent key
    // still emits its (0, 0) row
    val served = spark.table(t)
      .join(broadcast(files), Seq("file_id"), "left_semi")
      .filter(col("o_orderkey").isin(keys.map(Long.box): _*))
      .groupBy(col("o_orderkey").as("key"))
      .agg(count(lit(1)).as("n_found"), sum(col("cents")).as("cents"))
    keys.toDF("key").join(served, Seq("key"), "left")
      .select(col("key").as("o_orderkey"),
        coalesce(col("n_found"), lit(0L)).as("n_found"),
        coalesce(col("cents"), lit(0L)).as("cents"),
        lit(scanned < total && scanned > 0L).as("bloom_pruned"))
      .orderBy(col("o_orderkey"))
  }

  /** Oracle: the exact point lookups (present keys found with their
    * cents, the absent key a (0,0) row); the pruning claim as a
    * literal. */
  val bloomSkipSql: String =
    """WITH o4 AS (
      |  SELECT o_orderkey, CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders WHERE o_orderkey % 4 = 0
      |), ks AS (
      |  (SELECT o_orderkey AS key FROM o4 ORDER BY 1 LIMIT 5)
      |  UNION ALL
      |  (SELECT MAX(o_orderkey) + 1 FROM o4)
      |)
      |SELECT ks.key AS o_orderkey,
      |  CAST(COUNT(o4.o_orderkey) AS BIGINT) AS n_found,
      |  CAST(COALESCE(SUM(o4.cents), 0) AS BIGINT) AS cents,
      |  TRUE AS bloom_pruned
      |FROM ks LEFT JOIN o4 ON o4.o_orderkey = ks.key
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** Per-batch maintenance of a bloom-indexed epoch: the
    * [[appendZonemapBatch]] protocol (one new data file, one `_zmap`
    * extent row) PLUS the new file's bloom rows — membership stats are
    * batch-local exactly like extents, so ingest appends ≤ 128
    * metadata rows per file and never rebuilds existing bitmaps. */
  private[graft] def appendBloomBatch(name: String, batch: DataFrame,
      batchId: Long): Unit = {
    val rows = batch
      .select(col("o_orderkey"), col("k"), col("d"), col("prio"), col("cents"))
      .withColumn("file_id", lit(1000L + batchId))
      .localCheckpoint()
    if (!rows.isEmpty) {
      // three independent appends of the SAME materialized batch —
      // overlapped (guide §2.6): data file, extent row, bloom rows
      Layout.inParallel(
        () => rows.coalesce(1).write.mode("append").insertInto(name),
        () => zmapOf(rows).write.format("parquet").mode("append")
          .saveAsTable(name + ZmapSuffix),
        () => bloomSidecarOf(rows).write.format("parquet").mode("append")
          .saveAsTable(name + "_bloom"))
    }
    rows.unpersist()
  }

  private[graft] def bloomLifecycleBase(sfDir: String): String =
    "graft_bloomlc_" + Layout.corpusTag(sfDir)

  /** Stream ≡ batch LIFECYCLE for the bloom family — the discipline
    * that EVERY persisted index family carries a streamed-append
    * proof: evens of the quarter bulk-build the bloom-indexed epoch,
    * the odd eighth streams through [[appendBloomBatch]] (per batch
    * one data file + one extent row + that file's bloom rows, no
    * state store), and the UNCHANGED [[bloomProbe]] runs against the
    * maintained state under the VERBATIM [[bloomSkipSql]] oracle. The
    * planted keys are the corpus' 5 smallest, some of which arrive by
    * stream — a lost batch (or a bloom row that never landed) loses
    * that key's row and flips the driver hash red. */
  def bloomSkipLifecycle(spark: SparkSession, sfDir: String): DataFrame = {
    val base = bloomLifecycleBase(sfDir)
    val o = ordersKd(spark, sfDir).filter(col("o_orderkey") % 4 === 0)
    val t = Layout.rotateEpoch(spark, base, Seq(ZmapSuffix, "_bloom")) { name =>
      buildZonemapEpoch(spark, name, o.filter(col("o_orderkey") % 8 === 0))
      bloomSidecarOf(spark.table(name))
        .write.format("parquet").mode("overwrite").saveAsTable(name + "_bloom")
    }
    Layout.replayAsStream(o.filter(col("o_orderkey") % 8 =!= 0), "graft-bloomlc") {
      sdf => graft.streaming.LayoutStream.appendBloomStream(sdf, base)
    }
    Layout.pruneEpochs(spark, base, keep = 2, sidecars = Seq(ZmapSuffix, "_bloom"))
    bloomProbe(spark, t, o)
  }

  /** The streamed bloom index must answer exactly like the one-shot
    * build — [[bloomSkipSql]] verbatim. */
  val bloomSkipLifecycleSql: String = bloomSkipSql

  // ------------------------------------------------ compaction execution

  private[graft] def compactionExecBase(sfDir: String): String =
    "graft_compact_" + Layout.corpusTag(sfDir)

  /** COMPACTION EXECUTED — the rewrite [[compactionPlan]] only plans
    * (closing the planned-but-never-run gap the way q_cms_join_planned
    * and q_zonemap_prune closed it for the CMS sketch and the Z-order
    * layout): route every events row to its planned bin (broadcast join
    * against the file-grain plan), write ONE physical parquet file per
    * bin into a fresh epoch (repartition by bin keeps each bin in
    * exactly one task), and PROVE the rewrite lossless with the
    * order-independent table checksum — addition-commutative 56-bit row
    * hashes, so a rewrite that dropped, duplicated, or mutated any row
    * changes the sum no matter how the files were re-arranged.
    *
    * The gate covers the execution facts, not just the plan: n_files is
    * counted from the FILESYSTEM under the rewritten table's location
    * and must equal the oracle's COUNT(DISTINCT bin); the checksum
    * column is computed over the REWRITTEN rows and must equal the
    * oracle's checksum of the base table; checksum_match re-asserts the
    * equality in-engine against a second checksum of the base. Scale:
    * the rewrite is ONE shuffle of the data by bin — the movement
    * compaction inherently pays — and everything else is file-grain
    * metadata (the plan) or a 1-row aggregate (the checksums).
    */
  def compactionExec(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    val inv = e.groupBy(col("event_type"),
        to_date(date_trunc("day", col("ts"))).as("day"))
      .agg(sum(octet_length(col("props")) + lit(48L)).as("bytes"))
    val plan = compactionBins(inv, CompactionTargetBytes)
      .select(col("event_type"), col("day"), col("bin"))
    val base = compactionExecBase(sfDir)
    val t = Layout.rotateEpoch(spark, base) { name =>
      e.withColumn("day", to_date(date_trunc("day", col("ts"))))
        .join(broadcast(plan), Seq("event_type", "day"))
        .drop("day")
        .repartition(col("bin"))
        .write.format("parquet").partitionBy("bin")
        .mode("overwrite").saveAsTable(name)
    }
    Layout.pruneEpochs(spark, base, keep = 2)
    // execution fact #1: physical file count under the table location
    val loc = Layout.tableLocation(spark, t)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(loc, true)
    var nFiles = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) nFiles += 1
    }
    // execution fact #2: the rewritten rows checksum like the base rows
    val cols = checksumTables.toMap.apply("events")
    def ck(df: DataFrame): DataFrame =
      df.select(rowHash(cols).as("hv"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("hv").cast("decimal(38,0)")).cast("string").as("checksum"))
    ck(spark.table(t))
      .crossJoin(broadcast(ck(e)
        .select(col("checksum").as("base_checksum"))))
      .select(
        lit(nFiles).as("n_files"),
        col("n_rows"), col("checksum"),
        (col("checksum") === col("base_checksum")).as("checksum_match"))
  }

  val compactionExecSql: String =
    s"""WITH inv AS (
       |  SELECT event_type,
       |    CAST(date_trunc('day', ts) AS DATE) AS day,
       |    CAST(SUM(strlen(props) + 48) AS BIGINT) AS bytes
       |  FROM events GROUP BY 1, 2
       |), c AS (
       |  SELECT event_type, day,
       |    CAST(COALESCE(SUM(bytes) OVER (
       |      ORDER BY bytes DESC, event_type, day
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      // $CompactionTargetBytes AS bin
       |  FROM inv
       |), nb AS (
       |  SELECT CAST(COUNT(DISTINCT bin) AS BIGINT) AS n_files FROM c
       |), ck AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       |    CAST(CAST(SUM(CAST(CONCAT('0x', substring(md5(${
      checksumTables.toMap.apply("events")
        .map { case (n, k) => canonSqlColumn(n, k) }
        .mkString("CONCAT_WS('|', ", ", ", ")")
    }), 1, 14)) AS BIGINT)) AS DECIMAL(38,0)) AS VARCHAR) AS checksum
       |  FROM events
       |)
       |SELECT n_files, n_rows, checksum, TRUE AS checksum_match
       |FROM nb, ck""".stripMargin
}
